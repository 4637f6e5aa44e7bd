"""Seeded, fingerprinted corpora for the benchmark workloads.

Each workload's corpus is generated from ``sources.synth.make_doc`` under
the run's seed, in processes this module starts, and written with this
benchmark's own fixed file layout (``LAYOUT``): docs in index order, cut
into ``SHARDS`` contiguous files, giants in one file of their own. The
program's ``write_corpus`` placement is deliberately not used, so a change
to it cannot silently change what this benchmark measures.

Every shard also runs the pure-Python ``process_document`` fold over its
docs. That reference (corpus totals and one span-sequence hash per doc) is
computed once, at corpus build, and cached next to the corpus in
``manifest.json``.

The cache is keyed on workload, seed, doc count, flags, layout tag and a
hash of the generator sources; the manifest also records a content hash of
the rows and a hash of the written file bytes. Any mismatch means stale:
the corpus is regenerated.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil

LAYOUT = "perfbench-contiguous-v1"
SHARDS = 8  # two fold tasks per core on 4 cores
CHUNK_DOCS = 25  # docs per generator job

# Per-workload corpus shape. ``pages``: the bulk is make_doc(0..n-1) for
# the smallest n whose docs hold at least this many pages, so every seed
# carries the same work (at seed 42 that is exactly the 4000-doc headline
# corpus). ``giants``: documents built by concatenating make_doc page spans
# until they hold at least ``giant_pages`` pages; ``corrupt``: how many of
# the giants' source docs also contribute a truncated pdf span (the only
# pdf spans of a workload without pdf).
SPECS = {
    "pdf_mixed": {"pages": 19554, "include_pdf": True, "include_html": False},
    "html_tail": {"pages": 19554, "include_pdf": False, "include_html": True,
                  "giants": 3, "giant_pages": 400, "corrupt": 2},
}

# Giant docs take their pages from make_doc indices far above the bulk's,
# so no page of a giant repeats a bulk doc.
GIANT_SOURCE_BASE = 10_000_000
GIANT_SOURCE_STRIDE = 100_000

# The package files whose code decides the generated bytes and the
# reference; a change to any of them invalidates every cached corpus.
GENERATOR_SOURCES = (
    "fast_pdf_parser_spark/sources/synth.py",
    "fast_pdf_parser_spark/sources/pdf_builder.py",
)

def _arrow_schema():
    """Arrow form of sources.synth.SPANS_DDL."""
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])


def sha256_hex(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def doc_content_hash(doc: dict) -> str:
    """Canonical hash of one input row."""
    spans = [[s["kind"], s["text"], s["media_ref"], s["offset"]]
             for s in doc["spans"]]
    return sha256_hex(json.dumps([doc["doc_id"], spans]).encode())


def span_sequence_hash(spans) -> str:
    """Hash of an ordered output span sequence of (kind, text, media_ref,
    offset) — the pipeline's span-equality invariant."""
    return sha256_hex(json.dumps([list(s) for s in spans]).encode())


def source_hash(repo_root: str) -> str:
    h = hashlib.sha256()
    for rel in GENERATOR_SOURCES:
        with open(os.path.join(repo_root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()


def cache_key(workload: str, seed: int, repo_root: str) -> dict:
    return {"workload": workload, "seed": seed, "layout": LAYOUT,
            "shards": SHARDS, "generator": source_hash(repo_root),
            **SPECS[workload]}


# -- generation -------------------------------------------------------------


def giant_doc(g: int, seed: int, spec: dict, corrupt: set[int]) -> dict:
    """One giant document: make_doc page spans concatenated, in source order,
    until at least ``spec["giant_pages"]`` pages; offsets renumbered 0..n-1.
    A source doc in ``corrupt`` also contributes its truncated pdf span."""
    from fast_pdf_parser_spark.sources.synth import make_doc

    spans: list[dict] = []
    n_pages = 0
    src = GIANT_SOURCE_BASE + g * GIANT_SOURCE_STRIDE
    while n_pages < spec["giant_pages"]:
        doc = make_doc(src, seed, spec["include_pdf"],
                       include_html=spec["include_html"])
        page_spans = list(doc["spans"])
        if src in corrupt:
            bad = make_doc(src, seed, include_pdf=True, corrupt_doc_idx=src)
            page_spans.append(next(s for s in bad["spans"]
                                   if s["kind"] == "pdf"))
        for s in page_spans:
            spans.append(dict(s, offset=len(spans)))
            n_pages += s["kind"] != "media"
        src += 1
    return {"doc_id": f"giant_{g:02d}", "spans": spans}


def bulk_docs(seed: int, pages: int) -> int:
    """Smallest n such that make_doc(0..n-1) hold at least ``pages`` pages.
    A doc's page count does not depend on the span-kind flags, so the
    cheap text-only form is counted."""
    from fast_pdf_parser_spark.sources.synth import make_doc

    n = total = 0
    while total < pages:
        total += sum(s["kind"] != "media" for s in make_doc(n, seed)["spans"])
        n += 1
    return n


def corrupt_sources(seed: int, spec: dict) -> set[int]:
    """Seeded handful of giant source doc indices that contribute a
    truncated pdf span (each a source whose make_doc has a pdf page, so
    each yields one counted failure)."""
    from fast_pdf_parser_spark.sources.synth import make_doc

    k = spec.get("corrupt", 0)
    rng = random.Random(f"perfbench-corrupt:{seed}")
    picks: set[int] = set()
    for g in range(spec.get("giants", 0)):
        if len(picks) == k:
            break
        base = GIANT_SOURCE_BASE + g * GIANT_SOURCE_STRIDE
        for src in rng.sample(range(base, base + 20), 20):
            if any(s["kind"] == "pdf" for s in
                   make_doc(src, seed, include_pdf=True)["spans"]):
                picks.add(src)
                break
    return picks


def docs_by_id(workload: str, seed: int, doc_ids) -> list[dict]:
    """The workload's docs of the given ids under ``seed``, generated
    afresh: ``doc_<index>`` bulk docs and ``giant_<g>`` giants."""
    from fast_pdf_parser_spark.sources.synth import make_doc

    spec = SPECS[workload]
    corrupt = corrupt_sources(seed, spec)
    out = []
    for doc_id in doc_ids:
        kind, num = doc_id.split("_")
        out.append(giant_doc(int(num), seed, spec, corrupt)
                   if kind == "giant" else
                   make_doc(int(num), seed, spec["include_pdf"],
                            include_html=spec["include_html"]))
    return out


def output_digest(manifest: dict) -> str:
    """One hash over every doc's reference span-sequence hash, in doc id
    order: the whole reference output of a corpus."""
    docs = manifest["docs"]
    return sha256_hex("".join(f"{i}:{docs[i]['spans_hash']}\n"
                              for i in sorted(docs)).encode())


def _reference(doc: dict, tokenizer) -> dict:
    """Totals and span-sequence hash of one doc under the pure-Python
    fold."""
    from fast_pdf_parser_spark.config import ChunkOptions
    from fast_pdf_parser_spark.operators.pipeline import process_document

    rows = process_document(doc["doc_id"], doc["spans"], tokenizer,
                            ChunkOptions())
    return {"pages": rows[0][12], "failures": rows[0][13],
            "bytes": rows[0][14], "rows": len(rows),
            "chunks": sum(1 for r in rows if r[2] == "chunk"),
            "spans_hash": span_sequence_hash(
                (r[2], r[3], r[4], r[1]) for r in rows)}


def _gen_chunk(args: tuple):
    """Worker: build a run of docs and fold each through the reference.
    Returns (Arrow table of the rows, one summary per doc), in doc order."""
    repo_root, seed, spec, doc_ids, giant_ids, corrupt = args
    import sys

    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    import pyarrow as pa

    from fast_pdf_parser_spark.functions.tokenizer import (
        find_real_vocab, get_tokenizer,
    )
    from fast_pdf_parser_spark.sources.synth import make_doc

    tok = get_tokenizer(find_real_vocab())
    docs = [make_doc(i, seed, spec["include_pdf"],
                     include_html=spec["include_html"]) for i in doc_ids]
    docs += [giant_doc(g, seed, spec, corrupt) for g in giant_ids]
    summaries = [{"doc_id": d["doc_id"], "content": doc_content_hash(d),
                  "text_bytes": sum(len((s["text"] or "").encode())
                                    for s in d["spans"]),
                  **_reference(d, tok)} for d in docs]
    return pa.Table.from_pylist(docs, schema=_arrow_schema()), summaries


def files_hash(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def build(workload: str, seed: int, corpus_dir: str, repo_root: str,
          processes: int) -> dict:
    """Generate the corpus and its reference into ``corpus_dir``; returns
    the manifest (also written as ``manifest.json``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = SPECS[workload]
    n = bulk_docs(seed, spec["pages"])
    corrupt = corrupt_sources(seed, spec)
    if os.path.exists(corpus_dir):
        shutil.rmtree(corpus_dir)
    data_dir = os.path.join(corpus_dir, "data")
    os.makedirs(data_dir)
    # (file name, generator job) pairs; small jobs keep the pool balanced
    # under the skewed page-count distribution
    jobs = [("part-giants.parquet", (repo_root, seed, spec, [], [g], corrupt))
            for g in range(spec.get("giants", 0))]
    for k in range(SHARDS):
        lo, hi = k * n // SHARDS, (k + 1) * n // SHARDS
        for a in range(lo, hi, CHUNK_DOCS):
            jobs.append((f"part-{k:05d}.parquet",
                         (repo_root, seed, spec,
                          list(range(a, min(a + CHUNK_DOCS, hi))), [],
                          corrupt)))
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(processes) as pool:
        results = pool.map_async(_gen_chunk, [j for _, j in jobs],
                                 chunksize=1).get(timeout=600)
    tables: dict[str, list] = {}
    per_file: dict[str, list] = {}
    docs: list[dict] = []
    for (name, _), (table, summaries) in zip(jobs, results):
        tables.setdefault(name, []).append(table)
        per_file.setdefault(name, []).extend(summaries)
        docs.extend(summaries)
    for name, parts in tables.items():
        pq.write_table(pa.concat_tables(parts),
                       os.path.join(data_dir, name))
    manifest = {
        "key": cache_key(workload, seed, repo_root),
        "content_sha256": sha256_hex(
            "".join(d["content"] for d in docs).encode()),
        "files_sha256": files_hash(data_dir),
        "totals": totals(docs),
        "docs": {d["doc_id"]: {k: d[k] for k in
                               ("spans_hash", "pages", "text_bytes")}
                 for d in docs},
        "corrupt_sources": sorted(corrupt),
        "files": {name: totals(ds) for name, ds in sorted(per_file.items())},
        "data_mb": round(sum(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir)) / 1e6, 2),
    }
    with open(os.path.join(corpus_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def totals(docs: list[dict]) -> dict:
    return {"docs": len(docs),
            "pages": sum(d["pages"] for d in docs),
            "chunks": sum(d["chunks"] for d in docs),
            "failures": sum(d["failures"] for d in docs),
            "bytes": sum(d["bytes"] for d in docs),
            "rows": sum(d["rows"] for d in docs)}


def load_cached(workload: str, seed: int, corpus_dir: str,
                repo_root: str) -> dict | None:
    """The cached manifest if it is fresh for this key and its files are
    intact, else None (stale: the caller regenerates)."""
    try:
        with open(os.path.join(corpus_dir, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    if manifest.get("key") != cache_key(workload, seed, repo_root):
        return None
    data_dir = os.path.join(corpus_dir, "data")
    if not os.path.isdir(data_dir) or \
            files_hash(data_dir) != manifest.get("files_sha256"):
        return None
    return manifest


def ensure(workload: str, seed: int, work_dir: str, repo_root: str,
           processes: int) -> tuple[dict, str, bool]:
    """(manifest, parquet dir, built?) for the workload's corpus under
    ``seed``, reusing the cache when it is fresh. One corpus is kept per
    workload; another seed replaces it."""
    corpus_dir = os.path.join(work_dir, "corpus", workload)
    manifest = load_cached(workload, seed, corpus_dir, repo_root)
    built = manifest is None
    if built:
        manifest = build(workload, seed, corpus_dir, repo_root, processes)
    return manifest, os.path.join(corpus_dir, "data"), built
