"""Single-core fold measurement over a workload's corpus files, one process
per core, outside Spark.

Each process reads whole corpus files and folds every doc with
``process_document`` twice: once plain (the fold's CPU time) and once with
the layer wrappers installed and a tokenizer proxy passed in (spans, self
times and counts), after one discarded warm-up fold. The difference
between the two is the tracing cost.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import time


def _fold_file(args: tuple) -> dict:
    repo_root, path, spans_path = args
    import sys

    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    import pyarrow.parquet as pq

    from fast_pdf_parser_spark.config import ChunkOptions
    from fast_pdf_parser_spark.functions.tokenizer import (
        find_real_vocab, get_tokenizer,
    )
    from fast_pdf_parser_spark.operators.pipeline import process_document

    from tracing import Recorder, TokenizerProxy, instrument, self_times, \
        total_times

    docs = pq.read_table(path).to_pylist()
    opts = ChunkOptions()
    # the per-process tokenizer a Spark worker folds with, warmed by one
    # discarded fold of the file, as the timed passes find it after set-up
    # and the warm pass
    tok = get_tokenizer(find_real_vocab())
    for d in docs:
        process_document(d["doc_id"], d["spans"], tok, opts)

    plain = 0
    for d in docs:
        t0 = time.perf_counter_ns()
        process_document(d["doc_id"], d["spans"], tok, opts)
        plain += time.perf_counter_ns() - t0

    rec = Recorder()
    proxy = TokenizerProxy(tok, rec)
    restore = instrument(rec)
    try:
        for d in docs:
            idx = rec.open("fold")
            process_document(d["doc_id"], d["spans"], proxy, opts)
            rec.close(idx)
    finally:
        restore()
    spans = rec.spans()
    rec.write(spans_path)
    return {"plain_s": plain / 1e9, "self": self_times(spans),
            "total": total_times(spans), "counts": dict(rec.counts),
            "distinct_texts": proxy.distinct_texts}


def run(data_dir: str, out_dir: str, repo_root: str, processes: int) -> dict:
    """Fold every corpus file, writing each file's spans under ``out_dir``
    (replaced); returns per-layer figures summed over files (seconds are
    single-core CPU seconds)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    names = sorted(n for n in os.listdir(data_dir) if n.endswith(".parquet"))
    # largest files first keeps the pool busy to the end
    names.sort(key=lambda n: -os.path.getsize(os.path.join(data_dir, n)))
    jobs = [(repo_root, os.path.join(data_dir, n),
             os.path.join(out_dir, n.replace(".parquet", ".spans.jsonl")))
            for n in names]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(processes) as pool:
        parts = pool.map_async(_fold_file, jobs, chunksize=1).get(timeout=300)
    out = {"plain_s": 0.0, "self": {}, "total": {}, "counts": {},
           "distinct_texts": 0}
    for p in parts:
        out["plain_s"] += p["plain_s"]
        out["distinct_texts"] += p["distinct_texts"]
        for key in ("self", "total", "counts"):
            for name, v in p[key].items():
                out[key][name] = out[key].get(name, 0) + v
    return out


# the count metrics of each layer, each kept as tracing.COUNTERS key
# "<layer>.<metric>"
LAYER_COUNTS = {
    "pdf_lexer": ("calls", "pages_out", "failures"),
    "html_extractor": ("calls", "failures"),
    "chunker": ("pages_in", "chunks_out"),
    "classifier": ("calls",),
    "tokenizer": ("calls",),
}


def layer_metrics(fold: dict) -> dict[str, float]:
    """Per-layer metric values from ``run``'s result. A layer that never
    ran in the fold (no span of its name) yields no metric at all."""
    s, c = fold["self"], fold["counts"]
    out = {
        "pipeline.fold_cpu_s": fold["plain_s"],
        "pipeline.fold_self_s": s["fold"],
        "trace.overhead_s": fold["total"]["fold"] - fold["plain_s"],
    }
    for layer, counts in LAYER_COUNTS.items():
        if layer not in s:
            continue
        out[f"{layer}.self_s"] = s[layer]
        out.update({f"{layer}.{m}": c[f"{layer}.{m}"] for m in counts})
    if "pdf_lexer" in s:
        out["pdf_lexer.mb_in"] = c["pdf_lexer.bytes_in"] / 1e6
    if "tokenizer" in s:
        # distinct texts are counted per file, as each Spark task's worker
        # would see them
        out["tokenizer.distinct_ratio"] = \
            fold["distinct_texts"] / c["tokenizer.calls"]
    return out
