"""Deterministic synthetic interleaved-span corpus (FIXTURES.md §3).

Generates the BASELINE.json input table shape:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

- ``kind='text'`` pages mirror the reference's synthetic generator
  (benchmarks/benchmark_passes.cpp:11-35): ``# Chapter i`` + intro paragraph
  + 3 × ``## Section i.j`` × 5 paragraphs.
- ``kind='media'`` spans are inserted at deterministic positions and must
  pass through the pipeline unmodified in document order.
- ``kind='pdf'`` spans hold base64 minimal PDFs built by sources/pdf_builder
  (enabled with ``include_pdf=True``).
- Page counts are drawn from a skewed bucket distribution mirroring the
  reference corpus's 9→1366-page spread (chunk_test_summary.md:9-44) so skew
  handling is actually exercised.

Everything is keyed on (seed, doc index) only — independent of partitioning
and generation order, so distributed generation is reproducible.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

# Skewed page-count buckets (weight, pages): most docs tiny, a long tail of
# huge ones — mirrors the reference corpus 9..1366 spread.
_PAGE_BUCKETS = [
    (40, 1),
    (25, 3),
    (10, 6),
    (5, 9),
    (4, 20),
    (1, 108),
]
_BUCKET_CHOICES = [p for w, p in _PAGE_BUCKETS for _ in range(w)]

_SENTENCES = [
    "The quick brown fox jumps over the lazy dog near the river bank.",
    "Every document in the corpus follows the same deterministic template.",
    "Large scale data processing systems must handle skew explicitly.",
    "This paragraph explains the main idea of the section in plain words.",
    "Careful measurement beats guessing when tuning a parallel pipeline.",
    "A long tail of very large documents dominates the processing time.",
    "Content extraction keeps document order significant at every level.",
    "Token counts decide chunk boundaries so the tokenizer must be exact.",
]


def page_text(doc_idx: int, page_idx: int, seed: int = 42) -> str:
    """One markdown page, deterministic in (seed, doc_idx, page_idx).

    Mirrors benchmark_passes.cpp:11-35: chapter heading, intro, 3 sections
    with 5 paragraphs each, blank lines between blocks.
    """
    rng = random.Random(f"{seed}:{doc_idx}:{page_idx}")
    lines = [f"# Chapter {page_idx + 1}", ""]
    intro = " ".join(rng.choice(_SENTENCES) for _ in range(3))
    lines.append(f"This is the introduction to chapter {page_idx + 1}. {intro}")
    lines.append("")
    for s in range(1, 4):
        lines.append(f"## Section {page_idx + 1}.{s}")
        for _ in range(5):
            para = " ".join(rng.choice(_SENTENCES) for _ in range(rng.randint(2, 5)))
            lines.append(para)
        lines.append("")
    return "\n".join(lines)


# Shared boilerplate wrappers for html fixtures — module constants so the
# Python builder AND the SQL derivation in operators/relational.py (the
# pipeline_html_meta_oracle pair) cannot drift.
_HTML_NAV = ("<nav><ul>" + "".join(
    f'<li><a href="/s/{i}">Section {i}</a></li>' for i in range(6))
    + "</ul></nav>")
_HTML_LINKFARM = ("<p>" + " | ".join(
    f'<a href="/t/{i}">tag{i}</a>' for i in range(8)) + "</p>")
HTML_PREFIX = (
    "<!DOCTYPE html><html><head><title>x</title>"
    "<style>body{margin:0}</style>"
    "<script>var t=1;</script></head><body>"
    f"<header><h1><a href='/'>SiteName</a></h1></header>{_HTML_NAV}"
    "<aside><p><a href='/ad'>sponsored</a></p></aside>"
    "<!-- main --><main>"
)
HTML_SUFFIX = (
    f"</main>{_HTML_LINKFARM}"
    "<footer><p><a href='/about'>About</a> · "
    "<a href='/legal'>Legal</a></p></footer></body></html>"
)


def html_line(line: str) -> str:
    """One markdown-ish line → its HTML element ('' for the empty line).

    EXACT twin of the Spark Column CASE (__spark_entry__._pipeline_html_meta)
    and the DuckDB CASE (relational._html_line_case_duck) — same branch
    order, empty-string (not whitespace) blank test, and NO entity
    escaping. Precondition shared by all three: input lines contain no
    raw ``&<>"`` (true for the synthetic corpora; the extractor's entity
    unescape is then the identity, preserving the roundtrip contract).
    """
    if line == "":
        return ""
    if line.startswith("### "):
        return f"<h3>{line[4:]}</h3>"
    if line.startswith("## "):
        return f"<h2>{line[3:]}</h2>"
    if line.startswith("# "):
        return f"<h1>{line[2:]}</h1>"
    if line.startswith("- "):
        return f"<li>{line[2:]}</li>"
    if line.startswith("  "):
        return f"<pre>{line}</pre>"
    return f"<p>{line}</p>"


def html_from_page(doc_idx: int, page_idx: int, seed: int = 42) -> str:
    """Wrap a page's markdown lines in HTML plus deterministic boilerplate
    (nav menu, header/footer, aside, script/style, a link-farm paragraph).
    sources/html_extractor.html_main_content inverts this exactly: the
    extracted text equals the page's non-blank lines (blank separator lines
    do not exist as HTML elements — same contract as the PDF path)."""
    md = page_text(doc_idx, page_idx, seed)
    body = "".join(html_line(line) for line in md.split("\n"))
    return HTML_PREFIX + body + HTML_SUFFIX


def _draw_layout(doc_idx: int, seed: int, include_pdf: bool,
                 include_html: bool) -> tuple[bool, list[tuple[str, bool]]]:
    """The one rng draw sequence behind a document, in draw order: the
    page-count bucket, the cover-media draw, then per page the pdf draw
    (only with ``include_pdf``), the html draw (only with ``include_html``
    and not pdf) and the inline-media draw.  Returns (has_cover,
    [(page kind, media after the page)]).  make_doc builds the spans from
    it and _doc_cost weighs it, so the two cannot drift apart."""
    rng = random.Random(f"{seed}:{doc_idx}")
    n_pages = rng.choice(_BUCKET_CHOICES)
    # ~12% of docs start with a media span (cover image)
    cover = rng.random() < 0.12
    pages = []
    for _ in range(n_pages):
        if include_pdf and rng.random() < 0.25:
            kind = "pdf"
        elif include_html and rng.random() < 0.35:
            kind = "html"
        else:
            kind = "text"
        # ~8% chance of an inline media span after a page
        pages.append((kind, rng.random() < 0.08))
    return cover, pages


def make_doc(doc_idx: int, seed: int = 42, include_pdf: bool = False,
             corrupt_doc_idx: int = -1, include_html: bool = False) -> dict:
    """One document row: {'doc_id', 'spans'} with interleaved spans.

    ``corrupt_doc_idx``: that document's first pdf span is built with a
    truncated stream (FIXTURES.md §3.3 — pins per-span error capture).
    ``include_html``: ~35% of text pages become ``kind='html'`` spans
    (html_from_page) — the extra rng draw happens only when enabled, so
    default corpora are byte-identical to earlier rounds.
    """
    cover, pages = _draw_layout(doc_idx, seed, include_pdf, include_html)
    spans = []

    def add(kind, text=None, media_ref=None):
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": len(spans)})

    if cover:
        add("media", media_ref=f"media://img/{doc_idx:06d}_cover.png")
    corrupted = False
    for p, (kind, media_after) in enumerate(pages):
        if kind == "pdf":
            from fast_pdf_parser_spark.sources.pdf_builder import build_pdf_span
            corrupt = doc_idx == corrupt_doc_idx and not corrupted
            corrupted = corrupted or corrupt
            add("pdf", build_pdf_span(doc_idx, p, seed, corrupt=corrupt))
        elif kind == "html":
            add("html", html_from_page(doc_idx, p, seed))
        else:
            add("text", page_text(doc_idx, p, seed))
        if media_after:
            add("media", media_ref=f"media://img/{doc_idx:06d}_{p:04d}.png")
    return {"doc_id": f"doc_{doc_idx:08d}", "spans": spans}


def iter_docs(n_docs: int, seed: int = 42, include_pdf: bool = False,
              include_html: bool = False) -> Iterator[dict]:
    for i in range(n_docs):
        yield make_doc(i, seed, include_pdf, include_html=include_html)


SPANS_DDL = (
    "doc_id string, spans array<struct<kind:string, text:string, "
    "media_ref:string, offset:int>>"
)


def _doc_cost(doc_idx: int, seed: int, include_pdf: bool,
              include_html: bool) -> int:
    """Deterministic per-doc WORK estimate for writer-side balancing,
    weighed on make_doc's own page layout (_draw_layout) without building
    any text.  Weights are coarse downstream-parse costs (a pdf page pays
    the lexer+content interpreter, ~an order of magnitude over a markdown
    page; html pays the boilerplate strip).  Only file PLACEMENT depends
    on this — a drifted weight degrades balance, never content."""
    _, pages = _draw_layout(doc_idx, seed, include_pdf, include_html)
    weight = {"pdf": 10, "html": 3, "text": 1}
    return 1 + sum(weight[kind] for kind, _ in pages)


def _balanced_groups(n_docs: int, parts: int, seed: int, include_pdf: bool,
                     include_html: bool) -> list[list[int]]:
    """Greedy LPT assignment of doc indices to ``parts`` groups by
    estimated work: biggest doc first onto the least-loaded group."""
    import heapq

    costs = sorted(
        ((_doc_cost(i, seed, include_pdf, include_html), i)
         for i in range(n_docs)),
        key=lambda t: (-t[0], t[1]))
    heap: list[tuple[int, int]] = [(0, p) for p in range(parts)]
    groups: list[list[int]] = [[] for _ in range(parts)]
    for c, i in costs:
        load, p = heapq.heappop(heap)
        groups[p].append(i)
        heapq.heappush(heap, (load + c, p))
    return groups


def spans_dataframe(spark, n_docs: int, seed: int = 42,
                    include_pdf: bool = False, num_partitions: int = 0,
                    include_html: bool = False):
    """Distributed deterministic generation: balanced index groups →
    mapInPandas.

    Reproducible regardless of partitioning because every doc depends only
    on (seed, doc index).  Since r10, doc indices are dealt to partitions
    by estimated WORK (greedy LPT on _doc_cost) instead of contiguous
    equal-count ranges: the skewed page distribution made count-uniform
    files differ ~6x in parse cost, and the max file dictated every
    downstream scan stage's wall (guide §6: layout on write decides
    reader balance; guide §2.5: input skew).  Content is unchanged —
    make_doc(i) rows are identical, only their file placement moved."""
    import pandas as pd

    parts = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            rows = [make_doc(int(i), seed, include_pdf,
                             include_html=include_html) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    if parts > 1 and n_docs > parts:
        groups = _balanced_groups(n_docs, parts, seed, include_pdf,
                                  include_html)
        idx_rdd = (spark.sparkContext
                   .parallelize(groups, len(groups))
                   .flatMap(lambda g: [(int(i),) for i in g],
                            preservesPartitioning=True))
        ids = spark.createDataFrame(idx_rdd, "id long")
    else:
        ids = spark.range(0, n_docs, numPartitions=parts)
    return ids.mapInPandas(gen, schema=SPANS_DDL)


def write_corpus(spark, path: str, n_docs: int, seed: int = 42,
                 include_pdf: bool = False, num_partitions: int = 0,
                 include_html: bool = False) -> str:
    df = spans_dataframe(spark, n_docs, seed, include_pdf, num_partitions,
                         include_html=include_html)
    df.write.mode("overwrite").parquet(path)
    return path


def interleaved_from_flat_documents(spark, sf_dir: str,
                                    words_per_line: int = 8,
                                    lines_per_page: int = 12):
    """Derive the interleaved-span table from the driver's flat
    ``documents(doc_id, text, ...)`` parquet, entirely with built-in
    (JVM-side) functions — no UDF.

    The derivation mirrors operators/relational.py's derived-lines model:
    words → 8-word lines with line_no-keyed markdown markers (headings /
    lists / code / blanks) → 12-line pages → one ``kind='text'`` span per
    page, plus a deterministic ``kind='media'`` cover span for every 5th doc.
    Deterministic in the input alone, so any scale factor works.
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    lines0 = (
        words.groupBy("doc_id", (F.floor(F.col("pos") / words_per_line))
                      .cast("int").alias("line_no"))
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "word"))),
                        lambda x: x["word"]), " ").alias("body"))
    )
    marker = (
        F.when(F.col("line_no") % 7 == 0, F.concat(F.lit("# "), F.col("body")))
        .when(F.col("line_no") % 7 == 1, F.concat(F.lit("## "), F.col("body")))
        .when(F.col("line_no") % 7 == 2, F.concat(F.lit("### "), F.col("body")))
        .when(F.col("line_no") % 7 == 3, F.concat(F.lit("- "), F.col("body")))
        .when(F.col("line_no") % 7 == 4, F.concat(F.lit("  "), F.col("body")))
        .when(F.col("line_no") % 7 == 5, F.lit(""))
        .otherwise(F.col("body"))
    )
    lines = lines0.select("doc_id", "line_no", marker.alias("line"))
    pages = (
        lines.groupBy("doc_id", (F.floor(F.col("line_no") / lines_per_page))
                      .cast("int").alias("page_no"))
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                        lambda x: x["line"]), "\n").alias("page_text"))
    )
    spans = (
        pages.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("page_no", "page_text")))
             .alias("ps"))
        .select(
            "doc_id",
            F.transform(
                F.col("ps"),
                lambda p, i: F.struct(
                    F.lit("text").alias("kind"),
                    p["page_text"].alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    (i + 1).cast("int").alias("offset"),
                ),
            ).alias("text_spans"),
        )
        .select(
            "doc_id",
            F.when(
                F.col("doc_id").cast("bigint") % 5 == 0,
                F.concat(
                    F.array(F.struct(
                        F.lit("media").alias("kind"),
                        F.lit(None).cast("string").alias("text"),
                        F.concat(F.lit("media://img/"), F.col("doc_id"),
                                 F.lit("_cover.png")).alias("media_ref"),
                        F.lit(0).cast("int").alias("offset"),
                    )),
                    F.col("text_spans"),
                ),
            ).otherwise(F.col("text_spans")).alias("spans"),
        )
    )
    return spans
