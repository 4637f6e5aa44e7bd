#!/usr/bin/env python3
"""Layer-attributed extraction benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload pdf_mixed --seed 1 --seconds 10 --trace 0

Workloads (``workloads.json`` records their sizes, session config and the
map from layer metric to end-to-end metric):

- ``pdf_mixed``: make_doc docs holding 19,554 pages (4000 docs at seed 42)
  with ~25% pdf pages and media interleaved, extract_documents into an
  aggregate sink. The pdf lexer carries the fold, so boundary and
  straggler cost are largest here. No doc reaches the split path.
- ``html_tail``: the same page count with html pages instead of pdf, plus
  three ~400-page giants (make_doc page spans concatenated, two seeded
  corrupt pdf spans inside) that ``giant_doc_bytes`` routes through the
  shuffle + mapInPandas split path. The lexer sees only the two corrupt
  spans; the html extractor, chunker and tokenizer carry the fold. Its
  traced run also measures plans.checkpoint on an eighth of this corpus: a
  fresh 16-bucket run, a one-bucket interrupt and the resume.

Each run builds (or reuses) the seeded corpus and its pure-Python
reference, starts one local[nproc] session, runs one discarded warm pass,
then timed passes until ``--seconds`` of pass time have been spent, checks
each pass's corpus totals and one seeded sample's span sequences against
the reference, and prints the metrics. ``--trace 1`` instead reports the
per-layer figures. The last stdout line is one JSON object; exit status is
0 only when every check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("pdf_mixed", "html_tail")

# html_tail routing threshold in span-text bytes: the bulk's largest doc
# is ~0.4 MB, each giant ~1.6 MB (checked every run).
GIANT_DOC_BYTES = 1 << 20

# The seed of the recorded fingerprints and pinned docs in workloads.json
# (pdf_mixed at this seed is the repository's headline corpus).
DEFAULT_SEED = 42

CHECKPOINT_BUCKETS = 16
# the checkpointed runs read one of the 8 bulk files: per-bucket job cost,
# not fold volume, is what this path adds (and it keeps the traced run
# inside its time budget)
CHECKPOINT_FILES = 1
SPAN_SAMPLE = 8
PINNED = "pinned:"


class CheckFailed(Exception):
    pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- passes -------------------------------------------------------------------


def parse_options(workload: str):
    from fast_pdf_parser_spark.config import ParseOptions

    if workload == "html_tail":
        return ParseOptions(giant_doc_bytes=GIANT_DOC_BYTES)
    return ParseOptions()


def read_corpus(spark, *paths: str):
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL

    return spark.read.schema(SPANS_DDL).parquet(*paths)


def sink_totals(out) -> dict:
    """The workload sink: corpus totals of an extract_documents result."""
    from pyspark.sql import functions as F

    first = F.col("offset") == 0
    row = out.agg(
        F.countDistinct("doc_id").alias("docs"),
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("kind") == "chunk", 1).otherwise(0))
        .alias("chunks"),
        F.sum(F.when(first, F.col("doc_total_pages")).otherwise(0))
        .alias("pages"),
        F.sum(F.when(first, F.col("doc_parse_failures")).otherwise(0))
        .alias("failures"),
        F.sum(F.when(first, F.col("doc_bytes_decoded")).otherwise(0))
        .alias("bytes"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in row.asDict()}


def extract_pass(spark, data_dir: str, workload: str) -> tuple[float, dict]:
    from fast_pdf_parser_spark.operators.pipeline import extract_documents

    t0 = time.perf_counter()
    got = sink_totals(extract_documents(read_corpus(spark, data_dir),
                                        parse_options=parse_options(workload)))
    return time.perf_counter() - t0, got


def check_totals(got: dict, manifest: dict) -> None:
    want = manifest["totals"]
    diff = {k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]}
    if diff:
        raise CheckFailed(f"corpus totals differ from reference: {diff}")


def recorded(workload: str) -> dict:
    """The workload's entry in workloads.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"][workload]


def check_fingerprint(workload: str, seed: int, manifest: dict) -> None:
    """At the default seed, the corpus and its reference must be the
    recorded ones: content hash, totals and output digest."""
    if seed != DEFAULT_SEED:
        return
    from corpus import output_digest

    want = recorded(workload)["default_seed_fingerprint"]
    got = {"seed": seed, "content_sha256": manifest["content_sha256"],
           "totals": manifest["totals"],
           "output_sha256": output_digest(manifest)}
    if got != want:
        raise CheckFailed(f"default-seed fingerprint {got} != recorded {want}")


def check_routing(workload: str, manifest: dict) -> None:
    """Only the giants may reach the split path."""
    if workload != "html_tail":
        return
    for doc_id, d in manifest["docs"].items():
        if doc_id.startswith("giant_") != (d["text_bytes"] >= GIANT_DOC_BYTES):
            raise CheckFailed(f"{doc_id} ({d['text_bytes']} bytes) is on the "
                              "wrong side of the giant_doc_bytes threshold")


def span_sample(manifest: dict, seed: int) -> list[str]:
    """Seeded sample of doc ids, plus the largest doc and every giant."""
    docs = manifest["docs"]
    ids = sorted(docs)
    pick = set(random.Random(f"perfbench-sample:{seed}").sample(
        ids, min(SPAN_SAMPLE, len(ids))))
    pick.add(max(ids, key=lambda i: (docs[i]["text_bytes"], i)))
    pick.update(i for i in ids if i.startswith("giant_"))
    return sorted(pick)


def check_spans(spark, data_dir: str, workload: str, manifest: dict,
                seed: int) -> int:
    """Span-sequence equality (kind, text, media_ref, order) through
    to_span_table: against the corpus reference on the seeded sample, and
    against the recorded pinned_spans on the pinned default-seed docs,
    generated afresh; both in one extract. Returns docs checked."""
    from pyspark.sql import functions as F

    from corpus import docs_by_id, span_sequence_hash
    from fast_pdf_parser_spark.operators.pipeline import (
        extract_documents, to_span_table,
    )
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL

    ids = span_sample(manifest, seed)
    want = {i: manifest["docs"][i]["spans_hash"] for i in ids}
    pinned = recorded(workload)["pinned_spans"]
    # pinned ids may also name other docs of this seed's corpus; the span
    # hash does not cover the doc id, so a prefix keeps them apart
    docs = [dict(d, doc_id=PINNED + d["doc_id"]) for d in
            docs_by_id(workload, DEFAULT_SEED, sorted(pinned))]
    want.update({PINNED + i: h for i, h in pinned.items()})
    df = read_corpus(spark, data_dir).filter(F.col("doc_id").isin(ids)) \
        .unionByName(spark.createDataFrame(docs, SPANS_DDL))
    out = to_span_table(extract_documents(
        df, parse_options=parse_options(workload))).collect()
    got = {r["doc_id"]: span_sequence_hash(
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in r["spans"]) for r in out}
    bad = [i for i in want if got.get(i) != want[i]]
    if bad:
        raise CheckFailed(f"span sequences differ from the reference "
                          f"(pinned seed-{DEFAULT_SEED} docs prefixed "
                          f"{PINNED!r}): {bad}")
    return len(want)


class Passes:
    """Runs checked extract passes; a pass that raises or fails its check
    counts as failed. With ``traced``, each timed pass runs in its own job
    group (kept in ``groups``, parallel to ``walls``)."""

    def __init__(self, spark, data_dir, workload, manifest, traced):
        self.spark = spark
        self.args = (spark, data_dir, workload)
        self.manifest = manifest
        self.traced = traced
        self.walls: list[float] = []
        self.peaks_mb: list[float] = []
        self.groups: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def one(self, record: bool) -> None:
        from session import PeakRss

        self.attempted += 1
        group = _group(self.spark, f"pb-pass-{self.attempted}") \
            if self.traced and record else None
        rss = PeakRss()
        try:
            with rss:
                wall, got = extract_pass(*self.args)
            check_totals(got, self.manifest)
        except Exception as exc:  # a failed pass is a measured outcome
            self.failed += 1
            self.errors.append(repr(exc)[:500])
            return
        if record:
            self.walls.append(wall)
            self.peaks_mb.append(rss.peak_mb)
            self.groups.append(group)

    def cooldown(self) -> None:
        """Collect garbage in the driver and the JVM between passes, so a
        collection pause lands here rather than inside a random timed
        pass."""
        gc.collect()
        self.spark._jvm.System.gc()

    def timed(self, seconds: float) -> None:
        """Passes until ``seconds`` of pass time have been spent (at least
        one), or until most of them failed."""
        spent = 0.0
        while True:
            self.cooldown()
            t0 = time.perf_counter()
            self.one(record=True)
            spent += time.perf_counter() - t0
            if spent >= seconds or self.failed > self.attempted // 2:
                return


# -- traced-run pieces ----------------------------------------------------------


def _group(spark, name: str) -> str:
    spark.sparkContext.setJobGroup(name, name)
    return name


def pipeline_split(spark, status, data_dir: str, workload: str,
                   passes: Passes) -> dict:
    """Differential jobs at local[nproc]: scan only; scan into a mapInArrow
    that consumes the batches; extract_documents into a noop sink. With
    the median traced pass they split its wall into layers that sum to it:
    scan, Arrow in, fold stage, sink, and the driver-side remainder outside
    any Spark job (planning, result hand-off)."""
    import pyarrow as pa

    from fast_pdf_parser_spark.config import ParseOptions
    from fast_pdf_parser_spark.operators.pipeline import extract_documents
    from session import busiest_stage, task_spread

    spans = read_corpus(spark, data_dir)

    def consume(batches):
        n = nbytes = 0
        for b in batches:
            n += 1
            nbytes += b.nbytes
        yield pa.RecordBatch.from_pylist([{"batches": n, "nbytes": nbytes}])

    _group(spark, "pb-scan")
    spans.select("doc_id", "spans").write.format("noop") \
        .mode("overwrite").save()
    scan = status.job_span_s(status.jobs("pb-scan"))

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(ParseOptions().arrow_max_records_per_batch))
    _group(spark, "pb-arrow")
    arrow_rows = spans.select("doc_id", "spans").mapInArrow(
        consume, "batches long, nbytes long").collect()
    arrow = status.job_span_s(status.jobs("pb-arrow"))

    _group(spark, "pb-fold")
    extract_documents(spans, parse_options=parse_options(workload)) \
        .write.format("noop").mode("overwrite").save()
    fold = status.job_span_s(status.jobs("pb-fold"))

    # the median timed pass (odd count: the middle one; even: upper middle)
    order = sorted(range(len(passes.walls)), key=lambda i: passes.walls[i])
    mid = order[len(order) // 2]
    full_jobs = status.jobs(passes.groups[mid])
    wall = passes.walls[mid]
    full = status.job_span_s(full_jobs)
    # the fold stage: in the routed plan the contiguous fold and the split
    # fold share one stage through the union
    spread = task_spread(busiest_stage(status.stages(full_jobs)))
    return {
        "pipeline.wall_s": wall,
        "pipeline.scan_s": scan,
        "pipeline.arrow_in_s": arrow - scan,
        "pipeline.fold_stage_s": fold - arrow,
        "pipeline.sink_s": full - fold,
        "pipeline.unattributed_s": wall - full,
        "pipeline.tasks": spread["tasks"],
        "pipeline.task_p50_s": spread["p50"],
        "pipeline.task_max_s": spread["max"],
        "pipeline.task_skew": spread["skew"],
        "pipeline.arrow_batches_in": sum(r["batches"] for r in arrow_rows),
        "pipeline.arrow_mb_in": sum(r["nbytes"] for r in arrow_rows) / 1e6,
        "pipeline.rows_out": passes.manifest["totals"]["rows"],
    }


def split_layer(spark, status, data_dir: str) -> dict:
    """The giant-doc split path alone: routed docs through
    extract_documents_split into a noop sink."""
    from fast_pdf_parser_spark.operators.pipeline import (
        doc_bytes_estimate, extract_documents_split,
    )
    from session import busiest_stage, stage_wall_s, task_spread

    spans = read_corpus(spark, data_dir)
    giants = spans.filter(doc_bytes_estimate() >= GIANT_DOC_BYTES)
    routed = giants.count()
    _group(spark, "pb-split")
    extract_documents_split(giants).write.format("noop") \
        .mode("overwrite").save()
    stages = status.stages(status.jobs("pb-split"))
    fold = busiest_stage(stages, shuffle_read=True)
    return {
        "split.docs_routed": routed,
        "split.shuffle_mb": sum(s.get("shuffleWriteBytes", 0)
                                for s in stages) / 1e6,
        "split.stage_s": stage_wall_s(fold),
        "split.task_max_s": task_spread(fold)["max"],
    }


def checkpoint_layer(spark, status, data_dir: str, workload: str,
                     manifest: dict, seed: int) -> dict:
    """plans.checkpoint on the first ``CHECKPOINT_FILES`` corpus files: a
    fresh checkpointed run, then a run interrupted through
    ``fail_on_bucket``, then its resume. Checks 16 done lineage rows,
    exactly one bucket redone on resume, and output rows equal to the plain
    extract's (the reference) on the same files."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.plans.checkpoint import (
        lineage, run_with_checkpoint,
    )

    names = sorted(manifest["files"])[:CHECKPOINT_FILES]
    files = [os.path.join(data_dir, n) for n in names]
    want_rows = sum(manifest["files"][n]["rows"] for n in names)

    def corpus_part():
        return read_corpus(spark, *files)

    root = os.path.join(WORK, "checkpoint")
    shutil.rmtree(root, ignore_errors=True)
    fresh_dir, resume_dir = (os.path.join(root, n) for n in ("fresh", "res"))

    def done_rows(out_dir, run_id):
        return lineage(spark, out_dir).filter(
            (F.col("run_id") == run_id) & (F.col("status") == "done")
        ).collect()

    # bucket jobs run on pool threads that do not inherit the job group, so
    # the run's jobs are those submitted after this marker
    _group(spark, "pb-checkpoint")
    marker = status.last_job_id()
    t0 = time.perf_counter()
    popts = parse_options(workload)
    out = run_with_checkpoint(spark, corpus_part(), fresh_dir,
                              "fresh", num_buckets=CHECKPOINT_BUCKETS,
                              parse_options=popts)
    fresh_s = time.perf_counter() - t0
    jobs = len(status.jobs(after=marker))
    rows = out.count()
    fresh = done_rows(fresh_dir, "fresh")
    walls = sorted(r["wall_ms"] for r in fresh)
    out_files = sum(n.startswith("part-") and n.endswith(".parquet")
                    for _, _, ns in os.walk(os.path.join(fresh_dir, "spans"))
                    for n in ns)
    if len(fresh) != CHECKPOINT_BUCKETS:
        raise CheckFailed(f"{len(fresh)} done lineage rows, want "
                          f"{CHECKPOINT_BUCKETS}")
    if rows != want_rows:
        raise CheckFailed(f"checkpointed output has {rows} rows, plain "
                          f"extract {want_rows}")

    fail_bucket = random.Random(f"perfbench-bucket:{seed}").randrange(
        CHECKPOINT_BUCKETS)
    try:
        run_with_checkpoint(spark, corpus_part(), resume_dir,
                            "res", num_buckets=CHECKPOINT_BUCKETS,
                            parse_options=popts, fail_on_bucket=fail_bucket)
    except RuntimeError:
        pass  # the deliberate interrupt
    else:
        raise CheckFailed("fail_on_bucket did not interrupt the run")
    before = len(done_rows(resume_dir, "res"))
    t0 = time.perf_counter()
    out = run_with_checkpoint(spark, corpus_part(), resume_dir,
                              "res", num_buckets=CHECKPOINT_BUCKETS,
                              parse_options=popts)
    resume_s = time.perf_counter() - t0
    redone = len(done_rows(resume_dir, "res")) - before
    if redone != 1:
        raise CheckFailed(f"resume redid {redone} buckets, want 1")
    if out.count() != want_rows:
        raise CheckFailed("resumed output rows differ from the plain extract")
    shutil.rmtree(root, ignore_errors=True)
    return {
        "checkpoint.wall_s": fresh_s,
        "checkpoint.resume_s": resume_s,
        "checkpoint.spark_jobs": jobs,
        "checkpoint.bucket_wall_p50_ms": statistics.median(walls),
        "checkpoint.bucket_wall_max_ms": walls[-1],
        "checkpoint.buckets_redone": redone,
        "checkpoint.output_files": out_files,
    }


# -- run ----------------------------------------------------------------------


class Laps:
    """Wall seconds of a run's consecutive phases, for the run's info line
    (where a run spends its time, against its time budget)."""

    def __init__(self) -> None:
        self.last = time.perf_counter()
        self.s: dict[str, float] = {}

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.s[name] = round(now - self.last, 2)
        self.last = now


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes on one core, best of three: a
    reading of host speed printed beside the metrics, so that drift of a
    shared host between runs can be told apart from a program change."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x ^= i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def prepare_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM: no hsperfdata file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for p in (REPO, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def run(args) -> dict:
    import corpus
    import session

    n = nproc()
    probe = [host_probe()]
    lap = Laps()
    manifest, data_dir, built = corpus.ensure(args.workload, args.seed, WORK,
                                              REPO, n)
    lap("corpus")
    check_fingerprint(args.workload, args.seed, manifest)
    check_routing(args.workload, manifest)

    t0 = time.perf_counter()
    import pyspark  # noqa: F401  (import time is part of set-up)
    import_s = time.perf_counter() - t0
    spark, setup = session.start(n, WORK, ui=bool(args.trace))
    status = session.SparkStatus(spark) if args.trace else None
    lap("setup")
    try:
        passes = Passes(spark, data_dir, args.workload, manifest,
                        traced=bool(args.trace))
        passes.one(record=False)  # warm: fills worker caches at full width
        lap("warm_pass")
        passes.timed(args.seconds)
        lap("timed_passes")
        if args.trace:
            _group(spark, "pb-check")
        checked = check_spans(spark, data_dir, args.workload, manifest,
                              args.seed)
        lap("span_check")
        layers = {}
        if args.trace:
            if passes.walls:
                layers.update(pipeline_split(spark, status, data_dir,
                                             args.workload, passes))
                lap("pipeline_split")
            if args.workload == "html_tail":
                layers.update(split_layer(spark, status, data_dir))
                lap("split")
                layers.update(checkpoint_layer(spark, status, data_dir,
                                               args.workload, manifest,
                                               args.seed))
                lap("checkpoint")
    finally:
        session.stop(spark)
    lap("stop")
    probe.append(host_probe())

    if not passes.walls:
        raise CheckFailed(f"every pass failed: {passes.errors[:3]}")
    wall = statistics.median(passes.walls)
    t = manifest["totals"]
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": n,
        "corpus": {"docs": t["docs"], "pages": t["pages"],
                   "data_mb": manifest["data_mb"], "built": built,
                   "content_sha256": manifest["content_sha256"]},
        "passes": [round(w, 4) for w in passes.walls],
        "pass_peak_rss_mb": [round(m, 1) for m in passes.peaks_mb],
        "span_docs_checked": checked,
        "host_probe_s": [round(p, 4) for p in probe],
        "phase_s": lap.s,
        "failed_ratio": passes.failed / passes.attempted,
        "errors": passes.errors[:3],
    }
    setup_s = import_s + sum(setup.values())
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "pages_per_s": (t["pages"] / wall, "pages/s"),
        "peak_rss_mb": (statistics.median(passes.peaks_mb), "MB"),
    }
    if args.trace:
        import fold_trace

        fold = fold_trace.run(data_dir,
                              os.path.join(WORK, "trace", args.workload),
                              REPO, n)
        layers.update(fold_trace.layer_metrics(fold))
        lap("fold_trace")
        layers.update({f"setup.{k}": v for k, v in setup.items()})
        metrics = complete_layers(
            layers, layer_units(), recorded(args.workload)["layers_not_run"])
    return {"attempted": passes.attempted, "failed": passes.failed,
            "metrics": metrics, "info": info}


def layer_units() -> dict[str, str]:
    """Declared per-layer metric names and units, from BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def complete_layers(layers: dict, units: dict[str, str],
                    not_run: list[str]) -> dict:
    """(value, unit) for every declared per-layer metric. A metric whose
    name starts with one of ``not_run`` (layers that do not run in this
    workload) reads 0 when absent; any other absent metric is an error."""
    missing = [k for k in units if k not in layers
               and not k.startswith(tuple(not_run))]
    if missing:
        raise CheckFailed(f"per-layer metrics not produced: {missing}")
    return {k: (float(layers.get(k, 0.0)), u) for k, u in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "fast_pdf_parser_spark")):
        print("perfbench: fast_pdf_parser_spark package not found under "
              f"{REPO}; run from a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    import session

    session.adopt_orphans()
    try:
        result = run(args)
    except CheckFailed as exc:
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        return 1
    finally:
        session.end_descendants()
    info = result.pop("info")
    print(json.dumps(info), file=sys.stderr)
    for name, (value, unit) in result["metrics"].items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_ratio {info['failed_ratio']:.6g} ratio")
    line = {"correct": result["failed"] == 0,
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in result["metrics"].items()}}
    print(json.dumps(line))
    return 0 if result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
