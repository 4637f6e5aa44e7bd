"""Spark session set-up, process-tree memory sampling and the Spark status
REST reader used by the traced run.

Everything the session writes (local dirs, warehouse, the shipped package
zip, JVM temp files) goes under the benchmark's work directory.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from datetime import datetime

DRIVER_MEMORY = "4g"
# Split sizing: every corpus file (each well under 4 MB) is one task of its
# own. Packing several files per split leaves one task more than a multiple
# of the cores, whose tail makes the pass wall swing with which tasks share
# a core; Spark's default 128 MB splits give the fold fewer tasks than cores.
MAX_PARTITION_BYTES = "4m"
OPEN_COST_BYTES = "4m"


def session_conf(nproc: int, work_dir: str, ui: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.files.maxPartitionBytes": MAX_PARTITION_BYTES,
        "spark.sql.files.openCostInBytes": OPEN_COST_BYTES,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf["spark.ui.port"] = "0"  # any free port
    return conf


def warm_docs(nproc: int) -> list[dict]:
    """A few small docs touching every span kind, for the worker warm-up."""
    from fast_pdf_parser_spark.sources.synth import make_doc

    return [make_doc(i, 0, include_pdf=True, include_html=True)
            for i in range(2 * nproc)]


def start(nproc: int, work_dir: str, ui: bool):
    """Start a ready session: JVM and context up, package shipped, one
    Python worker per core started and holding the fold's modules and
    tokenizer. Returns (spark, {phase: seconds})."""
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    builder = SparkSession.builder
    for k, v in session_conf(nproc, work_dir, ui).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    from fast_pdf_parser_spark.util import ship_package

    ship_package(spark)
    t2 = time.perf_counter()

    from fast_pdf_parser_spark.operators.pipeline import extract_documents
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL

    docs = spark.createDataFrame(warm_docs(nproc), SPANS_DDL) \
        .repartition(nproc)
    extract_documents(docs).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "ship_package_s": t2 - t1,
                   "worker_warm_s": t3 - t2}


def stop(spark) -> None:
    """Stop the session, then end its JVM and wait until it has exited."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# -- process-tree RSS ---------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent exits first (a Python worker of an ended JVM, a
    multiprocessing helper) becomes this process's child instead of init's,
    so ``end_descendants`` still finds it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 10.0) -> None:
    """Stop multiprocessing's resource tracker, then end every process
    still below this one (SIGTERM, SIGKILL after ``grace`` seconds) and
    wait until each has exited."""
    import signal
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # closes its pipe, waits
    deadline = time.monotonic() + grace
    while True:
        _reap_children()
        live = descendants(os.getpid())
        if not live:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline \
            else signal.SIGTERM
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the RSS of this process's tree (driver, JVM, Python workers)
    every ``interval`` seconds while active; ``peak_mb`` is the largest."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._thread = None

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


# -- Spark status REST API (traced run only) ---------------------------------


def _parse_time(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStatus:
    """Reads job, stage and task figures of this application from the
    local status REST API (the UI must be enabled)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self, group: str | None = None, after: int = -1,
             timeout: float = 10.0) -> list[dict]:
        """Finished jobs of ``group`` (or every job id > ``after``), once
        the status store has recorded all of them as ended."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self.get("jobs")
                    if (group is None or j.get("jobGroup") == group)
                    and j["jobId"] > after]
            done = all(j["status"] in ("SUCCEEDED", "FAILED")
                       and "completionTime" in j for j in jobs)
            if done or time.monotonic() > deadline:
                return sorted(jobs, key=lambda j: j["jobId"])
            time.sleep(0.05)

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.get("jobs")), default=-1)

    def job_span_s(self, jobs: list[dict]) -> float:
        """First submission to last completion over ``jobs``."""
        start = min(_parse_time(j["submissionTime"]) for j in jobs)
        end = max(_parse_time(j["completionTime"]) for j in jobs)
        return end - start

    def stages(self, jobs: list[dict]) -> list[dict]:
        """Completed stages of ``jobs`` (skipped stages left out), each with
        its task durations in seconds under ``task_s``."""
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in self.get(f"stages/{sid}"):
                if st["status"] != "COMPLETE":
                    continue
                tasks = self.get(f"stages/{sid}/{st['attemptId']}/taskList"
                                 "?length=100000")
                st["task_s"] = sorted(t["duration"] / 1000 for t in tasks
                                      if "duration" in t)
                out.append(st)
        return out


def busiest_stage(stages: list[dict], shuffle_read: bool | None = None):
    """The stage with the most summed task time, optionally only among
    stages that do (or do not) read shuffle data."""
    pool = [s for s in stages if shuffle_read is None
            or (s.get("shuffleReadBytes", 0) > 0) == shuffle_read]
    return max(pool, key=lambda s: sum(s["task_s"]), default=None)


def task_spread(stage: dict | None) -> dict[str, float]:
    """Task count, median and max task duration, and max/median skew."""
    if not stage or not stage["task_s"]:
        return {"tasks": 0, "p50": 0.0, "max": 0.0, "skew": 0.0}
    ts = stage["task_s"]
    n = len(ts)
    p50 = ts[n // 2] if n % 2 else (ts[n // 2 - 1] + ts[n // 2]) / 2
    return {"tasks": n, "p50": p50, "max": ts[-1],
            "skew": ts[-1] / p50 if p50 else 0.0}


def stage_wall_s(stage: dict | None) -> float:
    if not stage or "completionTime" not in stage:
        return 0.0
    return _parse_time(stage["completionTime"]) - \
        _parse_time(stage["firstTaskLaunchedTime"])
