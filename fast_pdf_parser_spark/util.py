"""Deployment and materialization helpers.

``ship_package`` is the programmatic equivalent of
``spark-submit --py-files fast_pdf_parser_spark.zip`` (the north-rule run
mode): it zips this package (code + the vocab data file) and registers the
archive with the SparkContext so every executor's Python worker can import
it, regardless of the driver's cwd/sys.path.

``materialize`` is the one way this package cuts a DataFrame's lineage.
Its snapshots and the session confs raised by ``set_conf`` go into one
ledger that ``release_all`` empties; ``__spark_entry__._prepare`` calls
it at the start of each query, once the previous result has been
consumed. Other callers call it when done with their results.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

_SHIPPED: set[int] = set()

# The ledger, guarded by _LOCK. id(snapshot) -> (snapshot, persisted JVM
# RDD handle): the entry holds the snapshot, so its id cannot be reused
# while recorded. _CONFS: (session, key, prior value or None if unset).
_LOCK = threading.Lock()
_SNAPSHOTS: dict[int, tuple] = {}
_CONFS: list[tuple] = []
_warned_no_handle = False


def package_root() -> str:
    return os.path.dirname(os.path.abspath(__file__))


def build_package_zip(dest_dir: str | None = None) -> str:
    """Zip the package importably (fast_pdf_parser_spark/** at archive root).

    Written to a unique temp name then atomically renamed into place, so
    concurrent driver processes (multiple local JVMs, parallel test runs)
    never observe a half-written archive — each writer produces a complete
    zip and os.replace is atomic within the same filesystem.
    """
    root = package_root()
    parent = os.path.dirname(root)
    dest_dir = dest_dir or tempfile.gettempdir()
    zip_path = os.path.join(dest_dir, "fast_pdf_parser_spark.zip")
    fd, tmp_path = tempfile.mkstemp(suffix=".zip", dir=dest_dir)
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, dirnames, filenames in os.walk(root):
                dirnames[:] = [d for d in dirnames if d != "__pycache__"]
                for name in filenames:
                    if name.endswith(".pyc"):
                        continue
                    full = os.path.join(dirpath, name)
                    zf.write(full, os.path.relpath(full, parent))
        os.replace(tmp_path, zip_path)
    finally:
        if os.path.exists(tmp_path):
            os.unlink(tmp_path)
    return zip_path


def ship_package(spark) -> None:
    """Make this package importable on all executors (idempotent per context)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(build_package_zip())
    _SHIPPED.add(key)


def materialize(df):
    """Eager localCheckpoint of ``df``, recorded in the ledger; returns the
    snapshot, resident until ``release(snapshot)`` or ``release_all()``.

    localCheckpoint is the one tier because the iterative callers
    (train_bpe, resolve_clusters) need the LINEAGE CUT: persist() keeps
    the whole plan, so each round's plan grows and Catalyst's size
    estimates compound over it (the planner blow-up documented in
    functions/bpe.py). Output that must survive an executor loss after
    its inputs are deleted is written to parquet and read back instead.

    DataFrame.unpersist() is a silent no-op for localCheckpoint blocks
    (they are RDD-level persisted, not CacheManager plans), and diffing
    sc.getPersistentRDDs() snapshots is racy under concurrent Spark jobs
    on the same session (plans/checkpoint.py runs a thread pool). The
    checkpointed Dataset's analyzed plan IS a LogicalRDD wrapping the
    persisted RDD, so the handle is read straight off it.

    That read goes through private JVM internals (``_jdf`` + the analyzed
    plan's ``rdd()``), which a Spark upgrade or Spark Connect can remove
    — then the snapshot is left to the ContextCleaner instead of failing
    the caller. tests/test_clusters.py pins the handle's liveness."""
    global _warned_no_handle
    ckpt = df.localCheckpoint(eager=True)
    try:
        from py4j.protocol import Py4JError

        expected = (AttributeError, Py4JError)
    except ImportError:  # Spark Connect ships no py4j at all
        expected = (AttributeError,)
    try:
        jrdd = ckpt._jdf.queryExecution().analyzed().rdd()
    except expected as exc:
        # ONLY the API-removal / internals-shape failure modes degrade;
        # a transient runtime error must surface — the once-per-process
        # warning would otherwise swallow every recurrence after the first
        if not _warned_no_handle:
            _warned_no_handle = True
            import warnings

            warnings.warn(
                "util.materialize: cannot read the persisted-RDD handle "
                f"off the analyzed plan ({exc!r}); localCheckpoint blocks "
                "will be freed by the ContextCleaner instead of eagerly",
                RuntimeWarning, stacklevel=2)
        return ckpt
    with _LOCK:
        _SNAPSHOTS[id(ckpt)] = (ckpt, jrdd)
    return ckpt


def release(snapshot) -> None:
    """Free one ``materialize`` snapshot now (a no-op if it is not in the
    ledger). Nothing may read ``snapshot`` afterwards."""
    with _LOCK:
        entry = _SNAPSHOTS.pop(id(snapshot), None)
    if entry is not None:
        entry[1].unpersist(False)


def set_conf(spark, key: str, value: str) -> None:
    """Set a session conf until the next ``release_all``, which restores
    the value it had before (a key that was unset is unset again)."""
    with _LOCK:
        _CONFS.append((spark, key, spark.conf.get(key, None)))
    spark.conf.set(key, value)


def release_all() -> None:
    """Free every recorded snapshot and restore every ``set_conf`` key,
    newest first, so a key set twice ends at its oldest prior value."""
    with _LOCK:
        snapshots, confs = list(_SNAPSHOTS.values()), _CONFS[::-1]
        _SNAPSHOTS.clear()
        _CONFS.clear()
    for _, jrdd in snapshots:
        jrdd.unpersist(False)
    for spark, key, prior in confs:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
