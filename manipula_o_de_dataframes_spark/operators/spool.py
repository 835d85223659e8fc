"""Scratch-parquet spooling: compute a frame once, reuse it N times.

The distributed equivalent of "materialize and share" without holding
block-manager memory past the call (persist leaks if ownership can't
outlive the builder; localCheckpoint blocks linger until JVM GC —
measured, not bounded). Executors write the partitions, later stages
re-read them, and the directory is removed at interpreter exit. Local
mode spools to the system temp dir; on a cluster the same call targets
job-scratch storage (HDFS/S3). Decimals, longs, and strings round-trip
parquet exactly, so spooled plans stay bit-identical.

``@session_artifact`` builds on it: one memo for every frame or model a
session's queries share, keyed, built, cached and found in one place.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable

import time

from pyspark.sql import DataFrame

_STALE_AFTER_S = 7 * 24 * 3600


def _sweep_stale(root: str) -> None:
    """Remove spool dirs older than a week — atexit never fires on
    SIGKILL/OOM, so crashed runs would otherwise leak copies forever."""
    try:
        cutoff = time.time() - _STALE_AFTER_S
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass


def _spool_root(df: DataFrame) -> str:
    """Resolve the spool root: session conf ``spark.graft.spool.dir``,
    then env ``SPARK_GRAFT_SPOOL_DIR``, then the local temp dir.

    Off local mode the default is WRONG — executors would each write to
    their own machine-local /tmp and the re-read finds only the driver's
    shards. A cluster deployment must set one of the two hooks to an
    executor-shared path (job-scratch HDFS/S3/NFS); any path Hadoop's
    FileSystem can resolve works, the writer/reader below are
    scheme-agnostic."""
    conf_dir = df.sparkSession.conf.get("spark.graft.spool.dir", None)
    if conf_dir:
        return conf_dir
    env_dir = os.environ.get("SPARK_GRAFT_SPOOL_DIR")
    if env_dir:
        return env_dir
    master = df.sparkSession.conf.get("spark.master", "")
    if not master.startswith("local"):
        raise RuntimeError(
            "spool() on a non-local cluster needs an executor-shared "
            "scratch dir: set spark.graft.spool.dir (session conf) or "
            "SPARK_GRAFT_SPOOL_DIR (env) to an HDFS/S3/NFS path — the "
            "local temp-dir default would scatter shards per executor"
        )
    return os.path.join(tempfile.gettempdir(), "spark_graft_spool")


def spool(df: DataFrame) -> DataFrame:
    """NOTE: eager — the frame computes and writes at CALL time (that is
    the point: later consumers share the materialization). Callers'
    query construction therefore does real work; each call writes one
    copy, removed at interpreter exit (plus the stale sweep above).
    The exit-time rmtree and stale sweep are local-filesystem best
    effort: on a shared HDFS/S3 root they no-op harmlessly — pair the
    configured scratch path with the storage system's own TTL/lifecycle
    policy, which is how job-scratch areas are managed anyway."""
    root = _spool_root(df)
    _sweep_stale(root)
    path = os.path.join(root, uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return df.sparkSession.read.parquet(path)


def _resolve_checkpoint(
    master: str, conf_dir: str | None, env_dir: str | None
) -> str | None:
    """Checkpoint-durability resolution, pure so the policy is testable:
    configured dir → reliable checkpoint there; no dir on local mode →
    executor-local checkpoint (None); no dir off local mode → loud
    error, because localCheckpoint blocks live in executor storage and
    one executor loss mid-fixpoint kills the job unrecoverably."""
    target = conf_dir or env_dir
    if target:
        return target
    if master.startswith("local"):
        return None
    raise RuntimeError(
        "checkpoint() on a non-local cluster needs a fault-tolerant "
        "checkpoint dir: set spark.graft.checkpoint.dir (session conf) "
        "or SPARK_GRAFT_CHECKPOINT_DIR (env) to an HDFS/S3 path — "
        "localCheckpoint is executor-local and an executor loss "
        "mid-fixpoint is unrecoverable (same escape pattern as the "
        "spool root above)"
    )


def graft_checkpoint(df: DataFrame) -> DataFrame:
    """Lineage-truncating eager checkpoint with a durability escape —
    the iterative-algorithm twin of ``spool()``.

    ``localCheckpoint`` is the right call on local[*] (executors die
    with the driver anyway, and it skips a filesystem round-trip), but
    on a real cluster its blocks are EXECUTOR-LOCAL: lose one executor
    mid-fixpoint and the job dies with no recovery. Resolution:
    ``spark.graft.checkpoint.dir`` session conf, then
    ``SPARK_GRAFT_CHECKPOINT_DIR`` env — either routes through
    ``sparkContext.setCheckpointDir`` + reliable ``df.checkpoint()``
    (HDFS/S3-backed, survives executor loss); neither set on local
    mode falls back to ``localCheckpoint``; neither set OFF local mode
    is a loud error, never a silent durability downgrade. If the
    SparkContext's checkpoint dir points anywhere OUTSIDE the resolved
    target (a previous caller set a different root — possibly a
    since-deleted temp dir), it is re-pointed at the target rather
    than silently reused: the conf is the source of truth, not
    whoever called setCheckpointDir first. Reliable checkpoint files are
    cleaned by ``spark.cleaner.referenceTracking.cleanCheckpoints``
    or the scratch area's TTL policy, the same deal as spool dirs.

    The frame is persisted around the eager checkpoint: without it
    Spark computes the lineage TWICE (once for the eager
    materialization, once writing the checkpoint files) — the
    documented ``RDD.checkpoint`` recommendation, and a 2× per-round
    cost on the CC fixpoint otherwise.
    """
    spark = df.sparkSession
    target = _resolve_checkpoint(
        spark.conf.get("spark.master", ""),
        spark.conf.get("spark.graft.checkpoint.dir", None),
        os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR"),
    )
    if target is None:
        return df.localCheckpoint()
    sc = spark.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    # setCheckpointDir(root) creates a fresh UUID subdir under root, so
    # "already pointed at this target" = current dir starts with target
    # (scheme-insensitively: Spark stores the resolved file:/ URI).
    cur = "" if current.isEmpty() else str(current.get())
    for scheme in ("file:", ""):
        if cur.startswith(scheme + target):
            break
    else:
        sc.setCheckpointDir(target)
    df = df.persist()
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


# Registered builders in definition order: a builder's inputs are defined
# (and therefore built) before it.
ARTIFACTS: dict[str, Callable] = {}
_MEMO: dict[tuple, object] = {}
_SERVED: set[str] = set()
_LOCK = threading.Lock()


def _snapshot_fingerprint(sf_dir: str) -> tuple:
    """(file, mtime_ns, size) for every file of every ``*.parquet``
    table in sf_dir — cheap os.stat metadata, no data read. A regenerated
    fixture changes mtime/size, so a memo keyed on it never serves a
    frame built from bytes no longer on disk. ``st_mtime_ns``, not
    whole seconds: a same-second same-size in-place rewrite
    (deterministic generators produce same-size output) must still
    change the key."""
    entries = []
    try:
        for table in sorted(os.listdir(sf_dir)):
            if not table.endswith(".parquet"):
                continue
            p = os.path.join(sf_dir, table)
            if os.path.isdir(p):
                files = [os.path.join(p, f) for f in sorted(os.listdir(p))]
            else:
                files = [p]
            for f in files:
                st = os.stat(f)
                entries.append((f, st.st_mtime_ns, st.st_size))
    except OSError:
        entries.append(("missing", 0, 0))
    return tuple(entries)


def session_artifact(name: str):
    """Register ``fn(spark, sf_dir, *extra)`` as the session artifact
    ``name``: the first call per key builds, every later one is served
    from the memo.

    Key = (applicationId, abspath(sf_dir), name, extra arguments bound
    with defaults applied, snapshot fingerprint of sf_dir) — the
    applicationId, not ``id(spark)``, which the allocator can reuse for
    a new session after a stopped one is collected (serving a frame
    bound to a dead JVM); the fingerprint, not the path alone, so a
    fixture rewritten in place is rebuilt rather than served stale.
    A miss evicts entries of other applications and of sf_dir under a
    superseded fingerprint. A returned DataFrame is spooled; any other
    value is stored as returned, so it must be immutable (and not
    None). Every call
    adds ``name`` to the served set that ``drain_served`` empties."""

    def register(fn):
        if name in ARTIFACTS:
            raise ValueError(f"session artifact {name!r} registered twice")
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def serve(spark, sf_dir: str, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            app = spark.sparkContext.applicationId
            path = os.path.abspath(sf_dir)
            fp = _snapshot_fingerprint(path)
            key = (app, path, name, tuple(bound.arguments.values())[2:], fp)
            with _LOCK:
                _SERVED.add(name)
            value = _MEMO.get(key)
            if value is None:
                value = fn(spark, sf_dir, *args, **kwargs)
                if isinstance(value, DataFrame):
                    value = spool(value)
                with _LOCK:
                    for k in [
                        k for k in _MEMO if k[0] != app or (k[1] == path and k[4] != fp)
                    ]:
                        del _MEMO[k]
                    _MEMO[key] = value
            return value

        ARTIFACTS[name] = serve
        return serve

    return register


def drain_served() -> set[str]:
    """Names of the artifacts served since the last drain."""
    with _LOCK:
        served = set(_SERVED)
        _SERVED.clear()
    return served


def clear_artifacts() -> None:
    """Forget every memoized artifact (the spool files stay until exit)."""
    with _LOCK:
        _MEMO.clear()
