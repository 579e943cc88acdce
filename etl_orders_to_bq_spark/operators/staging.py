"""Staging for iterative / reused intermediate frames; :func:`stage` is
the package's only staging point.

Iterative operators (LSH banding, connected components, PageRank) must
materialize an intermediate once and reuse it across rounds — otherwise
Catalyst re-executes the producing pipeline per round and the unrolled
plan grows without bound. The strategy is one session setting,
``spark.graft.stagingDir``, read here (:func:`staging_dir`) and nowhere
else:

- unset (default): ``localCheckpoint``. RDD blocks on executors; fast,
  fine on local[*] and for tests, but NO fault tolerance — on a real
  cluster, losing one executor mid-query kills the job.
- a directory: parquet write+reread under it. Durable, resumable, the
  shape production dedup uses at 100 TB ("write signatures, then
  band"), with real column pruning on the reread. Operators with a
  driver-local fast path take the distributed loop while it is set.

``spark.checkpoint.dir`` cannot be the switch: it is a core setting,
fixed at runtime, and a reliable RDD checkpoint lacks the parquet
reread's file-size stats (see :func:`rebind_checkpoint_stats`).

Driver-local folds have one door too: when a staged census or edge
list is small, one bounded collect (:func:`local_rows`) fetches it and
the loop replays on the driver, pinned equal to the distributed loop by
twin tests. The limit is ``spark.graft.localFoldMaxRows``, read by
:func:`local_fold_limit` and nowhere else: unset, each operator's
default (:data:`LOCAL_FOLD_ROWS`, or :data:`LOCAL_PEEL_ROWS` for the
Arrow-pulled peels); N, at most N rows; 0, never, and no probe job
runs. A set ``spark.graft.stagingDir`` also means 0.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

STAGING_DIR_CONF = "spark.graft.stagingDir"
LOCAL_FOLD_CONF = "spark.graft.localFoldMaxRows"

# Default local-fold bounds: rows collected as Python tuples (64k x ~16 B
# ~ 1 MB), and edge lists pulled through Arrow for the peels (~16 MB).
LOCAL_FOLD_ROWS = 1 << 16
LOCAL_PEEL_ROWS = 1 << 20


def staging_dir(spark: SparkSession) -> str | None:
    """The durable staging directory, or None for local staging."""
    return spark.conf.get(STAGING_DIR_CONF, None)


def local_fold_limit(spark: SparkSession, default: int) -> int:
    """The most rows an operator may fold driver-locally (<= 0: never):
    the session setting, else ``default``; 0 under durable staging."""
    if staging_dir(spark) is not None:
        return 0
    value = spark.conf.get(LOCAL_FOLD_CONF, None)
    return default if value is None else int(value)


def local_rows(df: DataFrame, default: int, arrow: bool = False):
    """``df``'s Rows (a pandas frame with ``arrow``) if it has at most
    :func:`local_fold_limit` rows, else None. One job of limit+1 rows
    decides and fetches; none runs at a limit of 0."""
    limit = local_fold_limit(df.sparkSession, default)
    if limit <= 0:
        return None
    head = df.limit(limit + 1)
    head = head.toPandas() if arrow else head.collect()
    return head if len(head) <= limit else None


@contextmanager
def _session_setting(spark: SparkSession, key: str, value: str) -> Iterator:
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def durable_staging(spark: SparkSession, path: str):
    """Stage under ``path`` inside the block, then restore the setting."""
    return _session_setting(spark, STAGING_DIR_CONF, path)


def local_fold_max_rows(spark: SparkSession, n: int):
    """Fold at most ``n`` rows driver-locally inside the block (0: the
    distributed loop always), then restore the setting."""
    return _session_setting(spark, LOCAL_FOLD_CONF, str(int(n)))


def rebind_checkpoint_stats(df: DataFrame) -> None:
    """Replace the Catalyst size estimate a localCheckpoint INHERITS
    from its origin plan (``LogicalRDD.originStats``, Spark 3.4+) with
    the checkpoint's ACTUAL materialized byte size.

    Size-only estimation multiplies child estimates through joins, and
    the checkpoint carries the origin plan's COMPUTED estimate — so an
    iterative loop that stages a join output every round compounds the
    estimate geometrically. Measured on the k_truss cascade fixture:
    constant plan, constant 170-row data, constant lineage depth, yet
    round time went 0.6 s -> 60 s by round 11, with jstack pinning the
    driver in SizeInBytesOnlyStatsPlanVisitor BigInteger.multiply on
    million-bit numbers (the estimate TRIPLED in bit-length per round;
    parquet staging, which resets stats to file size, stays flat).

    Rebinding to the real block-manager size keeps the estimate both
    BOUNDED (kills the compounding) and HONEST (a small staged frame
    still auto-broadcasts — clearing the stats outright regressed
    adamic_adar's dim join to sort-merge). The replacement Statistics
    object is borrowed from a throwaway ``spark.range(bytes/8)`` plan
    (Range's estimate is exactly 8 bytes/element), because py4j cannot
    construct Scala BigInt arguments directly. Reflection is
    version-guarded — on any mismatch the stats are left as-is (the
    pre-fix behavior), never an error. Lazy checkpoints (eager=False)
    have no blocks until their first action: ``stage`` leaves them
    alone, and a caller that forces one itself (``OrdersEtl``'s
    products snapshot) rebinds after that action. Frames built on
    ``df`` see the new estimate; ``df``'s own plan, if already
    optimized, keeps the old one.

    The block sizes come from the status store, which the listener bus
    fills asynchronously, so the bus is drained first; a block not yet
    recorded there would leave the estimate unbound."""
    try:
        jlp = df._jdf.queryExecution().logical()
        if jlp.getClass().getSimpleName() != "LogicalRDD":
            return
        rdd_id = jlp.rdd().id()
        jsc = df.sparkSession.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        infos = jsc.getRDDStorageInfo()
        size = None
        for i in range(len(infos)):
            if infos[i].id() == rdd_id:
                size = infos[i].memSize() + infos[i].diskSize()
                break
        if size is None:
            return
        donor = (
            df.sparkSession.range(max(int(size) // 8, 1))
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        fld = jlp.getClass().getDeclaredField("originStats")
        fld.setAccessible(True)
        fld.set(jlp, df.sparkSession._jvm.scala.Option.apply(donor))
        jlp.invalidateStatsCache()
    except Exception:
        pass


def stage(
    df: DataFrame, name: str | None = None, eager: bool = True
) -> DataFrame:
    """Materialize ``df`` for reuse across actions/rounds.

    With ``spark.graft.stagingDir`` set, writes parquet to
    ``{dir}/{name}_{uuid}`` and returns the reread frame — durable on
    any shared filesystem / object store. The per-call uuid suffix means
    two operator invocations sharing a directory NEVER clobber each
    other's staged files (an overwrite of a fixed path would silently
    corrupt earlier lazily-returned frames that still reference it);
    retention of the directory is the caller's concern, like any
    checkpoint location. Otherwise falls back to
    ``localCheckpoint(eager=eager)``.
    """
    target_dir = staging_dir(df.sparkSession)
    if target_dir is None:
        out = df.localCheckpoint(eager=eager)
        if eager:
            rebind_checkpoint_stats(out)
        return out
    stem = f"{name}_" if name else ""
    target = f"{target_dir.rstrip('/')}/{stem}{uuid.uuid4().hex[:12]}"
    df.write.mode("error").parquet(target)
    return df.sparkSession.read.parquet(target)
