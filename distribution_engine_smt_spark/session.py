"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
config block is what we would ship to a 1000-executor cluster, minus the
master URL: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (the reference treats all timestamps as
naive UTC — stream_blocks.py:255-257), Arrow for the few pandas-UDF paths.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# ---------------------------------------------------------------------------
# cache discipline: every pipeline persist() is tracked so a long-lived
# session (the 117-query driver pass, a notebook, a service) can release
# all of it deterministically instead of accumulating storage blocks until
# eviction thrashes — the failure mode behind the round-4 bench regressions.
# ---------------------------------------------------------------------------
_TRACKED_PERSISTS: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` with session-lifetime tracking.

    Use this for every pipeline intermediate that is referenced by more
    than one downstream pass; ``release_caches`` then unpersists the lot
    after the last consumer has materialized. A bare ``persist()`` with no
    paired ``unpersist()`` pins the blocks for the session lifetime.
    """
    _TRACKED_PERSISTS.append(df.persist())
    return df


# ---------------------------------------------------------------------------
# batch scope: an ingest batch's new state is a set of lazy plans that share
# upstream work (the DMP body fold, the L1 posts chain), and every
# table write or probe would otherwise re-run the shared part. The
# processors persist each frame that more than one action of the batch
# reads; the runner opens one scope per batch and unpersists those frames
# once the batch's state swap has committed. The scope is thread-local
# because the L1 and L2 streams run their foreachBatch callbacks
# concurrently, each on its own thread.
# ---------------------------------------------------------------------------
_BATCH = threading.local()


@contextmanager
def batch_scope():
    """Own every ``batch_persist`` frame made on this thread until exit."""
    outer = getattr(_BATCH, "frames", None)
    frames: list[DataFrame] = []
    _BATCH.frames = frames
    try:
        yield
    finally:
        _BATCH.frames = outer
        for df in frames:
            df.unpersist()


def batch_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` released when the enclosing ``batch_scope`` exits.
    Outside a scope (a processor called directly) the frame is tracked for
    the session instead, so ``release_caches`` frees it."""
    frames = getattr(_BATCH, "frames", None)
    if frames is None:
        return tracked_persist(df)
    frames.append(df.persist())
    return df


def release_caches(spark: SparkSession) -> int:
    """Unpersist every tracked intermediate, drop the memoized query plans,
    and clear the session cache. Returns the number of tracked frames
    released. Safe to call at any point; subsequent query calls rebuild
    (and re-track) what they need."""
    n = len(_TRACKED_PERSISTS)
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
        except Exception:  # session died out from under the handle
            pass
    from . import driver_queries  # local import: session has no deps

    driver_queries._DF_CACHE.clear()
    try:  # the k-means fit memo holds DataFrames too (pipeline optional)
        from .pipeline import clustering, pq

        clustering._FIT_CACHE.clear()
        pq._FIT_CACHE.clear()
    except ImportError:
        pass
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    return n


def get_spark(app_name: str = "distribution-engine-smt-spark") -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for the test harness.

    On a real cluster only ``master`` and memory sizing change; the SQL conf
    is the scale story: AQE re-plans shuffles at runtime, coalesces small
    partitions, and splits skewed ones, so a fixed ``shuffle.partitions``
    seed value is safe at any SF.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # split parquet scans finer than the 128 MB default: the test-scale
        # files are a few hundred MB, which otherwise yields ~3 scan tasks
        # on 32 cores (measured: trending_tags ran its whole scan+explode on
        # 3 tasks). 16 MB -> tens of tasks locally; on a real cluster revert
        # to the default via SPARK_GRAFT_MAX_PARTITION_BYTES — at 100 TB a
        # 16 MB split would mean millions of scan tasks.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
    )
    return builder.getOrCreate()
