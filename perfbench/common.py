"""Run-scoped plumbing shared by the workloads: the run directory, the Spark
session's life, seed-state loading, memory and percentiles."""

from __future__ import annotations

import math
import os
import shlex
import shutil
import statistics
import subprocess
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class RunDir:
    """A directory the run owns and deletes at exit: state roots, op logs,
    the suite's corpus and stores, Spark's local and temp directories. Nothing outlives the run, so
    neither set-up nor store builds inherit an earlier run's files."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(REPO, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def configure_env(run: RunDir, cpus: int, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark into the run
    directory; must run before the JVM starts."""
    tmp = run.sub("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case something already cached the default
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    os.environ["SPARK_GRAFT_STORE_DIR"] = run.sub("stores")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a 1 GB heap cap instead of the engine's 8 GB default: with 8 GB the
    # collector lets the heap grow to about 6.8 GB resident on an ingest
    # run, far beyond what the live data needs
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    conf = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={run.sub('warehouse')}",
    ]
    if trace:
        # keep every job and stage of the run in the status store
        conf += ["--conf", "spark.ui.retainedJobs=100000",
                 "--conf", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])


def start_spark():
    from distribution_engine_smt_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over this
    process and its descendants: the driver, the JVM and Python workers."""
    total_kb, todo, seen = 0, [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024.0


SPARK_STATS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes")


def parquet_files(path: str) -> int:
    return sum(len([f for f in files if f.endswith(".parquet")]) for _, _, files in os.walk(path))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; ``inf`` entries (failed units) sort last."""
    s = sorted(values)
    if not s:
        return math.nan
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def trimmed_mean(values: list[float], cut: float = 0.2) -> float:
    """Mean of the values left after dropping the lowest and the highest
    ``cut`` share; ``inf`` entries (failed units) sort last."""
    s = sorted(values)
    k = int(len(s) * cut)
    return statistics.fmean(s[k:len(s) - k]) if s else math.nan


def seed_frames(spark, seed_state, path: str) -> dict:
    """Seed rows -> parquet files under ``path`` -> conformed state
    DataFrames."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DecimalType, LongType

    from distribution_engine_smt_spark import schemas, tables

    out = {}
    for name, schema in schemas.STATE_TABLES.items():
        rows = seed_state.tables[name]
        cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
        arrays, names = [], []
        for col, f in zip(cols, schema.fields):
            # decimals travel as int64 and are cast by conform()
            typ = LongType() if isinstance(f.dataType, DecimalType) else f.dataType
            arrays.append(pa.array(list(col), type=to_arrow_type(typ)))
            names.append(f.name)
        file = os.path.join(path, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.Table.from_arrays(arrays, names=names), file)
        out[name] = tables.conform(spark.read.parquet(file), name)
    return out
