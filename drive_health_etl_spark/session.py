"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every config here is chosen for the
1000-executor / 100 TB case and merely *parameterized* down for local runs:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — the main line of defense against skew at scale.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE's coalescing makes the initial number mostly a ceiling.
- Arrow enabled for the one pandas_udf boundary (phone normalization).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- File splits sized for small inputs, with the per-file open cost kept at
  Spark's own 1:32 ratio to the split size (``SPLIT_BYTES``). The split
  size alone would leave the default 4 MB open cost, which makes every
  small file its own scan task; the streamed warehouse is hundreds of
  small appended files, so its reads would cost per file, not per byte.
- Per-call Python call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). When on, every
  PySpark Column/DataFrame call makes about five extra py4j round trips and
  a Python stack walk only to enrich error messages; a micro-batch's plan
  build makes ~1,750 such calls. It is a static conf, so it can only be
  re-enabled at launch: ``get_spark`` leaves it alone when the launch
  arguments name it, e.g. ``PYSPARK_SUBMIT_ARGS="--conf
  spark.python.sql.dataFrameDebugging.enabled=true pyspark-shell"``.
- One broadcast rule (``broadcast_if_small``) against the planner's own
  ``autoBroadcastJoinThreshold``; a launch ``--conf`` of ``-1`` turns
  every broadcast branch off at once.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Input split size (spark.sql.files.maxPartitionBytes). The open cost is
# derived from it so the two cannot drift apart.
SPLIT_BYTES = 4 * 1024 * 1024
# Per-call Python call-site capture (static conf); off, see above.
CALL_SITE_CONF = "spark.python.sql.dataFrameDebugging.enabled"

_SHIPPED_APP_IDS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS of an
    already-running SparkSession (pandas UDFs / applyInPandasWithState
    pickle references to our modules).

    PYTHONPATH only helps if set before the JVM launches; a caller-provided
    session (the driver's) may exist already — so zip the package and
    ``addPyFile`` it, which distributes to workers at runtime. Idempotent
    per app."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APP_IDS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # fresh zip per process (a cached /tmp zip could ship stale code)
    fd, zip_path = tempfile.mkstemp(prefix="dhe_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("drive_health_etl_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APP_IDS.add(app_id)


def broadcast_if_small(df: DataFrame, rows: int) -> DataFrame:
    """``F.broadcast(df)`` when ``rows`` rows of ``df`` fit the session's
    parsed ``spark.sql.autoBroadcastJoinThreshold`` (-1: never), else ``df``.
    For join sides the planner cannot size: localCheckpointed state, or a
    relation it estimates at a parent's size. The row width is Spark's own
    ``EstimationUtils.getSizePerRow`` rule, so callers pass only a count."""
    threshold = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if rows * (8 + df._jdf.schema().defaultSize()) <= threshold:
        return F.broadcast(df)
    return df


class spark_conf:
    """Temporarily set arbitrary session confs, restoring (or unsetting)
    prior values on exit — write-mode knobs like
    ``spark.sql.sources.partitionOverwriteMode`` must not leak into a
    caller's later writes on the same shared session."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.old: dict[str, str | None] = {}
        for k, v in self.confs.items():
            try:
                self.old[k] = self.spark.conf.get(k)
            except Exception:
                self.old[k] = None
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, prev in self.old.items():
            if prev is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, prev)
        return False


class shuffle_partitions:
    """Temporarily pin spark.sql.shuffle.partitions — a caller-provided
    (driver) session defaults to 200, which makes stateful-streaming and
    iterative shuffles scheduling-bound at test scale. Streaming queries
    capture the value at start, so restoring on exit is safe.

    The conf is SESSION-GLOBAL, so concurrent pinned sections from multiple
    threads (the parallel rehearsal pool) would interleave enter/exit and
    leave the session pinned to whichever exit ran last. A process-wide
    re-entrant lock serializes pinned sections instead: correctness never
    depended on the value (the decimal-sum policy makes results
    partitioning-independent), but a leaked pin would silently degrade
    every later query's parallelism. Uncontended, the lock costs nothing
    for single-threaded use."""

    _lock = threading.RLock()

    def __init__(self, spark: SparkSession, n: int = 32):
        self.spark, self.n = spark, n

    def __enter__(self):
        self._lock.acquire()
        # If conf access raises (e.g. session stopped mid-run), __exit__
        # never runs — release the lock before re-raising or every later
        # pinned section across all threads would deadlock.
        try:
            self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        except BaseException:
            self._lock.release()
            raise
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        self._lock.release()
        return False


def get_spark(app_name: str = "drive-health-etl-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    # Python workers (pandas_udf) are separate processes that resolve imports
    # via PYTHONPATH, not the driver's sys.path — make the package importable
    # for them no matter the caller's cwd. (On a real cluster you'd ship a
    # wheel via --py-files / pip instead.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Testdata tables are single parquet files (a few MB-30 MB); the
        # default 128 MB split size would put each whole table in ONE input
        # partition, serializing every narrow stage. 4 MB splits restore
        # parallelism locally; on a real cluster inputs are many files and
        # this knob is irrelevant. The open cost (what each file counts for
        # when files are packed into a split) must shrink with it: at its
        # 4 MB default every small file of the streamed warehouse, the DLQ
        # or a spool would be a task of its own. Spark's defaults are
        # 128 MB : 4 MB, so keep that 32:1 ratio.
        .config("spark.sql.files.maxPartitionBytes", str(SPLIT_BYTES))
        .config("spark.sql.files.openCostInBytes", str(SPLIT_BYTES // 32))
        # Driver testdata stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in the loader (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Builder values override launch --conf values, so these are set only
    # when the launch arguments leave them unset: call-site capture, and the
    # broadcast threshold (-1 forces every shuffle branch). At 32 MB the
    # test-SF dims broadcast; at 100 TB the fact side never does.
    launch_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    for key, value in (
        (CALL_SITE_CONF, "false"),
        ("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)),
    ):
        if key not in launch_args:
            builder = builder.config(key, value)
    return builder.getOrCreate()
