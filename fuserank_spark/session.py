"""SparkSession factory tuned for the FuseRank-Spark engine.

Local testing runs ``local[N]``; the same config posture is what we
would ship to a 1000-executor cluster: AQE on (skew joins, dynamic
coalescing), Arrow on (every pandas-UDF stage), explicit shuffle
partitioning, zstd parquet.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import zipimport

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _process_start() -> float:
    """This process's start as a Unix time, rounded down (Linux
    ``/proc``); ``-inf`` where it cannot be read."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])  # field 22, starttime
        with open("/proc/stat") as f:
            boot = next(int(ln.split()[1]) for ln in f if ln.startswith("btime "))
        return boot + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return float("-inf")


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reread_zips_only_on_change() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed. pyspark's worker calls ``importlib.invalidate_caches()``
    before every task, and on CPython < 3.13 each zipimporter then
    re-reads its whole archive directory: pyspark.zip, the py4j zip and
    the spark-core jar, ~47 importers at 5–24 ms each, over 0.1 s
    before every UDF starts. The stamp ``(st_mtime_ns, st_size)`` is
    kept per importer, not per archive: importers sharing an archive
    each hold their own directory dict. A failed stat always re-reads.

    Installing stamps the importers already cached whose archive was
    last modified before this process started (less 2 s of clock
    slack): every one of them read its directory since then — in a
    worker, the first task's ``invalidate_caches()`` has just done
    so — so the first guarded call re-reads none of them. An archive
    modified since the start stays unstamped and is re-read.

    Runs at import, so every Python worker that unpickles a package
    function installs it; installing twice does nothing, and 3.13+
    (which only drops the cache entry) is left alone."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(original, "_on_change", False):
        return

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            original(self)
            self._read_stamp = stamp

    invalidate_caches._on_change = True
    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    before = (_process_start() - 2.0) * 1e9
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            stamp = _archive_stamp(importer.archive)
            if stamp is not None and stamp[0] < before:
                importer._read_stamp = stamp


_reread_zips_only_on_change()


def get_spark(
    app_name: str = "fuserank_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults come from env so the driver's bench/test harness can
    steer parallelism: ``SPARK_GRAFT_CPUS`` → ``local[N]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("FUSERANK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow: every pandas-UDF boundary (embedding, fourier batch path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime re-planning — skew joins, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # parquet posture: zstd + sane split size for wide vector rows
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # timestamps deterministic regardless of host TZ
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("FUSERANK_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/fuserank_warehouse")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema: str):
    """Driver-side small-batch DataFrame via pandas→Arrow, NOT
    ``createDataFrame(list)`` (CLAUDE.md r11): a plain-list
    createDataFrame pickles into a default-parallelism Python RDD, so
    EVERY downstream collect/broadcast of the frame schedules a
    32-task Python-worker stage (~0.6 s measured for 32 rows). The
    pandas path ships the batch through Arrow into a JVM
    LocalRelation (~0.02 s to collect); in a session without
    arrow.pyspark.enabled it degrades to the classic conversion with
    identical semantics. ``schema`` is the explicit DDL string —
    never inference (ADVICE r11).

    ``rows`` is a list of tuples aligned with the schema's field
    order (the same shape ``createDataFrame(list, schema)`` takes).

    Contracts (ADVICE r12): ``schema`` must be SPACE-separated DDL
    ('name type, ...') — the colon form ('a:int') is rejected rather
    than silently mis-parsed; each row must carry exactly one value
    per field (createDataFrame(list) would error, the pandas path
    would silently drop extras). The pandas→Arrow conversion coerces
    float NaN to null — a call site with a legitimate NaN payload
    must not use this helper."""
    import pandas as pd

    names = []
    depth = 0
    field = ""
    for ch in schema + ",":
        if ch == "," and depth == 0:
            name = field.strip().split()[0].strip("`")
            if ":" in name:
                raise ValueError(
                    f"local_frame schema must be space-separated DDL "
                    f"('name type, ...'); got colon-form field {field.strip()!r}"
                )
            names.append(name)
            field = ""
            continue
        depth += ch in "<("
        depth -= ch in ">)"
        field += ch
    for i, r in enumerate(rows):
        if len(r) != len(names):
            raise ValueError(
                f"local_frame row {i} width {len(r)} != schema field "
                f"count {len(names)} ({names})"
            )
    data = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    return spark.createDataFrame(pd.DataFrame(data, columns=names), schema=schema)


_BUILDS: dict = {}
_SCRATCH: dict = {}


def session_cached(spark: SparkSession, key, build):
    """Build once per (applicationId, ``key``): the first call keeps
    ``build(scratch)``, later calls return it. ``scratch`` is a fresh
    subdirectory of one per-application ``tempfile.mkdtemp`` (under
    ``TMPDIR``, removed at interpreter exit), private to this key."""
    app = spark.sparkContext.applicationId
    if (app, key) not in _BUILDS:
        if app not in _SCRATCH:
            _SCRATCH[app] = tempfile.mkdtemp(prefix="fuserank-")
            atexit.register(shutil.rmtree, _SCRATCH[app], ignore_errors=True)
        _BUILDS[app, key] = build(tempfile.mkdtemp(dir=_SCRATCH[app]))
    return _BUILDS[app, key]


def persisted(df: DataFrame) -> DataFrame:
    """Persist and materialize ``df`` unless it is cached; return it.
    Spark's CacheManager keys cached data by ANALYZED PLAN, not by
    DataFrame object, so ``unpersist()`` on a plan twin built elsewhere
    silently evicts ``df`` too; ``storageLevel`` looks the plan up."""
    sl = df.storageLevel
    if not (sl.useMemory or sl.useDisk):
        df.persist().count()
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read the driver testdata parquet tables as a dict of DataFrames."""
    if "events" in (names or ("events",)):
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS);
        # Spark needs the legacy read (as long) + explicit ns→µs convert
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    all_names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for n in all_names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        if n == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        out[n] = df
    return out
