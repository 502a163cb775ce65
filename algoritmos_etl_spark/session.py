"""SparkSession factory with scale-aware defaults.

Local test mode is ``local[N]`` (one JVM), but every knob here is chosen
so the same plans run unchanged on a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, plan
  re-optimization from shuffle statistics).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the initial number less critical.
- Arrow enabled for every pandas-UDF boundary.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (and are cluster-location independent).
- ``nanosAsLong`` because the test `events` table carries parquet
  TIMESTAMP(NANOS), which the vectorized Spark reader does not accept;
  sources/readers.py converts the raw nanos to TimestampType(µs).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _cgroup_memory_limit() -> int | None:
    """Bytes of the cgroup memory limit (v2 memory.max / v1
    limit_in_bytes), or None when there is none."""
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        # "max" or huge = unlimited
        return int(raw) if raw.isdigit() and int(raw) < 1 << 50 else None
    return None


def _default_driver_mem() -> str:
    """Driver heap default bounded by the container, not a constant.

    A fixed -Xmx above the cgroup memory limit lets the JVM grow until
    the kernel OOM-kills it instead of GC'ing under load; a tiny heap
    turns a long suite's checkpoint-block tail into GC storms. So:
    honor SPARK_GRAFT_DRIVER_MEM when set, else derive from the memory
    bound — the cgroup limit, or the host's physical memory when the
    cgroup sets none — as 60% of the bound minus headroom for Python
    workers and JVM overhead, clamped to [1g, 32g]. 32g is the measured
    sweet spot for the 30× suite on a 128 GiB box.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    limit = _cgroup_memory_limit()
    if limit is None:
        limit = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    headroom = 4 << 30  # python workers + JVM native overhead
    # no fixed floor: a floor above what the cgroup can hold would
    # reintroduce the OOM-kill this function exists to avoid (e.g. a
    # 4g -Xmx inside a 4.5 GiB limit); tiny containers get a tiny
    # heap and degrade to GC pressure instead of a kernel kill
    heap_gb = max(1, min(32, int(0.6 * max(limit - headroom, 0)) >> 30))
    return f"{heap_gb}g"


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers (local or cluster).

    Pandas-UDF closures reference helpers in this package; cloudpickle
    serializes those by module reference, so every Python worker must be
    able to import `algoritmos_etl_spark` no matter what its cwd is.
    Zipping the package and `addPyFile`-ing it is the same mechanism
    `spark-submit --py-files` uses on a real cluster.
    """
    sc = spark.sparkContext
    if sc is None or getattr(sc, "_algoritmos_etl_pyfile", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"algoritmos_etl_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "algoritmos_etl_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._algoritmos_etl_pyfile = True


def get_spark(
    app_name: str = "algoritmos_etl_spark",
    cpus: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces shuffles DOWN but never splits them UP, so the
        # pre-coalesce partition count must start high or skewed/heavy
        # shuffles (LSH bucket joins, shingle inverted-index joins) pin
        # a handful of tasks. 8x cores start, AQE shrinks the small
        # ones. Measured (cold, local[32]): dedup_minhash_lsh 178->65 s
        # on the 10x corpus, 38->12 s at sf0.1; ngram 32->12 s; scan/agg
        # queries unchanged.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(8 * cpus, 64)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # file-split floor: split size = max(openCostInBytes,
        # bytes/minPartitionNum) capped by maxPartitionBytes. The 4 MB
        # default floors a compressed-text corpus (documents ≈ 125 B/doc
        # snappy) at a handful of splits, single-threading every
        # CPU-heavy scan projection (regex redaction, Arrow text
        # stages) — bytes are a terrible proxy for per-row compute on
        # text. 512 KB lets small-in-bytes/fat-in-compute scans fan out
        # to the cores; large-file scans are unaffected (their splits
        # are maxPartitionBytes-capped anyway).
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local-mode executors live in the driver JVM: the heap holds every
        # checkpointed block the suite accumulates (bars model, shingle
        # indexes, LSH bands), and a small heap turns the tail of a long
        # suite into GC storms (observed 7.8s vs 24.8s for the same query
        # depending on heap context at 16g) — but the ceiling must stay
        # inside the cgroup limit or the kernel kills the JVM instead
        .config("spark.driver.memory", _default_driver_mem())
        # one BLAS thread per Python worker: workers already saturate
        # the cores, so OpenBLAS/OMP defaulting to ncpu threads per
        # process oversubscribes cores² ways and thrashes every numpy
        # matmul stage (blocked heatmap at the 30× corpus: 132 s → 66 s
        # from this alone). On a real cluster the same holds whenever
        # spark.executor.cores equals the host's scheduling quota.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_on_workers(spark)
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we didn't build.

    The correctness driver hands us its own SparkSession; static configs
    (driver memory) can't change, but the semantic ones (timezone, AQE,
    Arrow, nanos decoding) are runtime-settable and required for oracle
    parity.
    """
    for key, value in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - config locked by driver
            pass
    try:
        ensure_package_on_workers(spark)
    except Exception:  # pragma: no cover - e.g. Spark Connect session
        pass
    return spark
