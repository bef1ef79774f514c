"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster submit would set via
spark-submit --conf: AQE on (runtime skew-join splitting + partition
coalescing), shuffle partitions sized to cores (not the 200 default),
Arrow enabled for every pandas UDF exchange, UTC session TZ so DuckDB
oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 48 * 1024


def _default_driver_mem() -> str:
    """Half of the memory this host gives the process, capped at 48g:
    ``MemTotal``, or the cgroup v2 ``memory.max`` when that is lower.
    48g when neither can be read."""
    try:
        with open("/proc/meminfo") as fh:
            total = next(int(line.split()[1]) * 1024 for line in fh
                         if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{_DRIVER_MEM_CAP_MB}m"
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit != "max":
            total = min(total, int(limit))
    except (OSError, ValueError):
        pass
    return f"{min(total // (2 * 1024 * 1024), _DRIVER_MEM_CAP_MB)}m"


def get_spark(app: str = "npm_extraction_server_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              java_opts: str = "",
              driver_mem: str | None = None) -> SparkSession:
    """``java_opts``: extra -XX flags appended after the ParallelGC
    default (the simulated-executor benchmark right-sizes GC/JIT thread
    counts to its CPU pin). ``driver_mem``: override the default heap —
    a 2-core pinned simulated executor should not claim 48g. Without
    it, ``SPARK_GRAFT_DRIVER_MEM`` sets the heap, else
    ``_default_driver_mem()`` sizes it to the host."""
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1: master.find("]")]
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    # ParallelGC: the triple tables are huge short-lived string churn;
    # G1 collapsed at 32 concurrent tasks (measured 2.8x slower than
    # ParallelGC on the fused pipeline)
    jopts = ("-XX:+UseParallelGC " + java_opts).strip()
    mem = (driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
           or _default_driver_mem())
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512-row batches + the plain system allocator measured fastest
        # and most stable for the string-heavy triple output (large
        # jemalloc/mimalloc arenas caused mmap-churn sys-time storms at
        # 32 concurrent workers)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", jopts)
        .config("spark.executor.extraJavaOptions", jopts)
        .config("spark.ui.enabled", "false")
        # Round-6 broadcast policy (guide §3.1): the STATIC threshold
        # decides from size ESTIMATES, and Spark 4's column-pruned scan
        # estimates put multi-million-row fact slices (e.g. a 4-column
        # lineitem projection) under the old 64 MB bar — measured: q3/q5
        # built 3.6-6M-row hashed relations single-threaded per pass and
        # dedup_minhash broadcast a 1.6M-row band table. 8 MB static
        # keeps every true dimension (nation/region/supplier/customer)
        # on the broadcast path; the AQE threshold then re-promotes
        # joins whose build side is ACTUALLY small at runtime (exact
        # shuffle sizes, local shuffle read — no network exchange).
        # Both parameterised: production values scale with executor
        # memory, not with this sandbox.
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(int(os.environ.get("SPARK_GRAFT_BROADCAST_MB", "8"))
                    * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                str(int(os.environ.get("SPARK_GRAFT_AQE_BROADCAST_MB", "32"))
                    * 1024 * 1024))
        # Iterative graph loops use LAZY localCheckpoint so one count
        # action per round materializes everything. By default Spark
        # truncates only the NEAREST checkpoint-marked RDD of the
        # action's lineage — marked ANCESTORS (the loop's carried
        # unassigned/live state) stay untruncated, lineage grows one
        # hop per round, and task deserialization overflows the JVM
        # stack near round ~500 (hit by the 500-level topo DAG probe).
        # This flag makes the same job truncate every marked ancestor.
        .config("spark.checkpoint.checkpointAllMarkedAncestors", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def build_package_zip() -> str:
    """Build (or reuse) the content-addressed package zip — the archive
    handed to ``spark-submit --py-files`` (tools/submit_pipeline.py and
    the smoke test use it directly)."""
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_root = Path(__file__).resolve().parents[1]
    files = sorted(pkg_root.rglob("*.py"))
    digest = hashlib.sha256(
        "".join(f"{p}:{p.stat().st_mtime_ns}:{p.stat().st_size}" for p in files)
        .encode()).hexdigest()[:12]
    zip_path = Path(tempfile.gettempdir()) / f"nes_spark_{digest}.zip"
    if not zip_path.exists():
        tmp = zip_path.with_suffix(f".{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in files:
                zf.write(py, py.relative_to(pkg_root.parent))
        tmp.rename(zip_path)
    return str(zip_path)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the spark-submit --py-files
    equivalent): python workers resolve imports from PYTHONPATH + shipped
    archives, not the driver's sys.path, so a driver launched outside
    the repo root would otherwise hit ModuleNotFoundError."""
    spark.sparkContext.addPyFile(build_package_zip())
