"""SparkSession factory.

Mirrors the reference's session surface (``/root/reference/etl.py:27-39``:
``SparkSession.builder...getOrCreate()`` plus the committer conf at
``etl.py:37``) but with scale-oriented defaults the reference lacks:

- AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — the reference's title/artist join has hot + null-heavy
  keys (SURVEY.md §4), which AQE's skew handling absorbs at scale.
- UTC session timezone so temporal derivations are deterministic and
  match the DuckDB oracle regardless of host timezone.
- Arrow enabled for any pandas-UDF path (extensions only; the core
  pipeline is 100% JVM-side).
- ``mapreduce.fileoutputcommitter.algorithm.version=2`` kept for parity
  (``etl.py:37``); on real object stores prefer the S3A magic committer
  or a lakehouse table format.
- Local masters only: Python workers start through
  :mod:`data_lake_with_spark_spark.worker_daemon`, the stock PySpark
  daemon minus the per-task re-read of every zip archive on the
  worker's path, and import this package from the driver's checkout.
  Sessions a caller builds (see :func:`ensure_runtime_confs`) and
  cluster masters keep the stock daemon and get the package as a zip
  instead (:func:`ship_package_to_workers`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: This package's directory; local sessions put its parent on the workers' path.
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))

#: The daemon :func:`get_spark` gives local sessions; their workers
#: import the package from the checkout on their ``PYTHONPATH``.
_ENGINE_DAEMON = "data_lake_with_spark_spark.worker_daemon"

#: Confs that can only be applied while building a new session.
_BUILD_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # Parity with reference etl.py:37 (fast task commit on rename-based FS).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Reads a Parquet TIMESTAMP(NANOS) column as a raw nanosecond long
    # instead of failing the scan. The registry tables store µs
    # timestamps (sources/catalog.py), so no catalog read relies on it.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Runtime-settable confs an externally provided session may be missing.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
}


def _driver_mem() -> str:
    """Driver heap of a local session: ``$SPARK_GRAFT_DRIVER_MEM``,
    else half of physical memory, between 1g and 24g."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return f"{max(1, min(24, total // (2 << 30)))}g"


def get_spark(
    app_name: str = "data_lake_with_spark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``); on a real cluster pass ``yarn``/``k8s://...`` or let
    spark-submit set it. ``shuffle_partitions`` defaults to 32 locally;
    at 100 TB size it to ~2-3× total executor cores with AQE coalescing
    the tail. A local master gets a driver heap of
    ``$SPARK_GRAFT_DRIVER_MEM``, else half of physical memory between
    1g and 24g, and the engine's Python-worker daemon
    (:mod:`data_lake_with_spark_spark.worker_daemon`) unless
    ``extra_conf`` names its own ``spark.python.daemon.module``; a
    caller's ``spark.executorEnv.PYTHONPATH`` is kept, with the
    package's parent directory appended.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    extra_conf = dict(extra_conf or {})
    builder = SparkSession.builder.appName(app_name).master(master)
    if master.startswith("local"):
        # single-JVM mode: the driver heap IS the executor heap;
        # the 1g default OOMs at sf0.1 (only applies on first JVM launch)
        builder = builder.config("spark.driver.memory", _driver_mem())
        # Workers run on this host, so they can import the daemon from
        # the driver's own package directory.
        if "spark.python.daemon.module" not in extra_conf:
            builder = builder.config("spark.python.daemon.module", _ENGINE_DAEMON)
            path = extra_conf.get("spark.executorEnv.PYTHONPATH")
            root = os.path.dirname(_PKG_DIR)
            extra_conf["spark.executorEnv.PYTHONPATH"] = (
                f"{path}{os.pathsep}{root}" if path else root
            )
    for k, v in _BUILD_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_runtime_confs(spark)
    return spark


def s3a_confs(
    access_key: str | None = None,
    secret_key: str | None = None,
    committer: str = "magic",
) -> dict[str, str]:
    """S3A connector configuration (SURVEY.md §2 A5; reference
    ``etl.py:23-24,34``: hadoop-aws package + AWS creds from env).

    Returns confs to pass as ``extra_conf`` to :func:`get_spark`.
    Credentials default to the standard AWS env vars (the reference
    exports them the same way from its ``dl.cfg``); on EC2/EKS prefer
    the instance-profile provider and pass no keys. The reference's
    fileoutputcommitter-v2 (etl.py:37) is superseded by the S3A
    committers at scale — 'magic' avoids the copy-on-commit entirely.
    """
    confs: dict[str, str] = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.committer.name": committer,
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
    }
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    if access_key and secret_key:
        confs["spark.hadoop.fs.s3a.access.key"] = access_key
        confs["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return confs


#: Persistent-RDD ids that existed BEFORE this package first touched a
#: given SparkContext (keyed by applicationId). Anything in here was
#: persisted by the caller/harness, not by us — never unpersist it.
_PRE_EXISTING_PERSISTENT: dict[str, set[int]] = {}


def _snapshot_pre_existing_persistent(spark: SparkSession) -> None:
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _PRE_EXISTING_PERSISTENT:
            return
        jmap = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
        _PRE_EXISTING_PERSISTENT[app_id] = _persistent_ids(jmap)
    except Exception:
        pass


def _persistent_ids(jmap) -> set[int]:
    """The RDD ids keying a py4j ``getPersistentRDDs()`` map. Read as
    one array: iterating the map's ``values()`` ends on a Java
    exception that py4j converts, ~25 ms per call."""
    return {int(i) for i in jmap.keySet().toArray()}


def clear_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist persistent RDDs this package's operators left behind.

    Operators that ``localCheckpoint`` bounded frames (PPJoin's prefix
    index, CC rounds) leave their checkpoint RDDs persisted until the
    JVM ContextCleaner notices the Python refs are gone — GC-timing-dependent, so a long single-session run (the
    driver's 110-query gate, bench) accumulates them in bursts
    (observed up to 19 after the CC queries, dropping to 4 only when
    GC happened to fire). Harness loops call this BETWEEN queries —
    after a query's result is fully materialized its checkpoints are
    dead weight; the next query builds fresh plans.

    Scope/contract: RDDs that were already persistent when this
    package first saw the context (snapshotted in
    :func:`ensure_runtime_confs`) are the caller's and are left
    alone. Everything newer is assumed ours — so call this only
    between queries, when no caller-held DataFrame built since then
    is still live (dropping a localCheckpoint block makes frames over
    it unrecomputable: lineage was truncated). Returns how many were
    dropped."""
    try:
        sc = spark.sparkContext
        keep = _PRE_EXISTING_PERSISTENT.get(sc.applicationId, set())
        jmap = sc._jsc.getPersistentRDDs()  # noqa: SLF001
        drop = _persistent_ids(jmap) - keep
        for rdd_id in drop:
            jmap.get(rdd_id).unpersist(False)
        return len(drop)
    except Exception:
        return 0


def local_frame(spark: SparkSession, rows, schema):
    """A DataFrame over driver-held ``rows`` (tuples in ``schema``
    order; ``schema`` a StructType or DDL string) that plans as a JVM
    ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans as a ``LogicalRDD`` over a
    PythonRDD, so every action touching the frame starts Python-worker
    tasks to re-serialize the rows. Shipped once as a pyarrow Table,
    the rows live in the plan itself: collecting the frame runs no job,
    and broadcasting it into a join runs one small JVM job (Spark's
    ``BroadcastExchangeExec`` collects its child through an RDD) that
    never re-reads the caller's rows from Python."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def collect_bounded(frame, bound: int, what: str) -> list:
    """``frame.collect()`` for a frame whose size a caller's contract
    bounds: at most ``bound`` rows, read through ``limit(bound + 1)``,
    so an oversize batch raises ``ValueError`` (with ``what`` naming
    the bound and the alternative) instead of filling the driver.

    The limit is not free: Spark's incremental ``limit`` scan runs one
    job on the first input partition, then widens by a factor of 4
    until it has ``bound + 1`` rows or has read every partition, so a
    frame over p partitions costs up to 1 + ceil(log4 p) jobs. The
    BM25 serve's 4-partition query frame takes 2: one partition, then
    the other three."""
    rows = frame.limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(f"{what}: more than {bound} rows")
    return rows


def run_concurrent(thunks):
    """Run independent Spark actions from a small driver thread pool
    (optimization-guide §2.6: actions are only sequential because
    driver code calls them sequentially — concurrent jobs back-fill
    executors freed by each other's stragglers, and FIFO scheduling
    keeps the earlier job first). Used by maintenance ops whose
    component updates write to DISJOINT directories and share no
    driver state. Returns results in input order; the first thunk
    exception propagates (remaining jobs still run to completion —
    bounded, idempotent writes to scratch paths)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


_SHIPPED_APP_IDS: set[str] = set()

#: This process's package-zip directory, removed at interpreter exit.
_ZIP_DIR = None


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make this package importable inside Python WORKER processes.

    mapInPandas/pandas-UDF kernels close over module-level functions,
    which cloudpickle serializes BY REFERENCE (module + qualname) —
    so the worker must be able to ``import data_lake_with_spark_spark``.
    A local :func:`get_spark` session already guarantees that: its
    workers start through :mod:`~data_lake_with_spark_spark.worker_daemon`
    with the checkout on ``spark.executorEnv.PYTHONPATH``, so nothing
    is shipped. Every other session — one a caller builds and hands to
    ``__spark_entry__`` (whose workers would otherwise die with
    ModuleNotFoundError when the driver imports the package from
    elsewhere via ``sys.path``), a cluster master, or an ``extra_conf``
    naming another daemon — gets the package's source files as a zip
    via ``addPyFile``, once per SparkContext (~330 KB; ``__pycache__``
    is left out, ``zipimport`` never reads it). The zip lives in a
    ``dlws_pkg_*`` directory of this process, removed at interpreter
    exit (not earlier: Spark serves it to tasks from that path).
    """
    global _ZIP_DIR
    try:
        if spark.conf.get("spark.python.daemon.module", None) == _ENGINE_DAEMON:
            return
        sc = spark.sparkContext
        app_id = sc.applicationId
    except Exception:
        return
    if app_id in _SHIPPED_APP_IDS:
        return
    import tempfile
    import zipfile

    try:
        if _ZIP_DIR is None:
            _ZIP_DIR = tempfile.TemporaryDirectory(
                prefix="dlws_pkg_", ignore_cleanup_errors=True
            )
        zip_path = os.path.join(_ZIP_DIR.name, "dlws_pkg.zip")
        root = os.path.dirname(_PKG_DIR)
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
            for d, subdirs, files in os.walk(_PKG_DIR):
                subdirs[:] = [n for n in subdirs if n != "__pycache__"]
                for name in files:
                    path = os.path.join(d, name)
                    z.write(path, os.path.relpath(path, root))
        sc.addPyFile(zip_path)
    except Exception:
        # Transient failure (tmpdir full, addPyFile race): do NOT cache
        # the app_id, so the next ensure_runtime_confs call retries
        # instead of leaving workers to die with ModuleNotFoundError.
        return
    _SHIPPED_APP_IDS.add(app_id)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session.

    The driver harness hands us its own SparkSession; queries must be
    deterministic under it, so set what can still be set (timezone,
    nanos handling, AQE). Build-time confs are left alone. Also ships
    the package zip to Python workers of sessions that need it (see
    ship_package_to_workers) so pandas-UDF kernels import cleanly
    wherever the driver runs from.
    """
    _snapshot_pre_existing_persistent(spark)
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session; readers fall back per-table
    ship_package_to_workers(spark)
    return spark
