"""SparkSession profile for the KG-construction engine.

Centralizes the configs SURVEY.md §4.2 pins down:
  - AQE on (runtime re-planning, skew-join splitting for the link-score join)
  - Arrow on, bounded batch size (the engine's analog of char-ner's n_batch;
    ref:src/exper.py:~150-220 sorts/pads per batch — here one Arrow record
    batch is one padded tensor)
  - shuffle partitions sized for the local core count (multi-executor
    clusters override via spark-submit --conf)
  - python worker reuse so broadcast model weights load once per worker
  - the driver JVM compiles with C1 only, with C1's inlining limits
    raised (``DRIVER_JIT_OPTIONS``). A local session's driver JVM runs
    the whole engine; with the JVM default, C2 compiling Spark's own
    planner and executor code took about half of a build's CPU for the
    first several builds of a session. The trade is a long session's
    steady state: once C2 has compiled the hot code (about eight builds
    in), a build runs about 10% slower in wall time under this profile
    (plain C1 ran 17-45% slower); ten builds in one session take about
    the same wall time under either. The flags are a
    ``defaultJavaOptions`` entry, so a caller's ``extraJavaOptions``
    still apply, and
    ``extra_conf={"spark.driver.defaultJavaOptions": ""}`` restores the
    JVM default. Executors keep the default: on a cluster they are
    long-lived, which is where C2 pays off. Under spark-submit the driver
    JVM starts before this code runs, so it keeps the default.
  - Python workers start from :mod:`char_ner_spark.worker_daemon`
    (``spark.python.daemon.module``). It drops Spark's ``pyspark.zip``,
    ``py4j-*-src.zip`` and spark-core jar from the worker's ``sys.path``
    and ``sys.path_importer_cache`` when the installed pyspark and py4j
    import without them and have the same ``version.py`` text, and
    otherwise leaves the path as Spark built it; it never drops a
    ``--py-files`` archive. Workers then import the pyspark the driver
    uses, and each task's ``importlib.invalidate_caches()`` walks no zip
    directory: 0.1-0.2 ms instead of 0.15-0.28 s of CPU. The module is
    named only for a local master whose workers find this package when
    they start (:func:`workers_find_package`), because the daemon is
    imported before any ``--py-files`` archive reaches a worker.
    ``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``
    restores Spark's default.

``local_frame`` builds the driver-side frames (template table, remaps,
canonical map, entities dimension, typed empty frames) so they plan as a
JVM ``LocalTableScan``.
"""

from __future__ import annotations

import os
import site

import pandas as pd
import pyarrow as pa
from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

#: rows per Arrow batch handed to the tagger UDF. Since round 5 the NN
#: batch size is decoupled from the Arrow batch (tagger.BATCH_ROWS chunks
#: each call internally, keeping the recurrent scratch L2-resident), so
#: this only sets the Python-crossing granularity: bigger batches amortize
#: Arrow/pandas conversion and give the tagger's in-batch sentence dedup
#: and length-bucketing more rows to work with. Measured on the sf1.0
#: bench corpus (1M pages, local[24]): tag stage 60.3s at 512 → 52.4s at
#: 2048; 4096 regressed (noisy windows, larger per-batch latency).
#: Memory stays bounded: 2048 pages ≈ 2 MB of html in, ~13k mention rows
#: out per batch.
ARROW_BATCH_ROWS = 2048

#: the driver JVM's JIT profile (see the module docstring). C1 only makes
#: the JVM shrink its code cache from 240 MB to 48 MB, which Spark's code
#: fills after about eight builds in one session; the JVM then flushes
#: and recompiles methods every build, so the size is set back. C1's
#: inlining limits are raised from 35 bytecodes, 5 frames deep and 9
#: levels to 70, 10 and 15 (C2's level limit): Scala's small accessor and
#: collection calls then inline, which cut the steady-state gap to C2
#: code from 17-45% to about 10% per build.
DRIVER_JIT_OPTIONS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
                      " -XX:C1MaxInlineSize=70 -XX:C1InlineStackLimit=10"
                      " -XX:C1MaxInlineLevel=15")


#: the Python worker daemon build_session names (see the module docstring)
WORKER_DAEMON_MODULE = "char_ner_spark.worker_daemon"


def workers_find_package() -> bool:
    """Whether a local Python worker daemon finds this copy of the package
    when it starts. Spark runs it as ``python -m`` in the JVM's working
    directory, with the JVM's ``PYTHONPATH`` after Spark's own archives;
    a JVM this process starts inherits both. spark-submit starts the JVM
    first (``PYSPARK_GATEWAY_PORT`` is set), and that JVM's ``PYTHONPATH``
    lacks the driver's ``--py-files``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = list(site.getsitepackages())
    if not os.environ.get("PYTHONSAFEPATH"):
        paths.append(os.getcwd())
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        paths += os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return os.path.realpath(root) in {os.path.realpath(p) for p in paths if p}


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's RAM, capped at 16g: the local-mode JVM holds the
    whole engine in the driver heap, and the Python driver and workers
    need the other half. Hosts without ``/proc/meminfo`` get 16g."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "16g"
    return f"{min(kb // 2048, 16 * 1024)}m"


def _master_cores(master: str, cpus: int) -> int:
    """Task slots of a ``local[N]`` / ``local[N,F]`` master; ``cpus`` for
    ``local[*]`` and for a cluster master."""
    if not master.startswith("local"):
        return cpus
    n = master.partition("[")[2].rstrip("]").split(",")[0]
    return cpus if n in ("", "*") else int(n)


def build_session(
    app_name: str = "char_ner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's config profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally. Under
    spark-submit (which starts the JVM first and sets
    ``PYSPARK_GATEWAY_PORT``) it defaults to the master spark-submit was
    given. ``shuffle_partitions`` defaults to the master's task slots
    (``$SPARK_GRAFT_CPUS`` for ``local[*]`` and cluster masters).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit's JVM holds the master as a system property, which
        # a SparkConf reads once the gateway is up
        SparkContext._ensure_initialized()
        master = SparkConf().get("spark.master", "")
    else:
        master = f"local[{cpus}]"
        builder = builder.master(master)
    if shuffle_partitions is None:
        # local: one wave; cluster: override to 2-3x total cores
        shuffle_partitions = _master_cores(master, cpus)

    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    if master.startswith("local") and workers_find_package():
        builder = builder.config("spark.python.daemon.module",
                                 WORKER_DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Driver-side ``rows`` (tuples, or a pandas frame with the schema's
    columns) as a DataFrame typed by ``schema`` (DDL or StructType).

    The rows go to the JVM as Arrow, so the frame plans as a
    ``LocalTableScan``, empty or not. ``createDataFrame`` over a list (or
    an empty pandas frame) makes a pickled Python RDD instead, and every
    scan of it starts a second pool of Python workers."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows[schema.names], schema=arrow,
                                     preserve_index=False)
    else:
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=arrow)
    return spark.createDataFrame(table, schema)
