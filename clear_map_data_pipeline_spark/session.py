"""SparkSession construction.

Local test mode is ``local[N]`` (one JVM); at cluster scale the same
settings apply, with AQE handling runtime re-planning and skew joins.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import types as T


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via ``addPyFile``.

    cloudpickle serializes UDF/``applyInPandas`` functions *by reference*
    to their defining module, so workers must be able to import
    ``clear_map_data_pipeline_spark`` themselves.  That holds when the
    driver runs from the repo root (cwd on sys.path) but not when a
    harness imports ``__spark_entry__.py`` by path from elsewhere — so we
    zip the package once per SparkContext and register it.  On a real
    cluster this is exactly how the package would be deployed
    (``--py-files``); the zip is ~tens of KB, negligible either way.
    """
    sc = spark.sparkContext
    if getattr(sc, "_cmdp_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(), "clear_map_data_pipeline_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    sc._cmdp_pkg_shipped = True


def normalize_parquet_confs(spark: SparkSession) -> None:
    """Runtime SQL confs every parquet read path needs (see ``Tables``):
    nano-timestamp fixtures read as long, TIMESTAMP_NTZ inference off
    so naive-UTC fixture timestamps scan as plain TimestampType, and
    the session timezone pinned to UTC — all three are runtime-settable,
    so date bucketing (``to_date``/``window('1 day')``) agrees with the
    DuckDB naive-UTC oracle under ANY caller's session, not only ones
    built by ``get_spark`` (r02 ADVICE: an embedding caller's local-zone
    session would otherwise shift day boundaries)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_ts(df, col: str = "ts"):
    """Rebuild TimestampType from a nano-int64 fixture column (legacy
    nanosAsLong read); no-op when the scan already yields a timestamp
    (TIMESTAMP(MICROS) fixtures under ``normalize_parquet_confs``).
    Exact integer ns -> us (DIV, not double division: values near 2^60
    lose sub-us precision through a double)."""
    if dict(df.dtypes).get(col) == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    return df


def get_spark(
    app_name: str = "clear_map_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on: runtime shuffle coalescing + skew-join splitting, the main
      defense at 100 TB where static partition counts are always wrong.
    - UTC session timezone: parity with the DuckDB oracle (naive UTC).
    - Arrow on: vectorized Python <-> JVM transfer for the pandas-UDF
      operators (multimodal, spatial fallback).
    - shuffle.partitions ~= cores locally; on a real cluster AQE's
      coalescing makes the initial number mostly moot.

    Cores: ``cpus``, else $SPARK_GRAFT_CPUS, else every core this
    process may run on.
    """
    cpus = cpus or int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-batched Python UDTF evaluation (Spark 4): without it a
        # UDTF plans as row-at-a-time BatchEvalPythonUDTF — the same
        # pickled-per-row slow path the engine bans for UDFs
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # No console progress bars: they are pure stream noise, and in
        # the bench they flooded the driver's captured output tail so the
        # one-line stdout contract drowned (r08 verdict #1 — BENCH_r05..r08
        # all parsed:null; the r08 tail was 100% `[Stage N:...]` bars)
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    normalize_parquet_confs(spark)
    return spark


def literal_frame(spark: SparkSession, rows, ddl):
    """Driver-known rows as a LocalRelation — the zero-task form of
    ``spark.createDataFrame(rows, ddl)``.

    ``createDataFrame`` on a local list parallelizes it into
    ``defaultParallelism`` RDD slices, so every action over the frame —
    including the build side of a broadcast join — schedules one task
    per core (32 tasks for a 5-row dim on local[32]) plus a whole
    driver job per broadcast build.  Given a ``pyarrow.Table`` it builds
    a LocalRelation instead: broadcast builds collect it driver-side
    with ZERO jobs/tasks (measured ~0.25 s per broadcast build on
    local[32]).  The rows become one Arrow table in the DDL's types,
    so doubles keep their exact bits, strings need no escaping and
    empty arrays or frames keep the declared types.  An integer outside
    its column's range raises ``ValueError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    try:
        table = pa.table(
            [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    except OverflowError as e:  # outside int64; narrower types raise
        # ArrowInvalid, which is already a ValueError
        raise ValueError(f"literal_frame: {e}") from e
    return spark.createDataFrame(table, schema)


def data_proportional_partitions(df, target_bytes: int | None = None) -> int:
    """Partition count sized to the frame's estimated BYTES, not to the
    local core count (guide §2.1 right-sizing; r10-verdict task #1: a
    partition count pinned to ``defaultParallelism`` schedules 32 tiny
    tasks for a 2 MB column on local[32] and is simultaneously far too
    FEW partitions at 100 TB).  ``ceil(catalyst size estimate / target)``
    with the session's AQE advisory partition size as the default
    target — the same sizing policy AQE applies to post-shuffle
    coalescing.  Falls back to ``defaultParallelism`` when the estimate
    is unusable (missing stats read as 8 EB)."""
    spark = df.sparkSession
    fallback = spark.sparkContext.defaultParallelism
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return fallback
    if est <= 0 or est >= (1 << 50):
        return fallback
    if target_bytes is None:
        try:
            raw = spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
            )
            target_bytes = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(  # noqa: E501
                    raw
                )
            )
        except Exception:
            target_bytes = 64 << 20
    return max(1, -(-est // max(target_bytes, 1)))


def spread_small_scan(df):
    """Repartition a many-rows-few-partitions frame up to the session's
    parallelism so per-row expression work (hashing, shingling, vector
    math) doesn't serialize on one task.

    Small benchmark fixtures arrive as ONE parquet row group = one
    partition, which turns CPU-bound map stages into single-threaded
    stages (measured 2.3x on the MinHash pipeline at sf0.1).  The
    condition makes this a no-op at scale: a 100 TB input already has
    thousands of splits, so the full-body shuffle is never paid there.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < target:
        return df.repartition(target)
    return df


class Tables:
    """Lazy accessor for the driver's parquet fixture tables.

    ``Tables(spark, sf_dir).lineitem`` -> DataFrame over
    ``{sf_dir}/lineitem.parquet``.  Reads are lazy logical plans; Catalyst
    prunes columns and pushes predicates into the parquet scan.  Each
    table is read once per instance and the frame is reused, so builders
    that consume a table several times pay its schema-inference job
    once.

    Timestamp normalization (both confs are runtime-settable SQL confs,
    so they work under any caller's session):

    - Fixtures that store timestamps as parquet TIMESTAMP(NANOS) (no
      native Spark type): legacy nanos-as-long read + exact integer
      division rebuild to TimestampType.
    - Fixtures that store TIMESTAMP(MICROS) without UTC adjustment:
      Spark 4 infers TIMESTAMP_NTZ by default, which forbids the
      epoch-seconds casts the engine and the DuckDB oracle both rely on
      (``CAST(ts AS BIGINT)``).  We disable NTZ inference so scans
      yield plain TimestampType interpreted in the session's UTC zone —
      bit-identical to the naive-UTC reading DuckDB applies.
    """

    NAMES = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()

    _NANO_TS_COLS = {
        "events": ["ts"],
        "orders": ["o_orderdate"],
        "lineitem": ["l_shipdate"],
    }

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        normalize_parquet_confs(spark)

    def __getattr__(self, name: str):
        if name not in self.NAMES:
            raise AttributeError(name)
        df = self._spark.read.parquet(f"{self._sf_dir}/{name}.parquet")
        for c in self._NANO_TS_COLS.get(name, []):
            df = normalize_ts(df, c)
        # later reads of the name find the frame without __getattr__
        self.__dict__[name] = df
        return df
