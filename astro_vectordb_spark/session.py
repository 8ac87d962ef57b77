"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the config choices below are the ones
that matter identically on a 1000-executor cluster:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  so a hot key in a similarity join or group-by doesn't strand a task.
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- shuffle.partitions sized for the local harness; on a real cluster this
  is superseded by AQE's coalescing from an intentionally-high initial
  value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "astro_vectordb_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # make the package importable in Python WORKER processes no matter
    # the caller's cwd: workers re-exec python and resolve imports from
    # PYTHONPATH, not the driver's sys.path — without this, any
    # pandas_udf/mapInPandas stage fails with ModuleNotFoundError when
    # the driver was launched outside the repo root.  Must happen
    # before the JVM (and its worker env) is created.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame over driver-side Python ``rows`` (tuples, positional)
    with ``schema`` (a DDL string or ``StructType``), built as one Arrow
    table so Spark plans it as a ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` builds a Python RDD
    instead: every action on it starts Python workers and runs jobs
    (``first()`` on a one-row frame costs two), and each plan reading
    it shows ``Scan ExistingRDD``.  The local relation is folded into
    the plan on the driver (``LocalTableScan``; a ``first()`` runs no
    job).  The Arrow table path does not depend on
    ``spark.sql.execution.arrow.pyspark.enabled`` and has no silent
    non-Arrow fallback; empty ``rows`` work too.  Values convert as the
    list path converts them (Python or NumPy float64 into ``float``
    rounds to nearest; ``None`` is NULL)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-provided parquet tables.

    ``events.ts`` has shipped under two physical types across testdata
    generations: TIMESTAMP(NANOS), which Spark's parquet reader rejects
    unless read as long nanos (legacy conf) and converted, and plain
    TIMESTAMP(MICROS), which reads natively.  Branch on the dtype Spark
    actually read so both generations work.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes)["ts"] == "bigint":  # nanos-as-long generation
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        return df
    return spark.read.parquet(path)
