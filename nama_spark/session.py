"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow on (all Python UDFs are
pandas/Arrow batched — per-row Python UDFs are banned engine-wide),
shuffle partitions sized to parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "nama_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Parameters
    ----------
    cores : parallelism for local mode ("*", 8, 32...). Defaults to
        $SPARK_GRAFT_CPUS or "*". On a real cluster this is ignored —
        spark-submit supplies the master.
    shuffle_partitions : defaults to 2× cores in local mode (small
        partitions coalesced back by AQE), or 32.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, 2 * int(cores))
        except (TypeError, ValueError):
            shuffle_partitions = 32

    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash joins when one
        # side's per-partition build fits — the engine's verify stages join
        # a huge fan-out stream against a small keyed set, where SMJ pays
        # two large sorts for nothing. The AQE threshold additionally
        # rewrites SMJ→SHJ at runtime from OBSERVED map sizes (64 MB per
        # partition build side), so the choice stays safe on skewed/big
        # inputs at cluster scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if local_dir:
        # local-mode shuffle spills funnel through one directory; pointing it
        # at tmpfs (e.g. /dev/shm/spark-tmp) removes the single-disk
        # bottleneck when benchmarking parallel scaling
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order).

    The one way the engine turns driver data into a frame. The rows go
    column-wise into a ``pyarrow.Table`` that streams into the JVM, so the
    frame is a JVM-resident relation. A list-backed ``createDataFrame``
    instead re-pickles its rows through Python workers on every
    evaluation. ``schema`` is a ``StructType`` or a DDL string; it is
    required because an empty row list has nothing to infer from.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def collect_rows(df: DataFrame, cap: int | None = None) -> list | None:
    """Rows of ``df`` as tuples, read by one Arrow collect (no ``Row``
    objects are built), bounded by ``limit(cap + 1)`` when ``cap`` is given;
    None when it holds more than ``cap`` rows."""
    table = (df if cap is None else df.limit(cap + 1)).toArrow()
    if cap is not None and table.num_rows > cap:
        return None
    return list(zip(*(c.to_pylist() for c in table.columns)))
