"""Table IO: Iceberg in production, parquet fallback in this sandbox.

The north rule reads/writes Iceberg tables of interleaved documents
(BASELINE.json input_hint). This container ships no Iceberg runtime jars, so
every call site routes through this module: when an Iceberg-capable catalog
is on the classpath the real ``format("iceberg")`` / ``writeTo(...)
.overwritePartitions()`` paths run; otherwise the parquet-dir equivalents
(with ``partitionOverwriteMode=dynamic`` giving the same idempotent
partition-replacement semantics run_checkpointed relies on).

Production wiring (documented, not testable here):

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \\
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
      --conf spark.sql.catalog.lake.type=rest ... job.py \\
      --input lake.db.documents --output lake.db.spans

A target with no '/' separator is treated as a catalog table identifier;
anything path-like is a parquet directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_ICEBERG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_ICEBERG_CLASS)  # noqa: SLF001
        return True
    except Exception:
        return False


def is_table_identifier(source: str) -> bool:
    """Catalog table (db.table / cat.db.table) vs filesystem path: a table
    identifier is slash-free AND dotted (a bare single segment like
    ``bench_out`` is a relative directory, not a table)."""
    return ("/" not in source and "." in source
            and not source.endswith(".parquet"))


def _require_iceberg(spark: SparkSession, source: str) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            f"'{source}' looks like a catalog table but no Iceberg "
            "runtime is on the classpath; pass a parquet path or add "
            "the iceberg-spark-runtime package")


def table_exists(spark: SparkSession, source: str) -> bool:
    """True when ``source`` exists: a catalog table, or a path on any
    Hadoop filesystem (local dirs and URIs alike). Checking first keeps a
    fresh target from costing a read that fails analysis."""
    if is_table_identifier(source):
        _require_iceberg(spark, source)
        return spark.catalog.tableExists(source)
    path = spark._jvm.org.apache.hadoop.fs.Path(source)  # noqa: SLF001
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs.exists(path)


def read_table(spark: SparkSession, source: str) -> DataFrame:
    """documents table -> DataFrame (Iceberg table or parquet dir)."""
    if is_table_identifier(source):
        _require_iceberg(spark, source)
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


def write_partitioned(df: DataFrame, target: str,
                      partition_col: str | list[str],
                      spark: SparkSession | None = None) -> None:
    """Idempotent partition-replacing write: Iceberg overwritePartitions
    (dynamic overwrite of exactly the partitions present in ``df``) or the
    parquet dynamic-partition-overwrite equivalent. ``partition_col`` may
    be one column or a list (e.g. ["batch_id", "part_id"] for the
    streaming sink, where each micro-batch owns its own partition space)."""
    spark = spark or df.sparkSession
    cols = ([partition_col] if isinstance(partition_col, str)
            else list(partition_col))
    if is_table_identifier(target):
        _require_iceberg(spark, target)
        if not spark.catalog.tableExists(target):
            # first write must CREATE the partitioned table —
            # overwritePartitions requires an existing one
            from pyspark.sql import functions as F
            df.writeTo(target).partitionedBy(
                *[F.col(c) for c in cols]).create()
            return
        df.writeTo(target).overwritePartitions()
        return
    # toggle the conf on df's OWN session: inside foreachBatch the batch
    # DataFrame carries a cloned session whose conf snapshot ignores later
    # changes to the outer session — setting dynamic mode there alone
    # leaves the clone on static overwrite, which wipes every partition of
    # the table on each micro-batch instead of replacing just the ones in
    # ``df`` (caught live: only the last batch's rows survived)
    conf = df.sparkSession.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(cols).parquet(target)
    finally:
        # restore the session-global setting (other writers in the same
        # session may rely on the default static semantics)
        if prev is None:
            conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def append_table(df: DataFrame, target: str,
                 spark: SparkSession | None = None) -> None:
    """Append rows (lineage): Iceberg append or parquet append."""
    spark = spark or df.sparkSession
    if is_table_identifier(target):
        _require_iceberg(spark, target)
        if not spark.catalog.tableExists(target):
            df.writeTo(target).create()
        else:
            df.writeTo(target).append()
        return
    df.write.mode("append").parquet(target)
