"""Bucketed cell layouts: shuffle-free co-located joins/aggregations.

The reference pre-splits its index tables so scans land balanced on
tablets (Splitters.scala:16-37; 128M tablet threshold
Z3Table.scala:163). Spark's physical analog for *joins* is bucketing:
two tables bucketed (and optionally sorted) on the same key with the
same bucket count sort-merge-join WITHOUT any Exchange, and a
groupBy on the bucket key aggregates without a shuffle. At 100 TB
this converts every repeated cell-keyed join (point x polygon-cover,
raster x vector, self-joins for dedup) from a full-table shuffle
into a per-bucket local merge.

Catalog note: `bucketBy` requires `saveAsTable` (bucket metadata
lives in the table catalog, not in parquet files); plain
`.parquet(path)` cannot express it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str = "cell",
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    clear_stale_location: bool = False,
    extra_bucket_cols: list[str] | None = None,
    table_properties: dict[str, str] | None = None,
) -> None:
    """Persist `df` bucketed (and sorted) by the cell key.

    Pick `n_buckets` once per dataset family — co-located joins
    require BOTH sides to share the bucket column semantics and
    count. Sorting within buckets additionally removes the sort
    stage of a sort-merge join.

    `clear_stale_location=True` deletes an orphaned managed-table
    directory (left by a previous session whose per-session Derby
    metastore died with it) before writing, so saveAsTable stays
    idempotent across sessions. It is OPT-IN and restricted to
    unqualified default-database names because in a warehouse shared
    by several live metastores the "orphan" may be another session's
    live table — never enable it on a shared warehouse.

    The guard additionally requires the session's CURRENT database to
    be `default`: `tableExists` resolves an unqualified name against
    the current database, but the `{warehouse}/{table}` path we would
    delete is the DEFAULT database's location — under `USE somedb`
    with a missing `somedb.t`, deleting would destroy a live
    `default.t`. When the current database is anything else we skip
    the cleanup entirely rather than guess at catalog locations.
    """
    spark = df.sparkSession
    if (
        clear_stale_location
        and "." not in table_name
        and spark.catalog.currentDatabase() == "default"
        and not spark.catalog.tableExists(table_name)
    ):
        wh = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(
            f"{wh.rstrip('/')}/{table_name.lower()}"
        )
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col, *(extra_bucket_cols or []))
        .sortBy(*(sort_cols or [bucket_col]))
    )
    w.saveAsTable(table_name)
    if table_properties:
        props = ", ".join(
            f"'{k}'='{v}'" for k, v in table_properties.items()
        )
        spark.sql(f"ALTER TABLE {table_name} SET TBLPROPERTIES ({props})")


def table_property(spark: SparkSession, table_name: str, key: str) -> str | None:
    """One TBLPROPERTIES value, or None when unset."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    for r in rows:
        if r.key == key:
            return r.value
    return None


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
