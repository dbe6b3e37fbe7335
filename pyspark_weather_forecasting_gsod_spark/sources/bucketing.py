"""Bucketed tables for shuffle-free co-located joins.

At 100 TB, a fact-fact join (lineitem ⨝ orders) shuffles both sides on every
run. Writing both tables bucketed by the join key (same bucket count) makes
the join a zero-exchange SortMergeJoin forever after — the shuffle is paid
once at write time. Spark bucketing rides the session catalog
(``saveAsTable``); bucket pruning also applies to equality filters on the
bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def drop_managed_table(spark: SparkSession, table: str) -> None:
    """Drop a managed table AND its surviving warehouse directory — the
    default in-memory catalog forgets tables across sessions but their
    directories survive, wedging the next ``saveAsTable`` with
    LOCATION_ALREADY_EXISTS.

    Path resolution (r06 review): the directory name is LOWERCASED; a
    db-qualified name lives under ``<db>.db/<table>`` EXCEPT the default
    database, whose tables sit directly under the warehouse root; a
    3-part name's catalog prefix is not a directory. Shared by
    ``write_bucketed`` and ``ext.graph.build_graph``."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    parts = table.lower().split(".")[-2:]
    if len(parts) == 2 and parts[0] != "default":
        rel = os.path.join(f"{parts[0]}.db", parts[1])
    else:
        rel = parts[-1]
    shutil.rmtree(os.path.join(wh, rel), ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    num_buckets: int = 64,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted) managed table.

    ``sort_by`` additionally sorts within buckets, which lets the join skip
    its sort as well — the full co-located merge-join fast path.
    """
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    if mode == "overwrite":
        drop_managed_table(spark, table)

    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode(mode).bucketBy(num_buckets, *cols)
    if sort_by:
        sort_cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)

