"""Generic sink surface (SURVEY §2.1 S5-S8, S10).

Overwrite semantics replace the reference's entire purge-Lambda dance
(sql/gold/README.md:31-45): Spark's dynamic partition overwrite
rewrites only the partitions present in the incoming data, and
`saveAsTable`/`CREATE OR REPLACE` keep the catalog in sync without
crawlers.

Independent sinks run concurrently (`run_sinks`), one driver thread per
sink, as the reference's Step Functions Map builds its gold CTAS in
parallel (SURVEY §3.1 step 4).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


def run_sinks(spark: SparkSession, sinks: Sequence[Callable[[], None]]) -> None:
    """Run independent writes at once, one thread per sink.

    Each thread inherits the caller's job group, description, tags and
    scheduler pool (`inheritable_thread_target(spark)`), so every job a
    sink starts is attributed like one the caller started itself. Under
    the default FIFO scheduler a later job never takes task slots from
    an earlier one: the overlap only fills idle cores and hides each
    job's driver-side latency (planning, scheduling, commit).

    Every sink runs to completion; the first failure in `sinks` order is
    then re-raised.
    """
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(sink)) for sink in sinks]
    for future in futures:  # all done: leaving the pool waited for them
        future.result()


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet sink (S6). Dynamic partition overwrite
    is set per-write (not inherited from the session), so overwrite
    touches only the partitions present in `df` — idempotent
    incremental re-runs even under a foreign SparkSession that left
    `partitionOverwriteMode` at its static default."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    """CSV sink (S10)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) managed table — the co-located-join
    layout. Two tables bucketed on the same key with the same bucket
    count join WITHOUT a shuffle (Exchange-free SortMergeJoin): the
    bucketing metadata proves co-partitioning to the planner. The
    right layout for fact tables that are repeatedly joined on the
    same key at 100 TB.

    Overwrite is made robust to a stale warehouse: with an in-memory
    catalog a table directory left by a PREVIOUS process isn't
    registered, and saveAsTable refuses the location
    (LOCATION_ALREADY_EXISTS) — so drop the catalog entry and clear
    the orphaned directory first. A persistent-metastore deployment
    hits neither branch."""
    import shutil  # noqa: PLC0415
    from pathlib import Path  # noqa: PLC0415
    from urllib.parse import urlparse  # noqa: PLC0415

    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        stale = Path(warehouse) / table.lower()
        if stale.exists():
            shutil.rmtree(stale)
    writer = df.write.mode(mode).format("parquet")
    if sort_col is not None:
        writer = writer.bucketBy(num_buckets, bucket_col).sortBy(sort_col)
    else:
        writer = writer.bucketBy(num_buckets, bucket_col)
    writer.saveAsTable(table)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (interchange exports; columnar formats remain
    the analytics layout)."""
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink, optionally Hive-partitioned."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)
