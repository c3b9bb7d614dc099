"""Silver conformance + partitioned writes + incremental guard.

Reference parity (`transformer.py:151-266`, SURVEY §1.2/§2.1):
- premios: N/A-literal → NULL, numero_sorteo long default 0,
  numero_premiado nullable long, monto double default 0.0, strings
  nullable (transformer.py:166-175).
- sorteos: reintegros CSV split into 3 nullable longs padded with
  NULLs (transformer.py:182-204), prize numbers nullable longs,
  dates dd/MM/yyyy coerce-to-NULL (transformer.py:213-222),
  year partition from fecha_sorteo with a hard error when a draw has
  no parseable date (transformer.py:225-229).
- writes: Hive-partitioned parquet `year=/sorteo=/`
  (transformer.py:253-258) plus the optional flat "simple" copy
  (transformer.py:244-248).
- incremental guard (S4): the reference set-differences discovered
  draw ids against already-processed ones (s3_utils.py:46-58,
  transformer.py:92-118) — here a file-level key filter on the
  driver's listings before the parse, then a left-anti join, fully
  distributed, on the parsed draw ids.

Scale notes: `partitionBy("year", "sorteo")` gives automatic partition
pruning downstream; dynamic partition overwrite keeps re-runs
idempotent without the reference's purge Lambda (SURVEY §4).
"""

from __future__ import annotations

import re
from functools import partial
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.functions.coercion import (
    coerce_date_ddmmyyyy,
    coerce_double,
    coerce_long,
    normalize_na,
)
from lottery_end_to_end_etl_data_pipeline_spark.schemas import (
    PREMIOS_COLUMNS,
    SORTEOS_COLUMNS,
)
from lottery_end_to_end_etl_data_pipeline_spark.sources.writers import (
    run_sinks,
    write_parquet_partitioned,
)


def conform_premios(premios_raw: DataFrame) -> DataFrame:
    """Apply the premios Silver contract (transformer.py:164-175)."""
    df = premios_raw
    for c in ("letras", "vendedor", "ciudad", "departamento"):
        df = df.withColumn(c, normalize_na(F.col(c)))
    return df.select(
        coerce_long("numero_sorteo", default=0).alias("numero_sorteo"),
        coerce_long("numero_premiado").alias("numero_premiado"),
        F.col("letras").cast("string").alias("letras"),
        coerce_double("monto", default=0.0).alias("monto"),
        F.col("vendedor").cast("string").alias("vendedor"),
        F.col("ciudad").cast("string").alias("ciudad"),
        F.col("departamento").cast("string").alias("departamento"),
    )


def conform_sorteos(sorteos_raw: DataFrame) -> DataFrame:
    """Apply the sorteos Silver contract (transformer.py:179-222).

    `reintegros` arrives as a comma-joined string ("6,0,2"); split and
    pad to exactly 3 nullable longs like the reference's expand+pad
    (transformer.py:182-196).
    """
    parts = F.split(F.col("reintegros").cast("string"), ",")
    return sorteos_raw.select(
        coerce_long("numero_sorteo", default=0).alias("numero_sorteo"),
        F.col("tipo_sorteo").cast("string").alias("tipo_sorteo"),
        coerce_date_ddmmyyyy("fecha_sorteo").alias("fecha_sorteo"),
        coerce_date_ddmmyyyy("fecha_caducidad").alias("fecha_caducidad"),
        coerce_long("primer_premio").alias("primer_premio"),
        coerce_long("segundo_premio").alias("segundo_premio"),
        coerce_long("tercer_premio").alias("tercer_premio"),
        coerce_long(F.get(parts, 0)).alias("reintegro_primer_premio"),
        coerce_long(F.get(parts, 1)).alias("reintegro_segundo_premio"),
        coerce_long(F.get(parts, 2)).alias("reintegro_tercer_premio"),
    )


def with_partitions(sorteos: DataFrame, premios: DataFrame, strict: bool = True
                    ) -> tuple[DataFrame, DataFrame]:
    """Derive the (year, sorteo) partition columns (transformer.py:225-230).

    The reference refuses to write a draw whose fecha_sorteo could not
    be parsed (cannot derive the year partition). strict=True keeps
    that contract, touching only the offending draw ids.
    """
    if strict:
        bad = (
            sorteos.filter(F.col("fecha_sorteo").isNull())
            .select("numero_sorteo")
            .limit(20)
            .collect()
        )
        if bad:
            ids = ", ".join(str(r["numero_sorteo"]) for r in bad)
            raise ValueError(
                f"Invalid fecha_sorteo for sorteo={ids}. Cannot derive year partition."
            )
    s = sorteos.withColumn("year", F.year("fecha_sorteo").cast("int")).withColumn(
        "sorteo", F.col("numero_sorteo")
    )
    # premios gets its year from the owning draw (broadcast-sized dim:
    # 1 row per draw).
    p = premios.join(
        F.broadcast(s.select("numero_sorteo", "year")), "numero_sorteo", "left"
    ).withColumn("sorteo", F.col("numero_sorteo"))
    return s, p


def unprocessed_files(raw_files: list[str], silver_sorteos: DataFrame | None) -> list[str]:
    """S4 incremental guard at file level, before the parse: drop every
    raw file whose path carries a `sorteo=<id>` key that already has a
    silver `sorteos` partition — the reference's key listing set-
    differenced against the processed draw numbers (s3_utils.py:46-58,
    transformer.py:92-118).

    Both sides are driver-side file listings (the raw read's and the
    silver read's `inputFiles()`), so the guard runs no Spark job. Keys
    compare as the integer the silver partition holds; a raw file with
    no key, or a key that is not an integer, is never dropped —
    `filter_unprocessed` after the parse still guarantees the draw ids.
    """
    if silver_sorteos is None:
        return raw_files
    seen = {_sorteo_key(f) for f in silver_sorteos.inputFiles()} - {None}
    return [f for f in raw_files if _sorteo_key(f) not in seen]


def _sorteo_key(uri: str) -> int | None:
    """The integer value of the innermost `sorteo=` directory of a
    listed file's URI, or None."""
    dirs = unquote(urlparse(uri).path).split("/")[:-1]
    keys = [d[len("sorteo="):] for d in dirs if d.startswith("sorteo=")]
    return int(keys[-1]) if keys and re.fullmatch(r"-?[0-9]+", keys[-1]) else None


def filter_unprocessed(discovered: DataFrame, silver_sorteos: DataFrame | None) -> DataFrame:
    """S4 incremental guard as a left-anti join (replaces
    s3_utils.py:46-58's driver-side set difference). It keeps the
    draw-id guarantee behind `unprocessed_files`: it also drops draws
    from raw files without a `sorteo=` key and from files whose header
    disagrees with their path."""
    if silver_sorteos is None:
        return discovered
    seen = silver_sorteos.select(F.col("numero_sorteo").alias("_seen_id")).distinct()
    return discovered.join(
        seen, discovered["numero_sorteo"] == seen["_seen_id"], "left_anti"
    )


def write_silver(
    sorteos: DataFrame,
    premios: DataFrame,
    silver_path: str,
    simple_path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """S5/S6 sinks: Hive-partitioned canonical + optional flat copy.

    Dynamic partition overwrite is set per-write so incremental
    re-runs only rewrite the partitions present in the batch, even
    under a foreign SparkSession whose `partitionOverwriteMode` is
    left at the static default (which would wipe the whole table).

    The sinks (2 partitioned, plus 2 flat with `simple_path`) run
    concurrently, one driver thread each (`writers.run_sinks`); a
    failing sink is raised after the others have finished."""
    tables = [(sorteos, "sorteos", SORTEOS_COLUMNS), (premios, "premios", PREMIOS_COLUMNS)]
    sinks = [
        partial(write_parquet_partitioned, df.select(*cols, "year", "sorteo"),
                f"{silver_path}/{name}", ["year", "sorteo"], mode)
        for df, name, cols in tables
    ]
    if simple_path:
        sinks += [
            partial(df.select(*cols).write.mode(mode).parquet, f"{simple_path}/{name}")
            for df, name, cols in tables
        ]
    run_sinks(sorteos.sparkSession, sinks)


def register_silver(spark, silver_path: str) -> None:
    """Catalog registration replacing the Glue crawlers
    (catalog/main.tf:37-94): temp views over the partitioned layout,
    with partition discovery + pruning for free."""
    spark.read.parquet(f"{silver_path}/sorteos").createOrReplaceTempView("silver_sorteos")
    spark.read.parquet(f"{silver_path}/premios").createOrReplaceTempView("silver_premios")
