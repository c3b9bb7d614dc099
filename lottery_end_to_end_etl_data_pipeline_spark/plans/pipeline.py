"""Batch pipeline runner — replaces the reference's Step Functions
orchestration (SURVEY §3.1) with one driver program over one session:

    discover raw → file-level incremental guard → parse → conform →
    draw-id incremental guard → silver writes → catalog registration →
    gold rebuild

Idempotent and re-runnable: the incremental guard drops raw files
whose `sorteo=` key silver already holds, then left-anti joins the
parsed draws against existing silver (S4); writes use dynamic
partition overwrite (no purge machinery); gold is rebuilt with
overwrite semantics. Independent sinks run concurrently.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.operators import gold as gold_mod
from lottery_end_to_end_etl_data_pipeline_spark.operators.quality import (
    observed,
    validate_silver,
)
from lottery_end_to_end_etl_data_pipeline_spark.operators.silver import (
    conform_premios,
    conform_sorteos,
    filter_unprocessed,
    register_silver,
    unprocessed_files,
    with_partitions,
    write_silver,
)
from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import (
    parse_draws,
    read_raw_draws,
    read_raw_files,
)


@dataclass
class PipelineResult:
    new_draws: int
    new_premios: int
    gold_tables: list[str] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    raw_glob: str,
    silver_path: str,
    gold_path: str | None = None,
    simple_path: str | None = None,
    incremental: bool = True,
    strict: bool = True,
    dq_enforce: bool = False,
) -> PipelineResult:
    """One end-to-end batch run (the weekly cron body, minus AWS).

    With ``incremental`` and an existing silver ``sorteos`` table, the
    run first drops every raw file whose `sorteo=<id>` key already has
    a silver partition (driver-side listings, no Spark job), parses
    only the rest, then left-anti joins the parsed draw ids against
    silver, which also catches files without a key and files whose
    header disagrees with their path. A silver table that cannot be
    read is an error, not a first run. ``strict=True`` validates only
    the files it parses, as the reference does.

    ``dq_enforce=True`` runs the silver expectation suite as a
    blocking gate before any write (the reference's planned PR-033
    wiring) — a DataQualityError aborts the run with nothing written.

    The silver sinks, and then the 7 gold writes, each run on their
    own driver thread; the caller's job group, description, tags and
    scheduler pool carry over to every job they start.
    """
    existing = None
    if incremental:
        try:
            existing = spark.read.parquet(f"{silver_path}/sorteos")
        except AnalysisException:  # first run: nothing processed yet
            pass
    raw = read_raw_draws(spark, raw_glob)
    if existing is not None:
        files = raw.inputFiles()
        new_files = unprocessed_files(files, existing)
        if len(new_files) < len(files):
            raw = read_raw_files(spark, new_files)

    sorteos_raw, premios_raw = parse_draws(raw, strict=strict)
    sorteos = filter_unprocessed(conform_sorteos(sorteos_raw), existing)
    premios = filter_unprocessed(conform_premios(premios_raw), existing)

    sorteos, premios = with_partitions(sorteos, premios, strict=strict)
    if dq_enforce:
        validate_silver(sorteos, premios, enforce=True)

    # Batch sizes come from Observations riding the write jobs — the
    # parse lineage is evaluated ONCE (the writes), not three times
    # (count + count + write, the pre-Observation shape). An empty
    # batch's dynamic-partition write touches no partitions, so the
    # unconditional write keeps the no-op re-run contract.
    sorteos, s_obs = observed(
        sorteos, "sorteos_write", {"n_rows": F.count(F.lit(1))}
    )
    premios, p_obs = observed(
        premios, "premios_write", {"n_rows": F.count(F.lit(1))}
    )
    write_silver(
        sorteos, premios, silver_path, simple_path=simple_path, mode="overwrite"
    )
    n_draws = int(s_obs.get["n_rows"])
    n_premios = int(p_obs.get["n_rows"])

    register_silver(spark, silver_path)
    result = PipelineResult(new_draws=n_draws, new_premios=n_premios)

    if gold_path is not None:
        golds = gold_mod.build_all(
            spark.table("silver_premios"), spark.table("silver_sorteos"), gold_path
        )
        result.gold_tables = sorted(golds)
    return result
