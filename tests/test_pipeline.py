"""`run_pipeline`'s incremental guards and concurrent sinks.

- The file-level guard drops raw files whose `sorteo=` key silver
  already holds before the parse; the post-parse anti-join still
  guarantees the draw ids.
- A silver table that cannot be read is an error, not a first run.
- The silver and gold sinks run on worker threads, yet every Spark job
  stays in the caller's job group, and a failing sink is raised after
  the others have finished.
"""

import random
import shutil
import warnings
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException

from lottery_end_to_end_etl_data_pipeline_spark.operators.gold import (
    GOLD_BUILDERS,
    build_all,
)
from lottery_end_to_end_etl_data_pipeline_spark.operators.silver import unprocessed_files
from lottery_end_to_end_etl_data_pipeline_spark.plans.pipeline import run_pipeline
from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import (
    parse_draws,
    read_raw_draws,
    read_raw_files,
)

from tests.fixture_gen import make_draw_text, write_fixture_corpus


def _corpus(tmp_path: Path, n_draws: int) -> tuple[str, str, list[Path]]:
    files = write_fixture_corpus(tmp_path / "raw", n_draws=n_draws, seed=11)
    return str(tmp_path / "raw" / "*" / "*" / "*.txt"), str(tmp_path / "silver"), files


def _part_files(root: Path) -> set[str]:
    return {str(p.relative_to(root)) for p in root.rglob("part-*")}


@contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()


def _group_jobs(sc, group: str) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _probe_job_id(sc, group: str) -> int:
    """Id of a one-task job run now: job ids are handed out in order,
    so two probes bracket every job started between them."""
    with _job_group(sc, group):
        sc.parallelize([0], 1).count()
    return max(_group_jobs(sc, group))


def test_unreadable_silver_raises_instead_of_relanding(spark, tmp_path):
    raw_glob, silver, _ = _corpus(tmp_path, 3)
    assert run_pipeline(spark, raw_glob, silver).new_draws == 3
    for part in Path(silver, "sorteos").rglob("part-*.parquet"):
        data = part.read_bytes()
        part.write_bytes(data[: len(data) // 2])  # footer gone
    premios_before = _part_files(Path(silver, "premios"))

    with pytest.raises(Exception) as err:
        run_pipeline(spark, raw_glob, silver)
    assert not isinstance(err.value, AnalysisException)
    assert _part_files(Path(silver, "premios")) == premios_before


def test_processed_raw_file_is_not_parsed_again(spark, tmp_path):
    """A processed draw's raw file later loses its HEADER: the strict
    run no longer parses it, so it lands the new draw only."""
    raw_glob, silver, files = _corpus(tmp_path, 4)
    held = tmp_path / "held"
    shutil.move(files[-1].parent, held)
    assert run_pipeline(spark, raw_glob, silver).new_draws == 3

    files[0].write_text("no sentinels in this file any more\n", encoding="utf-8")
    shutil.move(held, files[-1].parent)
    result = run_pipeline(spark, raw_glob, silver)
    assert result.new_draws == 1
    ids = {r["numero_sorteo"] for r in spark.read.parquet(f"{silver}/sorteos").collect()}
    assert ids == {3000, 3001, 3002, 3003}


def test_malformed_new_draw_still_raises_under_strict(spark, tmp_path):
    raw_glob, silver, _ = _corpus(tmp_path, 3)
    run_pipeline(spark, raw_glob, silver)
    bad = tmp_path / "raw" / "year=2025" / "sorteo=3999" / "sorteo_3999.txt"
    bad.parent.mkdir(parents=True)
    bad.write_text("no sentinels here\n", encoding="utf-8")
    with pytest.raises(ValueError, match="HEADER or BODY"):
        run_pipeline(spark, raw_glob, silver)


def test_raw_file_without_key_is_parsed_then_anti_joined(spark, tmp_path):
    raw_glob, silver, _ = _corpus(tmp_path, 3)
    loose = tmp_path / "raw" / "inbox" / "today" / "draw.txt"
    loose.parent.mkdir(parents=True)
    loose.write_text(
        make_draw_text(random.Random(1), 4000, "05/06/2025", "05/06/2026"),
        encoding="utf-8",
    )
    assert run_pipeline(spark, raw_glob, silver).new_draws == 4

    listed = read_raw_draws(spark, raw_glob).inputFiles()
    kept = unprocessed_files(listed, spark.read.parquet(f"{silver}/sorteos"))
    assert [Path(f).name for f in kept] == ["draw.txt"]
    second = run_pipeline(spark, raw_glob, silver)
    assert (second.new_draws, second.new_premios) == (0, 0)


def test_unprocessed_files_compares_integer_keys():
    class Silver:  # only the listing is read
        @staticmethod
        def inputFiles():
            return [
                "file:///s/sorteos/year=2024/sorteo=7/part-0.parquet",
                "file:///s/sorteos/year=2024/sorteo=12/part-0.parquet",
            ]

    raw = [
        "file:///r/year=2024/sorteo=007/a.txt",  # 7: processed
        "file:///r/year=2024/sorteo=12/b%20c.txt",  # 12: processed
        "file:///r/sorteo=7/inbox/f.txt",  # 7, on an outer directory
        "file:///r/year=2024/sorteo=8/d.txt",  # new key
        "file:///r/year=2024/sorteo=x7/e.txt",  # not an integer
        "file:///r/loose/sorteo=7.txt",  # a file name is not a key
    ]
    assert unprocessed_files(raw, Silver) == raw[3:]
    assert unprocessed_files(raw, None) == raw


def test_rerun_with_nothing_new_runs_no_parse_job(spark, tmp_path):
    raw_glob, silver, _ = _corpus(tmp_path, 3)
    run_pipeline(spark, raw_glob, silver)
    listed = read_raw_draws(spark, raw_glob).inputFiles()
    assert unprocessed_files(listed, spark.read.parquet(f"{silver}/sorteos")) == []

    raw = read_raw_files(spark, [])
    assert raw.inputFiles() == []
    sc = spark.sparkContext
    with _job_group(sc, "test-empty-parse"):
        sorteos, premios = parse_draws(raw, strict=True)
        assert sorteos.collect() == [] and premios.collect() == []
    assert _group_jobs(sc, "test-empty-parse") == set()


def test_read_raw_files_reads_listed_names_literally(spark, tmp_path):
    odd = tmp_path / "raw" / "year=2024" / "sorteo=9 [x]{a,b}" / "x%y z*.txt"
    odd.parent.mkdir(parents=True)
    odd.write_text(
        make_draw_text(random.Random(2), 9, "01/02/2024", "01/02/2025"),
        encoding="utf-8",
    )
    listed = read_raw_draws(spark, str(tmp_path / "raw" / "*" / "*" / "*.txt")).inputFiles()
    raw = read_raw_files(spark, listed)
    assert raw.inputFiles() == listed
    assert [r["file"] for r in raw.select("file").collect()] == listed


def test_pipeline_jobs_stay_in_callers_job_group(spark, tmp_path):
    raw_glob, silver, files = _corpus(tmp_path, 4)
    held = tmp_path / "held"
    shutil.move(files[-1].parent, held)
    gold = str(tmp_path / "gold")
    run_pipeline(spark, raw_glob, silver, gold_path=gold)
    shutil.move(held, files[-1].parent)

    sc = spark.sparkContext
    first = _probe_job_id(sc, "test-probe-before")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with _job_group(sc, "test-pipeline"):
            result = run_pipeline(spark, raw_glob, silver, gold_path=gold)
    last = _probe_job_id(sc, "test-probe-after")

    assert result.new_draws == 1
    in_group = _group_jobs(sc, "test-pipeline")
    assert in_group and in_group == set(range(first + 1, last))
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_failing_gold_sink_raises_after_the_others_finish(spark, tmp_path):
    raw_glob, silver, _ = _corpus(tmp_path, 3)
    run_pipeline(spark, raw_glob, silver)  # registers the silver views
    gold = tmp_path / "gold"
    gold.mkdir()
    # a regular file where a year-partitioned table's directory goes
    (gold / "gold_geo_winnings").write_text("not a directory")

    with pytest.raises(Exception):
        build_all(spark.table("silver_premios"), spark.table("silver_sorteos"), str(gold))
    finished = {p.relative_to(gold).parts[0] for p in gold.rglob("part-*.parquet")}
    assert finished == set(GOLD_BUILDERS) - {"gold_geo_winnings"}


def test_simple_path_sinks_write_flat_copies(spark, tmp_path):
    raw_glob, silver, _ = _corpus(tmp_path, 3)
    flat = tmp_path / "flat"
    run_pipeline(spark, raw_glob, silver, simple_path=str(flat))
    for table in ("sorteos", "premios"):
        got = spark.read.parquet(str(flat / table))
        want = spark.read.parquet(f"{silver}/{table}").drop("year", "sorteo")
        assert got.columns == want.columns
        assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
