"""The workloads, each a closed loop with one client.

- `weekly_increment`: silver and gold are built once from a seeded raw
  corpus; one op = one new draw lands in raw and
  `run_pipeline(..., gold_path=...)` runs incrementally. The op's
  additions are undone outside the timed region.
- `analyst_queries`: one op = one catalog query, built and collected;
  a pass runs the fixed mix in a seed-permuted order.

Each workload exposes `setup()`, `warmup()`, `op(k)` (timed, untraced)
and `traced_op(k, tracer)` (the same work split into layer spans), plus
`check()` (once per run, outside the timed region) and `probe()`
(traced run only). `pass_ops` ops make one pass of the workload.
"""

from __future__ import annotations

import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import duckdb
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.operators.gold import (
    GOLD_BUILDERS,
    GOLD_PARTITIONS,
    gold_sql,
)
from lottery_end_to_end_etl_data_pipeline_spark.operators.quality import observed
from lottery_end_to_end_etl_data_pipeline_spark.operators.silver import (
    conform_premios,
    conform_sorteos,
    filter_unprocessed,
    register_silver,
    with_partitions,
    write_silver,
)
from lottery_end_to_end_etl_data_pipeline_spark.plans.pipeline import run_pipeline
from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (
    ORACLE,
    QUERIES,
    TABLES,
)
from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import (
    parse_draws,
    read_raw_draws,
)

import corpus
import tables
from spans import Tracer, catalyst_phases_ms

#: draws in the pipeline corpus: 4 ordinarios + 1 extraordinario
CORPUS_DRAWS = 5
#: prizes per draw of the parse-cost probe (traced run only)
PROBE_SIZES = (100, 300, 1000, 2000)
PROBE_DRAWS = 4
#: op index of the untimed warm-up increment
WARMUP_OP = 10_000
#: fixed generator seed of the query tables; `--seed` permutes the mix
TABLES_SEED = 42

EDA = (
    "star_join_revenue",
    "gold_draw_summary_shape",
    "value_counts",
    "topk_per_group_window",
    "odds_by_draw_type",
)
CURATION = (
    "dedup_prefix_filter_join",
    "knn_join_topk",
    "knn_brute_cosine",
    "bm25_topk",
)
MIX = EDA + CURATION


@dataclass
class OpResult:
    seconds: float
    ok: bool


def _tree(root: Path) -> tuple[int, int]:
    """(data files, bytes) under `root`, Spark's marker files excluded."""
    files = [p for p in root.rglob("part-*") if p.is_file()] if root.exists() else []
    return len(files), sum(p.stat().st_size for p in files)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def gold_mismatches(silver: Path, gold: Path, normalize) -> list[str]:
    """Gold tables that differ from `gold_sql()` run by DuckDB over the
    written silver."""
    con = duckdb.connect()
    try:
        for view, table in (("silver_sorteos", "sorteos"), ("silver_premios", "premios")):
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet("
                f"'{silver}/{table}/**/*.parquet', hive_partitioning=1)"
            )
        bad = []
        for name, sql in gold_sql().items():
            want = con.sql(sql.replace(" AS STRING", " AS VARCHAR"))
            got = con.sql(
                f"SELECT * FROM read_parquet('{gold}/{name}/**/*.parquet', hive_partitioning=1)"
            )
            if normalize([c.lower() for c in got.columns], got.fetchall()) != normalize(
                [c.lower() for c in want.columns], want.fetchall()
            ):
                bad.append(name)
        return bad
    finally:
        con.close()


class WeeklyIncrement:
    pass_ops = 1

    def __init__(self, spark, work: Path, seed: int, normalize):
        self.spark, self.work, self.seed, self.normalize = spark, work, seed, normalize
        self.raw, self.silver, self.gold = work / "raw", work / "silver", work / "gold"
        self.glob = str(self.raw / "*" / "*" / "*.txt")
        self.draws: list[corpus.Draw] = []
        self.checked = ["gold check did not run"]

    def setup(self) -> None:
        for p in (self.raw, self.silver, self.gold):
            shutil.rmtree(p, ignore_errors=True)
        self.draws = corpus.make_corpus(self.seed, CORPUS_DRAWS)
        corpus.write_draws(self.raw, self.draws)

    def _traced_pipeline(self, tr: Tracer, op: str) -> dict:
        """`run_pipeline`'s public calls, in its order, one span each."""
        spark, S, silver, gold = self.spark, tr.span, self.silver, self.gold
        with S(op, "bronze.read"):
            raw = read_raw_draws(spark, self.glob)
        with S(op, "bronze.parse"):
            sorteos, premios = parse_draws(raw, strict=True)
            premios, parsed = observed(premios, "parsed", {"n": F.count(F.lit(1))})
        with S(op, "silver.conform"):
            sorteos, premios = conform_sorteos(sorteos), conform_premios(premios)
        with S(op, "silver.incremental"):
            try:
                existing = spark.read.parquet(f"{silver}/sorteos")
            except AnalysisException:  # first run: nothing processed yet
                existing = None
            sorteos = filter_unprocessed(sorteos, existing)
            premios = filter_unprocessed(premios, existing)
        with S(op, "silver.partitions"):
            sorteos, premios = with_partitions(sorteos, premios, strict=True)
        files0, bytes0 = _tree(silver)
        with S(op, "silver.write"):
            sorteos, s_obs = observed(sorteos, "sorteos_write", {"n_rows": F.count(F.lit(1))})
            premios, p_obs = observed(premios, "premios_write", {"n_rows": F.count(F.lit(1))})
            write_silver(sorteos, premios, str(silver), mode="overwrite")
            new_draws, new_premios = int(s_obs.get["n_rows"]), int(p_obs.get["n_rows"])
        files1, bytes1 = _tree(silver)
        with S(op, "silver.register"):
            register_silver(spark, str(silver))
        p, s = spark.table("silver_premios"), spark.table("silver_sorteos")
        for name, builder in GOLD_BUILDERS.items():
            with S(op, f"gold.{name[len('gold_'):]}"):
                writer = builder(p, s).write.mode("overwrite")
                if GOLD_PARTITIONS[name]:
                    writer = writer.partitionBy(*GOLD_PARTITIONS[name])
                writer.parquet(f"{gold}/{name}")
        return {
            "new_draws": new_draws,
            "new_premios": new_premios,
            "premios_parsed": int(parsed.get["n"]),
            "silver_files": files1 - files0,
            "silver_bytes": bytes1 - bytes0,
            "gold_files": _tree(gold)[0],
            "raw_bytes": sum(p.stat().st_size for p in self.raw.rglob("*.txt")),
        }

    def probe(self) -> tuple[dict, list[str]]:
        """Isolated parse materialisations: the whole corpus, ordinario
        vs extraordinario draws, and parse time against prizes per draw."""
        spark = self.spark

        def parse_secs(paths) -> tuple[float, int]:
            _, premios = parse_draws(read_raw_draws(spark, paths), strict=True)
            premios, obs = observed(premios, "probe", {"n": F.count(F.lit(1))})
            return _noop(premios), int(obs.get["n"])

        layers = {}
        layers["bronze.parse_exec_s"], _ = parse_secs(self.glob)
        for kind, key in (("ORDINARIO", "small"), ("EXTRAORDINARIO", "large")):
            paths = [str(self.raw / d.relpath) for d in self.draws if d.tipo == kind]
            secs, n = parse_secs(paths)
            layers[f"bronze.{key}_draw_premios_per_s"] = n / secs
        lines = ["parse_exec_s vs prizes per draw "
                 f"({PROBE_DRAWS} draws per size, one noop materialisation each):"]
        rng = random.Random(f"{self.seed}/probe")
        base = None
        for size in PROBE_SIZES:
            root = self.work / "probe" / f"size{size}"
            draws = [corpus.make_draw(rng, 90000 + size * 10 + i, "ORDINARIO", 2024, size)
                     for i in range(PROBE_DRAWS)]
            corpus.write_draws(root, draws)
            secs, n = parse_secs(str(root / "*" / "*" / "*.txt"))
            base = base or (secs, size)
            lines.append(
                f"  prizes/draw={size:5d}  parse_exec_s={secs:7.3f}  "
                f"us/premio={1e6 * secs / n:8.1f}  "
                f"time x{secs / base[0]:5.2f} for prizes x{size / base[1]:5.1f}"
            )
        shutil.rmtree(self.work / "probe", ignore_errors=True)
        return layers, lines

    def warmup(self) -> None:
        """The initial build of silver and gold from the corpus, then one
        untimed increment (its draw is never a timed op's)."""
        res = run_pipeline(self.spark, self.glob, str(self.silver), gold_path=str(self.gold))
        if res.new_draws != len(self.draws):
            raise RuntimeError(f"initial build landed {res.new_draws} of {len(self.draws)} draws")
        self.op(WARMUP_OP)

    def _increment(self, k: int, run) -> tuple[OpResult, dict | None]:
        """Land draw k, time `run()`, check gold after op 0, then undo
        the draw's raw file and silver partitions (untimed)."""
        draw = corpus.increment_draw(self.seed, k, self.draws)
        corpus.write_draws(self.raw, [draw])
        try:
            t0 = time.perf_counter()
            landed, out = run()
            secs = time.perf_counter() - t0
            if k == 0:
                self.checked = gold_mismatches(self.silver, self.gold, self.normalize)
        finally:
            part = Path(draw.relpath).parent
            shutil.rmtree(self.raw / part)
            for table in ("sorteos", "premios"):
                shutil.rmtree(self.silver / table / part, ignore_errors=True)
        return OpResult(secs, landed == (1, draw.n_premios)), out

    def op(self, k: int) -> OpResult:
        def run():
            res = run_pipeline(self.spark, self.glob, str(self.silver), gold_path=str(self.gold))
            return (res.new_draws, res.new_premios), None

        return self._increment(k, run)[0]

    def traced_op(self, k: int, tr: Tracer) -> tuple[OpResult, dict]:
        def run():
            out = self._traced_pipeline(tr, str(k))
            return (out["new_draws"], out["new_premios"]), out

        return self._increment(k, run)

    def check(self) -> list[str]:
        return self.checked


class AnalystQueries:
    pass_ops = len(MIX)

    def __init__(self, spark, work: Path, seed: int, normalize):
        self.spark, self.work, self.seed, self.normalize = spark, work, seed, normalize
        self.data = work / "tables"
        self.results: dict[str, list] = {}
        self.order: list[str] = []

    def setup(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        tables.write_tables(self.data, TABLES_SEED)
        self.results = {name: [] for name in MIX}

    def entry(self, k: int) -> str:
        """The k-th op's query: pass k // len(MIX), seed-permuted."""
        n, i = divmod(k, len(MIX))
        if i == 0:
            self.order = list(MIX)
            random.Random(f"{self.seed}/{n}").shuffle(self.order)
        return self.order[i]

    def warmup(self) -> None:
        """Two passes: the first is cold, and the second still runs ~10%
        slower than later ones, which would otherwise tie the measured
        times to how many passes a run fits."""
        for _ in range(2):
            for name in MIX:
                QUERIES[name](self.spark, str(self.data)).collect()

    def _keep(self, name, df, rows) -> None:
        cols = [c.lower() for c in df.columns]
        self.results[name].append(self.normalize(cols, [tuple(r) for r in rows]))

    def op(self, k) -> OpResult:
        name = self.entry(k)
        t0 = time.perf_counter()
        df = QUERIES[name](self.spark, str(self.data))
        rows = df.collect()
        secs = time.perf_counter() - t0
        self._keep(name, df, rows)
        return OpResult(secs, True)

    def traced_op(self, k, tr: Tracer) -> tuple[OpResult, dict]:
        name = self.entry(k)
        t0 = time.perf_counter()
        with tr.span(str(k), "query.construct", entry=name):
            df = QUERIES[name](self.spark, str(self.data))
        with tr.span(str(k), "query.collect", entry=name):
            rows = df.collect()
        secs = time.perf_counter() - t0
        self._keep(name, df, rows)
        return OpResult(secs, True), {"entry": name, "catalyst": catalyst_phases_ms(df)}

    def check(self) -> list[str]:
        """One name per op whose result differs from its entry's DuckDB
        ORACLE result."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
                )
            bad = []
            for name, got in self.results.items():
                if not got:
                    continue
                rel = con.sql(ORACLE[name])
                want = self.normalize([c.lower() for c in rel.columns], rel.fetchall())
                bad += [name] * sum(1 for r in got if r != want)
            return bad
        finally:
            con.close()

    def probe(self) -> tuple[dict, list[str]]:
        return {}, []


WORKLOADS = {
    "weekly_increment": WeeklyIncrement,
    "analyst_queries": AnalystQueries,
}


