"""Metric catalog and the per-layer numbers of a traced run.

End-to-end metrics come from the untraced ops of a `--trace 0` run;
per-layer metrics from the spans and Spark counters of a `--trace 1`
run. Pipeline layer numbers are medians over the traced ops; query
layer numbers are sums over the mix of per-entry medians (one pass);
`spark.*` numbers are per-op means over the traced ops. A layer the
workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

from lottery_end_to_end_etl_data_pipeline_spark.operators.gold import GOLD_BUILDERS

from workloads import EDA, MIX

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}
GOLD_TABLES = [name[len("gold_"):] for name in GOLD_BUILDERS]
SILVER_SPANS = ("conform", "incremental", "partitions", "write", "register")
PHASES = ("analysis", "optimization", "planning")

PER_LAYER = {
    "bronze.construct_s": "s",
    "bronze.construct_jobs": "count",
    "bronze.parse_exec_s": "s",
    "bronze.premios_parsed": "count",
    "bronze.small_draw_premios_per_s": "premios/s",
    "bronze.large_draw_premios_per_s": "premios/s",
    "bronze.useful_ratio": "ratio",
    **{f"silver.{name}_s": "s" for name in SILVER_SPANS},
    "silver.partitions_jobs": "count",
    "silver.write_jobs": "count",
    "silver.files_written": "count",
    "silver.bytes_per_input_byte": "ratio",
    **{f"gold.{t}_s": "s" for t in GOLD_TABLES},
    "gold.jobs": "count",
    "gold.files_written": "count",
    "pipeline.unattributed_s": "s",
    "pipeline.span_coverage": "ratio",
    "query.construct_s": "s",
    "query.construct_jobs": "count",
    "query.collect_s": "s",
    **{f"catalyst.{ph}_ms": "ms" for ph in PHASES},
    "family.eda_s": "s",
    "family.curation_s": "s",
    **{f"query.{q}_s": "s" for q in MIX},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.core_utilization": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _secs(spans, *names) -> float:
    return sum(s.seconds for s in spans if s.name in names)


def _jobs(spans, prefix: str) -> int:
    return sum(s.jobs for s in spans if s.name.startswith(prefix))


def pipeline_layers(ops) -> dict:
    """`ops`: (spans, out, wall) per traced pipeline op."""
    def med(f):
        return median(f(sp, o, w) for sp, o, w in ops)

    m = {
        "bronze.construct_s": med(lambda sp, o, w: _secs(sp, "bronze.read", "bronze.parse")),
        "bronze.construct_jobs": med(lambda sp, o, w: _jobs(sp, "bronze.")),
        "bronze.premios_parsed": med(lambda sp, o, w: o["premios_parsed"]),
        "bronze.useful_ratio": med(lambda sp, o, w: o["new_premios"] / o["premios_parsed"]),
        "silver.partitions_jobs": med(lambda sp, o, w: _jobs(sp, "silver.partitions")),
        "silver.write_jobs": med(lambda sp, o, w: _jobs(sp, "silver.write")),
        "silver.files_written": med(lambda sp, o, w: o["silver_files"]),
        "silver.bytes_per_input_byte": med(lambda sp, o, w: o["silver_bytes"] / o["raw_bytes"]),
        "gold.jobs": med(lambda sp, o, w: _jobs(sp, "gold.")),
        "gold.files_written": med(lambda sp, o, w: o["gold_files"]),
        "pipeline.unattributed_s": med(lambda sp, o, w: w - sum(s.seconds for s in sp)),
        "pipeline.span_coverage": med(lambda sp, o, w: sum(s.seconds for s in sp) / w),
    }
    for name in SILVER_SPANS:
        m[f"silver.{name}_s"] = med(lambda sp, o, w, n=f"silver.{name}": _secs(sp, n))
    for t in GOLD_TABLES:
        m[f"gold.{t}_s"] = med(lambda sp, o, w, n=f"gold.{t}": _secs(sp, n))
    return m


def query_layers(ops) -> dict:
    """`ops`: (spans, out, wall) per traced query op."""
    runs: dict[str, list] = {}
    for sp, o, w in ops:
        runs.setdefault(o["entry"], []).append((sp, o, w))
    per = {}
    for entry, rs in runs.items():
        per[entry] = {
            "construct": median(_secs(sp, "query.construct") for sp, _, _ in rs),
            "construct_jobs": median(_jobs(sp, "query.construct") for sp, _, _ in rs),
            "collect": median(_secs(sp, "query.collect") for sp, _, _ in rs),
            "total": median(w for _, _, w in rs),
            **{ph: median(o["catalyst"][ph] for _, o, _ in rs) for ph in PHASES},
        }

    def total(key, entries=None) -> float:
        return sum(v[key] for e, v in per.items() if entries is None or e in entries)

    m = {
        "query.construct_s": total("construct"),
        "query.construct_jobs": total("construct_jobs"),
        "query.collect_s": total("collect"),
        "family.eda_s": total("total", EDA),
        "family.curation_s": total("total", set(MIX) - set(EDA)),
        **{f"catalyst.{ph}_ms": total(ph) for ph in PHASES},
        **{f"query.{e}_s": v["total"] for e, v in per.items()},
    }
    return m


def spark_layers(ops, counters, cores: int) -> dict:
    """Per-op means of the engine's counters over the traced ops."""
    n = len(ops)
    tot = {k: sum(c[k] for c in counters) for k in counters[0]}
    spans = [s for sp, _, _ in ops for s in sp]
    return {
        "spark.jobs": sum(s.jobs for s in spans) / n,
        "spark.stages": sum(s.stages for s in spans) / n,
        "spark.tasks": sum(s.tasks for s in spans) / n,
        "spark.task_s": tot["task_ms"] / 1000 / n,
        "spark.gc_s": tot["gc_ms"] / 1000 / n,
        "spark.core_utilization": tot["task_ms"] / 1000 / (sum(w for _, _, w in ops) * cores),
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.input_bytes": tot["input_bytes"] / n,
    }


def breakdown(layers: dict, wall: float, what: str) -> list[str]:
    """Layer spans with their share of the traced `what`'s wall time."""
    keys = [k for k in layers if k.endswith("_s") and layers[k] and k.startswith(
        ("bronze.construct", "silver.", "gold.", "pipeline.", "query.construct", "query.collect"))]
    out = [f"traced breakdown ({what} {wall:.3f} s):"]
    for k in keys:
        out.append(f"  {k:36s} {layers[k]:8.3f} s  {100 * layers[k] / wall:6.1f}%")
    return out
