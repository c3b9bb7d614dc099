"""Medallion-pipeline and analyst-query benchmark.

    python3 perfbench/run.py --workload weekly_increment --seed 1 --seconds 16 --trace 0

One process, one closed-loop client, one of two workloads
(`weekly_increment`, `analyst_queries`; see perfbench/README.md).
Human-readable lines go to stdout first; the last stdout line is one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`.

Everything the run writes lives under `.perfbench/` in the checkout:
a scratch working directory (raw, silver and gold roots, query tables,
`spark-warehouse/`, `derby.log`, `SPARK_LOCAL_DIRS`, temp files),
removed at exit, and the traced run's spans in `.perfbench/traces/`.
Files go to the local filesystem through the OS page cache; nothing
is flushed or dropped between ops.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "lottery_end_to_end_etl_data_pipeline_spark"
#: set-ups per run; `setup_s` is their median
SETUPS = 3
#: marks a traced op in the loop's results (its outcome is kept apart)
TRACED = object()


def log(msg: str) -> None:
    print(msg, flush=True)


def prepare_environment(work: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark at `work`
    and pin Spark to this machine's cores. Must run before the JVM starts."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(work)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            ppid = int(stat.read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(stat.parent.name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and every process it started, and wait."""
    proc = spark.sparkContext._gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in workers:
        while Path(f"/proc/{pid}").exists():
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """The JVM's high-water resident set (`VmHWM`)."""
    status = Path(f"/proc/{spark.sparkContext._gateway.proc.pid}/status").read_text()
    kb = next(line.split()[1] for line in status.splitlines() if line.startswith("VmHWM"))
    return int(kb) / 1024.0


def timed_loop(seconds: float, unit: int, min_ops: int, run_op) -> list:
    """Closed loop: ops back to back until `seconds` have passed and at
    least `min_ops` ran, stopping only at a multiple of `unit` ops (a
    whole pass of the query mix). A failed op is recorded as None."""
    results, k, t0 = [], 0, time.perf_counter()
    while k < min_ops or k % unit or time.perf_counter() - t0 < seconds:
        try:
            results.append(run_op(k))
        except Exception:  # one failed op must not end the run
            traceback.print_exc(file=sys.stdout)
            results.append(None)
        k += 1
    return results


def load_normalize():
    """The oracle checker's row normalisation (tools/check_oracle.py)."""
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.normalize


def run(args, work: Path) -> dict:
    from lottery_end_to_end_etl_data_pipeline_spark import get_session

    import workloads

    normalize = load_normalize()
    spark, setups = None, []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_session("perfbench")
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, normalize)
        wl.setup()
        setups.append(time.perf_counter() - t0)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return measure(args, spark, wl, setups)
    finally:
        stop_spark(spark)


def measure(args, spark, wl, setups) -> dict:
    import metrics
    from spans import Tracer, executor_totals

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cores={cores}")
    log("set-ups (s): " + " ".join(f"{s:.3f}" for s in setups))
    t0 = time.perf_counter()
    wl.warmup()
    log(f"warm-up (s): {time.perf_counter() - t0:.3f}")
    unit = wl.pass_ops

    traced: list = []
    if not args.trace:
        results = timed_loop(args.seconds, unit, unit, wl.op)
    else:
        # traced and untraced units alternate; the untraced ones give
        # the tracing overhead
        tr = Tracer(spark)

        def alternate(k):
            if (k // unit) % 2:
                return wl.op(k)
            before = executor_totals(spark)
            res, out = wl.traced_op(k, tr)
            after = executor_totals(spark)
            traced.append((tr.of(str(k)), out, res, {c: after[c] - before[c] for c in after}))
            return TRACED

        results = timed_loop(args.seconds, unit, 2 * unit, alternate)
        results = [r for r in results if r is not TRACED]

    plain = [r for r in results if r is not None]
    outcomes = results + [t[2] for t in traced]
    bad = wl.check()
    failed = sum(1 for r in outcomes if r is None or not r.ok) + len(bad)
    attempted = len(outcomes)
    times = [r.seconds for r in plain]
    log(f"ops={attempted} failed={failed} fail_ratio={failed / attempted:.4f} "
        f"check_failures={bad}")
    log(f"untraced op times (s), n={len(times)}: " + " ".join(f"{t:.3f}" for t in times))

    if args.trace:
        ops = [(sp, out, res.seconds) for sp, out, res, _ in traced]
        if unit > 1:
            layers = metrics.query_layers(ops)
            wall, what = layers["family.eda_s"] + layers["family.curation_s"], "one pass of medians"
        else:
            layers = metrics.pipeline_layers(ops)
            wall, what = metrics.median(w for _, _, w in ops), "median traced op"
        layers.update(metrics.spark_layers(ops, [t[3] for t in traced], cores))
        probe, lines = wl.probe()
        layers.update(probe)
        layers["trace.overhead_ratio"] = metrics.median(w for _, _, w in ops) / metrics.median(times)
        layers["jvm.peak_rss_mb"] = peak_rss_mb(spark)
        tr.write(ROOT / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        for line in metrics.breakdown(layers, wall, what) + lines:
            log(line)
        values, units = layers, metrics.PER_LAYER
    else:
        busy = sum(times)
        values = {
            "setup_s": metrics.median(setups),
            "op_p50_s": metrics.median(times),
            "ops_per_s": len(times) / busy,
        }
        units = metrics.END_TO_END
    out = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    for k, v in out.items():
        log(f"  {k:40s} {v['value']:14.6g} {v['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["weekly_increment", "analyst_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "tools" / "check_oracle.py").is_file():
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              f"(needs {PACKAGE}/ and tools/check_oracle.py)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
