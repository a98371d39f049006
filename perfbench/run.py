"""sparketl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

Run from the root of a sparketl checkout.  The engine runs as shipped
(``sparketl.session.get_spark`` on ``local[4]``); inputs are generated
from the seed and cached, with their DuckDB oracle results, under
``.perfbench/`` in the checkout.  The workload then runs whole passes
until ``--seconds`` have elapsed (at least one pass), every output is
checked against DuckDB, and the last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A run record with the host and pinned settings goes to
``.perfbench/records/``; the traced run also writes its spans to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import statistics
import sys
import time

WORKLOAD_NAMES = ("query-mix", "etl-script", "curate-batch")
#: the engine's own core and driver-memory knobs, pinned so runs on
#: hosts of different size measure the same configuration
PINNED_ENV = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "4g"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Pin the engine knobs and keep every file Spark, the JVM and
    Python workers write inside the work directory."""
    tmp = os.path.join(work, "run", "tmp")
    local = os.path.join(work, "run", "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(PINNED_ENV)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def setup(data_dir: str):
    """The cold start a user pays: import, get_spark (JVM launch) and
    load_tables, timed in a fresh process."""
    t0 = time.perf_counter()
    from sparketl import registry, tables
    from sparketl.session import get_spark

    registry.load_all_modules()
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    tables.load_tables(spark, data_dir)
    t3 = time.perf_counter()
    return spark, {
        "import_s": t1 - t0,
        "session_s": t2 - t1,
        "load_s": t3 - t2,
        "total_s": t3 - t0,
    }


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (
            m * (b - m) * x / ((a + 2 * m - 1.0) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1.0)),
        ):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(values, p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean
    of all order statistics, steadier than one order statistic on the
    few dozen, often bimodal, latencies of a pass."""
    x = sorted(values)
    n = len(x)
    if n < 2:
        return x[0] if x else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x[i] for i in range(n))


def end_to_end(walls, ops, setup_times) -> dict:
    lat = [op.latency for op in ops if not op.error]
    busy = sum(walls)
    return {
        "setup_s": (setup_times["total_s"], "s"),
        "wall_s": (statistics.median(walls), "s"),
        "ops_per_s": (len(lat) / busy if busy else 0.0, "1/s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "latency_p90_s": (quantile(lat, 0.9), "s"),
    }


def per_layer(tracer, counters, walls, ops, setup_times, wl, rss_mb) -> dict:
    """Per-layer metrics of a traced run; times and counts are per
    completed operation unless the name says per statement."""
    n = max(1, len(ops))
    n_pass = max(1, len(walls))
    tot = {}
    for c in counters.values():
        for k, v in c.items():
            tot[k] = tot.get(k, 0.0) + v
    phases = list(tracer.phase_ms.values())
    n_ph = max(1, len(phases))
    import pandas as pd

    query_ops = [op for op in ops if isinstance(op.result, pd.DataFrame)]
    out = {
        "session.start_ms": (setup_times["session_s"] * 1e3, "ms"),
        "tables.load_ms": (setup_times["load_s"] * 1e3, "ms"),
        "dialect.translate_ms": (tracer.translate_ms / n, "ms/op"),
        "dialect.translate_calls": (tracer.translate_calls / n, "count/op"),
        "operators.build_ms": (sum(op.built - op.start for op in ops) * 1e3 / n, "ms/op"),
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"spark.catalyst.{phase}_ms"] = (
            sum(p[phase] for p in phases) / n_ph,
            "ms/op",
        )
    for name, unit in (
        ("spark.exec.jobs", "count/op"),
        ("spark.exec.stages", "count/op"),
        ("spark.exec.tasks", "count/op"),
        ("spark.exec.failed_tasks", "count/op"),
        ("spark.exec.job_ms", "ms/op"),
        ("spark.exec.task_run_ms", "ms/op"),
        ("spark.exec.shuffle_read_bytes", "B/op"),
        ("spark.exec.shuffle_write_bytes", "B/op"),
        ("spark.exec.spill_bytes", "B/op"),
        ("spark.python.run_ms", "ms/op"),
        ("spark.python.start_ms", "ms/op"),
        ("spark.python.init_ms", "ms/op"),
        ("spark.python.bytes_sent", "B/op"),
        ("spark.python.bytes_returned", "B/op"),
    ):
        out[name] = (tot.get(name, 0.0) / n, unit)
    out["result.rows"] = (
        sum(len(op.result) for op in query_ops) / max(1, len(query_ops)),
        "rows/op",
    )
    out["result.collect_ms"] = (
        sum(op.end - op.built for op in query_ops) * 1e3 / max(1, len(query_ops)),
        "ms/op",
    )
    from perfbench.workloads import ETL_STATEMENTS

    stmts = {sid: [op for op in ops if op.name == sid] for sid, _ in ETL_STATEMENTS}
    fields = {
        "statement_ms": ("ms", lambda op: op.latency * 1e3),
        "jobs": ("count", lambda op: counters.get(op.op_id, {}).get("spark.exec.jobs", 0.0)),
        "rows_affected": ("rows", lambda op: op.rows_affected),
        "bytes_written": ("B", lambda op: op.io[0]),
        "files_written": ("count", lambda op: op.io[1]),
    }
    for field, (unit, get) in fields.items():
        total = sum(get(op) for sid in stmts for op in stmts[sid])
        out[f"dml.{field}"] = (total / n_pass, f"{unit}/pass")
        for sid, sops in stmts.items():
            out[f"dml.{sid}.{field}"] = (
                sum(get(op) for op in sops) / max(1, len(sops)),
                unit,
            )
    live = getattr(wl, "live_bytes", 0)
    written_per_pass = out["dml.bytes_written"][0]
    out["dml.write_bytes_per_live_byte"] = (
        written_per_pass / live if live else 0.0,
        "ratio",
    )
    out["peak_rss_mb"] = (rss_mb, "MB")
    out["trace.wall_s"] = (statistics.median(walls), "s")
    return out


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "sparketl"))
        and os.path.isfile(os.path.join(root, "scripts", "gen_scale_corpus.py"))
    ):
        print(
            "perfbench: run from the root of a sparketl checkout "
            "(sparketl/ and scripts/gen_scale_corpus.py not found)",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench")
    prepare_env(root, work)
    # import the benchmark as a package from the checkout root, not its
    # modules from this script's directory
    sys.path[0] = root
    load_before = os.getloadavg()[0]

    from perfbench import inputs
    from perfbench.tracing import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS, Context

    t_gen = time.perf_counter()
    data_dir = inputs.ensure_data(root, work, args.seed)
    gen_s = time.perf_counter() - t_gen

    # Spark writes spark-warehouse/ and derby.log into its working
    # directory; keep those in the work directory too
    run_dir = os.path.join(work, "run")
    os.chdir(run_dir)
    spark = None
    try:
        spark, setup_times = setup(data_dir)

        tracer = Tracer() if args.trace else NullTracer()
        if args.trace:
            from sparketl import dialect, dml

            tracer.wrap_translate(dialect, dml)
        ctx = Context(spark, data_dir, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)

        walls, ops = [], []
        t0 = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            ops += wl.run_pass(ctx, len(walls))
            walls.append(time.perf_counter() - p0)
            if len(walls) >= wl.min_passes and time.perf_counter() - t0 >= args.seconds:
                break
            wl.reset(ctx)
        measured_s = time.perf_counter() - t0
        if args.trace:
            tracer.restore()

        wl.finish(ctx)
        # the oracle side runs after the passes, so DuckDB's threads and
        # memory cannot disturb them
        t_or = time.perf_counter()
        expected = wl.expected(ctx)
        oracle_s = time.perf_counter() - t_or
        mismatches = wl.check(ctx, ops, expected)
        attempted = len(walls) * len(wl.names)
        # operations never reached (a failed statement ends its pass)
        # count as failed, as does every mismatch
        failed = min(attempted, attempted - len(ops) + len(mismatches))
        rss = peak_rss_mb(spark)
        if args.trace:
            counters = tracer.spark_counters(spark)
            if args.workload == "etl-script":
                from sparketl.dml import _file_snapshot

                wl.live_bytes = sum(s for s, _ in _file_snapshot(wl.base).values())
            metrics = per_layer(tracer, counters, walls, ops, setup_times, wl, rss)
            tracer.write_spans(
                os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.jsonl"), t0
            )
        else:
            metrics = end_to_end(walls, ops, setup_times)
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
    load_after = os.getloadavg()[0]

    lat = [op.latency for op in ops if not op.error]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {k: os.environ[k] for k in PINNED_ENV},
        "nproc": os.cpu_count(),
        "load1_before": load_before,
        "load1_after": load_after,
        "generate_s": gen_s,
        "oracle_s": oracle_s,
        "setup": setup_times,
        "passes": len(walls),
        "pass_walls_s": walls,
        "measured_s": measured_s,
        "latency_samples": len(lat),
        "ops": [[op.name, op.pass_no, round(op.latency, 4), op.error] for op in ops],
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted if attempted else 0.0,
        "mismatches": mismatches,
        "peak_rss_mb": rss,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    if args.trace:
        untraced = os.path.join(work, "records", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"].get("wall_s")
            if base:
                record["trace_overhead_s"] = metrics["trace.wall_s"][0] - base
    record["run_s"] = time.perf_counter() - t_main
    rec_path = os.path.join(
        work, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    for k, why in sorted(mismatches.items()):
        print(f"MISMATCH {k}: {why}")
    print(
        f"# {args.workload} seed={args.seed} passes={len(walls)} "
        f"ops={len(ops)} latency_samples={len(lat)} "
        f"failed_ratio={failed}/{attempted} "
        f"setup_s={setup_times['total_s']:.3f} "
        f"oracle_s={oracle_s:.1f} load1={load_before:.2f}->{load_after:.2f}"
        + (
            f" trace_overhead_s={record['trace_overhead_s']:.3f}"
            if "trace_overhead_s" in record
            else ""
        )
    )
    print(
        json.dumps(
            {
                "correct": not mismatches,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
