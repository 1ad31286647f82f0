"""Reconciliation-first benchmark for the onechronos ETL engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload recon_batch --seed 1 --seconds 15 --trace 0

Each run generates its inputs from ``--seed``, starts one Spark session
at ``local[<nproc>]`` and drives a closed loop with one client: the next
pass starts when the previous one ends. Every pass's output is checked
against the generator's truth. The last line of stdout is one JSON
object; ``--trace 0`` reports the end-to-end metrics and ``--trace 1``
the per-layer ones, with the names and units ``BENCHMARK.json`` lists
(``README.md`` names each metric's layer). Everything the run writes stays
under ``.perfbench_work/`` and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 3
# A pass counts as calm when other guests stole at most this share of
# one vCPU while it ran. On a shared host they take up to a whole vCPU
# for seconds at a time, and a pass they hit runs up to twice as long.
CALM_STEAL = 0.1


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _parse(argv: list[str] | None, spec: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Spark settings that must be in place before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # the JVMs' perf-data files would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _session(work: str):
    from onechronos_etl_takehome_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            f" -Dderby.system.home={os.path.join(work, 'derby')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown() -> None:
    """Stop any session, end the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    import procmon

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(procmon.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procmon.tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Run:
    """Counters shared by every pass of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def account(self, outcome) -> None:
        if outcome is not None:
            self.attempted += outcome.attempted
            self.failed += outcome.failed


def _warm(wl, spark, run: Run) -> None:
    seconds: list[float] = []
    for _ in range(wl.warm_passes):
        out = wl.run_pass(spark, None)
        run.account(out)
        seconds.append(out.seconds)
    _log(f"{len(seconds)} warm-up passes: {[round(s, 3) for s in seconds]} s")


def _untraced(args, wl, run: Run, units: dict[str, str]) -> dict[str, dict]:
    import procmon
    from stats import median, tail_percentile

    me = os.getpid()
    # set-up is cold: launch the JVM, build the session, run the first pass.
    # It costs 12-20 s at 4 cores, so a run makes one; the median is taken
    # over runs.
    t0 = time.perf_counter()
    spark = _session(wl.work)
    t1 = time.perf_counter()
    run.account(wl.run_pass(spark, None))
    setup_s = time.perf_counter() - t0
    _log(f"set-up: {setup_s:.3f} s (session {t1 - t0:.3f} s)")
    _warm(wl, spark, run)
    seconds, rates, cpu, steal = [], [], [], []
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(seconds) < MIN_PASSES:
        c0, s0 = procmon.tree_cpu_s(me), procmon.host_steal_s()
        out = wl.run_pass(spark, None)
        cpu.append(procmon.tree_cpu_s(me) - c0)
        steal.append((procmon.host_steal_s() - s0) / out.seconds)
        run.account(out)
        seconds.append(out.seconds)
        rates.append(out.rows / out.seconds)
    run.account(wl.finish(spark, None))
    # medians over the calm passes, or over the calmer half if fewer are calm
    order = sorted(range(len(seconds)), key=lambda i: steal[i])
    calm = [i for i in order if steal[i] <= CALM_STEAL]
    if len(calm) < (len(order) + 1) // 2:
        calm = order[: (len(order) + 1) // 2]
    tail = tail_percentile(seconds)
    _log(f"{len(seconds)} passes: {[round(s, 3) for s in seconds]} s; cpu {[round(c, 2) for c in cpu]} s;"
         f" steal {[round(s, 3) for s in steal]} vCPU; calm passes {sorted(calm)};"
         f" highest percentile with ten samples beyond: {f'p{tail[0]:g}' if tail else 'none'}")
    values = {
        "setup_s": setup_s,
        "rows_per_s": median([rates[i] for i in calm]),
        "cpu_s": median([cpu[i] for i in calm]),
    }
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def _traced(args, wl, run: Run, sampler, units: dict[str, str]) -> dict[str, dict]:
    import layers
    from stats import median, nearest_rank, tail_percentile
    from tracing import StatusReader, Tracer, codegen_compiles

    tracer = Tracer(f"{wl.name}-{args.seed}-{os.getpid()}")
    with tracer.span("session.start"):
        spark = _session(wl.work)
    start_s = tracer.durations_ms("session.start")[0] / 1000.0
    run.account(wl.run_pass(spark, None))  # cold pass, untimed
    _warm(wl, spark, run)
    reader = StatusReader(spark)
    untraced, traced = [], []
    per_pass: list[dict[str, float]] = []
    pooled: dict[str, list[float]] = {}
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(traced) < MIN_PASSES - 1:
        out = wl.run_pass(spark, None)
        run.account(out)
        untraced.append(out.rows / out.seconds)
        # traced pass: instruments on, status stores read afterwards
        reader.mark()
        since = len(tracer.spans)
        compiles0, _ = codegen_compiles()
        wl.instrument(tracer)
        try:
            out = wl.run_pass(spark, tracer)
        finally:
            tracer.unwrap_all()
        run.account(out)
        traced.append(out.rows / out.seconds)
        compiles1, mean_ms = codegen_compiles()
        values = layers.from_status(reader.read(), tracer, since)
        values["etl.codegen_ms"] = (compiles1 - compiles0) * mean_ms
        values.update(out.values)
        per_pass.append(values)
        for k, v in out.samples.items():
            pooled.setdefault(k, []).extend(v)
    wl.instrument(tracer)
    try:
        out = wl.finish(spark, tracer)
    finally:
        tracer.unwrap_all()
    run.account(out)
    closing = out.values if out is not None else {}
    for k, v in (out.samples if out is not None else {}).items():
        pooled.setdefault(k, []).extend(v)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace-{wl.name}-{args.seed}.json"))

    result: dict[str, float] = {
        "session.start_s": start_s,
        "peak_rss_mb": sampler.peak_bytes / float(1 << 20),
    }
    for name in units:
        vals = [p[name] for p in per_pass if name in p]
        if vals:
            result[name] = median(vals)
    result.update(closing)
    for k, v in pooled.items():
        if k.startswith("stream."):
            result[k] = median(v)
    commits = pooled.get("txlog.commit", [])
    reads = pooled.get("txlog.read", [])
    if commits:
        tail = tail_percentile(commits)
        _log(f"txlog commits: n={len(commits)}; highest percentile with ten samples"
             f" beyond: {f'p{tail[0]:g}' if tail else 'none'}")
        result["txlog.commit_p50_ms"] = median(commits)
        result["txlog.commit_p90_ms"] = nearest_rank(commits, 90)
        result["txlog.read_p50_ms"] = median(reads)
        for op in ("create", "append", "merge", "update", "delete", "compact"):
            result[f"txlog.{op}_ms"] = median(pooled[f"txlog.{op}"])
        for op in ("read_latest", "read_version", "change_feed", "count"):
            result[f"txlog.{op}_ms_p50"] = median(pooled[f"txlog.{op}"])
    result["trace.rows_per_s_untraced"] = median(untraced)
    result["trace.rows_per_s_traced"] = median(traced)
    result["trace.overhead_ratio"] = median(untraced) / median(traced)
    return {
        name: {"value": float(result.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    spec = _spec()
    args = _parse(argv, spec)
    try:
        import pyspark  # noqa: F401

        sys.path.insert(1, ROOT)
        import onechronos_etl_takehome_spark  # noqa: F401
    except ImportError as exc:
        _log(f"cannot import the program under test: {exc}")
        return 2
    import procmon
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work)
        wl = WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        wl.generate()
        _log(f"{wl.name} inputs {wl.sizes} generated in {time.perf_counter() - t0:.2f} s")
        run = Run()
        kind = "per_layer" if args.trace else "end_to_end"
        units = {m["name"]: m["unit"] for m in spec[kind]}
        if args.trace:
            with procmon.RssSampler(os.getpid()) as sampler:
                metrics = _traced(args, wl, run, sampler, units)
        else:
            metrics = _untraced(args, wl, run, units)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for name, m in metrics.items():
        _log(f"{name} = {m['value']:.6g} {m['unit']}")
    _log(f"failed_ops_ratio = {run.failed / max(run.attempted, 1):.6g} ({run.failed}/{run.attempted})")
    _log(f"run took {time.perf_counter() - started:.1f} s")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
