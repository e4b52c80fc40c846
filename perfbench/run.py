"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_cron --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 4 --trace 0   # every workload, one process each

Run from the repository root. One run builds a fresh Spark session on
``local[<cpus>]``, generates the workload's inputs from ``--seed``, sets up
(history, warm-up), runs closed-loop passes for ``--seconds``, checks the
outputs and prints one JSON object as the last line of standard output.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans and Spark's event log. All files go to
``.perfbench_work/`` under the repository root and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("daily_cron", "query_mix")


def p75(xs: list[float]) -> float:
    """75th percentile, interpolated between the samples around it."""
    return statistics.quantiles(xs, n=4, method="inclusive")[2] if len(xs) > 1 else xs[0]


def host_memory_gb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30


def prepare_env(work: str, trace: bool) -> dict:
    """Session settings for this host, and every scratch path inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(4, host_memory_gb() // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    events = os.path.join(work, "eventlog")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_LOCAL_DIRS=conf["spark.local.dir"],
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {k}={v!r}" for k, v in conf.items())
        + " pyspark-shell",
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_mem": f"{mem_gb}g", "eventlog": events}


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(args) -> dict:
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = prepare_env(work, bool(args.trace))
    try:
        return _run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, env: dict) -> dict:
    from vptstools_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    import spans as tracing
    from workloads import WORKLOADS

    tracer = tracing.Tracer(spark.sparkContext, enabled=False)
    wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(work, "data"), tracer)
    try:
        wl.setup()
        setup_s = time.perf_counter() - T_START
        phases = {"session": session_s, **wl.setup_phases}
        print("# setup phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
        plain, traced = [], []  # per pass: list of Op
        t_end = time.perf_counter() + args.seconds
        while True:
            if args.trace and len(plain) > len(traced):
                tracer.enabled = True
                tracer.pass_id = f"p{len(traced)}"
                traced.append(_guarded(wl.traced_pass))
                tracer.enabled = False
            else:
                plain.append(_guarded(wl.run_pass))
            done = time.perf_counter() >= t_end and (not args.trace or traced)
            if done or not wl.can_continue():
                break
        try:
            problems = wl.check()
        except Exception:  # a check that cannot run is a failed check
            problems = [traceback.format_exc(limit=3)]
        host = _host(spark, env, calibrate=bool(args.trace))
    finally:
        stop_spark(spark)
    passes = plain + traced
    ops = [op for p in passes for op in p]
    failed = len(ops) if problems else sum(1 for op in ops if op.problems)
    for msg in problems + [m for op in ops for m in op.problems]:
        print(f"# check failed: {msg}", file=sys.stderr)
    kind = "queries" if args.workload == "query_mix" else "passes"
    print(f"# {args.workload}: {len(passes)} passes, {len(ops)} operations ({kind}),"
          f" error_ratio={failed / max(1, len(ops)):.4f}")
    if args.trace:
        metrics = _per_layer(wl, tracer, env, plain, traced, session_s)
    else:
        pass_s = [sum(op.seconds for op in p) for p in passes]
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s_p50": (statistics.median(pass_s), "s"),
        }
        print(f"# pass_s_p50 over n={len(pass_s)} passes: "
              + " ".join(f"{x:.3f}" for x in pass_s))
        if args.workload == "query_mix":
            # reported, not gated: with one or two mixes a run, each falls on
            # the latencies of one or two queries, not on the mix's
            op_s = [op.seconds for op in ops]
            print(f"# query_s_p50={statistics.median(op_s):.4f} s"
                  f" query_s_p75={p75(op_s):.4f} s (n={len(op_s)} queries)")
    print(f"# host: {json.dumps(host)}")
    return {
        "correct": not problems and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _guarded(run_pass):
    from workloads import Op

    t0 = time.perf_counter()
    try:
        return run_pass()
    except Exception:  # a failed operation is counted, not fatal
        return [Op(time.perf_counter() - t0, [traceback.format_exc(limit=3)])]


def _host(spark, env: dict, calibrate: bool) -> dict:
    import pyspark

    host = {
        "nproc": env["cpus"],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_mem": env["driver_mem"],
        "master": spark.sparkContext.master,
    }
    if calibrate:  # bench.py's two calibration kernels (median of 3)
        from bench import _calibration

        host.update(_calibration(spark))
    return host


def _per_layer(wl, tracer, env, plain, traced, session_s) -> dict:
    import spans as tracing

    spans = tracer.spans
    own = tracing.attribute(tracing.read_event_log(env["eventlog"]), spans)
    tot = tracing.subtree_totals(spans, own)
    self_s = tracing.self_times(spans)
    n = max(1, len(traced))

    def per_pass(name: str, key: str | None = None) -> float:
        """Mean over traced passes of a span's subtree counter (or self time)."""
        ids = [s.id for s in spans if s.name == name]
        if key is None:
            return sum(self_s[i] for i in ids) / n
        return sum(tot[i][key] for i in ids) / n

    def attr_mean(name: str, key: str) -> float:
        vals = [s.attrs[key] for s in spans if s.name == name and key in s.attrs]
        return statistics.mean(vals) if vals else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "jvm.peak_rss_mb": (resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024, "MB"),
    }
    inv_rows = per_pass("inventory", "input_records")
    m["inventory.select_s"] = (per_pass("inventory"), "s")
    m["inventory.rows_scanned"] = (inv_rows, "count")
    m["inventory.radar_days_selected"] = (attr_mean("inventory", "radar_days"), "count")
    m["inventory.selected_share"] = (
        attr_mean("inventory", "files") / inv_rows if inv_rows else 0.0, "share")
    render_s = per_pass("vpts.render")
    m["vpts.render_s"] = (render_s, "s")
    m["vpts.rows_rendered"] = (float(wl.render_rows), "count")
    m["vpts.render_rows_per_s"] = (wl.render_rows / render_s if render_s else 0.0, "1/s")
    d_scan = per_pass("pipeline.daily", "input_records")
    d_rows = per_pass("pipeline.daily", "output_records")
    m["pipeline.daily_s"] = (per_pass("pipeline.daily"), "s")
    m["pipeline.daily_rows_scanned"] = (d_scan, "count")
    m["pipeline.daily_rows_written"] = (d_rows, "count")
    m["pipeline.daily_scan_useful_share"] = (d_rows / d_scan if d_scan else 0.0, "share")
    m["pipeline.daily_partitions_written"] = (_partitions_written(wl, spans), "count")
    m["pipeline.daily_bytes_written"] = (per_pass("pipeline.daily", "output_bytes"), "B")
    mo_read = per_pass("pipeline.monthly", "input_records")
    m["pipeline.monthly_s"] = (per_pass("pipeline.monthly"), "s")
    m["pipeline.monthly_rows_read"] = (mo_read, "count")
    m["pipeline.monthly_read_useful_share"] = (
        per_pass("pipeline.monthly", "output_records") / mo_read if mo_read else 0.0, "share")
    m["pipeline.monthly_bytes_written"] = (per_pass("pipeline.monthly", "output_bytes"), "B")
    progress = [b for s in spans if s.name == "stream" for b in s.attrs.get("progress", [])]

    def stream_ms(key: str) -> float:
        vals = [b["durationMs"].get(key, 0) / 1000.0 for b in progress]
        return statistics.mean(vals) if vals else 0.0

    m["stream.batch_s"] = (stream_ms("triggerExecution"), "s")
    m["stream.files_per_batch"] = (attr_mean("stream", "files"), "count")
    m["stream.rows_written"] = (per_pass("stream", "output_records"), "count")
    m["stream.latest_offset_s"] = (stream_ms("latestOffset"), "s")
    m["stream.planning_s"] = (stream_ms("queryPlanning"), "s")
    m["stream.add_batch_s"] = (stream_ms("addBatch"), "s")
    m["stream.commit_s"] = (stream_ms("commitOffsets"), "s")
    from workloads import QueryMix

    for q in QueryMix.queries:
        m[f"query.{q}.build_s"] = (per_pass(f"query.{q}.build"), "s")
        m[f"query.{q}.exec_s"] = (per_pass(f"query.{q}.exec"), "s")
        jobs = wl.jobs.get(q, [])
        m[f"query.{q}.jobs"] = (statistics.median(jobs) if jobs else 0.0, "count")
        m[f"query.{q}.cold_s"] = (wl.cold_s.get(q, 0.0), "s")
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("input_records", "count"), ("shuffle_read_bytes", "B"),
        ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
        ("executor_run_s", "s"), ("gc_s", "s"),
    ):
        m[f"spark.{key}"] = (per_pass("pass", key), unit)
    plain_s = statistics.median([sum(op.seconds for op in p) for p in plain])
    traced_s = statistics.median([sum(op.seconds for op in p) for p in traced])
    m["trace.overhead_share"] = (traced_s / plain_s - 1.0, "share")
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}.json"))
    return m


def _partitions_written(wl, spans) -> float:
    """Daily partition directories whose files were written inside the last
    traced ``pipeline.daily`` span."""
    import checks

    last = [s for s in spans if s.name == "pipeline.daily"]
    if not last:
        return 0.0
    root = wl.path("out", "daily")
    return float(sum(
        1 for files in checks.partition_files(root).values()
        if any(last[-1].start <= os.path.getmtime(f) <= last[-1].end for f in files)
    ))


def run_all(args) -> int:
    """Every workload in its own process, so no cache leaks across them."""
    rows = []
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{w}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        rows.append(res)
        print("\n".join(line for line in lines if line.startswith("# ")))
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}"
              f" error_ratio={res['failed'] / res['attempted']:.4f} (share)")
        for k, v in res["metrics"].items():
            print(f"  {k:40s} {v['value']:.6g} {v['unit']}")
    return 0 if all(r["correct"] for r in rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, one process each")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "vptstools_spark")):
        print(f"perfbench: no vptstools_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload is required without --all")
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    result = run_one(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
