"""End-to-end benchmark of the lakehouse engine.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[<cores>]`` and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the run makes a warm-up pass, one pass with spans
around every instrumented call and one untraced pass, and prints
per-layer metrics and the tracing overhead. ``--workload all`` runs every workload in its own
process and exits non-zero if any output check fails.

Everything the run writes stays under ``.bench_work/`` in the checkout;
the span dump and a full report land in ``.bench_work/reports/``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE_DIR = os.path.join(ROOT, "breweries_case_spark")
NAMES = ("medallion_daily", "llm_nightly")
#: driver heap; the JVM starts at its full size, so its resident memory
#: follows what the run touches rather than the collector's growth policy
DRIVER_MEM = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum measured time; passes repeat until it is reached")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies the records or documents per step (scaling checks)")
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Each workload in a fresh process, so none inherits another's warm JVM."""
    ok = True
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        sys.stderr.write(proc.stderr[-4000:])
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit code {proc.returncode}")
            ok = False
            continue
        result = json.loads(lines[-1])
        ok &= result["correct"]
        for line in lines[:-1]:
            print(f"{name}: {line}")
        for metric, m in result["metrics"].items():
            print(f"{name}: {metric} = {m['value']:.6g} {m['unit']}")
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
    return 0 if ok else 1


def prepare_env(work_dir: str) -> None:
    """Keep every file Spark, its workers and Python write inside the
    checkout, and let executor-side Python import the engine."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVMs otherwise keep a perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    t_setup = time.perf_counter()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work_dir = os.path.join(WORK, run_id)
    prepare_env(work_dir)
    sys.path.insert(0, ROOT)

    from counters import COUNTERS, StatusStoreCounters
    from spans import SpanRecorder
    from tracing import Instrumentation, Tracer

    import report
    import workloads

    cores = len(os.sched_getaffinity(0))
    recorder = SpanRecorder(run_id)
    with recorder.span("session.get_session", layer="session") as session_span:
        from breweries_case_spark import session

        spark = session.get_session(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_configs={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{DRIVER_MEM} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                # every job of a pass must still be in the status store
                # when its counters are read
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.scheduler.listenerbus.eventqueue.appStatus.capacity": "100000",
            },
        )
    session_span.attrs["own"] = session_span.attrs["total"] = dict.fromkeys(COUNTERS, 0)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark.sparkContext, recorder, StatusStoreCounters(spark.sparkContext))
        bench = workloads.Bench(spark, work_dir, args.seed, args.scale, recorder, tracer)
        wl = workloads.WORKLOADS[args.workload](bench)
        wl.setup()
        setup_once = time.perf_counter() - t_setup

        out: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                     "cores": cores, "scale": args.scale}
        if args.trace == 0:
            passes = []
            t0 = time.perf_counter()
            while not passes or time.perf_counter() - t0 < args.seconds:
                try:
                    passes.append(wl.run_pass())
                except workloads.StepFailed as exc:
                    traceback.print_exc()
                    passes.append(exc.result)
                    break
            setup_s = setup_once + statistics.median(p.setup_s for p in passes)
            peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + jvm_peak_rss_mb(spark)
            metrics, details = report.end_to_end(passes, setup_s, peak)
            out["details"] = details
        else:
            wl.run_pass()  # warm-up: the first pass in a process compiles its plans
            instr = Instrumentation(tracer)
            instr.install()
            try:
                traced = wl.run_pass()
            finally:
                instr.remove()
            # untraced after traced: later passes only get warmer, so the
            # difference does not understate the overhead
            plain = wl.run_pass()
            passes = [traced, plain]
            # per-layer numbers cover the timed steps only, not the pass's
            # set-up and checks
            steps = [s for s in recorder.since(traced.span_mark)
                     if s.attrs.get("step") and s.span_id < plain.span_mark]
            spans = [d for s in steps for d in (s, *recorder.descendants(s))] + [session_span]
            metrics = report.per_layer(recorder, spans, cores, traced.run_s - plain.run_s,
                                       tracer.bookkeeping_s)
            out["run_s"] = {"untraced": plain.run_s, "traced": traced.run_s}
            tracer.attach_counters(
                [s for s in recorder.spans if "job_group" in s.attrs and "own" not in s.attrs]
            )
            os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
            span_path = os.path.join(WORK, "reports", f"{run_id}.spans.jsonl")
            recorder.write(span_path)
            out["spans"] = os.path.relpath(span_path, ROOT)

        result = {**report.outcome(passes), "metrics": metrics}
        out["checks"] = [c for p in passes for c in p.checks]
        out["result"] = result
        os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
        with open(os.path.join(WORK, "reports", f"{run_id}.json"), "w") as fh:
            json.dump(out, fh, indent=1, default=str)
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    for name, ok, detail in out["checks"]:
        if not ok:
            print(f"check failed: {name}: {detail}")
    if args.trace == 0:
        tail = out["details"]["step_tail"]
        print(f"step_tail_s is p{tail['percentile']:g} of {tail['samples']} steps; "
              f"failed_frac = {out['details']['failed_frac']:.6g}; "
              f"passes = {out['details']['passes']}")
    else:
        print(f"tracing overhead = {metrics['trace.overhead_s']['value']:.3f} s, "
              f"of which wrapper bookkeeping {metrics['trace.bookkeeping_s']['value']:.3f} s "
              f"(untraced {out['run_s']['untraced']:.3f} s, traced {out['run_s']['traced']:.3f} s); "
              f"spans in {out['spans']}")
    sys.stdout.flush()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
