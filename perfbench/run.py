"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload backfill_resume --seed 1 --seconds 6 --trace 0

Workloads (see ``perfbench/metrics.py`` for what a pass and an operation
are in each): ``backfill_resume``, ``operator_suite``.

A run sets up ``SETUP_REPS`` times (session start plus input generation;
the last set-up is kept), warms up once, repeats passes for ``--seconds``
seconds, then checks the engine's outputs outside the timed passes. It
prints a readable summary, then as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics with tracing off; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics, including
the tracing overhead (traced minus untraced pass time). Either way the
run's record, spans included, is written to
``.perfbench/traces/<workload>-seed<seed>-trace<0|1>.json``. The exit
code is 0 only when every check passed.

The session is the engine's own ``get_spark(EngineConfig(master=
"local[<cpus>]"))`` with every other default untouched; ``--cpus``
defaults to the cores this process may run on. Everything the run writes
(inputs, Spark local dirs, temp files, traces) stays under ``.perfbench/``
at the repository root, whatever the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE = "dane_visual_feature_extraction_worker_spark"
SETUP_REPS = 3


def _configure_environment(work: str) -> None:
    """Process environment for the JVM and its Python workers; must run
    before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVMs keep no hsperfdata files under the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # no console progress bar, so stdout stays parseable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )


def _stop_jvm() -> None:
    """Close the JVM's stdin (it exits on EOF) and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _check_benchmark_json() -> None:
    """The metric names emitted here and those in BENCHMARK.json agree."""
    from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS

    path = os.path.join(REPO, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    declared = (
        {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
        {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]},
        sorted(w["name"] for w in spec["workloads"]),
    )
    ours = (
        END_TO_END,
        {k: v[:2] for k, v in PER_LAYER.items()},
        sorted(WORKLOADS),
    )
    if declared != ours:
        raise SystemExit("BENCHMARK.json disagrees with perfbench/metrics.py")


def run(args) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, run record)."""
    from dane_visual_feature_extraction_worker_spark import EngineConfig, get_spark

    from perfbench import trace
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOAD_CLASSES

    tracer = trace.Tracer(enabled=False)
    wl = WORKLOAD_CLASSES[args.workload](args.work, args.seed, tracer)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": args.cpus,
        "trace": args.trace,
        "loadavg_before": os.getloadavg(),
    }
    setup_s, session_s, datagen_s, passes = [], [], [], []
    spark = None
    with trace.PeakRss() as rss:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            tracer.enabled, tracer.pass_id = bool(args.trace), f"setup-{rep}"
            t0 = time.monotonic()
            with tracer.span("session"):
                spark = get_spark(EngineConfig(master=f"local[{args.cpus}]"))
            t1 = time.monotonic()
            with tracer.span("datagen"):
                wl.prepare(spark)
            t2 = time.monotonic()
            setup_s.append(t2 - t0)
            session_s.append(t1 - t0)
            datagen_s.append(t2 - t1)

        tracer.pass_id = "warmup"
        t0 = time.monotonic()
        with tracer.span("warmup"):
            wl.warmup(spark)
        warmup_s = time.monotonic() - t0

        sc = spark.sparkContext
        min_passes = 2 if args.trace else 1
        start = time.monotonic()
        while len(passes) < min_passes or time.monotonic() - start < args.seconds:
            traced = bool(args.trace) and len(passes) % 2 == 1
            tag = f"pass-{len(passes)}"
            tracer.enabled, tracer.pass_id = traced, tag
            sc.addJobTag(tag)
            try:
                res = wl.run_pass(spark, traced)
            finally:
                sc.removeJobTag(tag)
            if traced:
                trace.drain_listener_bus(spark)
                res.layers.update(trace.exec_counters(spark, tag))
                res.layers.update(
                    trace.python_counters(spark, trace.tagged_job_ids(spark, tag))
                )
                res.layers.update(trace.cache_counters(spark))
                res.layers["plans.build_s"] = tracer.total("plans.build", tag)
            passes.append({"pass_id": tag, "traced": traced, "wall_s": res.wall_s,
                           "ops_s": res.ops_s, "layers": res.layers})
    tracer.enabled = False

    t0 = time.monotonic()
    checks = wl.check(spark)
    check_s = time.monotonic() - t0
    spark.stop()

    timed = [p for p in passes if not p["traced"]]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        metrics = {
            name: _median(p["layers"].get(name, 0.0) for p in traced)
            for name in PER_LAYER
        }
        metrics["session.start_s"] = _median(session_s)
        metrics["datagen.s"] = _median(datagen_s)
        metrics["warmup.s"] = warmup_s
        metrics["mem.peak_rss_mb"] = rss.peak / 1e6
        metrics["trace.overhead_s"] = _median(
            p["wall_s"] for p in traced
        ) - _median(p["wall_s"] for p in timed)
        units = {k: v[0] for k, v in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": _median(setup_s),
            "pass_s": _median(p["wall_s"] for p in timed),
            "op_p50_s": _median(_median(p["ops_s"]) for p in timed),
        }
        units = {k: v[0] for k, v in END_TO_END.items()}

    n_ops = sum(len(p["ops_s"]) for p in passes)
    failed = sum(not ok for _name, ok in checks)
    result = {
        "correct": failed == 0,
        "attempted": len(checks) + n_ops,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }
    record.update(
        loadavg_after=os.getloadavg(),
        setup_s=setup_s,
        session_s=session_s,
        datagen_s=datagen_s,
        warmup_s=warmup_s,
        passes=passes,
        check_s=check_s,
        checks=checks,
        derived=wl.readings(timed) if timed else {},
        result=result,
        predictions={
            k: {"moves": v[2], "on": list(v[3])} for k, v in PER_LAYER.items()
        },
        spans=tracer.spans,
    )
    return result, record


def _summary(record: dict) -> str:
    res = record["result"]
    lines = [
        f"{record['workload']} seed={record['seed']} local[{record['cpus']}] "
        f"trace={record['trace']} passes={len(record['passes'])}",
        f"  loadavg before {record['loadavg_before']} after {record['loadavg_after']}",
    ]
    for name, m in res["metrics"].items():
        lines.append(f"  {name:<34} {m['value']:.6g} {m['unit']}")
    for name, (v, unit) in record["derived"].items():
        lines.append(f"  {name:<34} {v:.6g} {unit}")
    lines.append(
        f"  {'failed_share':<34} {res['failed'] / res['attempted']:.6g} ratio "
        f"({res['failed']} of {res['attempted']} operations and checks)"
    )
    lines += [f"  check FAILED: {n}" for n, ok in record["checks"] if not ok]
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    from perfbench.metrics import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, ENGINE)):
        print(f"engine package {ENGINE} not found under {REPO}", file=sys.stderr)
        return 2
    _check_benchmark_json()

    root = os.path.join(REPO, ".perfbench")
    args.work = os.path.join(root, f"work-{args.workload}-{os.getpid()}")
    _configure_environment(args.work)
    try:
        result, record = run(args)
    finally:
        _stop_jvm()
        shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(os.path.join(root, "traces"), exist_ok=True)
    out = os.path.join(
        root, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(_summary(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    sys.exit(main())
