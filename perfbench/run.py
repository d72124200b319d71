"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, sets up, measures for S seconds, checks every output, and prints
two JSON lines on stdout: a detail line (hygiene stamp, every measured
value under its workload-specific name, set-up samples), then the result line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json. With `--trace 1`
the timed pass is followed by an untraced and a traced pass on the warmed
JVM; the metrics are then the per-layer ones from the traced pass (layers
a workload never calls read 0), plus the tracing overhead: traced minus
untraced end-to-end values. All scratch files live under `.perfbench/` in
the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: warm session restarts the timed pass times after its measurement;
#: setup_s is their median. Its first set-up launches the JVM and is
#: reported apart, as `cold_setup_s`. The later passes of a traced run set
#: up once, on the warm JVM.
RESTARTS = 3
LAYERS = ("session", "datamodel", "sources", "pipeline", "sink", "plans", "operators", "bench")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spark_jvms(exclude: int | None) -> int:
    """Spark JVMs on the host other than `exclude`."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == exclude:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"org.apache.spark" in f.read():
                    n += 1
        except OSError:
            continue
    return n


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def _run_pass(workloads, name, seed, seconds, work, cores, traced, cold):
    import tracing

    tracer = tracing.Tracer(run_id=f"{name}-{seed}-{'traced' if traced else 'timed'}", enabled=traced)
    p = workloads.Pass(seed, seconds, work, cores, tracer, cold=cold,
                       restarts=RESTARTS if cold else 0)
    try:
        metrics = workloads.WORKLOADS[name](p) or {}
        layers = metrics.pop("_layers", {})
        items = metrics.pop("_items", 0)
        p.finish_setups()
        jvm_pid = workloads.jvm_pid(p.spark) if p.spark else None
    finally:
        p.stop_session()
    if p.setup_s:
        metrics["setup_s"] = statistics.median(p.setup_s)
    metrics.setdefault("_named", {})["peak_rss_mb"] = (
        p.peak_jvm_kb + workloads.python_peak_rss_kb()) / 1024.0
    if traced:
        layers["engine.gc_ms"] = p.gc_ms
        layers["engine.jit_cpu_ms"] = p.jit_cpu_s * 1000.0 / max(items, 1)
        layers.update(tracing.engine_counters(p.log_dir, p.windows, cores, items))
        self_ms = tracer.self_ms_by_layer()
        for layer in LAYERS:
            layers[f"{layer}.self_ms"] = self_ms.get(layer, 0.0)
        tracer.write(os.path.join(os.getcwd(), ".perfbench", "traces", f"{name}-seed{seed}.jsonl"))
    return p, metrics, layers, jvm_pid


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalog = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    import workloads  # fails when the program's package is absent

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    work_root = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Compiler threads that live as long as the JVM keep all JIT time
    # countable apart from the program's CPU time (workloads.program_cpu_s).
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    nproc = len(os.sched_getaffinity(0))
    # Two cores stay outside Spark's task slots: one for the client (the
    # paced publisher, or the driver thread that builds queries and fetches
    # results), one for the JVM's JIT compiler threads, which otherwise
    # finish compiling at a different point from one run to the next.
    cores = max(1, min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc - 2))
    hygiene = {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_cores": cores,
        "loadavg_1m_start": os.getloadavg()[0],
        "other_spark_jvms_start": _spark_jvms(None),
    }
    steal0, total0 = _cpu_jiffies()

    passes = []
    try:
        passes.append(_run_pass(workloads, args.workload, args.seed, args.seconds,
                                os.path.join(work, "timed"), cores, False, True))
        if args.trace:
            # Both later passes start on a JVM the timed pass has warmed, so
            # their difference is the tracing overhead, not JIT warm-up.
            # They measure half as long each to keep a traced run short.
            for traced in (False, True):
                passes.append(_run_pass(workloads, args.workload, args.seed, args.seconds / 2,
                                        os.path.join(work, f"pass{len(passes)}"), cores,
                                        traced, False))
        jvm_pid = passes[-1][3]
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    timed, timed_metrics = passes[0][0], passes[0][1]
    hygiene["loadavg_1m_end"] = os.getloadavg()[0]
    steal1, total1 = _cpu_jiffies()
    # CPU time the hypervisor gave to other guests: wall-clock timings
    # stretch with it
    hygiene["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    hygiene["other_spark_jvms_end"] = _spark_jvms(jvm_pid)
    if "_lateness_ms" in timed_metrics:
        hygiene["generator_lateness_ms"] = timed_metrics.pop("_lateness_ms")
    solo = hygiene["other_spark_jvms_start"] == 0 and hygiene["other_spark_jvms_end"] == 0
    hygiene["solo"] = solo
    if not solo:
        print("# NOT SOLO: other Spark JVMs ran during this run; timings are contaminated",
              file=sys.stderr)

    attempted = sum(p.attempted for p, *_ in passes)
    failed = sum(p.failed for p, *_ in passes)
    named = timed_metrics.pop("_named", {})
    named["failed_ratio"] = failed / max(attempted, 1)
    if args.trace:
        untraced, (_, traced_metrics, layers, _) = passes[1][1], passes[2]
        for m in catalog["end_to_end"]:
            key = m["name"]
            if key in traced_metrics and key in untraced:
                # what tracing cost: positive when the traced pass did worse
                cost = traced_metrics[key] - untraced[key]
                layers[f"trace.overhead_{key}"] = cost if m["better"] == "lower" else -cost
        wanted, source = catalog["per_layer"], layers
    else:
        wanted, source = catalog["end_to_end"], timed_metrics
    unknown = sorted(set(source) - {m["name"] for m in wanted})
    if unknown:
        print(f"# metrics not in BENCHMARK.json: {unknown}", file=sys.stderr)
    missing = [m["name"] for m in catalog["end_to_end"] if m["name"] not in timed_metrics]
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "hygiene": hygiene, "named": named, "measured": timed_metrics,
        "setup_samples_s": timed.setup_s, "cold_setup_s": timed.cold_setup_s,
        "failures": [f for p, *_ in passes for f in p.failures][:5],
    }
    print(json.dumps({"detail": detail}))
    if missing:  # the workload died before it could measure
        failed += 1
        attempted += 1
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
