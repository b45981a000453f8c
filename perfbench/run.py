"""Benchmark entry point: one workload, one seed, one measuring window.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus_zipf --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from the seed (under ``.perfbench_work/``,
removed afterwards), measures the cold set-up and then the workload's
passes, checks every output, and prints a human-readable
summary followed by ONE JSON line: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. Metric
definitions and the layer map: perfbench/LAYERS.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import SparkRest, Tracer  # noqa: E402


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except (FileNotFoundError, ProcessLookupError):
        return True


def wait_gone(pids, timeout_s: float = 60.0) -> None:
    deadline = time.monotonic() + timeout_s
    while not all(_gone(p) for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} still running")
        time.sleep(0.05)


def cold_setup(cpus: int, conf: dict):
    """The cold start ``setup_s`` measures: ``session.get_spark`` (module
    import, JVM launch, context) then ``registry.get_queries()`` (operator
    registration). Returns (spark, queries, session s, registry s)."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from wordcount_spark import session

    spark = session.get_spark("perfbench", cpus=cpus, extra_conf=conf)
    t1 = time.perf_counter()
    from wordcount_spark import registry

    queries = registry.get_queries()
    return spark, queries, t1 - t0, time.perf_counter() - t1


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it and every worker process below it."""
    from pyspark import SparkContext

    tree = [jvm_pid, *host.descendants(jvm_pid)]
    try:
        spark.stop()
    finally:  # end the JVM even if the session could not stop cleanly
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            # a later session in this process launches a fresh JVM
            SparkContext._gateway = SparkContext._jvm = None
        wait_gone(tree)


def _summary(values: list[float]) -> str:
    if len(values) < 2:
        return f"n={len(values)}"
    q1, _, q3 = statistics.quantiles(values, n=4)
    return f"quartiles {q1:.4g}..{q3:.4g}, n={len(values)}"


#: corpus_zipf prefixes whose self times add up to the traced pass
_SELF_TIMES = ("readers.scan_s", "text.tokenize_normalize_s", "wordcount.count_s",
               "sinks.rank_s", "sinks.write_s")


def _trace_summary(workload: str, metrics: dict, out: str) -> list[str]:
    """Self-time sum and tracing overhead: the traced pass against the
    median ``job_s`` of this workload's untraced runs recorded in ``out``."""
    traced = metrics["trace.job_s"]["value"]
    lines = []
    if workload == "corpus_zipf":
        total = sum(metrics[m]["value"] for m in _SELF_TIMES)
        lines.append(f"layer self times sum to {total:.3f} s; traced pass {traced:.3f} s")
    untraced = []
    for path in glob.glob(os.path.join(out, f"{workload}-seed*.json")):
        if not path.endswith("-trace.json"):
            with open(path) as fh:
                untraced.append(json.load(fh)["metrics"]["job_s"]["value"])
    if untraced:
        base = statistics.median(untraced)
        lines.append(f"tracing overhead {traced - base:+.3f} s (traced pass {traced:.3f} s, "
                     f"untraced job_s median {base:.3f} s over {len(untraced)} runs)")
    return lines


def measure(args, spec: dict, work_dir: str) -> tuple[dict, list[str]]:
    import workloads

    host_info = host.describe()
    jiffies = host.cpu_jiffies()
    cpus = host.cpus()
    conf = host.session_conf(work_dir, ui=bool(args.trace))
    wall = {"start": time.perf_counter()}
    spark, queries, session_s, registry_s = cold_setup(cpus, conf)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(bool(args.trace))
    wall["setup"] = time.perf_counter()
    try:
        rest = SparkRest(spark) if args.trace else None
        res = workloads.WORKLOADS[args.workload](
            spark, queries, args.seed, args.seconds, work_dir, tracer, rest)
        rss_mb = host.peak_rss_mb(jvm_pid)
    finally:
        wall["workload"] = time.perf_counter()
        stop_spark(spark, jvm_pid)
        wall["stop"] = time.perf_counter()

    tally = res.tally
    job_s = statistics.median(res.pass_s)
    input_mb = res.input_bytes / 1e6
    samples = {
        "setup_s": [session_s + registry_s],
        "job_s": res.pass_s,
        "throughput_mb_s": [input_mb / t for t in res.pass_s],
        "peak_rss_mb": [rss_mb],
        "session.start_s": [session_s],
        "registry.load_s": [registry_s],
        **res.layers,
    }
    group = "per_layer" if args.trace else "end_to_end"
    metrics, lines = {}, []
    for m in spec[group]:
        vals = samples.get(m["name"])
        if m["name"] == "throughput_mb_s":
            value = input_mb / job_s  # input size over the median pass
        elif vals:
            value = float(statistics.median(vals))
        else:
            value, vals = 0.0, []  # a layer this workload never calls
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        lines.append(f"{m['name']:<34} {value:>12.6g} {m['unit']:<6} {_summary(vals)}")
    failed_frac = tally.failed / max(tally.attempted, 1)
    lines.append(f"{'failed_frac':<34} {failed_frac:>12.6g} {'ratio':<6} "
                 f"{tally.failed} of {tally.attempted} operations")
    stolen, total = (b - a for a, b in zip(jiffies, host.cpu_jiffies()))
    lines.append("host " + " ".join(f"{k}={v}" for k, v in host_info.items())
                 + f" cpu_steal_pct={100 * stolen / max(total, 1):.1f} (during the run)")
    lines.append(f"input_mb={input_mb:.3f} passes={len(res.pass_s)} "
                 f"pass_s={[round(t, 3) for t in res.pass_s]}")
    marks = list(wall.items())
    lines.append("wall_s " + " ".join(
        f"{name}={t - marks[i][1]:.2f}" for i, (name, t) in enumerate(marks[1:]))
        + f" (warm-up {res.warmup_s:.2f})")
    lines.extend(f"error: {e}" for e in tally.errors)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    record = os.path.join(out, f"{args.workload}-seed{args.seed}")
    if args.trace:
        lines.extend(_trace_summary(args.workload, metrics, out))
        tracer.write(record + "-trace.json", {"workload": args.workload, "seed": args.seed,
                                              "layers": res.layers, "pass_s": res.pass_s})
        lines.append(f"spans written to {os.path.relpath(record, ROOT)}-trace.json")
    else:
        with open(record + ".json", "w") as fh:
            json.dump({"host": host_info, "pass_s": res.pass_s, "metrics": metrics}, fh)
    result = {
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv=None) -> int:
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed by the ``finally`` blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "wordcount_spark", "session.py")):
        print("perfbench: the wordcount_spark package is not in this checkout", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, lines = measure(args, spec, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace}")
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
