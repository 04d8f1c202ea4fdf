"""perfbench: seeded end-to-end and per-layer benchmark for graft.

    python3 perfbench/run.py --workload docstore_sql --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (first run only),
generates the workload's inputs from the seed, runs the JVM side
(set-up, the timed closed loop, output fingerprints), checks every
distinct op's output against DuckDB, and prints a report whose last
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the span trace). See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
XMX = "2g"
XMN = "512m"
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("throughput_ops_s", "1/s"), ("latency_p50_s", "s"),
              ("latency_p90_s", "s"), ("cpu_s_per_op", "s"), ("peak_rss_mb", "MB")]


def per_layer_units():
    """Per-layer metric names and units, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def nproc():
    return len(os.sched_getaffinity(0))


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; keyed by the generator's bytes."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    out = os.path.join(WORK, workload, f"inputs-{seed}")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            fresh = f.read() == digest
        if fresh:
            with open(os.path.join(out, "plan.json")) as f:
                return json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    plan = gen.generate(workload, seed, out)
    with open(stamp, "w") as f:
        f.write(digest)
    return plan


def tree_digest(d):
    """sha256 over the relative names and bytes of every file under `d`."""
    h = hashlib.sha256()
    for name in sorted(os.path.relpath(os.path.join(p, f), d)
                       for p, _, fs in os.walk(d) for f in fs):
        h.update(name.encode() + b"\0")
        with open(os.path.join(d, name), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(tmp):
    """The driver JVM: fixed heap and a generational collector with a fixed
    young generation, so the resident set tracks retained data rather
    than which heap regions the collector happened to touch."""
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", f"-Xmn{XMN}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def run_jvm(classes, plan, workload, seed, seconds, trace, deadline):
    run_dir = os.path.join(WORK, workload, f"run-{seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "out.json")
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = java_cmd(os.path.join(run_dir, "tmp")) + ["-cp", cp, "graft.perfbench.PerfBench",
            os.path.join(WORK, workload, f"inputs-{seed}", "plan.json"), run_dir,
            str(seconds), str(trace), str(nproc()), out]
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError("benchmark JVM exceeded its time limit")
    if rc != 0:
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f), run_dir


def summarize(plan, out):
    """Apply the DuckDB checks to the JVM's samples and compute the
    end-to-end metrics. A failed op adds no latency sample."""
    bad = check.check_refs(plan, out["refs"])
    for op_id, err in out["warmup_failures"].items():
        bad.setdefault(op_id, "warm-up: " + err)
    samples = out["samples"]
    failed_ops = {}
    for s in samples:
        if s["ok"] and s["id"] in bad:
            s["ok"], s["err"] = False, bad[s["id"]]
        if not s["ok"]:
            failed_ops.setdefault(s["id"], s["err"])
    ok = [s for s in samples if s["ok"]]
    reads = [s["lat"] for s in ok if not s["write"]]
    attempted = len(samples)
    e2e = {
        "setup_s": out["setup_s"],
        "throughput_ops_s": len(ok) / out["window_s"],
        "latency_p50_s": statistics.median(reads) if reads else float("nan"),
        "latency_p90_s": percentile(reads, 0.9) if reads else float("nan"),
        "cpu_s_per_op": out["executor_cpu_s"] / max(1, attempted),
        "peak_rss_mb": out["rss_mb"],
    }
    return {"e2e": e2e, "latencies": reads, "attempted": attempted,
            "failed": attempted - len(ok), "failed_ops": failed_ops,
            "correct": not bad and len(ok) == attempted and bool(reads)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    try:
        classes, src_digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + RUN_TIMEOUT_S
    plan = inputs(a.workload, a.seed)
    inputs_sha256 = tree_digest(plan["inputs"]["dir"])
    try:
        out, run_dir = run_jvm(classes, plan, a.workload, a.seed, a.seconds, a.trace, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3

    s = summarize(plan, out)
    e2e, reads, attempted, failed = s["e2e"], s["latencies"], s["attempted"], s["failed"]
    correct, failed_ops, throughput = s["correct"], s["failed_ops"], e2e["throughput_ops_s"]
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True)
        commit = git.stdout.strip() or None
    stamp = dict(out["stamp"], commit=commit,
                 source_digest=src_digest, inputs_sha256=inputs_sha256,
                 seed=a.seed, nproc=nproc(),
                 xmx=XMX, trace=bool(a.trace), seconds=a.seconds)
    report = {"workload": a.workload, "stamp": stamp, "end_to_end": e2e,
              "attempted": attempted, "failed": failed, "failed_ops": failed_ops,
              "latency_samples": len(reads), "setup_phases": out["setup_phases"],
              "window_s": out["window_s"]}

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"window={out['window_s']:.2f}s")
    print("stamp " + json.dumps(stamp, sort_keys=True))
    units = dict(END_TO_END)
    for name, _ in END_TO_END:
        print(f"  {name:<18} {e2e[name]:.6g} {units[name]}")
    print(f"  failed_ops_ratio   {failed}/{attempted} = {failed / max(1, attempted):.6g}"
          f"  (latency samples: {len(reads)})")
    for op_id, err in sorted(failed_ops.items()):
        print(f"  FAILED {op_id}: {err}")
    n_checked = sum(1 for o in plan["ops"] if o.get("duck_sql") or o.get("expect"))
    print(f"  output check: {'PASS' if correct else 'FAIL'} "
          f"({n_checked} distinct ops checked, {attempted} op outputs fingerprinted)")

    last_untraced = os.path.join(WORK, a.workload, f"untraced-{a.seed}.json")
    if a.trace == 0:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n, _ in END_TO_END}
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
    else:
        layer = dict(out["per_layer"], **{"trace.throughput_ops_s": throughput})
        metrics = {n: {"value": layer[n], "unit": u} for n, u in per_layer_units()}
        report.update(per_layer=layer, bases=out["bases"], self_time_s=out["self_time_s"])
        print("  self time by layer (s, share of op time):")
        total = out["self_time_s"]
        op_total = sum(total.values()) or 1.0
        for k, v in sorted(total.items(), key=lambda kv: -kv[1]):
            print(f"    {k:<10} {v:9.3f}  {v / op_total:6.1%}")
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)["throughput_ops_s"]
            report["trace_overhead"] = {"traced_throughput_ops_s": throughput,
                                        "untraced_throughput_ops_s": base,
                                        "ratio": throughput / base}
            print(f"  tracing overhead: throughput {throughput:.4g} traced vs "
                  f"{base:.4g} untraced ops/s (x{throughput / base:.3f})")
        else:
            print("  tracing overhead: no untraced run of this seed to compare with")
        for n, u in per_layer_units():
            print(f"  {n:<36} {layer[n]:.6g} {u}")
        print("  bases:")
        for k, v in out["bases"].items():
            print(f"    {k}: {v}")
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(out["spans"], f)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(f"  ({time.time() - t_start:.1f}s wall)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
