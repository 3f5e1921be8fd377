"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload bi_scan --seed 1 --seconds 10 --trace 0

Steps: build the engine and the harness (`build.py`), generate the seeded
inputs (`gen.py`, cached per seed), then run one JVM: its set-up (session
build and one cold pass), the cold pass's answers written out, then timed
passes for `--seconds`. After the JVM ends the answers are compared with
DuckDB running each query's oracle SQL (`check.py`).

With `--trace 0` the last stdout line carries the end-to-end metrics of
BENCHMARK.json. With `--trace 1` untraced and traced passes alternate in
the same JVM, the last line carries the per-layer metrics, and the lines
before it give each query's traffic (jobs, driver gap, executor CPU) over
the traced passes. Everything the run writes stays under `.perfbench/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    return bench, workloads


def jvm(classpath, work, log, **kv):
    """Run the harness once in a JVM of its own; return its result JSON."""
    n = len(os.listdir(work))
    out = os.path.join(work, f"result-{n}.json")
    # a java.io.tmpdir per JVM: the engine keys its materialized layouts
    # on it, so every JVM starts as cold as the first
    tmp = os.path.join(work, f"tmp-{n}")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Harness", f"work={work}", f"out={out}",
            f"launch_ms={int(time.time() * 1000)}"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    with open(log, "ab") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: harness timed out after {JVM_TIMEOUT_S} s (log: {log})")
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            tail = lf.read()[-4000:]
        raise SystemExit(f"perfbench: harness exited with {code}\n{tail}")
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(name, values, unit):
    """One human-readable line: median, the highest percentile the sample
    count supports, and the count."""
    vs = sorted(values)
    n = len(vs)
    if n == 0:
        return f"perfbench {name}: no samples"
    top = f"max={vs[-1]:.4f}" if n < 10 else f"p90={statistics.quantiles(vs, n=10)[-1]:.4f}"
    return f"perfbench {name} = {median(vs):.4f} {unit} (n={n}, min={vs[0]:.4f}, {top})"


def print_traffic(workload, queries, layers):
    """What kind of work a workload is, from its traced medians: jobs per
    query, the driver gap's share of the pass, executor CPU and shuffle
    bytes; then per query its jobs, driver-gap share and executor CPU."""
    g = lambda q, k: layers.get(f"query.{q}.{k}", 0.0)
    wall = sum(g(q, "wall_s") for q in queries)
    print(f"perfbench {workload} traffic: {layers.get('sched.jobs', 0.0) / len(queries):.1f} jobs/query, "
          f"driver gap {layers.get('sched.driver_gap_s', 0.0) / max(wall, 1e-9):.2f} of the pass, "
          f"exec.cpu_s {layers.get('exec.cpu_s', 0.0):.3f}, shuffle "
          f"{(layers.get('shuffle.write_bytes', 0.0) + layers.get('shuffle.read_bytes', 0.0)) / 1e6:.1f} MB")
    for q in queries:
        print(f"perfbench {workload} traffic {q}: {g(q, 'jobs'):.0f} jobs, driver gap "
              f"{g(q, 'driver_gap_s') / max(g(q, 'wall_s'), 1e-9):.2f} of {g(q, 'wall_s'):.3f} s, "
              f"cpu {g(q, 'cpu_s'):.3f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench, workloads = load_spec()
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; have {sorted(workloads)}")
    wl = workloads[a.workload]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    classpath = build.build()
    data = os.path.join(STATE, "data", a.workload, f"seed{a.seed}")
    manifest = gen.generate(data, wl["scale"], a.seed, wl["tables"])
    input_bytes = manifest["bytes"]
    print(f"perfbench {a.workload} seed={a.seed} scale={wl['scale']} input: "
          f"{manifest['rows']} rows, {input_bytes} bytes "
          + " ".join(f"{t}={v['rows']}" for t, v in sorted(manifest["tables"].items())))

    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(STATE, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    if os.path.exists(log):
        os.remove(log)
    try:
        res = jvm(classpath, work, log, mode="run", data=data, queries=",".join(wl["queries"]),
                  seconds=a.seconds, trace=a.trace)
        outcome = check.compare(data, res["check"]["outputs"], wl["tables"])
        if a.trace:
            keep = os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(os.path.join(work, "trace.json"), keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    for p in [res["cold"]] + passes:
        print(f"perfbench pass {p['index']}{' (cold)' if p is res['cold'] else ''} "
              + " ".join(f"{q}={t:.3f}s/{r}rows"
                         for q, t, r in zip(wl["queries"], p["query_s"], p["query_rows"])))
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    calls = [res["cold"]] + passes
    attempted = sum(p["calls"] for p in calls) + len(outcome["checked"])
    failed = sum(p["failed"] for p in calls) + len(outcome["failed"])
    for p in calls:
        for q in p["failed_queries"]:
            print(f"perfbench FAILED call {q} (pass {p['index']})")
    for q, why in outcome["failed"].items():
        print(f"perfbench MISMATCH {q}: {why}")
    print(f"perfbench correctness: {len(outcome['checked'])} checked against DuckDB, "
          f"{len(outcome['failed'])} failed, unchecked (no oracle): "
          f"{', '.join(outcome['unchecked']) or 'none'}")

    # the first timed pass still pays JIT warm-up; steady passes follow
    steady = untraced[1:] or untraced
    samples = {
        "setup_s": [res["setup_s"]],
        "pass_s": [p["wall_s"] for p in steady],
        "heap_peak_mb": [res["heap_peak_mb"]],
        "ok_frac": [1.0 - failed / max(1, attempted)],
    }
    print(f"perfbench {a.workload} passes: cold {res['cold']['wall_s']:.3f} s, timed "
          + " ".join(f"{p['wall_s']:.3f}{'t' if p['traced'] else ''}" for p in passes))
    for k, v in samples.items():
        print(summarize(f"{a.workload} {k}", v, units[k]))
    print(f"perfbench {a.workload} failed_frac = {failed / max(1, attempted):.4f} "
          f"({failed} of {attempted} calls)")

    if a.trace == 0:
        values = {k: median(v) for k, v in samples.items()}
        names = [m["name"] for m in bench["end_to_end"]]
    else:
        values = dict(res["layers"])
        values["trace.overhead"] = median([p["wall_s"] for p in traced]) / median(samples["pass_s"])
        names = [m["name"] for m in bench["per_layer"]]
        for k in names:
            print(f"perfbench {a.workload} {k} = {values.get(k, 0.0):.6g} {units[k]}")
        print_traffic(a.workload, wl["queries"], values)
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": units[k]} for k in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
