#!/usr/bin/env python3
"""Repo benchmark: runs one seeded workload against the library and prints
one JSON result line.

  python3 perfbench/run.py --workload join_tile --seed 1 --seconds 8 --trace 0
  python3 perfbench/run.py --list        every metric by name, unit and meaning
  python3 perfbench/run.py --selftest    the benchmark's own tests

Run from the root of a checkout. The first run builds the library and the
benchmark into .bench_build/perfbench (see build.py). Spark runs at
local[N], N the CPUs this process may use. With --trace 0 the result holds
the end-to-end metrics, with --trace 1 the per-layer metrics (BENCHMARK.json
lists both, catalog.json says what each means); the line before it is the
run record (seed, nproc, load average, JVM and Spark versions, input
sizes). Spans of a traced run go to .bench_build/perfbench/trace/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the benchmark directory holds sources only
import build  # noqa: E402

TIMEOUT_S = 170
HEAP = "3g"


def spec():
    """BENCHMARK.json (names, units, directions, bounds, workloads) and
    catalog.json (per metric: its meaning or what it should move, and the
    workloads it applies to when not all of them)."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "catalog.json")) as fh:
        notes = json.load(fh)
    return bench, notes


def list_metrics(bench, notes):
    workloads = [w["name"] for w in bench["workloads"]]
    for kind in ("end_to_end", "per_layer"):
        print(f"# {kind}")
        for m in bench[kind]:
            n = notes[m["name"]]
            where = ",".join(n.get("workloads", workloads))
            note = n.get("meaning") or "moves " + n["moves"]
            print(f"{m['name']}\t{m['unit']}\t{m['better']}\t{where}\t{note}")


def java_cmd(out_dir, jar, jars, main, args, cds):
    """The JVM command. `cds` is the class-data archive of this workload:
    used when it exists, written at exit when it does not (JVM start-up
    only; it changes no measured op)."""
    # a fixed heap size: G1 resizing it between ops made op times bimodal
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m", "-Xlog:disable", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(out_dir, "tmp")] + build.jvm_opens()
    if cds:
        if os.path.isfile(cds):
            cmd.append("-XX:SharedArchiveFile=" + cds)
        else:
            cmd.append("-XX:ArchiveClassesAtExit=" + cds + ".tmp")
    return cmd + ["-cp", os.pathsep.join([jar] + jars), main] + args


def run_jvm(cmd, cds, work):
    """Run the JVM; forward its output to stderr and return the tagged lines."""
    tagged = {}
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep it in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"benchmark JVM ran over {TIMEOUT_S} s")
    finally:
        if p.poll() is None:  # timed out, or this process was told to stop
            p.kill()
            p.wait()
    for line in out.splitlines():
        tag, _, rest = line.partition(" ")
        if tag in ("PERFBENCH_RECORD", "PERFBENCH_METRICS"):
            tagged[tag] = json.loads(rest)
        else:
            print(line, file=sys.stderr)
    if p.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with {p.returncode}")
    if cds and os.path.isfile(cds + ".tmp"):
        os.replace(cds + ".tmp", cds)
    return tagged


def result(bench, notes, workload, trace, measured):
    """Attach units and check that every metric the mode promises is there.
    A per-layer metric of a layer the workload never runs reads 0."""
    kind = "per_layer" if trace else "end_to_end"
    metrics, not_run = {}, []
    for m in bench[kind]:
        v = measured["metrics"].get(m["name"])
        if v is None and workload not in notes[m["name"]].get("workloads", [workload]):
            v = 0
            not_run.append(m["name"])
        if v is None or not math.isfinite(v):
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics, not_run


def selftest(out_dir, jar, jars):
    if subprocess.run(java_cmd(out_dir, jar, jars, "perfbench.SelfTest", [], None)).returncode:
        return 1
    bench, notes = spec()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    assert len(names) == len(set(names)), "metric names repeat"
    assert set(names) == set(notes), "catalog.json must describe exactly the metrics of BENCHMARK.json"
    print("perfbench selftest: ok")
    return 0


def stop(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    bench, notes = spec()
    if a.list:
        list_metrics(bench, notes)
        return 0
    workloads = [w["name"] for w in bench["workloads"]]
    if not a.selftest and (a.workload not in workloads or a.seed is None or not a.seconds):
        ap.error(f"need --workload (one of {', '.join(workloads)}), --seed and --seconds")

    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    try:
        jar = build.build(root, out_dir)
        jars = build.spark_jars(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    if a.selftest:
        return selftest(out_dir, jar, jars)

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(out_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    trace_out = os.path.join(out_dir, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work,
            "--trace-out", trace_out]
    cds = os.path.join(out_dir, f"{a.workload}.jsa")
    load_before = os.getloadavg()
    try:
        tagged = run_jvm(java_cmd(out_dir, jar, jars, "perfbench.Main", args, cds), cds, work)
        measured = tagged["PERFBENCH_METRICS"]
        metrics, not_run = result(bench, notes, a.workload, a.trace == 1, measured)
    except (RuntimeError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = tagged["PERFBENCH_RECORD"]
    record.update({"nproc": cores, "loadavg_before": list(load_before),
                   "loadavg_after": list(os.getloadavg()), "layers_not_run": not_run})
    print(json.dumps({"run_record": record}))
    failed = int(measured["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(measured["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
