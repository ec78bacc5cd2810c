#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload traffic --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run builds the engine and the
benchmark from source when needed (perfbench/build.py), launches one JVM
for the workload (perfbench/src) over its events table in
perfbench/data, checks the outputs, and prints a summary line followed
by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics, and every op's spans are written to
perfbench/.traces/<workload>-seed<seed>.json. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

# the engine's events table each workload reads: sf0.01 for traffic,
# where fixed cost per plan dominates, sf0.1 for the stream replay
WORKLOAD_DATA = {"traffic": os.path.join(HERE, "data", "sf0.01"),
                 "stream-replay": os.path.join(HERE, "data", "sf0.1")}

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(classes, args, work):
    cmd = [build.java(), "-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"workload JVM timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"workload JVM exited with {proc.returncode}")


def fmt(v):
    return "n/a" if v is None else f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala; run from the root of a checkout", 2)
    try:
        classes = build.ensure()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        fail(str(e))

    data = WORKLOAD_DATA[a.workload]
    work = os.path.join(HERE, ".run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(HERE, ".traces", f"{a.workload}-seed{a.seed}.json")
    if a.trace:
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data, "--work", work, "--out", out,
                      "--trace-out", trace_out], work)
    res = json.load(open(out))

    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    extra = res["extra"]
    if a.workload == "traffic":
        t0 = time.time()
        checks = oracle.compare(data, extra["verify_dir"], extra["queries"])
        extra["oracle_s"] = time.time() - t0
        wrong = {q: why for q, why in checks.items() if why}
        failed += len(wrong)
        errors += [f"{q}: wrong result vs DuckDB oracle: {why}" for q, why in sorted(wrong.items())]
    for e in errors:
        print(f"perfbench: error: {e}", file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    e2e = res["e2e"]
    stream = a.workload == "stream-replay"
    amb = res["ambient"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={res['cores']} "
          f"loadavg={amb['loadavg_start']:.2f}->{amb['loadavg_end']:.2f} "
          f"ambient_cores={amb['ambient_cores']:.2f} steal_cores={amb['steal_cores']:.2f} "
          f"jvm_boot_s={extra['jvm_boot_s']:.3f}")
    named = [
        ("setup_s", e2e["setup_s"], "s"),
        ("pass_s", e2e["pass_s"], "s"),
        ("query_p50_s", None if stream else e2e["latency_p50_s"], "s"),
        ("query_p90_s", None if stream else e2e["latency_p90_s"], "s"),
        ("event_latency_p50_s", e2e["latency_p50_s"] if stream else None, "s"),
        ("event_latency_p90_s", e2e["latency_p90_s"] if stream else None, "s"),
        ("drain_events_per_s", extra.get("drain_events_per_s"), "1/s"),
        ("error_rate", failed / max(1, attempted), "ratio"),
        ("peak_rss_mib", e2e["peak_rss_mib"], "MiB"),
    ]
    print("  " + "  ".join(f"{n}={fmt(v)} {u}" for n, v, u in named))
    if a.trace:
        layers = res["layers"]
        with open(os.path.join(HERE, "layers.json")) as f:
            summary_only = json.load(f)["summary_only"]["metrics"]
        names = [m["name"] for m in declared["per_layer"]] + summary_only
        print("  " + "  ".join(f"{n}={fmt(layers.get(n))}" for n in names))
        print(f"  spans: {os.path.relpath(trace_out, ROOT)}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
