"""Service benchmark of the graft engine's client surface.

    python3 perfbench/run.py --workload <ingest|mixed> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), runs one workload in a
fresh JVM on local[nproc], and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list, each
with the unit BENCHMARK.json gives it. A traced run also writes its spans to
.bench_build/perfbench/traces/. Exits non-zero when the build fails, a check
fails or the run does not finish in time. See perfbench/METRICS.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the source tree
import build  # noqa: E402

RESULT = "PERFBENCH_RESULT "
INFO = "PERFBENCH_INFO "
DEADLINE_S = 170  # the JVM's share of a run's 180 s, after the build
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def marked(lines, marker):
    """The JSON after the last `marker` in `lines`, wherever the marker sits
    in its line: sbt's forked-output prefix "[info] " and the like pass."""
    found = None
    for line in lines:
        i = line.find(marker)
        if i >= 0:
            found = json.loads(line[i + len(marker):])
    return found


def selftest():
    got = marked(["[info] noise", '[info] PERFBENCH_RESULT {"correct": true, "metrics": {}}'], RESULT)
    assert got == {"correct": True, "metrics": {}}, got
    assert marked(["PERFBENCH_RESULT {\"a\": 1}", "PERFBENCH_RESULT {\"a\": 2}"], RESULT) == {"a": 2}
    assert marked(["[info] nothing here"], RESULT) is None
    cp = build.build()
    return subprocess.run([build.java(), build.NO_PERF_FILE, "-cp", cp, "perfbench.Main", "--selftest"]).returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks below (and subprocess.run
    # in the build), so no compiler or JVM outlives this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.selftest:
            return selftest()
        if None in (a.workload, a.seed, a.seconds, a.trace):
            ap.error("--workload, --seed, --seconds and --trace are required")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        if a.workload not in [w["name"] for w in spec["workloads"]]:
            ap.error(f"unknown workload {a.workload!r}")
        metrics = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    out = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(out, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ([build.java()] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx2g", build.NO_PERF_FILE, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath,
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--trace-out", os.path.join(out, "traces", f"{a.workload}-seed{a.seed}.json")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        try:
            stdout, _ = proc.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: the run did not finish within {DEADLINE_S} s", file=sys.stderr)
            return 3
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    code = proc.returncode
    info = marked(lines, INFO)
    result = marked(lines, RESULT)
    if result is None:
        print(f"perfbench: the run printed no result (exit {code})", file=sys.stderr)
        return 1
    if info is not None:
        print(INFO + json.dumps(info, sort_keys=True))
    values = result["metrics"]
    if result["correct"] and set(values) != set(metrics):
        print(f"perfbench: metrics differ from BENCHMARK.json: missing {sorted(set(metrics) - set(values))},"
              f" extra {sorted(set(values) - set(metrics))}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in metrics.items() if n in values},
    }))
    return 0 if result["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
