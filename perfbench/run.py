"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the checkout root. Builds the program and the benchmark when
their sources changed (perfbench/build.py), then runs graft.perf.Main
in one JVM. The last line on stdout is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer ones with --trace 1. The full record (provenance,
samples, spans) goes to .perfbench/records/, the JVM's log to
.perfbench/logs/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
JVM_TIMEOUT_S = 170
HEAP = "3g"


def java_cmd(classes, jars, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args)


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        classes, jars, stamp = build.ensure_built(ROOT)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    if a.selftest:
        work = os.path.join(ROOT, ".perfbench", "selftest")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        r = subprocess.run(java_cmd(classes, jars, work, "graft.perf.SelfTest", []))
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(r.returncode)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    records = os.path.join(base, "records")
    logs = os.path.join(base, "logs")
    for d in (os.path.join(work, "tmp"), records, logs):
        os.makedirs(d, exist_ok=True)
    record = os.path.join(records, f"{tag}.json")
    result = os.path.join(work, "result.json")
    log_path = os.path.join(logs, f"{tag}.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--record", record, "--result", result,
            "--fingerprints", os.path.join(HERE, "fingerprints.txt")]
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(java_cmd(classes, jars, work, "graft.perf.Main", args),
                               stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.isfile(result):
            tail = open(log_path).read()[-3000:]
            fail(f"{a.workload} exited with {r.returncode}; log tail:\n{tail}")
        out = json.load(open(result))
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s; log in {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = [m["name"] for m in spec["end_to_end" if a.trace == "0" else "per_layer"]]
    if sorted(out["metrics"]) != sorted(wanted):
        fail(f"metrics {sorted(out['metrics'])} differ from BENCHMARK.json's {sorted(wanted)}")
    rec = json.load(open(record))
    rec["provenance"].update({"git_sha": git_sha(), "source_sha256": stamp})
    with open(record, "w") as f:
        json.dump(rec, f)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
