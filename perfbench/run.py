"""Engine benchmark: runs one named workload on local[4] and prints its
metrics; the last line of stdout is one JSON object.

    python3 perfbench/run.py --workload sf01_rounds --seed 1 --seconds 1 --trace 0

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(one span per public call) and keeps the spans in
.bench_build/perfbench/work/<workload>/raw.json. Without --workload every
workload runs in turn and only the summaries are printed. See NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["sf01_rounds", "sf01_motifs"]
TIME_LIMIT_S = 175
JVM_HEAP = "3g"
# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def run_jvm(classes, jars, workload, seed, seconds, trace):
    """Runs the Scala runner in a fresh work directory; returns its record."""
    work = os.path.join(build.BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    cp = os.pathsep.join([classes, os.path.join(os.path.dirname(jars[0]), "*")])
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"{workload}: runner exceeded {TIME_LIMIT_S} s")
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"{workload}: runner exited with {code}; "
                           f"see {os.path.relpath(work)}/jvm.log")
    with open(out) as f:
        return json.load(f)


def summary(raw, res, trace):
    """Human-readable lines: every metric by name and unit."""
    lines = [f"workload {raw['workload']}  seed {raw['seed']}  "
             f"passes {len(raw['passes'])}  trace {trace}"]
    for name, m in res["metrics"].items():
        lines.append(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")
    if not trace:
        error_rate = res["failed"] / res["attempted"]
        lines.append(f"  {'error_rate':40s} {error_rate:>16.6g} ratio")
        pr = stats.per_layer(raw)["algos.pagerank.edges_per_s"]
        if pr:
            lines.append(f"  {'pr_edges_per_s':40s} {pr:>16.6g} 1/s")
    for c in raw["checks"] + (stats.coverage_checks(raw) if trace else []):
        lines.append(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    if raw.get("error"):
        lines.append("  error: " + raw["error"].splitlines()[0])
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    for workload in [args.workload] if args.workload else WORKLOADS:
        try:
            raw = run_jvm(classes, jars, workload, args.seed, args.seconds,
                          args.trace)
            res = stats.result(raw, args.trace == 1)
        except (RuntimeError, ValueError) as e:
            sys.exit(f"perfbench: {str(e).splitlines()[0]}")
        print(summary(raw, res, args.trace == 1), flush=True)
    if args.workload:
        print(json.dumps(res))


if __name__ == "__main__":
    main()
