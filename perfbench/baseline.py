"""Repeats the benchmark over several seeds and prints, per workload, the
median and quartiles of every end-to-end metric with its spread (quartile
distance over the median) against the bound in BENCHMARK.json. With
--traced it adds one traced run per workload: the per-layer table and the
tracing overhead (traced pass time over untraced wall_s, minus one).

    python3 perfbench/baseline.py --runs 10 --traced > baseline.md

Raw results are kept in .bench_build/perfbench/baseline.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(build.BUILD, "work", workload, "raw.json")) as f:
        raw = json.load(f)
    res["raw"] = {k: raw[k] for k in ("seed", "setup", "passes", "spans")}
    return res


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {}
    for w in workloads:
        untraced = [run(w, args.seed0 + i, spec["run_seconds"], 0)
                    for i in range(args.runs)]
        traced = run(w, args.seed0, spec["run_seconds"], 1) if args.traced else None
        record[w] = {"untraced": untraced, "traced": traced}
        print(f"\n### {w}: {args.runs} runs, seeds {args.seed0}.."
              f"{args.seed0 + args.runs - 1}, {spec['run_seconds']} s each\n")
        print("| metric | unit | q1 | median | q3 | spread | bound |")
        print("|---|---|---|---|---|---|---|")
        for name, unit in stats.END_TO_END:
            xs = [r["metrics"][name]["value"] for r in untraced]
            q1, q2, q3 = stats.quartiles(xs)
            print(f"| {name} | {unit} | {q1:.4g} | {q2:.4g} | {q3:.4g} | "
                  f"{stats.spread(xs):.3f} | {bounds[name]} |")
        failed = sum(r["failed"] for r in untraced)
        attempted = sum(r["attempted"] for r in untraced)
        correct = all(r["correct"] for r in untraced)
        print(f"\nerror_rate {failed / attempted:.4g} ({failed} of {attempted}); "
              f"all outputs correct: {correct}")
        if traced:
            m = traced["metrics"]
            wall = stats.median([r["metrics"]["wall_s"]["value"] for r in untraced])
            print(f"tracing overhead {m['pass.s']['value'] / wall - 1:+.3f} "
                  f"(traced pass {m['pass.s']['value']:.3f} s, untraced wall_s "
                  f"{wall:.3f} s); calls cover {m['pass.coverage']['value']:.3f} "
                  f"of the traced pass\n")
            print("| span | s | jobs | task_s | busy | plan_s | shuffle_mb | other |")
            print("|---|---|---|---|---|---|---|---|")
            for span, extras in stats.SPANS:
                if not m[f"{span}.s"]["value"]:
                    continue
                base = " | ".join(f"{m[f'{span}.{k}']['value']:.4g}"
                                  for k, _ in stats.SPAN_METRICS)
                other = ", ".join(f"{k} {m[f'{span}.{k}']['value']:.4g}" for k in extras)
                print(f"| {span} | {base} | {other} |")
    os.makedirs(build.BUILD, exist_ok=True)
    with open(os.path.join(build.BUILD, "baseline.json"), "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()
