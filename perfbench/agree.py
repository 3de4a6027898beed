"""Repeat agreement: do two sets of runs of the same code agree?

    python3 perfbench/agree.py

For each workload of BENCHMARK.json, runs the benchmark command ten
times with seeds 1..10 (set A) and again with seeds 101..110 (set B),
then reports for every end-to-end metric each set's median and quartiles
(`statistics.quantiles(n=4)`), the spread (q3 - q1) / median, and whether
the sets agree within the metric's bound: each set's spread within the
bound, the two medians apart by no more than the bound (either way), and
the same share of failed operations. One traced run per workload
follows, and the tracing overhead (traced.run_s minus the untraced run_s
median) is reported. Every run's result line and the summary go to
.bench_work/agree-<time>.json; the table goes to stdout.
"""
import json
import os
import statistics
import subprocess
import sys
import time

RUNS = 10


def run_once(cmd, workload, seed, seconds, trace):
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {p.returncode})")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    cmd, seconds = bench["command"], bench["run_seconds"]
    workloads = [w["name"] for w in bench["workloads"]]
    report = {"runs": {}, "summary": {}}
    ok = True
    for w in workloads:
        sets = {}
        for name, base in (("A", 0), ("B", 100)):
            sets[name] = [run_once(cmd, w, base + i + 1, seconds, 0) for i in range(RUNS)]
        report["runs"][w] = sets
        print(f"\n### {w} ({RUNS} runs per set, run wall median "
              f"{statistics.median(r['wall_s'] for r in sets['A'] + sets['B']):.1f} s)\n")
        print("| metric | set | median | q1 | q3 | spread | bound | agree |")
        print("|---|---|---|---|---|---|---|---|")
        summary = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sa = stats([r["metrics"][name]["value"] for r in sets["A"]])
            sb = stats([r["metrics"][name]["value"] for r in sets["B"]])
            b_vs_a = (sb["median"] - sa["median"]) / sa["median"]
            agree = abs(b_vs_a) <= bound and sa["spread"] <= bound and sb["spread"] <= bound
            ok &= agree
            summary[name] = {"A": sa, "B": sb, "b_vs_a": b_vs_a, "agree": agree}
            for label, s in (("A", sa), ("B", sb)):
                print(f"| {name} ({m['unit']}) | {label} | {s['median']:.4g} | {s['q1']:.4g} | "
                      f"{s['q3']:.4g} | {s['spread']:.3f} | {bound} | "
                      f"{'yes' if agree else 'NO'} (B vs A {b_vs_a:+.3f}) |")
        shares = {k: sum(r["failed"] for r in v) / sum(r["attempted"] for r in v)
                  for k, v in sets.items()}
        correct = all(r["correct"] for v in sets.values() for r in v)
        ok &= correct and shares["A"] == shares["B"]
        print(f"\nfailed share A {shares['A']}, B {shares['B']}; all correct: {correct}")
        summary["failed_share"] = shares
        summary["correct"] = correct
        tr = run_once(cmd, w, 1, seconds, 1)
        report["runs"][w]["traced"] = tr
        untraced = statistics.median(r["metrics"]["run_s"]["value"] for r in sets["A"])
        traced = tr["metrics"]["traced.run_s"]["value"]
        summary["tracing"] = {"traced_run_s": traced, "untraced_run_s": untraced,
                              "overhead_s": traced - untraced}
        print(f"traced run_s {traced:.3f} s, untraced median {untraced:.3f} s, "
              f"overhead {traced - untraced:+.3f} s")
        report["summary"][w] = summary
    os.makedirs(".bench_work", exist_ok=True)
    path = os.path.join(".bench_work", f"agree-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\n{'AGREE' if ok else 'DISAGREE'}; details in {path}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
