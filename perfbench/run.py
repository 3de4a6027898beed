"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The command builds the program
when its sources changed (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py), computes or loads the independent reference
(perfbench/check.py), launches one JVM that runs a Spark session on
local[nproc], and checks every output. The last line of standard output
is one JSON object: correct, attempted, failed and the metrics, which are
the end-to-end metrics of BENCHMARK.json with --trace 0 and its per-layer
metrics with --trace 1. A record of the run, with the external CPU and
steal seen on the host while it ran, goes to .bench_work/records/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Runs must end within 180 s; the JVM is stopped well before that.
JVM_DEADLINE_S = 165
HEAP = "3g"
# The --add-opens that build.sbt passes to forked runs (Spark on JDK 17).
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpu_times():
    """(busy, steal) jiffies over all host CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]) - idle - steal, steal


def proc_cpu(pid: int) -> int:
    """utime + stime jiffies of one process (all its threads)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])
    except OSError:
        return 0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(d, name))
    return total


def prune(parent: str, keep: str):
    """Keep only `keep` among the seed directories under `parent`."""
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name != os.path.basename(keep) and name.startswith("seed-"):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def launch(cp: str, plan_path: str, out: str):
    """Run the harness JVM; return (exit code, seconds, ext-CPU cores,
    steal cores) with the host figures averaged over the JVM's life."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
           f"-Dderby.system.home={out}",
           "-cp", cp, "perfbench.Harness", plan_path]
    hz = os.sysconf("SC_CLK_TCK")
    busy0, steal0 = cpu_times()
    t0 = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        own = 0
        try:
            while p.poll() is None:
                own = max(own, proc_cpu(p.pid))
                if time.time() - t0 > JVM_DEADLINE_S:
                    p.kill()
                    p.wait()
                    return -1, time.time() - t0, 0.0, 0.0
                time.sleep(0.2)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    wall = time.time() - t0
    busy1, steal1 = cpu_times()
    ext = max(0.0, (busy1 - busy0 - own) / hz / wall)
    return p.returncode, wall, ext, (steal1 - steal0) / hz / wall


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (no build.sbt or src/main/scala/graft)", 2)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; one of {names}", 2)

    cp = build.ensure_built(root)

    work = os.path.join(root, ".bench_work")
    inputs = os.path.join(work, "inputs", args.workload, f"seed-{args.seed}")
    prune(os.path.dirname(inputs), inputs)
    main_in = gen.generate(args.workload, inputs, args.seed)
    warm_in = gen.generate(args.workload, os.path.join(work, "inputs", args.workload, "warm"),
                           0, warm=True)
    ref = check.reference(args.workload, args.seed, main_in, work)

    out = os.path.join(work, "runs", f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    plan = {"workload": args.workload, "out": out, "seconds": args.seconds,
            "trace": args.trace, "cores": os.cpu_count(),
            "main": main_in, "warm": warm_in}
    if args.workload == "etl_upsert":
        plan["etl"] = {
            "specs": [gen.etl_spec(p, "@TABLE@", d) for d, p in enumerate(main_in["files"])],
            "warm_specs": [gen.etl_spec(p, "@TABLE@", d) for d, p in enumerate(warm_in["files"])],
            "report_columns": gen.REPORT_COLUMNS, "report_config": gen.REPORT_CONFIG}
    plan_path = os.path.join(out, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    code, wall, ext_cpu, steal = launch(cp, plan_path, out)
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-8000:])
        fail(f"harness exited with {code} after {wall:.1f} s")
    with open(result_path) as f:
        res = json.load(f)
    with open(os.path.join(out, "check.json")) as f:
        outputs = json.load(f)

    problems = check.verify(args.workload, main_in, ref, outputs, res["rounds"])
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)

    rounds = res["rounds"]
    measured = {
        "setup_s": res["setup"]["setup_s"],
        "run_s": statistics.median(r["wall_s"] for r in rounds),
        "batch_p50_s": statistics.median(b for r in rounds for b in r["batches_s"]),
        "retained_heap_mb": res["retained_heap_mb"],
        "stored_mb": sum(dir_bytes(d) for d in res["stored_dirs"]) / 1e6,
    }
    if args.trace:
        layer = res.get("layer") or {}
        wanted = bench["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
    else:
        metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "cores": os.cpu_count(), "jvm_wall_s": wall,
              "ext_cpu_cores": ext_cpu, "steal_cores": steal,
              "rounds": [{k: r[k] for k in ("wall_s", "batches_s")} for r in rounds],
              "setup": res["setup"], "end_to_end": measured,
              "layer": res.get("layer"), "plans": res.get("plans"),
              "problems": problems}
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{int(time.time() * 1000)}-{args.workload}"
                           f"-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if problems or res["failed"]:
        print(f"perfbench: outputs and JVM log kept in {out}", file=sys.stderr)
    else:
        shutil.rmtree(out, ignore_errors=True)

    print(f"perfbench: {args.workload} seed={args.seed} rounds={len(rounds)} "
          f"ext_cpu_cores={ext_cpu:.2f} steal_cores={steal:.2f}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
