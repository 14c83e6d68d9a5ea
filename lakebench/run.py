#!/usr/bin/env python3
"""graft benchmark: one command, closed loop, single client.

    python3 lakebench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the repository root.  It builds graft and the harness from
source (lakebench/build.py), generates the fixed lake (gen_lake.py) and
the seeded plan (plan.py), runs the plan in one JVM on Spark local[k],
checks every op's output, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics for --trace 0 and the per-layer metrics for --trace 1.

--out DIR keeps the raw records (plan.tsv, ops, spans, summary, JVM log)
for report.py.  --pin rewrites digests.tsv from the current build instead of
checking against it.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build      # noqa: E402
import canon      # noqa: E402
import gen_lake   # noqa: E402
import metrics    # noqa: E402
import plan as planlib  # noqa: E402

WORKLOADS = ("interactive", "lake_write")
DIGESTS = os.path.join(BENCH_DIR, "digests.tsv")
WORK = os.path.join(BENCH_DIR, ".work")
# Held equal on both sides of any comparison.
CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 8
HEAP = "2g"
JVM_TIMEOUT_S = 160  # the whole run must end within 180 s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="keep raw records in this directory")
    ap.add_argument("--pin", action="store_true",
                    help="write digests.tsv from this build's results")
    return ap.parse_args(argv)


def run_jvm(classpath, plan_tsv, lake_dir, run_dir, out_dir):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.sql.session.timeZone=UTC"]
    for p in build.JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.lakebench.LakeBench", plan_tsv, lake_dir,
            run_dir, out_dir, str(CORES), str(SHUFFLE_PARTITIONS)]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"))
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed: {rc}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pin(records):
    rows = {}
    for r in records:
        if r["kind"] in ("query", "sql") and r["error"] is None:
            cols, data = canon.decode(r["rows"])
            rows[r["key"]] = (canon.digest(cols, data), len(data))
    with open(DIGESTS, "w") as f:
        f.write("# key\tsha256 of canonical rows\trows\n")
        for key in planlib.all_interactive_keys():
            if key in rows:
                f.write(f"{key}\t{rows[key][0]}\t{rows[key][1]}\n")
    missing = set(planlib.all_interactive_keys()) - set(rows)
    if missing:
        raise SystemExit(f"no result to pin for {sorted(missing)}")


def main(argv):
    args = parse_args(argv)
    root = os.getcwd()
    classpath = build.build(root)
    lake_dir = gen_lake.generate(os.path.join(WORK, "lake"))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = args.out or os.path.join(run_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        if args.pin:
            plan = planlib.pin_plan()
        else:
            plan = planlib.build(args.workload, args.seed, args.seconds, lake_dir,
                                 run_dir, trace=bool(args.trace))
        plan_tsv = os.path.join(out_dir, "plan.tsv")
        with open(plan_tsv, "w") as f:
            f.write(planlib.to_tsv(plan))
        run_jvm(classpath, plan_tsv, lake_dir, run_dir, out_dir)
        records = read_jsonl(os.path.join(out_dir, "ops.jsonl"))
        with open(os.path.join(out_dir, "summary.json")) as f:
            summary = json.load(f)
        if args.pin:
            pin(records)
            print(json.dumps({"pinned": len(records)}))
            return 0
        plan_ops = [o for ph in ("warm", "timed", "traced") for o in plan.get(ph, [])]
        plan["by_index"] = {o["index"]: o for o in plan_ops}
        failures = metrics.check_all(plan_ops, records, canon.load_pinned(DIGESTS))
        for i, why in sorted(failures.items()):
            if why is not None:
                sys.stderr.write(f"FAILED op {i} {plan['by_index'][i]['key']}: {why}\n")
        if args.trace:
            spans = read_jsonl(os.path.join(out_dir, "spans.jsonl"))
            values = metrics.per_layer(records, summary, spans, plan, CORES)
        else:
            values = metrics.end_to_end(records, summary, failures)
        n_failed = sum(1 for f in failures.values() if f is not None)
        wall_ops_per_s, wall_p50 = metrics.wall_timings(records)
        sys.stderr.write(
            f"[lakebench] {args.workload} seed={args.seed} cores={CORES} "
            f"loadavg {summary['loadavg_start']:.2f}->{summary['loadavg_end']:.2f} "
            f"reference {metrics.trimmed_mean(summary['reference_ms']):.2f} ms "
            f"wall ops_per_s {wall_ops_per_s:.4g} read_p50_s {wall_p50:.4g}\n")
        result = {
            "correct": n_failed == 0,
            "attempted": len(failures),
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
