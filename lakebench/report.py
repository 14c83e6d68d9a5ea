#!/usr/bin/env python3
"""Layer report of one traced run kept with --out:

    python3 lakebench/run.py --workload interactive --seed 1 --trace 1 --out /tmp/t
    python3 lakebench/report.py /tmp/t

Prints, per op kind of the traced phase, where the wall time went (Spark
jobs, driver side of SQL execution, Catalyst phases, construction outside
those, driver self time), the length of a write's graft call, the
fixed-overhead share (op time outside any Spark job), the share of the
wall covered by named spans and, per artifact family built in set-up, the
cold execution against the warm one.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

COLS = ["exec_ms", "sqlexec_ms", "catalyst_ms", "construct_self_ms", "driver_self_ms",
        "write_ms"]


def load(d):
    def jsonl(name):
        with open(os.path.join(d, name)) as f:
            return [json.loads(line) for line in f if line.strip()]
    return jsonl("ops.jsonl"), jsonl("spans.jsonl")


def kind_of(rec):
    key = rec["key"]
    return key.rsplit(":", 1)[0] if key.startswith("sql:") else key


def report(records, spans):
    keys = {r["index"]: kind_of(r) for r in records}
    rows = metrics.layer_breakdown(spans)
    by_kind = {}
    for r in rows:
        by_kind.setdefault(keys[r["op"]], []).append(r)
    out = [f"{'op kind':<28} {'n':>3} {'wall':>8} " +
           " ".join(f"{c[:-3]:>14}" for c in COLS) + f" {'outside jobs':>13} {'attributed':>10}"]
    tot_wall = tot_outside = 0.0
    for kind, rs in sorted(by_kind.items()):
        wall = sum(r["wall_ms"] for r in rs)
        outside = sum(r["outside_jobs_ms"] for r in rs)
        tot_wall += wall
        tot_outside += outside
        attributed = min(r["attributed"] for r in rs)
        out.append(f"{kind:<28} {len(rs):>3} {wall / len(rs):>8.0f} " +
                   " ".join(f"{sum(r[c] for r in rs) / len(rs):>14.0f}" for c in COLS) +
                   f" {outside / wall:>13.2f} {attributed:>10.3f}")
    out.append(f"all ops: fixed-overhead share (time outside any Spark job) "
               f"{tot_outside / tot_wall:.3f} of {tot_wall / 1000:.2f} s")
    cold = metrics.artifact_cold_warm(records)
    for fam, c in sorted(cold.items()):
        out.append(f"artifact {fam}: cold {c['cold_ms']:.0f} ms vs warm "
                   f"{c['warm_ms']:.0f} ms ({c['op']}), build cost ≈ "
                   f"{c['cold_ms'] - c['warm_ms']:.0f} ms")
    if not cold:
        out.append("artifact: no family built in set-up")
    return "\n".join(out)


if __name__ == "__main__":
    recs, sp = load(sys.argv[1])
    print(report(recs, sp))
