"""Output checks, end-to-end metrics and per-layer metrics of one run.

Inputs are the plan (with the generator's expectations), the JVM's op
records (`ops.jsonl`), its run summary and, for a traced run, its spans.
"""
import math
import statistics

from canon import decode, digest
from plan import READ_KINDS

MIN_BEYOND = 10   # samples beyond a reported percentile above the median
# Nominal milliseconds of one execution of the reference kernel
# (`Reference` in LakeBench.scala); `*_norm` timings are at this speed.
REFERENCE_MS = 10.0
WRITE_KINDS = {"merge", "delete", "compact", "ingest"}
ARTIFACT_FAMILIES = ["trade"]  # the families the workloads build


def percentile(values, q):
    """The q-quantile (linear interpolation).  The median is always
    reported; a higher percentile only when at least MIN_BEYOND samples
    lie beyond it, else None."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or (q > 0.5 and round(n * (1.0 - q), 9) < MIN_BEYOND):
        return None
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ------------------------------------------------------------------ checks

def check_op(expected, rec, pinned):
    """None if the op's output is right, else the reason it is not."""
    if rec is None:
        return "op did not run"
    if rec["error"] is not None:
        return rec["error"]
    kind, exp, val = rec["kind"], expected["expect"], rec["value"]
    if kind in ("query", "sql"):
        want = pinned.get(rec["key"])
        if want is None:
            return f"no pinned digest for {rec['key']}"
        got = digest(*decode(rec["rows"]))
        return None if got == want else f"digest {got[:12]} != pinned {want[:12]}"
    if kind == "read":
        want = [exp["count"], exp["checksum"]]
        return None if val == want else f"read {val} != ledger {want}"
    if kind == "ingest":
        return None if val == exp["novel"] else f"ingested {val} != novel {exp['novel']}"
    return None if val == exp["version"] else f"version {val} != {exp['version']}"


def check_all(plan_ops, records, pinned):
    """Check every planned op; returns {index: failure reason or None}."""
    by_index = {r["index"]: r for r in records}
    return {o["index"]: check_op(o, by_index.get(o["index"]), pinned)
            for o in plan_ops}


# ------------------------------------------------------ end-to-end metrics

def trimmed_mean(values, trim=0.1):
    """Mean of the values left after dropping `trim` of them at each end."""
    xs = sorted(values)
    k = int(len(xs) * trim)
    xs = xs[k:len(xs) - k]
    return sum(xs) / len(xs)


def host_slowdown(summary):
    """How much slower than nominal the host ran the reference kernel
    during the timed sequence: its trimmed mean time ÷ REFERENCE_MS."""
    return trimmed_mean(summary["reference_ms"]) / REFERENCE_MS


def wall_timings(records):
    """Ops per second and median read latency of the timed sequence, as
    measured on the wall clock."""
    timed = [r for r in records if r["phase"] == "timed"]
    reads = [r["ms"] / 1000.0 for r in timed if r["kind"] in READ_KINDS]
    p50 = percentile(reads, 0.5)
    if p50 is None:
        raise ValueError("no timed reads")
    return len(timed) / (sum(r["ms"] for r in timed) / 1000.0), p50


def end_to_end(records, summary, failures):
    ops_per_s, p50 = wall_timings(records)
    slow = host_slowdown(summary)
    return {
        "setup_s": (summary["setup_ms"] / 1000.0, "s"),
        "ops_per_s_norm": (ops_per_s * slow, "1/s"),
        "read_p50_s_norm": (p50 / slow, "s"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
        "ok_rate": (sum(1 for f in failures.values() if f is None) / len(failures),
                    "ratio"),
    }


# ------------------------------------------------------- per-layer metrics

def _union(intervals):
    """Merged, sorted list of [start, end] intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _length(intervals):
    return sum(e - s for s, e in intervals)


def _minus(a, b):
    """Length of union(a) not covered by union(b)."""
    a, b = _union(a), _union(b)
    covered = 0.0
    for s, e in a:
        for bs, be in b:
            covered += max(0.0, min(e, be) - max(s, bs))
    return _length(a) - covered


def _clip(iv, lo, hi):
    return [max(iv[0], lo), min(iv[1], hi)]


def layer_breakdown(spans):
    """Per traced op: wall time split into self times of nested layers.

    Priority, innermost first: Spark jobs (`operators`/`functions`
    execution), SQL execution outside jobs (driver side of execution),
    Catalyst phases outside execution, construction outside all of those
    (the call that returns a read's DataFrame), and the op's remaining
    driver self time.  A write op's graft call is its `commit` or `ingest`
    span; its self time is the `sources`/`Maintenance` driver work outside
    any Spark span, and it is not counted as attributed."""
    ops = {}
    for s in spans:
        ops.setdefault(s["op"], []).append(s)
    rows = []
    for i, ss in sorted(ops.items()):
        root = next(s for s in ss if s["name"] == "op")
        lo, hi = root["start"], root["end"]
        by = lambda *names: [_clip([s["start"], s["end"]], lo, hi)
                             for s in ss if s["name"] in names]
        jobs = by("job")
        sql = by("sqlexec")
        cat = by("analysis", "optimization", "planning")
        cons = by("construct")
        write = by("commit", "ingest")
        wall = hi - lo
        exec_ms = _length(_union(jobs))
        sql_ms = _minus(sql, jobs)
        cat_ms = _minus(cat, jobs + sql)
        cons_ms = _minus(cons, jobs + sql + cat)
        attributed_ms = _length(_union(jobs + sql + cat + cons))
        self_ms = max(0.0, wall - attributed_ms)
        construct = cons[0] if cons else [lo, lo]
        rows.append({
            "op": i, "kind": root["kind"], "wall_ms": wall,
            "exec_ms": exec_ms, "sqlexec_ms": sql_ms, "catalyst_ms": cat_ms,
            "construct_ms": construct[1] - construct[0],
            "construct_self_ms": cons_ms, "driver_self_ms": self_ms,
            "write_ms": _length(_union(write)),
            "attributed": attributed_ms / wall if wall > 0 else 1.0,
            "outside_jobs_ms": wall - exec_ms,
            "construct_jobs": sum(1 for j in jobs if construct[0] <= j[0] < construct[1]),
            "analysis_ms": sum(s["end"] - s["start"] for s in ss if s["name"] == "analysis"),
            "optimization_ms": sum(s["end"] - s["start"] for s in ss if s["name"] == "optimization"),
            "planning_ms": sum(s["end"] - s["start"] for s in ss if s["name"] == "planning"),
            "executions": sum(1 for s in ss if s["name"] == "planning"),
            "jobs": len(jobs),
            "stages": [s for s in ss if s["name"] == "stage"],
            "files_read": sum(s["files_read"] for s in ss if s["name"] == "scan"),
        })
    return rows


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(records, summary, spans, plan, cores):
    """Every per-layer metric. Layer times come from the traced phase;
    `sources`/`Maintenance` rates come from the untraced timed phase of
    the same run, so tracing does not inflate them."""
    timed = [r for r in records if r["phase"] == "timed"]
    traced = [r for r in records if r["phase"] == "traced"]
    twins = [r for r in records if r["phase"] == "twin"]
    rows = layer_breakdown(spans)
    read_rows = [r for r in rows if r["kind"] in READ_KINDS]
    stages = [st for r in rows for st in r["stages"]]
    wall = sum(r["wall_ms"] for r in rows)
    job_ms = sum(r["exec_ms"] for r in rows)
    skews = []
    for st in stages:
        ts = st["task_ms"]
        if len(ts) >= 2 and statistics.median(ts) > 0:
            skews.append(max(ts) / statistics.median(ts))
    ops_per_s, p50 = wall_timings(records)
    m = {
        "host.reference_ms": (trimmed_mean(summary["reference_ms"]), "ms"),
        "wall.ops_per_s": (ops_per_s, "1/s"),
        "wall.read_p50_s": (p50, "s"),
        "session.build_ms": (summary["session_ms"], "ms"),
        "setup.warm_ms": (summary["phase_wall_ms"].get("warm", 0.0), "ms"),
        "construct_ms": (sum(r["construct_ms"] for r in rows), "ms"),
        "construct.jobs": (sum(r["construct_jobs"] for r in rows), "count"),
        "catalyst.analysis_ms": (sum(r["analysis_ms"] for r in rows), "ms"),
        "catalyst.optimization_ms": (sum(r["optimization_ms"] for r in rows), "ms"),
        "catalyst.planning_ms": (sum(r["planning_ms"] for r in rows), "ms"),
        "catalyst.executions": (sum(r["executions"] for r in rows), "count"),
        "driver.self_ms": (sum(r["driver_self_ms"] for r in read_rows), "ms"),
        "overhead_share": (sum(r["outside_jobs_ms"] for r in rows) / wall if wall else 0.0,
                           "ratio"),
        "exec.jobs": (sum(r["jobs"] for r in rows), "count"),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (sum(st["tasks"] for st in stages), "count"),
        "exec.task_run_ms": (sum(st["run_ms"] for st in stages), "ms"),
        "exec.task_cpu_ms": (sum(st["cpu_ms"] for st in stages), "ms"),
        "exec.scheduler_delay_ms": (sum(st["sched_delay_ms"] for st in stages), "ms"),
        "exec.shuffle_read_bytes": (sum(st["shuffle_read_bytes"] for st in stages), "bytes"),
        "exec.shuffle_write_bytes": (sum(st["shuffle_write_bytes"] for st in stages), "bytes"),
        "exec.spill_bytes": (sum(st["spill_bytes"] for st in stages), "bytes"),
        "exec.task_skew": (statistics.median(skews) if skews else 1.0, "ratio"),
        "exec.slot_busy_ratio": (sum(st["run_ms"] for st in stages) / (cores * job_ms)
                                 if job_ms else 0.0, "ratio"),
        "artifact.builds": (sum(r["builds"] for r in records), "count"),
        "artifact.loop_builds": (sum(r["builds"] for r in timed + traced + twins), "count"),
        "artifact.bytes": (summary["artifact_bytes"], "bytes"),
        "session.persistent_rdds_end": (summary.get("persistent_rdds_end", 0), "count"),
        "jvm.gc_ms": (summary.get("gc_ms", 0), "ms"),
        "jvm.heap_peak_mb": (summary.get("heap_peak_mb", 0.0), "MB"),
        # every traced read has a twin: the same read with recording off
        "trace.overhead_ratio": (sum(r["ms"] for r in traced if r["kind"] in READ_KINDS)
                                 / sum(r["ms"] for r in twins), "ratio"),
        "trace.attributed_min": (min((r["attributed"] for r in rows), default=0.0), "ratio"),
    }
    cold_warm = artifact_cold_warm(records)
    for fam in ARTIFACT_FAMILIES:
        cw = cold_warm.get(fam, {"cold_ms": 0.0, "warm_ms": 0.0})
        m[f"artifact.build_ms.{fam}"] = (cw["cold_ms"] - cw["warm_ms"], "ms")
    m.update(sources_metrics(timed, traced, rows, plan))
    return m


def artifact_cold_warm(records):
    """Per family: the set-up op that built it (cold) against the median
    of the same op in the timed phase (warm)."""
    out = {}
    for r in records:
        if r["phase"] != "warm":
            continue
        for fam in r.get("families_built", []):
            warm = [x["ms"] for x in records if x["phase"] == "timed" and x["key"] == r["key"]]
            out[fam] = {"op": r["key"], "cold_ms": r["ms"],
                        "warm_ms": statistics.median(warm) if warm else 0.0}
    return out


def sources_metrics(timed, traced, traced_rows, plan):
    def of(kind):
        return [r for r in timed if r["kind"] == kind]
    commits = [r for r in timed if r["kind"] in ("merge", "delete", "compact")]
    writes = [r for r in timed if r["kind"] in WRITE_KINDS]
    user_rows = sum(plan["by_index"][r["index"]]["expect"].get("rows", 0)
                    for r in of("merge"))
    novel = sum(r["value"] or 0 for r in of("ingest"))
    ingest_rows = sum(plan["by_index"][r["index"]]["expect"]["rows"] for r in of("ingest"))
    batch_bytes = sum(plan["by_index"][r["index"]]["expect"].get("bytes", 0) for r in writes)
    write_ms = sum(r["ms"] for r in of("merge") + of("ingest"))
    last = max((r for r in timed if r["kind"] in WRITE_KINDS), key=lambda r: r["index"],
               default=None)
    reads = [r for r in traced_rows if r["kind"] == "read"]
    m = {"sources.driver_self_ms": (sum(r["driver_self_ms"] for r in traced_rows
                                        if r["kind"] in WRITE_KINDS), "ms")}
    for kind in ("merge", "delete", "compact"):
        m[f"commit_ms.{kind}"] = (_mean(r["ms"] for r in of(kind)), "ms")
    m.update({
        "commit.files": (_mean(r["files_written"] for r in commits), "count"),
        "commit.bytes": (_mean(r["bytes_written"] for r in commits), "bytes"),
        "read_ms": (_mean(r["ms"] for r in of("read")), "ms"),
        # planned and read files of the same (traced) reads
        "read.files_planned": (_mean(r["files_live"] for r in traced if r["kind"] == "read"),
                               "count"),
        "read.files_read": (_mean(r["files_read"] for r in reads), "count"),
        "sources.write_amp": (sum(r["bytes_written"] for r in writes) / batch_bytes
                              if batch_bytes else 0.0, "ratio"),
        "sources.storage_amp": (last["table_bytes"] / last["live_bytes"]
                                if last and last["live_bytes"] else 0.0, "ratio"),
        "maintenance.ingest_rows_per_s": ((user_rows + ingest_rows) / (write_ms / 1000.0)
                                          if write_ms else 0.0, "rows/s"),
        "ingest_dedup_ms": (_mean(r["ms"] for r in of("ingest")), "ms"),
        "dedup.kept_ratio": (novel / ingest_rows if ingest_rows else 0.0, "ratio"),
    })
    return m
