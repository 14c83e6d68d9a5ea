"""Seeded operation sequences for the benchmark's workloads.

A plan is a fixed multiset of operations in a seed-chosen order, with
parameters drawn from pinned pools and, for `lake_write`, seed-generated
write batches.  The plan also carries what every operation must return:
the pinned digest key for reads of the lake, and the generator's own
ledger (row count and checksum of the snapshot table, number of novel
texts) for writes.  Only the generated inputs reach graft.

Phases: `warm` ops run once inside set-up (one of every op kind), `timed`
ops are the measured sequence, and a traced run adds a second measured
sequence, `traced`, that runs with the listeners on.  In that sequence
every read is paired with a `twin`: the same read, run next to it with
recording off, first or second in turn, so that the cost of tracing is
measured on identical work.
"""
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Registered queries of the interactive workload: short queries where
# construction, planning and scheduling dominate, plus one artifact-backed
# query whose shared build lands in set-up on the empty artifact root.
QUERIES = [
    "q_catalog_tables", "q_catalog_schema", "q_scan_filter", "q_topn_orders",
    "q_agg_having", "q_semi_join", "q_star_join", "q_region_revenue",
    "q_dedup_exact", "q_token_stats", "q_ann_lsh", "q_degree_dist",
]

# `DataLake.sql` templates and the pinned pool each constant comes from.
SQL_TEMPLATES = {
    "price_band": (
        "SELECT o_orderpriority, count(*) AS n, min(o_totalprice) AS lo, "
        "max(o_totalprice) AS hi FROM orders WHERE o_totalprice > {c} "
        "GROUP BY o_orderpriority",
        [50000, 150000, 250000, 350000, 450000]),
    "ship_status": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "max(l_extendedprice) AS mx FROM lineitem "
        "WHERE l_shipdate < TIMESTAMP '{c}' GROUP BY l_returnflag, l_linestatus",
        ["1996-01-01", "1997-07-01", "1999-01-01", "2000-07-01"]),
    "segment_orders": (
        "SELECT c_mktsegment, count(*) AS n FROM customer JOIN orders "
        "ON c_custkey = o_custkey WHERE o_orderdate >= TIMESTAMP '{c}' "
        "GROUP BY c_mktsegment",
        ["1995-06-01", "1997-01-01", "1999-06-01", "2001-01-01"]),
}

# Nominal seconds one pass of each workload's multiset takes at local[4];
# --seconds is turned into a whole number of passes, never a time window.
PASS_SECONDS = {"interactive": 20.0, "lake_write": 20.0}

# lake_write: one pass of the write cycle.  Every write is followed by
# READS_PER_WRITE fresh reads of the snapshot table.
WRITE_CYCLE = ["merge", "delete", "ingest", "merge", "compact", "ingest"]
MERGE_UPSERTS, MERGE_NEW = 20_000, 10_000
DELETE_SPAN, READ_SPAN = 3_000, 40_000
INGEST_DOCS, INGEST_OLD_DUPS, INGEST_IN_BATCH_DUPS = 6_000, 1_500, 500
COMPACT_FILES = 4
READS_PER_WRITE = 2
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
WORDS = ("alpha beta gamma delta lake spark table merge scan sort join key "
         "value batch stream window commit snapshot index file").split()


def passes(workload, seconds):
    return max(1, round(seconds / PASS_SECONDS[workload]))


READ_KINDS = ("query", "sql", "read")


def op(kind, key, *args, **expect):
    return {"kind": kind, "key": key, "args": [str(a) for a in args],
            "expect": expect}


def with_twins(ops):
    """The traced sequence: each read followed or preceded (alternately)
    by its untraced twin."""
    out, pairs = [], 0
    for o in ops:
        if o["kind"] not in READ_KINDS:
            out.append(o)
            continue
        twin = dict(o, phase="twin")
        out += [o, twin] if pairs % 2 == 0 else [twin, o]
        pairs += 1
    return out


# ---------------------------------------------------------------- interactive

def interactive_kinds():
    """One pass: every query and every SQL template once."""
    return [("query", q) for q in QUERIES] + [("sql", t) for t in sorted(SQL_TEMPLATES)]


def op_for_key(key):
    """`query:<name>` or `sql:<template>:<constant>` → the op."""
    kind, name, *const = key.split(":", 2)
    if kind == "query":
        return op("query", key, name)
    return op("sql", key, SQL_TEMPLATES[name][0].format(c=const[0]))


def interactive_op(kind, name, rng):
    if kind == "query":
        return op_for_key(f"query:{name}")
    return op_for_key(f"sql:{name}:{rng.choice(SQL_TEMPLATES[name][1])}")


def interactive_plan(seed, seconds, trace=False):
    rng = random.Random(seed)
    kinds = interactive_kinds()
    plan = {"warm": [interactive_op(k, n, rng) for k, n in kinds]}
    phases = ["timed", "traced"] if trace else ["timed"]
    for ph in phases:
        seq = kinds * passes("interactive", seconds)
        rng.shuffle(seq)
        plan[ph] = [interactive_op(k, n, rng) for k, n in seq]
    if trace:
        plan["traced"] = with_twins(plan["traced"])
    return plan


def all_interactive_keys():
    """Every (op, parameter) that needs a pinned digest."""
    keys = [f"query:{q}" for q in QUERIES]
    for t, (_, pool) in sorted(SQL_TEMPLATES.items()):
        keys += [f"sql:{t}:{c}" for c in pool]
    return keys


def pin_plan():
    """Every digest key once, for re-pinning digests.tsv."""
    return {"warm": [], "timed": [op_for_key(k) for k in all_interactive_keys()]}


# ----------------------------------------------------------------- lake_write

def row_checksum(key, cust, cents):
    """Per-row term of the read checksum; the JVM side computes
    sum(o_orderkey * 1000003 + o_custkey * 7 + round(o_totalprice * 100))."""
    return key * 1000003 + cust * 7 + cents


def cents(price):
    return int(math.floor(price * 100 + 0.5))


class Ledger:
    """The generator's own model of the snapshot table and the curated
    document set, advanced by every write it plans."""

    def __init__(self, keys, custs, prices):
        self.rows = {int(k): (int(c), cents(p))
                     for k, c, p in zip(keys, custs, prices)}
        self.next_key = max(self.rows) + 1
        self.version = 0   # the seeding write commits v=0
        self.texts = set()

    def merge(self, keys, custs, prices):
        for k, c, p in zip(keys, custs, prices):
            self.rows[int(k)] = (int(c), cents(p))
        self.version += 1

    def delete(self, lo, hi):
        for k in [k for k in self.rows if lo <= k <= hi]:
            del self.rows[k]
        self.version += 1

    def compact(self):
        self.version += 1

    def ingest(self, texts):
        novel = set(texts) - self.texts
        self.texts |= novel
        return len(novel)

    def read(self, lo, hi):
        n = s = 0
        for k, (c, ct) in self.rows.items():
            if lo <= k <= hi:
                n += 1
                s += row_checksum(k, c, ct)
        return n, s


class LakeWritePlanner:
    def __init__(self, seed, lake_dir, batch_dir):
        self.rng = np.random.default_rng([seed, 7])
        self.batch_dir = batch_dir
        orders = pq.read_table(os.path.join(lake_dir, "orders.parquet"),
                               columns=["o_orderkey", "o_custkey", "o_totalprice"])
        self.ledger = Ledger(orders.column(0).to_numpy(),
                             orders.column(1).to_numpy(),
                             orders.column(2).to_numpy())
        self.n_batches = 0

    def _batch_path(self, tag):
        self.n_batches += 1
        return os.path.join(self.batch_dir, f"{tag}_{self.n_batches:03d}.parquet")

    def _write(self, table, tag):
        path = self._batch_path(tag)
        pq.write_table(table, path)
        return path, os.path.getsize(path)

    def merge(self):
        live = np.fromiter(self.ledger.rows.keys(), dtype=np.int64)
        up = self.rng.choice(live, size=min(MERGE_UPSERTS, len(live)), replace=False)
        new = np.arange(self.ledger.next_key, self.ledger.next_key + MERGE_NEW,
                        dtype=np.int64)
        self.ledger.next_key += MERGE_NEW
        keys = np.concatenate([up, new])
        n = len(keys)
        custs = self.rng.integers(0, 15_000, n, dtype=np.int64)
        prices = np.round(self.rng.uniform(1000.0, 500000.0, n), 2)
        days = self.rng.integers(0, 2404, n)
        table = pa.table({
            "o_orderkey": keys, "o_custkey": custs,
            "o_orderstatus": np.array(["F", "O", "P"])[self.rng.integers(0, 3, n)],
            "o_totalprice": prices,
            "o_orderdate": pa.array(
                np.datetime64("1995-01-01", "us") + days * np.timedelta64(1, "D"),
                type=pa.timestamp("us")),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])[
                self.rng.integers(0, 5, n)]}, schema=ORDERS_SCHEMA)
        path, size = self._write(table, "merge")
        self.ledger.merge(keys, custs, prices)
        return op("merge", "merge", path, rows=n, bytes=size, version=self.ledger.version)

    def delete(self):
        lo = int(self.rng.integers(0, self.ledger.next_key - DELETE_SPAN))
        hi = lo + DELETE_SPAN - 1
        self.ledger.delete(lo, hi)
        return op("delete", "delete", lo, hi, version=self.ledger.version)

    def compact(self):
        self.ledger.compact()
        return op("compact", "compact", COMPACT_FILES, version=self.ledger.version)

    def ingest(self):
        words = np.array(WORDS)
        novel = [" ".join(words[self.rng.integers(0, len(WORDS), int(m))])
                 for m in self.rng.integers(8, 40, INGEST_DOCS
                                            - INGEST_OLD_DUPS - INGEST_IN_BATCH_DUPS)]
        old = sorted(self.ledger.texts)
        dups = ([old[i] for i in self.rng.integers(0, len(old), INGEST_OLD_DUPS)]
                if old else [])
        within = [novel[i] for i in self.rng.integers(0, len(novel), INGEST_IN_BATCH_DUPS)]
        texts = novel + dups + within
        self.rng.shuffle(texts)
        n = len(texts)
        ids = np.arange(n, dtype=np.int64) + self.n_batches * 100_000
        table = pa.table({
            "doc_id": ids, "text": texts,
            "lang": np.array(["en", "de", "fr"])[self.rng.integers(0, 3, n)],
            "source": [f"batch{self.n_batches}"] * n,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
            schema=DOCS_SCHEMA)
        path, size = self._write(table, "ingest")
        return op("ingest", "ingest", path, rows=n, bytes=size,
                  novel=self.ledger.ingest(texts))

    def read(self):
        lo = int(self.rng.integers(0, self.ledger.next_key - READ_SPAN))
        hi = lo + READ_SPAN - 1
        n, s = self.ledger.read(lo, hi)
        return op("read", "read", lo, hi, count=n, checksum=s)

    def write_op(self, kind):
        return getattr(self, kind)()


def lake_write_plan(seed, seconds, lake_dir, batch_dir, trace=False):
    os.makedirs(batch_dir, exist_ok=True)
    p = LakeWritePlanner(seed, lake_dir, batch_dir)
    # one warm execution of every op kind; ingest twice, since only the
    # second one dedups against an existing curated set
    plan = {"warm": [op("seed", "seed", os.path.join(lake_dir, "orders.parquet"),
                        version=0)]}
    plan["warm"] += [p.write_op(k) for k in ("merge", "delete", "compact")]
    plan["warm"] += [p.read(), p.ingest(), p.ingest()]
    order_rng = random.Random(seed)
    for ph in (["timed", "traced"] if trace else ["timed"]):
        cycle = WRITE_CYCLE * passes("lake_write", seconds)
        order_rng.shuffle(cycle)
        plan[ph] = []
        for k in cycle:
            plan[ph] += [p.write_op(k)] + [p.read() for _ in range(READS_PER_WRITE)]
    if trace:
        plan["traced"] = with_twins(plan["traced"])
    return plan


def build(workload, seed, seconds, lake_dir, work_dir, trace=False):
    if workload == "interactive":
        return interactive_plan(seed, seconds, trace)
    if workload == "lake_write":
        return lake_write_plan(seed, seconds, lake_dir,
                               os.path.join(work_dir, "batches"), trace)
    raise ValueError(f"unknown workload {workload!r}")


def to_tsv(plan):
    """One line per op for the JVM: index, phase, kind, key, args."""
    lines = []
    i = 0
    for ph in ("warm", "timed", "traced"):
        for o in plan.get(ph, []):
            lines.append("\t".join([str(i), o.get("phase", ph), o["kind"], o["key"],
                                    *o["args"]]))
            o["index"] = i
            i += 1
    return "\n".join(lines) + "\n"
