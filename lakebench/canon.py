"""Order-insensitive result digests.

Values are canonicalised exactly as `tools/check.py` does it (the
repository's DuckDB-oracle compare): NULL → "NULL", NaN → "NaN", floats
by Python `repr`, lists element-wise, everything else by `str`; columns
are taken in name order.  The JVM ships collected rows as typed JSON
(see `Rows` in scala/LakeBench.scala); `decode` rebuilds the Python value
DuckDB returns for the same parquet column, so a digest here equals one
taken over the oracle's own canonical rows.
"""
import base64
import datetime
import decimal
import hashlib
import json
import math

_EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    """Same mapping as tools/check.py's `canon`."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _tagged(d):
    if len(d) != 1:
        return d
    (tag, v), = d.items()
    if tag == "$d":
        return decimal.Decimal(v)
    if tag == "$date":
        return datetime.date.fromisoformat(v)
    if tag == "$ts":
        return _EPOCH_UTC + datetime.timedelta(microseconds=v)
    if tag == "$ntz":
        return _EPOCH + datetime.timedelta(microseconds=v)
    if tag == "$b":
        return base64.b64decode(v)
    if tag == "$struct":
        return {k: x for k, x in v}
    if tag == "$map":
        return {(tuple(k) if isinstance(k, list) else k): x for k, x in v}
    if tag == "$str":
        return v
    return d


def decode(text):
    """Parse one JVM `rows` payload into (column names, rows of values)."""
    payload = json.loads(text, object_hook=_tagged) if isinstance(text, str) else text
    return payload["cols"], payload["data"]


def digest(cols, rows):
    """sha256 over the name-sorted columns and the sorted canonical rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(cols[i] for i in order).encode())
    for line in canon_rows:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def load_pinned(path):
    """`key<TAB>digest<TAB>rows` lines → {key: digest}."""
    pinned = {}
    with open(path) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                key, dg, _rows = line.rstrip("\n").split("\t")
                pinned[key] = dg
    return pinned
