"""DuckDB side of the output check.

Runs each query's oracle SQL (as `SparkEntry.oracleSql` declares it) over
the benchmark's tables and hashes the result exactly as
`graft.perfbench.Canonical` hashes the Spark output: columns in name order,
a typed canonical spelling per value, one md5 per row, and an md5 over the
sorted row digests. Keep the two in lockstep.
"""
import datetime
import decimal
import hashlib
import math
import os
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_EPOCH_DAY = datetime.date(1970, 1, 1)


def _md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _num(d):
    if d != d:
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < 9.0e18:
        return "i%d" % int(d)
    return "f" + format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def _micros(td):
    return (td.days * 86400 + td.seconds) * 1000000 + td.microseconds


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        base = _EPOCH if v.tzinfo is None else _EPOCH_TZ
        return "t%d" % _micros(v - base)
    if isinstance(v, datetime.date):
        return "d%d" % (v - _EPOCH_DAY).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join("%s=%s" % (k, value(x)) for k, x in sorted(v.items())) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    raise TypeError("no canonical form for %r" % type(v))


def hash_rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    digests = sorted(_md5("\x1f".join(value(r[i]) for i in order)) for r in rows)
    return _md5("\x1f".join(names[i] for i in order) + "\n" + "\n".join(digests))


def oracle_hashes(data_dir, sql_by_query):
    """{query: hash} for every query, over the parquet tables in data_dir."""
    import duckdb

    out = {}
    for name, sql in sorted(sql_by_query.items()):
        # a fresh connection per query: long-lived ones accumulate
        # allocator state and can fail spuriously late in a long list
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(data_dir, f).replace("'", "''")
                    con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (f[:-8], path))
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            out[name] = hash_rows(names, cur.fetchall())
        finally:
            con.close()
    return out

