"""Order-insensitive result digest, the same as graftbench.Canon.

Columns are sorted by name; each cell is rendered in a type-neutral form
(numbers by value, non-integral doubles by their IEEE bits, timestamps as
epoch microseconds, dates as epoch days); each row is hashed; the sorted
row hashes are hashed again. Equal digests mean equal multisets of rows.
"""
import datetime as dt
import decimal
import hashlib
import math
import struct

EXACT = 2.0 ** 53
EPOCH = dt.datetime(1970, 1, 1)


def _num(d):
    if math.isnan(d):
        return "n:nan"
    if d == 0.0:
        return "n:0"
    if d == math.floor(d) and abs(d) < EXACT:
        return "n:%d" % int(d)
    return "n:x%x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def cell(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return "n:%d" % v
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t:%d" % ((v - EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "d:%d" % (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "?:" + str(v)


def _sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(cols, rows):
    """(row count, digest) of `rows` whose columns are named `cols`."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hashes = sorted(_sha("\u0001".join(cell(r[i]) for i in order)) for r in rows)
    head = "cols:" + ",".join(cols[i] for i in order) + "\n"
    return len(rows), _sha(head + "\n".join(hashes))[:32]


def query_digest(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())
