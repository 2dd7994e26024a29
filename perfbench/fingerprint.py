"""Order-insensitive result fingerprints, the Python twin of
perfbench/src/Fingerprint.scala (stdlib only; pyarrow is needed only
to read parquet in make_expected.py).

A row's canonical string joins its top-level columns, in name order,
with U+001F. Values: null as ``\\N``; floats as the exact binary value
rounded half-even to 9 places with -0 folded to 0; decimals plain;
dates ISO; timestamps as epoch microseconds; bytes as hex; lists
``[a,b]``, structs ``(a,b)``, maps ``{k:v,...}`` with entries sorted.
The fingerprint is ``<rows>:<sum of the first 8 MD5 bytes of each row,
mod 2**64, as 16 hex digits>``.
"""
import datetime
import decimal
import hashlib

MASK = (1 << 64) - 1
EPOCH = datetime.datetime(1970, 1, 1)


def canon_double(v):
    if v != v:
        return "nan"
    if v in (float("inf"), float("-inf")):
        return "inf" if v > 0 else "-inf"
    s = "%.9f" % v
    return "0.000000000" if s == "-0.000000000" else s


def canon_value(v):
    """Canonical string of one Python value as pyarrow returns it.
    Timestamps must arrive as datetimes (naive = UTC) or, at top level,
    already as epoch-microsecond ints."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):  # struct, fields in declared order
        return "(" + ",".join(canon_value(x) for x in v.values()) + ")"
    if isinstance(v, list) and v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
        return "{" + ",".join(sorted(canon_value(k) + ":" + canon_value(x) for k, x in v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_row(row):
    """`row` maps column name -> value."""
    return "\x1f".join(canon_value(row[k]) for k in sorted(row))


def row_hash(canon):
    return int.from_bytes(hashlib.md5(canon.encode("utf-8")).digest()[:8], "big")


def fingerprint(rows):
    """Fingerprint of an iterable of name -> value dicts."""
    n, s = 0, 0
    for r in rows:
        n += 1
        s = (s + row_hash(canon_row(r))) & MASK
    return f"{n}:{s:016x}"
