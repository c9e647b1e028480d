"""Canonical row hash of a DuckDB result, matching perfbench's Canon.scala.

Columns sorted by name; each value encoded by type (floating point by its
IEEE-754 bits, timestamps as UTC epoch microseconds); rows sorted by their
UTF-8 bytes; SHA-256 over the rows, one per line. Row order is not part
of the hash.
"""
import datetime
import decimal
import hashlib
import math
import struct


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "dnan"
        return "d" + format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "m0"
        s = format(v.normalize(), "f")
        return "m" + s
    if isinstance(v, str):
        return f"s{len(v.encode())}:{v}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        micros = (delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds
        return f"t{micros}"
    if isinstance(v, datetime.date):
        return f"D{v.isoformat()}"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def hash_rows(rows):
    md = hashlib.sha256()
    for r in sorted(r.encode() for r in rows):
        md.update(r)
        md.update(b"\n")
    return md.hexdigest()


def of(columns, rows):
    """(row count, hash) of rows given as tuples in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = ["|".join(value(r[i]) for i in order) for r in rows]
    return len(lines), hash_rows(lines)
