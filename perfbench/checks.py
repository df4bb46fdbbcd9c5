"""Independent output checks: recomputes what the program wrote with
pyarrow and plain Python, never with the program's own code."""

from __future__ import annotations

import os
import re
import struct
import urllib.parse
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
_M = (1 << 64) - 1
SPARK_HASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = SPARK_HASH_SEED) -> int:
    """Reference XXH64 of `data` as a signed 64-bit integer — the hash
    Spark's xxhash64() computes over a value's little-endian bytes."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M,
             (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], struct.unpack_from("<Q", data, i + 8 * k)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = (((h ^ _round(0, lane)) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def _bucket_bytes(value, arrow_type: pa.DataType) -> bytes:
    """The bytes Spark's xxhash64 hashes for a bigint value."""
    if not pa.types.is_int64(arrow_type):
        raise ValueError(f"no reference bucket hash for {arrow_type}")
    return struct.pack("<q", value)


# Iceberg transform spellings the advisor emits (see the program's
# operators/transforms docstring); parsed here independently.
_TRANSFORM = re.compile(
    r"^(?:(day|month|year)\((\w+)\)|bucket\((\d+),\s*(\w+)\)"
    r"|truncate\((\w+),\s*(\d+)\)|(\w+))$"
)


def expected_partition_values(transform: str, column: pa.ChunkedArray) -> tuple[str, list[str]]:
    """(source column, partition value per row as the directory spells it)."""
    m = _TRANSFORM.match(transform.strip())
    if m is None:
        raise ValueError(f"unknown transform {transform!r}")
    grain, dcol, n, bcol, tcol, width, ident = m.groups()
    if grain:
        # Spark writes INT96 (read back as ns); the raw files hold us
        micros = column.cast(pa.timestamp("us", tz=column.type.tz)).cast(pa.int64()).to_numpy()
        unit = {"day": "D", "month": "M", "year": "Y"}[grain]
        values = np.datetime_as_string(micros.astype("datetime64[us]").astype(f"datetime64[{unit}]"))
        return dcol, values.tolist()
    if n:
        uniq = {v: xxh64(_bucket_bytes(v, column.type)) % int(n)
                for v in pc.unique(column).to_pylist()}
        return bcol, [str(uniq[v]) for v in column.to_pylist()]
    if tcol:
        w = int(width)
        return tcol, [str(v // w * w) for v in column.to_pylist()]
    return ident, [str(v) for v in column.to_pylist()]


def check_applied_layout(dest: str, raw_path: str, transform: str,
                         key: str) -> tuple[list[str], dict]:
    """Every written row sits under the partition value recomputed from
    its own source column, and each partition holds exactly as many rows
    as the raw table has with that value. Returns (errors, layout counts).
    An identity layout keeps its column only in the directory names, so
    it is checked by the per-value counts alone."""
    errors: list[str] = []
    source = _source(transform)
    raw = pq.read_table(raw_path, columns=[source])
    raw_counts = Counter(expected_partition_values(transform, raw.column(source))[1])
    files = size = 0
    written: Counter = Counter()
    for root, _dirs, names in os.walk(dest):
        for fn in sorted(names):
            if not fn.endswith(".parquet"):
                continue
            seg = os.path.relpath(root, dest).split(os.sep)[0]
            if not seg.startswith(key + "="):
                errors.append(f"{dest}: file outside a {key}= directory")
                continue
            value = urllib.parse.unquote(seg[len(key) + 1:])
            path = os.path.join(root, fn)
            pf = pq.ParquetFile(path)
            if source in pf.schema_arrow.names:
                _, expected = expected_partition_values(
                    transform, pf.read(columns=[source]).column(source))
                bad = sum(1 for e in expected if e != value)
                if bad:
                    errors.append(f"{transform}: {bad} rows under {key}={value} belong elsewhere")
            files += 1
            size += os.path.getsize(path)
            written[value] += pf.metadata.num_rows
    if written != raw_counts:
        diff = sorted(set(written.items()) ^ set(raw_counts.items()))[:3]
        errors.append(f"{dest}: per-partition rows differ from the raw table, e.g. {diff}")
    return errors, {"files_written": files, "rows_written": sum(written.values()),
                    "bytes_written": size, "partitions": len(written),
                    "per_value": dict(written)}


def _source(transform: str) -> str:
    m = _TRANSFORM.match(transform.strip())
    return next(g for g in (m.group(2), m.group(4), m.group(5), m.group(7)) if g)


def raw_probe(raw_path: str, transform: str, value: str, sum_col: str) -> tuple[int, int]:
    """(count, sum of `sum_col`) over raw rows whose recomputed partition
    value is `value` — the answer a pruned read of that partition must
    give."""
    table = pq.read_table(raw_path, columns=sorted({_source(transform), sum_col}))
    _, expected = expected_partition_values(transform, table.column(_source(transform)))
    mask = pa.array([e == value for e in expected])
    picked = table.filter(mask)
    total = pc.sum(picked.column(sum_col)).as_py() or 0
    return picked.num_rows, int(total)
