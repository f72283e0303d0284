"""The benchmark's own decoders for ClickHouse output formats, so a bug in
the program's ``formats`` module cannot vouch for its own output."""

from __future__ import annotations

import csv
import io
import json
import struct

_FIXED = {
    "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
    "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
    "Float32": "<f", "Float64": "<d", "Bool": "<?",
    "Date": "<H", "DateTime": "<I",
}


def _read_leb128(data: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return n, pos


def _decode(t: str, data: bytes, pos: int):
    if t.startswith("Nullable("):
        if data[pos]:
            return None, pos + 1
        t, pos = t[9:-1], pos + 1
    if t == "String":
        n, pos = _read_leb128(data, pos)
        return data[pos : pos + n].decode("utf-8"), pos + n
    fmt = _FIXED[t]
    return struct.unpack_from(fmt, data, pos)[0], pos + struct.calcsize(fmt)


def decode_rowbinary_with_names_and_types(data: bytes) -> list[list]:
    n, pos = _read_leb128(data, 0)
    header = []
    for _ in range(2 * n):
        ln, pos = _read_leb128(data, pos)
        header.append(data[pos : pos + ln].decode("utf-8"))
        pos += ln
    types = header[n:]
    rows = []
    while pos < len(data):
        row = []
        for t in types:
            v, pos = _decode(t, data, pos)
            row.append(v)
        rows.append(row)
    return rows


def parse(fmt: str, body: bytes) -> list[list]:
    """Response body → rows of raw cells, for the formats the reads use."""
    if fmt == "RowBinaryWithNamesAndTypes":
        return decode_rowbinary_with_names_and_types(body)
    text = body.decode("utf-8")
    if fmt == "TabSeparated":
        return [
            [None if c == "\\N" else c for c in line.split("\t")]
            for line in text.splitlines()
        ]
    if fmt == "CSV":
        return [row for row in csv.reader(io.StringIO(text))]
    if fmt == "JSONEachRow":
        return [list(json.loads(line).values()) for line in text.splitlines() if line]
    if fmt == "JSON":
        return [list(r.values()) for r in json.loads(text)["data"]]
    raise ValueError(f"no decoder for {fmt}")


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def same_rows(got: list[list], want: list[tuple]) -> bool:
    """Ordered row comparison; numbers compared with a relative tolerance
    (float sums may differ in the last bits across engines)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(map(_cell, g), map(_cell, w)):
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > 1e-9 * max(1.0, abs(a), abs(b)):
                    return False
            elif a != b:
                return False
    return True
