"""ClickHouse output FORMAT rendering (SURVEY §2.1 — the reference's
`clickhouse-local -q '... FORMAT X'` prints results in any of ~70 output
formats; the everyday interactive set is replicated here verbatim:
TabSeparated(WithNames), CSV(WithNames), JSONEachRow, JSON, Values, Vertical,
Pretty, PrettyCompact, Markdown; binary: RowBinary, Native, Arrow(Stream),
Parquet — each render + parse).

One table serves every format: ``render(df, fmt)`` renders any name in
``FORMATS`` (``str`` for text, ``bytes`` for the ``BINARY`` entries),
``BINARY`` pairs each binary format's render with its parse for ingest, and
``content_type(fmt)`` gives the HTTP Content-Type.

This is the INTERACTIVE surface: rendering collects to the driver exactly the
way clickhouse-local streams to stdout, so ``max_rows`` caps the pull
(ClickHouse's Pretty formats cap at 10 000 rows for the same reason).  Bulk
exports stay distributed through ``sources/writers.py`` (parquet/orc/csv/json
sinks) — never through this module.

Escaping rules follow the ClickHouse format spec:
- TabSeparated: ``\\N`` for NULL; tab/newline/backslash escaped in strings.
- CSV: RFC 4180 double-quoting, ``\\N`` for NULL.
- JSONEachRow: one compact JSON object per line.
- Values: single-quoted strings, ``NULL`` literal, parenthesized tuples.
- Vertical: ``Row N:`` stanzas, one ``column: value`` line each.
- Pretty/PrettyCompact: the exact box-drawing glyph sets ClickHouse uses.
"""

from __future__ import annotations

import datetime as _dt
import functools as _functools
import json as _json
import math
from decimal import Decimal

from pyspark.sql import DataFrame

#: formats accepted by render(); canonical names, matched case-insensitively
FORMATS = (
    "Null",
    "TabSeparated",
    "TabSeparatedWithNames",
    "TSV",
    "TSVWithNames",
    "CSV",
    "CSVWithNames",
    "JSONEachRow",
    "JSON",
    "Values",
    "Vertical",
    "Pretty",
    "PrettyCompact",
    "RowBinary",
    "RowBinaryWithNamesAndTypes",
    "Native",
    "Arrow",
    "ArrowStream",
    "Parquet",
    "Markdown",
    "TabSeparatedWithNamesAndTypes",
    "CSVWithNamesAndTypes",
    "TSKV",
    "JSONCompact",
    "JSONCompactEachRow",
    "SQLInsert",
)

_CANON = {f.lower(): f for f in FORMATS}
_CANON["tsv"] = "TabSeparated"
_CANON["tsvwithnames"] = "TabSeparatedWithNames"


def canonical(fmt: str) -> str | None:
    """The canonical name of FORMAT ``fmt`` (case- and underscore-
    insensitive), or None when it is not a supported format."""
    return _CANON.get(fmt.replace("_", "").lower())


def content_type(fmt: str) -> str:
    """The HTTP Content-Type of a reply rendered in ``fmt``."""
    if canonical(fmt) in BINARY:
        return "application/octet-stream"
    f = fmt.lower()
    if f.startswith("json"):
        return "application/json; charset=UTF-8"
    if f.startswith("csv"):
        return "text/csv; charset=UTF-8"
    return "text/plain; charset=UTF-8"


def _txt(v, *, quote_strings: bool = False) -> str:
    """CH text rendering of one value (TabSeparated/Values cell)."""
    if v is None:
        return "NULL" if quote_strings else "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return repr(v)  # shortest round-trip repr, CH's float print style
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        inner = ",".join(_txt(x, quote_strings=True) for x in v)
        return f"[{inner}]"
    if isinstance(v, dict):
        inner = ",".join(
            f"{_txt(k, quote_strings=True)}:{_txt(x, quote_strings=True)}"
            for k, x in v.items()
        )
        return f"{{{inner}}}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, int):  # ints never quote, even in quoted contexts
        return str(v)
    s = str(v)
    if quote_strings:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")


def _csv_cell(v) -> str:
    if v is None:
        return "\\N"
    s = _txt(v)
    if any(c in s for c in (",", '"', "\n")):
        return '"' + s.replace('"', '""') + '"'
    return s


def _json_cell(v):
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_cell(x) for k, x in v.items()}
    return v


#: spark simpleString → CH type name, for the JSON envelope's meta block
_CH_TYPES = {
    "bigint": "Int64",
    "int": "Int32",
    "smallint": "Int16",
    "tinyint": "Int8",
    "double": "Float64",
    "float": "Float32",
    "string": "String",
    "boolean": "Bool",
    "date": "Date",
    "timestamp": "DateTime",
    "timestamp_ntz": "DateTime",
    "binary": "String",
}


def _ch_type(simple: str) -> str:
    if simple.startswith("decimal"):
        return "Decimal" + simple[len("decimal"):]
    if simple.startswith("array<"):
        return f"Array({_ch_type(simple[6:-1])})"
    return _CH_TYPES.get(simple, simple)


def _pretty(cols, rows, compact: bool) -> str:
    cells = [[_txt(v) for v in r] for r in rows]
    widths = [
        max([len(c)] + [len(row[i]) for row in cells]) for i, c in enumerate(cols)
    ]

    def line(l, m, r, fill="─"):
        return l + m.join(fill * (w + 2) for w in widths) + r

    out = []
    if compact:
        # ┌─name─┬─name─┐ header embedded in the top border
        head = "┌" + "┬".join(
            ("─" + c + "─").ljust(w + 2, "─") for c, w in zip(cols, widths)
        ) + "┐"
        out.append(head)
    else:
        out.append(line("┏", "┳", "┓", "━"))
        out.append(
            "┃" + "┃".join(f" {c.ljust(w)} " for c, w in zip(cols, widths)) + "┃"
        )
        out.append(line("┡", "╇", "┩", "━"))
    for r in cells:
        out.append(
            "│" + "│".join(f" {v.ljust(w)} " for v, w in zip(r, widths)) + "│"
        )
    out.append(line("└", "┴", "┘"))
    return "\n".join(out)


def render(
    df: DataFrame,
    fmt: str = "TabSeparated",
    max_rows: int = 10_000,
    stats: dict | None = None,
) -> str | bytes:
    """Render a DataFrame in ClickHouse FORMAT ``fmt`` (driver-side, capped):
    text for the text formats, bytes for the ``BINARY`` ones.

    ``stats`` (optional out-param) receives ``result_rows`` — the row count
    the render materialized — so the HTTP layer can emit
    ``X-ClickHouse-Summary`` without a second job."""
    canon = canonical(fmt)
    if canon is None:
        raise ValueError(
            f"unsupported FORMAT {fmt!r}; supported: {', '.join(FORMATS)}"
        )
    if canon in BINARY:
        return BINARY[canon][0](df, max_rows=max_rows, stats=stats)
    if canon == "Null":
        # clickhouse-client's benchmark format: execute fully, emit nothing
        n = df.limit(max_rows).count()
        if stats is not None:
            stats["result_rows"] = n
        return ""
    rows = df.limit(max_rows).collect()
    if stats is not None:
        stats["result_rows"] = len(rows)
    cols = df.columns

    if canon in (
        "TabSeparated", "TabSeparatedWithNames", "TabSeparatedWithNamesAndTypes"
    ):
        body = ["\t".join(_txt(v) for v in r) for r in rows]
        if canon.endswith("AndTypes"):
            body.insert(
                0,
                "\t".join(
                    _ch_type(f.dataType.simpleString()) for f in df.schema.fields
                ),
            )
        if "WithNames" in canon:
            body.insert(0, "\t".join(cols))
        return "\n".join(body) + ("\n" if body else "")
    if canon in ("CSV", "CSVWithNames", "CSVWithNamesAndTypes"):
        body = [",".join(_csv_cell(v) for v in r) for r in rows]
        if canon.endswith("AndTypes"):
            body.insert(
                0,
                ",".join(
                    _csv_cell(_ch_type(f.dataType.simpleString()))
                    for f in df.schema.fields
                ),
            )
        if "WithNames" in canon:
            body.insert(0, ",".join(_csv_cell(c) for c in cols))
        return "\n".join(body) + ("\n" if body else "")
    if canon == "TSKV":
        # key=value pairs, tab-separated (CH's log-friendly format)
        return (
            "\n".join(
                "\t".join(f"{c}={_txt(v)}" for c, v in zip(cols, r))
                for r in rows
            )
            + ("\n" if rows else "")
        )
    if canon == "JSONCompactEachRow":
        return (
            "\n".join(
                _json.dumps(
                    [_json_cell(v) for v in r],
                    separators=(",", ":"),
                    ensure_ascii=False,
                )
                for r in rows
            )
            + ("\n" if rows else "")
        )
    if canon == "JSONCompact":
        meta = [
            {"name": f.name, "type": _ch_type(f.dataType.simpleString())}
            for f in df.schema.fields
        ]
        doc = {
            "meta": meta,
            "data": [[_json_cell(v) for v in r] for r in rows],
            "rows": len(rows),
        }
        return _json.dumps(doc, indent=1, ensure_ascii=False) + "\n"
    if canon == "SQLInsert":
        if not rows:
            return ""
        tuples = ", ".join(
            "(" + ", ".join(_txt(v, quote_strings=True) for v in r) + ")"
            for r in rows
        )
        return f"INSERT INTO table ({', '.join(cols)}) VALUES {tuples};\n"
    if canon == "JSONEachRow":
        return (
            "\n".join(
                _json.dumps(
                    {c: _json_cell(v) for c, v in zip(cols, r)},
                    separators=(",", ":"),
                    ensure_ascii=False,
                )
                for r in rows
            )
            + ("\n" if rows else "")
        )
    if canon == "JSON":
        meta = [
            {"name": f.name, "type": _ch_type(f.dataType.simpleString())}
            for f in df.schema.fields
        ]
        doc = {
            "meta": meta,
            "data": [{c: _json_cell(v) for c, v in zip(cols, r)} for r in rows],
            "rows": len(rows),
        }
        return _json.dumps(doc, indent=1, ensure_ascii=False) + "\n"
    if canon == "Values":
        return ",".join(
            "(" + ",".join(_txt(v, quote_strings=True) for v in r) + ")" for r in rows
        )
    if canon == "Vertical":
        w = max((len(c) for c in cols), default=0)
        out = []
        for i, r in enumerate(rows, 1):
            out.append(f"Row {i}:")
            out.append("─" * 6)
            out.extend(f"{c.rjust(w)}: {_txt(v)}" for c, v in zip(cols, r))
            out.append("")
        return "\n".join(out)
    if canon == "Markdown":
        out = ["| " + " | ".join(cols) + " |"]
        out.append("|" + "|".join(":---" for _ in cols) + "|")
        out.extend("| " + " | ".join(_txt(v) for v in r) + " |" for r in rows)
        return "\n".join(out) + "\n"
    return _pretty(cols, rows, compact=(canon == "PrettyCompact"))


# ---------------------------------------------------------------------------
# RowBinary / RowBinaryWithNamesAndTypes (the CH binary wire format drivers
# use for fast export/ingest; public spec: LEB128 varints, little-endian
# fixed-width numerics, String = varint length + UTF-8 bytes, Nullable = flag
# byte (1 = NULL, no value follows), Array = varint count + items, Date =
# UInt16 days, DateTime = UInt32 unix seconds)
# ---------------------------------------------------------------------------

import struct as _struct

_RB_PACK = {
    "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
    "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
    "Float32": "<f", "Float64": "<d", "Bool": "<B",
}

_EPOCH_DATE = _dt.date(1970, 1, 1)


def _leb128(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_leb128(data: bytes, pos: int) -> "tuple[int, int]":
    shift = n = 0
    while True:
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _rb_spark_to_ch(simple: str, nullable: bool) -> str:
    """Spark simpleString → the CH type this encoder emits (the subset with
    a defined RowBinary layout; decimals widen to Float64, documented)."""
    if simple.startswith("array<"):
        inner = _rb_spark_to_ch(simple[6:-1], True)
        base = f"Array({inner})"
        return base
    if simple.startswith("decimal"):
        base = "Float64"
    else:
        base = _CH_TYPES.get(simple)
    if base is None:
        raise ValueError(f"RowBinary: unsupported Spark type {simple!r}")
    if base == "DateTime64(9)":
        base = "DateTime"
    return f"Nullable({base})" if nullable and not simple.startswith("array<") else base


def _rb_encode_value(ch_type: str, v, out: bytearray) -> None:
    if ch_type.startswith("Nullable("):
        if v is None:
            out.append(1)
            return
        out.append(0)
        ch_type = ch_type[9:-1]
    if ch_type.startswith("Array("):
        inner = ch_type[6:-1]
        v = v if v is not None else []
        out += _leb128(len(v))
        for x in v:
            _rb_encode_value(inner, x, out)
        return
    if ch_type == "String":
        b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
        out += _leb128(len(b))
        out += b
        return
    if ch_type == "Date":
        out += _struct.pack("<H", (v - _EPOCH_DATE).days)
        return
    if ch_type == "DateTime":
        ts = int(v.replace(tzinfo=_dt.timezone.utc).timestamp()) \
            if v.tzinfo is None else int(v.timestamp())
        out += _struct.pack("<I", ts)
        return
    fmt = _RB_PACK.get(ch_type)
    if fmt is None:
        raise ValueError(f"RowBinary: unsupported CH type {ch_type!r}")
    if ch_type == "Bool":
        v = 1 if v else 0
    if ch_type.startswith("Float"):
        v = float(v)
    else:
        v = int(v)
    out += _struct.pack(fmt, v)


def render_rowbinary(
    df: DataFrame,
    with_names_and_types: bool = False,
    max_rows: int = 10_000,
    stats: dict | None = None,
) -> bytes:
    """Driver-side RowBinary export (row-capped like the text formats; bulk
    exports go through the distributed writers).  Column types derive from
    the Spark schema — nullable fields emit the Nullable flag byte, exactly
    what a CH driver reading ``RowBinaryWithNamesAndTypes`` expects."""
    fields = df.schema.fields
    types = [_rb_spark_to_ch(f.dataType.simpleString(), f.nullable) for f in fields]
    out = bytearray()
    if with_names_and_types:
        out += _leb128(len(fields))
        for f in fields:
            b = f.name.encode("utf-8")
            out += _leb128(len(b))
            out += b
        for t in types:
            b = t.encode("utf-8")
            out += _leb128(len(b))
            out += b
    rows = df.limit(max_rows).collect()
    if stats is not None:
        stats["result_rows"] = len(rows)
    for row in rows:
        for t, v in zip(types, row):
            _rb_encode_value(t, v, out)
    return bytes(out)


def _rb_decode_value(ch_type: str, data: bytes, pos: int):
    if ch_type.startswith("Nullable("):
        flag = data[pos]
        pos += 1
        if flag:
            return None, pos
        return _rb_decode_value(ch_type[9:-1], data, pos)
    if ch_type.startswith("Array("):
        inner = ch_type[6:-1]
        n, pos = _read_leb128(data, pos)
        items = []
        for _ in range(n):
            v, pos = _rb_decode_value(inner, data, pos)
            items.append(v)
        return items, pos
    if ch_type == "String":
        n, pos = _read_leb128(data, pos)
        if pos + n > len(data):
            # Python slices silently truncate — raise so streaming
            # callers (the TCP client's greedy loop) know to pull more
            raise IndexError(f"String value truncated: need {n} bytes")
        return data[pos:pos + n].decode("utf-8"), pos + n
    if ch_type == "Date":
        (days,) = _struct.unpack_from("<H", data, pos)
        return _EPOCH_DATE + _dt.timedelta(days=days), pos + 2
    if ch_type == "DateTime":
        (ts,) = _struct.unpack_from("<I", data, pos)
        return _dt.datetime.utcfromtimestamp(ts), pos + 4
    fmt = _RB_PACK[ch_type]
    (v,) = _struct.unpack_from(fmt, data, pos)
    if ch_type == "Bool":
        v = bool(v)
    return v, pos + _struct.calcsize(fmt)


def parse_rowbinary(data: bytes, types: "list[str] | None" = None):
    """Decode RowBinary bytes.  With ``types=None`` the payload must carry
    the WithNamesAndTypes header; returns (names, types, rows).  With
    explicit ``types``, returns rows only (plain RowBinary)."""
    pos = 0
    names = None
    if types is None:
        n, pos = _read_leb128(data, pos)
        names, types = [], []
        for _ in range(n):
            ln, pos = _read_leb128(data, pos)
            names.append(data[pos:pos + ln].decode("utf-8"))
            pos += ln
        for _ in range(n):
            ln, pos = _read_leb128(data, pos)
            types.append(data[pos:pos + ln].decode("utf-8"))
            pos += ln
        header = True
    else:
        header = False
    rows = []
    while pos < len(data):
        row = []
        for t in types:
            v, pos = _rb_decode_value(t, data, pos)
            row.append(v)
        rows.append(tuple(row))
    if header:
        return names, types, rows
    return rows


# ---------------------------------------------------------------------------
# Native — ClickHouse's column-major block format (the most efficient CH
# interchange format; what clickhouse-local writes with FORMAT Native and
# the native-protocol drivers speak).  Public wire layout: per block,
# varint(n_columns) varint(n_rows), then per column name, type, and the
# column data serialized COLUMN-major: Nullable = n_rows null-mask bytes
# then nested data with defaults at null slots; Array = n_rows cumulative
# UInt64 offsets then the flattened nested column; String = varint-length
# values; fixed types = packed little-endian runs.
# ---------------------------------------------------------------------------


def _native_default(ch_type: str):
    if ch_type.startswith("Array("):
        return []
    if ch_type == "String":
        return ""
    if ch_type == "Date":
        return _EPOCH_DATE
    if ch_type == "DateTime":
        return _dt.datetime(1970, 1, 1)
    return 0


def _native_encode_column(ch_type: str, values: list, out: bytearray) -> None:
    if ch_type.startswith("Nullable("):
        inner = ch_type[9:-1]
        out += bytes(1 if v is None else 0 for v in values)
        _native_encode_column(
            inner,
            [(_native_default(inner) if v is None else v) for v in values],
            out,
        )
        return
    if ch_type.startswith("Array("):
        inner = ch_type[6:-1]
        flat: list = []
        cum = 0
        for v in values:
            v = v if v is not None else []
            cum += len(v)
            out += _struct.pack("<Q", cum)
            flat.extend(v)
        _native_encode_column(inner, flat, out)
        return
    # scalar runs reuse the RowBinary value encoders (identical layouts)
    for v in values:
        _rb_encode_value(ch_type, v, out)


def _native_decode_column(ch_type: str, n_rows: int, data: bytes, pos: int):
    if ch_type.startswith("Nullable("):
        inner = ch_type[9:-1]
        mask = data[pos : pos + n_rows]
        if len(mask) < n_rows:
            raise IndexError(f"null mask truncated: need {n_rows} bytes")
        pos += n_rows
        vals, pos = _native_decode_column(inner, n_rows, data, pos)
        return [None if m else v for m, v in zip(mask, vals)], pos
    if ch_type.startswith("Array("):
        inner = ch_type[6:-1]
        offsets = list(
            _struct.unpack_from(f"<{n_rows}Q", data, pos)
        ) if n_rows else []
        pos += 8 * n_rows
        total = offsets[-1] if offsets else 0
        flat, pos = _native_decode_column(inner, total, data, pos)
        out, prev = [], 0
        for off in offsets:
            out.append(flat[prev:off])
            prev = off
        return out, pos
    vals = []
    for _ in range(n_rows):
        v, pos = _rb_decode_value(ch_type, data, pos)
        vals.append(v)
    return vals, pos


def render_native(
    df: DataFrame, max_rows: int = 10_000, stats: dict | None = None
) -> bytes:
    """Driver-side FORMAT Native export: one block, column-major (row-capped
    like the other terminal renders; bulk exports go through the
    distributed writers)."""
    fields = df.schema.fields
    types = [_rb_spark_to_ch(f.dataType.simpleString(), f.nullable) for f in fields]
    rows = df.limit(max_rows).collect()
    if stats is not None:
        stats["result_rows"] = len(rows)
    out = bytearray()
    out += _leb128(len(fields))
    out += _leb128(len(rows))
    for i, (f, t) in enumerate(zip(fields, types)):
        b = f.name.encode("utf-8")
        out += _leb128(len(b))
        out += b
        tb = t.encode("utf-8")
        out += _leb128(len(tb))
        out += tb
        _native_encode_column(t, [r[i] for r in rows], out)
    return bytes(out)


def parse_native(data: bytes):
    """Decode FORMAT Native bytes (one or more concatenated blocks) →
    (names, types, rows)."""
    pos = 0
    names: list[str] = []
    types: list[str] = []
    rows: list[tuple] = []
    while pos < len(data):
        n_cols, pos = _read_leb128(data, pos)
        n_rows, pos = _read_leb128(data, pos)
        cols = []
        blk_names, blk_types = [], []
        for _ in range(n_cols):
            ln, pos = _read_leb128(data, pos)
            blk_names.append(data[pos : pos + ln].decode("utf-8"))
            pos += ln
            ln, pos = _read_leb128(data, pos)
            blk_types.append(data[pos : pos + ln].decode("utf-8"))
            pos += ln
            vals, pos = _native_decode_column(blk_types[-1], n_rows, data, pos)
            cols.append(vals)
        if names and blk_names != names:
            raise ValueError("Native: block column names differ across blocks")
        names, types = blk_names, blk_types
        rows.extend(zip(*cols) if cols else [])
    return names, types, rows


#: CH type → Spark type, for reading Native/RowBinary headers back into
#: DataFrames (the inverse of _rb_spark_to_ch's supported surface)
_CH_TO_SPARK = {
    "Int8": "ByteType", "Int16": "ShortType", "Int32": "IntegerType",
    "Int64": "LongType", "UInt8": "IntegerType", "UInt16": "IntegerType",
    "UInt32": "LongType", "UInt64": "LongType",
    "Float32": "FloatType", "Float64": "DoubleType", "String": "StringType",
    "Bool": "BooleanType", "Date": "DateType", "DateTime": "TimestampType",
}


def _rb_ch_to_spark_field(name: str, ch_type: str):
    """CH type string → Spark StructField (Nullable/Array recurse)."""
    from pyspark.sql import types as T

    nullable = ch_type.startswith("Nullable(")
    base = ch_type[9:-1] if nullable else ch_type
    if base.startswith("Array("):
        inner = _rb_ch_to_spark_field("x", base[6:-1])
        return T.StructField(
            name, T.ArrayType(inner.dataType, inner.nullable), nullable
        )
    cls = _CH_TO_SPARK.get(base)
    if cls is None:
        raise ValueError(f"unsupported CH type for Spark read-back: {ch_type!r}")
    return T.StructField(name, getattr(T, cls)(), nullable)


# ---------------------------------------------------------------------------
# Arrow / ArrowStream — CH's Apache Arrow output/input formats, byte-exact
# via pyarrow IPC (file format for Arrow, streaming format for ArrowStream).
# The columnar hop uses Spark's own Arrow conversion (df.toArrow()), so no
# per-value Python encoding happens at all.
# ---------------------------------------------------------------------------


def render_arrow(
    df: DataFrame,
    stream: bool = False,
    max_rows: int = 10_000,
    stats: dict | None = None,
) -> bytes:
    """FORMAT Arrow (IPC file) / ArrowStream (IPC stream) export — driver-
    side row-capped like the other terminal formats."""
    import io as _io

    import pyarrow as pa

    table = df.limit(max_rows).toArrow()
    if stats is not None:
        stats["result_rows"] = table.num_rows
    sink = _io.BytesIO()
    new = pa.ipc.new_stream if stream else pa.ipc.new_file
    with new(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def render_parquet(
    df: DataFrame, max_rows: int = 10_000, stats: dict | None = None
) -> bytes:
    """FORMAT Parquet export (round 8): one parquet file in the response
    body — the format pandas/polars/duckdb clients read natively.  Driver-
    side row-capped like the other terminal formats (bulk stays on the
    distributed writers)."""
    import io as _io

    import pyarrow.parquet as pq

    table = df.limit(max_rows).toArrow()
    if stats is not None:
        stats["result_rows"] = table.num_rows
    sink = _io.BytesIO()
    pq.write_table(table, sink)
    return sink.getvalue()


def parse_parquet(data: bytes):
    """Parquet bytes → (names, rows) for the HTTP bulk-ingest path."""
    import io as _io

    import pyarrow.parquet as pq

    table = pq.read_table(_io.BytesIO(data))
    names = table.schema.names
    rows = [tuple(d[n] for n in names) for d in table.to_pylist()]
    return names, rows


def parse_arrow(data: bytes):
    """Arrow IPC bytes (file or stream framing — sniffed) → (names, rows)."""
    import io as _io

    import pyarrow as pa

    buf = _io.BytesIO(data)
    try:
        table = pa.ipc.open_file(buf).read_all()
    except pa.ArrowInvalid:
        buf.seek(0)
        table = pa.ipc.open_stream(buf).read_all()
    names = table.schema.names
    rows = [tuple(d[n] for n in names) for d in table.to_pylist()]
    return names, rows


def _names_rows(parse):
    """A header-carrying parse that returns (names, types, rows), reduced
    to the (names, rows) shape of the ``BINARY`` table."""

    def names_rows(data: bytes):
        names, _types, rows = parse(data)
        return names, rows

    return names_rows


#: the binary FORMATs: canonical name → (render(df, max_rows=, stats=) →
#: bytes, parse(data) → (names, rows)).  Plain RowBinary carries no header,
#: so it has no parse: its ingest decodes the body against the target
#: table's types.
BINARY = {
    "RowBinary": (render_rowbinary, None),
    "RowBinaryWithNamesAndTypes": (
        _functools.partial(render_rowbinary, with_names_and_types=True),
        _names_rows(parse_rowbinary),
    ),
    "Native": (render_native, _names_rows(parse_native)),
    "Arrow": (render_arrow, parse_arrow),
    "ArrowStream": (_functools.partial(render_arrow, stream=True), parse_arrow),
    "Parquet": (render_parquet, parse_parquet),
}
