"""Schema-aware Kusto stages: the KQL operators that need the resolved
input schema or a scan of the data, which the text transpiler
(``kql.transpile_kql``) cannot see.

- ``find [withsource=Col] [in (T1, ...)] where Pred`` without ``project``
  (source position): the first-seen union of the tables' columns with
  typed-NULL padding; tables whose schema cannot bind the predicate drop
  out (Kusto: a predicate over a missing column never matches).  The
  projected form stays in the transpiler.
- ``search [kind=case_sensitive] "term"``: at the pipeline head it scans
  every table (same padded union as ``find``, ``source_`` carries the
  table name — Kusto's ``$table``); after a ``|`` it filters its input.
  Both forms match with one OR of per-string-column ``contains``
  (case-insensitive by default, Kusto's ``kind=default``).
- ``evaluate bag_unpack(col[, 'prefix'])``: one column per distinct key
  in the data (one distinct-keys aggregate, rows = bag width), sorted by
  name as Kusto does.
- ``evaluate narrow()``: (Row, Column, Value) triples through one
  ``stack()``.
- ``evaluate pivot(col, agg)`` without the value list, and bare
  ``basket``/``autocluster``/``diffpatterns``: rewritten to their explicit
  text form (the distinct pivot values; the input's string columns, at
  most 5 — the CUBE bound) and left to the transpiler.
- ``getschema``: Kusto's introspection rows, read off the analysed plan.

:func:`run_kql` walks the last statement's pipeline once.  Text stages
accumulate; at a schema-aware stage the accumulated text transpiles (with
the statement's ``let``s) into the stage's input DataFrame.  Each
intermediate DataFrame is bound to a view name unique to the call, which
is dropped as soon as the next ``spark.sql`` has analysed it, so
concurrent statements never share state.  A statement with no
schema-aware stage transpiles unchanged.
"""

from __future__ import annotations

import re
import uuid
from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, functions as F

from clickhouseocp_spark.catalog import local_frame
from clickhouseocp_spark.chsql import ChSqlError
from clickhouseocp_spark.kql import _expr, _quoted, _split_top, transpile_kql

_FIND = re.compile(
    r"(?is)^find\s+(?:withsource\s*=\s*(\w+)\s+)?"
    r"(?:in\s*\(([^)]+)\)\s*)?where\s+(.+)$"
)
_SEARCH = re.compile(
    r"(?is)^search\s+(?:kind\s*=\s*(case_sensitive|case_insensitive)\s+)?"
    r"(['\"])(.*)\2$"
)
_EVALUATE = re.compile(r"(?is)^evaluate\s+(\w+)\s*\((.*)\)$")
#: argument count of the bare (schema-inferred) mining-plugin forms
_MINING_BARE_ARGS = {"basket": 1, "autocluster": 1, "diffpatterns": 4}


def _schema_stage(stage: str, first: bool) -> tuple[str, list] | None:
    """``(op, args)`` when *stage* needs its input's schema or data, None
    for a text stage.  *first* marks the pipeline head, where only the
    source forms of ``find`` and ``search`` apply."""
    if first:
        m = _FIND.match(stage)
        if m and not re.search(r"(?i)\bproject\b", m.group(3)):
            return "find", list(m.groups())
    m = _SEARCH.match(stage)
    if m:
        return "search", [m.group(1) == "case_sensitive", m.group(3)]
    if first:
        return None
    if stage.lower() == "getschema":
        return "getschema", []
    m = _EVALUATE.match(stage)
    if not m:
        return None
    op, args = m.group(1).lower(), _split_top(m.group(2))
    if (
        op == "bag_unpack"
        or (op == "narrow" and not args)
        or (op == "pivot" and len(args) == 2)
        or _MINING_BARE_ARGS.get(op) == len(args)
    ):
        return op, args
    return None


def _contains_any(df: DataFrame, term: str, case_sensitive: bool) -> Column | None:
    """OR of ``contains(term)`` over *df*'s string columns, NULL counting as
    no match; None when *df* has no string column."""
    cond = None
    for c, dt in df.dtypes:
        if dt != "string":
            continue
        e = (
            F.col(c).contains(term)
            if case_sensitive
            else F.lower(F.col(c)).contains(term.lower())
        )
        cond = e if cond is None else (cond | e)
    return None if cond is None else F.coalesce(cond, F.lit(False))


def _padded_union(eng, names: list[str], srccol: str, leg) -> DataFrame | None:
    """Union of ``leg(table)`` over *names* with the first-seen union of
    their columns: a missing column pads with a typed NULL, a column whose
    type differs from its first-seen type goes through ``try_cast`` (NULL
    on mismatch, no ANSI error), and *srccol* carries the table name.  A
    table whose leg is None drops out; None when every table does."""
    frames = [(t, eng._table(t)) for t in names]
    out_cols: dict[str, str] = {}
    for _, df in frames:
        for c, dt in df.dtypes:
            out_cols.setdefault(c, dt)
    out = None
    for t, df in frames:
        rows = leg(df)
        if rows is None:
            continue
        have = dict(df.dtypes)
        rows = rows.select(
            F.lit(t).alias(srccol),
            *[
                (
                    F.col(c).cast(dt)
                    if have[c] == dt
                    else F.expr(f"try_cast({c} AS {dt})")
                ).alias(c)
                if c in have
                else F.lit(None).cast(dt).alias(c)
                for c, dt in out_cols.items()
            ],
        )
        out = rows if out is None else out.unionByName(rows)
    return out


def _find(eng, df: None, args: list) -> DataFrame:
    srccol, tables, pred = args
    names = [t.strip() for t in tables.split(",")] if tables else sorted(eng.tables)
    cond = F.expr(_expr(pred.strip()))

    def leg(t: DataFrame) -> DataFrame | None:
        try:
            return t.filter(cond)
        except AnalysisException as e:
            # skip ONLY tables whose schema cannot bind the predicate; a
            # type error or bad function on a table that HAS the columns
            # must surface, not silently drop the leg
            if "UNRESOLVED_COLUMN" in (e.getCondition() or str(e)):
                return None
            raise

    out = _padded_union(eng, names, srccol or "source_", leg)
    if out is None:
        raise ChSqlError("find: the predicate binds in none of the tables")
    return out


def _search(eng, df: DataFrame | None, args: list) -> DataFrame:
    case_sensitive, term = args
    if df is not None:
        cond = _contains_any(df, term, case_sensitive)
        return df.filter(F.lit(False) if cond is None else cond)

    def leg(t: DataFrame) -> DataFrame | None:
        cond = _contains_any(t, term, case_sensitive)
        return None if cond is None else t.filter(cond)

    out = _padded_union(eng, sorted(eng.tables), "source_", leg)
    if out is None:
        return eng.spark.range(0).select(F.lit("").alias("source_"))
    return out


def _bag_unpack(eng, df: DataFrame, args: list) -> DataFrame:
    bag = args[0] if args else ""
    prefix = _quoted(args[1]) if len(args) > 1 else ""
    if len(args) not in (1, 2) or prefix is None:
        raise ChSqlError("evaluate bag_unpack(col[, 'prefix']) subset")
    field = next((f for f in df.schema.fields if f.name == bag), None)
    if field is None or field.dataType.typeName() != "map":
        raise ChSqlError(f"evaluate bag_unpack: {bag!r} is not a map column")
    keys = sorted(
        r[0]
        for r in df.select(F.explode(F.map_keys(F.col(bag))).alias("k"))
        .distinct()
        .collect()
        if r[0] is not None
    )
    return df.select(
        *[c for c in df.columns if c != bag],
        *[F.element_at(F.col(bag), F.lit(k)).alias(prefix + k) for k in keys],
    )


def _narrow(eng, df: DataFrame, args: list) -> DataFrame:
    pairs = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in df.columns)
    # Row is UNIQUE per source row but not dense (Kusto's dense ordinal
    # assumes serialized input; a global row_number would single-partition
    # the world — pipe `serialize` upstream when a dense ordinal matters)
    return df.withColumn("Row", F.monotonically_increasing_id()).select(
        "Row",
        F.expr(f"stack({len(df.columns)}, {pairs}) AS (Column, Value)"),
    )


def _pivot(eng, df: DataFrame, args: list) -> str:
    pcol = args[0].strip()
    vals = sorted(
        r[0] for r in df.select(pcol).distinct().collect() if r[0] is not None
    )
    if not vals:
        raise ChSqlError(f"evaluate pivot: no non-NULL values in {pcol!r}")
    # bare str(v) is only valid KQL for plain numerics: date/timestamp/
    # Decimal/bool values are re-injected QUOTED; Spark's comparison
    # coerces the string literal back to the column type
    lit = ", ".join(
        str(v)
        if isinstance(v, (int, float)) and not isinstance(v, bool)
        else "'" + str(v).replace("'", "''") + "'"
        for v in vals
    )
    return f"evaluate pivot({pcol}, {args[1]}, {lit})"


def _mining(op: str, eng, df: DataFrame, args: list) -> str:
    excl = {args[0].strip()} if op == "diffpatterns" else set()
    cols = [c for c, dt in df.dtypes if dt == "string" and c not in excl]
    if not cols:
        raise ChSqlError(
            f"evaluate {op}: no string attribute columns in the input — "
            "project some first"
        )
    if len(cols) > 5:
        raise ChSqlError(
            f"evaluate {op}: {len(cols)} string columns exceed the CUBE "
            "bound — name ≤5 explicitly"
        )
    return f"evaluate {op}({', '.join(args + cols)})"


_KUSTO_TYPES = {
    "bigint": "long", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "real", "float": "real", "string": "string",
    "boolean": "bool", "timestamp": "datetime", "timestamp_ntz": "datetime",
    "date": "datetime", "binary": "dynamic",
}
# getschema's DataType column carries CLR type names (clients key off these)
_CLR_NAMES = {
    "long": "System.Int64", "int": "System.Int32", "real": "System.Double",
    "string": "System.String", "bool": "System.SByte",
    "datetime": "System.DateTime", "dynamic": "System.Object",
}


def _getschema(eng, df: DataFrame, args: list) -> DataFrame:
    rows = []
    for i, f in enumerate(df.schema.fields):
        simple = f.dataType.simpleString()
        kt = _KUSTO_TYPES.get(
            simple,
            "dynamic" if simple.startswith(("array", "map", "struct")) else "string",
        )
        rows.append((f.name, i, _CLR_NAMES[kt], kt))
    return local_frame(
        eng.spark,
        rows,
        "ColumnName string, ColumnOrdinal int, DataType string, ColumnType string",
    )


#: op -> handler(engine, input DataFrame or None at the head, args); a
#: handler returns the stage's DataFrame or its explicit text form
_STAGES = {
    "find": _find,
    "search": _search,
    "bag_unpack": _bag_unpack,
    "narrow": _narrow,
    "pivot": _pivot,
    "getschema": _getschema,
    **{op: partial(_mining, op) for op in _MINING_BARE_ARGS},
}


def _frame(eng, lets: str, df: DataFrame | None, stages: list[str]) -> DataFrame:
    """*stages* (text) run over *df* — or from their own head when *df* is
    None — with the statement's ``let`` statements in scope."""
    if not stages:
        return df
    if df is None:
        return eng.spark.sql(transpile_kql(lets + " | ".join(stages)))
    view = f"__kql_{uuid.uuid4().hex}"
    df.createTempView(view)
    try:
        return eng.spark.sql(transpile_kql(lets + " | ".join([view, *stages])))
    finally:
        eng.spark.catalog.dropTempView(view)


def run_kql(eng, query: str) -> DataFrame:
    """One KQL statement on *eng* (a ``ChSparkEngine``)."""
    stmts = _split_top(query.strip(), ";")
    stages = _split_top(stmts[-1], "|") if stmts else []
    lets = "".join(s + "; " for s in stmts[:-1])
    df, pending = None, []
    for i, stage in enumerate(stages):
        hit = _schema_stage(stage, i == 0)
        if hit is None:
            pending.append(stage)
            continue
        op, args = hit
        out = _STAGES[op](eng, _frame(eng, lets, df, pending) if i else None, args)
        if isinstance(out, str):
            pending.append(out)
        else:
            df, pending = out, []
    if df is None and pending == stages:
        return eng.spark.sql(transpile_kql(query))
    return _frame(eng, lets, df, pending)
