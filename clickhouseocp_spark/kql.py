"""Kusto Query Language (KQL) pipeline dialect → Spark SQL (subset).

ClickHouse ships an experimental Kusto dialect (``SET dialect = 'kusto'``,
23.3+ — the same setting switch the reference image exposes for PRQL); this
module provides that entry surface for the PySpark engine:
``ChSparkEngine.sql(text, dialect="kusto")`` and ``SET dialect = 'kusto'``.

Design mirrors prql.py: each tabular operator wraps the previous relation in
one subquery — Catalyst collapses the nesting back into a single logical
plan, so KQL's strict left-to-right pipe semantics come for free without any
scope analysis here.

Supported tabular operators (the core of the public KQL spec,
learn.microsoft.com/kusto):

- ``T``                      — bare source table starts the pipeline
- ``| where <pred>``         — predicate sugar: ``==`` → ``=``, ``!=`` → ``<>``,
  ``and/or/not`` pass through, ``contains``/``startswith``/``endswith`` →
  LIKE forms, ``in (...)`` passes through
- ``| project c1, c2=expr``  — select list (KQL alias ``name=expr`` →
  ``expr AS name``)
- ``| extend name=expr``     — SELECT *, expr AS name
- ``| summarize [a1=agg(), ...] [by k1, ...]`` — GROUP BY (``count()`` →
  ``count(*)``, ``dcount(x)`` → ``count(DISTINCT x)``, ``avg/sum/min/max``
  pass through, ``make_list`` → collect_list)
- ``| sort by c [asc|desc], ...`` / ``| order by`` — ORDER BY (KQL default
  direction is DESC, applied when none given)
- ``| top n by c [asc|desc]`` — ORDER BY + LIMIT (default DESC)
- ``| take n`` / ``| limit n`` — LIMIT
- ``| count``                — SELECT count(*) AS Count
- ``| distinct c1, ...``     — SELECT DISTINCT
- ``| mv-expand col``        — explode an array column (LATERAL VIEW
  EXPLODE; the expanded column keeps its name)
- ``| project-away c1, ...`` — drop columns (``SELECT * EXCEPT``)
- ``| project-rename new=old, ...`` — rename columns

Documented deviation from Kusto: ``mv-expand`` and ``project-rename`` emit
the affected column at the END of the schema (the ``SELECT * EXCEPT (...),
col`` rewrite — a text-level transpiler has no schema to reproject the
original position).  Name-addressed consumers are unaffected; positional
consumers of FORMAT output see the moved column.
- ``| join kind=inner|leftouter|rightouter|fullouter (T2) on key`` —
  equi-join (single key or ``$left.a == $right.b`` form)
- ``| parse col with [*] 'lit' Name[:type] ...`` — log extraction (simple
  mode) compiled to one anchored regex; extracted columns append at the END
  of the schema (same positional deviation as mv-expand, documented above)
- ``| render <chart> [with (...)]`` — no-op passthrough (charting is
  client-side in Kusto)
- ``| top-nested N1 of K1 by agg1, top-nested N2 of K2 by agg2, ...`` —
  hierarchical top-k, arbitrary depth (per-level join-back + partitioned
  row_number); ``with others`` not in the subset
- ``| mv-apply [v =] arr on ( <subpipeline> )`` — the subquery-per-record
  operator.  The subpipeline may chain ``where`` / ``extend`` / ``take``
  stages and (optionally, terminally) one ``summarize``; the WHOLE chain is
  lowered to per-row array combinators (filter / transform / slice /
  aggregate) with the transpiler tracking element fields through struct
  promotion — no explode, no re-join, no shuffle, ever.  Without a terminal
  summarize the transformed array is exploded in place (one output row per
  surviving element, Kusto's row-expansion form)
- ``| make-series v=agg(x) [default=d] on ts [from a] [to b] step Nu [by k]``
  — the Kusto time-series operator: binned aggregation over a dense
  default-filled axis (end-exclusive, start-aligned), one array row per
  group.  Series values are DOUBLE (Kusto dynamic arrays are real-typed);
  lowered to two map-side-combinable grouped aggregations + a
  constant-folded axis transform, zero joins (see ``_make_series``).
  ``from``/``to`` may each be omitted (Kusto auto-bounds): the axis then
  snaps to the observed min/max bin via an empty-frame window over the
  per-group rows — still join-free, and the window runs over #groups rows,
  not the data.  Auto-``from`` aligns bins to the Unix-epoch grid
  (documented deviation: Kusto aligns to 0001-01-01)
- ``| join kind=leftanti|rightanti|leftsemi|rightsemi ...`` — semi/anti
  join kinds (incl. the ``anti``/``leftantisemi``/``rightantisemi``
  aliases); right-handed kinds swap operands onto Spark's LEFT SEMI/ANTI
- ``| lookup (Dim) on key`` — the dimension-enrich sugar (Kusto's
  broadcast-dim join): LEFT OUTER join on the key; like ``join``, the
  operand may be a bare table, a let binding, or a subpipeline
- ``| top-hitters N of col [by sumexpr]`` — frequency (or weighted) top-N.
  Documented deviation: Kusto's top-hitters is streaming-approximate; the
  lowering is the exact count/sum + TakeOrdered (ties break on the value
  ascending), which dominates it at any scale Spark runs
- ``| serialize [name = row_number()]`` — row numbering over the most
  recent ``sort`` order (the OVER clause re-states the sort keys, so the
  numbering is well-defined); requires a preceding sort in the subset
- ``| union [kind=outer] T2`` / ``| union ( <subpipeline> )`` — UNION ALL
  (Kusto unions never dedup; ``distinct`` follows if needed).  Documented
  deviation: operands must be positionally compatible (Spark SQL has no
  by-name union); ``kind=inner``'s common-column projection is out of the
  subset
- ``range x from a to b step c`` — source operator (pipeline head):
  inclusive arithmetic progression, numeric or datetime+timespan, lowered
  to ``explode(sequence(...))``
- ``| lookup (Dim) on key`` / ``| top-hitters N of col [by sum]`` /
  ``| serialize [name = row_number()]`` / ``| project-keep`` — see their
  handlers; top-hitters aggregates exactly under Kusto's
  ``approximate_*`` output names (documented deviation)
- ``| evaluate pivot(col, agg, v1, ...)`` — Spark SQL native PIVOT (one
  hash agg); the value list is explicit in the subset
- serialized-window functions in ``extend`` after a ``sort``:
  ``prev``/``next``/``row_cumsum``/``row_number`` → lag/lead/running
  sum/row_number OVER the re-stated sort keys
- aggregates: ``count``/``dcount``/``dcountif``/``countif``/``sumif``/
  ``avgif``/``minif``/``maxif``/``percentile`` (exact interpolated —
  documented deviation from the T-digest)/``arg_max``/``arg_min``
  (argument order swapped onto max_by/min_by)/``take_any``/``make_list``/
  ``make_set``
- string/range predicates: ``has``/``!has`` (whole-term, case-insensitive
  token membership), ``[!]contains``/``[!]startswith``/``[!]endswith``,
  ``=~``/``!~``, ``in~``, ``between (a .. b)``/``!between``,
  ``matches regex`` — all anchored to identifier-like LHS so they compose
  inside aggregate arguments

Statement-level forms:

- ``let name = <pipeline or scalar>; ...; <pipeline>`` — Kusto's binding
  statement.  Tabular lets transpile once and substitute wherever the name
  is used as a source (pipeline head, join/union operand); scalar lets
  substitute textually into expressions.
- ``datatable(c1:type, c2:type, ...) [v, v, ...]`` — inline literal table
  (source position), lowered to a ``VALUES`` relation with typed casts.
- ``print name = expr, ...`` — the 1-row constant source.

Scalar sugar: ``==``/``!=``, ``contains``/``startswith``/``endswith``,
``datetime(...)`` literals, ``bin(x, size)`` / ``bin_at(x, size, origin)``
(numeric or 30s/5m/1h/1d timespan — Kusto's bucketing scalars, lowered to
floor arithmetic / epoch-floor), plus the common Kusto scalar-function
vocabulary (``strcat``/``strcat_delim``, ``iff``/``iif``, ``case``,
``isempty``/``isnotempty``/``isnull``/``isnotnull``, ``strlen``,
``substring`` (0-based), ``indexof`` (0-based, -1 missing), ``countof``,
``extract``, ``replace_string``/``replace_regex``, ``split`` (literal
delimiter), ``tolower``/``toupper``, ``tostring``/``toint``/``tolong``/
``todouble``/``toreal``/``tobool``, ``array_length``, ``dynamic([...])``
literals, ``now``/``ago``, ``startofday/week/month/year``,
``endofday``, ``datetime_add``/``datetime_diff``) — each lowered to the
equivalent JVM expression.

``series_*`` time-series vocabulary (round 8) — the make-series companion
family: element-wise ``series_add/subtract/multiply/divide`` (scalar
broadcast), comparisons, ``series_abs/sign/exp/log/sqrt/pow``, reductions
``series_sum/avg/min/max``, ``series_stats_dynamic``, gap fills
``series_fill_const/forward/backward/linear`` (linear = two (value,index)
struct scans + one zip, O(bins)), ``series_fit_line`` (closed-form least
squares bound once through singleton-array transforms),
``series_pearson_correlation``, ``series_outliers`` (Tukey fences),
``series_decompose[_anomalies]`` (additive per-phase-mean seasonal +
line-fit trend + z-scored residual anomalies, explicit period), and the
DSP pair ``series_fir``/``series_iir`` (zero-padded moving filter /
recursive filter, one linear fold) — all lowered to per-row array
combinators, zero exchanges beyond the make-series aggregate itself.

Join execution hints: ``hint.strategy=broadcast`` → BROADCAST(kusto-left),
``hint.strategy=shuffle`` / ``hint.shufflekey`` → SHUFFLE_HASH,
``hint.num_partitions`` accepted-and-ignored (AQE owns partition counts).
Stages that need the input's schema or a scan of its data
(``evaluate bag_unpack``/``narrow``, 2-arg ``evaluate pivot``, bare
``basket``/``autocluster``/``diffpatterns``, ``getschema``, ``search`` and
the unprojected ``find``) run in ``kql_stages.py``, which transpiles the
text between them with this module.

Everything else inside scalar expressions passes through to Spark SQL
verbatim (same policy as prql.py — KQL's scalar layer is close enough to SQL for the
shared core: arithmetic, comparisons, function calls).
"""

from __future__ import annotations

import re

from clickhouseocp_spark.functions.sqlstats import (
    betai_sql as _betai_sql,
    lgamma_sql as _lgamma_sql,
)
from clickhouseocp_spark.functions.geo import (
    geohash_decode_sql as _geohash_decode_sql,
    geohash_encode_sql as _geohash_encode_sql,
)

__all__ = ["transpile_kql", "KqlError"]


class KqlError(ValueError):
    """Raised when KQL text falls outside the supported subset."""


def _ts_secs(lit: str) -> int | None:
    """'30s'/'5m'/'1h'/'2d' timespan literal → seconds, else None."""
    m = re.match(r"^\s*([0-9.]+)(s|m|h|d)\s*$", lit, re.IGNORECASE)
    if not m:
        return None
    return int(
        {"s": 1, "m": 60, "h": 3600, "d": 86400}[m.group(2).lower()]
        * float(m.group(1))
    )


def _quoted(s: str) -> str | None:
    """Unwrap a single-quoted literal, else None."""
    s = s.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return s[1:-1]
    return None


def _keep(name: str, args: list[str]) -> str:
    """Reconstruct the original call (builder bail-out on arity mismatch —
    e.g. SQL's ``extract(YEAR FROM ts)`` sharing a name with Kusto's
    3-arg extract)."""
    return f"{name}({', '.join(args)})"


_TRUNC_UNITS = {"day", "week", "month", "year", "hour", "minute", "second"}


def _kql_case(args: list[str]) -> str:
    if len(args) < 3 or len(args) % 2 == 0:
        raise KqlError("case(pred, val, ..., default) needs odd ≥3 args")
    whens = " ".join(
        f"WHEN {args[i]} THEN {args[i + 1]}" for i in range(0, len(args) - 1, 2)
    )
    return f"CASE {whens} ELSE {args[-1]} END"


def _kql_bin_at(args: list[str]) -> str:
    if len(args) != 3:
        raise KqlError("bin_at(x, size, fixedPoint) takes 3 args")
    x, size, origin = args
    secs = _ts_secs(size)
    if secs is not None:
        o = f"unix_timestamp({origin})"
        return (
            f"to_timestamp({o} + CAST(floor((unix_timestamp({x}) - {o}) / "
            f"{secs}) AS BIGINT) * {secs})"
        )
    return f"(({origin}) + floor((({x}) - ({origin})) / ({size})) * ({size}))"


def _kql_dt_unit(lit: str, fn: str) -> str:
    u = _quoted(lit)
    if u is None or u.lower() not in _TRUNC_UNITS:
        raise KqlError(f"{fn}: period must be a quoted unit literal, got {lit!r}")
    return u.upper()


# --- Kusto series_* time-series vocabulary (round 8) -----------------------
# The companion family to make-series: every function lowers to per-row
# array combinators (transform/zip_with/aggregate) — ZERO extra exchanges;
# the series length is the make-series axis (bounded by range/step), so all
# scans stay linear in the array size.  Elements are cast to DOUBLE (Kusto
# series arithmetic promotes to real).

_SER_NULL_NUM = re.compile(r"^-?\d+(\.\d+)?$")


def _series_binop(op: str):
    """Element-wise arithmetic/comparison over two series; the second
    operand may be a numeric scalar (Kusto broadcasts it)."""

    def build(a: list[str]) -> str:
        x, y = a[0], a[1]
        if _SER_NULL_NUM.match(y.strip()):
            body = f"CAST(__x AS DOUBLE) {op} CAST({y.strip()} AS DOUBLE)"
            return f"transform({x}, __x -> {body})"
        return (
            f"zip_with({x}, {y}, (__x, __y) -> "
            f"CAST(__x AS DOUBLE) {op} CAST(__y AS DOUBLE))"
        )

    return build


def _series_map(fn_tpl: str):
    """Element-wise unary map: fn_tpl formats the casted element."""
    return lambda a: (
        f"transform({a[0]}, __x -> {fn_tpl.format(x='CAST(__x AS DOUBLE)')})"
    )


def _ser_sum(x: str) -> str:
    # null elements are skipped (Kusto series aggregation ignores nulls)
    return (
        f"aggregate({x}, 0.0D, (__a, __x) -> "
        f"__a + coalesce(CAST(__x AS DOUBLE), 0.0D))"
    )


def _ser_nnz(x: str) -> str:
    return f"size(filter({x}, __x -> __x IS NOT NULL))"


def _ser_ffill(a: str) -> str:
    """Forward fill: each null takes the last non-null value before it
    (leading nulls stay null) — one linear aggregate scan."""
    return (
        f"aggregate({a}, CAST(array() AS ARRAY<DOUBLE>), (__acc, __x) -> "
        f"array_append(__acc, coalesce(CAST(__x AS DOUBLE), "
        f"if(size(__acc) = 0, CAST(NULL AS DOUBLE), __acc[size(__acc) - 1]))))"
    )


_SER_VI = "STRUCT<v: DOUBLE, i: INT>"


def _ser_scan_structs(a: str, rev: bool) -> str:
    """Linear scan carrying (value, index) of the nearest non-null element
    at-or-before each position (rev=True: at-or-after, via reversal)."""
    src = f"reverse({a})" if rev else a
    idx = f"size({a}) - 1 - size(__acc)" if rev else "size(__acc)"
    agg = (
        f"aggregate({src}, CAST(array() AS ARRAY<{_SER_VI}>), "
        f"(__acc, __x) -> array_append(__acc, if(__x IS NOT NULL, "
        f"named_struct('v', CAST(__x AS DOUBLE), 'i', {idx}), "
        f"if(size(__acc) = 0, CAST(NULL AS {_SER_VI}), "
        f"__acc[size(__acc) - 1]))))"
    )
    return f"reverse({agg})" if rev else agg


def _kql_fill_linear(a: list[str]) -> str:
    """series_fill_linear: interior nulls are linearly interpolated between
    the nearest non-null neighbors; edge nulls take the nearest non-null
    value (Kusto's edge rule).  Two linear struct scans + one zip — O(n)."""
    y = a[0]
    pos = (
        f"zip_with({y}, sequence(0, size({y}) - 1), "
        f"(__x, __i) -> named_struct('x', CAST(__x AS DOUBLE), 'i', __i))"
    )
    fb = (
        f"zip_with({_ser_scan_structs(y, False)}, {_ser_scan_structs(y, True)}, "
        f"(__f, __b) -> named_struct('f', __f, 'b', __b))"
    )
    return (
        f"zip_with({pos}, {fb}, (__p, __q) -> coalesce(__p.x, "
        f"CASE WHEN __q.f IS NULL THEN __q.b.v "
        f"WHEN __q.b IS NULL THEN __q.f.v "
        f"WHEN __q.b.i = __q.f.i THEN __q.f.v "
        f"ELSE __q.f.v + (__q.b.v - __q.f.v) * "
        f"CAST(__p.i - __q.f.i AS DOUBLE) / CAST(__q.b.i - __q.f.i AS DOUBLE) "
        f"END))"
    )


def _kql_series_stats(a: list[str]) -> str:
    """series_stats_dynamic: {min, min_idx, max, max_idx, avg, stdev,
    variance, sum, len} — variance is the sample variance (n-1), stdev its
    root (matches var_samp/stddev_samp on the oracle side)."""
    y = a[0]
    lvl1 = (
        f"named_struct('s', {_ser_sum(y)}, "
        f"'ss', aggregate({y}, 0.0D, (__a, __x) -> __a + "
        f"coalesce(CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE), 0.0D)), "
        f"'n', CAST({_ser_nnz(y)} AS DOUBLE), "
        f"'mn', CAST(array_min({y}) AS DOUBLE), "
        f"'mx', CAST(array_max({y}) AS DOUBLE), "
        f"'len', size({y}))"
    )
    yd = f"transform({y}, __e -> CAST(__e AS DOUBLE))"
    return (
        f"transform(array({lvl1}), __t -> named_struct("
        f"'min', __t.mn, "
        f"'min_idx', array_position({yd}, __t.mn) - 1, "
        f"'max', __t.mx, "
        f"'max_idx', array_position({yd}, __t.mx) - 1, "
        f"'avg', __t.s / __t.n, "
        f"'stdev', sqrt((__t.ss - __t.s * __t.s / __t.n) / (__t.n - 1)), "
        f"'variance', (__t.ss - __t.s * __t.s / __t.n) / (__t.n - 1), "
        f"'sum', __t.s, "
        f"'len', __t.len))[0]"
    )


def _kql_fit_line(a: list[str]) -> str:
    """series_fit_line → STRUCT(rsquare, slope, variance, rvariance,
    interception, line_fit) via closed-form least squares on x = 0..n-1.
    Intermediate sums bind once through singleton-array transforms (a
    let-expression in disguise) so nothing is recomputed; variance uses the
    n-1 denominator to match var_samp on the oracle side.  Deviation: Kusto
    returns a tuple for multi-assignment — here a STRUCT (project fields)."""
    y = a[0]
    sxy = (
        f"aggregate(zip_with({y}, sequence(0, size({y}) - 1), "
        f"(__v, __i) -> CAST(__v AS DOUBLE) * CAST(__i AS DOUBLE)), "
        f"0.0D, (__a, __x) -> __a + __x)"
    )
    syy = (
        f"aggregate({y}, 0.0D, (__a, __x) -> __a + "
        f"CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))"
    )
    lvl1 = (
        f"named_struct('n', CAST(size({y}) AS DOUBLE), 'sy', {_ser_sum(y)}, "
        f"'syy', {syy}, 'sxy', {sxy})"
    )
    # sx = Σx = n(n-1)/2, sxx = Σx² = (n-1)n(2n-1)/6 — constant-folded grids
    lvl2 = (
        f"transform(array({lvl1}), __t -> named_struct("
        f"'n', __t.n, 'sy', __t.sy, 'syy', __t.syy, 'sxy', __t.sxy, "
        f"'sx', __t.n * (__t.n - 1) / 2, "
        f"'sxx', (__t.n - 1) * __t.n * (2 * __t.n - 1) / 6))[0]"
    )
    lvl3 = (
        f"transform(array({lvl2}), __u -> named_struct("
        f"'n', __u.n, 'sy', __u.sy, 'syy', __u.syy, "
        f"'slope', (__u.n * __u.sxy - __u.sx * __u.sy) / "
        f"(__u.n * __u.sxx - __u.sx * __u.sx), "
        f"'sx', __u.sx, 'sxx', __u.sxx, 'sxy', __u.sxy))[0]"
    )
    lvl4 = (
        f"transform(array({lvl3}), __w -> named_struct("
        f"'slope', __w.slope, "
        f"'interception', (__w.sy - __w.slope * __w.sx) / __w.n, "
        f"'sstot', __w.syy - __w.sy * __w.sy / __w.n, "
        f"'ssres', __w.syy - 2 * ((__w.sy - __w.slope * __w.sx) / __w.n) * __w.sy "
        f"- 2 * __w.slope * __w.sxy "
        f"+ __w.n * power((__w.sy - __w.slope * __w.sx) / __w.n, 2) "
        f"+ 2 * ((__w.sy - __w.slope * __w.sx) / __w.n) * __w.slope * __w.sx "
        f"+ __w.slope * __w.slope * __w.sxx, "
        f"'n', __w.n))[0]"
    )
    return (
        f"transform(array({lvl4}), __z -> named_struct("
        f"'rsquare', CASE WHEN __z.sstot = 0 THEN 1.0D "
        f"ELSE 1.0D - __z.ssres / __z.sstot END, "
        f"'slope', __z.slope, "
        f"'variance', __z.sstot / (__z.n - 1), "
        f"'rvariance', __z.ssres / (__z.n - 1), "
        f"'interception', __z.interception, "
        f"'line_fit', transform(sequence(0, CAST(__z.n AS INT) - 1), "
        f"__k -> __z.interception + __z.slope * CAST(__k AS DOUBLE))))[0]"
    )


def _fit_seg_full(arr: str, s: str, m: str) -> str:
    """Closed-form least-squares fit of ``arr[s : s+m]`` against GLOBAL
    x = s..s+m-1: STRUCT(slope, icept, ssres).  Grid sums Σx/Σx² are
    constant-folded closed forms (Σ_{x=0}^{t} x² = t(t+1)(2t+1)/6); data
    sums are one slice-aggregate each.  Shared by series_fit_2lines."""
    s2hi = (
        f"((CAST(({s}) + ({m}) - 1 AS DOUBLE)) * (({s}) + ({m})) "
        f"* (2 * (({s}) + ({m})) - 1) / 6.0D)"
    )
    s2lo = f"((CAST(({s}) - 1 AS DOUBLE)) * ({s}) * (2 * ({s}) - 1) / 6.0D)"
    sums = (
        f"named_struct('m', CAST({m} AS DOUBLE), "
        f"'sx', CAST({m} AS DOUBLE) * ({s}) "
        f"+ CAST({m} AS DOUBLE) * (CAST({m} AS DOUBLE) - 1) / 2, "
        f"'sxx', {s2hi} - {s2lo}, "
        f"'sy', aggregate(slice({arr}, ({s}) + 1, {m}), 0.0D, "
        f"(__sa, __sv) -> __sa + __sv), "
        f"'syy', aggregate(slice({arr}, ({s}) + 1, {m}), 0.0D, "
        f"(__sa, __sv) -> __sa + __sv * __sv), "
        f"'sxy', aggregate(zip_with(slice({arr}, ({s}) + 1, {m}), "
        f"sequence(CAST({s} AS INT), CAST(({s}) + ({m}) - 1 AS INT)), "
        f"(__zv, __zx) -> __zv * CAST(__zx AS DOUBLE)), 0.0D, "
        f"(__sa, __sv) -> __sa + __sv))"
    )
    lvl1 = (
        f"transform(array({sums}), __f -> named_struct("
        f"'slope', (__f.m * __f.sxy - __f.sx * __f.sy) "
        f"/ (__f.m * __f.sxx - __f.sx * __f.sx), "
        f"'sy', __f.sy, 'syy', __f.syy, 'sxy', __f.sxy, "
        f"'sx', __f.sx, 'sxx', __f.sxx, 'm', __f.m))[0]"
    )
    return (
        f"transform(array({lvl1}), __g -> named_struct("
        f"'slope', __g.slope, "
        f"'icept', (__g.sy - __g.slope * __g.sx) / __g.m, "
        f"'ssres', greatest(0.0D, __g.syy "
        f"- 2 * ((__g.sy - __g.slope * __g.sx) / __g.m) * __g.sy "
        f"- 2 * __g.slope * __g.sxy "
        f"+ __g.m * power((__g.sy - __g.slope * __g.sx) / __g.m, 2) "
        f"+ 2 * ((__g.sy - __g.slope * __g.sx) / __g.m) * __g.slope * __g.sx "
        f"+ __g.slope * __g.slope * __g.sxx)))[0]"
    )


def _kql_fit_2lines(a: list[str]) -> str:
    """series_fit_2lines → STRUCT(rsquare, split_idx, variance, rvariance,
    line_fit): try every split i (right segment starts at i, both halves
    ≥2 points), fit each half by closed-form least squares in GLOBAL x,
    keep the split minimizing total residual sum of squares (first i on
    exact ties, via the struct sort key (rss, i)).  O(n²) in the SERIES
    length per row — bounded by the make-series bin contract, never by
    table size — and entirely JVM higher-order functions (zero exchanges,
    zero Python).  Series shorter than 4 return NULL (no valid split).
    Deviation: Kusto returns a tuple for multi-assignment — here a STRUCT
    (project fields), the series_fit_line precedent."""
    y = a[0]
    ya = f"transform({y}, __v0 -> CAST(__v0 AS DOUBLE))"
    left = _fit_seg_full("__ya", "0", "__i")
    right = _fit_seg_full("__ya", "__i", "size(__ya) - __i")
    cand = (
        f"transform(sequence(2, size(__ya) - 2), __i -> "
        f"transform(array(named_struct('l', {left}, 'r', {right})), "
        f"__p -> named_struct('rss', __p.l.ssres + __p.r.ssres, "
        f"'i', __i, 'l', __p.l, 'r', __p.r))[0])"
    )
    whole = (
        f"named_struct('n', CAST(size(__ya) AS DOUBLE), "
        f"'sy', aggregate(__ya, 0.0D, (__wa, __wv) -> __wa + __wv), "
        f"'syy', aggregate(__ya, 0.0D, (__wa, __wv) -> __wa + __wv * __wv))"
    )
    out = (
        f"transform(array(named_struct('b', array_sort({cand})[0], "
        f"'w', {whole})), __q -> named_struct("
        f"'rsquare', CASE WHEN __q.w.syy - __q.w.sy * __q.w.sy / __q.w.n "
        f"<= 0.0D THEN 1.0D "
        f"ELSE 1.0D - __q.b.rss / (__q.w.syy - __q.w.sy * __q.w.sy / __q.w.n) "
        f"END, "
        f"'split_idx', __q.b.i, "
        f"'variance', (__q.w.syy - __q.w.sy * __q.w.sy / __q.w.n) "
        f"/ (__q.w.n - 1), "
        f"'rvariance', __q.b.rss / (__q.w.n - 1), "
        f"'line_fit', concat("
        f"transform(sequence(0, __q.b.i - 1), "
        f"__k -> __q.b.l.icept + __q.b.l.slope * CAST(__k AS DOUBLE)), "
        f"transform(sequence(__q.b.i, CAST(__q.w.n AS INT) - 1), "
        f"__k -> __q.b.r.icept + __q.b.r.slope * CAST(__k AS DOUBLE)))))[0]"
    )
    return (
        f"CASE WHEN size({y}) < 4 THEN NULL ELSE "
        f"transform(array({ya}), __ya -> {out})[0] END"
    )


def _ser_decomp_core(y: str, period: str) -> str:
    """Shared decomposition pipeline for series_decompose[_anomalies]:
    returns a singleton-struct expression with fields
    (x, n, seas, trend, baseline, resid) — additive decomposition with an
    explicit positive period: seasonal = per-phase mean minus the overall
    mean (zero-sum convention), trend = least-squares line on the
    deseasonalized series, residual = the rest.  Documented deviations from
    Kusto: the seasonal extractor is the per-phase MEAN (Kusto's is
    median-based) and the period must be explicit (auto-detect lives in
    seriesPeriodDetectFFT's kernel, a different tier).  Every stage is an
    array combinator bound once through singleton-array transforms —
    O(bins·period) per row, zero exchanges."""
    xd = f"transform({y}, __e -> CAST(__e AS DOUBLE))"
    # L1: doubles + sizes + overall mean
    l1 = (
        f"named_struct('x', {xd}, 'n', size({y}), "
        f"'p', CAST({period} AS INT), "
        f"'mu', {_ser_sum(y)} / CAST(size({y}) AS DOUBLE))"
    )
    # L2: per-phase means (length p), then the zero-sum seasonal extended
    # over the full axis
    phase_means = (
        "transform(sequence(0, __t.p - 1), __ph -> "
        "aggregate(zip_with(__t.x, sequence(0, __t.n - 1), (__v, __i) -> "
        "named_struct('s', if(__i % __t.p = __ph, __v, 0.0D), "
        "'c', if(__i % __t.p = __ph, 1, 0))), "
        "named_struct('s', CAST(0.0 AS DOUBLE), 'c', 0), "
        "(__a, __e) -> named_struct('s', __a.s + __e.s, 'c', __a.c + __e.c), "
        # a phase with no members (period > bins) has an undefined mean;
        # 0.0 keeps the unused slot harmless under ANSI division
        "__a -> if(__a.c = 0, 0.0D, __a.s / CAST(__a.c AS DOUBLE))))"
    )
    # bind the phase-mean vector ONCE (inlining it inside the axis
    # transform would re-evaluate the O(n) fold per element — O(n²))
    l2a = (
        f"transform(array({l1}), __t -> named_struct("
        f"'x', __t.x, 'n', __t.n, 'p', __t.p, 'mu', __t.mu, "
        f"'pm', {phase_means}))[0]"
    )
    l2 = (
        f"transform(array({l2a}), __t -> named_struct("
        f"'x', __t.x, 'n', __t.n, 'p', __t.p, "
        f"'seas', transform(sequence(0, __t.n - 1), __i2 -> "
        f"element_at(__t.pm, (__i2 % __t.p) + 1) - __t.mu)))[0]"
    )
    # L3: deseasonalize, fit the trend line (closed form, x = 0..n-1)
    l3 = (
        f"transform(array({l2}), __u -> named_struct("
        f"'x', __u.x, 'n', __u.n, 'seas', __u.seas, "
        f"'ds', zip_with(__u.x, __u.seas, (__v, __s) -> __v - __s)))[0]"
    )
    l4 = (
        f"transform(array({l3}), __w -> named_struct("
        f"'x', __w.x, 'n', __w.n, 'seas', __w.seas, 'ds', __w.ds, "
        f"'nn', CAST(__w.n AS DOUBLE), "
        f"'sy', aggregate(__w.ds, 0.0D, (__a, __v) -> __a + __v), "
        f"'sxy', aggregate(zip_with(__w.ds, sequence(0, __w.n - 1), "
        f"(__v, __i) -> __v * CAST(__i AS DOUBLE)), 0.0D, "
        f"(__a, __v) -> __a + __v)))[0]"
    )
    l5 = (
        f"transform(array({l4}), __z -> named_struct("
        f"'x', __z.x, 'n', __z.n, 'seas', __z.seas, "
        f"'slope', (__z.nn * __z.sxy - (__z.nn * (__z.nn - 1) / 2) * __z.sy)"
        f" / (__z.nn * ((__z.nn - 1) * __z.nn * (2 * __z.nn - 1) / 6)"
        f" - (__z.nn * (__z.nn - 1) / 2) * (__z.nn * (__z.nn - 1) / 2)), "
        f"'sy', __z.sy, 'nn', __z.nn))[0]"
    )
    l6 = (
        f"transform(array({l5}), __q -> named_struct("
        f"'x', __q.x, 'seas', __q.seas, "
        f"'trend', transform(sequence(0, __q.n - 1), __k -> "
        f"(__q.sy - __q.slope * (__q.nn * (__q.nn - 1) / 2)) / __q.nn"
        f" + __q.slope * CAST(__k AS DOUBLE))))[0]"
    )
    return (
        f"transform(array({l6}), __f -> named_struct("
        f"'x', __f.x, 'seas', __f.seas, 'trend', __f.trend, "
        f"'baseline', zip_with(__f.seas, __f.trend, (__s, __t2) -> __s + __t2), "
        f"'resid', zip_with(__f.x, zip_with(__f.seas, __f.trend, "
        f"(__s, __t2) -> __s + __t2), (__v, __b) -> __v - __b)))[0]"
    )


def _kql_series_decompose(a: list[str]) -> str:
    """series_decompose(series, period) → STRUCT(baseline, seasonal,
    trend, residual) — Kusto returns a tuple for multi-assignment; here a
    STRUCT whose fields the query projects (the series_fit_line precedent)."""
    core = _ser_decomp_core(a[0], a[1])
    return (
        f"transform(array({core}), __d -> named_struct("
        f"'baseline', __d.baseline, 'seasonal', __d.seas, "
        f"'trend', __d.trend, 'residual', __d.resid))[0]"
    )


def _kql_series_seasonal(a: list[str]) -> str:
    """series_seasonal(series, period) — just the seasonal component of
    the additive decomposition (zero-sum per-phase means; Kusto's
    extractor is median-based, same documented deviation as
    series_decompose).  Negative/omitted period (Kusto's auto-detect
    sentinel) is out of subset — the explicit-period form only."""
    core = _ser_decomp_core(a[0], a[1])
    return f"transform(array({core}), __d -> __d.seas)[0]"


def _kql_series_forecast(a: list[str]) -> str:
    """series_decompose_forecast(series, points, period) — extend the
    additive model past the observed window: element n+k forecasts as
    trend(n+k) + seasonal[(n+k) mod period].  Returns the n+points-long
    baseline (Kusto's contract: the fitted baseline followed by the
    forecast horizon).  Subset: explicit period (same deviation family as
    series_decompose); the trend line extrapolates the closed-form fit.

    Cost: the same zero-exchange combinator tower as series_decompose
    plus an O(points) tail transform."""
    points, period = a[1], a[2]
    core = _ser_decomp_core(a[0], period)
    # rebuild trend params from the fitted trend array: slope = t[1]-t[0],
    # intercept = t[0] (exact — the fitted line is affine in the index)
    return (
        f"transform(array({core}), __d -> "
        f"transform(sequence(0, size(__d.x) + CAST({points} AS INT) - 1), "
        f"__k -> element_at(__d.trend, 1) "
        f"+ (element_at(__d.trend, 2) - element_at(__d.trend, 1)) "
        f"* CAST(__k AS DOUBLE) "
        f"+ element_at(__d.seas, (__k % CAST({period} AS INT)) + 1)))[0]"
    )


def _kql_series_anomalies(a: list[str]) -> str:
    """series_decompose_anomalies(series, threshold, period) →
    STRUCT(ad_flag, ad_score, baseline): score = the residual's sample
    z-score (documented deviation: Kusto scores residuals with a Tukey
    fence), flag = sign(score) where |score| exceeds the threshold."""
    th = a[1] if len(a) > 1 else "1.5"
    period = a[2] if len(a) > 2 else "1"
    core = _ser_decomp_core(a[0], period)
    stats = (
        f"transform(array({core}), __d -> named_struct("
        f"'baseline', __d.baseline, 'resid', __d.resid, "
        f"'m', aggregate(__d.resid, 0.0D, (__a, __v) -> __a + __v)"
        f" / CAST(size(__d.resid) AS DOUBLE), "
        f"'ss', aggregate(__d.resid, 0.0D, (__a, __v) -> __a + __v * __v), "
        f"'nn', CAST(size(__d.resid) AS DOUBLE)))[0]"
    )
    scored = (
        f"transform(array({stats}), __s -> named_struct("
        f"'baseline', __s.baseline, "
        f"'score', transform(__s.resid, __r -> (__r - __s.m) / "
        f"sqrt((__s.ss - __s.nn * __s.m * __s.m) / (__s.nn - 1)))))[0]"
    )
    return (
        f"transform(array({scored}), __o -> named_struct("
        f"'ad_flag', transform(__o.score, __z -> "
        f"CASE WHEN __z > ({th}) THEN 1 WHEN __z < -({th}) THEN -1 "
        f"ELSE 0 END), "
        f"'ad_score', __o.score, 'baseline', __o.baseline))[0]"
    )


def _kql_series_outliers(a: list[str]) -> str:
    """series_outliers(series[, k]) — Tukey-fence anomaly scores: 0 inside
    [q25 − k·IQR, q75 + k·IQR], else the signed distance beyond the
    nearest quartile in IQR units minus k (Kusto's documented shape;
    k defaults to 1.5).  Quartiles are the linearly-interpolated
    percentiles over the sorted series (Kusto's percentile definition),
    computed once through a singleton-struct bind — O(n log n) per row for
    the sort, zero exchanges."""
    y = a[0]
    k = a[1] if len(a) > 1 else "1.5D"
    srt = f"array_sort(transform({y}, __e -> CAST(__e AS DOUBLE)))"

    def q(frac: str) -> str:
        # type-7 linear interpolation at rank frac*(n-1), 0-based
        return (
            f"element_at(__t.s, CAST(floor(({frac}) * (__t.n - 1)) AS INT) + 1)"
            f" + (({frac}) * (__t.n - 1) "
            f"- floor(({frac}) * (__t.n - 1)))"
            f" * (element_at(__t.s, least(CAST(floor(({frac}) * (__t.n - 1)) "
            f"AS INT) + 2, __t.n)) "
            f"- element_at(__t.s, CAST(floor(({frac}) * (__t.n - 1)) AS INT)"
            f" + 1))"
        )

    l1 = f"named_struct('s', {srt}, 'n', size({y}))"
    l2 = (
        f"transform(array({l1}), __t -> named_struct("
        f"'q1', {q('0.25D')}, 'q3', {q('0.75D')}))[0]"
    )
    l3 = (
        f"transform(array({l2}), __u -> named_struct("
        f"'q1', __u.q1, 'q3', __u.q3, 'iqr', __u.q3 - __u.q1))[0]"
    )
    return (
        f"transform(array({l3}), __w -> transform({y}, __e -> CASE "
        f"WHEN __w.iqr = 0 THEN 0.0D "
        f"WHEN CAST(__e AS DOUBLE) > __w.q3 + ({k}) * __w.iqr "
        f"THEN (CAST(__e AS DOUBLE) - __w.q3) / __w.iqr - ({k}) "
        f"WHEN CAST(__e AS DOUBLE) < __w.q1 - ({k}) * __w.iqr "
        f"THEN (CAST(__e AS DOUBLE) - __w.q1) / __w.iqr + ({k}) "
        f"ELSE 0.0D END))[0]"
    )


def _kql_series_fir(a: list[str]) -> str:
    """series_fir(x, filter[, normalize[, center]]) — finite impulse
    response: y[i] = Σⱼ f'[j]·x[i−j+shift], zero-padded at the edges;
    f' = f/Σf when normalize (default true — the moving-average idiom),
    shift = ⌊(k−1)/2⌋ when center else 0 (causal).  Filter + its sum bind
    once; O(bins·k) per row, zero exchanges."""
    x = a[0]
    filt = a[1]
    normalize = (a[2].strip().lower() if len(a) > 2 else "true")
    center = (a[3].strip().lower() if len(a) > 3 else "false")
    xd = f"transform({x}, __e -> CAST(__e AS DOUBLE))"
    fd = f"transform({filt}, __e -> CAST(__e AS DOUBLE))"
    l1 = (
        f"named_struct('x', {xd}, 'n', size({x}), 'f', {fd}, "
        f"'k', size({filt}), "
        f"'s', aggregate({fd}, 0.0D, (__a, __v) -> __a + __v))"
    )
    l2 = (
        f"transform(array({l1}), __t -> named_struct("
        f"'x', __t.x, 'n', __t.n, 'k', __t.k, "
        f"'fn', if({normalize} AND __t.s <> 0, "
        f"transform(__t.f, __v -> __v / __t.s), __t.f), "
        f"'sh', if({center}, CAST(floor((__t.k - 1) / 2) AS INT), 0)))[0]"
    )
    return (
        f"transform(array({l2}), __w -> "
        f"transform(sequence(0, __w.n - 1), __i -> "
        f"aggregate(sequence(0, __w.k - 1), 0.0D, (__acc, __j) -> "
        f"__acc + element_at(__w.fn, __j + 1) * "
        f"if(__i - __j + __w.sh >= 0 AND __i - __j + __w.sh < __w.n, "
        f"__w.x[__i - __j + __w.sh], 0.0D))))[0]"
    )


def _kql_series_iir(a: list[str]) -> str:
    """series_iir(x, b, a) — infinite impulse response:
    y[i] = (Σⱼ b[j]·x[i−j] − Σⱼ≥1 a[j]·y[i−j]) / a[0], zero-padded —
    one linear fold carrying the output history (O(bins·k), zero
    exchanges; the Kusto exponential-smoothing/EMA idiom)."""
    x, bco, aco = a[0], a[1], a[2]
    xd = f"transform({x}, __e -> CAST(__e AS DOUBLE))"
    bd = f"transform({bco}, __e -> CAST(__e AS DOUBLE))"
    ad = f"transform({aco}, __e -> CAST(__e AS DOUBLE))"
    l1 = (
        f"named_struct('x', {xd}, 'n', size({x}), 'b', {bd}, "
        f"'kb', size({bco}), 'a', {ad}, 'ka', size({aco}))"
    )
    step = (
        "(aggregate(sequence(0, __t.kb - 1), 0.0D, (__s1, __j) -> "
        "__s1 + element_at(__t.b, __j + 1) * "
        "if(size(__y) - __j >= 0 AND size(__y) - __j < __t.n, "
        "__t.x[size(__y) - __j], 0.0D)) "
        "- if(__t.ka > 1, aggregate(sequence(1, __t.ka - 1), 0.0D, "
        "(__s2, __j2) -> __s2 + element_at(__t.a, __j2 + 1) * "
        "if(size(__y) - __j2 >= 0, __y[size(__y) - __j2], 0.0D)), 0.0D)"
        ") / element_at(__t.a, 1)"
    )
    return (
        f"transform(array({l1}), __t -> "
        f"aggregate(sequence(0, __t.n - 1), CAST(array() AS ARRAY<DOUBLE>), "
        f"(__y, __i) -> array_append(__y, {step})))[0]"
    )


def _kql_format_bytes(a: list[str]) -> str:
    """format_bytes(size[, precision]) — Bytes/KB/MB/GB/TB/PB rendering
    with a literal decimal precision (default 0, the Kusto default)."""
    p = (a[1] if len(a) > 1 else "0").strip()
    if not re.match(r"^\d+$", p):
        raise KqlError(
            "format_bytes subset: precision must be an integer literal"
        )
    f = f"%.{int(p)}f"
    x = a[0]
    tiers = [
        (1125899906842624, "PB"), (1099511627776, "TB"),
        (1073741824, "GB"), (1048576, "MB"), (1024, "KB"),
    ]
    whens = " ".join(
        f"WHEN abs({x}) >= {n} THEN "
        f"concat(format_string('{f}', CAST(({x}) / {n}.0 AS DOUBLE)), ' {u}')"
        for n, u in tiers
    )
    return (
        f"CASE {whens} ELSE "
        f"concat(format_string('{f}', CAST({x} AS DOUBLE)), ' Bytes') END"
    )


def _kql_parse_version(a: list[str]) -> str:
    """parse_version(v) — each of up to 4 dotted components zero-padded to
    8 digits and concatenated: a fixed-width STRING whose lexicographic
    order equals the numeric version order (deviation: Kusto returns a
    decimal; the 10^24 magnitudes don't survive the double-widening
    comparison path, the padded form compares identically)."""
    return (
        f"concat_ws('', transform(sequence(1, 4), __i -> "
        f"lpad(coalesce(nullif(try_element_at(split({a[0]}, '\\\\.'), __i), "
        f"''), '0'), 8, '0')))"
    )


#: convert_*(value, from, to) unit tables — factors to the base unit
#: (temperature handled separately: affine, not linear)
_KQL_UNITS: dict[str, dict[str, float]] = {
    "angle": {"degree": 3.141592653589793 / 180.0, "radian": 1.0},
    "length": {
        "meter": 1.0, "kilometer": 1000.0, "centimeter": 0.01,
        "millimeter": 0.001, "mile": 1609.344, "foot": 0.3048,
        "inch": 0.0254, "yard": 0.9144, "nautical_mile": 1852.0,
    },
    "mass": {
        "kilogram": 1.0, "gram": 0.001, "milligram": 1e-6,
        "pound": 0.45359237, "ounce": 0.028349523125, "tonne": 1000.0,
    },
    "speed": {
        "meter_per_second": 1.0, "kilometer_per_hour": 1.0 / 3.6,
        "mile_per_hour": 0.44704, "knot": 1852.0 / 3600.0,
    },
    "volume": {
        "liter": 1.0, "milliliter": 0.001, "cubic_meter": 1000.0,
        "us_gallon": 3.785411784, "us_pint": 0.473176473,
    },
    "energy": {
        "joule": 1.0, "kilojoule": 1000.0, "kilowatt_hour": 3.6e6,
        "watt_hour": 3600.0, "calorie": 4.184,
        "british_thermal_unit": 1055.05585262,
    },
}


def _kql_convert(kind: str):
    """convert_<kind>(value, from_unit, to_unit) — Kusto's 2023 unit
    converters: the unit names must be string LITERALS (resolved to a
    factor at transpile time — no per-row lookup)."""

    def build(a: list[str]) -> str:
        if len(a) != 3:
            raise KqlError(f"convert_{kind} takes (value, from, to)")
        units = _KQL_UNITS[kind]
        f, t = a[1].strip().strip("'"), a[2].strip().strip("'")
        if f not in units or t not in units:
            raise KqlError(
                f"convert_{kind} subset: units {sorted(units)}, "
                f"got ({f!r}, {t!r})"
            )
        return f"(CAST({a[0]} AS DOUBLE) * {units[f]!r} / {units[t]!r})"

    return build


def _kql_convert_temperature(a: list[str]) -> str:
    """convert_temperature: affine (offset) conversions via kelvin."""
    if len(a) != 3:
        raise KqlError("convert_temperature takes (value, from, to)")
    to_k = {
        "kelvin": "({x})",
        "degree_celsius": "(({x}) + 273.15)",
        "degree_fahrenheit": "((({x}) + 459.67) * 5.0 / 9.0)",
    }
    from_k = {
        "kelvin": "({k})",
        "degree_celsius": "(({k}) - 273.15)",
        "degree_fahrenheit": "(({k}) * 9.0 / 5.0 - 459.67)",
    }
    f, t = a[1].strip().strip("'"), a[2].strip().strip("'")
    if f not in to_k or t not in from_k:
        raise KqlError(
            f"convert_temperature subset: units {sorted(to_k)}, "
            f"got ({f!r}, {t!r})"
        )
    k = to_k[f].format(x=f"CAST({a[0]} AS DOUBLE)")
    return from_k[t].format(k=k)


def _kql_array_shift(a: list[str], right: bool) -> str:
    """array_shift_left/right(arr, count[, fill]) — Kusto semantics: a
    negative count shifts the opposite direction; a count beyond the array
    size yields a fully-filled array (never a runtime error).  The count is
    clamped to [0, size] after direction resolution; vacated slots take the
    optional fill value, else typed NULLs (the ``IF(1=0, __x, fill)`` trick
    keeps the element type without naming it)."""
    arr, n0 = a[0], a[1]
    fill = a[2] if len(a) > 2 else "NULL"
    n = f"CAST({n0} AS INT)" if right is False else f"(-CAST({n0} AS INT))"
    k = f"least(abs({n}), size({arr}))"
    pad = f"transform(slice({arr}, 1, {k}), __x -> IF(1 = 0, __x, {fill}))"
    left = f"concat(slice({arr}, ({k}) + 1, size({arr}) - ({k})), {pad})"
    rgt = f"concat({pad}, slice({arr}, 1, size({arr}) - ({k})))"
    return (
        f"CASE WHEN size({arr}) = 0 THEN {arr} "
        f"WHEN ({n}) >= 0 THEN {left} ELSE {rgt} END"
    )


def _ipv4_num(ip: str) -> str:
    return (
        f"aggregate(transform(split({ip}, '\\\\.'), "
        f"__o -> CAST(__o AS BIGINT)), CAST(0 AS BIGINT), "
        f"(__a, __o) -> __a * 256 + __o)"
    )


def _kql_ipv4_is_private(a: list[str]) -> str:
    """ipv4_is_private: RFC-1918 blocks 10/8, 172.16/12, 192.168/16."""
    return (
        f"transform(array({_ipv4_num(a[0])}), __n -> "
        "(__n >= 167772160 AND __n <= 184549375) OR "
        "(__n >= 2886729728 AND __n <= 2887778303) OR "
        "(__n >= 3232235520 AND __n <= 3232301055))[0]"
    )


def _kql_ipv4_in_range(a: list[str]) -> str:
    """ipv4_is_in_range(ip, 'base/mask') — prefix equality after shifting
    out the host bits (mask omitted → /32)."""
    base = _ipv4_num(f"element_at(split({a[1]}, '/'), 1)")
    return (
        f"transform(array(named_struct('n', {_ipv4_num(a[0])}, "
        f"'b', {base}, "
        f"'m', coalesce(try_cast(try_element_at(split({a[1]}, '/'), 2) "
        f"AS INT), 32))), "
        "__t -> shiftright(__t.n, 32 - __t.m) = "
        "shiftright(__t.b, 32 - __t.m))[0]"
    )


def _kql_ipv4_masked(ip: str, extra_pfx: str | None = None) -> tuple[str, str]:
    """Common IPv4 machinery (round-10 scalar batch 5): returns the SQL for
    (masked numeric value, effective prefix) of a dotted string that may
    carry a '/suffix'; ``extra_pfx`` further clamps the prefix (Kusto's
    optional PrefixMask argument — the EFFECTIVE prefix is the minimum)."""
    base = _ipv4_num(f"element_at(split({ip}, '/'), 1)")
    sfx = (
        f"coalesce(try_cast(try_element_at(split({ip}, '/'), 2) AS INT), 32)"
    )
    if extra_pfx is not None:
        sfx = f"least({sfx}, CAST({extra_pfx} AS INT))"
    masked = (
        f"transform(array(named_struct('n', {base}, 'm', {sfx})), "
        f"__t -> shiftleft(shiftright(__t.n, 32 - __t.m), 32 - __t.m))[0]"
    )
    return masked, sfx


def _kql_parse_ipv4(a: list[str]) -> str:
    """parse_ipv4('a.b.c.d[/p]') → big-endian numeric with host bits
    zeroed per the embedded suffix (Kusto semantics)."""
    masked, _sfx = _kql_ipv4_masked(a[0])
    return masked


def _kql_parse_ipv4_mask(a: list[str]) -> str:
    """parse_ipv4_mask(ip, prefix) → numeric masked by min(embedded,
    prefix)."""
    masked, _sfx = _kql_ipv4_masked(a[0], a[1])
    return masked


def _kql_ipv4_quad(masked: str) -> str:
    return (
        f"concat_ws('.', transform(sequence(3, 0, -1), "
        f"__k -> CAST(shiftright({masked}, __k * 8) & 255 AS STRING)))"
    )


def _kql_format_ipv4(a: list[str]) -> str:
    """format_ipv4(ip[, prefix]) → dotted string with host bits zeroed."""
    masked, _sfx = _kql_ipv4_masked(a[0], a[1] if len(a) > 1 else None)
    return _kql_ipv4_quad(masked)


def _kql_format_ipv4_mask(a: list[str]) -> str:
    """format_ipv4_mask(ip[, prefix]) → 'a.b.c.0/p' with the EFFECTIVE
    prefix appended (Kusto prints the min of embedded and argument)."""
    masked, sfx = _kql_ipv4_masked(a[0], a[1] if len(a) > 1 else None)
    return f"concat({_kql_ipv4_quad(masked)}, '/', CAST({sfx} AS STRING))"


def _kql_ipv4_compare(a: list[str]) -> str:
    """ipv4_compare(ip1, ip2[, prefix]) → -1/0/1 comparing the numerics
    masked by the minimum effective prefix of all three sources."""
    extra = a[2] if len(a) > 2 else None
    sfx1 = (
        f"coalesce(try_cast(try_element_at(split({a[0]}, '/'), 2) AS INT), 32)"
    )
    sfx2 = (
        f"coalesce(try_cast(try_element_at(split({a[1]}, '/'), 2) AS INT), 32)"
    )
    eff = f"least({sfx1}, {sfx2}"
    if extra is not None:
        eff += f", CAST({extra} AS INT)"
    eff += ")"
    n1 = _ipv4_num(f"element_at(split({a[0]}, '/'), 1)")
    n2 = _ipv4_num(f"element_at(split({a[1]}, '/'), 1)")
    return (
        f"transform(array(named_struct('a', {n1}, 'b', {n2}, 'm', {eff})), "
        f"__t -> CAST(sign(shiftright(__t.a, 32 - __t.m) "
        f"- shiftright(__t.b, 32 - __t.m)) AS BIGINT))[0]"
    )


def _regex_capture_group_count(body: str) -> int:
    """Count CAPTURING groups in a regex literal the way the engine
    numbers them (ADVICE r12 #3 — the old one-line lookaround miscounted
    three classes): tracks escape state (``\\\\(`` is an escaped
    backslash followed by a REAL group, ``\\(`` is a literal paren),
    skips character classes (``[(]`` is no group), and counts named
    groups ``(?P<name>...)`` / ``(?<name>...)`` — which ARE capturing
    and consume indexes in RE2/Kusto and in the Java regex Spark
    executes — while excluding lookbehinds ``(?<=`` / ``(?<!``."""
    n, i, in_class = 0, 0, False
    while i < len(body):
        c = body[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            continue
        if c == "(":
            rest = body[i + 1:]
            if not rest.startswith("?"):
                n += 1
            elif rest.startswith("?P<") or (
                rest.startswith("?<")
                and not rest.startswith(("?<=", "?<!"))
            ):
                n += 1
        i += 1
    return n


def _kql_extract_all(a: list[str]) -> str:
    """extract_all(regex, [captureGroups,] source) — all matches of the
    LITERAL regex: one capture group → array of strings
    (regexp_extract_all), several → array of arrays (one
    regexp_extract_all per group, zipped per match).  The regex must be
    a string literal (the group count sizes the generated expression);
    captureGroups subset: a dynamic([...]) of 1-based group INDEXES."""
    if len(a) == 2:
        rex, src = a[0].strip(), a[1]
        wanted: list[int] | None = None
    elif len(a) == 3:
        rex, grp, src = a[0].strip(), a[1].strip(), a[2]
        m = re.match(r"^dynamic\s*\(\s*\[(.*)\]\s*\)$", grp, re.IGNORECASE)
        if not m:
            raise KqlError(
                "extract_all captureGroups subset: a dynamic([...]) of "
                f"1-based group index literals, got {grp!r}"
            )
        try:
            wanted = [int(t.strip()) for t in m.group(1).split(",")]
        except ValueError:
            raise KqlError(
                "extract_all captureGroups subset: integer group indexes "
                f"only (names need the regex's group table), got {grp!r}"
            ) from None
    else:
        raise KqlError(
            "extract_all takes (regex, [captureGroups,] source)"
        )
    if not (
        len(rex) >= 2 and rex[0] in "'\"" and rex[-1] == rex[0]
    ):
        raise KqlError(
            "extract_all: the regex must be a string LITERAL (its capture-"
            f"group count sizes the generated expression), got {rex!r}"
        )
    body = rex[1:-1]
    n_groups = _regex_capture_group_count(body)
    if n_groups < 1:
        raise KqlError("extract_all: the regex needs a capture group")
    groups = wanted if wanted is not None else list(range(1, n_groups + 1))
    for gidx in groups:
        if not 1 <= gidx <= n_groups:
            raise KqlError(
                f"extract_all: group {gidx} out of range (regex has "
                f"{n_groups})"
            )
    if len(groups) == 1:
        return f"regexp_extract_all({src}, {rex}, {groups[0]})"
    pulls = ", ".join(
        f"regexp_extract_all({src}, {rex}, {gidx})" for gidx in groups
    )
    cols = ", ".join(f"__z.`{i}`" for i in range(len(groups)))
    return f"transform(arrays_zip({pulls}), __z -> array({cols}))"


def _erf_sql(x: str) -> str:
    """erf(x) as pure SQL via the odd-symmetry identity
    erf(x) = sign(x)·(1 − 2·(1 − Φ(|x|·√2))) with the tail from the
    Abramowitz-Stegun 26.2.17 rational approximation (|ε| < 7.5e-8;
    the same public formula chsql._phi_tail_sql and
    _duck_stats.duck_phi_tail replay — identical doubles after the
    round(6) oracle convention)."""
    z = f"(abs(CAST({x} AS DOUBLE)) * 1.4142135623730951)"
    t = f"(1.0 / (1.0 + 0.2316419 * {z}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937 "
        f"+ {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    tail = f"(exp(-({z} * {z}) / 2) / sqrt(2 * pi()) * {poly})"
    return f"(sign(CAST({x} AS DOUBLE)) * (1.0 - 2.0 * {tail}))"


def _kql_beta_cdf(a: list[str]) -> str:
    """beta_cdf(x, alpha, beta) → I_x(alpha, beta) — the regularized
    incomplete beta in pure SQL (Lanczos lgamma + NR Lentz fold)."""
    if len(a) != 3:
        raise KqlError("beta_cdf takes (x, alpha, beta)")
    return _betai_sql(f"({a[1]})", f"({a[2]})", f"({a[0]})")


def _kql_welch_test(a: list[str]) -> str:
    """welch_test(mean1, variance1, count1, mean2, variance2, count2) →
    two-sided p-value of Welch's unequal-variance t-test: t and the
    Welch-Satterthwaite df in closed form, then the exact t-tail identity
    2·P(T>|t|) = I_{df/(df+t²)}(df/2, 1/2) through the incomplete-beta
    fold.  All JVM codegen; pinned against a math.lgamma Python replay."""
    if len(a) != 6:
        raise KqlError(
            "welch_test takes (mean1, variance1, count1, "
            "mean2, variance2, count2)"
        )
    m1, v1, n1, m2, v2, n2 = (f"CAST({x} AS DOUBLE)" for x in a)
    se = f"named_struct('s1', ({v1}) / ({n1}), 's2', ({v2}) / ({n2}))"
    t2 = f"(pow(({m1}) - ({m2}), 2) / (__se.s1 + __se.s2))"
    df = (
        f"(pow(__se.s1 + __se.s2, 2) / "
        f"(pow(__se.s1, 2) / (({n1}) - 1) + pow(__se.s2, 2) / (({n2}) - 1)))"
    )
    p = _betai_sql("__q.df / 2", "CAST(0.5 AS DOUBLE)",
                   "__q.df / (__q.df + __q.t2)")
    return (
        f"transform(array({se}), __se -> "
        f"transform(array(named_struct('t2', {t2}, 'df', {df})), __q -> "
        f"IF(__q.df < 1 OR __q.t2 IS NULL, CAST(NULL AS DOUBLE), "
        f"least(CAST(1 AS DOUBLE), {p})))[0])[0]"
    )


def _kql_binomial_test(a: list[str]) -> str:
    """binomial_test(successes, trials, p [, kind]) — EXACT one-sided
    binomial tail via the incomplete-beta identity
    P(X ≥ k) = I_p(k, n−k+1) (kind='greater', the default here) and
    P(X ≤ k) = I_{1−p}(n−k, k+1) (kind='less').  kind='two-sided' (the
    mass-comparison enumeration) is out of the pure-SQL subset and
    raises with the limitation."""
    if len(a) < 3 or len(a) > 4:
        raise KqlError("binomial_test takes (successes, trials, p[, kind])")
    kind = a[3].strip().strip("'\"").lower() if len(a) > 3 else "greater"
    k, n, p = (f"CAST({x} AS DOUBLE)" for x in a[:3])
    if kind == "greater":
        return (
            f"(CASE WHEN ({k}) <= 0 THEN CAST(1 AS DOUBLE) "
            f"WHEN ({k}) > ({n}) THEN CAST(0 AS DOUBLE) "
            f"ELSE {_betai_sql(k, f'({n}) - ({k}) + 1', p)} END)"
        )
    if kind == "less":
        return (
            f"(CASE WHEN ({k}) >= ({n}) THEN CAST(1 AS DOUBLE) "
            f"WHEN ({k}) < 0 THEN CAST(0 AS DOUBLE) "
            f"ELSE {_betai_sql(f'({n}) - ({k})', f'({k}) + 1', f'1 - ({p})')} "
            f"END)"
        )
    raise KqlError(
        "binomial_test subset: kind must be 'greater' or 'less' (the "
        "two-sided exact test needs per-outcome mass enumeration — out of "
        "the pure-SQL subset)"
    )


def _ipv6_canon_sql(addr: str) -> str:
    """Canonical IPv6: lowercase, '::' expanded, every group zero-padded
    to 4 hex digits ('fe80::85d' → 'fe80:0000:…:085d') — Kusto's
    parse_ipv6 output form.  Bare IPv4 maps to ::ffff:a.b.c.d and a
    dotted-quad tail folds into the last two hex groups (RFC 4291
    mixed notation).  Invalid shapes → NULL.  Pure string/array SQL."""
    hexg = (
        "lpad(lower(hex(try_cast(regexp_extract(__q, "
        "'(\\\\d+)\\\\.(\\\\d+)\\\\.(\\\\d+)\\\\.(\\\\d+)$', {hi}) AS INT) "
        "* 256 + try_cast(regexp_extract(__q, "
        "'(\\\\d+)\\\\.(\\\\d+)\\\\.(\\\\d+)\\\\.(\\\\d+)$', {lo}) "
        "AS INT))), 4, '0')"
    )
    # dotted-quad octets must each be <= 255 BEFORE the hex fold — an
    # out-of-range octet (e.g. '300') used to hex to >4 digits and lpad
    # silently TRUNCATED it to a wrong-but-plausible canonical form;
    # try_cast also keeps absurd digit runs from aborting under ANSI
    octs_ok = " AND ".join(
        "coalesce(try_cast(regexp_extract(__q, "
        f"'(\\\\d+)\\\\.(\\\\d+)\\\\.(\\\\d+)\\\\.(\\\\d+)$', {i}) "
        "AS INT), 256) <= 255"
        for i in (1, 2, 3, 4)
    )
    v4fold = (
        "CASE WHEN __q RLIKE '\\\\d+\\\\.\\\\d+\\\\.\\\\d+\\\\.\\\\d+$' "
        "THEN IF(" + octs_ok + ", "
        "concat(regexp_replace(__q, "
        "'\\\\d+\\\\.\\\\d+\\\\.\\\\d+\\\\.\\\\d+$', ''), "
        + hexg.format(hi=1, lo=2)
        + ", ':', "
        + hexg.format(hi=3, lo=4)
        + "), 'invalid') ELSE __q END"
    )
    groups = (
        "CASE WHEN __u LIKE '%::%' THEN "
        "concat("
        "filter(split(element_at(split(__u, '::'), 1), ':'), __g -> __g != ''), "
        "array_repeat('0', 8 "
        "- size(filter(split(element_at(split(__u, '::'), 1), ':'), "
        "__g -> __g != '')) "
        "- size(filter(split(try_element_at(split(__u, '::'), 2), ':'), "
        "__g -> __g != ''))), "
        "filter(split(try_element_at(split(__u, '::'), 2), ':'), "
        "__g -> __g != '')) "
        "ELSE split(__u, ':') END"
    )
    return (
        f"transform(array(lower(trim({addr}))), __p -> "
        # bare IPv4 → the ::ffff: mapped form first
        f"transform(array(IF(__p NOT RLIKE ':' AND __p RLIKE "
        f"'^\\\\d+\\\\.\\\\d+\\\\.\\\\d+\\\\.\\\\d+$', "
        f"concat('::ffff:', __p), __p)), __q -> "
        f"transform(array({v4fold}), __u -> "
        f"transform(array({groups}), __gs -> "
        f"IF(size(__gs) = 8 "
        f"AND length(__u) - length(replace(__u, '::', '')) <= 2 "
        f"AND forall(__gs, __g -> __g RLIKE '^[0-9a-f]{{1,4}}$'), "
        f"concat_ws(':', transform(__gs, __g -> lpad(__g, 4, '0'))), "
        f"CAST(NULL AS STRING))"
        f")[0])[0])[0])[0]"
    )


#: properly-delimited IPv4 literals inside free text — Kusto requires
#: NON-ALPHANUMERIC delimiters ('a1.2.3.4' does not match) and valid
#: octets; the look-arounds also reject '1.2.3.4.5' tails
_KQL_IPV4_EXTRACT = (
    "regexp_extract_all({s}, "
    "'(?<![0-9A-Za-z.])((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    "\\\\.){{3}}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    "(?![0-9A-Za-z.])', 0)"
)


def _kql_ipv4_is_match(a: list[str]) -> str:
    """ipv4_is_match(a, b[, prefix]): prefix-equality where the effective
    prefix is the MINIMUM of the explicit arg and both '/len' suffixes
    (same combining rule as ipv6_is_match; default 32)."""
    if len(a) < 2 or len(a) > 3:
        raise KqlError("ipv4_is_match takes (ip1, ip2[, prefix])")
    n1 = _ipv4_num(f"element_at(split({a[0]}, '/'), 1)")
    n2 = _ipv4_num(f"element_at(split({a[1]}, '/'), 1)")
    pfx = (
        f"CAST(least(coalesce({a[2] if len(a) > 2 else 'NULL'}, 32), "
        f"coalesce(try_cast(try_element_at(split({a[0]}, '/'), 2) "
        f"AS INT), 32), "
        f"coalesce(try_cast(try_element_at(split({a[1]}, '/'), 2) "
        f"AS INT), 32)) AS INT)"
    )
    return (
        f"transform(array(named_struct('x', {n1}, 'y', {n2}, 'p', {pfx})), "
        f"__t -> shiftright(__t.x, 32 - __t.p) = "
        f"shiftright(__t.y, 32 - __t.p))[0]"
    )


def _kql_parse_ipv6_mask(a: list[str]) -> str:
    """parse_ipv6_mask(ip, prefix): the canonical zero-padded form with
    the host bits zeroed — whole nibbles kept, the partial nibble
    floor-masked, the rest '0', re-grouped 4-by-4 with colons."""
    if len(a) != 2:
        raise KqlError("parse_ipv6_mask takes (ip, prefix)")
    canon = _ipv6_canon_sql(f"element_at(split({a[0]}, '/'), 1)")
    pfx = (
        f"CAST(least(coalesce({a[1]}, 128), "
        f"coalesce(try_cast(try_element_at(split({a[0]}, '/'), 2) "
        f"AS INT), 128)) AS INT)"
    )
    masked = (
        "array_join(transform(sequence(1, 32), __ni -> "
        "CASE WHEN __ni <= CAST(floor(__t.p / 4) AS INT) "
        "THEN substring(__t.h, __ni, 1) "
        "WHEN __ni = CAST(floor(__t.p / 4) AS INT) + 1 AND __t.p % 4 != 0 "
        "THEN substring('0123456789abcdef', CAST(floor("
        "CAST(conv(substring(__t.h, __ni, 1), 16, 10) AS INT) "
        "/ pow(2, 4 - __t.p % 4)) * pow(2, 4 - __t.p % 4) AS INT) + 1, 1) "
        "ELSE '0' END), '')"
    )
    return (
        f"transform(array(named_struct("
        f"'h', replace({canon}, ':', ''), 'p', {pfx})), __t -> "
        f"array_join(transform(sequence(0, 7), __g -> "
        f"substring({masked}, 4 * __g + 1, 4)), ':'))[0]"
    )


def _kql_ipv6_is_match(a: list[str]) -> str:
    """ipv6_is_match(a, b[, prefix]): equality of the first `prefix` bits
    of the canonical forms, where the effective prefix is the MINIMUM of
    the explicit arg and any '/len' suffix on either side (Kusto
    semantics; default 128).  Bit prefixes compare as floor-shifted
    nibbles over the joined hex digits."""
    if len(a) < 2 or len(a) > 3:
        raise KqlError("ipv6_is_match takes (ip1, ip2[, prefix])")

    def strip_len(s: str) -> str:
        return (
            f"element_at(split({s}, '/'), 1)"
        )

    # Kusto combines the explicit prefix arg AND both '/len' suffixes as
    # the MINIMUM (a first-non-null coalesce compared 64 bits for
    # ('x/64','y/48') instead of 48 — advice r11)
    pfx = (
        f"CAST(least(coalesce({a[2] if len(a) > 2 else 'NULL'}, 128), "
        f"coalesce(try_cast(try_element_at(split({a[0]}, '/'), 2) "
        f"AS INT), 128), "
        f"coalesce(try_cast(try_element_at(split({a[1]}, '/'), 2) "
        f"AS INT), 128)) AS INT)"
    )
    c1 = _ipv6_canon_sql(strip_len(a[0]))
    c2 = _ipv6_canon_sql(strip_len(a[1]))
    # compare whole nibbles then the partial nibble (floor-shift)
    return (
        f"transform(array(named_struct("
        f"'h1', replace({c1}, ':', ''), 'h2', replace({c2}, ':', ''), "
        f"'p', {pfx})), __m -> "
        f"IF(__m.h1 IS NULL OR __m.h2 IS NULL, CAST(NULL AS BOOLEAN), "
        f"substring(__m.h1, 1, CAST(__m.p / 4 AS INT)) "
        f"= substring(__m.h2, 1, CAST(__m.p / 4 AS INT)) "
        f"AND (__m.p % 4 = 0 OR "
        f"CAST(floor(conv(substring(__m.h1, CAST(__m.p / 4 AS INT) + 1, 1), "
        f"16, 10) / pow(2, 4 - __m.p % 4)) AS INT) "
        f"= CAST(floor(conv(substring(__m.h2, CAST(__m.p / 4 AS INT) + 1, 1), "
        f"16, 10) / pow(2, 4 - __m.p % 4)) AS INT))))[0]"
    )


def _literal_int(tok: str, what: str) -> int:
    """Coerce a transpiler token that MUST be an integer literal (it sizes a
    codegen unroll); a non-literal arg is a KqlError naming the limitation,
    not a raw ValueError (advice r10)."""
    try:
        return int(str(tok).strip())
    except (TypeError, ValueError):
        raise KqlError(
            f"{what} must be an integer LITERAL (it sizes the generated "
            f"expression at transpile time), got {tok!r}"
        ) from None


def _kql_make_timespan(a: list[str]) -> str:
    """make_timespan → seconds; the three documented Kusto overloads
    (day,h,m,s) / (h,m,s) / (h,m).  Any other arity is a KqlError, not an
    IndexError (advice r10)."""
    if len(a) == 4:
        return (
            f"(CAST({a[0]} AS BIGINT) * 86400 + CAST({a[1]} AS BIGINT) * 3600 "
            f"+ CAST({a[2]} AS BIGINT) * 60 + CAST({a[3]} AS DOUBLE))"
        )
    if len(a) == 3:
        return (
            f"(CAST({a[0]} AS BIGINT) * 3600 "
            f"+ CAST({a[1]} AS BIGINT) * 60 + CAST({a[2]} AS DOUBLE))"
        )
    if len(a) == 2:
        return (
            f"CAST((CAST({a[0]} AS BIGINT) * 3600 "
            f"+ CAST({a[1]} AS BIGINT) * 60) AS DOUBLE)"
        )
    raise KqlError(
        "make_timespan takes (day, hour, minute, second), (hour, minute, "
        f"second) or (hour, minute) — got {len(a)} argument(s)"
    )


def _kql_format_timespan(a: list[str]) -> str:
    """format_timespan(seconds, fmt) — the two canonical patterns;
    non-negative timespans (negative inputs mis-pad — Kusto prints a
    leading '-'; take abs() first)."""
    if len(a) != 2:
        raise KqlError("format_timespan(timespan, format) takes 2 args")
    fmt = a[1].strip().strip("'\"")
    t = f"CAST({a[0]} AS BIGINT)"
    two = "lpad(CAST({v} AS STRING), 2, '0')"
    if fmt == "d.hh:mm:ss":
        return (
            f"concat(CAST({t} DIV 86400 AS STRING), '.', "
            + two.format(v=f"{t} % 86400 DIV 3600")
            + ", ':', " + two.format(v=f"{t} % 3600 DIV 60")
            + ", ':', " + two.format(v=f"{t} % 60") + ")"
        )
    if fmt == "hh:mm:ss":
        return (
            "concat("
            + two.format(v=f"{t} DIV 3600")
            + ", ':', " + two.format(v=f"{t} % 3600 DIV 60")
            + ", ':', " + two.format(v=f"{t} % 60") + ")"
        )
    raise KqlError(
        "format_timespan subset: format must be 'd.hh:mm:ss' or "
        f"'hh:mm:ss', got {fmt!r}"
    )


def _kql_has_any_index(a: list[str]) -> str:
    """has_any_index(source, list) → 0-based index of the FIRST list item
    that occurs as a whole term in source, -1 when none (Kusto contract;
    term = maximal alnum run, the same rule as bare `has`)."""
    src, lst = a[0], a[1]
    return (
        f"coalesce(try_element_at(filter(transform({lst}, (__t, __i) -> "
        f"named_struct('i', __i, 'ok', "
        f"array_contains(split(lower({src}), '[^a-z0-9]+'), "
        f"lower(CAST(__t AS STRING))))), __s -> __s.ok), 1).i, -1)"
    )


def _kql_geo_polygon(a: list[str]) -> str:
    """geo_point_in_polygon(lon, lat, dynamic({GeoJSON Polygon})) —
    even-odd ray casting with the polygon parsed at TRANSPILE time (the
    Kusto calling convention requires a literal), so the edge tests
    unroll into codegen'd comparisons: no arrays, no UDF, no shuffle
    (the functions/geo.py pointInPolygon discipline, shared arithmetic).
    Subset: single outer ring (holes raise); boundary points follow the
    strict `<` convention."""
    import json as _json

    if len(a) != 3:
        raise KqlError(
            "geo_point_in_polygon(lon, lat, dynamic({GeoJSON})) takes 3 args"
        )
    m = re.match(r"(?is)^dynamic\s*\((.+)\)\s*$", a[2].strip())
    if not m:
        raise KqlError(
            "geo_point_in_polygon: the polygon must be a dynamic({...}) "
            f"LITERAL (Kusto's own convention), got {a[2]!r}"
        )
    try:
        gj = _json.loads(m.group(1))
    except ValueError as exc:
        raise KqlError(f"geo_point_in_polygon: bad GeoJSON literal: {exc}")
    if not isinstance(gj, dict) or gj.get("type") != "Polygon":
        raise KqlError(
            "geo_point_in_polygon subset: GeoJSON type must be 'Polygon'"
        )
    rings = gj.get("coordinates") or []
    if len(rings) != 1:
        raise KqlError(
            "geo_point_in_polygon subset: exactly one outer ring (holes "
            "are not supported)"
        )
    poly = [(float(p[0]), float(p[1])) for p in rings[0]]
    # GeoJSON closes the ring explicitly — drop the repeated last vertex
    if len(poly) > 1 and poly[0] == poly[-1]:
        poly = poly[:-1]
    if len(poly) < 3:
        raise KqlError("geo_point_in_polygon: ring needs >= 3 vertices")
    hits = []
    for i in range(len(poly)):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % len(poly)]
        straddles = f"(({y1!r} > __p.y) != ({y2!r} > __p.y))"
        if y2 != y1:
            cross = (
                f"({x1!r} + (__p.y - {y1!r}) * {(x2 - x1)!r} "
                f"/ {(y2 - y1)!r})"
            )
        else:
            cross = "CAST('Infinity' AS DOUBLE)"
        hits.append(f"IF({straddles} AND __p.x < {cross}, 1, 0)")
    return (
        f"transform(array(named_struct('x', CAST({a[0]} AS DOUBLE), "
        f"'y', CAST({a[1]} AS DOUBLE))), "
        f"__p -> ({' + '.join(hits)}) % 2 = 1)[0]"
    )


def _kql_geo_line_length(a: list[str]) -> str:
    """geo_line_length(dynamic({GeoJSON LineString})) — sum of the
    haversine segment lengths, the LineString parsed at TRANSPILE time
    (literal subset, the geo_point_in_polygon convention) so the segment
    sum constant-folds into one codegen'd expression.  Same R=6371 km
    sphere deviation as geo_distance_2points."""
    import json as _json

    if len(a) != 1:
        raise KqlError("geo_line_length(dynamic({GeoJSON})) takes 1 arg")
    m = re.match(r"(?is)^dynamic\s*\((.+)\)\s*$", a[0].strip())
    if not m:
        raise KqlError(
            "geo_line_length: the line must be a dynamic({...}) LITERAL"
        )
    try:
        gj = _json.loads(m.group(1))
    except ValueError as exc:
        raise KqlError(f"geo_line_length: bad GeoJSON literal: {exc}")
    if not isinstance(gj, dict) or gj.get("type") != "LineString":
        raise KqlError(
            "geo_line_length subset: GeoJSON type must be 'LineString'"
        )
    pts = [(float(p[0]), float(p[1])) for p in (gj.get("coordinates") or [])]
    if len(pts) < 2:
        raise KqlError("geo_line_length: LineString needs >= 2 vertices")
    segs = [
        _kql_geo_distance(
            [repr(x1), repr(y1), repr(x2), repr(y2)]
        )
        for (x1, y1), (x2, y2) in zip(pts, pts[1:])
    ]
    return "(" + " + ".join(segs) + ")"


def _kql_geo_distance(a: list[str]) -> str:
    """geo_distance_2points(lon1, lat1, lon2, lat2) — haversine meters on
    the R=6371 km sphere (deviation: Kusto computes WGS84 geodesics —
    ≤0.5% apart; the spherical form is the engine-portable closed form)."""
    lon1, lat1, lon2, lat2 = a
    return (
        f"(2 * 6371000.0D * asin(least(1.0D, sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) "
        f"+ cos(radians({lat1})) * cos(radians({lat2})) "
        f"* pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))))"
    )


def _kql_parse_url(a: list[str]) -> str:
    """parse_url(u) → STRUCT(Scheme, Host, Port, Path, Username, Password,
    Fragment) via Spark's parse_url parts (subset: the 'Query Parameters'
    bag is omitted — use extract/parse-kv on the query string)."""
    u = a[0]
    return (
        "named_struct("
        f"'Scheme', coalesce(parse_url({u}, 'PROTOCOL'), ''), "
        f"'Host', coalesce(parse_url({u}, 'HOST'), ''), "
        f"'Port', regexp_extract(coalesce(parse_url({u}, 'AUTHORITY'), ''), "
        f"':([0-9]+)$', 1), "
        f"'Path', coalesce(parse_url({u}, 'PATH'), ''), "
        f"'Username', coalesce(split_part(parse_url({u}, 'USERINFO'), "
        f"':', 1), ''), "
        f"'Password', coalesce(split_part(parse_url({u}, 'USERINFO'), "
        f"':', 2), ''), "
        f"'Fragment', coalesce(parse_url({u}, 'REF'), ''))"
    )


def _kql_parse_path(a: list[str]) -> str:
    """parse_path(p) → STRUCT(DirectoryPath, Filename, Extension) — the
    portable subset of Kusto's fields ('/' and '\\\\' separators both)."""
    fn = f"element_at(split({a[0]}, '[/\\\\\\\\]'), -1)"
    return (
        f"transform(array(named_struct('p', {a[0]}, 'fn', {fn})), "
        "__t -> named_struct("
        "'DirectoryPath', substring(__t.p, 1, "
        "greatest(length(__t.p) - length(__t.fn) - 1, 0)), "
        "'Filename', __t.fn, "
        "'Extension', if(instr(__t.fn, '.') > 0, "
        "element_at(split(__t.fn, '\\\\.'), -1), '')))[0]"
    )


def _kql_pearson(a: list[str]) -> str:
    """series_pearson_correlation(x, y) — closed form over the zipped pair."""
    x, y = a[0], a[1]
    sxy = (
        f"aggregate(zip_with({x}, {y}, (__u, __v) -> "
        f"CAST(__u AS DOUBLE) * CAST(__v AS DOUBLE)), "
        f"0.0D, (__a, __e) -> __a + __e)"
    )
    sq = "aggregate({s}, 0.0D, (__a, __x) -> __a + CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))"
    lvl1 = (
        f"named_struct('n', CAST(size({x}) AS DOUBLE), "
        f"'sx', {_ser_sum(x)}, 'sy', {_ser_sum(y)}, "
        f"'sxx', {sq.format(s=x)}, 'syy', {sq.format(s=y)}, 'sxy', {sxy})"
    )
    return (
        f"transform(array({lvl1}), __t -> "
        f"(__t.n * __t.sxy - __t.sx * __t.sy) / "
        f"(sqrt(__t.n * __t.sxx - __t.sx * __t.sx) * "
        f"sqrt(__t.n * __t.syy - __t.sy * __t.sy)))[0]"
    )


#: Kusto scalar-function vocabulary → Spark SQL builders.  Each takes the
#: split argument list; builders that share a name with a SQL form bail out
#: (reconstruct the original) on arity mismatch.
_KQL_SCALARS: dict = {
    "strcat": lambda a: f"concat({', '.join(a)})",
    "strcat_delim": lambda a: f"concat_ws({', '.join(a)})",
    "iff": lambda a: f"if({', '.join(a)})",
    "iif": lambda a: f"if({', '.join(a)})",
    "case": _kql_case,
    "isempty": lambda a: f"(coalesce(CAST({a[0]} AS STRING), '') = '')",
    "isnotempty": lambda a: f"(coalesce(CAST({a[0]} AS STRING), '') <> '')",
    "isnull": lambda a: f"(({a[0]}) IS NULL)",
    "isnotnull": lambda a: f"(({a[0]}) IS NOT NULL)",
    "strlen": lambda a: f"length({a[0]})",
    "tolower": lambda a: f"lower({a[0]})",
    "toupper": lambda a: f"upper({a[0]})",
    # Kusto substring is 0-based; SQL substr is 1-based
    "substring": lambda a: (
        f"substr({a[0]}, ({a[1]}) + 1" + (f", {a[2]}" if len(a) > 2 else "") + ")"
    ),
    # 0-based, -1 when missing (locate is 1-based, 0 when missing)
    "indexof": lambda a: f"(locate({a[1]}, {a[0]}) - 1)",
    # countof(source, search[, kind]): kind='normal' (plain, the default)
    # or 'regex' (Kusto's regex-count form → regexp_count)
    "countof": lambda a: (
        f"CAST(regexp_count({a[0]}, {a[1]}) AS BIGINT)"
        if len(a) > 2 and a[2].strip().strip("'").lower() == "regex"
        else (
            f"CAST((length({a[0]}) - length(replace({a[0]}, {a[1]}, ''))) "
            f"/ length({a[1]}) AS BIGINT)"
        )
    ),
    # Kusto extract(regex, captureGroup, source); SQL extract(YEAR FROM x)
    # passes through untouched via the arity bail-out
    "extract_all": _kql_extract_all,
    "extract": lambda a: (
        f"regexp_extract({a[2]}, {a[0]}, {a[1]})" if len(a) == 3
        else _keep("extract", a)
    ),
    "replace_string": lambda a: f"replace({a[0]}, {a[1]}, {a[2]})",
    "replace_regex": lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
    # Kusto split takes a LITERAL delimiter; Spark's is a regex — escape
    # quoted literals so metacharacters split literally (backslashes doubled
    # again for the SQL string-literal layer)
    "split": lambda a: (
        f"split({a[0]}, "
        f"'{re.escape(_quoted(a[1])).replace(chr(92), chr(92) * 2)}')"
        if len(a) == 2 and _quoted(a[1]) is not None
        else _keep("split", a)
    ),
    "tostring": lambda a: f"CAST({a[0]} AS STRING)",
    "toint": lambda a: f"try_cast({a[0]} AS INT)",
    "tolong": lambda a: f"try_cast({a[0]} AS BIGINT)",
    "todouble": lambda a: f"try_cast({a[0]} AS DOUBLE)",
    "toreal": lambda a: f"try_cast({a[0]} AS DOUBLE)",
    "tobool": lambda a: f"try_cast({a[0]} AS BOOLEAN)",
    "array_length": lambda a: f"size({a[0]})",
    # NB: args arrive re-split on the commas INSIDE the [...] (the splitter
    # tracks parens, not brackets) — rejoin before unwrapping
    "dynamic": lambda a: (
        f"array({', '.join(a).strip()[1:-1]})"
        if a and ", ".join(a).strip().startswith("[")
        and ", ".join(a).strip().endswith("]")
        else _keep("dynamic", a)
    ),
    # dynamic/array vocabulary
    "pack_array": lambda a: f"array({', '.join(a)})",
    "array_concat": lambda a: f"concat({', '.join(a)})",
    "strcat_array": lambda a: f"array_join({a[0]}, {a[1]})",
    # NB: array_sort_asc/desc and array_slice live in the later vocab
    # section (the negative-wrap array_slice is the faithful one) — the
    # duplicate-key AST gate (tests/test_rewrite_order.py) keeps this
    # table single-sourced
    "set_union": lambda a: f"array_union({a[0]}, {a[1]})",
    "set_intersect": lambda a: f"array_intersect({a[0]}, {a[1]})",
    "set_difference": lambda a: f"array_except({a[0]}, {a[1]})",
    # Kusto array_index_of is 0-based, -1 when missing
    "array_index_of": lambda a: f"(array_position({a[0]}, {a[1]}) - 1)",
    "bag_pack": lambda a: f"map({', '.join(a)})",
    "bag_keys": lambda a: f"map_keys({a[0]})",
    "todatetime": lambda a: f"try_to_timestamp({a[0]})",
    "now": lambda a: "current_timestamp()",
    "ago": lambda a: (
        f"(current_timestamp() - INTERVAL {_ts_secs(a[0])} SECOND)"
        if len(a) == 1 and _ts_secs(a[0]) is not None
        else (_ for _ in ()).throw(KqlError("ago(timespan) needs Ns/m/h/d"))
    ),
    "startofday": lambda a: f"date_trunc('DAY', {a[0]})",
    # Kusto weeks start Sunday; Spark's WEEK truncation starts Monday
    "startofweek": lambda a: (
        f"(date_trunc('WEEK', ({a[0]}) + INTERVAL 1 DAY) - INTERVAL 1 DAY)"
    ),
    # endofweek mirrors startofweek (Kusto weeks start Sunday): last
    # microsecond of the Sunday-based week containing dt
    "endofweek": lambda a: (
        f"(date_trunc('WEEK', ({a[0]}) + INTERVAL 1 DAY) + INTERVAL 6 DAY "
        "- INTERVAL 1 MICROSECOND)"
    ),
    # dayofweek: Kusto returns the timespan since the preceding Sunday —
    # the seconds-based timespan convention of this dialect (whole days
    # × 86400); Spark's dayofweek is 1=Sunday
    "dayofweek": lambda a: (
        f"CAST((dayofweek({a[0]}) - 1) * 86400 AS BIGINT)"
    ),
    # make_timespan(d, h, m, s) / (h, m, s) / (h, m) → seconds (the
    # dialect's timespan representation; all three documented Kusto
    # overloads — advice r10 added the 2-arg form)
    "make_timespan": lambda a: _kql_make_timespan(a),
    "startofmonth": lambda a: f"date_trunc('MONTH', {a[0]})",
    "startofyear": lambda a: f"date_trunc('YEAR', {a[0]})",
    # round-8 datetime vocabulary completions
    "endofmonth": lambda a: (
        f"(date_trunc('MONTH', {a[0]}) + INTERVAL 1 MONTH "
        "- INTERVAL 1 MICROSECOND)"
    ),
    "endofyear": lambda a: (
        f"(date_trunc('YEAR', {a[0]}) + INTERVAL 1 YEAR "
        "- INTERVAL 1 MICROSECOND)"
    ),
    "getyear": lambda a: f"year({a[0]})",
    "getmonth": lambda a: f"month({a[0]})",
    "monthofyear": lambda a: f"month({a[0]})",
    "dayofmonth": lambda a: f"day({a[0]})",
    "dayofyear": lambda a: f"dayofyear({a[0]})",
    "hourofday": lambda a: f"hour({a[0]})",
    # weekofyear BEFORE week_of_year: the latter's rendered output
    # contains the former's name (rewrite-order contract)
    "weekofyear": lambda a: f"CAST(weekofyear({a[0]}) AS BIGINT)",
    "week_of_year": lambda a: f"weekofyear({a[0]})",
    "make_datetime": lambda a: f"make_timestamp({', '.join(a)})",
    # format_datetime: the Kusto pattern subset maps glyph-for-glyph onto
    # Java DateTimeFormatter for yyyy/MM/dd/HH/mm/ss (the common patterns)
    "format_datetime": lambda a: f"date_format({a[0]}, {a[1]})",
    # totimespan('01:02:03') / totimespan(1h) → seconds (DOUBLE); the
    # timespan-literal form is normalized by the literal rewrite below
    "totimespan": lambda a: (
        f"(CAST(split({a[0]}, ':')[0] AS DOUBLE) * 3600 "
        f"+ CAST(split({a[0]}, ':')[1] AS DOUBLE) * 60 "
        f"+ CAST(split({a[0]}, ':')[2] AS DOUBLE))"
    ),
    "datetime_part": lambda a: (
        f"extract({a[0].strip().strip(chr(39)).upper()} FROM {a[1]})"
    ),
    # Kusto endofday = 23:59:59.9999999 (100ns ticks); microsecond precision
    # here — documented deviation at the last decimal digit
    "endofday": lambda a: (
        f"(date_trunc('DAY', {a[0]}) + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND)"
    ),
    "datetime_add": lambda a: (
        f"timestampadd({_kql_dt_unit(a[0], 'datetime_add')}, {a[1]}, {a[2]})"
    ),
    # Kusto datetime_diff(period, d1, d2) = d1 - d2 in period units;
    # timestampdiff(unit, start, end) = end - start → operands swap
    "datetime_diff": lambda a: (
        f"timestampdiff({_kql_dt_unit(a[0], 'datetime_diff')}, {a[2]}, {a[1]})"
    ),
    "bin_at": _kql_bin_at,
    # typed literals: real(null) / long(null) / real(4.5) — the Kusto
    # typed-null and typed-number forms; real also carries the IEEE
    # specials real(+inf) / real(-inf) / real(nan)
    "real": lambda a: (
        "CAST('Infinity' AS DOUBLE)"
        if a[0].strip().lower() in ("+inf", "inf")
        else "CAST('-Infinity' AS DOUBLE)"
        if a[0].strip().lower() == "-inf"
        else "CAST('NaN' AS DOUBLE)"
        if a[0].strip().lower() == "nan"
        else f"CAST({a[0]} AS DOUBLE)"
    ),
    "long": lambda a: f"CAST({a[0]} AS BIGINT)",
    # --- series_* time-series vocabulary (round 8) — all zero-shuffle
    # array combinators over make-series outputs ---
    "series_add": _series_binop("+"),
    "series_subtract": _series_binop("-"),
    "series_multiply": _series_binop("*"),
    "series_divide": _series_binop("/"),
    "series_greater": _series_binop(">"),
    "series_greater_equals": _series_binop(">="),
    "series_less": _series_binop("<"),
    "series_less_equals": _series_binop("<="),
    "series_equals": _series_binop("="),
    "series_not_equals": _series_binop("<>"),
    "series_abs": _series_map("abs({x})"),
    "series_sign": _series_map("CAST(sign({x}) AS DOUBLE)"),
    "series_exp": _series_map("exp({x})"),
    "series_log": _series_map("ln({x})"),
    "series_sqrt": _series_map("sqrt({x})"),
    "series_pow": lambda a: (
        f"transform({a[0]}, __x -> power(CAST(__x AS DOUBLE), {a[1]}))"
    ),
    "series_sum": lambda a: _ser_sum(a[0]),
    "series_avg": lambda a: (
        f"({_ser_sum(a[0])} / CAST({_ser_nnz(a[0])} AS DOUBLE))"
    ),
    "series_min": lambda a: f"CAST(array_min({a[0]}) AS DOUBLE)",
    "series_max": lambda a: f"CAST(array_max({a[0]}) AS DOUBLE)",
    "series_stats_dynamic": _kql_series_stats,
    # series_stats returns a tuple for multi-assignment in Kusto; here the
    # same STRUCT as the _dynamic form (project fields — the fit_line rule)
    "series_stats": _kql_series_stats,
    "series_fill_const": lambda a: (
        f"transform({a[0]}, __x -> coalesce(CAST(__x AS DOUBLE), "
        f"CAST({a[1]} AS DOUBLE)))"
    ),
    "series_fill_forward": lambda a: _ser_ffill(a[0]),
    "series_fill_backward": lambda a: (
        f"reverse({_ser_ffill(f'reverse({a[0]})')})"
    ),
    "series_fill_linear": _kql_fill_linear,
    "series_fit_line_dynamic": _kql_fit_line,
    "series_fit_line": _kql_fit_line,
    "series_fit_2lines_dynamic": _kql_fit_2lines,
    "series_fit_2lines": _kql_fit_2lines,
    "series_pearson_correlation": _kql_pearson,
    "series_decompose_anomalies": _kql_series_anomalies,
    "series_decompose_forecast": _kql_series_forecast,
    "series_decompose": _kql_series_decompose,
    "series_seasonal": _kql_series_seasonal,
    "series_outliers": _kql_series_outliers,
    "series_fir": _kql_series_fir,
    "series_iir": _kql_series_iir,
    # subset: the dominant period only (Kusto returns (periods, scores)
    # dynamic arrays); lowers to the Arrow FFT kernel registered by the
    # engine under its ClickHouse name (functions/series_fft.py)
    "series_periods_detect": lambda a: f"seriesPeriodDetectFFT({a[0]})",
    # round-9 series vector math (all zero-exchange array folds)
    "series_dot_product": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v)"
    ),
    "series_magnitude": lambda a: (
        f"sqrt(aggregate(transform({a[0]}, __x -> "
        f"CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v))"
    ),
    # sum of squares = magnitude² — same null-skipping fold (round 13)
    "series_sum2": lambda a: (
        f"aggregate(transform({a[0]}, __x -> "
        f"coalesce(CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE), 0.0D)), "
        f"0.0D, (__s, __v) -> __s + __v)"
    ),
    # cosine over the zipped pair; either zero magnitude → 0 (Kusto)
    "series_cosine_similarity": lambda a: (
        f"transform(array(named_struct("
        f"'d', aggregate(zip_with({a[0]}, {a[1]}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v), "
        f"'m1', sqrt(aggregate(transform({a[0]}, __x -> "
        f"CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v)), "
        f"'m2', sqrt(aggregate(transform({a[1]}, __x -> "
        f"CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v)))), "
        f"__t -> IF(__t.m1 = 0 OR __t.m2 = 0, 0.0D, "
        f"__t.d / (__t.m1 * __t.m2)))[0]"
    ),
    "series_floor": lambda a: (
        f"transform({a[0]}, __x -> floor(CAST(__x AS DOUBLE)))"
    ),
    "series_ceiling": lambda a: (
        f"transform({a[0]}, __x -> ceiling(CAST(__x AS DOUBLE)))"
    ),
    "array_sum": lambda a: (
        f"aggregate({a[0]}, 0.0D, (__s, __v) -> __s + CAST(__v AS DOUBLE))"
    ),
    "array_avg": lambda a: (
        f"(aggregate({a[0]}, 0.0D, (__s, __v) -> __s + CAST(__v AS DOUBLE)) "
        f"/ nullif(size({a[0]}), 0))"
    ),
    "array_rotate_left": lambda a: (
        f"concat(slice({a[0]}, pmod({a[1]}, size({a[0]})) + 1, "
        f"size({a[0]}) - pmod({a[1]}, size({a[0]}))), "
        f"slice({a[0]}, 1, pmod({a[1]}, size({a[0]}))))"
    ),
    # rotate_right(arr, n) = rotate_left(arr, -n); pmod folds negatives
    "array_rotate_right": lambda a: (
        f"concat(slice({a[0]}, pmod(-({a[1]}), size({a[0]})) + 1, "
        f"size({a[0]}) - pmod(-({a[1]}), size({a[0]}))), "
        f"slice({a[0]}, 1, pmod(-({a[1]}), size({a[0]}))))"
    ),
    # the IDNA-domain punycode pair rides the registered stdlib-codec
    # kernels (functions/text.py) — per-label xn-- decode/encode
    "punycode_domain_from_string": lambda a: f"idnaDecode({a[0]})",
    "punycode_domain_to_string": lambda a: f"idnaEncode({a[0]})",
    # Kusto-faithful shifts (round-9 advice fix): the count is clamped to
    # [0, size] (over-shift → full fill, no negative-slice runtime error)
    # and a negative count shifts the OTHER direction; vacated slots fill
    # with typed NULLs (or the optional fill value)
    "array_shift_left": lambda a: _kql_array_shift(a, right=False),
    "array_shift_right": lambda a: _kql_array_shift(a, right=True),
    "jaccard_index": lambda a: (
        f"(CAST(size(array_intersect({a[0]}, {a[1]})) AS DOUBLE) "
        f"/ nullif(size(array_union({a[0]}, {a[1]})), 0))"
    ),
    # zip: Kusto emits an array of 2-element arrays — the same-type subset
    "zip": lambda a: (
        f"zip_with({a[0]}, {a[1]}, (__x, __y) -> array(__x, __y))"
    ),
    # round-9 log-analytics scalar batch
    "format_bytes": _kql_format_bytes,
    "parse_version": _kql_parse_version,
    # the user regex is wrapped in a non-capturing group BEFORE anchoring
    # (round-9 advice fix): '^a|b' must mean '^(?:a|b)', not (^a)|(b) —
    # an ungrouped alternative would strip every standalone match anywhere
    # in the string
    "trim_start": lambda a: (
        f"regexp_replace({a[1]}, concat('^(?:', {a[0]}, ')'), '')"
    ),
    "trim_end": lambda a: (
        f"regexp_replace({a[1]}, concat('(?:', {a[0]}, ')$'), '')"
    ),
    # round-10 scalar batch 4: codecs / hashes / binary math / unixtime /
    # the 2023 unit-converter family
    "base64_encode_tostring": lambda a: f"base64({a[0]})",
    "base64_decode_tostring": lambda a: (
        f"CAST(unbase64({a[0]}) AS STRING)"
    ),
    "hash_sha256": lambda a: f"sha2({a[0]}, 256)",
    "hash_sha1": lambda a: f"sha1({a[0]})",
    "hash_md5": lambda a: f"md5({a[0]})",
    "indexof_regex": lambda a: f"(regexp_instr({a[0]}, {a[1]}) - 1)",
    "extract_json": lambda a: f"get_json_object({a[1]}, {a[0]})",
    "new_guid": lambda a: "uuid()",
    "tohex": lambda a: f"lower(hex({a[0]}))",
    "binary_and": lambda a: f"({a[0]} & {a[1]})",
    "binary_or": lambda a: f"({a[0]} | {a[1]})",
    "binary_xor": lambda a: f"({a[0]} ^ {a[1]})",
    "binary_not": lambda a: f"(~CAST({a[0]} AS BIGINT))",
    "binary_shift_left": lambda a: (
        f"shiftleft(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT))"
    ),
    "binary_shift_right": lambda a: (
        f"shiftright(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT))"
    ),
    "bitset_count_ones": lambda a: f"CAST(bit_count({a[0]}) AS BIGINT)",
    "strcmp": lambda a: (
        f"CAST(CASE WHEN {a[0]} < {a[1]} THEN -1 "
        f"WHEN {a[0]} = {a[1]} THEN 0 ELSE 1 END AS BIGINT)"
    ),
    "string_size": lambda a: f"CAST(octet_length({a[0]}) AS BIGINT)",
    # Kusto repeat(value, count) returns a dynamic ARRAY — must rewrite
    # BEFORE strrep, whose OUTPUT is Spark's string repeat( and would be
    # re-captured by this rule if it ran later (the rewrite loop mutates
    # the text in dict order)
    "repeat": lambda a: f"array_repeat({a[0]}, CAST({a[1]} AS INT))",
    "strrep": lambda a: f"repeat({a[0]}, CAST({a[1]} AS INT))",
    "unixtime_seconds_todatetime": lambda a: (
        f"to_timestamp(CAST({a[0]} AS DOUBLE))"
    ),
    "unixtime_milliseconds_todatetime": lambda a: (
        f"timestamp_millis(CAST({a[0]} AS BIGINT))"
    ),
    "unixtime_microseconds_todatetime": lambda a: (
        f"timestamp_micros(CAST({a[0]} AS BIGINT))"
    ),
    "isascii": lambda a: (
        f"({a[0]} RLIKE '^[\\\\x00-\\\\x7F]*$')"
    ),
    # array_iff(cond_arr, when_true, when_false): element-wise selection
    "array_iff": lambda a: (
        f"zip_with({a[0]}, zip_with({a[1]}, {a[2]}, "
        f"(__l, __r) -> named_struct('l', __l, 'r', __r)), "
        f"(__c, __p) -> IF(__c, __p.l, __p.r))"
    ),
    "array_ifs": lambda a: (
        f"zip_with({a[0]}, zip_with({a[1]}, {a[2]}, "
        f"(__l, __r) -> named_struct('l', __l, 'r', __r)), "
        f"(__c, __p) -> IF(__c, __p.l, __p.r))"
    ),
    # scalar range(start, stop[, step]) — inclusive dynamic array (the
    # SOURCE operator `range x from ...` is parsed separately)
    "range": lambda a: (
        f"sequence(CAST({a[0]} AS BIGINT), CAST({a[1]} AS BIGINT)"
        + (f", CAST({a[2]} AS BIGINT)" if len(a) > 2 else "")
        + ")"
    ),
    "convert_angle": _kql_convert("angle"),
    "convert_length": _kql_convert("length"),
    "convert_mass": _kql_convert("mass"),
    "convert_speed": _kql_convert("speed"),
    "convert_volume": _kql_convert("volume"),
    "convert_energy": _kql_convert("energy"),
    "convert_temperature": _kql_convert_temperature,
    "ipv4_is_private": _kql_ipv4_is_private,
    "ipv4_is_in_range": _kql_ipv4_in_range,
    # dcount_hll(h): estimate a summarize-produced hll() sketch — the
    # scalar half of the Kusto HLL pair (see _agg_expr)
    "dcount_hll": lambda a: f"hll_sketch_estimate({a[0]})",
    # dcount_intersect(h1, h2[, h3]): intersection cardinality by
    # inclusion-exclusion over HLL sketches (|A∩B| = A + B − |A∪B|;
    # three-way adds the pairwise unions back).  Estimates, so small
    # negatives are possible near-disjoint — Kusto behaves the same.
    "dcount_intersect": lambda a: (
        f"(hll_sketch_estimate({a[0]}) + hll_sketch_estimate({a[1]}) "
        f"- hll_sketch_estimate(hll_union({a[0]}, {a[1]})))"
        if len(a) == 2
        else (
            f"(hll_sketch_estimate({a[0]}) + hll_sketch_estimate({a[1]}) "
            f"+ hll_sketch_estimate({a[2]}) "
            f"- hll_sketch_estimate(hll_union({a[0]}, {a[1]})) "
            f"- hll_sketch_estimate(hll_union({a[0]}, {a[2]})) "
            f"- hll_sketch_estimate(hll_union({a[1]}, {a[2]})) "
            f"+ hll_sketch_estimate(hll_union(hll_union({a[0]}, {a[1]}), "
            f"{a[2]})))"
        )
        if len(a) == 3
        else (_ for _ in ()).throw(
            KqlError("dcount_intersect takes 2 or 3 sketches")
        )
    ),
    # round-10 scalar batch 5: the IPv4 parse/format family + indexed
    # term search + set membership (the \bname\s*\( anchor keeps
    # parse_ipv4 from half-matching parse_ipv4_mask)
    "parse_ipv4_mask": _kql_parse_ipv4_mask,
    "parse_ipv4": _kql_parse_ipv4,
    "format_ipv4_mask": _kql_format_ipv4_mask,
    "format_ipv4": _kql_format_ipv4,
    "ipv4_netmask_suffix": lambda a: (
        f"coalesce(try_cast(try_element_at(split({a[0]}, '/'), 2) AS INT), "
        f"32)"
    ),
    "ipv4_compare": _kql_ipv4_compare,
    "has_any_index": _kql_has_any_index,
    "set_has_element": lambda a: f"array_contains({a[0]}, {a[1]})",
    "geo_distance_2points": _kql_geo_distance,
    "geo_point_in_polygon": _kql_geo_polygon,
    "geo_line_length": _kql_geo_line_length,
    # geo_point_in_circle(lon, lat, center_lon, center_lat, radius_m):
    # haversine containment on the same R=6371 km sphere as
    # geo_distance_2points (same ≤0.5% WGS84 deviation, documented there)
    "geo_point_in_circle": lambda a: (
        f"({_kql_geo_distance(a[:4])} <= ({a[4]}))"
    ),
    # geohash pair (round 10): pure JVM interval-halving folds shared
    # with the CH dialect (functions/geo.py); accuracy must be a literal
    # (it sizes the fold), Kusto default 5
    "geo_point_to_geohash": lambda a: _geohash_encode_sql(
        a[0],
        a[1],
        _literal_int(a[2], "geo_point_to_geohash accuracy") if len(a) > 2 else 5,
    ),
    "geo_geohash_to_central_point": lambda a: _geohash_decode_sql(a[0]),
    # round-10 scalar batch 6: runtime type / hashing / float predicates /
    # array editing / bag algebra / URL codecs / regex escaping
    "gettype": lambda a: (
        # Kusto's runtime type names from Spark's typeof() — the common
        # scalar map; every array/map shape is Kusto 'dynamic'
        f"CASE WHEN typeof({a[0]}) IN ('bigint', 'int', 'smallint', "
        f"'tinyint') THEN 'long' "
        f"WHEN typeof({a[0]}) IN ('double', 'float') "
        f"OR typeof({a[0]}) LIKE 'decimal%' THEN 'real' "
        f"WHEN typeof({a[0]}) = 'string' THEN 'string' "
        f"WHEN typeof({a[0]}) = 'boolean' THEN 'bool' "
        f"WHEN typeof({a[0]}) LIKE 'timestamp%' THEN 'datetime' "
        f"WHEN typeof({a[0]}) LIKE 'array%' "
        f"OR typeof({a[0]}) LIKE 'map%' "
        f"OR typeof({a[0]}) LIKE 'struct%' THEN 'dynamic' "
        f"ELSE typeof({a[0]}) END"
    ),
    # hash/hash_combine/hash_many: 64-bit xxhash64 (Kusto documents its
    # hash as xxhash-based; the exact seeds differ — documented deviation,
    # registry checks are determinism/range contracts)
    "hash_combine": lambda a: f"xxhash64({', '.join(a)})",
    "hash_many": lambda a: f"xxhash64({', '.join(a)})",
    "hash": lambda a: (
        f"xxhash64({a[0]})" if len(a) == 1
        else f"pmod(xxhash64({a[0]}), CAST({a[1]} AS BIGINT))"
    ),
    # isnan must precede isfinite: isfinite's OUTPUT contains isnan( and
    # the single-pass rewriter re-captures later rules' names
    # (tests/test_rewrite_order.py enforces this mechanically)
    "isnan": lambda a: f"isnan(CAST({a[0]} AS DOUBLE))",
    "isfinite": lambda a: (
        f"(NOT isnan(CAST({a[0]} AS DOUBLE)) "
        f"AND abs(CAST({a[0]} AS DOUBLE)) != CAST('Infinity' AS DOUBLE))"
    ),
    "isinf": lambda a: (
        f"(abs(CAST({a[0]} AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
    ),
    # isnan passes through to Spark's isnan
    "exp2": lambda a: f"power(2.0D, {a[0]})",
    "exp10": lambda a: f"power(10.0D, {a[0]})",
    "array_sort_asc": lambda a: f"array_sort({a[0]})",
    "array_sort_desc": lambda a: f"reverse(array_sort({a[0]}))",
    # array_slice(arr, start, end): INCLUSIVE 0-based ends, negative
    # wraps from the back (Kusto contract)
    "array_slice": lambda a: (
        f"transform(array(named_struct('a', {a[0]}, "
        f"'s', CAST({a[1]} AS INT), 'e', CAST({a[2]} AS INT))), "
        f"__t -> slice(__t.a, "
        f"greatest(IF(__t.s < 0, size(__t.a) + __t.s, __t.s), 0) + 1, "
        f"greatest(least(IF(__t.e < 0, size(__t.a) + __t.e, __t.e), "
        f"size(__t.a) - 1) "
        f"- greatest(IF(__t.s < 0, size(__t.a) + __t.s, __t.s), 0) + 1, "
        f"0)))[0]"
    ),
    # array_split(arr, index): pair of [0, idx) / [idx, n) halves
    "array_split": lambda a: (
        f"transform(array(named_struct('a', {a[0]}, "
        f"'i', greatest(least(CAST({a[1]} AS INT), size({a[0]})), 0))), "
        f"__t -> array(slice(__t.a, 1, __t.i), "
        f"slice(__t.a, __t.i + 1, size(__t.a) - __t.i)))[0]"
    ),
    # bag_merge: first-wins key union (the make_bag entry-fold idiom —
    # O(k²) in BAG size, never rows)
    "bag_merge": lambda a: (
        f"map_from_entries(aggregate("
        f"concat({', '.join(f'map_entries({b})' for b in a)}), "
        f"slice(map_entries({a[0]}), 1, 0), "
        f"(__acc, __e) -> IF(exists(__acc, __p -> __p.key = __e.key), "
        f"__acc, array_append(__acc, __e))))"
    ),
    "bag_remove_keys": lambda a: (
        f"map_filter({a[0]}, (__k, __v) -> "
        f"NOT array_contains({a[1]}, __k))"
    ),
    # translate(search, replace, text) — Kusto arg order; Spark's is
    # (text, search, replace)
    "translate": lambda a: f"translate({a[2]}, {a[0]}, {a[1]})",
    # url_encode is application/x-www-form-urlencoded in BOTH (space→'+')
    "url_encode_component": lambda a: (
        f"replace(url_encode({a[0]}), '+', '%20')"
    ),
    "url_encode": lambda a: f"url_encode({a[0]})",
    "url_decode": lambda a: f"url_decode({a[0]})",
    # max_of/min_of: variadic scalar extrema, NULLs ignored (both Kusto
    # and Spark greatest/least skip NULL operands)
    "max_of": lambda a: f"greatest({', '.join(a)})",
    "min_of": lambda a: f"least({', '.join(a)})",
    # parse_urlquery: decoded key→value bag of the query string (leading
    # '?' tolerated, valueless keys → empty string) — subset: a flat map,
    # not Kusto's nested {"Query Parameters": ...} wrapper.  Repeated keys
    # (?a=1&a=2, common in real URLs) would crash map_from_entries under
    # Spark's default mapKeyDedupPolicy=EXCEPTION where Kusto tolerates
    # them — same first-occurrence-wins fold as parse-kv below; and
    # split(__p, '=', 2) keeps embedded '=' in values (redirect=a=b).
    "parse_urlquery": lambda a: (
        f"map_from_entries(aggregate(transform(filter(split("
        f"regexp_replace({a[0]}, '^\\\\?', ''), '&'), "
        f"__p -> __p != ''), __p -> named_struct("
        f"'key', url_decode(split(__p, '=', 2)[0]), "
        f"'value', url_decode(coalesce(try_element_at(split(__p, '=', 2), 2), "
        f"'')))), "
        f"CAST(array() AS ARRAY<STRUCT<key: STRING, value: STRING>>), "
        f"(__acc, __e) -> IF(exists(__acc, __a -> __a.key <=> __e.key), "
        f"__acc, concat(__acc, array(__e)))))"
    ),
    # format_timespan subset: seconds input, the two canonical patterns
    # 'd.hh:mm:ss' and 'hh:mm:ss' (hours roll past 24 in the second form)
    "format_timespan": lambda a: _kql_format_timespan(a),
    # parse_csv subset: one quoted-field CSV record → array of fields
    # (double-quote quoting, no embedded escaped quotes) as ONE character
    # fold — O(len) per row, all JVM
    "parse_csv": lambda a: (
        f"transform(array(aggregate(split({a[0]}, ''), "
        f"named_struct('q', false, 'cur', '', "
        f"'out', CAST(array() AS ARRAY<STRING>)), "
        f"(__s, __c) -> CASE "
        f"WHEN __s.q AND __c = '\"' THEN "
        f"named_struct('q', false, 'cur', __s.cur, 'out', __s.out) "
        f"WHEN __s.q THEN "
        f"named_struct('q', true, 'cur', concat(__s.cur, __c), "
        f"'out', __s.out) "
        f"WHEN __c = '\"' THEN "
        f"named_struct('q', true, 'cur', __s.cur, 'out', __s.out) "
        f"WHEN __c = ',' THEN named_struct('q', false, 'cur', '', "
        f"'out', array_append(__s.out, __s.cur)) "
        f"ELSE named_struct('q', false, 'cur', concat(__s.cur, __c), "
        f"'out', __s.out) END, "
        f"__s -> array_append(__s.out, __s.cur))), __r -> __r)[0]"
    ),
    "regex_quote": lambda a: (
        f"regexp_replace({a[0]}, "
        f"'([\\\\\\\\.\\\\*\\\\+\\\\?\\\\^\\\\$\\\\{{\\\\}}\\\\(\\\\)\\\\|"
        f"\\\\[\\\\]])', '\\\\\\\\$1')"
    ),
    "parse_url": _kql_parse_url,
    "parse_path": _kql_parse_path,
    # --- round-11 special-function tier: pure-SQL Lanczos lgamma + the
    #     NR incomplete-beta fold (functions/sqlstats.py) — all JVM
    #     codegen, mixable anywhere, pinned against math.lgamma replays
    "beta_cdf": lambda a: _kql_beta_cdf(a),
    "gamma": lambda a: (
        f"IF(({a[0]}) > 0, exp({_lgamma_sql(a[0])}), CAST(NULL AS DOUBLE))"
    ),
    "loggamma": lambda a: (
        f"IF(({a[0]}) > 0, {_lgamma_sql(a[0])}, CAST(NULL AS DOUBLE))"
    ),
    "welch_test": lambda a: _kql_welch_test(a),
    "binomial_test": lambda a: _kql_binomial_test(a),
    # round-13 closers: unit conversions are Spark builtins; erf/erfc
    # lower to the A&S 26.2.17 rational form as PURE SQL (the identical
    # expression replays in DuckDB — the registered Arrow math.erf
    # kernels stay for the text path, but pure-SQL keeps oracle parity
    # exact, the same precedent as the r12 stats tier);
    # base64_encode_fromguid encodes the GUID's 16 raw bytes
    "degrees": lambda a: f"degrees({a[0]})",
    "radians": lambda a: f"radians({a[0]})",
    "erf": lambda a: _erf_sql(a[0]),
    "erfc": lambda a: f"(1.0 - {_erf_sql(a[0])})",
    "base64_encode_fromguid": lambda a: (
        f"base64(unhex(replace(CAST({a[0]} AS STRING), '-', '')))"
    ),
    # series_fit_poly(y[, x, degree]) → coefficient array, highest degree
    # first (Kusto's documented order = numpy.polyfit's) — the Arrow
    # kernel in functions/series_fft.py; x omitted → implicit 0..n−1
    "series_fit_poly": lambda a: (
        f"seriesFitPoly({a[0]}, "
        + (a[1] if len(a) > 1 else "CAST(NULL AS ARRAY<DOUBLE>)")
        + f", {a[2] if len(a) > 2 else 1})"
    ),
    # --- round-11 scalar completions ---
    "beta_pdf": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 OR ({a[0]}) >= 1 THEN CAST(0 AS DOUBLE) "
        f"ELSE exp({_lgamma_sql(f'({a[1]}) + ({a[2]})')} "
        f"- {_lgamma_sql(a[1])} - {_lgamma_sql(a[2])} "
        f"+ (({a[1]}) - 1) * ln({a[0]}) "
        f"+ (({a[2]}) - 1) * ln(1 - ({a[0]}))) END)"
    ),
    "atan2": lambda a: f"atan2({a[0]}, {a[1]})",  # both take (y, x)
    # rand() → U[0,1); rand(n) → integer 0..n−1 (Kusto's two overloads);
    # nondeterministic by nature — registry checks are range contracts
    "rand": lambda a: (
        "rand()" if not a or not a[0].strip()
        else f"CAST(floor(rand() * ({a[0]})) AS BIGINT)"
    ),
    # bag_set_key(bag, key, value): key presence wins (the mapUpdate fold)
    "bag_set_key": lambda a: (
        f"map_from_entries(concat(filter(map_entries({a[0]}), "
        f"__e -> NOT __e.key <=> ({a[1]})), "
        f"array(named_struct('key', {a[1]}, 'value', {a[2]}))))"
    ),
    # Spark strings are validated UTF-8 by construction — a non-NULL
    # string is well-formed (documented; the byte-level check belongs to
    # binary ingestion, not the string type)
    "isutf8": lambda a: f"(({a[0]}) IS NOT NULL)",
    "unicode_codepoints_from_string": lambda a: (
        f"transform(split({a[0]}, ''), __c -> ascii(__c))"
    ),
    # base64 → byte-value array via the hex rendering (binary is not
    # directly indexable in Spark SQL; conv parses each hex pair)
    "base64_decode_toarray": lambda a: (
        f"transform(array(hex(unbase64({a[0]}))), __h -> "
        f"transform(sequence(1, CAST(length(__h) / 2 AS INT)), __i -> "
        f"CAST(conv(substring(__h, 2 * __i - 1, 2), 16, 10) AS BIGINT)))[0]"
    ),
    # Kusto's punycode pair rides the registered stdlib-codec kernels
    "punycode_from_string": lambda a: f"punycodeEncode({a[0]})",
    "punycode_to_string": lambda a: f"punycodeDecode({a[0]})",
    "series_round": lambda a: (
        f"transform({a[0]}, __v -> round(CAST(__v AS DOUBLE)))"
    ),
    # IPv6 tier (round 11): canonical expansion in pure string/array SQL
    "parse_ipv6": lambda a: _ipv6_canon_sql(a[0]),
    "ipv6_compare": lambda a: (
        f"CAST(CASE WHEN {_ipv6_canon_sql(a[0])} < {_ipv6_canon_sql(a[1])} "
        f"THEN -1 WHEN {_ipv6_canon_sql(a[0])} > {_ipv6_canon_sql(a[1])} "
        f"THEN 1 ELSE 0 END AS BIGINT)"
    ),
    "ipv6_is_match": _kql_ipv6_is_match,
    # --- scalar batch 10 (round 14): series trig, IPv4-in-text
    # matchers, range families, parse_ipv6_mask, string closers -------
    "series_sin": _series_map("sin({x})"),
    "series_cos": _series_map("cos({x})"),
    "series_tan": _series_map("tan({x})"),
    "series_asin": _series_map("asin({x})"),
    "series_acos": _series_map("acos({x})"),
    "series_atan": _series_map("atan({x})"),
    # make_string / unicode_codepoints_to_string: scalar code points
    # (array inputs: transform + array_strcat compose the same result)
    "make_string": lambda a: "concat(" + ", ".join(
        f"decode(unhex(lpad(hex({x}), 8, '0')), 'UTF-32')" for x in a
    ) + ")",
    "unicode_codepoints_to_string": lambda a: "concat(" + ", ".join(
        f"decode(unhex(lpad(hex({x}), 8, '0')), 'UTF-32')" for x in a
    ) + ")",
    "array_strcat": lambda a: (
        f"array_join(transform({a[0]}, __v -> CAST(__v AS STRING)), {a[1]})"
    ),
    # todynamic/parse_json: dynamics carry as JSON text in this engine —
    # the downstream accessors (bag/array operators) read JSON strings
    "todynamic": lambda a: a[0],
    "parse_json": lambda a: a[0],
    "has_ipv4": lambda a: (
        f"array_contains({_KQL_IPV4_EXTRACT.format(s=a[0])}, {a[1]})"
    ),
    "has_any_ipv4": lambda a: (
        f"arrays_overlap({_KQL_IPV4_EXTRACT.format(s=a[0])}, {a[1]})"
    ),
    "has_ipv4_prefix": lambda a: (
        f"exists({_KQL_IPV4_EXTRACT.format(s=a[0])}, "
        f"__ip -> startswith(__ip, {a[1]}))"
    ),
    "ipv4_is_match": _kql_ipv4_is_match,
    "ipv4_is_in_any_range": lambda a: (
        f"exists({a[1]}" + (
            f" || array({', '.join(a[2:])})" if len(a) > 2 else ""
        ) + f", __r -> {_kql_ipv4_in_range([a[0], '__r'])})"
        if a[1].strip().startswith(("array(", "["))
        else (
            "(" + " OR ".join(
                _kql_ipv4_in_range([a[0], r]) for r in a[1:]
            ) + ")"
        )
    ),
    "ipv6_is_in_range": lambda a: _kql_ipv6_is_match([a[0], a[1]]),
    "ipv6_is_in_any_range": lambda a: (
        f"exists({a[1]}, __r -> {_kql_ipv6_is_match([a[0], '__r'])})"
        if a[1].strip().startswith(("array(", "["))
        else (
            "(" + " OR ".join(
                _kql_ipv6_is_match([a[0], r]) for r in a[1:]
            ) + ")"
        )
    ),
    "parse_ipv6_mask": _kql_parse_ipv6_mask,
}




def _expr(e: str) -> str:
    """KQL scalar-expression sugar → Spark SQL."""
    e = e.strip()
    for name, build in _KQL_SCALARS.items():
        if re.search(rf"\b{name}\s*\(", e, re.IGNORECASE):
            e = _rewrite_call(e, name, build)
    # string predicates first (word-boundary, case-insensitive keywords)
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+contains\s+'([^']*)'",
        lambda m: f"{m.group(1)} ILIKE '%{m.group(2)}%'",
        e,
        flags=re.IGNORECASE,
    )
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+startswith\s+'([^']*)'",
        lambda m: f"{m.group(1)} ILIKE '{m.group(2)}%'",
        e,
        flags=re.IGNORECASE,
    )
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+endswith\s+'([^']*)'",
        lambda m: f"{m.group(1)} ILIKE '%{m.group(2)}'",
        e,
        flags=re.IGNORECASE,
    )
    # has_any / has_all: whole-term match over a literal term list
    # (OR / AND of the single-term rule) — MUST rewrite before bare `has`
    def _has_multi(m: "re.Match[str]") -> str:
        col = m.group(1)
        op = " OR " if m.group(2).lower() == "any" else " AND "
        terms = re.findall(r"'([^']*)'", m.group(3))
        if not terms:
            raise KqlError(f"has_{m.group(2)} needs string literals")
        return (
            "("
            + op.join(
                f"array_contains(split(lower({col}), '[^a-z0-9]+'), "
                f"'{t.lower()}')"
                for t in terms
            )
            + ")"
        )

    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+has_(any|all)\s*\(([^)]*)\)",
        _has_multi,
        e,
        flags=re.IGNORECASE,
    )
    # whole-term match (case-insensitive token membership — Kusto `has`
    # hits term boundaries, not substrings)
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+(!?)has\s+'([^']*)'",
        lambda m: (
            ("NOT " if m.group(2) else "")
            + f"array_contains(split(lower({m.group(1)}), '[^a-z0-9]+'), "
            + f"'{m.group(3).lower()}')"
        ),
        e,
        flags=re.IGNORECASE,
    )
    # negated string predicates: !contains / !startswith / !endswith
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+!contains\s+'([^']*)'",
        lambda m: f"{m.group(1)} NOT ILIKE '%{m.group(2)}%'",
        e,
        flags=re.IGNORECASE,
    )
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+!startswith\s+'([^']*)'",
        lambda m: f"{m.group(1)} NOT ILIKE '{m.group(2)}%'",
        e,
        flags=re.IGNORECASE,
    )
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+!endswith\s+'([^']*)'",
        lambda m: f"{m.group(1)} NOT ILIKE '%{m.group(2)}'",
        e,
        flags=re.IGNORECASE,
    )
    # case-insensitive equality: =~ / !~
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+=~\s+('[^']*'|\S+)",
        lambda m: f"lower({m.group(1)}) = lower({m.group(2)})",
        e,
    )
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+!~\s+('[^']*'|\S+)",
        lambda m: f"lower({m.group(1)}) <> lower({m.group(2)})",
        e,
    )
    # matches regex 'r' → RLIKE
    e = re.sub(
        r"\bmatches\s+regex\s+", "RLIKE ", e, flags=re.IGNORECASE
    )
    # [!]between (a .. b) → [NOT] BETWEEN a AND b
    e = re.sub(
        r"(!?)between\s*\(\s*(.+?)\s*\.\.\s*(.+?)\s*\)",
        lambda m: (
            ("NOT " if m.group(1) else "")
            + f"BETWEEN {m.group(2)} AND {m.group(3)}"
        ),
        e,
        flags=re.IGNORECASE,
    )
    # in~ (case-insensitive IN over literals)
    e = re.sub(
        r"([A-Za-z_][\w.]*(?:\[[^\]]*\])?)\s+in~\s*\(([^()]*)\)",
        lambda m: (
            f"lower({m.group(1)}) IN ("
            + ", ".join(
                # quote-aware split: a comma inside a quoted literal
                # (e.g. 'a,b') must not be split mid-literal
                f"lower({v.strip()})" for v in _split_top(m.group(2))
            )
            + ")"
        ),
        e,
        flags=re.IGNORECASE,
    )
    e = re.sub(r"!=", "<>", e)
    e = re.sub(r"==", "=", e)
    # KQL datetime(...) literal → timestamp literal
    e = re.sub(
        r"\bdatetime\(([^)]+)\)",
        lambda m: f"TIMESTAMP '{m.group(1).strip()}'",
        e,
        flags=re.IGNORECASE,
    )
    # bin(x, size): Kusto's bucketing scalar.  Numeric size → floor
    # arithmetic; timespan literal (30s/5m/1h/1d) → epoch-floor back to
    # timestamp — both stay whole-stage-codegen expressions.
    e = re.sub(
        r"\bbin\(([^,]+),\s*([0-9.]+)(s|m|h|d)\s*\)",
        lambda m: (
            lambda secs: (
                f"to_timestamp(floor(unix_timestamp({m.group(1).strip()}) "
                f"/ {secs}) * {secs})"
            )
        )({"s": 1, "m": 60, "h": 3600, "d": 86400}[m.group(3)] * float(m.group(2))),
        e,
        flags=re.IGNORECASE,
    )
    e = re.sub(
        r"\bbin\(([^,]+),\s*([0-9.]+)\s*\)",
        lambda m: (
            f"(floor({m.group(1).strip()} / {m.group(2)}) * {m.group(2)})"
        ),
        e,
        flags=re.IGNORECASE,
    )
    return e


def _rewrite_call(e: str, name: str, build) -> str:
    """Rewrite every ``name(arg1, arg2, ...)`` call in ``e`` via
    ``build(args)`` — paren/quote aware (regex alone can't split nested
    argument lists)."""
    out, i, n = [], 0, len(e)
    pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
    while i < n:
        m = pat.search(e, i)
        if not m:
            out.append(e[i:])
            break
        out.append(e[i : m.start()])
        depth, j, q = 1, m.end(), None
        while j < n and depth:
            ch = e[j]
            if q:
                if ch == q:
                    q = None
            elif ch in "'\"":
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        if depth:
            raise KqlError(f"unbalanced parens in {name}() call: {e!r}")
        args = _split_top(e[m.end() : j - 1])
        try:
            out.append(build(args))
        except IndexError:
            raise KqlError(f"{name}(): wrong argument count in {e!r}") from None
        i = j
    return "".join(out)


def _agg_expr(e: str) -> str:
    e = _expr(e)
    e = re.sub(r"\bcount\(\s*\)", "count(*)", e, flags=re.IGNORECASE)
    e = re.sub(
        r"\bdcount\(([^)]+)\)",
        lambda m: f"count(DISTINCT {m.group(1)})",
        e,
        flags=re.IGNORECASE,
    )
    e = re.sub(r"\bmake_list\(", "collect_list(", e, flags=re.IGNORECASE)
    e = re.sub(r"\bmake_set\(", "collect_set(", e, flags=re.IGNORECASE)
    # arg_max(maximize, return) → max_by(return, maximize) (args swap)
    e = _rewrite_call(
        e, "arg_max", lambda a: f"max_by({a[1]}, {a[0]})"
    )
    e = _rewrite_call(
        e, "arg_min", lambda a: f"min_by({a[1]}, {a[0]})"
    )
    e = _rewrite_call(
        e, "dcountif",
        lambda a: f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    # round-10 sketch/bitwise aggregate batch: Kusto hll()/hll_merge() map
    # to Spark's DataSketches HLL (hll_sketch_agg / hll_union_agg — JVM
    # partial-aggregatable, so the two-level Kusto pattern `summarize
    # hll() by fine | summarize hll_merge() by coarse` keeps map-side
    # combine).  The sketch bytes are engine-specific; registry queries
    # compare the ESTIMATE via an accuracy contract (dcount_hll scalar),
    # never the binary column.  binary_all_* are the exact bitwise folds.
    e = re.sub(r"\bbinary_all_and\s*\(", "bit_and(", e, flags=re.IGNORECASE)
    e = re.sub(r"\bbinary_all_or\s*\(", "bit_or(", e, flags=re.IGNORECASE)
    e = re.sub(r"\bbinary_all_xor\s*\(", "bit_xor(", e, flags=re.IGNORECASE)
    e = _rewrite_call(e, "hll_merge", lambda a: f"hll_union_agg({a[0]})")
    e = _rewrite_call(e, "hll", lambda a: f"hll_sketch_agg({a[0]})")
    e = _rewrite_call(e, "take_any", lambda a: f"any_value({a[0]})")
    # make_bag: union the group's property bags into one map.  Duplicate
    # keys keep the first seen (entry fold — Kusto's pick between
    # duplicates is likewise arrival-order-dependent); O(k²) in the BAG
    # size per group, never in rows.
    e = _rewrite_call(
        e, "make_bag",
        lambda a: (
            # init derives its type from the SAME aggregate expression
            # (Catalyst dedups it) — a bare column ref would not be grouped
            f"map_from_entries(aggregate("
            f"flatten(collect_list(map_entries({a[0]}))), "
            f"slice(flatten(collect_list(map_entries({a[0]}))), 1, 0), "
            f"(__acc, __e) -> if(exists(__acc, __p -> __p.key = __e.key), "
            f"__acc, array_append(__acc, __e))))"
        ),
    )

    # percentile(x, N) — N in percent points.  Documented deviation: Kusto's
    # percentile is a nearest-rank T-digest approximation; the lowering is
    # Spark's exact interpolated percentile (matches SQL PERCENTILE_CONT).
    def _pct(args: list[str]) -> str:
        if len(args) == 3:
            # already-lowered percentilew output (value, frac, frequency)
            # re-entering the bare rewrite on the second pass — leave intact
            return f"percentile({', '.join(args)})"
        if len(args) != 2:
            raise KqlError(f"percentile(expr, N) takes 2 args, got {args!r}")
        if args[1].strip().startswith("array("):
            # already-lowered percentiles_array output re-entering the
            # bare-percentile rewrite on the second pass — leave intact
            return f"percentile({args[0]}, {args[1]})"
        try:
            frac = float(args[1]) / 100.0
        except ValueError:
            raise KqlError(f"percentile: N must be a numeric literal, got {args[1]!r}")
        return f"percentile({args[0]}, {frac})"

    def _pcts_array(args: list[str]) -> str:
        # percentiles_array(x, p1, p2, ...) → Spark's array-percentile form
        # (same exact-interpolation deviation as percentile); REWRITTEN
        # BEFORE bare percentile so the prefix never half-matches
        if len(args) < 2:
            raise KqlError(
                f"percentiles_array(expr, N...) needs >= 2 args, got {args!r}"
            )
        try:
            fracs = ", ".join(str(float(p) / 100.0) for p in args[1:])
        except ValueError:
            raise KqlError(
                f"percentiles_array: N must be numeric literals, got {args!r}"
            )
        return f"percentile({args[0]}, array({fracs}))"

    # round-10 aggregate batch: covariance pair, -if spreads, conditional
    # collectors, null-keeping collector, weighted percentile
    e = _rewrite_call(
        e, "covariancep", lambda a: f"covar_pop({a[0]}, {a[1]})"
    )
    e = _rewrite_call(
        e, "covariance", lambda a: f"covar_samp({a[0]}, {a[1]})"
    )
    e = _rewrite_call(
        e, "stdevif",
        lambda a: f"stddev_samp(CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    # bare spread aggregates: Kusto stdev/variance are the SAMPLE forms,
    # stdevp/variancep the population forms; Spark spells the sample
    # stddev differently, so all four lower explicitly
    e = _rewrite_call(e, "stdevp", lambda a: f"stddev_pop({a[0]})")
    e = _rewrite_call(e, "stdev", lambda a: f"stddev_samp({a[0]})")
    e = _rewrite_call(e, "variancep", lambda a: f"var_pop({a[0]})")
    e = _rewrite_call(e, "variance", lambda a: f"var_samp({a[0]})")
    e = _rewrite_call(
        e, "count_distinctif",
        lambda a: f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    # bitwise reduction aggregates (round 11)
    e = _rewrite_call(e, "binary_all_and", lambda a: f"bit_and({a[0]})")
    e = _rewrite_call(e, "binary_all_or", lambda a: f"bit_or({a[0]})")
    e = _rewrite_call(e, "binary_all_xor", lambda a: f"bit_xor({a[0]})")
    e = _rewrite_call(
        e, "count_distinct", lambda a: f"count(DISTINCT {a[0]})"
    )
    e = _rewrite_call(
        e, "make_bag_if",
        lambda a: (
            f"map_from_entries(aggregate("
            f"flatten(collect_list(map_entries("
            f"CASE WHEN {a[1]} THEN {a[0]} END))), "
            f"slice(flatten(collect_list(map_entries("
            f"CASE WHEN {a[1]} THEN {a[0]} END))), 1, 0), "
            f"(__acc, __e) -> if(exists(__acc, __p -> __p.key = __e.key), "
            f"__acc, array_append(__acc, __e))))"
        ),
    )
    e = _rewrite_call(
        e, "varianceif",
        lambda a: f"var_samp(CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    e = _rewrite_call(
        e, "make_list_if",
        lambda a: f"collect_list(CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    e = _rewrite_call(
        e, "make_set_if",
        lambda a: f"collect_set(CASE WHEN {a[1]} THEN {a[0]} END)",
    )
    # collect_list drops NULLs — the with_nulls form rides a struct wrapper
    # (struct rows are never null) and unwraps after collection
    e = _rewrite_call(
        e, "make_list_with_nulls",
        lambda a: (
            f"transform(collect_list(struct({a[0]} AS __v)), "
            f"__s -> __s.__v)"
        ),
    )

    def _pctw(args: list[str]) -> str:
        # percentilew(x, weight, N): exact interpolated percentile of the
        # weight-expanded multiset — Spark's percentile frequency argument
        # (integral weights, Kusto's own contract)
        if len(args) != 3:
            raise KqlError(f"percentilew(expr, weight, N) takes 3 args, got {args!r}")
        try:
            frac = float(args[2]) / 100.0
        except ValueError:
            raise KqlError(f"percentilew: N must be a numeric literal, got {args[2]!r}")
        return f"percentile({args[0]}, {frac}, CAST({args[1]} AS BIGINT))"

    def _pctsw_array(args: list[str]) -> str:
        if len(args) < 3:
            raise KqlError(
                f"percentilesw_array(expr, weight, N...) needs >= 3 args, got {args!r}"
            )
        try:
            fracs = ", ".join(str(float(p) / 100.0) for p in args[2:])
        except ValueError:
            raise KqlError(
                f"percentilesw_array: N must be numeric literals, got {args!r}"
            )
        return (
            f"percentile({args[0]}, array({fracs}), "
            f"CAST({args[1]} AS BIGINT))"
        )

    e = _rewrite_call(e, "percentilesw_array", _pctsw_array)
    # bare percentilesw: Kusto's multi-column assignment doesn't fit a
    # single-expression rewrite, so it aliases the _array surface (the
    # percentiles_array convention — documented deviation)
    e = _rewrite_call(e, "percentilesw", _pctsw_array)
    e = _rewrite_call(e, "percentilew", _pctw)
    e = _rewrite_call(e, "percentiles_array", _pcts_array)
    e = _rewrite_call(e, "percentile", _pct)
    e = _rewrite_call(
        e,
        "countif",
        lambda a: f"count_if({a[0]})" if len(a) == 1
        else (_ for _ in ()).throw(KqlError("countif(pred) takes 1 arg")),
    )
    e = _rewrite_call(
        e,
        "take_anyif",
        lambda a: (
            f"first(CASE WHEN {a[1]} THEN {a[0]} END, true)"
            if len(a) == 2
            else (_ for _ in ()).throw(
                KqlError("take_anyif(expr, pred) takes 2 args")
            )
        ),
    )
    for fn, sql in (("sumif", "sum"), ("avgif", "avg"),
                    ("minif", "min"), ("maxif", "max")):
        e = _rewrite_call(
            e,
            fn,
            lambda a, sql=sql, fn=fn: (
                f"{sql}(CASE WHEN {a[1]} THEN {a[0]} END)"
                if len(a) == 2
                else (_ for _ in ()).throw(KqlError(f"{fn}(expr, pred) takes 2 args"))
            ),
        )
    return e


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on top-level separators (paren/quote aware)."""
    out, depth, cur, q = [], 0, [], None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [p for p in out if p]


def _alias_item(item: str, agg: bool = False) -> str:
    """KQL ``name = expr`` → ``expr AS name``; bare exprs pass through.
    DOTALL: assignments may span lines in formatted pipelines."""
    m = re.match(r"^([A-Za-z_]\w*)\s*=\s*(?![=])(.+)$", item.strip(), re.DOTALL)
    conv = _agg_expr if agg else _expr
    if m:
        return f"{conv(m.group(2))} AS {m.group(1)}"
    return conv(item)


def _order_list(s: str, default_desc: bool = True) -> str:
    parts = []
    for item in _split_top(s):
        if re.search(r"\b(asc|desc)\s*$", item, re.IGNORECASE):
            parts.append(_expr(item))
        else:
            parts.append(_expr(item) + (" DESC" if default_desc else ""))
    return ", ".join(parts)


def _make_series(sub: str, rest: str) -> str:
    """Lower ``make-series`` (Kusto's signature time-series operator) to one
    Spark SQL statement built entirely from JVM expressions.

    Grammar subset::

        make-series s1=agg(expr) [default = lit][, s2=...]
                    on TsCol from <start> to <end> step <Ns|m|h|d>
                    [by k1, k2]

    Lowering: (1) bin rows to ``start``-aligned buckets and aggregate per
    (keys, bin); (2) fold each group's bins into one ``map<bin, struct>``;
    (3) project a constant-foldable axis ``sequence(0, n-1)`` →
    ``to_timestamp`` and ``transform`` it, filling gaps with each series'
    default via ``try_element_at`` (ANSI-safe missing-key lookup).  The gap
    fill is a map lookup, not a join — the whole operator is two map-side-
    combinable grouped aggregations ((keys, bin), then keys) and zero
    joins; the axis is folded by Catalyst when start/end/step are literals
    (the only supported Kusto forms are literal anyway).
    """
    m = re.match(
        r"^(.*?)\s+on\s+([A-Za-z_]\w*)(?:\s+from\s+(.+?))?(?:\s+to\s+(.+?))?"
        r"\s+step\s+([0-9.]+)(s|m|h|d)\s*(?:\bby\b\s+(.+))?$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise KqlError(
            "make-series needs 'aggs on col [from a] [to b] step Nu [by keys]', "
            f"got {rest!r}"
        )
    aggs_txt, ts_col, frm, to, step_n, step_u, by = m.groups()
    secs = {"s": 1, "m": 60, "h": 3600, "d": 86400}[step_u.lower()] * float(step_n)
    secs = int(secs) if float(secs).is_integer() else secs
    frm_sql = _expr(frm) if frm else None
    to_sql = _expr(to) if to else None
    series = []  # (name, agg_sql, default_sql)
    for item in _split_top(aggs_txt):
        ma = re.match(r"^([A-Za-z_]\w*)\s*=\s*(.+?)(?:\s+default\s*=\s*(\S+))?$",
                      item.strip(), re.IGNORECASE)
        if not ma:
            raise KqlError(f"make-series series needs name=agg(expr), got {item!r}")
        series.append((ma.group(1), _agg_expr(ma.group(2)),
                       _expr(ma.group(3)) if ma.group(3) else "0"))
    keys = [k.strip() for k in _split_top(by)] if by else []
    if frm_sql:
        # explicit start: bins align to `from` (Kusto start-aligned grid)
        f_ep = f"unix_timestamp({frm_sql})"
        bin_expr = (
            f"to_timestamp({f_ep} + CAST(floor((unix_timestamp({ts_col}) - {f_ep})"
            f" / {secs}) AS BIGINT) * {secs})"
        )
    else:
        # auto start: bins align to the Unix-epoch grid (documented
        # deviation: Kusto's auto grid is anchored at 0001-01-01)
        bin_expr = (
            f"to_timestamp(CAST(floor(unix_timestamp({ts_col}) / {secs}) "
            f"AS BIGINT) * {secs})"
        )
    key_sel = "".join(f"{k}, " for k in keys)
    v_sel = ", ".join(
        f"CAST({agg} AS DOUBLE) AS __v{i}" for i, (_n, agg, _d) in enumerate(series)
    )
    where = [f"{ts_col} IS NOT NULL"]
    if frm_sql:
        where.append(f"{ts_col} >= {frm_sql}")
    if to_sql:
        where.append(f"{ts_col} < {to_sql}")
    inner = (
        f"SELECT {key_sel}{bin_expr} AS __bin, {v_sel} FROM {sub} "
        f"WHERE {' AND '.join(where)} "
        f"GROUP BY {key_sel}{bin_expr}"
    )
    v_struct = ", ".join(f"__v{i}" for i in range(len(series)))
    mapped = (
        f"SELECT {key_sel}map_from_entries(collect_list(struct(__bin, "
        f"struct({v_struct})))) AS __m FROM ({inner}) __msi"
    )
    if keys:
        mapped += f" GROUP BY {', '.join(keys)}"
    if frm_sql and to_sql:
        # both bounds literal → the axis is constant-folded by Catalyst
        f_expr, end_ep = f_ep, f"unix_timestamp({to_sql})"
    else:
        # auto bound(s): global min/max bin via an empty-frame window over
        # the PER-GROUP rows (one row per group — the window sorts #groups
        # rows, not the data; still zero joins and no second scan).  The
        # axis stays end-exclusive: end = max bin + step.
        mapped = (
            f"SELECT *, min(array_min(map_keys(__m))) OVER () AS __fb, "
            f"max(array_max(map_keys(__m))) OVER () AS __tb "
            f"FROM ({mapped}) __msb"
        )
        f_expr = f"unix_timestamp({frm_sql})" if frm_sql else "unix_timestamp(__fb)"
        end_ep = (
            f"unix_timestamp({to_sql})" if to_sql
            else f"(unix_timestamp(__tb) + {secs})"
        )
    n_bins = f"CAST(ceil(({end_ep} - {f_expr}) / {secs}) AS INT)"
    axis = (
        f"CASE WHEN {n_bins} > 0 THEN transform(sequence(0, {n_bins} - 1), "
        f"__i -> to_timestamp({f_expr} + CAST(__i AS BIGINT) * {secs})) "
        f"ELSE array() END"
    )
    fills = ", ".join(
        f"transform({axis}, __t -> coalesce(try_element_at(__m, __t).__v{i}, "
        f"CAST({d} AS DOUBLE))) AS {name}"
        for i, (name, _a, d) in enumerate(series)
    )
    return (
        f"SELECT {key_sel}{fills}, {axis} AS {ts_col} FROM ({mapped}) __mso"
    )


#: parse column capture types → Spark cast targets
_PARSE_TYPES = {"string": None, "long": "bigint", "int": "int",
                "real": "double", "double": "double", "datetime": "timestamp",
                "bool": "boolean"}


def _parse_op(sub: str, rest: str, where: bool = False) -> str:
    """Lower ``parse <col> with [*] 'lit' Name[:type] 'lit' ...`` — Kusto's
    log-extraction operator (simple mode) — and ``parse-where`` (round 8:
    identical extraction, but rows whose ``col`` does NOT match the
    compiled pattern are dropped via one RLIKE predicate instead of
    yielding empty values).

    Lowering: the literal/capture sequence compiles to ONE anchored regex
    (literals escaped, captures non-greedy ``(.*?)``, a trailing capture
    takes the rest of the string), evaluated once per extracted column via
    ``regexp_extract`` — whole-stage-codegen expressions, no UDF.  A leading
    ``*`` unanchors the start, matching Kusto.  Rows that don't match yield
    empty strings / NULL casts (Kusto's simple-mode behavior for non-matching
    rows is empty values too)."""
    m = re.match(r"^(\S+)\s+with\s+(.*)$", rest.strip(), re.IGNORECASE | re.DOTALL)
    if not m:
        raise KqlError(f"parse needs '<col> with <pattern>', got {rest!r}")
    col, pat = m.group(1), m.group(2).strip()
    toks = re.findall(
        r"'(?:[^']*)'|\*|[A-Za-z_]\w*(?:\s*:\s*\w+)?", pat
    )
    if not toks or "".join(toks).strip() == "":
        raise KqlError(f"parse pattern is empty: {pat!r}")
    rx_parts, caps = ["^"], []  # caps: (name, cast_type)
    if toks and toks[0] == "*":
        rx_parts = ["^.*?"]
        toks = toks[1:]
    for i, t in enumerate(toks):
        if t.startswith("'"):
            rx_parts.append(re.escape(t[1:-1]))
        elif t == "*":
            rx_parts.append(".*?")
        else:
            mm = re.match(r"^([A-Za-z_]\w*)(?:\s*:\s*(\w+))?$", t)
            name, typ = mm.group(1), (mm.group(2) or "string").lower()
            if typ not in _PARSE_TYPES:
                raise KqlError(f"parse: unsupported type {typ!r}")
            last = i == len(toks) - 1
            rx_parts.append("(.*)$" if last else "(.*?)")
            caps.append((name, _PARSE_TYPES[typ]))
    if not caps:
        raise KqlError(f"parse pattern captures no columns: {pat!r}")
    rx = "".join(rx_parts)
    if not rx.endswith("$"):
        rx += ".*$"
    rx_sql = rx.replace("\\", "\\\\").replace("'", "''")
    sels = []
    for gi, (name, cast) in enumerate(caps, start=1):
        e = f"regexp_extract({col}, '{rx_sql}', {gi})"
        if cast == "timestamp":
            e = f"try_to_timestamp({e})"
        elif cast:
            e = f"try_cast({e} AS {cast})"
        sels.append(f"{e} AS {name}")
    tail = f" WHERE {col} RLIKE '{rx_sql}'" if where else ""
    return f"SELECT *, {', '.join(sels)} FROM {sub}{tail}"


def _parse_kv(sub: str, rest: str) -> str:
    """Kusto ``parse-kv Expr as (k1: t1, k2: t2, ...) with
    (pair_delimiter='…', kv_delimiter='…')`` — the log-analytics
    key-value extraction operator.

    Lowering: ONE ``str_to_map`` over the source expression (both
    delimiters regex-escaped — Spark treats them as regexes), then one
    typed ``element_at`` per declared key — whole-stage-codegen
    expressions, no UDF, no per-key rescan of the string.  Subset: the
    delimited mode with explicit delimiters (defaults ``' '``/``'='``,
    the Kusto defaults); Kusto's regex/quoting modes are out (documented).
    Keys absent from a row yield NULL (string keys yield NULL too —
    matching Kusto's empty-value contract for missing keys under
    ``try_cast``)."""
    m = re.match(
        r"^(.+?)\s+as\s*\((.+?)\)\s*(?:with\s*\((.+)\))?\s*$",
        rest.strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise KqlError(
            f"parse-kv needs 'Expr as (k: type, ...) [with (...)]', got {rest!r}"
        )
    expr = _expr(m.group(1))
    pair_d, kv_d = " ", "="
    if m.group(3):
        for item in _split_top(m.group(3)):
            mp = re.match(
                r"^\s*(pair_delimiter|kv_delimiter)\s*=\s*'([^']*)'\s*$",
                item,
                re.IGNORECASE,
            )
            if not mp:
                raise KqlError(
                    f"parse-kv subset: pair_delimiter/kv_delimiter "
                    f"string properties, got {item!r}"
                )
            if mp.group(1).lower() == "pair_delimiter":
                pair_d = mp.group(2)
            else:
                kv_d = mp.group(2)

    def _rx_lit(s: str) -> str:
        # str_to_map delimiters are Java regexes — escape metacharacters,
        # then SQL-escape (backslashes doubled, quotes doubled)
        rx = re.sub(r"([^A-Za-z0-9])", r"\\\1", s)
        return rx.replace("\\", "\\\\").replace("'", "''")

    # NOT str_to_map (round-9 advice fix): under Spark's default
    # spark.sql.mapKeyDedupPolicy=EXCEPTION a repeated key — common in real
    # kv logs — would crash the query, whereas Kusto parse-kv tolerates
    # duplicates.  A first-occurrence-wins fold over the split pairs keeps
    # str_to_map's split semantics (value = remainder after the first
    # kv-delimiter, limit-2 split) while deduplicating keys before
    # map_from_entries ever sees them.
    pair_rx, kv_rx = _rx_lit(pair_d), _rx_lit(kv_d)
    map_sql = (
        f"map_from_entries(aggregate("
        f"transform(split({expr}, '{pair_rx}'), __p -> named_struct("
        f"'k', split(__p, '{kv_rx}', 2)[0], "
        f"'v', try_element_at(split(__p, '{kv_rx}', 2), 2))), "
        f"CAST(array() AS ARRAY<STRUCT<k: STRING, v: STRING>>), "
        f"(__acc, __e) -> IF(exists(__acc, __a -> __a.k <=> __e.k), "
        f"__acc, concat(__acc, array(__e)))))"
    )
    sels = []
    for item in _split_top(m.group(2)):
        md = re.match(r"^\s*([A-Za-z_]\w*)\s*(?::\s*(\w+))?\s*$", item)
        if not md:
            raise KqlError(f"parse-kv: each key is 'name[: type]', got {item!r}")
        name, typ = md.group(1), (md.group(2) or "string").lower()
        if typ not in _PARSE_TYPES:
            raise KqlError(f"parse-kv: unsupported type {typ!r}")
        cast = _PARSE_TYPES[typ]
        e = f"element_at(__kvm, '{name}')"
        if cast == "timestamp":
            e = f"try_to_timestamp({e})"
        elif cast:
            e = f"try_cast({e} AS {cast})"
        sels.append(f"{e} AS {name}")
    return (
        f"SELECT * EXCEPT (__kvm), {', '.join(sels)} FROM "
        f"(SELECT *, {map_sql} AS __kvm FROM {sub}) __pkv"
    )


#: mv-apply summarize aggregates → array-expression builders.  Each takes
#: (col_sql, var, expr_sql) where expr is in terms of the element variable.
_MV_APPLY_AGGS = {
    "sum": lambda c, v, e: (
        f"aggregate({c}, CAST(0 AS DOUBLE), (__acc, {v}) -> "
        f"__acc + CAST({e} AS DOUBLE))"
    ),
    "avg": lambda c, v, e: (
        f"(aggregate({c}, CAST(0 AS DOUBLE), (__acc, {v}) -> "
        f"__acc + CAST({e} AS DOUBLE)) / nullif(size({c}), 0))"
    ),
    "max": lambda c, v, e: f"array_max(transform({c}, {v} -> {e}))",
    "min": lambda c, v, e: f"array_min(transform({c}, {v} -> {e}))",
    "count": lambda c, v, e: f"size({c})",
    "make_list": lambda c, v, e: f"transform({c}, {v} -> {e})",
}


def _mv_field_ref(expr: str, fields: list[str]) -> str:
    """Rewrite bare element-field names in ``expr`` to ``__e.<field>``
    (struct-element lambda body).  Skips qualified refs (``x.f``),
    function-call positions (``f(``), and words inside string literals of
    EITHER quote form (masked first — same hardening as
    :func:`_qualify_idents`)."""
    lits: list[str] = []

    def _mask(m: "re.Match[str]") -> str:
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    masked = re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", _mask, expr)
    for f in fields:
        masked = re.sub(
            rf"(?<![\w.\x00]){re.escape(f)}(?![\w(])", f"__e.{f}", masked
        )
    return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], masked)


def _mv_apply(sub: str, rest: str) -> str:
    """Lower ``mv-apply [v =] arr on ( <subpipeline> )`` — Kusto's
    subquery-per-record operator.

    The subpipeline may chain ``where`` / ``extend`` / ``take`` stages and
    end with an optional ``summarize``.  The WHOLE chain lowers to per-row
    ARRAY combinators — ``filter`` for where, ``transform`` into
    ``named_struct`` for extend (the transpiler tracks element fields
    through struct promotion), ``slice`` for take, and folds
    (aggregate/transform/size) for the terminal summarize — so there is no
    explode, no re-join, and no shuffle at any scale: the operator stays
    embarrassingly row-parallel where the textbook lowering
    (posexplode → regroup on a synthetic row key) would shuffle the whole
    table.  Without a terminal summarize the transformed array explodes in
    place (Kusto's row-expansion form): struct elements expand to one
    column per tracked field."""
    m = re.match(
        r"^(?:([A-Za-z_]\w*)\s*=\s*)?([A-Za-z_]\w*)\s+on\s+\((.+)\)$",
        rest.strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise KqlError(
            "mv-apply needs '[v =] arr on ( <subpipeline> )'" f", got {rest!r}"
        )
    var = m.group(1) or m.group(2)
    col = m.group(2)
    stages = [s.strip() for s in _split_top(m.group(3).strip(), "|")]
    cur = col
    fields: list[str] | None = None  # None → scalar elements addressed by var
    sels: list[str] | None = None  # set by the terminal summarize
    for si, st in enumerate(stages):
        if not st:
            raise KqlError("mv-apply: empty subpipeline stage")
        kw = st.split(None, 1)
        op = kw[0].lower()
        arg = kw[1] if len(kw) > 1 else ""
        if sels is not None:
            raise KqlError("mv-apply: summarize must be the last stage")
        if op == "where":
            pred = _expr(arg)
            if fields is None:
                cur = f"filter({cur}, {var} -> {pred})"
            else:
                cur = f"filter({cur}, __e -> {_mv_field_ref(pred, fields)})"
        elif op == "take":
            cur = f"slice({cur}, 1, {int(arg)})"
        elif op == "extend":
            items = []
            for it in _split_top(arg):
                ma = re.match(r"^([A-Za-z_]\w*)\s*=\s*(.+)$", it.strip(), re.DOTALL)
                if not ma:
                    raise KqlError(f"mv-apply extend needs name = expr, got {it!r}")
                items.append((ma.group(1), _expr(ma.group(2))))
            if fields is None:
                body = ", ".join(
                    [f"'{var}', {var}"] + [f"'{n}', {e}" for n, e in items]
                )
                cur = f"transform({cur}, {var} -> named_struct({body}))"
                fields = [var] + [n for n, _e in items]
            else:
                body = ", ".join(
                    [f"'{f}', __e.{f}" for f in fields]
                    + [f"'{n}', {_mv_field_ref(e, fields)}" for n, e in items]
                )
                cur = f"transform({cur}, __e -> named_struct({body}))"
                fields = fields + [n for n, _e in items]
        elif op == "summarize":
            if si != len(stages) - 1:
                raise KqlError("mv-apply: summarize must be the last stage")
            sels = []
            for item in _split_top(arg):
                ma = re.match(
                    r"^([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s*\((.*)\)$",
                    item.strip(),
                    re.DOTALL,
                )
                if not ma:
                    raise KqlError(
                        f"mv-apply summarize needs name = agg(expr), got {item!r}"
                    )
                name, fn, a = ma.group(1), ma.group(2).lower(), _expr(ma.group(3))
                builder = _MV_APPLY_AGGS.get(fn)
                if builder is None:
                    raise KqlError(
                        f"mv-apply: unsupported aggregate {fn!r} "
                        f"(subset: {', '.join(sorted(_MV_APPLY_AGGS))})"
                    )
                if fn == "count" and a.strip():
                    raise KqlError("mv-apply: count() takes no argument in the subset")
                if fields is None:
                    sels.append(f"{builder(cur, var, a or var)} AS {name}")
                else:
                    body = _mv_field_ref(a, fields) if a else f"__e.{var}"
                    sels.append(f"{builder(cur, '__e', body)} AS {name}")
        else:
            raise KqlError(
                f"mv-apply: unsupported subpipeline stage {op!r} "
                "(subset: where, extend, take, summarize)"
            )
    if sels is not None:
        return f"SELECT *, {', '.join(sels)} FROM {sub}"
    # no terminal summarize → Kusto's row-expansion form: explode in place
    if fields is None:
        return (
            f"SELECT * EXCEPT ({col}), __mv AS {var} FROM {sub} "
            f"LATERAL VIEW EXPLODE({cur}) __mvt AS __mv"
        )
    return (
        f"SELECT * EXCEPT ({col}), __mv.* FROM {sub} "
        f"LATERAL VIEW EXPLODE({cur}) __mvt AS __mv"
    )


#: SQL keywords that must never be qualified as row-field references when
#: rewriting a scan-step predicate into a lambda body.
_SCAN_KEYWORDS = frozenset(
    "and or not true false null case when then else end in like rlike ilike "
    "is between distinct cast as interval timestamp date array struct map "
    "double bigint int smallint tinyint string boolean float decimal "
    "current_timestamp current_date asc desc".split()
)


def _qualify_idents(
    expr: str, prefix: str, overrides: dict[str, str] | None = None
) -> str:
    """Rewrite bare column identifiers in a SQL expression to
    ``<prefix><name>`` (lambda-variable field refs), leaving string
    literals, function calls, keywords, and already-qualified refs alone.
    ``overrides`` maps specific identifiers to full replacements (scan's
    declared state variables → accumulator field refs).  String literals
    are masked first so words inside them never match."""
    lits: list[str] = []

    def _mask(m: "re.Match[str]") -> str:
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    # mask BOTH quote forms — KQL string literals may be single- or
    # double-quoted, and either reaches this rewriter verbatim
    masked = re.sub(
        r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", _mask, expr
    )

    def _sub(m: "re.Match[str]") -> str:
        w = m.group(0)
        if overrides and w in overrides:
            return overrides[w]
        return w if w.lower() in _SCAN_KEYWORDS else prefix + w

    masked = re.sub(
        r"(?<![\w.\x00])[A-Za-z_]\w*(?!\s*\()(?![\w.])", _sub, masked
    )
    return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], masked)


#: scan declare types → (Spark SQL type, default init literal)
_SCAN_DECL_TYPES = {
    "long": ("BIGINT", "0"),
    "int": ("INT", "0"),
    "real": ("DOUBLE", "0.0"),
    "string": ("STRING", "''"),
    "bool": ("BOOLEAN", "false"),
    "datetime": ("TIMESTAMP", "NULL"),
}

#: a sort list made only of bare column idents (+ ASC/DESC/NULLS modifiers) —
#: the shape whose referenced columns the scan pruner can enumerate exactly
_ORDER_BARE_RE = re.compile(
    r"^\s*[A-Za-z_]\w*(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?"
    r"(?:\s*,\s*[A-Za-z_]\w*(?:\s+(?:ASC|DESC))?"
    r"(?:\s+NULLS\s+(?:FIRST|LAST))?)*\s*$",
    re.IGNORECASE,
)


def _scan_downstream_cols(next_stage: str | None) -> set[str] | None:
    """If the stage immediately after a ``scan`` is a ``project`` of bare
    identifiers (optionally ``alias = ident``), the scan's visible output is
    exactly those names — return the referenced set so the lowering can drop
    unreferenced source columns before the machine's row struct is built
    (guide §2.3: project before the exchange; nested-field pruning cannot
    reach through the collect_list/aggregate lambdas on its own).  Any other
    shape → ``None``: no pruning, the full row remains scan's output
    contract."""
    if not next_stage:
        return None
    kw = next_stage.split(None, 1)
    if not kw or kw[0].lower() != "project" or len(kw) < 2:
        return None
    cols: set[str] = set()
    for item in _split_top(kw[1]):
        m = re.match(r"^\s*(?:[A-Za-z_]\w*\s*=\s*)?([A-Za-z_]\w*)\s*$", item)
        if not m:
            return None
        cols.add(m.group(1))
    return cols


def _prune_scan_source(
    sub: str,
    downstream_cols: set[str] | None,
    match_id: str | None,
    var_names: list[str],
    keys: list[str],
    last_order: str,
    steps: list[tuple[str, str, dict[str, str], str]],
) -> str:
    """Narrow the scan machine's input to the columns it can prove are used:
    the downstream project's refs (minus the scan-created match_id/declared
    vars), the partition keys, the serialization sort keys, and every row
    field a step predicate/assignment touches (their lowered forms carry the
    exact ``__r.__row.<name>`` refs).  Everything else — payload columns the
    final project drops — would otherwise ride the exchange, the per-key
    sort, the collect_list arrays AND the fold.  Applies only when the sort
    list is bare idents (else its column set is not enumerable textually);
    otherwise returns ``sub`` unchanged."""
    if downstream_cols is None or not _ORDER_BARE_RE.match(last_order):
        return sub
    order_idents = {
        w
        for w in re.findall(r"[A-Za-z_]\w*", last_order)
        if w.lower() not in ("asc", "desc", "nulls", "first", "last")
    }
    lowered = [p for _n, p, a, _o in steps] + [
        e for _n, _p, a, _o in steps for e in a.values()
    ]
    used = set(re.findall(r"__r\.__row\.(\w+)", " ".join(lowered)))
    # Spark resolves names case-insensitively: drop the scan-created names
    # in any case, and keep one spelling per column (a repeated column
    # would make the outer references ambiguous)
    created = {n.lower() for n in [match_id, *var_names] if n}
    needed: dict[str, str] = {}
    for c in sorted(
        {c for c in downstream_cols if c.lower() not in created}
        | set(keys) | order_idents | used
    ):
        needed.setdefault(c.lower(), c)
    return f"(SELECT {', '.join(sorted(needed.values()))} FROM {sub}) __scp"


def _scan(
    sub: str,
    rest: str,
    last_order: str | None,
    keys: list[str] | None = None,
    downstream_cols: set[str] | None = None,
) -> str:
    """Lower Kusto's ``scan`` operator — the stateful row machine — in its
    LINEAR-pattern subset: ``scan [with_match_id=m] [declare (v: type =
    init, ...)] with (step s1: pred1 [=> v = expr, ...]; ...)`` (no
    branching).  Declared variables are per-sequence state: step
    predicates and assignment expressions may read them (pre-row values —
    simultaneous-assignment semantics), matched rows carry their
    post-assignment values as output columns, and completing the last
    step resets them for the next sequence.

    Semantics of the subset (greedy single machine, the sessionize/
    windowFunnel lowering): rows are consumed in the serialized order
    pinned by the REQUIRED preceding ``sort by``; a row that satisfies the
    next-needed step's predicate is emitted and advances the machine;
    completing the last step closes the match (match_id increments) and the
    machine resets; other rows pass through unmatched (not emitted).  Full
    Kusto additionally spawns concurrent machines on every step-1 match
    (documented deviation).

    Bare ``scan`` runs ONE machine over the whole serialized stream —
    faithful to Kusto, but single-partition (the bounded tier).  The
    scalable form is ``partition by k ( sort by ... | scan ... )``, which
    passes ``keys`` here and runs one machine per key.

    Plan shape (keyed form): ONE shuffle — the row_number window on the
    keys; the groupBy that follows reuses the window's hash partitioning,
    the fold is a single JVM ``aggregate`` over the per-key sorted row
    array, and the matches explode in place (zero joins; the typed
    empty-array init is derived from the data via ``transform(slice(rows,
    1, 0), ...)`` so no schema knowledge is needed at transpile time).
    Pytest gates the single exchange."""
    if last_order is None:
        raise KqlError(
            "scan needs a preceding sort (serialized row order)"
        )
    keys = keys or []
    txt = rest.strip()
    # kind=concurrent selects the Kusto-FAITHFUL machine set (one active
    # sequence per step, promotion/absorption per record, sequences never
    # retire) — see _scan_concurrent.  Bare scan keeps the greedy
    # single-machine linear subset for the windowFunnel/sessionize shape
    # (documented deviation; the flag itself is a repo extension — Kusto
    # needs none because concurrent IS its only mode).
    mk = re.match(
        r"^kind\s*=\s*concurrent\s+(.*)$", txt, re.IGNORECASE | re.DOTALL
    )
    concurrent = bool(mk)
    if mk:
        txt = mk.group(1).strip()
    mm = re.match(
        r"^with_match_id\s*=\s*([A-Za-z_]\w*)\s+(.*)$", txt,
        re.IGNORECASE | re.DOTALL,
    )
    match_id = mm.group(1) if mm else None
    if mm:
        txt = mm.group(2).strip()
    # declare (name: type [= init], ...) — per-sequence state variables
    decls: list[tuple[str, str, str]] = []  # (name, spark_type, init_sql)
    md = re.match(r"^declare\s*\(", txt, re.IGNORECASE)
    if md:
        depth, j, q = 1, md.end(), None
        while j < len(txt) and depth:
            ch = txt[j]
            if q:
                if ch == q:
                    q = None
            elif ch in "'\"":
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        if depth:
            raise KqlError("scan declare: unterminated (...)")
        for item in _split_top(txt[md.end() : j - 1]):
            mv = re.match(
                r"^([A-Za-z_]\w*)\s*:\s*(\w+)\s*(?:=\s*(.+))?$",
                item.strip(),
                re.DOTALL,
            )
            if not mv:
                raise KqlError(
                    f"scan declare: each item is 'name: type [= init]', "
                    f"got {item!r}"
                )
            tinfo = _SCAN_DECL_TYPES.get(mv.group(2).lower())
            if tinfo is None:
                raise KqlError(
                    f"scan declare: unsupported type {mv.group(2)!r} "
                    f"(subset: {', '.join(sorted(_SCAN_DECL_TYPES))})"
                )
            init = _expr(mv.group(3)) if mv.group(3) else tinfo[1]
            decls.append((mv.group(1), tinfo[0], f"CAST({init} AS {tinfo[0]})"))
        txt = txt[j:].strip()
    mw = re.match(r"^with\s*\((.+)\)\s*$", txt, re.IGNORECASE | re.DOTALL)
    if not mw:
        raise KqlError(
            "scan subset: '[with_match_id=m] [declare (v: type = init, ...)] "
            f"with (step name: pred [=> v = expr, ...]; ...)', got {rest!r}"
        )
    var_refs = {name: f"a.__v_{name}" for name, _t, _i in decls}
    var_names = [name for name, _t, _i in decls]

    def _sx(e: str) -> str:
        # declared vars read the PRE-row accumulator state; everything else
        # is a row-field ref (simultaneous-assignment semantics, documented)
        return _qualify_idents(_expr(e), "__r.__row.", var_refs)

    steps: list[tuple[str, str, dict[str, str], str]] = []
    raw_steps: list[tuple[str, str, dict[str, str], str]] = []
    for item in _split_top(mw.group(1), ";"):
        if not item.strip():
            continue
        ms = re.match(
            r"^step\s+([A-Za-z_]\w*)\s*"
            r"(?:output\s*=\s*(all|none)\s*)?:\s*(.+)$",
            item.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if not ms:
            raise KqlError(
                f"scan: each step is 'step name [output=all|none]: pred', "
                f"got {item!r}"
            )
        out_mode = (ms.group(2) or "all").lower()
        body = ms.group(3)
        assigns: dict[str, str] = {}
        raw_assigns: dict[str, str] = {}
        if "=>" in body:
            pred_txt, assign_txt = body.split("=>", 1)
            if not decls:
                raise KqlError(
                    "scan: step assignments (=>) need declare'd variables"
                )
            for a_item in _split_top(assign_txt):
                ma = re.match(
                    r"^([A-Za-z_]\w*)\s*=\s*(.+)$", a_item.strip(), re.DOTALL
                )
                if not ma or ma.group(1) not in var_names:
                    raise KqlError(
                        f"scan: assignment must target a declared variable, "
                        f"got {a_item!r}"
                    )
                assigns[ma.group(1)] = _sx(ma.group(2))
                raw_assigns[ma.group(1)] = ma.group(2)
        else:
            pred_txt = body
        steps.append((ms.group(1), _sx(pred_txt), assigns, out_mode))
        raw_steps.append((ms.group(1), pred_txt, raw_assigns, out_mode))
    if not steps:
        raise KqlError("scan needs at least one step")
    sub = _prune_scan_source(
        sub, downstream_cols, match_id, var_names, keys, last_order, steps
    )
    if concurrent:
        return _scan_concurrent(
            sub, last_order, keys, decls, raw_steps, match_id
        )
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    grp = f" GROUP BY {', '.join('__row.' + k for k in keys)}" if keys else ""
    n = len(steps)
    init_vars = "".join(
        f", '__v_{name}', {init}" for name, _t, init in decls
    )
    whens = []
    for i, (sname, pred, assigns, out_mode) in enumerate(steps):
        last = i == n - 1
        nxt = 0 if last else i + 1
        mid = "a.mid + CAST(1 AS BIGINT)" if last else "a.mid"
        post = {
            name: assigns.get(name, f"a.__v_{name}") for name in var_names
        }
        # emitted element carries POST-assignment values; completing the
        # last step resets the state vars to their inits for the next
        # sequence (Kusto's per-sequence state contract)
        state_vars = "".join(
            f", '__v_{name}', {init if last else post[name]}"
            for name, _t, init in decls
        )
        emit_vars = "".join(
            f", '__v_{name}', {post[name]}" for name in var_names
        )
        out_expr = (
            "a.out"
            if out_mode == "none"
            else (
                f"a.out || array("
                f"named_struct('__row', __r.__row, '__step', '{sname}', "
                f"'__mid', a.mid{emit_vars}))"
            )
        )
        whens.append(
            f"WHEN a.cur = {i} AND ({pred}) THEN named_struct("
            f"'cur', {nxt}, 'mid', {mid}{state_vars}, 'out', {out_expr})"
        )
    fold = "CASE\n      " + "\n      ".join(whens) + "\n      ELSE a END"
    out_cols = "__m.__row.*"
    out_cols += "".join(f", __m.__v_{name} AS {name}" for name in var_names)
    if match_id:
        out_cols += f", __m.__mid AS {match_id}"
    empty_vars = "".join(
        f", '__v_{name}', {init}" for name, _t, init in decls
    )
    return f"""SELECT {out_cols} FROM (
  SELECT aggregate(
    __rows,
    named_struct('cur', 0, 'mid', CAST(0 AS BIGINT){init_vars}, 'out',
      transform(slice(__rows, 1, 0), __r -> named_struct('__row', __r.__row,
        '__step', '', '__mid', CAST(0 AS BIGINT){empty_vars}))),
    (a, __r) -> {fold},
    a -> a.out) AS __ms
  FROM (
    SELECT sort_array(collect_list(struct(__rn, __row))) AS __rows FROM (
      SELECT __rn, struct(* EXCEPT (__rn)) AS __row FROM (
        SELECT *, row_number() OVER ({part}ORDER BY {last_order}) AS __rn
        FROM {sub}
      ) __sc0
    ) __sc1{grp}
  ) __sc2
) __sc3 LATERAL VIEW OUTER explode(__ms) __sct AS __m
WHERE __m IS NOT NULL"""


def _scan_concurrent(
    sub: str,
    last_order: str,
    keys: list[str],
    decls: list[tuple[str, str, str]],
    raw_steps: list[tuple[str, str, dict[str, str], str]],
    match_id: str | None,
) -> str:
    """The Kusto-FAITHFUL ``scan`` machine set (``scan kind=concurrent``):

    - At most ONE active sequence per step; sequences at different steps
      run concurrently.
    - Per record, steps evaluate against the PRE-record machine set
      (last→first in Kusto; equivalent here because every decision reads
      the old state): a record satisfying step k's predicate with the
      step-(k-1) sequence's variables PROMOTES that sequence to step k,
      replacing any sequence already there; a record satisfying step k
      with the step-k sequence's own variables (and no promotion passing
      through) is ABSORBED into it (this is how Kusto's single-step
      running-total idiom accumulates); a record satisfying step 1 with
      the INITIAL variable values starts a new sequence when slot 1 is
      empty or was just vacated by promotion.
    - Sequences never retire: the step-n sequence keeps absorbing
      step-n records (Kusto's contract — ``with_match_id`` is unique per
      sequence, assigned at creation, NOT a completion counter).
    - ``step name output=none`` advances state without emitting (Kusto's
      per-step output mode); default ``all`` emits every matched record
      with its sequence's post-assignment variables.

    Plan shape: identical to the greedy machine — ONE shuffle in the
    keyed ``partition by`` form (row_number window; groupBy reuses the
    partitioning; the whole machine set is a single JVM ``aggregate``
    fold whose state is n nullable slot structs — O(n) per record, n =
    step count)."""
    n = len(raw_steps)
    var_names = [name for name, _t, _i in decls]
    slot_fields = "".join(f", `__v_{nm}`: {t}" for nm, t, _i in decls)
    slot_type = f"STRUCT<`mid`: BIGINT{slot_fields}>"
    null_slot = f"CAST(NULL AS {slot_type})"
    init_refs = {nm: init for nm, _t, init in decls}

    def refs(slot: str) -> dict[str, str]:
        return {nm: f"{slot}.__v_{nm}" for nm in var_names}

    def sx(e: str, ctx: dict[str, str]) -> str:
        return _qualify_idents(_expr(e), "__r.__row.", ctx)

    def pred(i: int, ctx: dict[str, str]) -> str:
        return sx(raw_steps[i][1], ctx)

    def mk_slot(mid: str, i: int, ctx: dict[str, str]) -> str:
        assigns = raw_steps[i][2]
        vars_sql = "".join(
            f", '__v_{nm}', CAST({sx(assigns[nm], ctx)} AS {t})"
            if nm in assigns
            else f", '__v_{nm}', {ctx[nm]}"
            for nm, t, _i in decls
        )
        return f"named_struct('mid', {mid}{vars_sql})"

    def mk_emit(sname: str, mid: str, i: int, ctx: dict[str, str]) -> str:
        assigns = raw_steps[i][2]
        vars_sql = "".join(
            f", '__v_{nm}', CAST({sx(assigns[nm], ctx)} AS {t})"
            if nm in assigns
            else f", '__v_{nm}', {ctx[nm]}"
            for nm, t, _i in decls
        )
        return (
            f"named_struct('__row', __r.__row, '__step', '{sname}', "
            f"'__mid', {mid}{vars_sql})"
        )

    # promotion tests read the OLD machine set (simultaneous semantics)
    promo = ["false"]  # promo[0] unused; promo[k-1] would be creation
    for k in range(2, n + 1):
        prev = f"a.s{k - 1}"
        promo.append(
            f"({prev} IS NOT NULL AND ({pred(k - 1, refs(prev))}))"
        )
    promo.append("false")  # promo[n+1]: nothing vacates the last slot
    create = (
        f"((a.s1 IS NULL OR {promo[1] if n > 1 else 'false'}) "
        f"AND ({pred(0, init_refs)}))"
    )

    new_slots, emits = [], []
    for k in range(1, n + 1):
        cur = f"a.s{k}"
        vacated = promo[k] if k < n else "false"  # promo INTO k+1 is promo[k]
        absorb = (
            f"({cur} IS NOT NULL AND NOT {vacated} "
            f"AND ({pred(k - 1, refs(cur))}))"
        )
        sname = raw_steps[k - 1][0]
        if k == 1:
            slot = (
                f"CASE WHEN {absorb} THEN "
                f"{mk_slot(f'{cur}.mid', 0, refs(cur))} "
                f"WHEN {cur} IS NOT NULL AND NOT {vacated} THEN {cur} "
                f"WHEN {create} THEN {mk_slot('a.seq', 0, init_refs)} "
                f"ELSE {null_slot} END"
            )
            emit = (
                f"CASE WHEN {absorb} THEN "
                f"{mk_emit(sname, f'{cur}.mid', 0, refs(cur))} "
                f"WHEN {create} THEN {mk_emit(sname, 'a.seq', 0, init_refs)} "
                f"ELSE NULL END"
            )
        else:
            prev = f"a.s{k - 1}"
            slot = (
                f"CASE WHEN {promo[k - 1]} THEN "
                f"{mk_slot(f'{prev}.mid', k - 1, refs(prev))} "
                f"WHEN {absorb} THEN "
                f"{mk_slot(f'{cur}.mid', k - 1, refs(cur))} "
                f"WHEN {cur} IS NOT NULL AND NOT {vacated} THEN {cur} "
                f"ELSE {null_slot} END"
            )
            emit = (
                f"CASE WHEN {promo[k - 1]} THEN "
                f"{mk_emit(sname, f'{prev}.mid', k - 1, refs(prev))} "
                f"WHEN {absorb} THEN "
                f"{mk_emit(sname, f'{cur}.mid', k - 1, refs(cur))} "
                f"ELSE NULL END"
            )
        new_slots.append(f"'s{k}', {slot}")
        if raw_steps[k - 1][3] != "none":
            emits.append(emit)
    out_append = (
        f"a.out || filter(array({', '.join(emits)}), __e -> __e IS NOT NULL)"
        if emits
        else "a.out"
    )
    fold = (
        f"named_struct('seq', a.seq + IF({create}, CAST(1 AS BIGINT), "
        f"CAST(0 AS BIGINT)), "
        + ", ".join(new_slots)
        + f", 'out', {out_append})"
    )
    empty_vars = "".join(
        f", '__v_{nm}', {init}" for nm, _t, init in decls
    )
    init_slots = ", ".join(f"'s{k}', {null_slot}" for k in range(1, n + 1))
    out_cols = "__m.__row.*"
    out_cols += "".join(f", __m.__v_{nm} AS {nm}" for nm in var_names)
    if match_id:
        out_cols += f", __m.__mid AS {match_id}"
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    grp = f" GROUP BY {', '.join('__row.' + k for k in keys)}" if keys else ""
    return f"""SELECT {out_cols} FROM (
  SELECT aggregate(
    __rows,
    named_struct('seq', CAST(0 AS BIGINT), {init_slots}, 'out',
      transform(slice(__rows, 1, 0), __r -> named_struct('__row', __r.__row,
        '__step', '', '__mid', CAST(0 AS BIGINT){empty_vars}))),
    (a, __r) -> {fold},
    a -> a.out) AS __ms
  FROM (
    SELECT sort_array(collect_list(struct(__rn, __row))) AS __rows FROM (
      SELECT __rn, struct(* EXCEPT (__rn)) AS __row FROM (
        SELECT *, row_number() OVER ({part}ORDER BY {last_order}) AS __rn
        FROM {sub}
      ) __sc0
    ) __sc1{grp}
  ) __sc2
) __sc3 LATERAL VIEW OUTER explode(__ms) __sct AS __m
WHERE __m IS NOT NULL"""


def _sliding_window_counts(sub: str, argstr: str) -> str:
    """``evaluate sliding_window_counts(Id, Timeline, Lookback, Bin)`` —
    per bin-aligned window ending at each bin: Count = rows whose
    timestamp falls in (bin − lookback, bin], Dcount = distinct ids there.

    Lowering — the scalable shape, NOT a range join: each row explodes
    into the lookback/bin bins it covers (bounded fan-out = the window
    ratio), then ONE hash aggregate per bin; phantom bins past the last
    observed one are cut by a 1-row max subquery.  Subset: lookback must
    be a multiple of bin (Kusto requires the same), no extra dims."""
    args = _split_top(argstr)
    if len(args) != 4:
        raise KqlError(
            "sliding_window_counts subset: (IdColumn, TimelineColumn, "
            f"Lookback, Bin), got {argstr!r}"
        )
    id_col, ts_col = args[0].strip(), args[1].strip()
    lb, bn = _ts_secs(args[2]), _ts_secs(args[3])
    if not lb or not bn or lb % bn != 0:
        raise KqlError(
            "sliding_window_counts: Lookback/Bin must be timespan literals "
            f"with Lookback a multiple of Bin, got {args[2]!r}/{args[3]!r}"
        )
    b0 = (
        f"CAST(floor(unix_timestamp({ts_col}) / {bn}) AS BIGINT) * {bn}"
    )
    return f"""SELECT timestamp_seconds(__b) AS {ts_col},
       CAST(count(*) AS BIGINT) AS Count,
       CAST(count(DISTINCT __id) AS BIGINT) AS Dcount
FROM (
  SELECT __id, explode(sequence(__b0, __b0 + {lb - bn}, {bn})) AS __b
  FROM (SELECT {id_col} AS __id, {b0} AS __b0 FROM {sub}) __sw0
) __sw1
CROSS JOIN (SELECT max({b0}) AS __mx FROM {sub}) __swm
WHERE __b <= __mx
GROUP BY __b"""


def _rolling_percentile(sub: str, argstr: str) -> str:
    """``evaluate rolling_percentile(ValueColumn, Percentile,
    IndexColumn, BinSize, WindowSize)`` — per BinSize-aligned bin, the
    exact interpolated percentile of the value over the trailing
    WindowSize bins.  The sliding_window_counts fan-out shape: each row
    explodes into the WindowSize bins it covers, ONE percentile hash
    aggregate per bin, phantom tail bins cut by a 1-row max subquery —
    never a range join.  Deviation: Kusto's percentile is a T-digest
    approximation; this is Spark's exact interpolated percentile (the
    dialect-wide percentile contract)."""
    args = _split_top(argstr)
    if len(args) != 5:
        raise KqlError(
            "rolling_percentile subset: (ValueColumn, Percentile, "
            f"IndexColumn, BinSize, WindowSize), got {argstr!r}"
        )
    val, ts_col = args[0].strip(), args[2].strip()
    try:
        frac = float(args[1]) / 100.0
    except ValueError:
        raise KqlError(
            f"rolling_percentile: Percentile must be numeric, got {args[1]!r}"
        )
    bn = _ts_secs(args[3])
    if not bn:
        raise KqlError(
            f"rolling_percentile: BinSize must be a timespan literal, "
            f"got {args[3]!r}"
        )
    try:
        nwin = int(args[4])
    except ValueError:
        raise KqlError(
            f"rolling_percentile: WindowSize must be an integer bin "
            f"count, got {args[4]!r}"
        )
    if nwin < 1:
        raise KqlError("rolling_percentile: WindowSize must be >= 1")
    b0 = f"CAST(floor(unix_timestamp({ts_col}) / {bn}) AS BIGINT) * {bn}"
    pname = args[1].strip().replace(".", "_")
    return f"""SELECT timestamp_seconds(__b) AS {ts_col},
       percentile(__v, {frac}) AS rolling_percentile_{pname}
FROM (
  SELECT {val} AS __v,
         explode(sequence(__b0, __b0 + {(nwin - 1) * bn}, {bn})) AS __b
  FROM (SELECT {val}, {b0} AS __b0 FROM {sub}) __rp0
) __rp1
CROSS JOIN (SELECT max({b0}) AS __mx FROM {sub}) __rpm
WHERE __b <= __mx
GROUP BY __b"""


def _activity_engagement(sub: str, argstr: str) -> str:
    """``evaluate activity_engagement(Id, Timeline, InnerWindow,
    OuterWindow)`` — the DAU/MAU-style engagement ratio: per inner-window
    bin, dcount of ids active in that bin vs dcount active in the outer
    window ending at that bin, plus their ratio.

    Lowering — the sliding_window_counts shape, never a range join: the
    DISTINCT (id, bin) pre-agg fans each pair into the outer/inner bins
    it covers (bounded fan-out = the window ratio), the inner membership
    is the ``fanned bin == home bin`` flag, and ONE hash aggregate per
    bin computes both distinct counts; phantom bins past the last
    observed one are cut by a 1-row max subquery.  Subset: OuterWindow
    must be a multiple of InnerWindow (Kusto requires the same)."""
    args = _split_top(argstr)
    if len(args) != 4:
        raise KqlError(
            "activity_engagement subset: (IdColumn, TimelineColumn, "
            f"InnerActivityWindow, OuterActivityWindow), got {argstr!r}"
        )
    id_col, ts_col = args[0].strip(), args[1].strip()
    inner, outer = _ts_secs(args[2]), _ts_secs(args[3])
    if not inner or not outer or outer % inner != 0:
        raise KqlError(
            "activity_engagement: windows must be timespan literals with "
            f"Outer a multiple of Inner, got {args[2]!r}/{args[3]!r}"
        )
    b0 = f"CAST(floor(unix_timestamp({ts_col}) / {inner}) AS BIGINT) * {inner}"
    return f"""SELECT timestamp_seconds(__b) AS {ts_col},
       CAST(count(DISTINCT IF(__b = __b0, __id, NULL)) AS BIGINT)
         AS dcount_activities_inner,
       CAST(count(DISTINCT __id) AS BIGINT) AS dcount_activities_outer,
       round(count(DISTINCT IF(__b = __b0, __id, NULL))
             / CAST(count(DISTINCT __id) AS DOUBLE), 6) AS activity_ratio
FROM (
  SELECT __id, __b0,
         explode(sequence(__b0, __b0 + {outer - inner}, {inner})) AS __b
  FROM (SELECT DISTINCT {id_col} AS __id, {b0} AS __b0 FROM {sub}) __ae0
) __ae1
CROSS JOIN (SELECT max({b0}) AS __mx FROM {sub}) __aem
WHERE __b <= __mx
GROUP BY __b"""


def _session_count(sub: str, argstr: str) -> str:
    """``evaluate session_count(Id, Timeline, Bin, LookBackWindow)`` —
    sessions STARTED per bin, where a new session starts at an event with
    no same-id activity within the preceding LookBackWindow (the standard
    gap rule).

    Lowering: ONE per-id lag window (the session-start predicate is
    ``lag IS NULL OR gap > lookback``) then one bin hash aggregate —
    shuffle on id, aggregate on bin, nothing quadratic.  Subset: bounds
    derive from the data (no Start/End operands, no extra dims)."""
    args = _split_top(argstr)
    if len(args) != 4:
        raise KqlError(
            "session_count subset: (IdColumn, TimelineColumn, Bin, "
            f"LookBackWindow), got {argstr!r}"
        )
    id_col, ts_col = args[0].strip(), args[1].strip()
    bn, lb = _ts_secs(args[2]), _ts_secs(args[3])
    if not bn or not lb:
        raise KqlError(
            "session_count: Bin/LookBackWindow must be timespan literals, "
            f"got {args[2]!r}/{args[3]!r}"
        )
    b = f"CAST(floor(__ts / {bn}) AS BIGINT) * {bn}"
    return f"""SELECT timestamp_seconds({b}) AS {ts_col},
       CAST(sum(IF(__prev IS NULL OR __ts - __prev > {lb}, 1, 0)) AS BIGINT)
         AS count_sessions
FROM (
  SELECT unix_timestamp({ts_col}) AS __ts,
         lag(unix_timestamp({ts_col}), 1)
           OVER (PARTITION BY {id_col} ORDER BY unix_timestamp({ts_col}))
           AS __prev
  FROM {sub}
) __sc0
GROUP BY {b}"""


def _active_users_count(sub: str, argstr: str) -> str:
    """``evaluate active_users_count(Id, Timeline, LookbackWindow, Period,
    ActivePeriodsCount, Bin)`` — per bin, distinct ids active in at least
    ActivePeriodsCount DISTINCT periods within the lookback window ending
    at that bin (the rolling-retention / stickiness counter).

    Lowering: DISTINCT (id, period) pre-agg, bounded fan-out of each
    period into the lookback/bin report bins containing it, one (bin, id)
    aggregate counting distinct periods, one bin aggregate counting
    qualifying ids — two hash aggregates, no range join, fan-out bounded
    by the lookback/bin ratio.  Subset: Lookback and Period must be
    multiples of Bin."""
    args = _split_top(argstr)
    if len(args) != 6:
        raise KqlError(
            "active_users_count subset: (IdColumn, TimelineColumn, "
            f"LookbackWindow, Period, ActivePeriodsCount, Bin), got {argstr!r}"
        )
    id_col, ts_col = args[0].strip(), args[1].strip()
    lb, per, bn = _ts_secs(args[2]), _ts_secs(args[3]), _ts_secs(args[5])
    try:
        k = int(args[4])
    except ValueError:
        raise KqlError(
            f"active_users_count: ActivePeriodsCount must be an integer, "
            f"got {args[4]!r}"
        )
    if not lb or not per or not bn or lb % bn != 0 or per % bn != 0:
        raise KqlError(
            "active_users_count: Lookback/Period/Bin must be timespan "
            "literals with Lookback and Period multiples of Bin, got "
            f"{args[2]!r}/{args[3]!r}/{args[5]!r}"
        )
    p0 = f"CAST(floor(unix_timestamp({ts_col}) / {per}) AS BIGINT) * {per}"
    return f"""SELECT timestamp_seconds(__b) AS {ts_col},
       CAST(count(*) AS BIGINT) AS dcount
FROM (
  SELECT __b, __id FROM (
    SELECT __id, __p0,
           explode(sequence(__p0, __p0 + {lb - bn}, {bn})) AS __b
    FROM (SELECT DISTINCT {id_col} AS __id, {p0} AS __p0 FROM {sub}) __au0
  ) __au1
  CROSS JOIN (SELECT max({p0}) AS __mx FROM {sub}) __aum
  WHERE __b <= __mx
  GROUP BY __b, __id
  HAVING count(DISTINCT __p0) >= {k}
) __au2
GROUP BY __b"""


def _funnel_sequence_completion(sub: str, argstr: str) -> str:
    """``evaluate funnel_sequence_completion(Id, Timeline, Start, End,
    State, dynamic([s1, ...]), dynamic([w1, ...]))`` — per max-window w:
    how many ids complete each funnel prefix within w of their FIRST
    step (the greedy-earliest chain: step j binds to the first matching
    row after the row that bound step j-1, rows ordered by (timeline,
    state)).

    Lowering — the scan-machine shape: ONE per-id sorted-collect fold
    carries k nullable step timestamps (each row advances at most the
    FIRST unset slot whose predecessor is set), then the per-id chain
    explodes over the literal window list (bounded fan-out = |windows|)
    into one hash aggregate.  One exchange for the fold, one for the
    window aggregate.  Output: Period (seconds — the dialect's timespan
    form) + one count column per step literal."""
    args = _split_top(argstr)
    if len(args) != 7:
        raise KqlError(
            "funnel_sequence_completion subset: (IdColumn, TimelineColumn, "
            f"Start, End, StateColumn, dynamic([steps]), "
            f"dynamic([windows])), got {argstr!r}"
        )
    id_col, ts_col = args[0].strip(), args[1].strip()
    start, end = _expr(args[2]), _expr(args[3])
    state = args[4].strip()
    mseq = re.match(
        r"^dynamic\s*\(\s*\[(.*)\]\s*\)\s*$", args[5].strip(),
        re.IGNORECASE | re.DOTALL,
    )
    mwin = re.match(
        r"^dynamic\s*\(\s*\[(.*)\]\s*\)\s*$", args[6].strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if not mseq or not mwin:
        raise KqlError(
            "funnel_sequence_completion: Sequence and Windows must be "
            "dynamic([...]) literals"
        )
    steps = [_expr(s) for s in _split_top(mseq.group(1))]
    wins = []
    for w in _split_top(mwin.group(1)):
        secs = _ts_secs(w) or (int(w) if w.strip().isdigit() else None)
        if secs is None:
            raise KqlError(
                f"funnel_sequence_completion: window {w!r} must be a "
                "timespan or integer-seconds literal"
            )
        wins.append(secs)
    if not steps or not wins:
        raise KqlError("funnel_sequence_completion: empty steps/windows")
    k = len(steps)
    init = ", ".join(f"'t{j}', CAST(NULL AS DOUBLE)" for j in range(1, k + 1))

    def _set(j: int) -> str:
        fields = ", ".join(
            f"'t{i}', " + ("__r.ts" if i == j else f"__a.t{i}")
            for i in range(1, k + 1)
        )
        return f"named_struct({fields})"

    branches = []
    for j, s in enumerate(steps, start=1):
        prev = "" if j == 1 else f"__a.t{j - 1} IS NOT NULL AND "
        branches.append(
            f"WHEN {prev}__a.t{j} IS NULL AND __r.s = {s} THEN {_set(j)}"
        )
    fold = (
        f"aggregate(sort_array(collect_list(named_struct("
        f"'ts', CAST(unix_timestamp({ts_col}) AS DOUBLE), "
        f"'s', {state}))), "
        f"named_struct({init}), "
        f"(__a, __r) -> CASE {' '.join(branches)} ELSE __a END)"
    )
    counts = ", ".join(
        f"CAST(count_if(__f.t{j} IS NOT NULL AND "
        f"__f.t{j} - __f.t1 <= __w) AS BIGINT) AS `{_strip_lit(steps[j - 1])}`"
        for j in range(1, k + 1)
    )
    winlist = ", ".join(str(w) for w in wins)
    return f"""SELECT CAST(__w AS BIGINT) AS Period, {counts}
FROM (
  SELECT {fold} AS __f FROM {sub}
  WHERE {ts_col} >= {start} AND {ts_col} < {end}
  GROUP BY {id_col}
) __fc
LATERAL VIEW explode(array({winlist})) __fcw AS __w
GROUP BY __w"""


def _strip_lit(s: str) -> str:
    """Step literal → output column name (Kusto names count columns by
    the step value)."""
    return s.strip().strip("'\"").replace("`", "")


def _sequence_detect(sub: str, argstr: str) -> str:
    """``evaluate sequence_detect(Timeline, MaxStepWindow, MaxSpan,
    name1 = pred1, ..., namek = predk, IdColumn)`` — ids whose rows
    contain the predicate sequence, each consecutive gap within
    MaxStepWindow and the whole chain within MaxSpan; output one row per
    completing id with the bound step timestamps (columns named by the
    predicate aliases, Kusto's shape).

    Lowering — the funnel_sequence_completion fold with general
    predicates: each row's k predicate bits evaluate BEFORE the per-id
    sorted-collect (so arbitrary expressions ride the scan), the fold
    binds the greedy-earliest chain, and the window constraints filter
    completed chains.  Deviation (documented): Kusto restarts a sequence
    when a step arrives outside MaxStepWindow; the greedy-earliest
    subset binds first occurrences and filters — identical whenever the
    first chain is the only chain (the planted-test contract)."""
    args = _split_top(argstr)
    if len(args) < 5:
        raise KqlError(
            "sequence_detect subset: (TimelineColumn, MaxStepWindow, "
            "MaxSpan, name1 = pred1, ..., IdColumn) — ≥2 named predicates"
        )
    ts_col = args[0].strip()
    step_w = _ts_secs(args[1]) or (
        int(args[1]) if args[1].strip().isdigit() else None
    )
    span_w = _ts_secs(args[2]) or (
        int(args[2]) if args[2].strip().isdigit() else None
    )
    if step_w is None or span_w is None:
        raise KqlError(
            "sequence_detect: MaxStepWindow/MaxSpan must be timespan or "
            f"integer-seconds literals, got {args[1]!r}/{args[2]!r}"
        )
    id_col = args[-1].strip()
    if not re.match(r"^[A-Za-z_]\w*$", id_col):
        raise KqlError(
            f"sequence_detect: last argument must be the Id column, got "
            f"{args[-1]!r}"
        )
    preds: list[tuple[str, str]] = []
    for item in args[3:-1]:
        m = re.match(r"(?s)^([A-Za-z_]\w*)\s*=\s*(?![=])(.+)$", item.strip())
        if not m:
            raise KqlError(
                f"sequence_detect: steps must be 'name = predicate', got "
                f"{item!r}"
            )
        preds.append((m.group(1), _expr(m.group(2))))
    if len(preds) < 2:
        raise KqlError("sequence_detect needs at least 2 steps")
    k = len(preds)
    bits = ", ".join(
        f"'p{j}', CAST(({p}) AS BOOLEAN)"
        for j, (_n, p) in enumerate(preds, start=1)
    )
    init = ", ".join(f"'t{j}', CAST(NULL AS DOUBLE)" for j in range(1, k + 1))

    def _set(j: int) -> str:
        fields = ", ".join(
            f"'t{i}', " + ("__r.ts" if i == j else f"__a.t{i}")
            for i in range(1, k + 1)
        )
        return f"named_struct({fields})"

    branches = []
    for j in range(1, k + 1):
        prev = "" if j == 1 else f"__a.t{j - 1} IS NOT NULL AND "
        branches.append(
            f"WHEN {prev}__a.t{j} IS NULL AND __r.p{j} THEN {_set(j)}"
        )
    fold = (
        f"aggregate(sort_array(collect_list(named_struct("
        f"'ts', CAST(unix_timestamp({ts_col}) AS DOUBLE), {bits}))), "
        f"named_struct({init}), "
        f"(__a, __r) -> CASE {' '.join(branches)} ELSE __a END)"
    )
    gaps = " AND ".join(
        f"__f.t{j} - __f.t{j - 1} <= {step_w}" for j in range(2, k + 1)
    )
    outs = ", ".join(
        f"timestamp_seconds(__f.t{j}) AS `{n}`"
        for j, (n, _p) in enumerate(preds, start=1)
    )
    return f"""SELECT {id_col}, {outs}
FROM (SELECT {id_col}, {fold} AS __f FROM {sub} GROUP BY {id_col}) __sd
WHERE __f.t{k} IS NOT NULL AND {gaps}
  AND __f.t{k} - __f.t1 <= {span_w}"""


def _activity_counts_metrics(sub: str, argstr: str) -> str:
    """``evaluate activity_counts_metrics(Id, Timeline, Bin)`` — per bin:
    ``count`` (rows), ``dcount`` (distinct ids), ``new_dcount`` (ids whose
    FIRST appearance is this bin), ``aggregated_dcount`` (cumulative
    distinct ids through this bin).

    Lowering: one (bin, id) pre-agg carrying each id's global first bin
    (a window min, no second scan), then one bin aggregate; the
    cumulative distinct is the running sum of new_dcount — an O(#bins)
    window, never a rescan.  Subset: bounds derive from the data (no
    Start/End operands)."""
    args = _split_top(argstr)
    if len(args) != 3:
        raise KqlError(
            "activity_counts_metrics subset: (IdColumn, TimelineColumn, "
            f"Bin), got {argstr!r}"
        )
    id_col, ts_col = args[0].strip(), args[1].strip()
    bn = _ts_secs(args[2])
    if not bn:
        raise KqlError(
            f"activity_counts_metrics: Bin must be a timespan literal, "
            f"got {args[2]!r}"
        )
    b = f"CAST(floor(unix_timestamp({ts_col}) / {bn}) AS BIGINT) * {bn}"
    return f"""SELECT timestamp_seconds(__b) AS {ts_col},
       CAST(sum(__n) AS BIGINT) AS count,
       CAST(count(*) AS BIGINT) AS dcount,
       CAST(sum(IF(__fb = __b, 1, 0)) AS BIGINT) AS new_dcount,
       CAST(sum(sum(IF(__fb = __b, 1, 0)))
            OVER (ORDER BY __b ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS aggregated_dcount
FROM (
  SELECT __b, __id, count(*) AS __n,
         min(min(__b)) OVER (PARTITION BY __id) AS __fb
  FROM (SELECT {id_col} AS __id, {b} AS __b FROM {sub}) __ac0
  GROUP BY __b, __id
) __ac1
GROUP BY __b"""


def _new_activity_metrics(sub: str, argstr: str) -> str:
    """``evaluate new_activity_metrics(Id, Timeline, Bin)`` — cohort
    retention, the subset emitting one row per (cohort bin, activity bin)
    pair with the cohort size, retained distinct ids, and the retention
    rate (Kusto's full plugin adds churn and window variants — documented
    subset).

    Lowering: one (bin, id) distinct pre-agg carrying the id's cohort
    (first bin, a window min — no second scan), one (cohort, bin)
    aggregate, and a broadcast-sized cohort-size join (#cohorts rows)."""
    args = _split_top(argstr)
    if len(args) != 3:
        raise KqlError(
            "new_activity_metrics subset: (IdColumn, TimelineColumn, Bin), "
            f"got {argstr!r}"
        )
    id_col, ts_col = args[0].strip(), args[1].strip()
    bn = _ts_secs(args[2])
    if not bn:
        raise KqlError(
            f"new_activity_metrics: Bin must be a timespan literal, "
            f"got {args[2]!r}"
        )
    b = f"CAST(floor(unix_timestamp({ts_col}) / {bn}) AS BIGINT) * {bn}"
    return f"""SELECT timestamp_seconds(__c) AS from_{ts_col},
       timestamp_seconds(__b) AS to_{ts_col},
       CAST(__cs AS BIGINT) AS cohort_size,
       CAST(count(*) AS BIGINT) AS dcount_retained,
       round(count(*) / CAST(__cs AS DOUBLE), 6) AS retention_rate
FROM (
  SELECT DISTINCT __b, __id,
         min(__b) OVER (PARTITION BY __id) AS __c
  FROM (SELECT {id_col} AS __id, {b} AS __b FROM {sub}) __na0
) __na1
JOIN (
  SELECT __c2, count(*) AS __cs FROM (
    SELECT __id2, min(__b2) AS __c2 FROM (
      SELECT {id_col} AS __id2, {b} AS __b2 FROM {sub}
    ) __na2 GROUP BY __id2
  ) __na3 GROUP BY __c2
) __na4 ON __c = __c2
GROUP BY __c, __b, __cs"""


def _funnel_sequence(sub: str, argstr: str, last_order: str | None = None) -> str:
    """``evaluate funnel_sequence(Id, Timeline, State, dynamic([s1, s2,
    ...]))`` — for every per-id CONSECUTIVE occurrence of the state
    sequence (serialized by the timeline), tally the states immediately
    before and after it: output (prev, next, dcount) with NULL prev/next
    at sequence boundaries.  Subset: literal state sequences; the
    windowed Start/End/MaxWindow operands are out (apply a where first).

    Lowering: ONE per-id window pass (lag 1 + lead k via the same sort),
    then a (prev, next) hash aggregate — no joins, no explode.  A
    preceding ``sort by`` refines the serialized order (tie-breaks)."""
    args = _split_top(argstr)
    if len(args) != 4:
        raise KqlError(
            "funnel_sequence subset: (IdColumn, TimelineColumn, "
            f"StateColumn, dynamic([...])), got {argstr!r}"
        )
    id_col, ts_col, state = (a.strip() for a in args[:3])
    md = re.match(
        r"^dynamic\s*\(\s*\[(.*)\]\s*\)\s*$", args[3].strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if not md:
        raise KqlError(
            f"funnel_sequence: Sequence must be dynamic([...]), got {args[3]!r}"
        )
    seq = [_expr(s) for s in _split_top(md.group(1))]
    if len(seq) < 1:
        raise KqlError("funnel_sequence: empty sequence")
    k = len(seq)
    order_by = last_order or ts_col
    match = " AND ".join(
        f"lead({state}, {i}) OVER __w = {s}" if i else f"{state} = {s}"
        for i, s in enumerate(seq)
    )
    return f"""SELECT __prev AS prev, __next AS next,
       CAST(count(DISTINCT __id) AS BIGINT) AS dcount
FROM (
  SELECT {id_col} AS __id,
         lag({state}, 1) OVER __w AS __prev,
         lead({state}, {k}) OVER __w AS __next,
         ({match}) AS __hit
  FROM {sub}
  WINDOW __w AS (PARTITION BY {id_col} ORDER BY {order_by})
) __fs WHERE __hit
GROUP BY __prev, __next"""


def _partition(
    sub: str, rest: str, downstream_cols: set[str] | None = None
) -> str:
    """Lower ``partition by Key ( <subpipeline> )`` — Kusto's groupwise
    apply.  The subquery runs logically per key value and results union;
    the subset lowers every stage to key-aware relational forms so the
    whole thing costs NO shuffle beyond the partition key itself:

    - ``where`` / ``extend``: key-independent, pass through unchanged
    - ``sort by``: records the per-key serialization order (no global sort
      is emitted — ordering inside a partition only matters to the stages
      below)
    - ``top N by X``: per-key row_number window over X
    - ``take N``: per-key row_number window over the recorded sort
    - ``summarize aggs [by cols]``: GROUP BY (Key + cols) — the partition
      key joins the group keys, exactly Kusto's output shape
    - ``scan ...``: the stateful row machine with one machine PER KEY (the
      scalable form; see :func:`_scan`)

    Every lowered form shuffles on (or subsumes) the partition key once;
    pytest gates the scan form's single exchange."""
    m = re.match(
        # hint.strategy=shuffle etc. are execution hints in Kusto — the
        # Catalyst lowering already shuffles on the key, so they parse and
        # drop (Kusto's own docs describe them as non-semantic)
        r"^(?:hint\.\w+\s*=\s*\w+\s+)*by\s+([A-Za-z_]\w*)\s*\((.+)\)\s*$",
        rest.strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise KqlError(
            f"partition needs '[hint...] by Key ( <subpipeline> )', got {rest!r}"
        )
    key, pipe = m.group(1), m.group(2).strip()
    rel = f"SELECT * FROM {sub}"
    sub_order: str | None = None
    sub_stages = [s.strip() for s in _split_top(pipe, "|")]
    for i, st in enumerate(sub_stages):
        if not st:
            raise KqlError("partition: empty subpipeline stage")
        wrap = f"({rel}) __p{i}"
        kw = st.split(None, 1)
        op = kw[0].lower()
        arg = kw[1] if len(kw) > 1 else ""
        if op == "where":
            rel = f"SELECT * FROM {wrap} WHERE {_expr(arg)}"
        elif op == "extend":
            items = ", ".join(_alias_item(x) for x in _split_top(arg))
            rel = f"SELECT *, {items} FROM {wrap}"
        elif op in ("sort", "order"):
            sub_order = _order_list(
                re.sub(r"^by\s+", "", arg, flags=re.IGNORECASE)
            )
        elif op == "top":
            mt = re.match(r"^(\d+)\s+by\s+(.+)$", arg, re.IGNORECASE | re.DOTALL)
            if not mt:
                raise KqlError(f"partition top needs 'top N by expr', got {arg!r}")
            sub_order = _order_list(mt.group(2))
            rel = (
                f"SELECT * EXCEPT (__pr) FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY {key} ORDER BY {sub_order}) AS __pr "
                f"FROM {wrap}) __pt{i} WHERE __pr <= {mt.group(1)}"
            )
        elif op in ("take", "limit"):
            if sub_order is None:
                raise KqlError(
                    "partition take needs a preceding sort (per-key order)"
                )
            rel = (
                f"SELECT * EXCEPT (__pr) FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY {key} ORDER BY {sub_order}) AS __pr "
                f"FROM {wrap}) __pt{i} WHERE __pr <= {int(arg)}"
            )
        elif op == "summarize":
            mb = re.search(r"\bby\b", arg, re.IGNORECASE)
            if mb:
                aggs_txt = arg[: mb.start()].strip()
                keys_txt = arg[mb.end():].strip()
            else:
                aggs_txt, keys_txt = arg.strip(), ""
            agg_items = [
                _alias_item(x, agg=True) for x in _split_top(aggs_txt)
            ]
            extra = [_expr(x) for x in _split_top(keys_txt)] if keys_txt else []
            grp = ", ".join([key] + extra)
            sel = ", ".join([key] + extra + agg_items)
            rel = f"SELECT {sel} FROM {wrap} GROUP BY {grp}"
        elif op == "scan":
            # the downstream-project prune only holds when nothing else in
            # the subpipeline runs after the scan (a later stage could read
            # columns the project drops)
            dcols = downstream_cols if i == len(sub_stages) - 1 else None
            rel = _scan(wrap, arg, sub_order, keys=[key], downstream_cols=dcols)
        else:
            raise KqlError(
                f"partition: unsupported subpipeline stage {op!r} (subset: "
                "where, extend, sort, top, take, summarize, scan)"
            )
    return rel


def _facet(sub: str, rest: str) -> str:
    """Lower ``facet by c1, c2, ...`` — Kusto returns one value-count table
    per column; the single-DataFrame model encodes that union-style as
    (facet, value, count_) rows (documented deviation — the per-column
    tables are the ``facet = 'c'`` slices)."""
    m = re.match(r"^by\s+(.+)$", rest.strip(), re.IGNORECASE | re.DOTALL)
    if not m:
        raise KqlError(f"facet needs 'by col[, col...]', got {rest!r}")
    parts = []
    for c in _split_top(m.group(1)):
        if not re.match(r"^[A-Za-z_]\w*$", c.strip()):
            raise KqlError(f"facet subset: plain column names only, got {c!r}")
        c = c.strip()
        parts.append(
            f"SELECT '{c}' AS facet, CAST({c} AS STRING) AS value, "
            f"count(*) AS count_ FROM {sub} GROUP BY {c}"
        )
    return " UNION ALL ".join(parts)


def _ipv4_lookup(sub: str, argstr: str, lets: dict[str, str]) -> str:
    """evaluate ipv4_lookup(LookupTable, SourceIPColumn, IPKeyColumn):
    enrich rows with the lookup row whose CIDR contains the source IP,
    longest prefix winning (Kusto's matched-rows default).

    Scale shape — a pure EQUI-join pipeline, never a range/theta join:
    the source fans out over the lookup's DISTINCT prefix lengths (≤ 33
    rows, broadcast), each copy hashes on (prefix_len, ip >> (32-len)) —
    so a 100 TB fact side hash-joins a broadcast lookup per mask, and the
    longest-prefix election is one row_number window keyed by a synthetic
    row id.  Subset: matched rows only (no return_unmatched), source/
    lookup column names must be disjoint (SQL ambiguity surfaces as an
    analysis error rather than Kusto's silent rename), and DUPLICATE
    CIDR keys elect an unspecified row among the duplicates (same as
    Kusto — dedup the lookup for determinism)."""
    a = _split_top(argstr)
    if len(a) != 3:
        raise KqlError(
            "ipv4_lookup subset: (LookupTable, SourceIPColumn, IPKeyColumn)"
        )
    lk_name, src_col, key_col = a[0].strip(), a[1].strip(), a[2].strip()
    if not all(
        re.match(r"^[A-Za-z_]\w*$", c) for c in (lk_name, src_col, key_col)
    ):
        raise KqlError(
            f"ipv4_lookup needs bare table/column names, got {argstr!r}"
        )
    lk = lets.get(lk_name, lk_name)
    if " " in lk:
        lk = f"({lk})"
    base = _ipv4_num(f"element_at(split({key_col}, '/'), 1)")
    sfx = (
        f"coalesce(try_cast(try_element_at(split({key_col}, '/'), 2) "
        f"AS INT), 32)"
    )
    lkq = f"(SELECT *, {base} AS __b, {sfx} AS __m FROM {lk} __lk0)"
    srcn = _ipv4_num(src_col)
    return (
        f"SELECT * EXCEPT (__rid, __n, __b, __m, __rk) FROM ("
        f"SELECT __j.*, row_number() OVER (PARTITION BY __rid "
        f"ORDER BY __m DESC, __b DESC) AS __rk FROM ("
        f"SELECT __s.*, __l.* FROM "
        f"(SELECT *, monotonically_increasing_id() AS __rid, "
        f"{srcn} AS __n FROM {sub}) __s "
        f"CROSS JOIN (SELECT DISTINCT __m AS __mm FROM {lkq} __lk1) __mk "
        f"JOIN {lkq} __l "
        f"ON __l.__m = __mk.__mm "
        f"AND shiftright(__s.__n, 32 - __mk.__mm) "
        f"= shiftright(__l.__b, 32 - __l.__m)) __j) __q WHERE __rk = 1"
    )


def _diffpatterns(sub: str, argstr: str) -> str:
    """evaluate diffpatterns(SplitCol, valA, valB, threshold, col1[, ...]):
    mine attribute patterns whose prevalence DIFFERS between the two row
    splits — ONE CUBE aggregate over the attribute columns computing both
    split counts map-side (never two scans of the fact side; the split
    totals are two scalar subqueries Catalyst folds into one reused scan).
    Output per Kusto: CountA/CountB/PercentA/PercentB/PercentDiffAB + the
    attribute columns with NULL wildcards; kept when |PercentA - PercentB|
    ≥ threshold·100 points.  Subset deviations (documented): the column
    set is explicit (Kusto infers it), SegmentId is omitted (ordering is
    the caller's sort), and the weight-column/max-segments tuning knobs
    are not accepted."""
    a = _split_top(argstr)
    if len(a) < 5:
        raise KqlError(
            "diffpatterns subset: (SplitCol, valA, valB, threshold, "
            "col1[, col2, ...]) — the column list must be explicit"
        )
    split_col = a[0].strip()
    if not re.match(r"^[A-Za-z_]\w*$", split_col):
        raise KqlError(f"diffpatterns: SplitCol must be a column, got {a[0]!r}")
    va, vb, thr = _expr(a[1]), _expr(a[2]), _expr(a[3])
    cols = [c.strip() for c in a[4:]]
    if len(cols) > 5:
        raise KqlError("diffpatterns subset: at most 5 attribute columns")
    if not all(re.match(r"^[A-Za-z_]\w*$", c) for c in cols):
        raise KqlError(f"diffpatterns needs bare column names, got {cols!r}")
    tota = f"(SELECT count(*) FROM {sub} WHERE {split_col} = {va})"
    totb = f"(SELECT count(*) FROM {sub} WHERE {split_col} = {vb})"
    ca = f"count_if({split_col} = {va})"
    cb = f"count_if({split_col} = {vb})"
    all_wild = " AND ".join(f"grouping({c}) = 1" for c in cols)
    clist = ", ".join(cols)
    return (
        f"SELECT CountA, CountB, round(PercentA, 6) AS PercentA, "
        f"round(PercentB, 6) AS PercentB, "
        f"round(abs(PercentA - PercentB), 6) AS PercentDiffAB, {clist} "
        f"FROM (SELECT {ca} AS CountA, {cb} AS CountB, "
        f"CAST(100.0 AS DOUBLE) * {ca} / nullif({tota}, 0) AS PercentA, "
        f"CAST(100.0 AS DOUBLE) * {cb} / nullif({totb}, 0) AS PercentB, "
        f"{clist} "
        f"FROM (SELECT * FROM {sub} WHERE {split_col} IN ({va}, {vb})) __dpb "
        f"GROUP BY CUBE({clist}) HAVING NOT ({all_wild})) __dp "
        f"WHERE abs(PercentA - PercentB) >= ({thr}) * 100.0"
    )


def _diffpatterns_text(sub: str, argstr: str) -> str:
    """evaluate diffpatterns_text(TextColumn, SplitColumn, valA, valB[,
    threshold]): whole-term mining of the TEXT column — which TERMS
    differ in prevalence between the two row splits (the log-template
    cousin of diffpatterns).  ONE tokenize-explode + one term hash
    aggregate computing both split DOCUMENT counts map-side (a term
    counts once per row, Kusto's contract); kept when the percent-point
    gap ≥ threshold·100 (default 0.05).  Terms = maximal alnum runs,
    lowercased — the same rule as `has`."""
    a = _split_top(argstr)
    if len(a) not in (4, 5):
        raise KqlError(
            "diffpatterns_text subset: (TextColumn, SplitColumn, valA, "
            f"valB[, threshold]), got {argstr!r}"
        )
    text_col, split_col = a[0].strip(), a[1].strip()
    if not all(re.match(r"^[A-Za-z_]\w*$", c) for c in (text_col, split_col)):
        raise KqlError(
            f"diffpatterns_text needs bare column names, got {argstr!r}"
        )
    va, vb = _expr(a[2]), _expr(a[3])
    thr = _expr(a[4]) if len(a) == 5 else "0.05"
    tota = f"(SELECT count(*) FROM {sub} WHERE {split_col} = {va})"
    totb = f"(SELECT count(*) FROM {sub} WHERE {split_col} = {vb})"
    ca = f"count_if({split_col} = {va})"
    cb = f"count_if({split_col} = {vb})"
    return (
        f"SELECT Term, CountA, CountB, round(PercentA, 6) AS PercentA, "
        f"round(PercentB, 6) AS PercentB, "
        f"round(abs(PercentA - PercentB), 6) AS PercentDiffAB "
        f"FROM (SELECT Term, {ca} AS CountA, {cb} AS CountB, "
        f"CAST(100.0 AS DOUBLE) * {ca} / nullif({tota}, 0) AS PercentA, "
        f"CAST(100.0 AS DOUBLE) * {cb} / nullif({totb}, 0) AS PercentB "
        f"FROM (SELECT {split_col}, explode(array_distinct(filter(split("
        f"lower({text_col}), '[^a-z0-9]+'), __t -> __t != ''))) AS Term "
        f"FROM {sub} WHERE {split_col} IN ({va}, {vb})) __dt0 "
        f"GROUP BY Term) __dt1 "
        f"WHERE abs(PercentA - PercentB) >= ({thr}) * 100.0"
    )


def _autocluster(sub: str, argstr: str) -> str:
    """evaluate autocluster(threshold, col1[, ...]): the informative
    common-pattern miner.  Deterministic subset of Kusto's heuristic:
    candidate segments are the CUBE patterns covering ≥ threshold of the
    rows (≥1 fixed attribute), and a segment is DROPPED when a strictly
    more specific segment retains ≥ half its rows (the size_weight=0.5
    analog) — the survivors are the maximal informative patterns.  ONE
    CUBE aggregate; the domination test is a self-anti-join over the
    FILTERED segment set, whose size is bounded by the threshold (≤ 1/thr
    segments per grouping set), so it broadcasts at any data scale.
    Output: Count, Percent + attribute columns with NULL wildcards
    (SegmentId omitted, column set explicit — same subset contract as
    basket/diffpatterns)."""
    a = _split_top(argstr)
    if len(a) < 2:
        raise KqlError(
            "autocluster subset: (threshold, col1[, col2, ...]) — the "
            "column list must be explicit"
        )
    thr = _expr(a[0])
    cols = [c.strip() for c in a[1:]]
    if len(cols) > 5:
        raise KqlError("autocluster subset: at most 5 attribute columns")
    if not all(re.match(r"^[A-Za-z_]\w*$", c) for c in cols):
        raise KqlError(f"autocluster needs bare column names, got {cols!r}")
    tot = f"(SELECT count(*) FROM {sub})"
    all_wild = " AND ".join(f"grouping({c}) = 1" for c in cols)
    clist = ", ".join(cols)
    gsel = ", ".join(f"grouping({c}) AS __g{i}" for i, c in enumerate(cols))
    seg = (
        f"SELECT count(*) AS Count, {clist}, {gsel} FROM {sub} "
        f"GROUP BY CUBE({clist}) "
        f"HAVING count(*) >= ({thr}) * {tot} AND NOT ({all_wild})"
    )
    spec = " AND ".join(
        f"(__s.__g{i} = 1 OR (__t.__g{i} = 0 AND __t.{c} <=> __s.{c}))"
        for i, c in enumerate(cols)
    )
    strict = (
        " + ".join(f"__t.__g{i}" for i in range(len(cols)))
        + " < "
        + " + ".join(f"__s.__g{i}" for i in range(len(cols)))
    )
    sel = ", ".join(f"__s.{c}" for c in cols)
    return (
        f"SELECT __s.Count AS Count, "
        f"round(CAST(100.0 AS DOUBLE) * __s.Count / {tot}, 6) AS Percent, "
        f"{sel} "
        f"FROM ({seg}) __s WHERE NOT EXISTS ("
        f"SELECT 1 FROM ({seg}) __t "
        f"WHERE {spec} AND ({strict}) AND __t.Count * 2 >= __s.Count)"
    )


def _top_nested(sub: str, rest: str) -> str:
    """Lower ``top-nested N1 of K1 by [n1 =] agg1, top-nested N2 of K2 by
    ... `` — Kusto's hierarchical top-k.  Arbitrary depth: level k joins the
    source to the level-(k-1) winners on all prior keys, aggregates, and
    keeps the per-partition top N via row_number (Spark lowers that to
    per-partition heaps, no global sort).  ``with others`` is not in the
    subset."""
    specs = []
    others_label = None
    for item in _split_top(rest):
        item = re.sub(r"^top-nested\s+", "", item.strip(), flags=re.IGNORECASE)
        mo = re.search(
            r"\s+with\s+others\s*=\s*'([^']*)'\s*$", item, re.IGNORECASE
        )
        if mo:
            others_label = mo.group(1)
            item = item[: mo.start()]
        m = re.match(
            r"^(\d+)\s+of\s+([A-Za-z_]\w*)\s+by\s+"
            r"(?:([A-Za-z_]\w*)\s*=\s*)?(.+)$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise KqlError(
                f"top-nested needs 'N of col by [name=]agg', got {item!r}"
            )
        n, key, name, agg = m.groups()
        specs.append((int(n), key, name or f"aggregated_{key}", _agg_expr(agg)))
    if not specs:
        raise KqlError("top-nested needs at least one spec")
    if others_label is not None and len(specs) > 1:
        raise KqlError(
            "top-nested subset: 'with others' is single-level only"
        )
    if others_label is not None:
        # one extra row aggregating everything OUTSIDE the top-N — computed
        # by RE-AGGREGATING the excluded rows (correct for any aggregate,
        # not just subtractable ones); the top-N keys anti-join is a
        # broadcast of N values.  Key column casts to string to carry the
        # label (Kusto widens to dynamic the same way).
        n, key, name, agg = specs[0]
        grouped = f"SELECT {key}, {agg} AS {name} FROM {sub} GROUP BY {key}"
        ranked = (
            f"SELECT *, row_number() OVER (ORDER BY {name} DESC, {key}) "
            f"AS __rnk FROM ({grouped}) __g"
        )
        top = (
            f"SELECT CAST({key} AS STRING) AS {key}, {name} "
            f"FROM ({ranked}) __r WHERE __rnk <= {n}"
        )
        others = (
            f"SELECT '{others_label}' AS {key}, {agg} AS {name} "
            f"FROM {sub} WHERE {key} NOT IN ("
            f"SELECT {key} FROM ({ranked}) __rx WHERE __rnk <= {n})"
        )
        return f"{top} UNION ALL {others}"
    rel = None
    prior: list[tuple[str, str]] = []  # (key, value_alias) selected so far
    for n, key, name, agg in specs:
        if rel is None:
            grouped = (
                f"SELECT {key}, {agg} AS {name} FROM {sub} GROUP BY {key}"
            )
            ranked = (
                f"SELECT *, row_number() OVER (ORDER BY {name} DESC, {key}) "
                f"AS __rnk FROM ({grouped}) __g"
            )
        else:
            join_on = " AND ".join(f"__t.{k} = __p.{k}" for k, _v in prior)
            keep = ", ".join(
                [f"__t.{k}" for k, _v in prior]
                + [f"__p.{v}" for _k, v in prior]
            )
            grouped = (
                f"SELECT {keep}, __t.{key} AS {key}, {agg} AS {name} "
                f"FROM (SELECT * FROM {sub}) __t "
                f"JOIN ({rel}) __p ON {join_on} "
                f"GROUP BY {keep}, __t.{key}"
            )
            ranked = (
                f"SELECT *, row_number() OVER (PARTITION BY "
                f"{', '.join(k for k, _v in prior)} "
                f"ORDER BY {name} DESC, {key}) AS __rnk FROM ({grouped}) __g"
            )
        sel = ", ".join(
            [k for k, _v in prior] + [v for _k, v in prior] + [key, name]
        )
        rel = f"SELECT {sel} FROM ({ranked}) __r WHERE __rnk <= {n}"
        prior.append((key, name))
    return rel


#: datatable column types → Spark cast targets
_DT_TYPES = {"string": "STRING", "long": "BIGINT", "int": "INT",
             "real": "DOUBLE", "double": "DOUBLE", "datetime": "TIMESTAMP",
             "bool": "BOOLEAN", "boolean": "BOOLEAN",
             # dynamic datatable cells hold array literals (the make-series
             # element shape); no cast — the VALUES row fixes the type
             "dynamic": None}


def _find_source(src: str, lets: dict[str, str]) -> str:
    """``find [withsource=Col] in (T1, T2, ...) where Pred project c1,
    ...`` — Kusto's cross-table search source.  Lowering: one UNION ALL
    leg per table, each a filtered projection carrying the source-table
    name column (default ``source_``) — filters push into every leg's
    scan independently, so the union never materializes unmatched rows.
    Subset (documented): the ``project`` list is required and its
    columns (and the predicate's) must exist in every listed table —
    Kusto pads missing columns from schema knowledge the text path does
    not have."""
    m = re.match(
        r"(?is)^find\s+(?:withsource\s*=\s*([A-Za-z_]\w*)\s+)?"
        r"in\s*\(([^)]+)\)\s*where\s+(.+?)\s+project\s+(.+)$",
        src.strip(),
    )
    if not m:
        raise KqlError(
            "find subset: find [withsource=Col] in (T1, T2, ...) where "
            f"<pred> project <cols> — project is required, got {src!r}"
        )
    srccol = m.group(1) or "source_"
    tables = [t.strip() for t in m.group(2).split(",")]
    if not tables or not all(re.match(r"^[A-Za-z_]\w*$", t) for t in tables):
        raise KqlError(f"find: table list must be bare names, got {m.group(2)!r}")
    pred = _expr(m.group(3))
    cols = ", ".join(_alias_item(x) for x in _split_top(m.group(4)))
    legs = []
    for t in tables:
        rel_t = lets.get(t, t)
        if " " in rel_t:
            rel_t = f"({rel_t}) __fd_{t}"
        legs.append(
            f"SELECT '{t}' AS {srccol}, {cols} FROM {rel_t} WHERE {pred}"
        )
    return " UNION ALL ".join(legs)


def _externaldata(src: str) -> str:
    """``externaldata (c1:t1, ...) ['path'] [with (format='csv')]`` —
    Kusto's typed external source.  Local-file subset (no cloud URIs in
    this environment): parquet reads project+cast the declared columns by
    NAME; headerless csv binds the declared schema POSITIONALLY (_c0..)
    per Kusto's contract.  Lowering is a Spark direct-file relation, so
    format pushdown/pruning apply as with the CH ``file()`` table
    function."""
    m = re.match(
        r"(?is)^externaldata\s*\((.*?)\)\s*\[\s*'([^']+)'\s*\]"
        r"(?:\s*with\s*\(\s*format\s*=\s*'(\w+)'\s*\))?\s*$",
        src.strip(),
    )
    if not m:
        raise KqlError(
            "externaldata needs \"(name:type, ...) ['path'] "
            f"[with (format='fmt')]\", got {src!r}"
        )
    cols_txt, path, fmt = m.groups()
    fmt = (fmt or ("csv" if path.lower().endswith(".csv") else "parquet")).lower()
    if fmt not in ("csv", "parquet", "json"):
        raise KqlError(f"externaldata: unsupported format {fmt!r}")
    cols: list[tuple[str, str]] = []
    for item in _split_top(cols_txt):
        mc = re.match(r"^([A-Za-z_]\w*)\s*:\s*(\w+)$", item.strip())
        if not mc or mc.group(2).lower() not in _DT_TYPES:
            raise KqlError(f"externaldata: bad column spec {item!r}")
        cols.append((mc.group(1), _DT_TYPES[mc.group(2).lower()]))
    if not cols:
        raise KqlError("externaldata needs at least one column")
    if fmt == "csv":
        sels = ", ".join(
            f"CAST(_c{i} AS {t}) AS {n}" for i, (n, t) in enumerate(cols)
        )
    else:
        sels = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    return f"SELECT {sels} FROM {fmt}.`{path}`"


def _datatable(src: str) -> str:
    """``datatable(c1:t1, ...) [v, v, ...]`` → a typed VALUES relation.
    Values are flat, row-major (the Kusto literal-table shape)."""
    m = re.match(r"^datatable\s*\((.*?)\)\s*\[(.*)\]$", src.strip(),
                 re.IGNORECASE | re.DOTALL)
    if not m:
        raise KqlError(f"datatable needs '(c:type, ...) [values]', got {src!r}")
    cols = []
    for item in _split_top(m.group(1)):
        mc = re.match(r"^([A-Za-z_]\w*)\s*:\s*(\w+)$", item.strip())
        if not mc or mc.group(2).lower() not in _DT_TYPES:
            raise KqlError(f"datatable column needs name:type, got {item!r}")
        cols.append((mc.group(1), _DT_TYPES[mc.group(2).lower()]))
    vals = [_expr(v) for v in _split_top(m.group(2))]
    if not cols or not vals or len(vals) % len(cols):
        raise KqlError(
            f"datatable values ({len(vals)}) must fill whole rows of "
            f"{len(cols)} columns"
        )
    n = len(cols)
    rows = ", ".join(
        "(" + ", ".join(vals[r * n : r * n + n]) + ")"
        for r in range(len(vals) // n)
    )
    sel = ", ".join(
        f"CAST({name} AS {typ}) AS {name}" if typ else name
        for name, typ in cols
    )
    names = ", ".join(name for name, _t in cols)
    return f"SELECT {sel} FROM (VALUES {rows}) AS __dt({names})"


def _print_source(src: str) -> str:
    """``print [name =] expr, ...`` → a 1-row constant relation."""
    items = _split_top(re.sub(r"(?i)^print\s+", "", src.strip()))
    if not items:
        raise KqlError("print needs at least one expression")
    sels = []
    for i, item in enumerate(items):
        m = re.match(r"^([A-Za-z_]\w*)\s*=\s*(?![=])(.+)$", item.strip(), re.DOTALL)
        if m:
            sels.append(f"{_expr(m.group(2))} AS {m.group(1)}")
        else:
            sels.append(f"{_expr(item)} AS print_{i}")
    return f"SELECT {', '.join(sels)}"


_TS_RE = re.compile(r"\b(toscalar|materialize)\s*\(", re.IGNORECASE)


def _extract_toscalar(
    query: str,
    lets: dict[str, str],
    funcs: dict[str, tuple[str, str]],
) -> tuple[str, dict[str, str]]:
    """Pre-pass for the two tabular-expression wrappers:

    - ``toscalar(<pipeline>)`` — transpile the inner pipeline now and park
      the scalar subquery behind a placeholder tag so its SQL never rides
      through the stage splitter or the scalar-sugar rewrites (a
      double-rewrite of e.g. ``substring`` would shift offsets twice); the
      tags restore at the very end of _transpile_pipeline.
    - ``materialize(<pipeline>)`` — caching advice: Catalyst already reuses
      repeated subplans, so the wrapper is stripped and the inner KQL
      splices back for normal transpilation.

    Quote-aware balanced-paren scan, recursion handled by the inner
    transpile call running this same pass."""
    subs: dict[str, str] = {}
    out: list[str] = []
    i, n = 0, len(query)
    # same-length literal mask: wrapper names INSIDE string literals must
    # never trigger extraction (the masked copy shares every index with the
    # original, so splice offsets stay valid)
    masked = re.sub(
        r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"",
        lambda mm: "\x01" * len(mm.group(0)),
        query,
    )
    while True:
        m = _TS_RE.search(masked, i)
        if not m:
            out.append(query[i:])
            break
        out.append(query[i : m.start()])
        depth, j, q = 1, m.end(), None
        while j < n and depth:
            ch = query[j]
            if q:
                if ch == q:
                    q = None
            elif ch in "'\"":
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        if depth:
            raise KqlError(f"unbalanced parens in {m.group(1)}(): {query!r}")
        inner = query[m.end() : j - 1].strip()
        if m.group(1).lower() == "materialize":
            out.append(inner)
        else:
            sql = _transpile_pipeline(inner, lets, funcs)
            tag = f"__toscalar_{len(subs)}__"
            subs[tag] = f"(SELECT * FROM ({sql}) __ts{len(subs)} LIMIT 1)"
            out.append(tag)
        i = j
    return "".join(out), subs


def _graph_match(spec: tuple, rest: str) -> str:
    """``graph-match (a)-[e1]->(b)[-[e2]->(c)...] [where <cond>]
    project <items>`` — the Kusto graph pattern operator (ADX 2023+)
    lowered to equi-joins: each hop is ONE shuffle join of the edge
    relation against the previous node's id, each distinct node variable
    one join of the nodes relation; a REPEATED node variable (a cycle,
    e.g. ``(a)-[e1]->(b)-[e2]->(a)``) adds an equality predicate instead
    of a new join.  Fixed-length patterns only — Kusto's variable-length
    ``-[e*1..3]->`` would lower to a union of the unrolled lengths and is
    out of the subset (raise, never silently truncate).

    100 TB shape: hop joins are plain key shuffles Catalyst can reorder;
    the nodes relation is a broadcast candidate when it is a dimension.
    Variable references ``v.prop`` rewrite to the join aliases before the
    standard scalar lowering runs."""
    edges_rel, src_col, dst_col, nodes_rel, id_col = spec
    m = re.match(
        r"^\s*\(\s*(\w+)\s*\)((?:\s*-\[\s*\w+\s*\]->\s*\(\s*\w+\s*\))+)"
        r"\s*(.*)$",
        rest,
        re.DOTALL,
    )
    if not m:
        if re.search(r"\*", rest):
            raise KqlError(
                "graph-match subset: variable-length edges (-[e*1..3]->) "
                "are not supported — unroll the lengths explicitly"
            )
        raise KqlError(
            "graph-match subset: (a)-[e]->(b)[-[f]->(c)...] "
            f"[where ...] project ..., got {rest!r}"
        )
    first, hops_txt, tail = m.groups()
    hops = re.findall(r"-\[\s*(\w+)\s*\]->\s*\(\s*(\w+)\s*\)", hops_txt)
    eb = f"({edges_rel})" if " " in edges_rel else edges_rel
    nb = f"({nodes_rel})" if " " in nodes_rel else nodes_rel
    node_alias: dict[str, str] = {first: f"__gn_{first}"}
    edge_alias: dict[str, str] = {}
    parts = [f"{nb} AS __gn_{first}"]
    extra: list[str] = []
    prev = first
    for e, v in hops:
        if e in edge_alias or e == first or v in edge_alias:
            raise KqlError(f"graph-match: duplicate edge variable {e!r}")
        ea = f"__ge_{e}"
        edge_alias[e] = ea
        parts.append(
            f"JOIN {eb} AS {ea} "
            f"ON {ea}.{src_col} = {node_alias[prev]}.{id_col}"
        )
        if v in node_alias:  # cycle: same node again — constrain, don't join
            extra.append(f"{node_alias[v]}.{id_col} = {ea}.{dst_col}")
        else:
            va = f"__gn_{v}"
            node_alias[v] = va
            parts.append(
                f"JOIN {nb} AS {va} ON {va}.{id_col} = {ea}.{dst_col}"
            )
        prev = v
    mt = re.match(
        r"(?is)^(?:where\s+(.*?)\s+)?project\s+(.+)$", tail.strip(), re.DOTALL
    )
    if not mt:
        raise KqlError(
            "graph-match needs a trailing `project <items>` "
            f"(optionally preceded by `where <cond>`), got {tail!r}"
        )
    where_txt, project_txt = mt.group(1), mt.group(2)

    def rewrite(txt: str) -> str:
        for v, a in {**node_alias, **edge_alias}.items():
            txt = re.sub(rf"\b{v}\.", f"{a}.", txt)
        return txt

    conds = list(extra)
    if where_txt:
        conds.append(_expr(rewrite(where_txt)))
    items = ", ".join(
        _alias_item(x) for x in _split_top(rewrite(project_txt))
    )
    sql = f"SELECT {items} FROM {' '.join(parts)}"
    if conds:
        sql += " WHERE " + " AND ".join(f"({c})" for c in conds)
    return sql


def _graph_shortest_paths(spec: tuple, rest: str) -> str:
    """``graph-shortest-paths [output=any|all] (a)-[e*1..K]->(b)
    [where <cond on a/b>] project <items>`` — Kusto's bounded shortest
    path (the upper bound is REQUIRED upstream too, which is what makes
    this SQL-expressible): the K lengths unroll to K join chains UNIONed
    with their length, then one aggregate keeps min(length) per endpoint
    pair.  Subset: items/conditions may reference the endpoint variables'
    properties and ``array_length(e)`` (the path length — the edge array
    itself is not materialized; raise on other ``e.`` references).

    100 TB shape: K bounded chains of key equi-joins (Catalyst reorders /
    broadcasts dimension nodes) + ONE endpoint-keyed aggregate; cost is
    O(K·|edges-reachable|), the same frontier bound a BFS would touch."""
    edges_rel, src_col, dst_col, nodes_rel, id_col = spec
    rest = re.sub(r"(?i)^\s*output\s*=\s*(any|all)\s+", "", rest)
    m = re.match(
        r"^\s*\(\s*(\w+)\s*\)\s*-\[\s*(\w+)\s*\*\s*(\d+)\s*\.\.\s*(\d+)"
        r"\s*\]->\s*\(\s*(\w+)\s*\)\s*(.*)$",
        rest,
        re.DOTALL,
    )
    if not m:
        raise KqlError(
            "graph-shortest-paths subset: (a)-[e*1..K]->(b) "
            f"[where ...] project ..., got {rest!r}"
        )
    a, e, lo, hi, b, tail = m.groups()
    lo, hi = int(lo), int(hi)
    if not (1 <= lo <= hi <= 8):
        raise KqlError(
            "graph-shortest-paths subset: bounds must satisfy "
            f"1 <= lo <= hi <= 8, got {lo}..{hi}"
        )
    eb = f"({edges_rel})" if " " in edges_rel else edges_rel
    nb = f"({nodes_rel})" if " " in nodes_rel else nodes_rel
    mt = re.match(
        r"(?is)^(?:where\s+(.*?)\s+)?project\s+(.+)$", tail.strip(), re.DOTALL
    )
    if not mt:
        raise KqlError("graph-shortest-paths needs a trailing project")
    where_txt, project_txt = mt.group(1), mt.group(2)

    def rewrite(txt: str) -> str:
        txt = re.sub(
            rf"\barray_length\s*\(\s*{e}\s*\)", "__plen", txt
        )
        if re.search(rf"\b{e}\s*[.\[]", txt):
            raise KqlError(
                "graph-shortest-paths subset: the edge variable only "
                f"supports array_length({e}) (the path length)"
            )
        txt = re.sub(rf"\b{a}\.", "__ga.", txt)
        txt = re.sub(rf"\b{b}\.", "__gb.", txt)
        return txt

    # one chain per length L: endpoints + L as the path length
    chains = []
    for L in range(lo, hi + 1):
        joins = [f"{eb} AS __e1"]
        for i in range(2, L + 1):
            joins.append(
                f"JOIN {eb} AS __e{i} "
                f"ON __e{i}.{src_col} = __e{i - 1}.{dst_col}"
            )
        chains.append(
            f"SELECT __e1.{src_col} AS __sa, __e{L}.{dst_col} AS __sb, "
            f"{L} AS __plen FROM {' '.join(joins)}"
        )
    paths = " UNION ALL ".join(chains)
    shortest = (
        f"SELECT __sa, __sb, min(__plen) AS __plen FROM ({paths}) __gsp "
        f"GROUP BY __sa, __sb"
    )
    cond = f"({_expr(rewrite(where_txt))})" if where_txt else "true"
    items = ", ".join(
        _alias_item(x) for x in _split_top(rewrite(project_txt))
    )
    return (
        f"SELECT {items} FROM ({shortest}) __gmin "
        f"JOIN {nb} AS __ga ON __ga.{id_col} = __gmin.__sa "
        f"JOIN {nb} AS __gb ON __gb.{id_col} = __gmin.__sb "
        f"WHERE {cond}"
    )


def _graph_mark_components(spec: tuple, rest: str) -> str:
    """``graph-mark-components [kind=weak] [iterations=K]
    with_component_id=<col>`` — weak connected components as K unrolled
    min-label-propagation rounds (label = min id reachable; each round
    ONE neighbor join + ONE min aggregate, the Hash-to-Min shape).  A
    STATIC SQL statement cannot loop-until-converged, so the round count
    is a declared bound: correct for graphs of diameter ≤ K (default 8 —
    near-dup/hierarchy graphs are short chains); the general
    any-diameter tier is ``operators/graph.connected_components``
    (iterative, early-stopping, checkpointable).  Output = the node
    table plus the component column."""
    edges_rel, src_col, dst_col, nodes_rel, id_col = spec
    rest = rest.strip()
    rest = re.sub(r"(?i)^kind\s*=\s*weak\s+", "", rest)
    iters = 8
    mi = re.match(r"(?i)^iterations\s*=\s*(\d+)\s+", rest)
    if mi:
        iters = int(mi.group(1))
        rest = rest[mi.end():]
        if not 1 <= iters <= 16:
            raise KqlError(
                "graph-mark-components: iterations must be in [1, 16]"
            )
    mc = re.match(r"(?i)^with_component_id\s*=\s*(\w+)\s*$", rest)
    if not mc:
        raise KqlError(
            "graph-mark-components subset: [kind=weak] [iterations=K] "
            f"with_component_id=<col>, got {rest!r}"
        )
    cid = mc.group(1)
    eb = f"({edges_rel})" if " " in edges_rel else edges_rel
    nb = f"({nodes_rel})" if " " in nodes_rel else nodes_rel
    # chained CTEs: each round references the previous ONCE by name (a
    # naive nested-subquery unroll embeds the prior round twice — the min
    # over self and neighbors — and the SQL text grows 2^K)
    ctes = [
        (
            f"__gsym AS (SELECT {src_col} AS __s, {dst_col} AS __d "
            f"FROM {eb} __ge1 UNION ALL SELECT {dst_col} AS __s, "
            f"{src_col} AS __d FROM {eb} __ge2)"
        ),
        f"__gl0 AS (SELECT {id_col} AS __v, {id_col} AS __l FROM {nb} __gn0)",
    ]
    for i in range(iters):
        ctes.append(
            f"__gl{i + 1} AS (SELECT __a.__v AS __v, "
            f"least(min(__a.__l), coalesce(min(__b.__l), min(__a.__l))) "
            f"AS __l FROM __gl{i} __a "
            f"LEFT JOIN __gsym ON __gsym.__s = __a.__v "
            f"LEFT JOIN __gl{i} __b ON __b.__v = __gsym.__d "
            f"GROUP BY __a.__v)"
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT __gnf.*, __gl{iters}.__l AS {cid} FROM {nb} __gnf "
        f"JOIN __gl{iters} ON __gl{iters}.__v = __gnf.{id_col}"
    )


def transpile_kql(query: str) -> str:
    """KQL text → one nested Spark SQL statement.  Handles statement-level
    ``let`` bindings (split on top-level ``;``), then the final pipeline."""
    stmts = [s for s in _split_top(query.strip(), ";") if s.strip()]
    if not stmts:
        raise KqlError("empty KQL query")
    lets: dict[str, str] = {}
    funcs: dict[str, tuple[str, str]] = {}
    for i in range(len(stmts) - 1):
        st = stmts[i].strip()
        m = re.match(r"^let\s+([A-Za-z_]\w*)\s*=\s*(.+)$", st,
                     re.IGNORECASE | re.DOTALL)
        if not m:
            raise KqlError(f"expected 'let name = ...' statement, got {st!r}")
        name, val = m.group(1), m.group(2).strip()
        mfun = re.match(
            r"^\(\s*([A-Za-z_]\w*)\s*:\s*\(\s*\*\s*\)\s*\)\s*"
            r"\{(.*)\}$",
            val,
            re.DOTALL,
        )
        if mfun:
            # tabular lambda: let f = (T:(*)) { T | ... } — stored for
            # `| invoke f()` (the body re-transpiles at the call site with
            # the parameter bound to the pipeline-so-far)
            funcs[name] = (mfun.group(1), mfun.group(2).strip())
            continue
        is_tabular = (
            "|" in val
            or re.match(r"^[A-Za-z_]\w*$", val)
            or re.match(r"(?i)^(datatable|print|range)\b", val)
        )
        if is_tabular:
            lets[name] = _transpile_pipeline(val, lets)
        else:
            # scalar let: textual macro substitution into every LATER
            # statement (Kusto scalar-binding semantics); string literals
            # of either quote form are masked so a binding name inside a
            # literal never substitutes
            repl = f"({_expr(val)})"
            pat = re.compile(rf"(?<![\w.\x00]){re.escape(name)}(?![\w(])")
            for j in range(i + 1, len(stmts)):
                lits: list[str] = []

                def _mask(m: "re.Match[str]") -> str:
                    lits.append(m.group(0))
                    return f"\x00{len(lits) - 1}\x00"

                masked = re.sub(
                    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"",
                    _mask,
                    stmts[j],
                )
                masked = pat.sub(repl, masked)
                stmts[j] = re.sub(
                    r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], masked
                )
    return _transpile_pipeline(stmts[-1], lets, funcs)


def _transpile_pipeline(
    query: str,
    lets: dict[str, str] | None = None,
    funcs: dict[str, tuple[str, str]] | None = None,
) -> str:
    """One KQL pipeline → one nested Spark SQL statement.  ``lets`` maps
    tabular binding names to their transpiled SQL."""
    lets = lets or {}
    funcs = funcs or {}
    query, ts_subs = _extract_toscalar(query, lets, funcs)
    stages = [s.strip() for s in _split_top(query.strip(), "|")]
    if not stages or not stages[0]:
        raise KqlError("empty KQL pipeline")
    last_order: str | None = None  # most recent sort keys (serialize uses it)
    graph_spec: tuple | None = None  # pending make-graph awaiting graph-match
    src = stages[0]
    mrange = re.match(
        r"^range\s+([A-Za-z_]\w*)\s+from\s+(.+?)\s+to\s+(.+?)\s+step\s+(.+)$",
        src,
        re.IGNORECASE | re.DOTALL,
    )
    if mrange:
        # Kusto's `range` source operator: inclusive arithmetic progression,
        # numeric or datetime + timespan step → explode(sequence(...)).
        # sequence() materializes per-row on an executor; Kusto's own range
        # is bounded the same way (it is a test/axis generator, not a data
        # source), so there is no distributed-generation tier here — use the
        # numbers()/generate_series table functions for that.
        name, frm, to, step = mrange.groups()
        ms = re.match(r"^([0-9.]+)(s|m|h|d)$", step.strip(), re.IGNORECASE)
        if ms:
            secs = {"s": 1, "m": 60, "h": 3600, "d": 86400}[
                ms.group(2).lower()
            ] * float(ms.group(1))
            step_sql = f"INTERVAL {int(secs)} SECOND"
        else:
            step_sql = _expr(step)
        rel = (
            f"SELECT explode(sequence({_expr(frm)}, {_expr(to)}, {step_sql})) "
            f"AS {name}"
        )
    elif re.match(r"(?i)^find\b", src):
        rel = _find_source(src, lets)
    elif re.match(r"(?i)^externaldata\b", src):
        rel = _externaldata(src)
    elif re.match(r"(?i)^datatable\b", src):
        rel = _datatable(src)
    elif re.match(r"(?i)^print\b", src):
        rel = _print_source(src)
    elif not re.match(r"^[A-Za-z_]\w*$", src):
        raise KqlError(
            "KQL pipeline must start with a table name, range, datatable, "
            f"or print, got {src!r}"
        )
    elif src in lets:
        rel = lets[src]
    else:
        rel = src
    for i, st in enumerate(stages[1:]):
        sub = f"({rel}) __k{i}" if " " in rel or rel.startswith("(") else rel
        kw = st.split(None, 1)
        op = kw[0].lower()
        rest = kw[1] if len(kw) > 1 else ""
        if op == "where":
            rel = f"SELECT * FROM {sub} WHERE {_expr(rest)}"
        elif op == "project":
            items = ", ".join(_alias_item(x) for x in _split_top(rest))
            rel = f"SELECT {items} FROM {sub}"
        elif op == "extend":
            single = _split_top(rest)
            mrr = (
                re.match(
                    r"(?is)^([A-Za-z_]\w*)\s*=\s*"
                    r"row_rank_(dense|min)\s*\(\s*([A-Za-z_]\w*)\s*\)\s*$",
                    single[0].strip(),
                )
                if len(single) == 1
                else None
            )
            if mrr:
                # row_rank_dense/row_rank_min(Term): serialized ranks that
                # advance only when Term CHANGES from the previous row —
                # a lag change-flag then its running sum (dense), plus a
                # per-run min row_number (min).  Two (three) chained
                # windows over the SAME serialized sort → one exchange.
                # Subset: the single-assignment extend form.
                if last_order is None:
                    raise KqlError(
                        "row_rank_dense()/row_rank_min() need a preceding "
                        "sort (serialized row order)"
                    )
                alias, kind, term = mrr.group(1), mrr.group(2), mrr.group(3)
                # struct-wrap the <=> comparison: on the FIRST row lag()
                # is a NULL STRUCT (never equal to the non-null wrapper),
                # so a leading NULL term still counts as a change — a bare
                # `term <=> lag(term)` would yield NULL<=>NULL = TRUE and
                # shift every rank down by one (advice r10)
                inner = (
                    f"SELECT *, CASE WHEN named_struct('v', {term}) <=> "
                    f"lag(named_struct('v', {term})) OVER (ORDER BY {last_order}) "
                    f"THEN 0 ELSE 1 END AS __chg, "
                    f"row_number() OVER (ORDER BY {last_order}) AS __rrn "
                    f"FROM {sub}"
                )
                mid = (
                    f"SELECT *, sum(__chg) OVER (ORDER BY {last_order} "
                    f"ROWS UNBOUNDED PRECEDING) AS __run "
                    f"FROM ({inner}) __rr0"
                )
                if kind == "dense":
                    rel = (
                        f"SELECT * EXCEPT (__chg, __rrn, __run), "
                        f"__run AS {alias} FROM ({mid}) __rr1"
                    )
                else:
                    rel = (
                        f"SELECT * EXCEPT (__chg, __rrn, __run), "
                        f"min(__rrn) OVER (PARTITION BY __run) AS {alias} "
                        f"FROM ({mid}) __rr1"
                    )
                continue
            items = ", ".join(_alias_item(x) for x in single)
            if re.search(r"\b(prev|next|row_cumsum|row_number)\s*\(", items,
                         re.IGNORECASE):
                # Kusto's serialized-window functions: valid once row order
                # is pinned (after sort/serialize); the OVER clause re-states
                # the sort keys so numbering/lag/lead are well-defined
                if last_order is None:
                    raise KqlError(
                        "prev()/next()/row_cumsum()/row_number() need a "
                        "preceding sort (serialized row order)"
                    )
                over = f" OVER (ORDER BY {last_order})"
                cum = (
                    f" OVER (ORDER BY {last_order} ROWS BETWEEN UNBOUNDED "
                    "PRECEDING AND CURRENT ROW)"
                )
                items = _rewrite_call(
                    items, "prev", lambda a: f"lag({', '.join(a)}){over}"
                )
                items = _rewrite_call(
                    items, "next", lambda a: f"lead({', '.join(a)}){over}"
                )
                items = _rewrite_call(
                    items, "row_cumsum", lambda a: f"sum({a[0]}){cum}"
                )
                items = _rewrite_call(
                    items, "row_number", lambda a: f"row_number(){over}"
                )
            rel = f"SELECT *, {items} FROM {sub}"
        elif op == "summarize":
            m = re.search(r"\bby\b", rest, re.IGNORECASE)
            if m:
                aggs, keys = rest[: m.start()].strip(), rest[m.end():].strip()
            else:
                aggs, keys = rest.strip(), ""
            agg_items = [_alias_item(x, agg=True) for x in _split_top(aggs)]
            key_sel, key_grp = [], []
            for x in _split_top(keys) if keys else []:
                # Kusto allows aliased by-keys: `by day = bin(ts, 1d)` —
                # SELECT the aliased expr, GROUP BY the bare expr
                m2 = re.match(r"^\s*([A-Za-z_]\w*)\s*=\s*(.+)$", x)
                if m2 and not re.match(r"^\s*=", m2.group(2)):
                    expr = _expr(m2.group(2))
                    key_sel.append(f"{expr} AS {m2.group(1)}")
                    key_grp.append(expr)
                else:
                    expr = _expr(x)
                    key_sel.append(expr)
                    key_grp.append(expr)
            if not agg_items and not key_sel:
                raise KqlError("summarize needs aggregates or by-keys")
            sel = ", ".join(key_sel + agg_items) or "*"
            rel = f"SELECT {sel} FROM {sub}"
            if key_grp:
                rel += f" GROUP BY {', '.join(key_grp)}"
        elif op in ("sort", "order"):
            rest = re.sub(r"^by\s+", "", rest, flags=re.IGNORECASE)
            last_order = _order_list(rest)
            rel = f"SELECT * FROM {sub} ORDER BY {last_order}"
        elif op == "top":
            m = re.match(r"^(\d+)\s+by\s+(.+)$", rest, re.IGNORECASE)
            if not m:
                raise KqlError(f"top needs 'top N by expr', got {rest!r}")
            last_order = _order_list(m.group(2))
            rel = (
                f"SELECT * FROM {sub} ORDER BY "
                f"{last_order} LIMIT {m.group(1)}"
            )
        elif op == "top-hitters":
            m = re.match(
                r"^(\d+)\s+of\s+([A-Za-z_]\w*)(?:\s+by\s+(.+))?$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise KqlError(
                    f"top-hitters needs 'N of col [by sumexpr]', got {rest!r}"
                )
            n, col, by = m.groups()
            # Kusto's output column names; exact agg instead of its
            # streaming approximation (documented deviation — dominates it)
            if by:
                out_col = f"approximate_sum_{col}"
                agg = f"sum({_expr(by)})"
            else:
                out_col = f"approximate_count_{col}"
                agg = "count(*)"
            rel = (
                f"SELECT {col}, {agg} AS {out_col} FROM {sub} "
                f"GROUP BY {col} ORDER BY {out_col} DESC, {col} LIMIT {n}"
            )
        elif op == "scan":
            # the preceding sort exists only to serialize rows for the scan;
            # the lowering re-states it inside the per-key window, so strip
            # the trailing ORDER BY — otherwise the plan pays a redundant
            # global range exchange below the window's hash exchange
            base = rel
            if last_order and base.endswith(f" ORDER BY {last_order}"):
                base = base[: -len(f" ORDER BY {last_order}")]
            sub = f"({base}) __k{i}" if " " in base or base.startswith("(") else base
            rel = _scan(
                sub,
                rest,
                last_order,
                downstream_cols=_scan_downstream_cols(
                    stages[i + 2] if i + 2 < len(stages) else None
                ),
            )
        elif op == "invoke":
            mi = re.match(r"^([A-Za-z_]\w*)\s*\(\s*\)\s*$", rest.strip())
            if not mi or mi.group(1) not in funcs:
                raise KqlError(
                    f"invoke needs a let-bound tabular function f(), got {rest!r}"
                )
            param, fbody = funcs[mi.group(1)]
            sub_lets = dict(lets)
            sub_lets[param] = rel if " " in rel else f"SELECT * FROM {rel}"
            rel = _transpile_pipeline(fbody, sub_lets, funcs)
        elif op == "partition":
            rel = _partition(
                sub,
                rest,
                _scan_downstream_cols(
                    stages[i + 2] if i + 2 < len(stages) else None
                ),
            )
        elif op == "facet":
            rel = _facet(sub, rest)
        elif op == "serialize":
            if not rest.strip():
                rel = f"SELECT * FROM {sub}"  # marker only
            else:
                if last_order is None:
                    raise KqlError("serialize needs a preceding sort")
                items = []
                for it in _split_top(rest):
                    ma = re.match(
                        r"^([A-Za-z_]\w*)\s*=\s*row_number\(\s*\)$", it.strip(),
                        re.IGNORECASE,
                    )
                    if not ma:
                        raise KqlError(
                            "serialize subset: name = row_number() items, "
                            f"got {it!r}"
                        )
                    items.append(
                        f"row_number() OVER (ORDER BY {last_order}) "
                        f"AS {ma.group(1)}"
                    )
                rel = f"SELECT *, {', '.join(items)} FROM {sub}"
        elif op == "lookup":
            m = re.match(
                r"^\(\s*(.+?)\s*\)\s+on\s+([^()]+)$", rest,
                re.IGNORECASE | re.DOTALL,
            )
            mb = re.match(r"^([A-Za-z_]\w*)\s+on\s+([^()]+)$", rest,
                          re.IGNORECASE)
            if m:
                right, cond = m.group(1).strip(), m.group(2).strip()
            elif mb:
                right, cond = mb.group(1).strip(), mb.group(2).strip()
            else:
                raise KqlError(f"lookup needs '(Dim) on key', got {rest!r}")
            mc = re.match(r"^\$left\.(\w+)\s*==\s*\$right\.(\w+)$", cond)
            lk, rk = (mc.group(1), mc.group(2)) if mc else (cond, cond)
            if not mc and not re.match(r"^\w+$", cond):
                raise KqlError(f"unsupported lookup condition: {cond!r}")
            left_rel = rel if " " in rel else f"SELECT * FROM {rel}"
            if re.match(r"^[A-Za-z_]\w*$", right):
                right_rel = lets.get(right) or f"SELECT * FROM {right}"
            else:
                right_rel = _transpile_pipeline(right, lets)
            rel = (
                f"SELECT * FROM ({left_rel}) __l "
                f"LEFT JOIN ({right_rel}) __r ON __l.{lk} = __r.{rk}"
            )
        elif op in ("take", "limit"):
            # scalar lets substitute as parenthesized literals: take (5)
            rel = f"SELECT * FROM {sub} LIMIT {int(rest.strip().strip('()'))}"
        elif op == "sample":
            # Kusto sample N returns N pseudo-random rows; the lowering
            # selects by md5-rank over the whole row — reproducible across
            # runs/engines/cluster sizes (same policy as corpus_budget_
            # sample), a documented determinism upgrade over Kusto's RNG.
            # TakeOrderedAndProject keeps it a per-partition heap.
            rel = (
                f"SELECT * EXCEPT (__smp) FROM (SELECT *, "
                f"md5(to_json(struct(*))) AS __smp FROM {sub}) __sm "
                f"ORDER BY __smp LIMIT {int(rest.strip().strip('()'))}"
            )
        elif op == "reduce":
            # reduce by Expr: group string values by shape (Pattern, Count,
            # Representative).  Deterministic subset of Kusto's proprietary
            # clustering heuristic: the pattern replaces every maximal
            # digit run with '*' (the dominant log-template case);
            # Representative is the group's MIN value (Kusto's pick is
            # unspecified — min makes runs reproducible).  ONE hash
            # aggregate, all JVM.  `with threshold=...` tuning knobs are
            # rejected rather than silently ignored.
            mr = re.match(r"(?is)^by\s+(.+)$", rest.strip())
            if not mr:
                raise KqlError(f"reduce needs 'by <expr>', got {rest!r}")
            body = mr.group(1).strip()
            if re.search(r"\bwith\s+\w+\s*=", body, re.IGNORECASE):
                raise KqlError(
                    "reduce subset: 'with threshold/characters' tuning is "
                    "not supported — the pattern rule is fixed (digit runs "
                    "→ '*')"
                )
            rexpr = _expr(body)
            rel = (
                f"SELECT regexp_replace({rexpr}, '[0-9]+', '*') AS Pattern, "
                f"count(*) AS Count, min({rexpr}) AS Representative "
                f"FROM {sub} "
                f"GROUP BY regexp_replace({rexpr}, '[0-9]+', '*')"
            )
        elif op == "sample-distinct":
            ms = re.match(
                r"^(\d+)\s+of\s+([A-Za-z_]\w*)$", rest.strip(), re.IGNORECASE
            )
            if not ms:
                raise KqlError(
                    f"sample-distinct needs 'N of col', got {rest!r}"
                )
            n, col = ms.groups()
            # N distinct values of col, md5-rank-selected (single-column
            # output, matching Kusto's shape)
            rel = (
                f"SELECT {col} FROM (SELECT DISTINCT {col} FROM {sub}) __sd "
                f"ORDER BY md5(CAST({col} AS STRING)) LIMIT {int(n)}"
            )
        elif op == "mv-expand":
            mt = re.match(
                r"^(?:with_itemindex\s*=\s*([A-Za-z_]\w*)\s+)?"
                r"([A-Za-z_]\w*)(?:\s+to\s+typeof\s*\(\s*(\w+)\s*\))?\s*$",
                rest.strip(),
                re.IGNORECASE,
            )
            if not mt:
                raise KqlError(
                    f"mv-expand needs '[with_itemindex=i] col [to typeof(T)]', "
                    f"got {rest!r}"
                )
            idx, col, typ = mt.group(1), mt.group(2), mt.group(3)
            out_expr = "__mv"
            if typ:
                spark_t = _DT_TYPES.get(typ.lower())
                if spark_t is None:
                    raise KqlError(f"mv-expand typeof: unsupported type {typ!r}")
                out_expr = f"try_cast(__mv AS {spark_t})"
            if idx:
                # with_itemindex → POSEXPLODE (0-based, matching Kusto)
                rel = (
                    f"SELECT * EXCEPT ({col}, __mvi, __mv), __mvi AS {idx}, "
                    f"{out_expr} AS {col} FROM {sub} "
                    f"LATERAL VIEW POSEXPLODE({col}) __mvt AS __mvi, __mv"
                )
            else:
                rel = (
                    f"SELECT * EXCEPT ({col}, __mv), {out_expr} AS {col} "
                    f"FROM {sub} "
                    f"LATERAL VIEW EXPLODE({col}) __mvt AS __mv"
                )
        elif op == "project-keep":
            cols = [c.strip() for c in _split_top(rest)]
            if not cols or not all(re.match(r"^[A-Za-z_]\w*$", c) for c in cols):
                raise KqlError(
                    f"project-keep needs bare column names, got {rest!r}"
                )
            rel = f"SELECT {', '.join(cols)} FROM {sub}"
        elif op == "project-away":
            cols = [c.strip() for c in _split_top(rest)]
            if not cols or not all(re.match(r"^[A-Za-z_]\w*$", c) for c in cols):
                raise KqlError(f"project-away needs bare column names, got {rest!r}")
            rel = f"SELECT * EXCEPT ({', '.join(cols)}) FROM {sub}"
        elif op == "project-reorder":
            # listed columns first, every other column in original order —
            # Spark's `c1, c2, * EXCEPT (c1, c2)` is exactly that shape
            cols = [c.strip() for c in _split_top(rest)]
            if not cols or not all(re.match(r"^[A-Za-z_]\w*$", c) for c in cols):
                raise KqlError(
                    f"project-reorder needs bare column names, got {rest!r}"
                )
            rel = (
                f"SELECT {', '.join(cols)}, * EXCEPT ({', '.join(cols)}) "
                f"FROM {sub}"
            )
        elif op == "consume":
            # swallow the relation (Kusto's execution sink) — the lazy
            # analog keeps the schema and emits zero rows
            rel = f"SELECT * FROM {sub} LIMIT 0"
        elif op == "project-rename":
            pairs = []
            for item in _split_top(rest):
                m = re.match(r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s*$", item)
                if not m:
                    raise KqlError(
                        f"project-rename needs new=old pairs, got {item!r}"
                    )
                pairs.append((m.group(1), m.group(2)))
            olds = ", ".join(old for _n, old in pairs)
            renames = ", ".join(f"{old} AS {new}" for new, old in pairs)
            rel = f"SELECT * EXCEPT ({olds}), {renames} FROM {sub}"
        elif op == "make-series":
            rel = _make_series(sub, rest)
        elif op == "parse":
            rel = _parse_op(sub, rest)
        elif op == "parse-where":
            rel = _parse_op(sub, rest, where=True)
        elif op == "parse-kv":
            rel = _parse_kv(sub, rest)
        elif op == "as":
            # `| as Name` binds the pipeline-so-far for later reference
            # (lets-resolved by from/join/lookup/union); passthrough here
            ma = re.match(
                r"^(?:hint\.materialized\s*=\s*\w+\s+)?([A-Za-z_]\w*)\s*$",
                rest.strip(),
                re.IGNORECASE,
            )
            if not ma:
                raise KqlError(f"as needs a bare name, got {rest!r}")
            lets[ma.group(1)] = (
                rel if " " in rel else f"SELECT * FROM {rel}"
            )
            rel = f"SELECT * FROM {sub}"
        elif op == "top-nested":
            rel = _top_nested(sub, rest)
        elif op == "mv-apply":
            rel = _mv_apply(sub, rest)
        elif op == "evaluate":
            msw = re.match(
                r"^sliding_window_counts\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if msw:
                rel = _sliding_window_counts(sub, msw.group(1))
                continue
            mac = re.match(
                r"^activity_counts_metrics\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mac:
                rel = _activity_counts_metrics(sub, mac.group(1))
                continue
            mna = re.match(
                r"^new_activity_metrics\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mna:
                rel = _new_activity_metrics(sub, mna.group(1))
                continue
            mae = re.match(
                r"^activity_engagement\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mae:
                rel = _activity_engagement(sub, mae.group(1))
                continue
            mrp = re.match(
                r"^rolling_percentile\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mrp:
                rel = _rolling_percentile(sub, mrp.group(1))
                continue
            msn = re.match(
                r"^session_count\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if msn:
                rel = _session_count(sub, msn.group(1))
                continue
            mau2 = re.match(
                r"^active_users_count\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mau2:
                rel = _active_users_count(sub, mau2.group(1))
                continue
            mfc = re.match(
                r"^funnel_sequence_completion\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mfc:
                rel = _funnel_sequence_completion(sub, mfc.group(1))
                continue
            msd = re.match(
                r"^sequence_detect\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if msd:
                rel = _sequence_detect(sub, msd.group(1))
                continue
            mfs = re.match(
                r"^funnel_sequence\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mfs:
                rel = _funnel_sequence(sub, mfs.group(1), last_order)
                continue
            mip = re.match(
                r"^ipv4_lookup\s*\((.+)\)\s*$", rest, re.IGNORECASE | re.DOTALL
            )
            if mip:
                rel = _ipv4_lookup(sub, mip.group(1), lets)
                continue
            mdt = re.match(
                r"^diffpatterns_text\s*\((.+)\)\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if mdt:
                rel = _diffpatterns_text(sub, mdt.group(1))
                continue
            mdp = re.match(
                r"^diffpatterns\s*\((.+)\)\s*$", rest, re.IGNORECASE | re.DOTALL
            )
            if mdp:
                rel = _diffpatterns(sub, mdp.group(1))
                continue
            mau = re.match(
                r"^autocluster\s*\((.+)\)\s*$", rest, re.IGNORECASE | re.DOTALL
            )
            if mau:
                rel = _autocluster(sub, mau.group(1))
                continue
            mbk = re.match(
                r"^basket\s*\((.+)\)\s*$", rest, re.IGNORECASE | re.DOTALL
            )
            if mbk:
                # basket(threshold, col1, col2[, ...]): frequent attribute
                # itemsets — ONE CUBE aggregate + HAVING on the support
                # count (wildcard slots are NULL, Kusto's own rendering);
                # the grand-total all-wildcard row is excluded like
                # upstream.  Subset deviation: Kusto infers the column set
                # from the schema — the text path needs them named.
                bargs = _split_top(mbk.group(1))
                if len(bargs) < 2:
                    raise KqlError(
                        "basket subset: (threshold, col1[, col2, ...]) — "
                        "the column list must be explicit on the text path"
                    )
                thr = _expr(bargs[0])
                cols = [c.strip() for c in bargs[1:]]
                if len(cols) > 5:
                    raise KqlError("basket subset: at most 5 columns")
                tot = f"(SELECT count(*) FROM {sub})"
                all_wild = " AND ".join(f"grouping({c}) = 1" for c in cols)
                rel = (
                    f"SELECT count(*) AS Count, "
                    f"round(CAST(100.0 AS DOUBLE) * count(*) / {tot}, 6) AS Percent, "
                    f"{', '.join(cols)} FROM {sub} "
                    f"GROUP BY CUBE({', '.join(cols)}) "
                    f"HAVING count(*) >= ({thr}) * {tot} "
                    f"AND NOT ({all_wild})"
                )
                continue
            mrn = re.match(
                r"^rows_near\s*\((.+)\)\s*$", rest, re.IGNORECASE | re.DOTALL
            )
            if mrn:
                # rows_near(Condition, NumRows[, NumRowsAfter]): keep rows
                # within the distance envelope of any matching row — ONE
                # max window over the match flag in the serialized order
                # (global frame: the investigate-around-an-error tier;
                # bounded like bare scan, use partition by for scale)
                rn_args = _split_top(mrn.group(1))
                if last_order is None:
                    raise KqlError(
                        "rows_near needs a preceding sort (serialized order)"
                    )
                if len(rn_args) not in (2, 3):
                    raise KqlError(
                        "rows_near needs (Condition, NumRows[, NumRowsAfter])"
                    )
                rn_cond = _expr(rn_args[0])
                nb = int(rn_args[1])
                na = int(rn_args[2]) if len(rn_args) == 3 else nb
                rel = (
                    f"SELECT * EXCEPT (__rn_flag) FROM (SELECT *, "
                    f"max(CASE WHEN {rn_cond} THEN 1 ELSE 0 END) OVER "
                    f"(ORDER BY {last_order} ROWS BETWEEN {na} PRECEDING "
                    f"AND {nb} FOLLOWING) AS __rn_flag FROM {sub}) __rnq "
                    f"WHERE __rn_flag = 1"
                )
                continue
            # plugin operators; subset: pivot(col, agg(x), v1, v2, ...) —
            # Kusto's pivot derives the output columns from the data, Spark
            # SQL's PIVOT needs the IN list, so the values are explicit in
            # the subset (documented).  Output columns are named by value,
            # matching Kusto.
            m = re.match(r"^pivot\s*\((.+)\)\s*$", rest, re.IGNORECASE | re.DOTALL)
            if not m:
                raise KqlError(
                    f"evaluate subset: pivot(col, agg, values...), got {rest!r}"
                )
            pargs = _split_top(m.group(1))
            if len(pargs) < 3:
                raise KqlError(
                    "evaluate pivot needs (col, agg(x), v1[, v2, ...]) — "
                    "Spark's PIVOT requires the value list"
                )
            col = pargs[0].strip()
            agg = _agg_expr(pargs[1])
            vals = ", ".join(_expr(v) for v in pargs[2:])
            rel = f"SELECT * FROM {sub} PIVOT ({agg} FOR {col} IN ({vals}))"
        elif op == "render":
            # charting is a client-side concern in Kusto — pass the relation
            # through unchanged (same no-op contract as ADX's tabular engine)
            rel = f"SELECT * FROM {sub}"
        elif op == "make-graph":
            # make-graph <src> --> <dst> with <Nodes> on <id>: remember the
            # graph spec; the relation itself (the edge table) is untouched
            # until graph-match lowers the pattern to joins
            mg = re.match(
                r"(?is)^(\w+)\s*-->\s*(\w+)\s+with\s+([A-Za-z_]\w*)"
                r"\s+on\s+(\w+)\s*$",
                rest.strip(),
            )
            if not mg:
                raise KqlError(
                    "make-graph subset: <src> --> <dst> with <Nodes> on "
                    f"<id> (node properties need the nodes table), got {rest!r}"
                )
            nodes_name = mg.group(3)
            nodes_rel = lets.get(nodes_name, nodes_name)
            graph_spec = (rel, mg.group(1), mg.group(2), nodes_rel, mg.group(4))
            continue
        elif op == "graph-match":
            if graph_spec is None:
                raise KqlError("graph-match needs a preceding make-graph")
            rel = _graph_match(graph_spec, rest)
            graph_spec = None
        elif op == "graph-shortest-paths":
            if graph_spec is None:
                raise KqlError(
                    "graph-shortest-paths needs a preceding make-graph"
                )
            rel = _graph_shortest_paths(graph_spec, rest)
            graph_spec = None
        elif op == "graph-mark-components":
            if graph_spec is None:
                raise KqlError(
                    "graph-mark-components needs a preceding make-graph"
                )
            rel = _graph_mark_components(graph_spec, rest)
            graph_spec = None
        elif op == "graph-to-table":
            if graph_spec is None:
                raise KqlError("graph-to-table needs a preceding make-graph")
            which = rest.strip().lower()
            g_edges, _s, _d, g_nodes, _i = graph_spec
            if which == "nodes":
                rel = (
                    g_nodes if " " not in g_nodes
                    else f"SELECT * FROM ({g_nodes}) __gtt"
                )
            elif which in ("edges", ""):
                rel = (
                    g_edges if " " not in g_edges
                    else f"SELECT * FROM ({g_edges}) __gtt"
                )
            else:
                raise KqlError(
                    f"graph-to-table: 'nodes' or 'edges', got {rest!r}"
                )
            graph_spec = None
        elif op == "count":
            rel = f"SELECT count(*) AS Count FROM {sub}"
        elif op == "distinct":
            items = ", ".join(_expr(x) for x in _split_top(rest))
            rel = f"SELECT DISTINCT {items} FROM {sub}"
        elif op == "join":
            # leading kind=/hint.* tokens in any order (Kusto accepts both
            # orders); hints are EXECUTION advice and lower to Spark join
            # strategy hints: strategy=broadcast → BROADCAST(kusto-left),
            # strategy=shuffle / shufflekey=k → SHUFFLE_HASH (both sides
            # repartition on the join key — Spark's shuffled hash join is
            # exactly Kusto's shuffle strategy); num_partitions is accepted
            # and ignored (AQE owns partition counts).
            kind, hints, toks = "inner", {}, rest.strip()
            while True:
                mk = re.match(r"^kind\s*=\s*(\w+)\s+", toks, re.IGNORECASE)
                mh = re.match(
                    r"^hint\.(\w+)\s*=\s*([\w.]+)\s+", toks, re.IGNORECASE
                )
                if mk:
                    kind = mk.group(1).lower()
                    toks = toks[mk.end():]
                elif mh:
                    hints[mh.group(1).lower()] = mh.group(2).lower()
                    toks = toks[mh.end():]
                else:
                    break
            m = re.match(
                r"^\(\s*(.+?)\s*\)\s+on\s+([^()]+)$",
                toks,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise KqlError(f"unsupported join form: {rest!r}")
            jmap = {
                "inner": "JOIN",
                "leftouter": "LEFT JOIN",
                "rightouter": "RIGHT JOIN",
                "fullouter": "FULL JOIN",
                # semi/anti kinds (Kusto aliases included); the right-handed
                # forms swap operands onto Spark's LEFT SEMI / LEFT ANTI
                "leftsemi": "LEFT SEMI JOIN",
                "leftsemijoin": "LEFT SEMI JOIN",
                "leftanti": "LEFT ANTI JOIN",
                "anti": "LEFT ANTI JOIN",
                "leftantisemi": "LEFT ANTI JOIN",
                "rightsemi": "LEFT SEMI JOIN",
                "rightanti": "LEFT ANTI JOIN",
                "rightantisemi": "LEFT ANTI JOIN",
            }
            if kind not in jmap:
                raise KqlError(f"unsupported join kind: {kind!r}")
            swap = kind.startswith("right") and kind != "rightouter"
            right = m.group(1).strip()
            cond = m.group(2).strip()
            mc = re.match(
                r"^\$left\.(\w+)\s*==\s*\$right\.(\w+)$", cond
            )
            lk, rk = (mc.group(1), mc.group(2)) if mc else (None, None)
            if not mc:
                if not re.match(r"^\w+$", cond):
                    raise KqlError(f"unsupported join condition: {cond!r}")
                lk = rk = cond
            left_rel = rel if " " in rel else f"SELECT * FROM {rel}"
            # the right operand may be a bare table, a let binding, or a
            # full subpipeline
            if re.match(r"^[A-Za-z_]\w*$", right):
                right_rel = lets.get(right) or f"SELECT * FROM {right}"
            else:
                right_rel = _transpile_pipeline(right, lets)
            kusto_left = "__l"
            if swap:
                # rightsemi/rightanti keep RIGHT-side rows → right becomes
                # the preserved (left) operand of Spark's LEFT SEMI/ANTI
                left_rel, right_rel, lk, rk = right_rel, left_rel, rk, lk
                kusto_left = "__r"
            strategy = hints.get("strategy")
            if strategy == "broadcast":
                # Kusto broadcasts the LEFT data source; Spark ignores the
                # hint where the build side is illegal for the join type
                hint_sql = f"/*+ BROADCAST({kusto_left}) */ "
            elif strategy == "shuffle" or "shufflekey" in hints:
                hint_sql = "/*+ SHUFFLE_HASH(__l, __r) */ "
            else:
                hint_sql = ""
            rel = (
                f"SELECT {hint_sql}* FROM ({left_rel}) __l "
                f"{jmap[kind]} ({right_rel}) __r ON __l.{lk} = __r.{rk}"
            )
            continue
        elif op == "union":
            # Kusto union never dedups (append semantics).  kind=outer is
            # the Kusto default; the operand must be positionally
            # compatible (documented deviation — Spark SQL lacks a by-name
            # union, and a text transpiler has no schema to align columns).
            arg = re.sub(r"^kind\s*=\s*outer\s+", "", rest.strip(),
                         flags=re.IGNORECASE)
            if re.match(r"^kind\s*=", arg, re.IGNORECASE):
                raise KqlError(
                    "union subset supports kind=outer only (positional "
                    f"UNION ALL), got {rest!r}"
                )
            mp = re.match(r"^\(\s*(.+?)\s*\)$", arg, re.DOTALL)
            if mp:
                other = _transpile_pipeline(mp.group(1), lets)
            elif re.match(r"^[A-Za-z_]\w*$", arg):
                other = lets.get(arg) or f"SELECT * FROM {arg}"
            else:
                raise KqlError(
                    f"union needs a table name or ( <subpipeline> ), got {rest!r}"
                )
            left_rel = rel if " " in rel else f"SELECT * FROM {rel}"
            rel = f"SELECT * FROM ({left_rel} UNION ALL {other}) __u{i}"
            continue
        else:
            raise KqlError(f"unsupported KQL operator: {op!r}")
    if " " not in rel:
        rel = f"SELECT * FROM {rel}"
    for tag, sub in ts_subs.items():
        rel = rel.replace(tag, sub)
    return rel
