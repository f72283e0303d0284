"""ClickHouse SQL dialect → Spark SQL transpiler (SELECT-core subset).

The reference's real entry surface is SQL *text*: `clickhouse-local -q '<SQL>'`
(/root/reference Dockefile-ubuntu:52) and the HTTP/TCP server ports
(Dockerfile:203-206).  `ChSparkEngine.sql(..., dialect="clickhouse")` accepts
that text directly; this module rewrites it to Spark SQL, which Catalyst then
plans like any native query — the transpiler is a *front end*, not an engine.

Hand-written (no sqlglot in the container): a regex tokenizer + token-stream
rewrites.  Strings/backtick identifiers are opaque tokens, so rewrites never
touch literal content.

Supported surface (documented subset — unsupported constructs raise
``ChSqlError`` where detectable, otherwise pass through for Spark to reject):

- clause level: ``PREWHERE`` (merged into WHERE — Spark pushes predicates to
  the scan automatically, SURVEY §2.2), ``LIMIT n BY cols`` (row_number
  window rewrite; requires an ORDER BY on base columns and aliased/simple
  select items), ``ASOF [LEFT|INNER] JOIN ... ON eq AND ineq`` (lowered to
  the same 1-shuffle union-window form as operators/asof.py — see
  ``_asof_union_window``; both sides union-tagged, one window over the merged
  stream fills the last/next right row per key, then probe rows project),
  ``GROUP BY ... WITH TOTALS`` (GROUPING SETS rewrite; the totals row
  carries NULL keys), ``[LEFT] ARRAY JOIN`` incl. parallel arrays
  (posexplode lateral view; companions subscripted by position), trailing
  ``FORMAT x`` / ``SETTINGS k=v`` stripped, ``FINAL`` and ``GLOBAL`` dropped
  (every read is a merged view; every join is cluster-wide in Spark).
  ``WITH ROLLUP/CUBE`` pass through (identical Spark syntax).  CH scalar
  ``WITH <expr> AS name`` aliases inline; ``SAMPLE f`` becomes the
  deterministic sampling-key filter declared in ``SAMPLE_KEYS``.
- expression level: ~100 ClickHouse function names → Spark equivalents
  (see FUNC_RULES / PARAMETRIC_RULES), parametric aggregate syntax
  ``quantile(0.9)(x)``, CH type names inside CAST (``Float64``→``DOUBLE``),
  ``==`` → ``=``.

Documented deviations (same ANSI posture as the rest of the engine,
SURVEY §7.4): hash functions map to Spark's (xxhash64 — values differ from
cityHash64), ``groupArray`` order is nondeterministic on both engines unless
sorted, ``uniq*`` map to HyperLogLog++ estimates.
"""

from __future__ import annotations

import re

from clickhouseocp_spark.functions.geo import (
    geohash_decode_sql as _geohash_decode_sql,
    geohash_encode_sql as _geohash_encode_sql,
)


class ChSqlError(ValueError):
    """Raised when CH-dialect text uses a construct outside the supported
    subset in a way the transpiler can detect."""


def _literal_int_ch(tok: str) -> int:
    """geohashEncode precision must be an integer LITERAL (it sizes the
    generated interval-halving fold); a non-literal arg is a ChSqlError
    naming the limitation, not a raw ValueError (advice r10)."""
    try:
        return int(str(tok).strip())
    except (TypeError, ValueError):
        raise ChSqlError(
            "geohashEncode precision must be an integer literal (it sizes "
            f"the generated expression at transpile time), got {tok!r}"
        ) from None


#: file()/url() format name → Spark datasource (the direct-file SQL read)
_FILE_FORMATS = {
    "parquet": "parquet", "orc": "orc", "csv": "csv",
    "csvwithnames": "csv", "jsoneachrow": "json", "json": "json",
}


def _file_table_function(args: list[str]) -> str:
    """``file('/path'[, Format])`` → ``(SELECT * FROM <fmt>.`/path`)`` —
    Spark's direct-file read; the format defaults from the extension."""
    path = args[0].strip()
    if not (path.startswith("'") and path.endswith("'")):
        raise ChSqlError("file()/url() need a string-literal path")
    inner = path[1:-1]
    if len(args) > 1:
        fmt_name = args[1].strip().strip("'").replace("_", "").lower()
        fmt = _FILE_FORMATS.get(fmt_name)
        if fmt is None:
            raise ChSqlError(
                f"file()/url(): unsupported format {args[1]!r} on the SQL "
                f"path (supported: {sorted(set(_FILE_FORMATS))}); Native "
                "reads through sources.readers.read_any"
            )
    else:
        ext = inner.rsplit(".", 1)[-1].lower()
        fmt = _FILE_FORMATS.get(ext, "parquet")
    return f"(SELECT * FROM {fmt}.`{inner}`)"



def _ngram_search(args: list[str], ci: bool) -> str:
    """ngramSearch(haystack, needle): the fraction of the needle's DISTINCT
    trigrams present in the haystack (0..1) — the containment analog of
    ngramDistance (CH's hyperscan tier computes the same quantity over
    4-gram hashes; distinct-trigram containment is the documented
    deviation).  Pure array combinators: one trigram expansion per side,
    no regex, no UDF."""
    h, n = args[0], args[1]
    if ci:
        h, n = f"lower({h})", f"lower({n})"

    def tg(s: str) -> str:
        return (
            f"array_distinct(transform(sequence(1, greatest(length({s}) - 2, "
            f"1)), __i -> substring({s}, __i, 3)))"
        )

    return (
        f"(CAST(size(array_intersect({tg(n)}, {tg(h)})) AS DOUBLE) / "
        f"size({tg(n)}))"
    )


def _ngram_distance(args: list[str], ci: bool) -> str:
    """ngramDistance(a, b): symmetric trigram distance in [0,1] — here the
    Jaccard distance over DISTINCT trigrams (1 - |A∩B| / |A∪B|), the same
    distinct-trigram deviation documented for ngramSearch (CH hashes 4-gram
    multisets).  Empty∪empty → distance 0 (identical empties)."""
    a, b = args[0], args[1]
    if ci:
        a, b = f"lower({a})", f"lower({b})"

    def tg(s: str) -> str:
        return (
            f"array_distinct(transform(sequence(1, greatest(length({s}) - 2, "
            f"1)), __i -> substring({s}, __i, 3)))"
        )

    return (
        f"(1.0D - CAST(size(array_intersect({tg(a)}, {tg(b)})) AS DOUBLE) / "
        f"greatest(size(array_union({tg(a)}, {tg(b)})), 1))"
    )


# --- H3 index math (round 8) ------------------------------------------------
# The H3 cell index is pure bit layout (public spec, h3geo.org/docs/core-library/h3Indexing):
# bit63 reserved(0) | bits59-62 mode(1=cell) | bits56-58 reserved(0) |
# bits52-55 resolution | bits45-51 base cell | digits 1..15 at 3 bits each
# (digit i at bits 45-3i..47-3i), unused digits = 7.  Everything below is
# closed-form integer arithmetic — no geometry library; the geometry tier
# (geoToH3/h3ToGeo/h3HexAreaM2) legitimately needs the H3 planar math and
# stays out (documented gate, like ffmpeg for inter-frame video).

_H3_PENTAGONS = "(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)"


def _h3_res(x: str) -> str:
    return f"(shiftright({x}, 52) & 15)"


def _h3_digit(x: str, i: str) -> str:
    return f"(shiftright({x}, 45 - 3 * ({i})) & 7)"


def _h3_is_valid(args: list[str]) -> str:
    """h3IsValid: mode 1, reserved bits clear, base cell < 122, used digits
    < 7, unused digits = 7, and for pentagon base cells the leading
    non-zero digit is never 1 (the deleted K-axis subsequence)."""
    x = f"({args[0]})"
    res = _h3_res(x)
    digit_ok = (
        f"forall(sequence(1, 15), __i -> if(__i <= {res}, "
        f"{_h3_digit(x, '__i')} <> 7, {_h3_digit(x, '__i')} = 7))"
    )
    first_nz = (
        f"element_at(concat(filter(transform(sequence(1, 15), __i -> "
        f"if(__i <= {res}, {_h3_digit(x, '__i')}, 0L)), __d -> __d <> 0), "
        f"array(0L)), 1)"
    )
    return (
        f"(shiftright({x}, 63) = 0 AND (shiftright({x}, 59) & 15) = 1 "
        f"AND (shiftright({x}, 56) & 7) = 0 "
        f"AND (shiftright({x}, 45) & 127) < 122 AND {digit_ok} "
        f"AND NOT ((shiftright({x}, 45) & 127) IN {_H3_PENTAGONS} "
        f"AND {first_nz} = 1))"
    )


def _h3_to_parent(args: list[str]) -> str:
    """h3ToParent(idx, parentRes): rewrite the res field and 7-fill every
    digit finer than the parent resolution."""
    x, pr = f"({args[0]})", f"({args[1]})"
    return (
        f"(({x} & ~shiftleft(15L, 52)) | shiftleft(CAST({pr} AS BIGINT), 52) "
        f"| (shiftleft(1L, 45 - 3 * {pr}) - 1))"
    )


def _h3_center_child(args: list[str]) -> str:
    """h3ToCenterChild(idx, childRes): res field → childRes, new digits 0,
    remaining fill 7s."""
    x, cr = f"({args[0]})", f"({args[1]})"
    res = _h3_res(x)
    return (
        f"(((({x} & ~shiftleft(15L, 52)) | shiftleft(CAST({cr} AS BIGINT), 52))"
        f" & ~(shiftleft(1L, 45 - 3 * {res}) - 1))"
        f" | (shiftleft(1L, 45 - 3 * {cr}) - 1))"
    )


def _h3_children(args: list[str]) -> str:
    """h3ToChildren(idx, childRes): enumerate all 7^(childRes-res) children
    by assigning every digit combination to the new positions (deviation:
    pentagon parents also emit the deleted K-subsequence children — the 12
    pentagon base cells are the documented gap)."""
    x, cr = f"({args[0]})", f"({args[1]})"
    res = _h3_res(x)
    base = (
        f"(((({x} & ~shiftleft(15L, 52)) | shiftleft(CAST({cr} AS BIGINT), 52))"
        f" & ~(shiftleft(1L, 45 - 3 * {res}) - 1))"
        f" | (shiftleft(1L, 45 - 3 * {cr}) - 1))"
    )
    diff = f"({cr} - {res})"
    digits = (
        f"aggregate(sequence(1, {diff}), 0L, (__acc, __k) -> __acc + "
        f"shiftleft(CAST(floor(__i / power(7, {diff} - __k)) AS BIGINT) % 7, "
        f"45 - 3 * ({res} + __k)))"
    )
    return (
        f"transform(sequence(0, CAST(power(7, {diff}) AS INT) - 1), "
        f"__i -> {base} + {digits})"
    )


def _tuple_arith(args: list[str], op: str) -> str:
    """tuplePlus/Minus/Multiply on LITERAL tuple operands: ``(a, b)`` ±
    ``(c, d)`` → named_struct of element-wise results (any arity).
    Column-typed tuples need the schema and stay out of the rule subset
    (documented) — CH's own use of these is overwhelmingly literal vector
    math."""
    ts = []
    for a in args:
        a = a.strip()
        if not (a.startswith("(") and a.endswith(")")):
            raise ChSqlError(
                f"tuple arithmetic needs literal (a, b, ...) operands, got {a!r}"
            )
        ts.append(_split_args(a[1:-1]))
    if len(ts) != 2 or len(ts[0]) != len(ts[1]):
        raise ChSqlError("tuple arithmetic needs two equal-arity tuples")
    fields = ", ".join(
        f"'col{i + 1}', ({x}) {op} ({y})"
        for i, (x, y) in enumerate(zip(ts[0], ts[1]))
    )
    return f"named_struct({fields})"


def _tuple_literal_elems(a: str, name: str) -> list[str]:
    """Split a LITERAL ``(a, b, ...)`` tuple operand (the documented
    tuple-arithmetic subset — see _tuple_arith)."""
    a = a.strip()
    if not (a.startswith("(") and a.endswith(")")):
        raise ChSqlError(
            f"{name} needs literal (a, b, ...) tuple operands, got {a!r}"
        )
    return _split_args(a[1:-1])


def _tuple_pairwise(args: list[str], fmt: str, name: str) -> str:
    """tupleIntDiv/tupleIntDivOrZero/tupleModulo (CH 24.x): element-wise
    over two literal tuples with an arbitrary cell template."""
    if len(args) != 2:
        raise ChSqlError(f"{name} takes two tuples")
    xs = _tuple_literal_elems(args[0], name)
    ys = _tuple_literal_elems(args[1], name)
    if len(xs) != len(ys):
        raise ChSqlError(f"{name} needs two equal-arity tuples")
    fields = ", ".join(
        f"'col{i + 1}', " + fmt.format(x=x, y=y)
        for i, (x, y) in enumerate(zip(xs, ys))
    )
    return f"named_struct({fields})"


def _tuple_by_number(args: list[str], fmt: str, name: str) -> str:
    """tupleMultiplyByNumber/tupleDivideByNumber/tupleIntDivByNumber
    (CH 24.x): element-wise (tuple, scalar) with a cell template."""
    if len(args) != 2:
        raise ChSqlError(f"{name} takes (tuple, number)")
    xs = _tuple_literal_elems(args[0], name)
    fields = ", ".join(
        f"'col{i + 1}', " + fmt.format(x=x, n=args[1])
        for i, x in enumerate(xs)
    )
    return f"named_struct({fields})"


def _java_byte_fold(s: str) -> str:
    """The 32-bit Java/Hive string-hash fold h = 31·h + byte (mod 2^32)
    over the UTF-8 bytes, exposed via hex() digit pairs — pure JVM SQL,
    identical replay in DuckDB.  CH's javaHash folds the raw BYTES (not
    UTF-16 code units), so ASCII matches java.lang.String.hashCode
    exactly and multi-byte text follows CH, not Java (documented)."""
    pairs = (
        f"transform(sequence(1, CAST(length(hex({s})) / 2 AS INT)), "
        f"__i -> CAST(conv(substring(hex({s}), 2 * __i - 1, 2), 16, 10) "
        f"AS BIGINT))"
    )
    return (
        f"IF(length({s}) = 0, CAST(0 AS BIGINT), "
        f"aggregate({pairs}, CAST(0 AS BIGINT), "
        f"(__h, __b) -> (__h * 31 + __b) & 4294967295))"
    )


def _java_hash_expr(args: list[str]) -> str:
    """javaHash(s) (CH compat tier): signed-int32 view of the byte fold.
    Pinned against java.lang.String.hashCode values for ASCII."""
    if len(args) != 1:
        raise ChSqlError("javaHash takes exactly (s)")
    return (
        f"transform(array({_java_byte_fold(args[0])}), __h -> "
        f"CAST(IF(__h >= 2147483648, __h - 4294967296, __h) AS INT))[0]"
    )


def _hive_hash_expr(args: list[str]) -> str:
    """hiveHash(s): javaHash with the sign bit cleared (Hive's
    positive-bucket convention)."""
    if len(args) != 1:
        raise ChSqlError("hiveHash takes exactly (s)")
    return (
        f"CAST(({_java_byte_fold(args[0])}) & 2147483647 AS INT)"
    )


def _java_hash_utf16le_expr(args: list[str]) -> str:
    """javaHashUTF16LE(s): the 31·h+unit fold over UTF-16 code units —
    java.lang.String.hashCode proper (javaHash above folds UTF-8 BYTES,
    CH's documented quirk).  BMP characters contribute their code point;
    astral characters contribute the surrogate pair, derived
    arithmetically from the code point ascii() yields."""
    if len(args) != 1:
        raise ChSqlError("javaHashUTF16LE takes exactly (s)")
    units = (
        f"flatten(transform(split({args[0]}, ''), __c -> "
        f"IF(ascii(__c) < 65536, array(CAST(ascii(__c) AS BIGINT)), "
        f"array(CAST(55296 + CAST(floor((ascii(__c) - 65536) / 1024) AS "
        f"BIGINT) AS BIGINT), "
        f"CAST(56320 + (ascii(__c) - 65536) % 1024 AS BIGINT)))))"
    )
    fold = (
        f"IF(length({args[0]}) = 0, CAST(0 AS BIGINT), "
        f"aggregate({units}, CAST(0 AS BIGINT), "
        f"(__h, __u) -> (__h * 31 + __u) & 4294967295))"
    )
    return (
        f"transform(array({fold}), __h -> "
        f"CAST(IF(__h >= 2147483648, __h - 4294967296, __h) AS INT))[0]"
    )


#: RFC 4648 base32 alphabet (no padding char)
_B32_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def _string_bytes(s: str) -> str:
    """UTF-8 bytes of a string expression as ARRAY<BIGINT>, via hex()
    digit pairs — the established pure-JVM byte extraction (see
    :func:`_java_byte_fold`)."""
    return (
        f"transform(sequence(1, CAST(length(hex({s})) / 2 AS INT)), "
        f"__i -> CAST(conv(substring(hex({s}), 2 * __i - 1, 2), 16, 10) "
        f"AS BIGINT))"
    )


def _base32_encode_expr(args: list[str]) -> str:
    """base32Encode(s) (RFC 4648, padded): 5-byte groups become one
    40-bit integer, sliced into eight 5-bit alphabet indexes; the final
    partial group keeps ceil(8r/5) chars and pads with '=' to a multiple
    of 8.  One pass over the bytes, wrap-once bound."""
    if len(args) != 1:
        raise ChSqlError("base32Encode takes exactly (s)")
    return (
        f"IF(length({args[0]}) = 0, '', "
        f"transform(array({_string_bytes(args[0])}), __b -> "
        f"array_join(transform("
        f"sequence(0, CAST(ceil(size(__b) / 5.0) - 1 AS INT)), __g -> "
        # the 40-bit group value (missing tail bytes read as 0)
        f"transform(array("
        f"coalesce(try_element_at(__b, 5 * __g + 1), CAST(0 AS BIGINT)) * 4294967296 "
        f"+ coalesce(try_element_at(__b, 5 * __g + 2), CAST(0 AS BIGINT)) * 16777216 "
        f"+ coalesce(try_element_at(__b, 5 * __g + 3), CAST(0 AS BIGINT)) * 65536 "
        f"+ coalesce(try_element_at(__b, 5 * __g + 4), CAST(0 AS BIGINT)) * 256 "
        f"+ coalesce(try_element_at(__b, 5 * __g + 5), CAST(0 AS BIGINT))), __v -> "
        f"rpad(substring(array_join(transform(sequence(0, 7), __k -> "
        f"substring('{_B32_ALPHABET}', "
        f"CAST((__v div CAST(pow(2, 35 - 5 * __k) AS BIGINT)) % 32 AS INT) "
        f"+ 1, 1)), ''), 1, "
        f"IF(size(__b) - 5 * __g >= 5, 8, "
        f"element_at(array(8, 2, 4, 5, 7), "
        f"CAST(size(__b) - 5 * __g AS INT) + 1))), 8, '='))[0]"
        f"), ''))[0])"
    )


def _base32_decode_expr(args: list[str], try_form: bool) -> str:
    """base32Decode / tryBase32Decode: padding stripped, each char's
    5-bit alphabet index re-packed into bytes (bit i of the stream is
    bit (4 - i mod 5) of value i div 5); bytes re-enter string space via
    hex → unhex.  Invalid input (bad char / bad length) yields NULL —
    for the strict form too, a documented deviation from CH's throw
    (data-dependent raises don't exist in a Spark plan)."""
    if len(args) != 1:
        raise ChSqlError("base32Decode takes exactly (s)")
    s = args[0]
    stripped = f"regexp_replace(upper({s}), '=+$', '')"
    # valid stripped lengths mod 8 are {0,2,4,5,7}: a final group of
    # 1/3/6 chars cannot carry a whole number of bytes (r14 ADVICE —
    # 'A=======' would otherwise reach the decoder, whose
    # floor(5/8)-1 = -1 makes sequence(0,-1) DESCEND and negative
    # try_element_at indexes read from the array end)
    valid = (
        f"(length({s}) % 8 = 0 AND "
        f"length({stripped}) % 8 NOT IN (1, 3, 6) AND "
        f"{stripped} RLIKE '^[A-Z2-7]*$')"
    )
    vals = (
        f"transform(split(__s, ''), __c -> "
        f"CAST(instr('{_B32_ALPHABET}', __c) - 1 AS BIGINT))"
    )
    body = (
        f"transform(array({vals}), __v -> "
        f"IF(size(__v) < 2, '', "
        f"decode(unhex(array_join(transform("
        f"sequence(0, CAST(floor(size(__v) * 5 / 8) - 1 AS INT)), __j -> "
        f"lpad(conv(CAST(aggregate(sequence(0, 7), CAST(0 AS BIGINT), "
        f"(__a, __t) -> __a * 2 + "
        f"CAST((coalesce(try_element_at(__v, "
        f"CAST(floor((8 * __j + __t) / 5) AS INT) + 1), CAST(0 AS BIGINT)) "
        f"div CAST(pow(2, 4 - (8 * __j + __t) % 5) AS BIGINT)) % 2 AS BIGINT)"
        f") AS STRING), 10, 16), 2, '0')), '')), 'UTF-8')))[0]"
    )
    body = f"transform(array({stripped}), __s -> {body})[0]"
    return f"IF({valid}, {body}, NULL)"


#: XML's five predefined entities, encode order: '&' first
_XML_ENTITIES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                 ('"', "&quot;"), ("'", "&apos;")]

#: the decodeHTMLComponent named-entity subset (documented; CH ships the
#: full HTML5 table) — name → code point
_HTML_ENTITIES = {
    "amp": 38, "lt": 60, "gt": 62, "quot": 34, "apos": 39,
    "nbsp": 160, "copy": 169, "reg": 174, "trade": 8482,
    "hellip": 8230, "mdash": 8212, "ndash": 8211, "deg": 176,
    "plusmn": 177, "times": 215, "divide": 247, "euro": 8364,
}


def _encode_xml_component_expr(args: list[str]) -> str:
    if len(args) != 1:
        raise ChSqlError("encodeXMLComponent takes exactly (s)")
    e = args[0]
    for ch, ent in _XML_ENTITIES:
        lit = "\\'" if ch == "'" else ch
        e = f"replace({e}, '{lit}', '{ent}')"
    return e


def _decode_entities_expr(args: list[str], names: dict, fname: str) -> str:
    """decodeXMLComponent / decodeHTMLComponent: split on '&'; each tail
    piece either starts with a known named entity or a numeric
    (&#123; / &#x7B;) reference up to ';' — decoded via the UTF-32 route
    (char() wraps at 256) — or is kept verbatim with its '&'."""
    if len(args) != 1:
        raise ChSqlError(f"{fname} takes exactly (s)")
    named = " ".join(
        f"WHEN '{n}' THEN {cp}" for n, cp in sorted(names.items())
    )
    # __p: text after one '&'; __e: candidate entity name; __cp: code
    # point or NULL when the piece is not a reference
    piece = (
        f"transform(array(substring(__p, 1, instr(__p, ';') - 1)), __e -> "
        f"transform(array(CASE __e {named} "
        f"WHEN '' THEN NULL "
        f"ELSE IF(__e RLIKE '^#[0-9]+$', "
        f"try_cast(substring(__e, 2) AS BIGINT), "
        f"IF(__e RLIKE '^#[xX][0-9a-fA-F]+$', "
        f"CAST(conv(substring(__e, 3), 16, 10) AS BIGINT), NULL)) END), "
        f"__cp -> IF(__cp IS NULL OR __cp > 1114111, concat('&', __p), "
        f"concat(decode(unhex(lpad(hex(__cp), 8, '0')), 'UTF-32'), "
        f"substring(__p, length(__e) + 2))))[0])[0]"
    )
    return (
        f"IF(instr({args[0]}, '&') = 0, {args[0]}, "
        f"transform(array(split({args[0]}, '&')), __parts -> "
        f"concat(element_at(__parts, 1), "
        f"array_join(transform(slice(__parts, 2, size(__parts) - 1), "
        f"__p -> IF(instr(__p, ';') = 0, concat('&', __p), {piece})), "
        f"'')))[0])"
    )


def _extract_text_from_html_expr(args: list[str]) -> str:
    """extractTextFromHTML(s): CDATA bodies kept verbatim, comments and
    script/style elements dropped, remaining tags become whitespace,
    whitespace collapsed and trimmed.  Documented deviation: a CDATA
    body containing markup is unwrapped BEFORE tag stripping, so
    embedded '<' falls to the tag pass (CH preserves it)."""
    if len(args) != 1:
        raise ChSqlError("extractTextFromHTML takes exactly (s)")
    e = args[0]
    e = f"regexp_replace({e}, '(?s)<!\\\\[CDATA\\\\[(.*?)\\\\]\\\\]>', ' $1 ')"
    e = f"regexp_replace({e}, '(?s)<!--.*?-->', ' ')"
    e = (
        f"regexp_replace({e}, "
        f"'(?is)<script\\\\b[^>]*>.*?</script\\\\s*>', ' ')"
    )
    e = (
        f"regexp_replace({e}, "
        f"'(?is)<style\\\\b[^>]*>.*?</style\\\\s*>', ' ')"
    )
    e = f"regexp_replace({e}, '<[^>]*>', ' ')"
    e = f"trim(regexp_replace({e}, '\\\\s+', ' '))"
    return e


def _reinterpret_as_uint_expr(args: list[str], nbytes: int) -> str:
    """reinterpretAsUInt8/16/32/64(s): little-endian load of the first
    N bytes (missing bytes read 0, extra bytes ignored — CH pads/chops
    the same way).  The 64-bit form returns the signed bit pattern
    (documented: Spark has no unsigned 64)."""
    if len(args) != 1:
        raise ChSqlError("reinterpretAsUInt takes exactly (s)")
    b = _string_bytes(args[0])
    return (
        f"transform(array({b}), __b -> "
        f"aggregate(sequence(0, {nbytes - 1}), CAST(0 AS BIGINT), "
        f"(__a, __i) -> __a + coalesce(try_element_at(__b, __i + 1), "
        f"CAST(0 AS BIGINT)) * CAST(pow(2, 8 * __i) AS BIGINT)))[0]"
    )


def _reinterpret_as_string_expr(args: list[str]) -> str:
    """reinterpretAsString(n): the integer's little-endian bytes with
    trailing zero bytes stripped, viewed through ISO-8859-1 (CH emits
    raw bytes; the latin-1 view keeps the result a valid Spark string —
    identical for bytes < 128, documented above that)."""
    if len(args) != 1:
        raise ChSqlError("reinterpretAsString takes exactly (n)")
    return (
        f"transform(array(CAST({args[0]} AS BIGINT)), __n -> "
        f"transform(array(transform(sequence(0, 7), __i -> "
        f"(__n div CAST(pow(2, 8 * __i) AS BIGINT)) % 256)), __bs -> "
        f"IF(__n = 0, '', decode(unhex(array_join(transform("
        f"slice(__bs, 1, aggregate(sequence(1, 8), 0, (__m, __i) -> "
        f"IF(element_at(__bs, __i) != 0, __i, __m))), "
        f"__v -> lpad(conv(CAST(__v AS STRING), 10, 16), 2, '0')), '')), "
        f"'ISO-8859-1')))[0])[0]"
    )


#: encrypt/decrypt mode literal → (Spark mode, key bytes, needs-IV)
_AES_MODES = {
    "aes-128-ecb": ("ECB", 16, False),
    "aes-192-ecb": ("ECB", 24, False),
    "aes-256-ecb": ("ECB", 32, False),
    "aes-128-cbc": ("CBC", 16, True),
    "aes-192-cbc": ("CBC", 24, True),
    "aes-256-cbc": ("CBC", 32, True),
}


def _aes_codec_expr(args: list[str], enc: bool, fname: str) -> str:
    """encrypt/decrypt('aes-N-mode', data, key[, iv]) on Spark's
    aes_encrypt/aes_decrypt (PKCS padding, CH's default).  Spark's CBC
    output prepends the IV — stripped on encrypt / re-prepended on
    decrypt so the bytes match CH's raw-ciphertext convention.  GCM/CFB/
    OFB/CTR modes and the MySQL key-folding of over-long keys are
    rejected explicitly (the exact-length-key subset is the documented
    contract).  Key/IV lengths are validated by Spark at runtime."""
    if not 3 <= len(args) <= 4:
        raise ChSqlError(f"{fname} takes (mode, data, key[, iv])")
    mode_lit = args[0].strip()
    if not (mode_lit.startswith("'") and mode_lit.endswith("'")):
        raise ChSqlError(f"{fname} mode must be a string literal")
    entry = _AES_MODES.get(mode_lit[1:-1].lower())
    if entry is None:
        raise ChSqlError(
            f"{fname}: unsupported mode {mode_lit}; supported: "
            f"{sorted(_AES_MODES)}"
        )
    smode, _klen, needs_iv = entry
    data, key = args[1], args[2]
    if needs_iv:
        if len(args) < 4:
            raise ChSqlError(f"{fname}: {mode_lit} requires an IV")
        iv = args[3]
        if enc:
            # drop Spark's prepended IV (16 bytes) from the output
            return (
                f"CAST(substring(aes_encrypt({data}, {key}, '{smode}', "
                f"'PKCS', {iv}), 17) AS BINARY)"
            )
        return (
            f"CAST(aes_decrypt(concat(CAST({iv} AS BINARY), "
            f"CAST({data} AS BINARY)), {key}, '{smode}', 'PKCS') AS STRING)"
        )
    if enc:
        return f"aes_encrypt({data}, {key}, '{smode}', 'PKCS')"
    return (
        f"CAST(aes_decrypt(CAST({data} AS BINARY), {key}, '{smode}', "
        f"'PKCS') AS STRING)"
    )


def _sum_map_filtered_expr(params: list[str], args: list[str],
                           name: str) -> str:
    """sumMapFiltered(keys)(k_arr, v_arr): sumMap restricted to the
    parametric key whitelist — pairs are position-filtered before the
    shared map-aggregate fold (WithOverflow shares the lowering; Spark
    BIGINT sums don't wrap, documented at sumWithOverflow)."""
    if len(params) != 1 or len(args) != 2:
        raise ChSqlError(f"{name} takes (keys)(key_array, value_array)")
    keys, k, v = params[0], args[0], args[1]
    idx = (
        f"filter(sequence(1, size({k})), __fi -> "
        f"array_contains({keys}, element_at({k}, __fi)))"
    )
    fk = f"transform({idx}, __fi -> element_at({k}, __fi))"
    fv = f"transform({idx}, __fi -> element_at({v}, __fi))"
    return _map_agg_expr([fk, fv], "sum", name)


def _geohashes_in_box_expr(args: list[str]) -> str:
    """geohashesInBox(lon_min, lat_min, lon_max, lat_max, precision):
    every geohash cell of the given precision intersecting the box —
    the grid steps derive from the bit split (5p bits, lon gets the
    ceil half), each cell encoded at its center by the shared pure-JVM
    geohash fold.  Inverted boxes yield an empty array (CH behavior);
    the cell-count explosion guard is the PRECISION literal (≤ 6), not
    a runtime raise — a Spark plan cannot throw data-dependently."""
    if len(args) != 5:
        raise ChSqlError(
            "geohashesInBox takes (lon_min, lat_min, lon_max, lat_max, "
            "precision)"
        )
    try:
        p = int(args[4].strip())
    except ValueError:
        raise ChSqlError("geohashesInBox precision must be an int literal")
    if not 1 <= p <= 6:
        raise ChSqlError(
            "geohashesInBox precision must be 1..6 (cell-count guard)"
        )
    lon_bits = (5 * p + 1) // 2
    lat_bits = 5 * p // 2
    slon = 360.0 / (1 << lon_bits)
    slat = 180.0 / (1 << lat_bits)
    i0 = f"CAST(floor((({args[0]}) + 180.0D) / {slon!r}) AS BIGINT)"
    i1 = (
        f"least(CAST(floor((({args[2]}) + 180.0D) / {slon!r}) AS BIGINT), "
        f"{(1 << lon_bits) - 1})"
    )
    j0 = f"CAST(floor((({args[1]}) + 90.0D) / {slat!r}) AS BIGINT)"
    j1 = (
        f"least(CAST(floor((({args[3]}) + 90.0D) / {slat!r}) AS BIGINT), "
        f"{(1 << lat_bits) - 1})"
    )
    from clickhouseocp_spark.functions.geo import geohash_encode_sql

    cell = geohash_encode_sql(
        f"(-180.0D + (CAST(__gi AS DOUBLE) + 0.5D) * {slon!r})",
        f"(-90.0D + (CAST(__gj AS DOUBLE) + 0.5D) * {slat!r})",
        p,
    )
    return (
        f"IF(({args[0]}) > ({args[2]}) OR ({args[1]}) > ({args[3]}), "
        f"slice(array(''), 1, 0), "
        f"flatten(transform(sequence({i0}, {i1}), __gi -> "
        f"transform(sequence({j0}, {j1}), __gj -> {cell}))))"
    )


def _sql_bind(val: str, var: str, body: str) -> str:
    """Expression-level LET (the wrap-once idiom): bind ``val`` to
    ``var`` inside ``body`` without re-evaluating it."""
    return f"transform(array({val}), {var} -> {body})[0]"


def _lttb_select_sql(n: int) -> str:
    """The LTTB (largest-triangle-three-buckets, Steinarsson 2013)
    selected-index fold over a bound ``__p`` struct of sorted parallel
    arrays (x, y): first/last points pinned, the n−2 interior buckets
    each contribute the point maximizing the triangle area with the
    previously selected point and the NEXT bucket's average.  Returns
    the 1-based selected indices; N ≤ n passes every index through.
    Pure JVM: one outer fold over buckets, an avg fold and an argmax
    fold per bucket."""
    big_n = "CAST(size(__p.x) AS BIGINT)"
    bs = "(CAST(floor(__i * __sz) AS BIGINT) + 2)"
    be = "(CAST(floor((__i + 1) * __sz) AS BIGINT) + 1)"
    ne = (
        f"least(IF(__i < {n} - 3, "
        f"CAST(floor((__i + 2) * __sz) AS BIGINT) + 1, {big_n}), {big_n})"
    )

    def avg(c: str) -> str:
        return (
            f"(aggregate(sequence(__be + 1, __ne), CAST(0 AS DOUBLE), "
            f"(__a, __j) -> __a + element_at(__p.{c}, CAST(__j AS INT))) "
            f"/ CAST(greatest(1, __ne - __be) AS DOUBLE))"
        )

    area = (
        "abs((__c.px - __c.ax) * (element_at(__p.y, CAST(__j AS INT)) "
        "- __c.py) - (__c.px - element_at(__p.x, CAST(__j AS INT))) "
        "* (__c.ay - __c.py))"
    )
    argmax = (
        f"CAST(element_at(aggregate(sequence(__bs, __be), "
        f"array(CAST(0 AS DOUBLE), CAST(-1 AS DOUBLE)), "
        f"(__st, __j) -> "
        + _sql_bind(
            area, "__ar",
            "IF(__ar > element_at(__st, 2), "
            "array(CAST(__j AS DOUBLE), __ar), __st)",
        )
        + "), 1) AS BIGINT)"
    )
    ctx = (
        "named_struct("
        "'px', element_at(__p.x, CAST(element_at(__sel, -1) AS INT)), "
        "'py', element_at(__p.y, CAST(element_at(__sel, -1) AS INT)), "
        f"'ax', {avg('x')}, 'ay', {avg('y')})"
    )
    step = _sql_bind(
        "__BS__", "__bs",
        _sql_bind(
            "__BE__", "__be",
            _sql_bind(
                "__NE__", "__ne",
                _sql_bind(ctx, "__c", f"concat(__sel, array({argmax}))"),
            ),
        ),
    )
    step = step.replace("__BS__", bs).replace("__BE__", be).replace(
        "__NE__", ne
    )
    fold = (
        f"aggregate(sequence(0, {n} - 3), array(CAST(1 AS BIGINT)), "
        f"(__sel, __i) -> {step})"
    )
    body = _sql_bind(
        f"CAST(({big_n}) - 2 AS DOUBLE) / ({n} - 2)", "__sz",
        f"concat({fold}, array({big_n}))",
    )
    return f"IF({big_n} <= {n}, sequence(CAST(1 AS BIGINT), {big_n}), {body})"


def _lttb_rule(params: list[str], args: list[str]) -> str:
    """largestTriangleThreeBuckets(n)(x, y) / lttb: downsample the
    group's series to n points — Array(Tuple(x, y)) sorted by x, CH's
    return shape (tuple fields col1/col2 for tupleElement).  The group
    is collected sorted once (the aggregate is sequential by nature —
    same contract as CH, which buffers the group server-side)."""
    if len(params) != 1 or len(args) != 2:
        raise ChSqlError(
            "largestTriangleThreeBuckets takes (n)(x, y) with literal n"
        )
    n = int(params[0])
    if n < 3:
        raise ChSqlError("largestTriangleThreeBuckets needs n >= 3")
    pts = (
        f"array_sort(collect_list(named_struct("
        f"'x', CAST({args[0]} AS DOUBLE), 'y', CAST({args[1]} AS DOUBLE))))"
    )
    parallel = (
        f"named_struct('x', transform(__s, __e -> __e.x), "
        f"'y', transform(__s, __e -> __e.y))"
    )
    sel = _lttb_select_sql(n)
    pick = (
        f"transform({sel}, __si -> named_struct("
        f"'col1', element_at(__p.x, CAST(__si AS INT)), "
        f"'col2', element_at(__p.y, CAST(__si AS INT))))"
    )
    return _sql_bind(
        pts, "__s", _sql_bind(parallel, "__p", pick)
    )


def _array_levenshtein_expr(args: list[str]) -> str:
    """arrayLevenshteinDistance(from, to) (CH 25.4): classic Levenshtein
    over array ELEMENTS as a pure-JVM two-row DP fold — outer aggregate
    walks `from`, inner aggregate builds each new row left-to-right (the
    accumulator IS the new row, so the insertion term reads its own last
    element).  O(|from|·|to|), zero Python — supersedes the pandas-UDF
    form in queries/vocab_q5.py for the text path."""
    if len(args) != 2:
        raise ChSqlError("arrayLevenshteinDistance takes (from, to)")
    dp = (
        "aggregate(sequence(1, size(__ft.f)), "
        "transform(sequence(0, size(__ft.t)), __j -> CAST(__j AS BIGINT)), "
        "(__prev, __i) -> "
        "aggregate(sequence(1, size(__ft.t)), "
        "array(element_at(__prev, 1) + 1), "
        "(__acc, __j) -> concat(__acc, array(least("
        "element_at(__prev, __j + 1) + 1, "
        "element_at(__acc, __j) + 1, "
        "element_at(__prev, __j) + IF(element_at(__ft.f, __i) <=> "
        "element_at(__ft.t, __j), CAST(0 AS BIGINT), "
        "CAST(1 AS BIGINT)))))))"
    )
    return (
        f"transform(array(named_struct('f', {args[0]}, 't', {args[1]})), "
        f"__ft -> CASE WHEN size(__ft.f) = 0 THEN CAST(size(__ft.t) AS BIGINT) "
        f"WHEN size(__ft.t) = 0 THEN CAST(size(__ft.f) AS BIGINT) "
        f"ELSE element_at({dp}, size(__ft.t) + 1) END)[0]"
    )


def _array_levenshtein_weighted_dp(bind: str = "__ft") -> str:
    """The weighted-DP fold body over a bound struct (f, t, fw, tw):
    deletion costs fw[i], insertion tw[j], substitution fw[i]+tw[j] when
    elements differ (0 when equal) — CH's arrayLevenshteinDistance
    Weighted cost model.  Row 0 is the tw prefix-sum."""
    b = bind
    row0 = (
        f"transform(sequence(0, size({b}.t)), __j -> "
        f"aggregate(slice({b}.tw, 1, __j), CAST(0 AS DOUBLE), "
        f"(__a, __x) -> __a + CAST(__x AS DOUBLE)))"
    )
    return (
        f"aggregate(sequence(1, size({b}.f)), {row0}, "
        f"(__prev, __i) -> "
        f"aggregate(sequence(1, size({b}.t)), "
        f"array(element_at(__prev, 1) + "
        f"CAST(element_at({b}.fw, __i) AS DOUBLE)), "
        f"(__acc, __j) -> concat(__acc, array(least("
        f"element_at(__prev, __j + 1) + "
        f"CAST(element_at({b}.fw, __i) AS DOUBLE), "
        f"element_at(__acc, __j) + CAST(element_at({b}.tw, __j) AS DOUBLE), "
        f"element_at(__prev, __j) + IF(element_at({b}.f, __i) <=> "
        f"element_at({b}.t, __j), CAST(0 AS DOUBLE), "
        f"CAST(element_at({b}.fw, __i) AS DOUBLE) + "
        f"CAST(element_at({b}.tw, __j) AS DOUBLE)))))))"
    )


def _array_levenshtein_weighted_expr(args: list[str]) -> str:
    """arrayLevenshteinDistanceWeighted(from, to, from_w, to_w)."""
    if len(args) != 4:
        raise ChSqlError(
            "arrayLevenshteinDistanceWeighted takes (from, to, fw, tw)"
        )
    dp = _array_levenshtein_weighted_dp()
    sumw = (
        "aggregate({a}, CAST(0 AS DOUBLE), (__s, __x) -> "
        "__s + CAST(__x AS DOUBLE))"
    )
    return (
        f"transform(array(named_struct('f', {args[0]}, 't', {args[1]}, "
        f"'fw', {args[2]}, 'tw', {args[3]})), __ft -> "
        f"CASE WHEN size(__ft.f) = 0 THEN {sumw.format(a='__ft.tw')} "
        f"WHEN size(__ft.t) = 0 THEN {sumw.format(a='__ft.fw')} "
        f"ELSE element_at({dp}, size(__ft.t) + 1) END)[0]"
    )


def _array_similarity_expr(args: list[str]) -> str:
    """arraySimilarity(from, to, from_w, to_w) = 1 − weightedDistance /
    (sum(from_w) + sum(to_w)); 1.0 when both arrays are empty (zero
    total weight)."""
    if len(args) != 4:
        raise ChSqlError("arraySimilarity takes (from, to, fw, tw)")
    d = _array_levenshtein_weighted_expr(args)
    tot = (
        f"(aggregate({args[2]}, CAST(0 AS DOUBLE), (__s, __x) -> "
        f"__s + CAST(__x AS DOUBLE)) + "
        f"aggregate({args[3]}, CAST(0 AS DOUBLE), (__s, __x) -> "
        f"__s + CAST(__x AS DOUBLE)))"
    )
    return f"coalesce(1.0D - ({d}) / nullif({tot}, 0.0D), 1.0D)"


def _to_ipv4_expr(args: list[str], default: str) -> str:
    """toIPv4[OrNull/OrZero/OrDefault](s) → the UInt32 IPv4 image
    (IPv4StringToNum's representation).  Shape-validated first — the
    strict form returns NULL instead of CH's throw (documented,
    consistent with the IPv6StringToNum convention)."""
    if not args:
        raise ChSqlError("toIPv4 takes (s[, default])")
    s = args[0]
    octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    valid = f"({s} RLIKE '^({octet}\\\\.){{3}}{octet}$')"
    num = (
        f"(CAST(element_at(split({s}, '\\\\.'), 1) AS BIGINT) * 16777216 + "
        f"CAST(element_at(split({s}, '\\\\.'), 2) AS BIGINT) * 65536 + "
        f"CAST(element_at(split({s}, '\\\\.'), 3) AS BIGINT) * 256 + "
        f"CAST(element_at(split({s}, '\\\\.'), 4) AS BIGINT))"
    )
    return f"IF({valid}, {num}, {default})"


def _to_ipv6_expr(args: list[str], default: str) -> str:
    """toIPv6[OrNull/OrZero/OrDefault](s) → the 16 raw bytes
    (IPv6StringToNum's image); dotted-quad input maps to ::ffff:a.b.c.d
    via the shared canonicalizer."""
    if not args:
        raise ChSqlError("toIPv6 takes (s[, default])")
    base = _ipv6_string_to_num_expr([args[0]])
    return f"coalesce({base}, {default})"


def _is_ip_address_in_range_expr(args: list[str]) -> str:
    """isIPAddressInRange(addr, 'cidr') → UInt8.  IPv4 compares the two
    UInt32s shifted past the host bits; IPv6 compares the first
    floor(p/4) hex nibbles of the canonical 32-nibble form plus the
    partial nibble (p mod 4 top bits).  Family mismatch or unparsable
    input → 0, CH's behavior for non-throwing paths (CH throws on
    malformed CIDR; documented deviation)."""
    if len(args) != 2:
        raise ChSqlError("isIPAddressInRange takes (addr, cidr)")
    addr, cidr = args[0], args[1]
    base = f"element_at(split({cidr}, '/'), 1)"
    pfx = f"try_cast(try_element_at(split({cidr}, '/'), 2) AS INT)"
    v4addr = _to_ipv4_expr([addr], "NULL")
    v4base = _to_ipv4_expr(["__cb"], "NULL")
    v6addr = _ipv6_string_to_num_expr([addr])
    v6base = _ipv6_string_to_num_expr(["__cb"])
    # IPv4 branch: numeric >> (32-p) equality via div pow(2, 32-p)
    v4 = (
        f"CAST(floor(({v4addr}) / pow(2, 32 - __p)) = "
        f"floor(({v4base}) / pow(2, 32 - __p)) AS INT)"
    )
    # IPv6 branch over the 32-nibble hex forms: whole-nibble prefix +
    # the (p mod 4)-bit partial nibble
    v6cmp = (
        f"transform(array(named_struct("
        f"'a', lower(hex(CAST({v6addr} AS BINARY))), "
        f"'b', lower(hex(CAST({v6base} AS BINARY))))), __h -> "
        f"CAST(substring(__h.a, 1, CAST(floor(__p / 4) AS INT)) = "
        f"substring(__h.b, 1, CAST(floor(__p / 4) AS INT)) "
        f"AND (__p % 4 = 0 OR "
        f"floor(CAST(conv(substring(__h.a, CAST(floor(__p / 4) AS INT) + 1, "
        f"1), 16, 10) AS INT) / pow(2, 4 - __p % 4)) = "
        f"floor(CAST(conv(substring(__h.b, CAST(floor(__p / 4) AS INT) + 1, "
        f"1), 16, 10) AS INT) / pow(2, 4 - __p % 4))) AS INT))[0]"
    )
    return (
        f"transform(array(named_struct('cb', {base}, 'p', {pfx})), "
        f"__c -> transform(array(__c.cb), __cb -> "
        f"transform(array(coalesce(__c.p, -1)), __p -> "
        f"CASE WHEN __p < 0 THEN 0 "
        f"WHEN instr({addr}, ':') = 0 AND instr(__cb, ':') = 0 THEN "
        f"coalesce({v4}, 0) "
        f"ELSE coalesce({v6cmp}, 0) END)[0])[0])[0]"
    )


def _point_in_ellipses_expr(args: list[str]) -> str:
    """pointInEllipses(x, y, x0, y0, a0, b0, ...): 1 when (x, y) lies in
    at least one of the axis-aligned ellipses."""
    if len(args) < 6 or (len(args) - 2) % 4 != 0:
        raise ChSqlError(
            "pointInEllipses takes (x, y, x0, y0, a0, b0[, x1, ...])"
        )
    x, y = args[0], args[1]
    terms = []
    for i in range(2, len(args), 4):
        cx, cy, a, b = args[i:i + 4]
        terms.append(
            f"(pow((({x}) - ({cx})) / ({a}), 2) + "
            f"pow((({y}) - ({cy})) / ({b}), 2) <= 1.0D)"
        )
    return f"CAST(({' OR '.join(terms)}) AS INT)"


def _wkt_expr(args: list[str]) -> str:
    """wkt(point-tuple) → 'POINT(x y)' with CH's integral-shortening
    (1.0 renders '1').  Ring/polygon/multipolygon inputs are rejected
    explicitly — argument types are not visible at token level, and the
    Point form is the one CH's docs demonstrate."""
    if len(args) != 1:
        raise ChSqlError("wkt takes (point)")
    num = (
        "IF({v} = floor({v}), CAST(CAST({v} AS BIGINT) AS STRING), "
        "CAST({v} AS STRING))"
    )
    t = args[0]
    fx = num.format(v=f"CAST(({t}).col1 AS DOUBLE)")
    fy = num.format(v=f"CAST(({t}).col2 AS DOUBLE)")
    return f"concat('POINT(', {fx}, ' ', {fy}, ')')"


def _ipv6_render_from_hex(h: str) -> str:
    """RFC 5952 text render of an IPv6 address given as 32 lowercase hex
    chars: leading zeros stripped per group, the FIRST longest zero run
    of ≥2 groups compressed to '::', and mixed (dotted-quad) notation
    exactly when glibc inet_ntop uses it — best zero run at base 0 with
    length 6 (IPv4-compatible '::a.b.c.d') or length 5 with words[5] ==
    0xffff (IPv4-mapped '::ffff:a.b.c.d').  inet_ntop's third clause
    (len 7, words[7] != 1) is unreachable — a len-7 run swallows word 6
    before the dotted branch can fire ('::2', '::102' stay hex; probed
    against socket.inet_ntop, which the test replay pins).  One fold."""
    gs = (
        "transform(sequence(0, 7), __i -> "
        f"regexp_replace(substring({h}, 4 * __i + 1, 4), '^0{{1,3}}', ''))"
    )
    fold = (
        "aggregate(sequence(0, 7), "
        "named_struct('cs', -1, 'cl', 0, 'bs', -1, 'bl', 0), "
        "(__st, __i) -> IF(element_at(__gs, __i + 1) = '0', "
        "transform(array(named_struct("
        "'cs2', IF(__st.cl = 0, __i, __st.cs), 'cl2', __st.cl + 1)), "
        "__n -> named_struct('cs', __n.cs2, 'cl', __n.cl2, "
        "'bs', IF(__n.cl2 > __st.bl, __n.cs2, __st.bs), "
        "'bl', greatest(__n.cl2, __st.bl)))[0], "
        "named_struct('cs', -1, 'cl', 0, 'bs', __st.bs, 'bl', __st.bl)))"
    )
    dotted = (
        f"concat_ws('.', transform(sequence(0, 3), __i -> "
        f"CAST(CAST(conv(substring({h}, 25 + 2 * __i, 2), 16, 10) "
        f"AS BIGINT) AS STRING)))"
    )
    return (
        f"transform(array({gs}), __gs -> "
        f"transform(array({fold}), __st -> "
        f"IF(__st.bs = 0 AND (__st.bl = 6 OR (__st.bl = 5 "
        f"AND element_at(__gs, 6) = 'ffff')), "
        f"concat('::', IF(__st.bl = 5, 'ffff:', ''), {dotted}), "
        f"IF(__st.bl >= 2, "
        f"concat(concat_ws(':', slice(__gs, 1, __st.bs)), '::', "
        f"concat_ws(':', slice(__gs, __st.bs + __st.bl + 1, "
        f"8 - __st.bs - __st.bl))), "
        f"concat_ws(':', __gs))))[0])[0]"
    )


def _ipv6_string_to_num_expr(args: list[str]) -> str:
    """IPv6StringToNum(s) → the 16 raw address bytes (CH's
    FixedString(16) image); '::'-compressed, mixed-notation, and bare
    dotted-quad (→ ::ffff:a.b.c.d) inputs all accepted via the shared
    canonicalizer (kql._ipv6_canon_sql — same parser Kusto's parse_ipv6
    rides); invalid shapes → NULL (CH throws; documented deviation,
    matching the toIPv6-family OrNull convention)."""
    if len(args) != 1:
        raise ChSqlError("IPv6StringToNum takes (addr)")
    from clickhouseocp_spark.kql import _ipv6_canon_sql

    return f"unhex(replace({_ipv6_canon_sql(args[0])}, ':', ''))"


def _ipv6_num_to_string_expr(args: list[str]) -> str:
    """IPv6NumToString(bytes) → RFC 5952 text (see
    _ipv6_render_from_hex); NULL when the input is not 16 bytes."""
    if len(args) != 1:
        raise ChSqlError("IPv6NumToString takes (fixed_string_16)")
    return (
        f"transform(array(lower(hex(CAST({args[0]} AS BINARY)))), __h -> "
        f"IF(length(__h) != 32, CAST(NULL AS STRING), "
        f"{_ipv6_render_from_hex('__h')}))[0]"
    )


def _cut_ipv6_expr(args: list[str]) -> str:
    """cutIPv6(bytes, bytesToCutForIPv6, bytesToCutForIPv4): zero the
    trailing N bytes (the IPv4 count when the address is IPv4-mapped,
    the IPv6 count otherwise) and render the result as text."""
    if len(args) != 3:
        raise ChSqlError(
            "cutIPv6 takes (bytes, bytesToCutForIPv6, bytesToCutForIPv4)"
        )
    b, n6, n4 = args
    return (
        f"transform(array(lower(hex(CAST({b} AS BINARY)))), __h0 -> "
        f"IF(length(__h0) != 32, CAST(NULL AS STRING), "
        f"transform(array(concat(substring(__h0, 1, 32 - 2 * "
        f"IF(substring(__h0, 1, 20) = '00000000000000000000' "
        f"AND substring(__h0, 21, 4) = 'ffff', "
        f"CAST({n4} AS INT), CAST({n6} AS INT))), "
        f"repeat('0', 2 * IF(substring(__h0, 1, 20) = "
        f"'00000000000000000000' AND substring(__h0, 21, 4) = 'ffff', "
        f"CAST({n4} AS INT), CAST({n6} AS INT))))), __h -> "
        f"{_ipv6_render_from_hex('__h')})[0]))[0]"
    )


_RING_T = "ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"


def _ring_crossings(ring_var: str) -> str:
    """Even-odd ray-cast crossing count of ring ``ring_var`` (bound array
    of 2-double structs, open or closed — the wrap edge of a closed ring
    is degenerate and contributes 0) against the bound point ``__p``.
    Pure HOF fold: no UDF, no shuffle (the functions/geo.py
    pointInPolygon discipline, runtime-general instead of
    literal-unrolled).  Horizontal edges: the straddle test is already
    false; the then-unused division yields IEEE Inf/NaN, never an ANSI
    error (double division does not throw)."""
    r = ring_var
    nxt = f"element_at({r}, IF(__i = size({r}), 1, __i + 1))"
    cur = f"element_at({r}, __i)"
    return (
        f"aggregate(sequence(1, size({r})), 0, (__c, __i) -> "
        f"__c + IF(({cur}.y > __p.y) != ({nxt}.y > __p.y) "
        f"AND __p.x < {cur}.x + (__p.y - {cur}.y) "
        f"* ({nxt}.x - {cur}.x) / ({nxt}.y - {cur}.y), 1, 0))"
    )


def _point_in_polygon_expr(args: list[str]) -> str:
    """pointInPolygon((x, y), ring[, hole...]) → UInt8 0/1 (even-odd
    rule over the combined crossing count, so extra ring args are holes
    — CH's multi-argument form).  Rings are ARBITRARY expressions
    (literals, columns, groupArray results): each is cast positionally
    to array<struct<x,y>>, so Spark's col1/col2 row-constructor names
    never leak in.  Boundary points follow the strict `<` convention."""
    if len(args) < 2:
        raise ChSqlError("pointInPolygon takes ((x, y), ring[, holes...])")
    point = f"CAST({args[0]} AS STRUCT<x: DOUBLE, y: DOUBLE>)"
    rings = ", ".join(f"CAST({a} AS {_RING_T})" for a in args[1:])
    return (
        f"transform(array({point}), __p -> "
        f"CAST(aggregate(array({rings}), 0, (__t, __r) -> "
        f"__t + {_ring_crossings('__r')}) % 2 AS INT))[0]"
    )


def _polygon_area_cartesian_expr(args: list[str]) -> str:
    """polygonAreaCartesian([[(x,y),...], ...]) — shoelace area summed
    over rings, CLOCKWISE-POSITIVE (Boost.Geometry's default orientation,
    which CH wraps: the doc example [[(0,0),(0,5),(5,5)]] → 12.5), so
    counter-clockwise holes subtract naturally."""
    if len(args) != 1:
        raise ChSqlError("polygonAreaCartesian takes (polygon)")
    shoelace = (
        "aggregate(sequence(1, size(__r)), CAST(0 AS DOUBLE), "
        "(__s, __i) -> __s + (element_at(__r, __i).x "
        "* element_at(__r, IF(__i = size(__r), 1, __i + 1)).y "
        "- element_at(__r, IF(__i = size(__r), 1, __i + 1)).x "
        "* element_at(__r, __i).y))"
    )
    return (
        f"aggregate(CAST({args[0]} AS ARRAY<{_RING_T}>), "
        f"CAST(0 AS DOUBLE), (__t, __r) -> __t - 0.5 * {shoelace})"
    )


def _polygon_perimeter_cartesian_expr(args: list[str]) -> str:
    """polygonPerimeterCartesian(polygon) — Σ over every ring (outer +
    holes, Boost's convention) of Σ edge lengths, wrap edge included."""
    if len(args) != 1:
        raise ChSqlError("polygonPerimeterCartesian takes (polygon)")
    edges = (
        "aggregate(sequence(1, size(__r)), CAST(0 AS DOUBLE), "
        "(__s, __i) -> __s + sqrt("
        "pow(element_at(__r, IF(__i = size(__r), 1, __i + 1)).x "
        "- element_at(__r, __i).x, 2) "
        "+ pow(element_at(__r, IF(__i = size(__r), 1, __i + 1)).y "
        "- element_at(__r, __i).y, 2)))"
    )
    return (
        f"aggregate(CAST({args[0]} AS ARRAY<{_RING_T}>), "
        f"CAST(0 AS DOUBLE), (__t, __r) -> __t + {edges})"
    )


#: Marker lexicons shared with functions/text.py's LID heuristic (kept
#: in sync by the pytest that imports both).  CH's detectLanguage* wrap
#: compiled CLD2 models — this n-gram/stopword heuristic is the
#: documented self-contained stand-in (same deviation class as the
#: text_language_id operator).
_NLP_LANGS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "and", "of", "to", "a", "in", "value", "table")),
    ("es", ("el", "la", "de", "que", "y", "los", "por")),
    ("fr", ("le", "la", "les", "des", "est", "une", "pour")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "mit")),
    ("zh", ("de5", "shi4", "bu4", "le5", "zai4", "ren2")),
]


def _nlp_tokens(s: str) -> str:
    return f"filter(split(lower({s}), '[^a-z0-9]+'), __t -> __t != '')"


def _nlp_counts() -> str:
    """Marker-hit counts per language over the bound token array __tk."""
    cs = ", ".join(
        "size(filter(__tk, __t -> __t IN ("
        + ", ".join(f"'{m}'" for m in markers)
        + ")))"
        for _lang, markers in _NLP_LANGS
    )
    return f"array({cs})"


def _detect_language_expr(args: list[str]) -> str:
    """detectLanguage(s) → 2-letter code, 'un' when no marker hits (CH's
    unknown code).  Argmax with earlier-language tie wins."""
    if len(args) != 1:
        raise ChSqlError("detectLanguage takes (text)")
    langs = ", ".join(f"'{lang}'" for lang, _m in _NLP_LANGS)
    return (
        f"transform(array({_nlp_tokens(args[0])}), __tk -> "
        f"transform(array({_nlp_counts()}), __cs -> "
        f"transform(array(aggregate(sequence(1, size(__cs)), "
        f"named_struct('i', 0, 'c', 0), (__b, __i) -> "
        f"IF(element_at(__cs, __i) > __b.c, "
        f"named_struct('i', __i, 'c', element_at(__cs, __i)), __b))), "
        f"__bt -> IF(__bt.c = 0, 'un', "
        f"element_at(array({langs}), __bt.i)))[0])[0])[0]"
    )


def _detect_language_mixed_expr(args: list[str]) -> str:
    """detectLanguageMixed(s) → Map(lang → share of marker hits), only
    languages with evidence; no evidence at all → {'un': 1.0}."""
    if len(args) != 1:
        raise ChSqlError("detectLanguageMixed takes (text)")
    langs = ", ".join(f"'{lang}'" for lang, _m in _NLP_LANGS)
    return (
        f"transform(array({_nlp_tokens(args[0])}), __tk -> "
        f"transform(array({_nlp_counts()}), __cs -> "
        f"transform(array(aggregate(__cs, 0, (__a, __b) -> __a + __b)), "
        f"__tt -> IF(__tt = 0, map('un', CAST(1.0 AS DOUBLE)), "
        f"map_filter(map_from_arrays(array({langs}), "
        f"transform(__cs, __c -> CAST(__c AS DOUBLE) / __tt)), "
        f"(__k, __v) -> __v > 0)))[0])[0])[0]"
    )


def _detect_charset_expr(args: list[str]) -> str:
    """detectCharset(s): 'UTF-8' when any non-ASCII character is
    present, else 'US-ASCII' (CH's model-based detector reduced to the
    deterministic two-way split — documented heuristic subset)."""
    if len(args) != 1:
        raise ChSqlError("detectCharset takes (text)")
    return (
        f"IF({args[0]} RLIKE '[^\\\\x00-\\\\x7F]', 'UTF-8', 'US-ASCII')"
    )


_PROG_LANG_KEYWORDS: list[tuple[str, tuple[str, ...]]] = [
    ("C++", ("#include", "std::", "template", "nullptr", "->")),
    ("Python", ("def ", "import ", "self.", "elif", "lambda")),
    ("Java", ("public class", "extends", "implements", "System.out")),
    ("JavaScript", ("function ", "=>", "const ", "var ", "console.log")),
    ("SQL", ("select ", "from ", "where ", "group by", "insert into")),
]


def _detect_programming_language_expr(args: list[str]) -> str:
    """detectProgrammingLanguage(s): keyword-occurrence argmax over a
    fixed lexicon (C++/Python/Java/JavaScript/SQL), earlier language
    wins ties, no hits → 'Undefined' — a deterministic stand-in for
    CH's frequency-dictionary model (documented heuristic subset)."""
    if len(args) != 1:
        raise ChSqlError("detectProgrammingLanguage takes (text)")
    names = ", ".join(f"'{n}'" for n, _k in _PROG_LANG_KEYWORDS)
    counts = ", ".join(
        "("
        + " + ".join(
            f"size(split(__lo, {_sql_quote(kw.lower())})) - 1"
            for kw in kws
        )
        + ")"
        for _n, kws in _PROG_LANG_KEYWORDS
    )
    return (
        f"transform(array(lower({args[0]})), __lo -> "
        f"transform(array(array({counts})), __cs -> "
        f"transform(array(aggregate(sequence(1, size(__cs)), "
        f"named_struct('i', 0, 'c', 0), (__b, __i) -> "
        f"IF(element_at(__cs, __i) > __b.c, "
        f"named_struct('i', __i, 'c', element_at(__cs, __i)), __b))), "
        f"__bt -> IF(__bt.c = 0, 'Undefined', "
        f"element_at(array({names}), __bt.i)))[0])[0])[0]"
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


#: Irregular English lemmas for the rule-based ``lemmatize('en', w)``
#: subset (CH requires server-configured lemmatizer dictionaries and
#: throws without them; this built-in subset is the self-contained
#: stand-in, documented).
_EN_IRREGULAR_LEMMAS: list[tuple[str, str]] = [
    ("mice", "mouse"), ("feet", "foot"), ("geese", "goose"),
    ("teeth", "tooth"), ("men", "man"), ("women", "woman"),
    ("children", "child"), ("people", "person"), ("ran", "run"),
    ("went", "go"), ("was", "be"), ("were", "be"), ("better", "good"),
    ("worse", "bad"),
]


def _lemmatize_expr(args: list[str]) -> str:
    """lemmatize(lang, word) — 'en' subset: irregular table, then
    -ies→y / -sses→ss / -(x|ch|sh|z)es→stem / plural -s stripping;
    other languages pass the word through unchanged."""
    if len(args) != 2:
        raise ChSqlError("lemmatize takes (lang, word)")
    lang, w = args
    irr = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _EN_IRREGULAR_LEMMAS
    )
    rules = (
        f"CASE lower({w}) {irr} ELSE "
        f"CASE WHEN lower({w}) RLIKE '^[a-z]{{2,}}ies$' "
        f"THEN concat(substring(lower({w}), 1, length({w}) - 3), 'y') "
        f"WHEN lower({w}) RLIKE 'sses$' "
        f"THEN substring(lower({w}), 1, length({w}) - 2) "
        f"WHEN lower({w}) RLIKE '(x|ch|sh|z)es$' "
        f"THEN substring(lower({w}), 1, length({w}) - 2) "
        f"WHEN lower({w}) RLIKE '^[a-z]{{2,}}s$' "
        f"AND NOT lower({w}) RLIKE '(ss|us|is)$' "
        f"THEN substring(lower({w}), 1, length({w}) - 1) "
        f"ELSE lower({w}) END END"
    )
    return f"IF(lower({lang}) = 'en', {rules}, {w})"


def _group_array_moving_expr(args: list[str], n: str | None,
                             what: str) -> str:
    """groupArrayMovingSum/Avg[(N)](x): element i of the result is the
    sum (avg) of the last N collected values up to i (whole prefix when
    unparameterized).  Ordering follows the collect order — pair with a
    sorted single-partition input for determinism, the groupArray
    convention.  Avg divides by the WINDOW SIZE (CH's contract: early
    elements are partial) and returns Float64 (CH's integer-division
    result type for int inputs is a documented deviation).  The fold
    accumulator is seeded ``__a[0] * CAST(0 AS BIGINT)`` so its type
    follows the input — BIGINT for int columns (CH's Int64 moving-sum
    result), DOUBLE for float columns (r14 ADVICE: a hardcoded BIGINT
    seed failed analysis on DOUBLE inputs); DECIMAL inputs should be
    cast to DOUBLE first (precision widening under addition breaks the
    fold type check — documented deviation)."""
    if len(args) != 1:
        raise ChSqlError(f"groupArrayMoving{what} takes (x)")
    win = f"CAST({n} AS INT)" if n is not None else "size(__a)"
    start = f"greatest(1, __i - {win} + 1)"
    length = f"least(__i, {win})"
    # __a is non-empty inside sequence(1, size(__a)), so __a[0] (the
    # 0-based bracket subscript — element_at is the 1-based one) exists
    body = (
        f"aggregate(slice(__a, {start}, {length}), "
        f"__a[0] * CAST(0 AS BIGINT), (__s, __e) -> __s + __e)"
    )
    if what == "Avg":
        body = f"(CAST({body} AS DOUBLE) / {win})"
    return (
        f"transform(array(collect_list({args[0]})), __a -> "
        f"transform(sequence(1, size(__a)), __i -> {body}))[0]"
    )


def _group_array_insert_at_expr(args: list[str]) -> str:
    """groupArrayInsertAt(x, pos): value placed at 0-based position pos,
    gaps NULL-filled (CH fills the type default — documented deviation;
    Spark SQL cannot type-dispatch a default literal).  Duplicate
    positions keep the first collected value (CH: unspecified)."""
    if len(args) != 2:
        raise ChSqlError("groupArrayInsertAt takes (x, pos)")
    pairs = (
        f"collect_list(named_struct('p', CAST({args[1]} AS INT), "
        f"'v', {args[0]}))"
    )
    return (
        f"transform(array({pairs}), __ps -> "
        f"IF(size(__ps) = 0, slice(transform(__ps, __e -> __e.v), 1, 0), "
        f"transform(sequence(0, aggregate(__ps, -1, "
        f"(__m, __e) -> greatest(__m, __e.p))), __i -> "
        f"try_element_at(transform(filter(__ps, __e -> __e.p = __i), "
        f"__e -> __e.v), 1))))[0]"
    )


def _soundex_expr(args: list[str]) -> str:
    """soundex(s): classic 4-char American Soundex — first letter kept,
    consonants coded 1-6, H/W transparent (do not break a run), vowels
    break runs but emit nothing, consecutive identical codes merged,
    zero-padded/truncated to 4.  Non-alphabetic chars are ignored
    (CH scans the whole string the same way); no letters → ''."""
    if len(args) != 1:
        raise ChSqlError("soundex takes (s)")
    code = (
        "CASE WHEN __c IN ('B','F','P','V') THEN '1' "
        "WHEN __c IN ('C','G','J','K','Q','S','X','Z') THEN '2' "
        "WHEN __c IN ('D','T') THEN '3' WHEN __c = 'L' THEN '4' "
        "WHEN __c IN ('M','N') THEN '5' WHEN __c = 'R' THEN '6' "
        "WHEN __c IN ('H','W') THEN 'h' ELSE '0' END"
    )
    return (
        f"aggregate("
        f"filter(split(upper({args[0]}), ''), __c -> __c RLIKE '^[A-Z]$'), "
        f"named_struct('o', '', 'p', ''), "
        f"(__st, __c) -> transform(array({code}), __k -> CASE "
        f"WHEN __st.o = '' THEN named_struct('o', __c, 'p', __k) "
        f"WHEN __k = 'h' THEN __st "
        f"WHEN __k = '0' THEN named_struct('o', __st.o, 'p', '0') "
        f"WHEN __k != __st.p THEN "
        f"named_struct('o', concat(__st.o, __k), 'p', __k) "
        f"ELSE __st END)[0], "
        f"__st -> IF(__st.o = '', '', "
        f"rpad(substring(__st.o, 1, 4), 4, '0')))"
    )


def _initcap_expr(args: list[str], utf8: bool) -> str:
    """initcap[UTF8](s): first character of every word uppercased, the
    rest lowercased, where a word is a run of alphanumerics (CH's
    definition — NOT Spark initcap's whitespace-only splitting: CH
    gives 'Foo-Bar' where Spark gives 'Foo-bar').  Zero-width
    lookaround split keeps the separators, so concat round-trips."""
    if len(args) != 1:
        raise ChSqlError("initcap takes (s)")
    cls = "\\\\p{L}\\\\p{Nd}" if utf8 else "0-9A-Za-z"
    return (
        f"array_join(transform("
        f"split({args[0]}, '(?<=[^{cls}])(?=[{cls}])|(?<=[{cls}])(?=[^{cls}])'), "
        f"__w -> IF(__w RLIKE '^[{cls}]', "
        f"concat(upper(substring(__w, 1, 1)), lower(substring(__w, 2))), "
        f"__w)), '')"
    )


# H3 v3 per-resolution constant tables (public: the H3 library's
# published average-area / average-edge-length tables, which CH's
# h3HexArea*/h3EdgeLength* wrap verbatim).
_H3_HEX_AREA_KM2 = [
    4250546.848, 607220.9782, 86745.85403, 12392.26486, 1770.323552,
    252.9033645, 36.1290521, 5.1612932, 0.7373276, 0.1053325,
    0.0150475, 0.0021496, 0.0003071, 0.0000439, 0.0000063, 0.0000009,
]
_H3_HEX_AREA_M2 = [
    4.25055e12, 6.07221e11, 8.67459e10, 1.23932e10, 1.77032e9,
    2.52903e8, 3.61291e7, 5.16129e6, 737327.6, 105332.5,
    15047.5, 2149.6, 307.1, 43.9, 6.3, 0.9,
]
_H3_EDGE_KM = [
    1107.712591, 418.6760055, 158.2446558, 59.81085794, 22.6063794,
    8.544408276, 3.229482772, 1.220629759, 0.461354684, 0.174375668,
    0.065907807, 0.024910561, 0.009415526, 0.003559893, 0.001348575,
    0.000509713,
]
_H3_EDGE_M = [
    1107712.591, 418676.0055, 158244.6558, 59810.85794, 22606.3794,
    8544.408276, 3229.482772, 1220.629759, 461.3546837, 174.3756681,
    65.90780749, 24.9105614, 9.415526211, 3.559893033, 1.348574562,
    0.509713273,
]
#: The 12 pentagon base cells (H3's published list).
_H3_PENTAGON_BASE_CELLS = [4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117]


def _h3_table_expr(args: list[str], table: list[float], name: str) -> str:
    """h3HexAreaM2/Km2, h3EdgeLengthM/Km(res): the library's constant
    table indexed by resolution; res outside 0..15 → NULL (CH throws;
    documented deviation, the OrNull convention)."""
    if len(args) != 1:
        raise ChSqlError(f"{name} takes (resolution)")
    lits = ", ".join(repr(v) for v in table)
    return (
        f"IF(CAST({args[0]} AS INT) BETWEEN 0 AND 15, "
        f"element_at(array({lits}), CAST({args[0]} AS INT) + 1), "
        f"CAST(NULL AS DOUBLE))"
    )


def _h3_res0_indexes_expr(args: list[str]) -> str:
    """h3GetRes0Indexes() → the 122 resolution-0 cell indexes, built from
    the H3 index bit layout (mode 1 << 59, res 0, base cell << 45, all
    15 digits = 7 → low 45 bits set): cell 0 is 0x8001fffffffffff."""
    if args and any(a.strip() for a in args):
        raise ChSqlError("h3GetRes0Indexes takes no arguments")
    vals = ", ".join(
        str((1 << 59) | (b << 45) | ((1 << 45) - 1)) for b in range(122)
    )
    return f"array({vals})"


def _h3_pentagon_indexes_expr(args: list[str]) -> str:
    """h3GetPentagonIndexes(res) → the 12 pentagon cells at that
    resolution: pentagon = center-child chain of a pentagon base cell
    (first `res` digits 0, remaining digits 7).  8^(15-res) stays below
    2^53 so the pow round-trip through DOUBLE is exact."""
    if len(args) != 1:
        raise ChSqlError("h3GetPentagonIndexes takes (resolution)")
    cells = ", ".join(str(b) for b in _H3_PENTAGON_BASE_CELLS)
    r = f"CAST({args[0]} AS BIGINT)"
    return (
        f"IF({r} BETWEEN 0 AND 15, "
        f"transform(array({cells}), __b -> "
        f"{1 << 59} + {r} * {1 << 52} + CAST(__b AS BIGINT) * {1 << 45} "
        f"+ CAST(pow(8, 15 - {r}) AS BIGINT) - 1), "
        f"CAST(NULL AS ARRAY<BIGINT>))"
    )


_WKT_NUM = "(-?[0-9]+(?:\\\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"


def _wkt_points_list(body: str) -> str:
    """'x y, x y, …' → array<struct<col1,col2>> (col1/col2 so
    tupleElement and the tuple closure apply to the result)."""
    return (
        f"transform(filter(split({body}, ','), __pt -> trim(__pt) != ''), "
        f"__pt -> named_struct("
        f"'col1', CAST(element_at(split(trim(__pt), '\\\\s+'), 1) AS DOUBLE), "
        f"'col2', CAST(element_at(split(trim(__pt), '\\\\s+'), 2) AS DOUBLE)))"
    )


def _read_wkt_expr(args: list[str], what: str) -> str:
    """readWKTPoint/LineString/Polygon(s): WKT text → geo value (CH
    tuple → col1/col2 struct; LineString → ring array; Polygon → array
    of rings).  Malformed text → NULL fields / empty arrays instead of
    CH's runtime throw (documented, the toIPv6-family convention)."""
    if len(args) != 1:
        raise ChSqlError(f"readWKT{what} takes (wkt_string)")
    s = args[0]
    if what == "Point":
        pat = f"'(?i)^\\\\s*POINT\\\\s*\\\\(\\\\s*{_WKT_NUM}\\\\s+{_WKT_NUM}\\\\s*\\\\)\\\\s*$'"
        return (
            f"named_struct("
            f"'col1', try_cast(regexp_extract({s}, {pat}, 1) AS DOUBLE), "
            f"'col2', try_cast(regexp_extract({s}, {pat}, 2) AS DOUBLE))"
        )
    if what == "LineString":
        body = (
            f"regexp_extract({s}, "
            f"'(?i)^\\\\s*LINESTRING\\\\s*\\\\((.*)\\\\)\\\\s*$', 1)"
        )
        return _wkt_points_list(body)
    # Polygon: '(r1),(r2)' → rings split on ')...(' with the stray
    # parens stripped per ring
    body = (
        f"regexp_extract({s}, "
        f"'(?i)^\\\\s*POLYGON\\\\s*\\\\((.*)\\\\)\\\\s*$', 1)"
    )
    ring = _wkt_points_list("regexp_replace(__rt, '[()]', '')")
    return (
        f"transform(split({body}, '\\\\)\\\\s*,\\\\s*\\\\('), "
        f"__rt -> {ring})"
    )


def _parse_readable_size_expr(args: list[str], mode: str) -> str:
    """parseReadableSize[OrNull/OrZero]('1.5 MiB') → bytes, ceil-ed to
    integer (CH 24.6).  Decimal (KB=1000…EB) and binary (KiB=1024…EiB)
    units, case-insensitive, optional whitespace.  The base form
    returns NULL on invalid input instead of CH's runtime exception
    (data-dependent throws don't exist in Spark SQL — documented, same
    convention as the toIPv6 family); OrZero coalesces to 0."""
    if len(args) != 1:
        raise ChSqlError(f"parseReadableSize{mode} takes (s)")
    s = args[0]
    num = (
        f"try_cast(regexp_extract(trim({s}), "
        f"'^([0-9]+(?:\\\\.[0-9]+)?)\\\\s*([A-Za-z]+)$', 1) AS DOUBLE)"
    )
    unit = (
        f"lower(regexp_extract(trim({s}), "
        f"'^([0-9]+(?:\\\\.[0-9]+)?)\\\\s*([A-Za-z]+)$', 2))"
    )
    mult = (
        f"CASE {unit} WHEN 'b' THEN CAST(1 AS DOUBLE) "
        "WHEN 'kb' THEN 1e3 WHEN 'mb' THEN 1e6 WHEN 'gb' THEN 1e9 "
        "WHEN 'tb' THEN 1e12 WHEN 'pb' THEN 1e15 WHEN 'eb' THEN 1e18 "
        "WHEN 'kib' THEN CAST(1024 AS DOUBLE) "
        "WHEN 'mib' THEN CAST(1048576 AS DOUBLE) "
        "WHEN 'gib' THEN CAST(1073741824 AS DOUBLE) "
        "WHEN 'tib' THEN CAST(1099511627776 AS DOUBLE) "
        "WHEN 'pib' THEN CAST(1125899906842624 AS DOUBLE) "
        "WHEN 'eib' THEN CAST(1152921504606846976 AS DOUBLE) END"
    )
    base = f"try_cast(ceil(({num}) * ({mult})) AS BIGINT)"
    if mode == "OrZero":
        return f"coalesce({base}, CAST(0 AS BIGINT))"
    return base


def _uuid_to_num_expr(args: list[str]) -> str:
    """UUIDToNum(uuid[, variant]) → the 16 raw bytes; subset: variant 1
    (big-endian, CH's default).  Variant 2 is the MS mixed-endian GUID
    layout — out of subset, explicit error."""
    if len(args) not in (1, 2):
        raise ChSqlError("UUIDToNum takes (uuid[, variant])")
    if len(args) == 2 and args[1].strip() != "1":
        raise ChSqlError(
            "UUIDToNum subset: variant 1 (big-endian) only — variant 2 "
            "(MS mixed-endian) is not lowered"
        )
    return f"unhex(replace(CAST({args[0]} AS STRING), '-', ''))"


def _ipv4_num_to_str(e: str) -> str:
    """Dotted-quad render of a UInt32 (shared with the IPv4NumToString
    rule's inline form)."""
    return (
        f"concat_ws('.', CAST(CAST(({e}) / 16777216 AS BIGINT) % 256 AS STRING), "
        f"CAST(CAST(({e}) / 65536 AS BIGINT) % 256 AS STRING), "
        f"CAST(CAST(({e}) / 256 AS BIGINT) % 256 AS STRING), "
        f"CAST(({e}) % 256 AS STRING))"
    )


def _ipv4_cidr_to_range_expr(args: list[str]) -> str:
    """ipv4CIDRToRange(ip, prefix) → ('col1' = lowest, 'col2' = highest)
    address of the CIDR block, rendered dotted-quad (CH returns IPv4
    values, which display exactly so).  Pure bit math: lo = ip & mask,
    hi = lo | (2^(32-prefix) − 1); prefix 0 and 32 both well-defined
    (shiftleft past 64 can't occur — the mask AND keeps 32 bits)."""
    if len(args) != 2:
        raise ChSqlError("ipv4CIDRToRange takes (ip, prefix)")
    ip, p = args
    num = (
        f"(CAST(split({ip}, '\\\\.')[0] AS BIGINT) * 16777216 + "
        f"CAST(split({ip}, '\\\\.')[1] AS BIGINT) * 65536 + "
        f"CAST(split({ip}, '\\\\.')[2] AS BIGINT) * 256 + "
        f"CAST(split({ip}, '\\\\.')[3] AS BIGINT))"
    )
    return (
        f"transform(array(named_struct('n', {num}, 'p', CAST({p} AS INT))), "
        f"__c -> transform(array(__c.n & (shiftleft(CAST(4294967295 AS "
        f"BIGINT), 32 - __c.p) & 4294967295)), __lo -> named_struct("
        f"'col1', {_ipv4_num_to_str('__lo')}, "
        f"'col2', {_ipv4_num_to_str('__lo + shiftright(CAST(4294967295 AS BIGINT), __c.p)')}"
        f"))[0])[0]"
    )


def _series_outliers_tukey_expr(args: list[str]) -> str:
    """seriesOutliersDetectTukey(series[, min_percentile, max_percentile,
    K]) (CH 24.2): per-element anomaly score — 0 inside the Tukey fences,
    else the distance past the nearest fence.  The quantile is CH's
    n·p/100 rule pinned by BOTH documented examples: integer index →
    the average of the two adjacent order statistics (q3 of the 16-point
    doc series = (a[12]+a[13])/2 = 9 → fence 18 → score 45−18 = 27),
    fractional → the ceil-th order statistic (20/80 example → fence
    25.5 → score 19.5).  Fewer than 4 points → NULL (CH raises).
    One sort + O(n) transforms per row, all JVM."""
    if len(args) not in (1, 3, 4):
        raise ChSqlError(
            "seriesOutliersDetectTukey takes (series[, min_percentile, "
            "max_percentile, K])"
        )
    arr = args[0]
    pmin = args[1] if len(args) > 1 else "25.0"
    pmax = args[2] if len(args) > 2 else "75.0"
    k = args[3] if len(args) == 4 else "1.5"

    def q(p: str) -> str:
        np_ = f"(CAST(size(__sa) AS DOUBLE) * ({p}) / 100.0)"
        i = f"CAST({np_} AS INT)"
        return (
            f"IF({np_} = floor({np_}) AND {i} >= 1, "
            f"(try_element_at(__sa, {i}) + "
            f"try_element_at(__sa, least({i} + 1, size(__sa)))) / 2.0, "
            f"try_element_at(__sa, greatest(1, CAST(ceil({np_}) AS INT))))"
        )

    dbl = f"transform({arr}, __e -> CAST(__e AS DOUBLE))"
    return (
        f"IF(size({arr}) < 4, NULL, "
        f"transform(array(array_sort({dbl})), __sa -> "
        f"transform(array(named_struct('q1', {q('CAST(' + pmin + ' AS DOUBLE)')}, "
        f"'q3', {q('CAST(' + pmax + ' AS DOUBLE)')})), __f -> "
        f"transform({dbl}, __v -> CASE "
        f"WHEN __v < __f.q1 - ({k}) * (__f.q3 - __f.q1) "
        f"THEN (__f.q1 - ({k}) * (__f.q3 - __f.q1)) - __v "
        f"WHEN __v > __f.q3 + ({k}) * (__f.q3 - __f.q1) "
        f"THEN __v - (__f.q3 + ({k}) * (__f.q3 - __f.q1)) "
        f"ELSE CAST(0 AS DOUBLE) END))[0])[0])"
    )


def _exp_moving_average_expr(params: list[str], args: list[str]) -> str:
    """exponentialMovingAverage(x)(value, timeunit) (CH parametric
    aggregate): Σ vᵢ·2^(−(T−tᵢ)/x) · (1 − 2^(−1/x)), T = max timeunit —
    the (1 − 2^(−1/x)) factor is pinned by CH's documented example (ten
    1s at unit-spaced times, x = 1 → 1 − 2⁻¹⁰ = 0.9990234375).  The
    collected pairs are array_sort-ed so the float fold order is
    deterministic and the DuckDB oracle replays it element-identically."""
    if len(params) != 1 or len(args) != 2:
        raise ChSqlError(
            "exponentialMovingAverage takes (x)(value, timeunit)"
        )
    h = params[0]
    v, t = args
    pair = (
        f"CASE WHEN ({v}) IS NOT NULL AND ({t}) IS NOT NULL THEN "
        f"named_struct('t', CAST({t} AS DOUBLE), 'v', CAST({v} AS DOUBLE)) END"
    )
    return (
        f"transform(array(array_sort(collect_list({pair}))), __p -> "
        f"transform(array(aggregate(__p, CAST(-1e300 AS DOUBLE), "
        f"(__m, __e) -> greatest(__m, __e.t))), __T -> "
        f"(1.0 - pow(0.5, 1.0 / ({h}))) * "
        f"aggregate(__p, CAST(0 AS DOUBLE), (__s, __e) -> "
        f"__s + __e.v * pow(0.5, (__T - __e.t) / ({h}))))[0])[0]"
    )


def _map_agg_expr(args: list[str], op: str, name: str) -> str:
    """sumMap/minMap/maxMap(keys, values) in the chsql DIALECT (the
    DataFrame-API path has carried SURVEY §2.4's sumMap row since r02;
    this lowers the TEXT surface): aggregate parallel (keys[], values[])
    rows into CH's ('col1' = sorted distinct keys, 'col2' = per-key
    sum/min/max) tuple.  One collect_list per group, then pure array
    folds; the per-key sum seeds from the key's FIRST value so integer
    inputs stay integer (no forced DOUBLE).  O(distinct_keys · total
    pairs) per group — the scale path for huge key spaces stays the
    explode+groupBy operator (queries/extras.py)."""
    if len(args) != 2:
        raise ChSqlError(f"{name} takes (key_array, value_array)")
    k, v = args
    pairs = (
        f"flatten(collect_list(zip_with({k}, {v}, "
        f"(__mk, __mv) -> named_struct('k', __mk, 'v', __mv))))"
    )
    vs = "transform(filter(__m, __e -> __e.k = __key), __e -> __e.v)"
    if op == "sum":
        fold = (
            f"transform(array({vs}), __vs -> "
            f"aggregate(slice(__vs, 2, greatest(size(__vs) - 1, 0)), "
            f"element_at(__vs, 1), (__s, __e) -> __s + __e))[0]"
        )
    elif op == "min":
        fold = f"array_min({vs})"
    else:
        fold = f"array_max({vs})"
    keys = "array_sort(array_distinct(transform(__m, __e -> __e.k)))"
    return (
        f"transform(array({pairs}), __m -> named_struct("
        f"'col1', {keys}, "
        f"'col2', transform({keys}, __key -> {fold})))[0]"
    )


def _max_intersections_expr(args: list[str], what: str) -> str:
    """maxIntersections / maxIntersectionsPosition(start, end) — the max
    number of simultaneously-open [start, end) intervals in the group,
    and the sweep point where that max is FIRST reached.  Classic sweep:
    ±1 events sorted by (point, delta) — delta −1 before +1 at equal
    points, exactly the half-open tie rule (an interval ending where
    another starts does not overlap it) — then one running-sum fold.
    Points are folded as DOUBLE (documented: CH returns the argument
    type; the position is exact for integer inputs ≤ 2^53)."""
    if len(args) != 2:
        raise ChSqlError(f"{what} takes (start, end)")
    s, e = args
    evts = (
        f"array_sort(flatten(collect_list(array("
        f"named_struct('p', CAST({s} AS DOUBLE), 'd', 1), "
        f"named_struct('p', CAST({e} AS DOUBLE), 'd', -1)))))"
    )
    fold = (
        f"aggregate({evts}, "
        f"named_struct('c', 0, 'mx', 0, 'pos', CAST(NULL AS DOUBLE)), "
        f"(__st, __e) -> transform(array(__st.c + __e.d), __c -> "
        f"named_struct('c', __c, "
        f"'mx', IF(__c > __st.mx, __c, __st.mx), "
        f"'pos', IF(__c > __st.mx, __e.p, __st.pos)))[0])"
    )
    field = "mx" if what == "maxIntersections" else "pos"
    cast = "CAST(({0}).mx AS BIGINT)" if field == "mx" else "({0}).pos"
    return cast.format(fold)


def _exp_time_decayed_expr(params: list[str], args: list[str],
                           mode: str) -> str:
    """exponentialTimeDecayedCount/Sum/Max(x)(...) — the Avg sibling's
    family (same e-folding decay anchored at the group's max time):
    Count(x)(time) = Σ e^(−(T−tᵢ)/x)  (only a time argument),
    Sum(x)(value, time) = Σ vᵢ·e^(−(T−tᵢ)/x),
    Max(x)(value, time) = max vᵢ·e^(−(T−tᵢ)/x)."""
    if len(params) != 1:
        raise ChSqlError(f"exponentialTimeDecayed{mode} takes one parameter")
    h = params[0]
    if mode == "Count":
        if len(args) != 1:
            raise ChSqlError("exponentialTimeDecayedCount takes (x)(time)")
        t = args[0]
        pair = (
            f"CASE WHEN ({t}) IS NOT NULL THEN "
            f"named_struct('t', CAST({t} AS DOUBLE), "
            f"'x', CAST(1 AS DOUBLE)) END"
        )
    else:
        if len(args) != 2:
            raise ChSqlError(
                f"exponentialTimeDecayed{mode} takes (x)(value, time)"
            )
        x, t = args
        pair = (
            f"CASE WHEN ({x}) IS NOT NULL AND ({t}) IS NOT NULL THEN "
            f"named_struct('t', CAST({t} AS DOUBLE), "
            f"'x', CAST({x} AS DOUBLE)) END"
        )
    term = f"__e.x * exp(-(__T - __e.t) / ({h}))"
    if mode == "Max":
        body = (
            f"aggregate(__p, CAST('-Infinity' AS DOUBLE), "
            f"(__s, __e) -> greatest(__s, {term}))"
        )
    else:
        body = (
            f"aggregate(__p, CAST(0 AS DOUBLE), (__s, __e) -> __s + {term})"
        )
    return (
        # all-NULL group → empty collected array → NULL, not the fold
        # seed (-Inf / 0.0) — the NULL-skipping aggregate convention
        f"transform(array(array_sort(collect_list({pair}))), __p -> "
        f"IF(size(__p) = 0, CAST(NULL AS DOUBLE), "
        f"transform(array(aggregate(__p, CAST(-1e300 AS DOUBLE), "
        f"(__m, __e) -> greatest(__m, __e.t))), __T -> {body})[0]))[0]"
    )


def _ttest_expr(args: list[str], welch: bool) -> str:
    """studentTTest/welchTTest(sample, index) → CH's real ('col1' = t,
    'col2' = two-sided p) tuple (upgraded round 11 — the scalar-t
    narrowing was the old documented deviation).  t from conditional
    aggregates over the index split (map-side combinable); p via the
    exact t-tail identity 2·P(T>|t|) = I_{df/(df+t²)}(df/2, 1/2) through
    the pure-SQL incomplete-beta fold, df = n0+n1−2 (Student) or
    Welch–Satterthwaite (Welch)."""
    x, idx = args[0], args[1]
    x0 = f"CASE WHEN ({idx}) = 0 THEN CAST({x} AS DOUBLE) END"
    x1 = f"CASE WHEN ({idx}) = 1 THEN CAST({x} AS DOUBLE) END"
    n0, n1 = f"count({x0})", f"count({x1})"
    if welch:
        denom = f"sqrt(var_samp({x0}) / {n0} + var_samp({x1}) / {n1})"
        df = (
            f"(pow(var_samp({x0}) / {n0} + var_samp({x1}) / {n1}, 2) "
            f"/ (pow(var_samp({x0}) / {n0}, 2) / ({n0} - 1) "
            f"+ pow(var_samp({x1}) / {n1}, 2) / ({n1} - 1)))"
        )
    else:
        denom = (
            f"sqrt((var_samp({x0}) * ({n0} - 1) "
            f"+ var_samp({x1}) * ({n1} - 1)) / ({n0} + {n1} - 2) "
            f"* (1.0 / {n0} + 1.0 / {n1}))"
        )
        df = f"CAST({n0} + {n1} - 2 AS DOUBLE)"
    t = f"((avg({x0}) - avg({x1})) / {denom})"
    p = _betai_sql("__q.df / 2", "CAST(0.5 AS DOUBLE)",
                   "__q.df / (__q.df + __q.t * __q.t)")
    return (
        f"transform(array(named_struct('t', {t}, 'df', {df})), __q -> "
        f"named_struct('col1', __q.t, "
        f"'col2', IF(__q.df < 1 OR __q.t IS NULL, CAST(NULL AS DOUBLE), "
        f"least(CAST(1 AS DOUBLE), {p}))))[0]"
    )


def _ks_test_expr(args: list[str]) -> str:
    """kolmogorovSmirnovTest(sample_data, sample_index) → ('col1' =
    d_statistic, 'col2' = p_value), the two-sample Kolmogorov-Smirnov test
    (ClickHouse 23.x; reference image pins 25.7, Dockerfile:102).

    D = max over distinct x of |F0(x) - F1(x)| via ONE sorted-collect fold
    (the kql_scan_steps sorted-array-fold pattern: per-GROUP collect is the
    bounded contract — a global KS over an unbounded table should pre-
    aggregate or sample first; documented like topK's text tier).  Tied
    values are evaluated only after the full tie run (the textbook ECDF
    convention).  p-value is the asymptotic Kolmogorov series with the
    Numerical-Recipes small-sample correction λ = (√ne + 0.12 + 0.11/√ne)·D
    (public formula; CH's method='auto' switches to an exact permutation
    count below n=10⁴ — documented deviation: this surface is always
    asymptotic, λ < 0.2 → p = 1 exactly as NR's probks converges to)."""
    if len(args) != 2:
        raise ChSqlError(
            "kolmogorovSmirnovTest takes exactly (sample_data, sample_index)"
        )
    x, idx = args[0], args[1]
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({idx}) IS NOT NULL THEN "
        f"named_struct('x', CAST({x} AS DOUBLE), 'i', CAST({idx} AS INT)) END"
    )
    # λ and the alternating series, in terms of the fold result __d and the
    # arm sizes __n; round(6) absorbs series-order float drift vs oracles
    lam = (
        "(sqrt(__n.ne) + CAST(0.12 AS DOUBLE) "
        "+ CAST(0.11 AS DOUBLE) / sqrt(__n.ne)) * __d"
    )
    series = (
        f"round(least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"2 * aggregate(sequence(1, 50), CAST(0 AS DOUBLE), "
        f"(__a, __k) -> __a + IF(__k % 2 = 1, CAST(1 AS DOUBLE), "
        f"CAST(-1 AS DOUBLE)) * exp(-2 * __k * __k * ({lam}) * ({lam}))))), 6)"
    )
    return (
        f"transform(array(array_sort(collect_list({pair}))), __p -> "
        f"transform(array(named_struct("
        f"'n0', CAST(size(filter(__p, __e -> __e.i = 0)) AS DOUBLE), "
        f"'n1', CAST(size(filter(__p, __e -> __e.i <> 0)) AS DOUBLE), "
        f"'ne', CAST(size(filter(__p, __e -> __e.i = 0)) AS DOUBLE) "
        f"* size(filter(__p, __e -> __e.i <> 0)) / size(__p))), __n -> "
        f"transform(array(aggregate(sequence(1, size(__p)), "
        f"named_struct('c0', CAST(0 AS DOUBLE), 'c1', CAST(0 AS DOUBLE), "
        f"'d', CAST(0 AS DOUBLE)), "
        f"(__s, __j) -> named_struct("
        f"'c0', __s.c0 + IF(element_at(__p, __j).i = 0, "
        f"CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)), "
        f"'c1', __s.c1 + IF(element_at(__p, __j).i = 0, "
        f"CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)), "
        # evaluate only at a tie-run boundary (last row, or next x differs);
        # least() keeps element_at in bounds under ANSI on the last row
        f"'d', IF(__j = size(__p) OR element_at(__p, __j).x <> "
        f"element_at(__p, least(__j + 1, size(__p))).x, "
        f"greatest(__s.d, abs("
        f"(__s.c0 + IF(element_at(__p, __j).i = 0, CAST(1 AS DOUBLE), "
        f"CAST(0 AS DOUBLE))) / __n.n0 "
        f"- (__s.c1 + IF(element_at(__p, __j).i = 0, CAST(0 AS DOUBLE), "
        f"CAST(1 AS DOUBLE))) / __n.n1)), __s.d)), "
        f"__s -> __s.d)), __d -> "
        f"named_struct('col1', round(__d, 6), "
        f"'col2', IF(__n.n0 = 0 OR __n.n1 = 0, CAST(NULL AS DOUBLE), "
        f"IF(({lam}) < CAST(0.2 AS DOUBLE), CAST(1 AS DOUBLE), "
        f"{series}))))[0])[0])[0]"
    )


def _phi_tail_sql(z: str) -> str:
    """1 - Φ(z) for z ≥ 0 via the Abramowitz-Stegun 26.2.17 rational
    approximation (|ε| < 7.5e-8 — public formula; both engines lack erf,
    so oracles replay this EXACT expression and doubles match after the
    round(6) convention)."""
    t = f"(1.0 / (1.0 + 0.2316419 * ({z})))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937 "
        f"+ {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return (
        f"(exp(-(({z}) * ({z})) / 2) / sqrt(2 * pi()) * {poly})"
    )


def _mann_whitney_expr(args: list[str], continuity: bool = True) -> str:
    """mannWhitneyUTest(sample_data, sample_index) → ('col1' = u_statistic
    of the index-0 sample, 'col2' = two-sided p) — ClickHouse 21.x
    (pinned image 25.7).

    One sorted-collect fold (the kolmogorovSmirnovTest pattern, same
    bounded-group contract): average ranks assigned per tie run, rank-sum
    R1 and the tie term Σ(t³−t) accumulated at run boundaries; U1 = R1 −
    n0(n0+1)/2; p from the normal approximation with tie-corrected σ and
    the continuity correction (CH's default) via the A&S Φ tail.  CH's
    'exact' small-sample path is out of pure-SQL scope — always the
    normal approximation (documented deviation; oracles replay it)."""
    if len(args) != 2:
        raise ChSqlError(
            "mannWhitneyUTest takes exactly (sample_data, sample_index)"
        )
    x, idx = args[0], args[1]
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({idx}) IS NOT NULL THEN "
        f"named_struct('x', CAST({x} AS DOUBLE), 'i', CAST({idx} AS INT)) END"
    )
    cc = "0.5" if continuity else "0.0"
    # fold state: run start __s (1-based), zeros-in-run __c, rank-sum __r1,
    # tie term __tt
    fold = (
        f"aggregate(sequence(1, size(__p)), "
        f"named_struct('s', CAST(1 AS DOUBLE), 'c', CAST(0 AS DOUBLE), "
        f"'r1', CAST(0 AS DOUBLE), 'tt', CAST(0 AS DOUBLE)), "
        f"(__st, __j) -> IF("
        f"__j = size(__p) OR element_at(__p, __j).x <> "
        f"element_at(__p, least(__j + 1, size(__p))).x, "
        # boundary: close the run [s..j]: avg rank (s+j)/2, t = j-s+1
        f"named_struct('s', CAST(__j + 1 AS DOUBLE), 'c', CAST(0 AS DOUBLE), "
        f"'r1', __st.r1 + (__st.s + __j) / 2 * (__st.c "
        f"+ IF(element_at(__p, __j).i = 0, CAST(1 AS DOUBLE), "
        f"CAST(0 AS DOUBLE))), "
        f"'tt', __st.tt + pow(__j - __st.s + 1, 3) - (__j - __st.s + 1)), "
        # interior: extend the run
        f"named_struct('s', __st.s, "
        f"'c', __st.c + IF(element_at(__p, __j).i = 0, CAST(1 AS DOUBLE), "
        f"CAST(0 AS DOUBLE)), "
        f"'r1', __st.r1, 'tt', __st.tt)), "
        f"__st -> named_struct('r1', __st.r1, 'tt', __st.tt))"
    )
    # z with tie-corrected sigma; n from __n struct
    sig = (
        "sqrt(__n.n0 * __n.n1 / 12 * ((__n.n0 + __n.n1 + 1) "
        "- __f.tt / ((__n.n0 + __n.n1) * (__n.n0 + __n.n1 - 1))))"
    )
    u1 = "(__f.r1 - __n.n0 * (__n.n0 + 1) / 2)"
    z = f"((abs({u1} - __n.n0 * __n.n1 / 2) - {cc}) / {sig})"
    return (
        f"transform(array(array_sort(collect_list({pair}))), __p -> "
        f"transform(array(named_struct("
        f"'n0', CAST(size(filter(__p, __e -> __e.i = 0)) AS DOUBLE), "
        f"'n1', CAST(size(filter(__p, __e -> __e.i <> 0)) AS DOUBLE))), "
        f"__n -> transform(array({fold}), __f -> "
        f"named_struct('col1', round({u1}, 6), "
        f"'col2', IF(__n.n0 = 0 OR __n.n1 = 0 OR {sig} = 0, "
        f"CAST(NULL AS DOUBLE), "
        f"round(least(CAST(1 AS DOUBLE), "
        f"2 * {_phi_tail_sql(f'greatest({z}, CAST(0 AS DOUBLE))')}), 6))"
        f"))[0])[0])[0]"
    )


def _rank_corr_expr(args: list[str]) -> str:
    """rankCorr(x, y) → Spearman ρ (average ranks on ties), ClickHouse
    20.x.  Rank-by-counting inside ONE collected array: rank(e) =
    #{o < e} + (#{o = e} + 1)/2 — O(n²) per GROUP by contract (the topK
    text-tier discipline; the scale path for global correlation is a
    two-pass window rank + corr, and the oracle replays exactly that),
    then Pearson over the two rank vectors in closed form."""
    if len(args) != 2:
        raise ChSqlError("rankCorr takes exactly (x, y)")
    x, y = args[0], args[1]
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({y}) IS NOT NULL THEN "
        f"named_struct('x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE)) END"
    )
    rx = (
        "transform(__p, __e -> CAST(size(filter(__p, __o -> __o.x < __e.x)) "
        "AS DOUBLE) + (size(filter(__p, __o -> __o.x = __e.x)) + 1) / 2)"
    )
    ry = (
        "transform(__p, __e -> CAST(size(filter(__p, __o -> __o.y < __e.y)) "
        "AS DOUBLE) + (size(filter(__p, __o -> __o.y = __e.y)) + 1) / 2)"
    )
    asum = "aggregate({0}, CAST(0 AS DOUBLE), (__a, __v) -> __a + __v)"
    return (
        f"transform(array(collect_list({pair})), __p -> "
        f"transform(array(named_struct('rx', {rx}, 'ry', {ry}, "
        f"'n', CAST(size(__p) AS DOUBLE))), __r -> "
        f"round(("
        + asum.format(
            "zip_with(__r.rx, __r.ry, (__u, __v) -> "
            f"(__u - {asum.format('__r.rx')} / __r.n) "
            f"* (__v - {asum.format('__r.ry')} / __r.n))"
        )
        + ") / nullif(sqrt("
        + asum.format(
            f"transform(__r.rx, __u -> pow(__u - {asum.format('__r.rx')} "
            "/ __r.n, 2))"
        )
        + " * "
        + asum.format(
            f"transform(__r.ry, __v -> pow(__v - {asum.format('__r.ry')} "
            "/ __r.n, 2))"
        )
        + "), 0), 6))[0])[0]"
    )


def _mean_z_test_expr(params: list[str], args: list[str]) -> str:
    """meanZTest(pop_var_x, pop_var_y, confidence_level)(sample_data,
    sample_index) → ('col1' = z, 'col2' = two-sided p, 'col3'/'col4' = CI
    of the mean difference), ClickHouse 22.x.  Plain conditional
    aggregates (map-side combinable — the studentTTest shape);
    confidence_level restricted to the literal 0.95 (the inverse normal
    CDF is out of pure-SQL scope; the pinned z quantile is the
    minSampleSize* convention)."""
    if len(params) != 3 or len(args) != 2:
        raise ChSqlError(
            "meanZTest takes (pop_var_x, pop_var_y, confidence_level)"
            "(sample_data, sample_index)"
        )
    if params[2].strip() != "0.95":
        raise ChSqlError(
            "meanZTest subset: confidence_level must be the literal 0.95 "
            "(arbitrary levels need the inverse normal CDF — the pinned "
            "z-quantile covers the standard default)"
        )
    vx, vy = params[0], params[1]
    x, idx = args[0], args[1]
    x0 = f"CASE WHEN ({idx}) = 0 THEN CAST({x} AS DOUBLE) END"
    x1 = f"CASE WHEN ({idx}) = 1 THEN CAST({x} AS DOUBLE) END"
    d = f"(avg({x0}) - avg({x1}))"
    se = f"sqrt(({vx}) / count({x0}) + ({vy}) / count({x1}))"
    z = f"({d} / {se})"
    return (
        f"named_struct("
        f"'col1', round({z}, 6), "
        f"'col2', round(least(CAST(1 AS DOUBLE), "
        f"2 * {_phi_tail_sql(f'abs({z})')}), 6), "
        f"'col3', round({d} - {_MSS_Z_ALPHA!r} * {se}, 6), "
        f"'col4', round({d} + {_MSS_Z_ALPHA!r} * {se}, 6))"
    )


from clickhouseocp_spark.functions.sqlstats import (
    betai_sql as _betai_sql,
    lgamma_sql as _lgamma_sql,
)


def _anova_expr(args: list[str]) -> str:
    """analysisOfVariance(observation, group) — one-way ANOVA
    ('col1' = f_statistic, 'col2' = p_value), ClickHouse 24.x (alias
    ``anova``).  F from one collected pair array (per-group means by
    counting over distinct groups — O(n·k), bounded-group contract);
    p = P(F' > F) = I_{d2/(d2+d1·F)}(d2/2, d1/2) in PURE SQL — Lanczos
    lgamma (closed form) + the NR continued fraction as a fixed-100-step
    Lentz fold — so the whole thing mixes freely with any other
    aggregate in the same SELECT (a GROUPED_AGG pandas kernel cannot:
    Spark forbids mixing them with non-pandas aggregates — learned
    empirically).  Pytest pins F and p against an independent Python
    replay of the same formulas."""
    if len(args) != 2:
        raise ChSqlError(
            "analysisOfVariance takes exactly (observation, group)"
        )
    x, g = args[0], args[1]
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({g}) IS NOT NULL THEN "
        f"named_struct('x', CAST({x} AS DOUBLE), 'g', CAST({g} AS STRING)) END"
    )
    ssb = (
        "aggregate(array_distinct(transform(__p, __e -> __e.g)), "
        "CAST(0 AS DOUBLE), (__s, __v) -> __s "
        "+ size(filter(__p, __o -> __o.g = __v)) "
        "* pow(aggregate(filter(__p, __o -> __o.g = __v), CAST(0 AS DOUBLE), "
        "(__a, __o) -> __a + __o.x) / size(filter(__p, __o -> __o.g = __v)) "
        "- __t.mu, 2))"
    )
    ssw = (
        "aggregate(array_distinct(transform(__p, __e -> __e.g)), "
        "CAST(0 AS DOUBLE), (__s, __v) -> __s "
        "+ aggregate(filter(__p, __o -> __o.g = __v), CAST(0 AS DOUBLE), "
        "(__a, __o) -> __a + pow(__o.x "
        "- aggregate(filter(__p, __i -> __i.g = __v), CAST(0 AS DOUBLE), "
        "(__b, __i) -> __b + __i.x) / size(filter(__p, __o2 -> __o2.g = __v))"
        ", 2)))"
    )
    stats = (
        f"named_struct('n', CAST(size(__p) AS DOUBLE), "
        f"'k', CAST(size(array_distinct(transform(__p, __e -> __e.g))) "
        f"AS DOUBLE), "
        f"'mu', aggregate(__p, CAST(0 AS DOUBLE), (__a, __e) -> __a + __e.x) "
        f"/ size(__p))"
    )
    fstat = (
        f"(({ssb}) / nullif(__t.k - 1, 0)) "
        f"/ nullif(({ssw}) / nullif(__t.n - __t.k, 0), 0)"
    )
    surv = _betai_sql(
        "__q.d2 / 2", "__q.d1 / 2", "__q.d2 / (__q.d2 + __q.d1 * __q.f)"
    )
    return (
        f"transform(array(collect_list({pair})), __p -> "
        f"transform(array({stats}), __t -> "
        f"transform(array(named_struct('f', round({fstat}, 6), "
        f"'d1', __t.k - 1, 'd2', __t.n - __t.k)), __q -> "
        f"named_struct('col1', __q.f, "
        f"'col2', IF(__q.f IS NULL OR __q.d1 < 1 OR __q.d2 < 1, "
        f"CAST(NULL AS DOUBLE), round({surv}, 6))))[0])[0])[0]"
    )


def _proportions_z_test_expr(args: list[str]) -> str:
    """proportionsZTest(successes_x, successes_y, trials_x, trials_y,
    conf_level, pooling) — CH 23.x SCALAR returning ('col1' = z,
    'col2' = two-sided p, 'col3'/'col4' = CI of p_x − p_y).  Closed-form
    arithmetic + the A&S Φ tail; conf_level pinned to 0.95 (the
    minSampleSize* convention); pooling 'pooled' (CH default) or
    'unpooled'."""
    if len(args) != 6:
        raise ChSqlError(
            "proportionsZTest takes (successes_x, successes_y, trials_x, "
            "trials_y, conf_level, pooling)"
        )
    if args[4].strip() != "0.95":
        raise ChSqlError(
            "proportionsZTest subset: conf_level must be the literal 0.95"
        )
    pooling = args[5].strip().strip("'\"").lower()
    if pooling not in ("pooled", "unpooled"):
        raise ChSqlError(
            f"proportionsZTest pooling must be 'pooled' or 'unpooled', "
            f"got {args[5]!r}"
        )
    sx, sy, nx, ny = (f"CAST({a} AS DOUBLE)" for a in args[:4])
    base = (
        f"named_struct('px', ({sx}) / ({nx}), 'py', ({sy}) / ({ny}), "
        f"'pp', (({sx}) + ({sy})) / (({nx}) + ({ny})), "
        f"'nx', {nx}, 'ny', {ny})"
    )
    if pooling == "pooled":
        se = "sqrt(__b.pp * (1 - __b.pp) * (1 / __b.nx + 1 / __b.ny))"
    else:
        se = (
            "sqrt(__b.px * (1 - __b.px) / __b.nx "
            "+ __b.py * (1 - __b.py) / __b.ny)"
        )
    # the CI always uses the UNPOOLED se (the standard Wald interval)
    se_ci = (
        "sqrt(__b.px * (1 - __b.px) / __b.nx "
        "+ __b.py * (1 - __b.py) / __b.ny)"
    )
    z = f"((__b.px - __b.py) / {se})"
    return (
        f"transform(array({base}), __b -> named_struct("
        f"'col1', round({z}, 6), "
        f"'col2', round(least(CAST(1 AS DOUBLE), "
        f"2 * {_phi_tail_sql(f'abs({z})')}), 6), "
        f"'col3', round(__b.px - __b.py - {_MSS_Z_ALPHA!r} * {se_ci}, 6), "
        f"'col4', round(__b.px - __b.py + {_MSS_Z_ALPHA!r} * {se_ci}, 6)"
        f"))[0]"
    )


def _ttest_one_sample_expr(args: list[str]) -> str:
    """studentTTestOneSample(sample, population_mean) → ('col1' = t,
    'col2' = two-sided p) — CH 25.x (in the pinned image).  Plain
    aggregates + the incomplete-beta t tail, df = n − 1."""
    if len(args) != 2:
        raise ChSqlError(
            "studentTTestOneSample takes exactly (sample, population_mean)"
        )
    x, mu = args[0], args[1]
    xd = f"CAST({x} AS DOUBLE)"
    t = (
        f"((avg({xd}) - ({mu})) / (stddev_samp({xd}) / sqrt(count({xd}))))"
    )
    p = _betai_sql("__q.df / 2", "CAST(0.5 AS DOUBLE)",
                   "__q.df / (__q.df + __q.t * __q.t)")
    return (
        f"transform(array(named_struct('t', {t}, "
        f"'df', CAST(count({xd}) - 1 AS DOUBLE))), __q -> "
        f"named_struct('col1', __q.t, "
        f"'col2', IF(__q.df < 1 OR __q.t IS NULL, CAST(NULL AS DOUBLE), "
        f"least(CAST(1 AS DOUBLE), {p}))))[0]"
    )


def _quantile_exact_exclusive_expr(params: list[str], args: list[str]) -> str:
    """quantileExactExclusive(level)(x) — the PERCENTILE.EXC convention
    (h = (n+1)·p over the sorted sample, linear interpolation, h clamped
    to [1, n]); Inclusive is Spark's own percentile.  One sorted-collect
    fold.  An all-NULL group yields NULL (CH returns nan; NULL is the
    engine's documented deviation for empty samples — under ANSI mode the
    unguarded element_at(__a, 0) would otherwise abort the query)."""
    if len(params) != 1 or len(args) != 1:
        raise ChSqlError("quantileExactExclusive takes (level)(expr)")
    p, x = params[0], args[0]
    arr = (
        f"array_sort(collect_list(CASE WHEN ({x}) IS NOT NULL THEN "
        f"CAST({x} AS DOUBLE) END))"
    )
    return (
        f"transform(array({arr}), __a -> "
        f"IF(size(__a) = 0, CAST(NULL AS DOUBLE), "
        f"transform(array(least(greatest(({p}) * (size(__a) + 1), "
        f"CAST(1 AS DOUBLE)), CAST(size(__a) AS DOUBLE))), __h -> "
        f"element_at(__a, CAST(floor(__h) AS INT)) "
        f"+ (__h - floor(__h)) * (element_at(__a, "
        f"least(CAST(floor(__h) AS INT) + 1, size(__a))) "
        f"- element_at(__a, CAST(floor(__h) AS INT))))[0]))[0]"
    )


def _matrix_agg_expr(args: list[str], fn: str) -> str:
    """corrMatrix/covarSampMatrix/covarPopMatrix(x1, ..., xn) →
    Array(Array(Float64)) — n² plain JVM aggregates in ONE pass (each
    cell is a builtin corr/covar over the same grouped exchange);
    ClickHouse 24.x."""
    if len(args) < 2:
        raise ChSqlError(f"{fn}Matrix needs at least 2 columns")
    rows = []
    for a in args:
        cells = ", ".join(
            f"{fn}(CAST({a} AS DOUBLE), CAST({b} AS DOUBLE))" for b in args
        )
        rows.append(f"array({cells})")
    return f"array({', '.join(rows)})"


def _delta_sum_ts_expr(args: list[str]) -> str:
    """deltaSumTimestamp(value, timestamp): sum of POSITIVE deltas between
    consecutive values in TIMESTAMP order — CH's order-deterministic
    deltaSum variant (bare deltaSum depends on physical block order,
    which a shuffled engine cannot honor — rejected with guidance).  One
    sorted-collect fold (bounded-group contract)."""
    if len(args) != 2:
        raise ChSqlError("deltaSumTimestamp takes exactly (value, timestamp)")
    x, t = args[0], args[1]
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({t}) IS NOT NULL THEN "
        f"named_struct('t', {t}, 'x', CAST({x} AS DOUBLE)) END"
    )
    return (
        f"transform(array(array_sort(collect_list({pair}))), __p -> "
        f"aggregate(sequence(2, greatest(size(__p), 2)), CAST(0 AS DOUBLE), "
        f"(__s, __j) -> __s + IF(__j > size(__p), CAST(0 AS DOUBLE), "
        f"greatest(element_at(__p, __j).x - element_at(__p, __j - 1).x, "
        f"CAST(0 AS DOUBLE)))))[0]"
    )


def _exp_time_decayed_avg_expr(params: list[str], args: list[str]) -> str:
    """exponentialTimeDecayedAvg(x)(value, time): time-decayed weighted
    mean anchored at the group's max time, with x an E-FOLDING time
    constant exactly as ClickHouse defines it —
    Σ vᵢ·e^(−(T−tᵢ)/x) / Σ e^(−(T−tᵢ)/x).  (An earlier revision used
    base-2 half-life decay, a ln2-factor deviation from CH — fixed.)
    Plain aggregates once T is known, so it rides one collected fold
    (the decay needs T first)."""
    if len(params) != 1 or len(args) != 2:
        raise ChSqlError(
            "exponentialTimeDecayedAvg takes (x)(value, time) with x the "
            "e-folding time constant"
        )
    h = params[0]
    x, t = args[0], args[1]
    pair = (
        f"CASE WHEN ({x}) IS NOT NULL AND ({t}) IS NOT NULL THEN "
        f"named_struct('t', CAST({t} AS DOUBLE), 'x', CAST({x} AS DOUBLE)) END"
    )
    return (
        f"transform(array(collect_list({pair})), __p -> "
        f"transform(array(aggregate(__p, CAST(-1e300 AS DOUBLE), "
        f"(__m, __e) -> greatest(__m, __e.t))), __T -> "
        f"aggregate(__p, CAST(0 AS DOUBLE), (__s, __e) -> "
        f"__s + __e.x * exp(-(__T - __e.t) / ({h}))) "
        f"/ aggregate(__p, CAST(0 AS DOUBLE), (__s, __e) -> "
        f"__s + exp(-(__T - __e.t) / ({h}))))[0])[0]"
    )


def _array_levenshtein_expr(args: list[str]) -> str:
    """arrayLevenshtein(a, b) — edit distance between ARRAYS (CH 25.3):
    the classic rolling-row DP as one nested fold (outer over b's
    elements, inner rebuilding the row left-to-right — the insert cell
    depends on the cell just written, so the row is an append fold).
    O(|a|·|b|) per row by contract; elements compare with null-safe
    equality.  Spark's sequence(1, 0) DESCENDS, so both empty sides are
    guarded explicitly (empty → the other side's length)."""
    if len(args) != 2:
        raise ChSqlError("arrayLevenshtein takes exactly (array1, array2)")
    a, b = args
    inner = (
        "aggregate(sequence(1, size(__w.a)), array(CAST(__i AS BIGINT)), "
        "(__nr, __j) -> concat(__nr, array(least("
        "element_at(__row, __j + 1) + 1, "
        "element_at(__nr, __j) + 1, "
        "element_at(__row, __j) + IF(element_at(__w.a, __j) <=> "
        "element_at(__w.b, __i), CAST(0 AS BIGINT), CAST(1 AS BIGINT))))))"
    )
    fold = (
        f"aggregate(sequence(1, size(__w.b)), "
        f"transform(sequence(0, size(__w.a)), __j -> CAST(__j AS BIGINT)), "
        f"(__row, __i) -> {inner}, "
        f"__row -> element_at(__row, -1))"
    )
    return (
        f"transform(array(named_struct('a', {a}, 'b', {b})), __w -> "
        f"CASE WHEN __w.a IS NULL OR __w.b IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN size(__w.b) = 0 THEN CAST(size(__w.a) AS BIGINT) "
        f"WHEN size(__w.a) = 0 THEN CAST(size(__w.b) AS BIGINT) "
        f"ELSE {fold} END)[0]"
    )


def _sellers_distance_sql(h: str, p: str) -> str:
    """Minimum edit distance between pattern ``p`` and ANY substring of
    haystack ``h`` — the Sellers (1980) approximate-substring DP: the
    classic Levenshtein column fold with a free start (newrow[0] = 0 at
    every haystack position) and a free end (running min over the final
    row).  O(|h|·|p|) per row by contract, pure JVM."""
    inner = (
        "aggregate(sequence(1, size(__w.p)), array(CAST(0 AS BIGINT)), "
        "(__nr, __j) -> concat(__nr, array(least("
        "element_at(__s.r, __j + 1) + 1, "
        "element_at(__nr, __j) + 1, "
        "element_at(__s.r, __j) + IF(element_at(__w.p, __j) = "
        "element_at(__w.h, __i), CAST(0 AS BIGINT), CAST(1 AS BIGINT))))))"
    )
    fold = (
        f"aggregate(sequence(1, size(__w.h)), "
        f"named_struct('r', transform(sequence(0, size(__w.p)), "
        f"__j -> CAST(__j AS BIGINT)), "
        f"'best', CAST(size(__w.p) AS BIGINT)), "
        f"(__s, __i) -> transform(array({inner}), __nr2 -> "
        f"named_struct('r', __nr2, "
        f"'best', least(__s.best, element_at(__nr2, -1))))[0], "
        f"__s -> __s.best)"
    )
    return (
        # split('', '') yields [''] — the filter restores the empty array
        f"transform(array(named_struct("
        f"'h', filter(split({h}, ''), __c -> __c != ''), "
        f"'p', filter(split({p}, ''), __c -> __c != ''))), __w -> "
        f"CASE WHEN size(__w.p) = 0 THEN CAST(0 AS BIGINT) "
        f"WHEN size(__w.h) = 0 THEN CAST(size(__w.p) AS BIGINT) "
        f"ELSE {fold} END)[0]"
    )


def _multi_fuzzy_match_expr(args: list[str], kind: str) -> str:
    """multiFuzzyMatchAny / AnyIndex / AllIndices (haystack, distance,
    [patterns]): 1 / first 1-based index / all indices of patterns that
    match some substring of the haystack within the edit distance.

    Subset: patterns are matched as LITERAL strings via the Sellers
    approximate-substring DP — CH's hyperscan regex-fuzzy tier (RE2
    syntax inside the edit-distance automaton) is out of subset, so
    patterns containing regex metacharacters would diverge; for plain
    literals the semantics coincide (documented deviation)."""
    if len(args) != 3:
        raise ChSqlError(
            f"multiFuzzyMatch{kind} takes exactly "
            f"(haystack, distance, [patterns])"
        )
    h, d, pats = args
    dist = _sellers_distance_sql(h, "__pat")
    hit = f"transform({pats}, __pat -> {dist} <= CAST({d} AS BIGINT))"
    if kind == "Any":
        return f"CAST(exists({hit}, __x -> __x) AS INT)"
    if kind == "AnyIndex":
        return f"coalesce(array_position({hit}, true), 0)"
    # AllIndices — CH returns Array(UInt64), ascending here
    return (
        f"filter(transform(sequence(1, size({pats})), __k -> "
        f"IF(element_at({hit}, __k), CAST(__k AS BIGINT), "
        f"CAST(-1 AS BIGINT))), __x -> __x > 0)"
    )


def _damerau_levenshtein_expr(args: list[str]) -> str:
    """damerauLevenshteinDistance(s1, s2) (CH 24.8) — the FULL (1964)
    Damerau-Levenshtein distance with unrestricted transpositions, the
    variant DuckDB's ``damerau_levenshtein`` implements (oracle-verified:
    d('CA','ABC') = 2, where the restricted/OSA variant gives 3).

    Supersedes the Arrow-batched Python kernels (functions/text.py) on
    the TEXT path for this whole distance family — identical semantics
    (the recorded registry queries chsql_vocab_r21/string_distances2
    re-verified green), but pure JVM codegen keeps the scan path off the
    Python worker; the Column-API helpers keep the kernels.

    One fold over s1's positions carrying ALL previous DP rows (the
    transposition term reads d[k−1][l−1] for the last matching row k /
    column l, so a two-row rolling window is not enough); k and l are
    recomputed per cell as last-occurrence scans — O(|s1|·|s2|·max) per
    value by the bounded-string contract (identifier/name-length
    strings).  Positions are CHARACTERS (byte-identical for ASCII,
    documented for multi-byte)."""
    if len(args) != 2:
        raise ChSqlError(
            "damerauLevenshteinDistance takes exactly (s1, s2)"
        )
    a, b = args
    # k = last i' < i with a[i'] = b[j]; l = last j' < j with b[j'] = a[i]
    kk = (
        "IF(__i = 1, 0, aggregate(sequence(1, __i - 1), 0, (__m, __x) -> "
        "IF(substring(__w.a, __x, 1) = substring(__w.b, __j, 1), __x, __m)))"
    )
    ll = (
        "IF(__j = 1, 0, aggregate(sequence(1, __j - 1), 0, (__m, __x) -> "
        "IF(substring(__w.b, __x, 1) = substring(__w.a, __i, 1), __x, __m)))"
    )
    cell = (
        f"transform(array(named_struct('k', {kk}, 'l', {ll})), __t -> "
        "least("
        # substitution: d[i-1][j-1] + cost
        "element_at(element_at(__rows, __i), __j) "
        "+ IF(substring(__w.a, __i, 1) = substring(__w.b, __j, 1), "
        "CAST(0 AS BIGINT), CAST(1 AS BIGINT)), "
        # deletion: d[i-1][j] + 1
        "element_at(element_at(__rows, __i), __j + 1) + 1, "
        # insertion: d[i][j-1] + 1
        "element_at(__nr, __j) + 1, "
        # transposition: d[k-1][l-1] + (i-k-1) + 1 + (j-l-1)
        "IF(__t.k = 0 OR __t.l = 0, "
        "CAST(length(__w.a) + length(__w.b) + 2 AS BIGINT), "
        "element_at(element_at(__rows, __t.k), __t.l) "
        "+ (__i - __t.k - 1) + 1 + (__j - __t.l - 1))))[0]"
    )
    new_row = (
        f"aggregate(sequence(1, length(__w.b)), array(CAST(__i AS BIGINT)), "
        f"(__nr, __j) -> concat(__nr, array({cell})))"
    )
    fold = (
        f"aggregate(sequence(1, length(__w.a)), "
        f"array(transform(sequence(0, length(__w.b)), "
        f"__j -> CAST(__j AS BIGINT))), "
        f"(__rows, __i) -> concat(__rows, array({new_row})), "
        f"__rows -> element_at(element_at(__rows, -1), -1))"
    )
    return (
        f"transform(array(named_struct('a', {a}, 'b', {b})), __w -> "
        f"CASE WHEN __w.a IS NULL OR __w.b IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN length(__w.b) = 0 THEN CAST(length(__w.a) AS BIGINT) "
        f"WHEN length(__w.a) = 0 THEN CAST(length(__w.b) AS BIGINT) "
        f"ELSE {fold} END)[0]"
    )


def _jaro_expr(args: list[str], winkler: bool) -> str:
    """jaroSimilarity / jaroWinklerSimilarity (CH 24.8) — the textbook
    Jaro match-window algorithm as one fold over s1's positions carrying
    (matched-j set, matched-char sequence); transpositions = half the
    positions where the two matched sequences disagree.  Winkler boost
    l·0.1·(1−sim) applies above the standard 0.7 threshold with prefix
    cap 4 — the convention DuckDB's builtins implement, so the oracle is
    an independent engine, not a replay.  Either side empty → 0 (the
    DuckDB/CH convention; the '1 for two empties' textbook corner is
    deliberately not taken).  O(|s1|·window) per value."""
    if len(args) != 2:
        raise ChSqlError("jaro similarity takes exactly (s1, s2)")
    a, b = args
    base = (
        f"named_struct('a', {a}, 'b', {b}, "
        f"'w', greatest(CAST(floor(greatest(length({a}), length({b})) / 2) "
        f"AS INT) - 1, 0))"
    )
    cand = (
        "IF(greatest(__i - __w.w, 1) > least(__i + __w.w, length(__w.b)), "
        "CAST(array() AS ARRAY<INT>), "
        "sequence(greatest(__i - __w.w, 1), least(__i + __w.w, "
        "length(__w.b))))"
    )
    match_fold = (
        f"aggregate(sequence(1, length(__w.a)), "
        f"named_struct('js', CAST(array() AS ARRAY<INT>), "
        f"'cs', CAST('' AS STRING)), "
        f"(__s, __i) -> transform(array(try_element_at(filter({cand}, "
        f"__j -> substring(__w.b, __j, 1) = substring(__w.a, __i, 1) "
        f"AND NOT array_contains(__s.js, __j)), 1)), __j0 -> "
        f"IF(__j0 IS NULL, __s, named_struct("
        f"'js', concat(__s.js, array(__j0)), "
        f"'cs', concat(__s.cs, substring(__w.a, __i, 1)))))[0])"
    )
    s2m = (
        "concat_ws('', transform(array_sort(__m.js), "
        "__j -> substring(__w.b, __j, 1)))"
    )
    sim = (
        # t = FLOOR(mismatched positions / 2): the matched sequences are
        # permutations of each other, so the mismatch count can be odd
        # (a 3-cycle); implementations (DuckDB, Apache-commons) use
        # integer division, not the fractional k/2 — found by the seeded
        # random battery in test_damerau_jaro_distances
        f"transform(array(named_struct('m', "
        f"CAST(size(__m.js) AS DOUBLE), 't', "
        f"CAST(size(filter(sequence(1, greatest(size(__m.js), 1)), __k -> "
        f"__k <= size(__m.js) AND substring(__m.cs, __k, 1) "
        f"<> substring({s2m}, __k, 1))) div 2 AS DOUBLE))), __q -> "
        f"IF(__q.m = 0, CAST(0 AS DOUBLE), "
        f"(__q.m / length(__w.a) + __q.m / length(__w.b) "
        f"+ (__q.m - __q.t) / __q.m) / 3))[0]"
    )
    jaro = (
        f"transform(array({match_fold}), __m -> {sim})[0]"
    )
    if winkler:
        pfx = (
            "size(filter(sequence(1, least(4, length(__w.a), "
            "length(__w.b))), __k -> substring(__w.a, 1, __k) "
            "= substring(__w.b, 1, __k)))"
        )
        body = (
            f"transform(array({jaro}), __sim -> "
            f"IF(__sim > CAST(0.7 AS DOUBLE), "
            f"__sim + {pfx} * CAST(0.1 AS DOUBLE) * (1 - __sim), "
            f"__sim))[0]"
        )
    else:
        body = jaro
    return (
        f"transform(array({base}), __w -> "
        f"CASE WHEN __w.a IS NULL OR __w.b IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN length(__w.a) = 0 OR length(__w.b) = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE {body} END)[0]"
    )


def _array_roc_auc_expr(args: list[str]) -> str:
    """arrayROCAUC(scores, labels) (CH 25.x; alias arrayAUC) — area
    under the ROC curve via the rank identity
    AUC = (R₊ − P(P+1)/2) / (P·N) with AVERAGE ranks on score ties
    (pairs scoring equal contribute ½ — the textbook convention).  One
    zipped sort + one tie-run fold (the mannWhitneyUTest pattern);
    label > 0 marks a positive; degenerate P = 0 or N = 0 → NULL (CH
    raises — NULL is the engine's ANSI-safe analog, documented).
    Subset: the optional ``scale`` parameter must stay default/true."""
    if len(args) == 3 and args[2].strip().lower() in ("true", "1"):
        args = args[:2]
    if len(args) != 2:
        raise ChSqlError(
            "arrayROCAUC subset: (scores, labels) with scale left at the "
            "default true (the unscaled area is the same fold times P·N)"
        )
    s, l = args
    pairs = (
        f"array_sort(zip_with({s}, {l}, (__x, __y) -> "
        f"named_struct('x', CAST(__x AS DOUBLE), "
        f"'i', IF(CAST(__y AS DOUBLE) > 0, 1, 0))))"
    )
    # tie-run fold: average rank (start+end)/2 credited to the run's
    # positives; state (run start, positives in run, rank-sum of +)
    fold = (
        "aggregate(sequence(1, size(__p)), "
        "named_struct('s', CAST(1 AS DOUBLE), 'c', CAST(0 AS DOUBLE), "
        "'r1', CAST(0 AS DOUBLE)), "
        "(__st, __j) -> IF("
        "__j = size(__p) OR element_at(__p, __j).x <> "
        "element_at(__p, least(__j + 1, size(__p))).x, "
        "named_struct('s', CAST(__j + 1 AS DOUBLE), "
        "'c', CAST(0 AS DOUBLE), "
        "'r1', __st.r1 + (__st.s + __j) / 2 * (__st.c "
        "+ element_at(__p, __j).i)), "
        "named_struct('s', __st.s, "
        "'c', __st.c + element_at(__p, __j).i, "
        "'r1', __st.r1)), "
        "__st -> __st.r1)"
    )
    return (
        f"transform(array({pairs}), __p -> "
        f"transform(array(named_struct("
        f"'np', CAST(aggregate(__p, 0, (__a, __e) -> __a + __e.i) "
        f"AS DOUBLE), 'n', CAST(size(__p) AS DOUBLE))), __c -> "
        f"IF(__c.np = 0 OR __c.np = __c.n, CAST(NULL AS DOUBLE), "
        f"({fold} - __c.np * (__c.np + 1) / 2) "
        f"/ (__c.np * (__c.n - __c.np))))[0])[0]"
    )


def _array_pr_auc_expr(args: list[str]) -> str:
    """arrayPrAUC(scores, labels) (CH 25.x) — area under the
    precision-recall curve by the rectangle rule (average precision):
    AP = Σ_{k: positive} precision@k / P over the score-DESCENDING
    order, matching CH's documented example
    arrayPrAUC([0.1,0.4,0.35,0.8], [0,0,1,1]) = 5/6.  Score ties order
    negatives first ((−score, label) struct sort — the conservative
    convention, documented; CH leaves tie order to its sort).  P = 0 →
    NULL."""
    if len(args) != 2:
        raise ChSqlError("arrayPrAUC takes (scores, labels)")
    s, l = args
    pairs = (
        f"array_sort(zip_with({s}, {l}, (__x, __y) -> "
        f"named_struct('x', -CAST(__x AS DOUBLE), "
        f"'i', IF(CAST(__y AS DOUBLE) > 0, 1, 0))))"
    )
    fold = (
        "aggregate(sequence(1, size(__p)), "
        "named_struct('tp', CAST(0 AS DOUBLE), 'ap', CAST(0 AS DOUBLE)), "
        "(__st, __j) -> IF(element_at(__p, __j).i = 1, "
        "named_struct('tp', __st.tp + 1, "
        "'ap', __st.ap + (__st.tp + 1) / CAST(__j AS DOUBLE)), "
        "named_struct('tp', __st.tp, 'ap', __st.ap)), "
        "__st -> __st.ap)"
    )
    return (
        f"transform(array({pairs}), __p -> "
        f"transform(array(CAST(aggregate(__p, 0, (__a, __e) -> "
        f"__a + __e.i) AS DOUBLE)), __np -> "
        f"IF(__np = 0, CAST(NULL AS DOUBLE), {fold} / __np))[0])[0]"
    )


def _lp_norm_expr(args: list[str]) -> str:
    """LpNorm(v, p) — (Σ|xᵢ|^p)^(1/p); p a numeric scalar."""
    if len(args) != 2:
        raise ChSqlError("LpNorm takes (array, p)")
    v, p = args
    return (
        f"pow(aggregate({v}, CAST(0 AS DOUBLE), (__a, __x) -> "
        f"__a + pow(abs(CAST(__x AS DOUBLE)), CAST({p} AS DOUBLE))), "
        f"1 / CAST({p} AS DOUBLE))"
    )


def _lp_distance_expr(args: list[str]) -> str:
    """LpDistance(a, b, p) — LpNorm of the element-wise difference."""
    if len(args) != 3:
        raise ChSqlError("LpDistance takes (array1, array2, p)")
    a, b, p = args
    diff = (
        f"zip_with({a}, {b}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))"
    )
    return _lp_norm_expr([diff, p])


def _array_normalized_gini_expr(args: list[str]) -> str:
    """arrayNormalizedGini(predicted, label) (CH 25.4) →
    ('col1' = gini of labels ranked by prediction, 'col2' = the ideal
    gini with labels ranked by themselves, 'col3' = their ratio) — the
    standard normalized-Gini convention (Kaggle/public):
    g = (Σᵢ cumᵢ / total − (n+1)/2) / n over labels sorted by the rank
    key DESCENDING.  Ties order by (key DESC, label ASC) for engine
    determinism (documented; CH leaves tie order to its sort).  Two
    folds over one zipped sort — pure JVM."""
    if len(args) != 2:
        raise ChSqlError("arrayNormalizedGini takes (predicted, label)")
    a, b = args

    def gini(sorted_expr: str) -> str:
        return (
            f"transform(array({sorted_expr}), __sp -> "
            f"transform(array(aggregate(__sp, "
            f"named_struct('c', CAST(0 AS DOUBLE), "
            f"'g', CAST(0 AS DOUBLE)), "
            f"(__s, __e) -> named_struct('c', __s.c + __e.l, "
            f"'g', __s.g + __s.c + __e.l))), __f -> "
            f"(__f.g / __f.c - (size(__sp) + 1) / CAST(2 AS DOUBLE)) "
            f"/ size(__sp))[0])[0]"
        )

    by_pred = (
        f"array_sort(zip_with({a}, {b}, (__x, __y) -> "
        f"named_struct('p', -CAST(__x AS DOUBLE), "
        f"'l', CAST(__y AS DOUBLE))))"
    )
    by_label = (
        f"array_sort(transform({b}, __y -> "
        f"named_struct('p', -CAST(__y AS DOUBLE), "
        f"'l', CAST(__y AS DOUBLE))))"
    )
    return (
        f"transform(array({gini(by_pred)}), __gp -> "
        f"transform(array({gini(by_label)}), __gl -> "
        f"named_struct('col1', __gp, 'col2', __gl, "
        f"'col3', __gp / __gl))[0])[0]"
    )


def _window_tvf_expr(args: list[str], fn: str) -> str:
    """tumble(ts, INTERVAL n unit) / hop(ts, INTERVAL slide, INTERVAL
    size) — ClickHouse's WINDOW VIEW time-window functions (22.x
    experimental, in the pinned 25.7 image) as Spark's ``window()``
    struct: usable directly in GROUP BY, with tumbleStart/tumbleEnd/
    hopStart/hopEnd extracting the struct fields.  Subset: the interval
    arguments must be ``INTERVAL <n> <unit>`` literals (they become
    Spark duration strings at transpile time); the ``... AS alias``
    GROUP-BY form isn't rewritten — pass the window expression itself
    to the Start/End accessors (the documented batch-analog idiom;
    incremental fire-on-insert is the streaming tier's job,
    streaming/pipeline.py)."""
    def dur(tok: str) -> str:
        m = re.match(r"(?is)^\s*INTERVAL\s+'?(\d+)'?\s+(\w+)\s*$", tok)
        if not m:
            raise ChSqlError(
                f"{fn} subset: interval arguments must be literal "
                f"INTERVAL <n> <unit>, got {tok!r}"
            )
        return f"'{m.group(1)} {m.group(2).lower()}'"

    if fn == "tumble":
        if len(args) != 2:
            raise ChSqlError("tumble takes (time, INTERVAL <n> <unit>)")
        return f"window({args[0]}, {dur(args[1])})"
    if len(args) != 3:
        raise ChSqlError(
            "hop takes (time, INTERVAL <slide>, INTERVAL <size>)"
        )
    # CH hop(time, slide, size) → Spark window(time, size, slide)
    return f"window({args[0]}, {dur(args[2])}, {dur(args[1])})"


def _hop_start_end_expr(args: list[str], field: str) -> str:
    """hopStart/hopEnd — both documented forms, mirroring the
    tumbleStart arity dispatch (ADVICE r12 #4): 1-arg extracts the
    field from a tumble()/hop() struct; 3-arg ``hopStart(time, slide,
    size)`` computes the window directly.  CH's hop functions used
    outside a WINDOW VIEW return the bounds of the FIRST (earliest)
    window containing ``time``: the smallest slide-multiple start with
    start + size > time, i.e. toStartOfInterval(time − size, slide) +
    slide (exclusive upper bound, so a time exactly size past a grid
    point belongs to the NEXT window — the formula covers that case
    too).  A scalar closed form, NOT Spark's window(): a sliding
    window() in a projection expands each row into size/slide rows."""
    if len(args) == 1:
        return f"({args[0]}).{field}"
    if len(args) != 3:
        raise ChSqlError(
            "hopStart/hopEnd subset: 1 argument (a tumble()/hop() window "
            "struct) or 3 (time, INTERVAL slide, INTERVAL size)"
        )
    time, slide, size = args
    first = (
        f"({_to_start_of_interval([f'(({time}) - {size})', slide])} "
        f"+ {slide})"
    )
    if field == "start":
        return first
    return f"({first} + {size})"


def _to_interval_expr(args: list[str]) -> str:
    """toInterval(n, 'unit') (CH 25.x generic form): dispatch on the
    unit STRING LITERAL to the same lowerings as the typed
    toInterval<Unit> family."""
    if len(args) != 2:
        raise ChSqlError("toInterval takes (n, 'unit')")
    unit = args[1].strip().strip("'\"").lower().rstrip("s")
    per = {
        "nanosecond": "(({0}) * INTERVAL 1 SECOND / 1000000000)",
        "microsecond": "(({0}) * INTERVAL 1 SECOND / 1000000)",
        "millisecond": "(({0}) * INTERVAL 1 SECOND / 1000)",
        "second": "(({0}) * INTERVAL 1 SECOND)",
        "minute": "(({0}) * INTERVAL 1 MINUTE)",
        "hour": "(({0}) * INTERVAL 1 HOUR)",
        "day": "(({0}) * INTERVAL 1 DAY)",
        "week": "(({0}) * INTERVAL 7 DAY)",
        "month": "(({0}) * INTERVAL 1 MONTH)",
        "quarter": "(({0}) * INTERVAL 3 MONTH)",
        "year": "(({0}) * INTERVAL 1 YEAR)",
    }
    if unit not in per:
        raise ChSqlError(
            f"toInterval unit must be a literal from {sorted(per)}, "
            f"got {args[1]!r}"
        )
    return per[unit].format(args[0])


def _array_sym_diff_expr(args: list[str]) -> str:
    """arraySymmetricDifference(a1, a2, ...) (CH 25.4): elements present
    in at least one argument but not in ALL of them — union minus
    intersection, SORTED for engine determinism (CH leaves the order
    unspecified — the groupArrayIntersect convention)."""
    if len(args) < 2:
        raise ChSqlError("arraySymmetricDifference needs at least 2 arrays")
    uni, inter = args[0], args[0]
    for x in args[1:]:
        uni = f"array_union({uni}, {x})"
        inter = f"array_intersect({inter}, {x})"
    return f"array_sort(array_except({uni}, {inter}))"


def _string_compare_expr(args: list[str]) -> str:
    """stringCompare(s1, s2[, offset1, offset2, n]) (CH 25.2): three-way
    comparison (−1/0/1) of the strings or of n-unit slices at the given
    0-based offsets.  Subset: offsets count CHARACTERS (Spark substring),
    not bytes — identical for ASCII, documented for multi-byte."""
    if len(args) == 2:
        x, y = args
    elif len(args) == 5:
        x = (
            f"substring({args[0]}, CAST({args[2]} AS INT) + 1, "
            f"CAST({args[4]} AS INT))"
        )
        y = (
            f"substring({args[1]}, CAST({args[3]} AS INT) + 1, "
            f"CAST({args[4]} AS INT))"
        )
    else:
        raise ChSqlError(
            "stringCompare takes (s1, s2) or (s1, s2, offset1, offset2, n)"
        )
    # NULL propagates (CH propagates NULL through ordinary functions on
    # Nullable args — ADVICE r12 #2; the bare CASE fell through to 0).
    # Wrap-once via transform(array(named_struct(...))) so the 5-arg
    # substring slices aren't re-evaluated per branch.
    return (
        f"transform(array(named_struct('a', {x}, 'b', {y})), __sc -> "
        f"CAST(CASE WHEN __sc.a IS NULL OR __sc.b IS NULL THEN NULL "
        f"WHEN __sc.a < __sc.b THEN -1 "
        f"WHEN __sc.a > __sc.b THEN 1 ELSE 0 END AS INT))[0]"
    )


def _string_bytes_fold(s: str, what: str) -> str:
    """stringBytesUniq / stringBytesEntropy (CH 25.1): distinct-byte
    count / Shannon entropy (base 2) of the UTF-8 BYTE distribution —
    hex() exposes the bytes as digit pairs on both engines, so the fold
    is pure string SQL and the oracle replays it verbatim."""
    pairs = (
        f"transform(sequence(1, CAST(length(hex({s})) / 2 AS INT)), "
        f"__i -> substring(hex({s}), 2 * __i - 1, 2))"
    )
    if what == "uniq":
        body = "CAST(size(array_distinct(__p)) AS BIGINT)"
        empty = "CAST(0 AS BIGINT)"
    else:
        body = (
            "aggregate(array_distinct(__p), CAST(0 AS DOUBLE), "
            "(__s2, __v) -> __s2 "
            "- CAST(size(filter(__p, __o -> __o = __v)) AS DOUBLE) "
            "/ size(__p) "
            "* log2(CAST(size(filter(__p, __o -> __o = __v)) AS DOUBLE) "
            "/ size(__p)))"
        )
        empty = "CAST(0 AS DOUBLE)"
    return (
        f"transform(array({s}), __t -> IF(__t IS NULL, NULL, "
        f"IF(length(__t) = 0, {empty}, "
        f"transform(array({pairs}), __p -> {body})[0])))[0]"
    )


_HILBERT_FLIP = 2147483647  # 2^31 - 1: the curve order is 2^31 (see below)


def _morton_encode_expr(args: list[str]) -> str:
    """mortonEncode(a, b) — 2-D Morton (Z-order) interleave, CH 24.6.
    Bit i of the FIRST argument lands at position 2i (even/LSB) and of
    the second at 2i+1 — CH wraps morton-nd, whose encoder is
    ``(Encode(rest...) << 1) | spread(first)``, so the first argument
    takes the even positions: mortonEncode(1, 2) = 9 (and the 3-D
    documented example mortonEncode(1, 2, 3) = 53 is only consistent
    with this parity).  The r12 lowering had the two arguments swapped
    (ADVICE r12 #1) — the self-consistent roundtrip/oracle masked it.
    Matches functions/clickhouse_names.mortonEncode (the unrolled
    Column-API kernel, which always had the right parity).
    Subset: 2-D, inputs < 2^31 (CH accepts up to 8 UInt args; BIGINT is
    signed, so the 31-bit bound keeps the result positive and exact on
    both engines — documented).  One 31-step JVM fold, no Python."""
    if len(args) != 2:
        raise ChSqlError(
            "mortonEncode subset: exactly 2 arguments (the 2-D form); "
            "inputs must be < 2^31"
        )
    a, b = args
    return (
        f"aggregate(sequence(0, 30), CAST(0 AS BIGINT), (__a, __i) -> "
        f"__a + shiftleft(shiftright(CAST({a} AS BIGINT), __i) & 1, "
        f"2 * __i) "
        f"+ shiftleft(shiftright(CAST({b} AS BIGINT), __i) & 1, "
        f"2 * __i + 1))"
    )


def _morton_decode_expr(args: list[str]) -> str:
    """mortonDecode(2, code) → ('col1', 'col2') — the 2-D inverse of
    mortonEncode (first coordinate from the EVEN bit positions, the
    morton-nd parity; ADVICE r12 #1)."""
    if len(args) != 2 or args[0].strip() != "2":
        raise ChSqlError(
            "mortonDecode subset: the first argument must be the literal "
            "dimension 2 (the 2-D form)"
        )
    c = args[1]
    return (
        f"named_struct("
        f"'col1', aggregate(sequence(0, 30), CAST(0 AS BIGINT), "
        f"(__a, __i) -> __a + shiftleft("
        f"shiftright(CAST({c} AS BIGINT), 2 * __i) & 1, __i)), "
        f"'col2', aggregate(sequence(0, 30), CAST(0 AS BIGINT), "
        f"(__a, __i) -> __a + shiftleft("
        f"shiftright(CAST({c} AS BIGINT), 2 * __i + 1) & 1, __i)))"
    )


def _hilbert_encode_expr(args: list[str]) -> str:
    """hilbertEncode(x, y) — 2-D Hilbert curve index, CH 24.6; matches
    CH's documented example ``hilbertEncode(3, 4) = 31``.

    The published Wikipedia ``xy2d`` iteration (public domain pseudocode):
    one fold over bit levels k = 30..0 carrying (x, y, d) — at each level
    d += 4^k·((3·rx) XOR ry) followed by the quadrant rotate/flip, with
    the flip complement against 2^31 − 1 (bits above the current level
    are never re-read, so the full-order complement is equivalent to the
    scope-local one).  Subset: 2-D, inputs < 2^31 so d < 2^62 stays exact
    in signed BIGINT on both engines (documented).  Pure JVM fold."""
    if len(args) != 2:
        raise ChSqlError(
            "hilbertEncode subset: exactly 2 arguments (the 2-D form); "
            "inputs must be < 2^31"
        )
    x, y = args
    return (
        f"aggregate(sequence(30, 0, -1), "
        f"named_struct('x', CAST({x} AS BIGINT), 'y', CAST({y} AS BIGINT), "
        f"'d', CAST(0 AS BIGINT)), "
        f"(__s, __k) -> transform(array(named_struct("
        f"'rx', shiftright(__s.x, __k) & 1, "
        f"'ry', shiftright(__s.y, __k) & 1)), __r -> "
        f"transform(array(named_struct("
        f"'x2', IF(__r.ry = 0 AND __r.rx = 1, {_HILBERT_FLIP} - __s.x, "
        f"__s.x), "
        f"'y2', IF(__r.ry = 0 AND __r.rx = 1, {_HILBERT_FLIP} - __s.y, "
        f"__s.y))), __q -> "
        f"named_struct("
        f"'x', IF(__r.ry = 0, __q.y2, __s.x), "
        f"'y', IF(__r.ry = 0, __q.x2, __s.y), "
        f"'d', __s.d + shiftleft(CAST(1 AS BIGINT), 2 * __k) "
        f"* ((3 * __r.rx) ^ __r.ry)))[0])[0], "
        f"__s -> __s.d)"
    )


def _hilbert_decode_expr(args: list[str]) -> str:
    """hilbertDecode(2, code) → ('col1', 'col2') — the 2-D inverse
    (Wikipedia ``d2xy``: ascending bit levels, scope-local flip against
    2^k − 1, then accumulate 2^k·rx / 2^k·ry)."""
    if len(args) != 2 or args[0].strip() != "2":
        raise ChSqlError(
            "hilbertDecode subset: the first argument must be the literal "
            "dimension 2 (the 2-D form)"
        )
    c = args[1]
    return (
        f"aggregate(sequence(0, 30), "
        f"named_struct('x', CAST(0 AS BIGINT), 'y', CAST(0 AS BIGINT), "
        f"'t', CAST({c} AS BIGINT)), "
        f"(__s, __k) -> transform(array(named_struct("
        f"'rx', shiftright(__s.t, 1) & 1, "
        f"'ry', (__s.t ^ (shiftright(__s.t, 1) & 1)) & 1, "
        f"'s1', shiftleft(CAST(1 AS BIGINT), __k))), __r -> "
        f"transform(array(named_struct("
        f"'x2', IF(__r.ry = 0 AND __r.rx = 1, __r.s1 - 1 - __s.x, __s.x), "
        f"'y2', IF(__r.ry = 0 AND __r.rx = 1, __r.s1 - 1 - __s.y, __s.y)"
        f")), __q -> "
        f"named_struct("
        f"'x', IF(__r.ry = 0, __q.y2, __s.x) + __r.s1 * __r.rx, "
        f"'y', IF(__r.ry = 0, __q.x2, __s.y) + __r.s1 * __r.ry, "
        f"'t', shiftright(__s.t, 2)))[0])[0], "
        f"__s -> named_struct('col1', __s.x, 'col2', __s.y))"
    )


# ---------------------------------------------------------------------------
# S2 cell tier (round 15) — geoToS2 / s2ToGeo / s2CellsIntersect /
# s2GetNeighbors over the PUBLIC s2geometry cell-id definition (cube-face
# Hilbert curve at leaf level 30, quadratic ST projection): face = argmax
# |xyz| component, (u,v) face ratios, st = quadratic(u), 30-level Hilbert
# fold with the published orientation tables kIJtoPos / kPosToIJ /
# kPosToOrientation, id = face·2^61 + pos·2 + 1.  UInt64 ids surface as
# their SIGNED-64 reinterpretation (faces 4-5 set bit 63 — the repo's
# hash-function convention, documented deviation).  All pure-JVM folds;
# the pytest battery cross-checks a randomized sample against an
# independent Python transliteration of the same published algorithm
# plus roundtrip/adjacency invariants.
# ---------------------------------------------------------------------------

#: 2^30 (leaf cells per face edge) and 2^29 (half), as SQL literals
_S2_MAX = 1073741824
_S2_HALF = 536870912

#: kIJtoPos rows by orientation (flattened 4×4), kPosToIJ likewise, and
#: kPosToOrientation — the published S2 Hilbert tables
_S2_IJ_TO_POS = "array(0,1,3,2,0,3,1,2,2,3,1,0,2,1,3,0)"
_S2_POS_TO_IJ = "array(0,1,3,2,0,2,3,1,3,2,0,1,3,1,0,2)"
_S2_POS_TO_ORI = "array(1,0,0,3)"


def _s2_xyz_expr(lon: str, lat: str) -> str:
    return (
        f"named_struct("
        f"'x', cos(radians({lat})) * cos(radians({lon})), "
        f"'y', cos(radians({lat})) * sin(radians({lon})), "
        f"'z', sin(radians({lat})))"
    )


def _s2_face_expr(c: str) -> str:
    """LargestAbsComponent: axis 0 if |x| strictly dominates, else 1 if
    |y| > |z|, else 2; +3 when the winning component is negative."""
    return (
        f"CASE WHEN abs({c}.x) > abs({c}.y) AND abs({c}.x) > abs({c}.z) "
        f"THEN IF({c}.x < 0, 3, 0) "
        f"WHEN abs({c}.y) > abs({c}.z) THEN IF({c}.y < 0, 4, 1) "
        f"ELSE IF({c}.z < 0, 5, 2) END"
    )


def _s2_u_expr(f: str, c: str) -> str:
    return (
        f"CASE {f} WHEN 0 THEN {c}.y / {c}.x WHEN 1 THEN -{c}.x / {c}.y "
        f"WHEN 2 THEN -{c}.x / {c}.z WHEN 3 THEN {c}.z / {c}.x "
        f"WHEN 4 THEN {c}.z / {c}.y ELSE -{c}.y / {c}.z END"
    )


def _s2_v_expr(f: str, c: str) -> str:
    return (
        f"CASE {f} WHEN 0 THEN {c}.z / {c}.x WHEN 1 THEN {c}.z / {c}.y "
        f"WHEN 2 THEN -{c}.y / {c}.z WHEN 3 THEN {c}.y / {c}.x "
        f"WHEN 4 THEN -{c}.x / {c}.y ELSE -{c}.x / {c}.z END"
    )


def _s2_uv_to_st(u: str) -> str:
    """Quadratic ST projection (S2's default)."""
    return (
        f"IF({u} >= 0, 0.5 * sqrt(1 + 3 * ({u})), "
        f"1 - 0.5 * sqrt(1 - 3 * ({u})))"
    )


def _s2_st_to_uv(s: str) -> str:
    return (
        f"IF({s} >= 0.5, (4 * ({s}) * ({s}) - 1) / 3, "
        f"(1 - 4 * (1 - ({s})) * (1 - ({s}))) / 3)"
    )


def _s2_st_to_ij(s: str) -> str:
    return (
        f"greatest(CAST(0 AS BIGINT), least(CAST({_S2_MAX - 1} AS BIGINT), "
        f"CAST(floor({_S2_MAX} * ({s})) AS BIGINT)))"
    )


def _s2_from_face_ij(f: str, i: str, j: str) -> str:
    """FromFaceIJ: the 30-level Hilbert position fold (orientation seeded
    face & kSwapMask), then id = face<<61 | pos<<1 | 1."""
    return (
        f"aggregate(sequence(29, 0, -1), "
        f"named_struct('p', CAST(0 AS BIGINT), 'o', CAST({f} & 1 AS BIGINT)), "
        f"(__s, __k) -> transform(array(element_at({_S2_IJ_TO_POS}, "
        f"CAST(__s.o * 4 + 2 * (shiftright({i}, __k) & 1) "
        f"+ (shiftright({j}, __k) & 1) AS INT) + 1)), "
        f"__p -> named_struct('p', __s.p * 4 + __p, "
        f"'o', __s.o ^ element_at({_S2_POS_TO_ORI}, __p + 1)))[0], "
        f"__s -> shiftleft(CAST({f} AS BIGINT), 61) | shiftleft(__s.p, 1) | 1)"
    )


def _s2_decode_fold(idref: str) -> str:
    """id → named_struct(f, i, j): the inverse 30-level fold over the
    60 position bits (face bits masked off)."""
    return (
        f"aggregate(sequence(29, 0, -1), "
        f"named_struct('i', CAST(0 AS BIGINT), 'j', CAST(0 AS BIGINT), "
        f"'o', shiftrightunsigned({idref}, 61) & 1), "
        f"(__s, __k) -> transform(array(CAST(shiftright("
        f"shiftrightunsigned({idref}, 1) & 1152921504606846975, 2 * __k) "
        f"& 3 AS INT)), __p -> "
        f"transform(array(element_at({_S2_POS_TO_IJ}, "
        f"CAST(__s.o * 4 AS INT) + __p + 1)), __ij -> "
        f"named_struct('i', shiftleft(__s.i, 1) | shiftright(__ij, 1), "
        f"'j', shiftleft(__s.j, 1) | (__ij & 1), "
        f"'o', __s.o ^ element_at({_S2_POS_TO_ORI}, __p + 1)))[0])[0], "
        f"__s -> named_struct("
        f"'f', shiftrightunsigned({idref}, 61) & 7, 'i', __s.i, 'j', __s.j))"
    )


def _s2_face_uv_xyz(f: str, u: str, v: str) -> str:
    return (
        f"named_struct("
        f"'x', CASE {f} WHEN 0 THEN CAST(1 AS DOUBLE) WHEN 1 THEN -({u}) "
        f"WHEN 2 THEN -({u}) WHEN 3 THEN CAST(-1 AS DOUBLE) "
        f"WHEN 4 THEN {v} ELSE {v} END, "
        f"'y', CASE {f} WHEN 0 THEN {u} WHEN 1 THEN CAST(1 AS DOUBLE) "
        f"WHEN 2 THEN -({v}) WHEN 3 THEN -({v}) "
        f"WHEN 4 THEN CAST(-1 AS DOUBLE) ELSE {u} END, "
        f"'z', CASE {f} WHEN 0 THEN {v} WHEN 1 THEN {v} "
        f"WHEN 2 THEN CAST(1 AS DOUBLE) WHEN 3 THEN -({u}) "
        f"WHEN 4 THEN -({u}) ELSE CAST(-1 AS DOUBLE) END)"
    )


def _geo_to_s2_expr(args: list[str]) -> str:
    """geoToS2(lon, lat) → leaf cell id (signed-64 reinterpretation of
    CH's UInt64)."""
    if len(args) != 2:
        raise ChSqlError("geoToS2 takes exactly (lon, lat)")
    lon, lat = args
    return (
        f"transform(array({_s2_xyz_expr(lon, lat)}), __c -> "
        f"transform(array(named_struct('f', {_s2_face_expr('__c')})), __w -> "
        f"transform(array(named_struct("
        f"'i', {_s2_st_to_ij(_s2_uv_to_st(_s2_u_expr('__w.f', '__c')))}, "
        f"'j', {_s2_st_to_ij(_s2_uv_to_st(_s2_v_expr('__w.f', '__c')))})), "
        f"__g -> {_s2_from_face_ij('__w.f', '__g.i', '__g.j')})[0])[0])[0]"
    )


def _s2_to_geo_expr(args: list[str]) -> str:
    """s2ToGeo(id) → ('col1' lon, 'col2' lat) — the center of the leaf
    cell (exact for geoToS2 output; coarser ids decode their trailing
    Hilbert pattern's leaf, a documented leaf-form contract)."""
    if len(args) != 1:
        raise ChSqlError("s2ToGeo takes exactly (s2index)")
    return (
        f"transform(array(CAST({args[0]} AS BIGINT)), __n -> "
        f"transform(array({_s2_decode_fold('__n')}), __d -> "
        f"transform(array(named_struct('f', CAST(__d.f AS INT), "
        f"'u', {_s2_st_to_uv(f'((CAST(__d.i AS DOUBLE) + 0.5) / {_S2_MAX})')}, "
        f"'v', {_s2_st_to_uv(f'((CAST(__d.j AS DOUBLE) + 0.5) / {_S2_MAX})')})), "
        f"__q -> "
        f"transform(array({_s2_face_uv_xyz('__q.f', '__q.u', '__q.v')}), "
        f"__c -> named_struct("
        f"'col1', degrees(atan2(__c.y, __c.x)), "
        f"'col2', degrees(atan2(__c.z, "
        f"sqrt(__c.x * __c.x + __c.y * __c.y)))))[0])[0])[0])[0]"
    )


def _s2_cells_intersect_expr(args: list[str]) -> str:
    """s2CellsIntersect(a, b): cells intersect iff one's leaf range
    contains the other (lsb trick).  Signed compare is sound because a
    cell's range never crosses its own face's sign, and cross-sign
    comparisons correctly fall out false (different faces never
    contain each other)."""
    if len(args) != 2:
        raise ChSqlError("s2CellsIntersect takes exactly (a, b)")
    return (
        f"transform(array(named_struct('a', CAST({args[0]} AS BIGINT), "
        f"'b', CAST({args[1]} AS BIGINT))), __n -> "
        f"transform(array(named_struct('la', __n.a & -__n.a, "
        f"'lb', __n.b & -__n.b)), __l -> "
        f"(__n.b >= __n.a - (__l.la - 1) AND __n.b <= __n.a + (__l.la - 1)) "
        f"OR (__n.a >= __n.b - (__l.lb - 1) AND __n.a <= __n.b + (__l.lb - 1))"
        f")[0])[0]"
    )


def _s2_get_neighbors_expr(args: list[str]) -> str:
    """s2GetNeighbors(id) → [down, right, up, left] edge neighbors of
    the LEAF cell (the geoToS2 output form — documented subset).
    Cross-face wrap follows the published FromFaceIJWrap construction:
    linear (u,v) clamped to ±(1+eps) so the point lies strictly beyond
    the edge, re-projected through xyz onto the canonical face, then
    linear ST back to (i,j)."""
    if len(args) != 1:
        raise ChSqlError("s2GetNeighbors takes exactly (s2index)")
    lim = "1.0000000000000002"
    wrap_uv = (
        "named_struct("
        f"'u', greatest(CAST(-{lim} AS DOUBLE), least(CAST({lim} AS DOUBLE), "
        f"(2 * (__e.i - {_S2_HALF}) + 1) / CAST({_S2_MAX} AS DOUBLE))), "
        f"'v', greatest(CAST(-{lim} AS DOUBLE), least(CAST({lim} AS DOUBLE), "
        f"(2 * (__e.j - {_S2_HALF}) + 1) / CAST({_S2_MAX} AS DOUBLE))))"
    )
    wrapped = (
        f"IF(__e.i >= 0 AND __e.i < {_S2_MAX} "
        f"AND __e.j >= 0 AND __e.j < {_S2_MAX}, "
        f"named_struct('f', __d.f, 'i', __e.i, 'j', __e.j), "
        f"transform(array({wrap_uv}), __uv -> "
        f"transform(array({_s2_face_uv_xyz('CAST(__d.f AS INT)', '__uv.u', '__uv.v')}), "
        f"__c -> transform(array(named_struct("
        f"'f2', {_s2_face_expr('__c')})), __w -> "
        f"named_struct('f', CAST(__w.f2 AS BIGINT), "
        f"'i', {_s2_st_to_ij('0.5 * ((' + _s2_u_expr('__w.f2', '__c') + ') + 1)')}, "
        f"'j', {_s2_st_to_ij('0.5 * ((' + _s2_v_expr('__w.f2', '__c') + ') + 1)')}"
        f"))[0])[0])[0])"
    )
    return (
        f"transform(array(CAST({args[0]} AS BIGINT)), __n -> "
        f"transform(array({_s2_decode_fold('__n')}), __d -> "
        f"transform(array("
        f"named_struct('i', __d.i, 'j', __d.j - 1), "
        f"named_struct('i', __d.i + 1, 'j', __d.j), "
        f"named_struct('i', __d.i, 'j', __d.j + 1), "
        f"named_struct('i', __d.i - 1, 'j', __d.j)), __e -> "
        f"transform(array({wrapped}), __g -> "
        f"{_s2_from_face_ij('__g.f', '__g.i', '__g.j')})[0]))[0])[0]"
    )


def _s2_rect_expr(args: list[str], kind: str) -> str:
    """s2RectAdd / s2RectContains / s2RectUnion / s2RectIntersection —
    lat/lng rectangles represented by two S2 point ids (CH's calling
    convention).  Subset: plain [min, max] intervals in both axes — no
    longitude wrap-around (S2LatLngRect's full-circle interval algebra
    is out of subset, documented); the 'empty intersection' case still
    returns the computed (max-of-los, min-of-his) tuple.

    Decodes via the s2ToGeo fold, re-encodes via the geoToS2 fold —
    composite macros, sized for vocabulary parity rather than hot
    paths."""
    geo = _s2_to_geo_expr
    if kind == "Add":
        if len(args) != 3:
            raise ChSqlError("s2RectAdd takes (rectLo, rectHi, point)")
        lo, hi, p = (geo([a]) for a in args)
        return (
            f"transform(array(named_struct("
            f"'lo', {lo}, 'hi', {hi}, 'p', {p})), __r -> named_struct("
            f"'col1', {_geo_to_s2_expr(['least(__r.lo.col1, __r.p.col1)', 'least(__r.lo.col2, __r.p.col2)'])}, "
            f"'col2', {_geo_to_s2_expr(['greatest(__r.hi.col1, __r.p.col1)', 'greatest(__r.hi.col2, __r.p.col2)'])}"
            f"))[0]"
        )
    if kind == "Contains":
        if len(args) != 3:
            raise ChSqlError("s2RectContains takes (rectLo, rectHi, point)")
        lo, hi, p = (geo([a]) for a in args)
        return (
            f"transform(array(named_struct("
            f"'lo', {lo}, 'hi', {hi}, 'p', {p})), __r -> "
            f"__r.p.col1 >= __r.lo.col1 AND __r.p.col1 <= __r.hi.col1 "
            f"AND __r.p.col2 >= __r.lo.col2 AND __r.p.col2 <= __r.hi.col2"
            f")[0]"
        )
    # Union / Intersection: (lo1, hi1, lo2, hi2) -> (lo, hi)
    if len(args) != 4:
        raise ChSqlError(f"s2Rect{kind} takes (lo1, hi1, lo2, hi2)")
    lo1, hi1, lo2, hi2 = (geo([a]) for a in args)
    f_lo, f_hi = ("least", "greatest") if kind == "Union" else \
        ("greatest", "least")
    return (
        f"transform(array(named_struct('a', {lo1}, 'b', {hi1}, "
        f"'c', {lo2}, 'd', {hi2})), __r -> named_struct("
        f"'col1', {_geo_to_s2_expr([f'{f_lo}(__r.a.col1, __r.c.col1)', f'{f_lo}(__r.a.col2, __r.c.col2)'])}, "
        f"'col2', {_geo_to_s2_expr([f'{f_hi}(__r.b.col1, __r.d.col1)', f'{f_hi}(__r.b.col2, __r.d.col2)'])}"
        f"))[0]"
    )


def _s2_angle_expr(a: str, b: str) -> str:
    """Angular distance (degrees) between two decoded (lon, lat)
    structs — degrees(acos(clamped dot of the unit vectors))."""
    dot = (
        f"cos(radians({a}.col2)) * cos(radians({b}.col2)) "
        f"* cos(radians({a}.col1) - radians({b}.col1)) "
        f"+ sin(radians({a}.col2)) * sin(radians({b}.col2))"
    )
    return f"degrees(acos(greatest(CAST(-1 AS DOUBLE), least(CAST(1 AS DOUBLE), {dot}))))"


def _s2_cap_contains_expr(args: list[str]) -> str:
    """s2CapContains(center, degrees, point): the cap (all points within
    the angular radius of the center) contains the point."""
    if len(args) != 3:
        raise ChSqlError("s2CapContains takes (center, degrees, point)")
    c, deg, p = args
    return (
        f"transform(array(named_struct('c', {_s2_to_geo_expr([c])}, "
        f"'p', {_s2_to_geo_expr([p])})), __k -> "
        f"{_s2_angle_expr('__k.c', '__k.p')} <= CAST({deg} AS DOUBLE))[0]"
    )


def _s2_cap_union_expr(args: list[str]) -> str:
    """s2CapUnion(c1, r1, c2, r2) → (center id, radius degrees) of the
    smallest cap containing both: if one cap contains the other it wins;
    otherwise radius = (d + r1 + r2) / 2 with the center slerped along
    the c1→c2 arc at (radius − r1) from c1."""
    if len(args) != 4:
        raise ChSqlError("s2CapUnion takes (center1, radius1, center2, radius2)")
    c1, r1, c2, r2 = args
    # xyz of a decoded (lon, lat) struct
    def _xyz(g: str) -> str:
        return (
            f"named_struct("
            f"'x', cos(radians({g}.col2)) * cos(radians({g}.col1)), "
            f"'y', cos(radians({g}.col2)) * sin(radians({g}.col1)), "
            f"'z', sin(radians({g}.col2)))"
        )

    # slerp c1->c2 by fraction t of the full angle th (radians)
    slerp = (
        "named_struct("
        "'x', (sin((1 - __t.t) * __t.th) * __t.a.x + sin(__t.t * __t.th) * __t.b.x) / sin(__t.th), "
        "'y', (sin((1 - __t.t) * __t.th) * __t.a.y + sin(__t.t * __t.th) * __t.b.y) / sin(__t.th), "
        "'z', (sin((1 - __t.t) * __t.th) * __t.a.z + sin(__t.t * __t.th) * __t.b.z) / sin(__t.th))"
    )
    new_center_id = _geo_to_s2_expr([
        "degrees(atan2(__m.y, __m.x))",
        "degrees(atan2(__m.z, sqrt(__m.x * __m.x + __m.y * __m.y)))",
    ])
    return (
        f"transform(array(named_struct("
        f"'g1', {_s2_to_geo_expr([c1])}, 'g2', {_s2_to_geo_expr([c2])}, "
        f"'r1', CAST({r1} AS DOUBLE), 'r2', CAST({r2} AS DOUBLE))), __u -> "
        f"transform(array(named_struct("
        f"'d', {_s2_angle_expr('__u.g1', '__u.g2')})), __dd -> "
        # containment fast paths keep the winning cap verbatim
        f"CASE WHEN __dd.d + __u.r2 <= __u.r1 THEN "
        f"named_struct('col1', CAST({c1} AS BIGINT), 'col2', __u.r1) "
        f"WHEN __dd.d + __u.r1 <= __u.r2 THEN "
        f"named_struct('col1', CAST({c2} AS BIGINT), 'col2', __u.r2) "
        f"ELSE transform(array(named_struct("
        f"'a', {_xyz('__u.g1')}, 'b', {_xyz('__u.g2')}, "
        f"'th', radians(__dd.d), "
        f"'t', (((__dd.d + __u.r1 + __u.r2) / 2) - __u.r1) / __dd.d)), "
        f"__t -> transform(array({slerp}), __m -> named_struct("
        f"'col1', {new_center_id}, "
        f"'col2', (__dd.d + __u.r1 + __u.r2) / 2))[0])[0] END)[0])[0]"
    )


def _ts_to_grid_expr(params: list[str], args: list[str], kind: str) -> str:
    """timeSeriesResampleToGridWithStaleness / timeSeriesInstant{Delta,
    Rate}ToGrid / timeSeries{Rate,Delta}ToGrid(start, end, step, window)
    (timestamp, value) — ClickHouse 25.6's PromQL-style grid aggregates
    (the pinned image 25.7 ships them behind
    allow_experimental_ts_to_grid_aggregate_function).  start/end/step/
    window are numeric unix-second scalars; timestamps CAST to DOUBLE
    seconds.  Rate/Delta implement PromQL's extrapolatedRate exactly
    (prometheus functions.go, public): counter-reset-corrected increase,
    edge extrapolation capped at 1.1× the average sample interval and —
    for counters — at the zero crossing; rate divides by the window.

    One sorted-collect fold per group (the kolmogorovSmirnovTest
    bounded-group contract), then per grid point g = start + i·step over
    the samples with t ∈ (g − window, g]:

    - resample: the LAST sample's value (PromQL staleness lookback;
      no sample → NULL),
    - idelta: v_last − v_prev (PromQL ``idelta``; < 2 samples → NULL),
    - irate: (v_last − v_prev)/(t_last − t_prev), counter RESET
      (v_last < v_prev) → v_last/(t_last − t_prev) (PromQL ``irate``).

    Same-timestamp ties order by (t, value) — deterministic under the
    struct sort (documented; CH inherits insertion order there).  O(grid
    × n) per group by contract — the grid is bounded by (end−start)/step.
    """
    if len(params) != 4 or len(args) != 2:
        raise ChSqlError(
            f"{kind} takes (start, end, step, window)(timestamp, value) "
            f"with numeric unix-second parameters"
        )
    s0, e0, st, w = (f"CAST(({p}) AS DOUBLE)" for p in params)
    t, x = args
    pair = (
        f"CASE WHEN ({t}) IS NOT NULL AND ({x}) IS NOT NULL THEN "
        f"named_struct('t', CAST({t} AS DOUBLE), 'x', CAST({x} AS DOUBLE)) "
        f"END"
    )
    g = f"({s0} + CAST(__i AS DOUBLE) * {st})"
    win = f"filter(__p, __e -> __e.t <= {g} AND __e.t > {g} - {w})"
    if kind == "timeSeriesResampleToGridWithStaleness":
        cell = f"try_element_at({win}, -1).x"
    elif kind == "timeSeriesInstantDeltaToGrid":
        cell = (
            f"transform(array({win}), __w -> "
            f"IF(size(__w) < 2, CAST(NULL AS DOUBLE), "
            f"element_at(__w, -1).x - element_at(__w, -2).x))[0]"
        )
    elif kind == "timeSeriesInstantRateToGrid":
        cell = (
            f"transform(array({win}), __w -> "
            f"IF(size(__w) < 2 "
            f"OR element_at(__w, -1).t = element_at(__w, -2).t, "
            f"CAST(NULL AS DOUBLE), "
            f"IF(element_at(__w, -1).x >= element_at(__w, -2).x, "
            f"element_at(__w, -1).x - element_at(__w, -2).x, "
            f"element_at(__w, -1).x) "
            f"/ (element_at(__w, -1).t - element_at(__w, -2).t)))[0]"
        )
    else:  # timeSeriesRateToGrid / timeSeriesDeltaToGrid — PromQL's
        # extrapolatedRate (prometheus functions.go, public): increase
        # corrected for counter resets (rate only), then extrapolated to
        # the window edges capped at 1.1× the average sample interval
        # (and, for counters, at the zero-crossing); rate divides by the
        # window, delta does not
        counter = kind == "timeSeriesRateToGrid"
        rs = (
            "aggregate(sequence(2, greatest(size(__v0), 2)), "
            "CAST(0 AS DOUBLE), (__s2, __k) -> __s2 "
            "+ IF(__k > size(__v0), CAST(0 AS DOUBLE), "
            "IF(try_element_at(__v0, __k).x "
            "< try_element_at(__v0, __k - 1).x, "
            "try_element_at(__v0, __k - 1).x, CAST(0 AS DOUBLE))))"
        ) if counter else "CAST(0 AS DOUBLE)"
        stats = (
            f"named_struct("
            f"'n', CAST(size(__v0) AS DOUBLE), "
            f"'t1', try_element_at(__v0, 1).t, "
            f"'tn', try_element_at(__v0, -1).t, "
            f"'v1', try_element_at(__v0, 1).x, "
            f"'vn', try_element_at(__v0, -1).x, "
            f"'rs', {rs})"
        )
        inc = "(__st.vn - __st.v1 + __st.rs)"
        lvl2 = (
            f"named_struct('inc', {inc}, "
            f"'si', __st.tn - __st.t1, "
            f"'ad', (__st.tn - __st.t1) / (__st.n - 1), "
            f"'ds0', __st.t1 - ({g} - {w}), "
            f"'de', {g} - __st.tn)"
        )
        if counter:
            ds = (
                "least(__e.ds0, IF(__e.inc > 0 AND __st.v1 >= 0, "
                "__e.si * __st.v1 / __e.inc, __e.ds0))"
            )
        else:
            ds = "__e.ds0"
        ext = (
            f"(__e.si "
            f"+ IF({ds} < CAST(1.1 AS DOUBLE) * __e.ad, {ds}, __e.ad / 2) "
            f"+ IF(__e.de < CAST(1.1 AS DOUBLE) * __e.ad, __e.de, "
            f"__e.ad / 2))"
        )
        result = (
            f"__e.inc * ({ext} / __e.si) / {w}" if counter
            else f"__e.inc * ({ext} / __e.si)"
        )
        cell = (
            f"transform(array({win}), __v0 -> "
            f"transform(array({stats}), __st -> "
            f"IF(__st.n < 2 OR __st.tn <= __st.t1, CAST(NULL AS DOUBLE), "
            f"transform(array({lvl2}), __e -> {result})[0]))[0])[0]"
        )
    return (
        f"transform(array(array_sort(collect_list({pair}))), __p -> "
        f"transform(sequence(0, CAST(floor(({e0} - {s0}) / {st}) AS INT)), "
        f"__i -> {cell}))[0]"
    )


def _interval_length_sum_expr(args: list[str]) -> str:
    """intervalLengthSum(start, end): total length of the UNION of the
    group's [start, end] intervals (overlaps merged) — sort by start,
    one sweep fold carrying (coverage_end, total); ClickHouse 21.x."""
    if len(args) != 2:
        raise ChSqlError("intervalLengthSum takes exactly (start, end)")
    s, e = args[0], args[1]
    pair = (
        f"CASE WHEN ({s}) IS NOT NULL AND ({e}) IS NOT NULL THEN "
        f"named_struct('s', CAST({s} AS DOUBLE), 'e', CAST({e} AS DOUBLE)) END"
    )
    return (
        f"transform(array(array_sort(collect_list({pair}))), __p -> "
        f"aggregate(__p, named_struct('c', CAST(-1e300 AS DOUBLE), "
        f"'tot', CAST(0 AS DOUBLE)), "
        f"(__st, __i) -> named_struct("
        f"'c', greatest(__st.c, __i.e), "
        f"'tot', __st.tot + IF(__i.s > __st.c, __i.e - __i.s, "
        f"greatest(__i.e - __st.c, CAST(0 AS DOUBLE)))), "
        f"__st -> __st.tot))[0]"
    )


def _entropy_expr(args: list[str]) -> str:
    """entropy(x): Shannon entropy (base 2) of the value distribution —
    counting fold over distinct values (O(n·d), bounded-group contract,
    the theilsU discipline)."""
    if len(args) != 1:
        raise ChSqlError("entropy takes exactly 1 argument")
    x = args[0]
    pair = f"CASE WHEN ({x}) IS NOT NULL THEN CAST({x} AS STRING) END"
    return (
        f"transform(array(collect_list({pair})), __p -> "
        f"round(aggregate(array_distinct(__p), CAST(0 AS DOUBLE), "
        f"(__s, __v) -> __s - CAST(size(filter(__p, __o -> __o = __v)) "
        f"AS DOUBLE) / size(__p) "
        f"* log2(CAST(size(filter(__p, __o -> __o = __v)) AS DOUBLE) "
        f"/ size(__p))), 6))[0]"
    )


def _contingency_expr(args: list[str], kind: str) -> str:
    """The categorical-association family — ``cramersV``,
    ``cramersVBiasCorrected`` (Bergsma's 2013 correction — the formula CH
    documents), ``theilsU`` (uncertainty coefficient U(a|b)), and
    ``contingency`` (coefficient √(χ²/(χ²+n))) — ClickHouse 22.x.

    One collected pair array (values stringified for generality), then
    χ²/entropies by counting over distinct values: χ² = n·(Σ_observed
    c_ij²/(r_i·c_j) − 1) needs only OBSERVED cells, so the fold is
    O(n·distinct) per GROUP (bounded-group contract, the rankCorr
    discipline).  Natural-log entropies; outputs round(6)."""
    if len(args) != 2:
        raise ChSqlError(f"{kind} takes exactly (column1, column2)")
    a, b = args[0], args[1]
    pair = (
        f"CASE WHEN ({a}) IS NOT NULL AND ({b}) IS NOT NULL THEN "
        f"named_struct('a', CAST({a} AS STRING), 'b', CAST({b} AS STRING)) END"
    )
    # observed-cell sum Σ c_ij² / (r_i · c_j) over DISTINCT pairs
    chi_core = (
        "aggregate(array_distinct(__p), CAST(0 AS DOUBLE), (__s, __e) -> __s "
        "+ CAST(pow(size(filter(__p, __o -> __o.a = __e.a AND __o.b = __e.b)), 2) "
        "AS DOUBLE) "
        "/ size(filter(__p, __o -> __o.a = __e.a)) "
        "/ size(filter(__p, __o -> __o.b = __e.b)))"
    )
    stats = (
        f"named_struct('n', CAST(size(__p) AS DOUBLE), "
        f"'r', CAST(size(array_distinct(transform(__p, __e -> __e.a))) "
        f"AS DOUBLE), "
        f"'c', CAST(size(array_distinct(transform(__p, __e -> __e.b))) "
        f"AS DOUBLE), "
        f"'chi', CAST(size(__p) AS DOUBLE) * ({chi_core} - 1))"
    )
    if kind == "contingency":
        out = "sqrt(__t.chi / (__t.chi + __t.n))"
    elif kind == "cramersV":
        out = (
            "IF(least(__t.r, __t.c) <= 1, CAST(NULL AS DOUBLE), "
            "sqrt(__t.chi / (__t.n * (least(__t.r, __t.c) - 1))))"
        )
    elif kind == "cramersVBiasCorrected":
        out = (
            "transform(array(named_struct("
            "'p2', greatest(CAST(0 AS DOUBLE), __t.chi / __t.n "
            "- (__t.r - 1) * (__t.c - 1) / (__t.n - 1)), "
            "'rc', __t.r - pow(__t.r - 1, 2) / (__t.n - 1), "
            "'cc', __t.c - pow(__t.c - 1, 2) / (__t.n - 1))), __b -> "
            "IF(least(__b.rc, __b.cc) <= 1, CAST(NULL AS DOUBLE), "
            "sqrt(__b.p2 / (least(__b.rc, __b.cc) - 1))))[0]"
        )
    elif kind == "theilsU":
        # U(a|b) = (H(a) − H(a|b)) / H(a); H from the same counting folds
        ha = (
            "aggregate(array_distinct(transform(__p, __e -> __e.a)), "
            "CAST(0 AS DOUBLE), (__s, __v) -> __s "
            "- CAST(size(filter(__p, __o -> __o.a = __v)) AS DOUBLE) / __t.n "
            "* ln(CAST(size(filter(__p, __o -> __o.a = __v)) AS DOUBLE) "
            "/ __t.n))"
        )
        # H(a,b) − H(b) = H(a|b), both over observed cells
        hab = (
            "aggregate(array_distinct(__p), CAST(0 AS DOUBLE), "
            "(__s, __e) -> __s - CAST(size(filter(__p, __o -> "
            "__o.a = __e.a AND __o.b = __e.b)) AS DOUBLE) / __t.n "
            "* ln(CAST(size(filter(__p, __o -> __o.a = __e.a "
            "AND __o.b = __e.b)) AS DOUBLE) / __t.n))"
        )
        hb = (
            "aggregate(array_distinct(transform(__p, __e -> __e.b)), "
            "CAST(0 AS DOUBLE), (__s, __v) -> __s "
            "- CAST(size(filter(__p, __o -> __o.b = __v)) AS DOUBLE) / __t.n "
            "* ln(CAST(size(filter(__p, __o -> __o.b = __v)) AS DOUBLE) "
            "/ __t.n))"
        )
        out = (
            f"IF(({ha}) = 0, CAST(NULL AS DOUBLE), "
            f"(({ha}) - (({hab}) - ({hb}))) / ({ha}))"
        )
    else:  # pragma: no cover — internal
        raise ChSqlError(f"unknown contingency kind {kind!r}")
    return (
        f"transform(array(collect_list({pair})), __p -> "
        f"transform(array({stats}), __t -> round({out}, 6))[0])[0]"
    )


#: two-sided alpha=0.05 / power=0.8 normal quantiles — the standard A/B
#: defaults (the DataFrame tier pins the same constants, stats_q2.py)
_MSS_Z_ALPHA = 1.9599639845400545
_MSS_Z_POWER = 0.8416212335729143


def _mss_gate(args: list[str], fn: str, n: int) -> None:
    if len(args) != n:
        raise ChSqlError(f"{fn} takes exactly {n} arguments")
    power, alpha = args[-2].strip(), args[-1].strip()
    if power != "0.8" or alpha != "0.05":
        raise ChSqlError(
            f"{fn} subset: power/alpha must be the literals 0.8 / 0.05 — "
            "arbitrary levels need the inverse normal CDF (out of pure-SQL "
            "scope); the pinned z-quantiles cover the standard A/B defaults"
        )


def _min_sample_size_conversion(args: list[str]) -> str:
    """minSampleSizeConversion(baseline, mde, power, alpha): per-arm sample
    size for a proportion uplift + the detectable range, as CH's 3-tuple
    (index access via tupleElement(t, 1..3) → .col1/.col2/.col3).  round(6)
    before ceil so double noise can't flip the integer (the stats_q2
    convention)."""
    _mss_gate(args, "minSampleSizeConversion", 4)
    p, mde = args[0], args[1]
    z2 = (_MSS_Z_ALPHA + _MSS_Z_POWER) ** 2
    n = (
        f"ceil(round({z2!r} * (({p}) * (1 - ({p})) + (({p}) + ({mde})) "
        f"* (1 - ({p}) - ({mde}))) / (({mde}) * ({mde})), 6))"
    )
    return (
        f"named_struct('col1', {n}, 'col2', ({p}) - ({mde}), "
        f"'col3', ({p}) + ({mde}))"
    )


def _min_sample_size_continuous(args: list[str]) -> str:
    """minSampleSizeContinous(baseline, sigma², mde, power, alpha): per-arm
    sample size for a RELATIVE mean lift of mde·baseline (CH's own arg
    order and its upstream 'Continous' spelling, aliased to the correct
    one)."""
    _mss_gate(args, "minSampleSizeContinous", 5)
    mu, s2, mde = args[0], args[1], args[2]
    z2 = (_MSS_Z_ALPHA + _MSS_Z_POWER) ** 2
    n = (
        f"ceil(round(2.0 * {z2!r} * ({s2}) "
        f"/ (({mde}) * ({mu}) * ({mde}) * ({mu})), 6))"
    )
    return (
        f"named_struct('col1', {n}, 'col2', ({mu}) * (1 - ({mde})), "
        f"'col3', ({mu}) * (1 + ({mde})))"
    )


def _json_type(args: list[str]) -> str:
    """JSONType(json): the root value's JSON type name, matching CH's
    simdjson element names — floats are 'Double' (not 'Float64'), integers
    beyond int64 parse as 'UInt64' when non-negative and fall back to
    'Double' when negative (simdjson's own overflow rule); deviation: CH
    inspects parsed values, this inspects syntax — identical on valid
    JSON."""
    j = f"trim({args[0]})"
    return (
        f"CASE WHEN {j} IS NULL OR {j} = '' THEN 'Null' "
        f"WHEN startswith({j}, '{{') THEN 'Object' "
        f"WHEN startswith({j}, '[') THEN 'Array' "
        f"WHEN startswith({j}, '\"') THEN 'String' "
        f"WHEN {j} IN ('true', 'false') THEN 'Bool' "
        f"WHEN {j} = 'null' THEN 'Null' "
        f"WHEN {j} RLIKE '^-?[0-9]+$' THEN "
        f"CASE WHEN try_cast({j} AS BIGINT) IS NOT NULL THEN 'Int64' "
        f"WHEN NOT startswith({j}, '-') THEN 'UInt64' "
        f"ELSE 'Double' END "
        f"ELSE 'Double' END"
    )


def _norm_lambda(lam: str) -> str:
    """``(x) -> e`` → ``x -> e``: Spark's parser accepts parens only on
    MULTI-arg lambdas; CH accepts both forms on one arg."""
    return re.sub(r"^\(\s*(\w+)\s*\)\s*->", r"\1 ->", lam.strip())


def _array_fill(args: list[str], rev: bool) -> str:
    """arrayFill/arrayReverseFill(cond, arr): scan (reversed for the
    Reverse form) replacing each element where cond is false with the
    nearest previous element where it held (the first element stays —
    CH's contract).  One linear fold; the init is ``slice(arr, 1, 0)``
    (an empty array OF THE INPUT'S TYPE, so the rule needs no schema)."""
    lam, arr = _norm_lambda(args[0]), args[1]
    src = f"reverse({arr})" if rev else f"({arr})"
    cond = f"transform({src}, {lam})"
    folded = (
        f"aggregate(zip_with({src}, {cond}, "
        f"(__x, __c) -> named_struct('x', __x, 'c', __c)), "
        f"slice({arr}, 1, 0), "
        f"(__acc, __e) -> array_append(__acc, "
        f"if(__e.c OR size(__acc) = 0, __e.x, __acc[size(__acc) - 1])))"
    )
    return f"reverse({folded})" if rev else folded


def _array_split(args: list[str], rev: bool) -> str:
    """arraySplit/arrayReverseSplit(cond, arr) → array of arrays: cut
    before each element (after, for the Reverse form) where cond holds;
    no empty leading/trailing group (CH's contract).  One linear fold;
    per-element group rebuild is O(groups) — fine for the per-row array
    sizes this tier serves (CH evaluates the same shape per block)."""
    lam, arr = _norm_lambda(args[0]), args[1]
    src = f"reverse({arr})" if rev else f"({arr})"
    cond = f"transform({src}, {lam})"
    folded = (
        f"aggregate(zip_with({src}, {cond}, "
        f"(__x, __c) -> named_struct('x', __x, 'c', __c)), "
        f"array(slice({arr}, 1, 0)), "
        f"(__acc, __e) -> if(__e.c AND size(element_at(__acc, -1)) > 0, "
        f"array_append(__acc, array(__e.x)), "
        f"array_append(slice(__acc, 1, size(__acc) - 1), "
        f"array_append(element_at(__acc, -1), __e.x))))"
    )
    if rev:
        # un-reverse both group order and the elements within each group
        return f"reverse(transform({folded}, __g -> reverse(__g)))"
    return folded


def _map_apply(args: list[str]) -> str:
    """mapApply((k, v) -> (ke, ve), m): rebuild every entry through the
    tuple-returning lambda (CH 22.3+).  Spark's transform_keys /
    transform_values each rewrite one side only, so the pair form lowers to
    an entries round-trip: map_entries → transform(struct) →
    map_from_entries.  Supported lambda shape: ``(k, v) -> (kexpr, vexpr)``
    with simple parameter names (the CH-docs form)."""
    m = re.match(r"^\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*\((.*)\)\s*$",
                 args[0].strip(), re.DOTALL)
    if not m:
        raise ChSqlError(
            f"mapApply needs '(k, v) -> (kexpr, vexpr)', got {args[0]!r}"
        )
    k, v, body = m.group(1), m.group(2), m.group(3)
    if k == v:
        raise ChSqlError(f"mapApply lambda parameters must differ, got {k!r}")
    parts = _split_args(body)
    if len(parts) != 2:
        raise ChSqlError(
            f"mapApply lambda must return a 2-tuple, got {body!r}"
        )
    def _subst(p: str) -> str:
        # parameter names inside STRING literals stay literal (concat(k, 'k')
        # must not rewrite the quoted k) — mask, substitute, restore
        lits: list[str] = []

        def _mask(mm: "re.Match[str]") -> str:
            lits.append(mm.group(0))
            return f"\x00{len(lits) - 1}\x00"

        masked = re.sub(r"'(?:[^'\\]|\\.)*'", _mask, p)
        # single-pass alternation: substituting sequentially would let a
        # param named 'key'/'value' corrupt the already-injected __e.key
        masked = re.sub(
            rf"\b(?:{re.escape(k)}|{re.escape(v)})\b",
            lambda mm: "__e.key" if mm.group(0) == k else "__e.value",
            masked,
        )
        return re.sub(
            r"\x00(\d+)\x00", lambda mm: lits[int(mm.group(1))], masked
        ).strip()

    ke, ve = (_subst(p) for p in parts)
    # first-occurrence-wins fold before map_from_entries: a key lambda that
    # COLLIDES (e.g. (k, v) -> (k % 2, v)) would otherwise throw under
    # Spark's default mapKeyDedupPolicy=EXCEPTION, where CH's Map type
    # physically tolerates duplicates (the parse-kv discipline, r11)
    # the typed empty zero comes from slice(arr, 1, 0) so the fold works
    # for ANY key/value types the lambda produces
    ents = (
        f"transform(map_entries({args[1]}), "
        f"__e -> struct({ke} AS key, {ve} AS value))"
    )
    return (
        f"map_from_entries(aggregate({ents}, slice({ents}, 1, 0), "
        f"(__acc, __n) -> IF(exists(__acc, __a -> __a.key <=> __n.key), "
        f"__acc, concat(__acc, array(__n)))))"
    )


def _map_pred(args: list[str], quantifier: str, name: str) -> str:
    """mapExists/mapAll((k, v) -> pred, m) (CH 22.3+): the boolean
    quantifiers over map entries.  Spark's exists/forall are array-side
    only, so the lowering walks map_entries with the same masked
    parameter substitution as :func:`_map_apply` (string literals named
    like a parameter stay literal)."""
    if len(args) != 2:
        raise ChSqlError(f"{name} takes ((k, v) -> pred, map)")
    m = re.match(
        r"^\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*(.*)$", args[0].strip(),
        re.DOTALL,
    )
    if not m:
        raise ChSqlError(f"{name} needs '(k, v) -> pred', got {args[0]!r}")
    k, v, body = m.group(1), m.group(2), m.group(3)
    if k == v:
        raise ChSqlError(f"{name} lambda parameters must differ, got {k!r}")
    lits: list[str] = []

    def _mask(mm: "re.Match[str]") -> str:
        lits.append(mm.group(0))
        return f"\x00{len(lits) - 1}\x00"

    masked = re.sub(r"'(?:[^'\\]|\\.)*'", _mask, body)
    masked = re.sub(
        rf"\b(?:{re.escape(k)}|{re.escape(v)})\b",
        lambda mm: "__e.key" if mm.group(0) == k else "__e.value",
        masked,
    )
    body = re.sub(
        r"\x00(\d+)\x00", lambda mm: lits[int(mm.group(1))], masked
    ).strip()
    return f"{quantifier}(map_entries({args[1]}), __e -> ({body}))"


def _get_subcolumn(args: list[str]) -> str:
    """getSubcolumn(col, 'name'): the typed-subcolumn accessor.  The
    Map/Array/Nullable pseudo-subcolumns dispatch on the literal name
    (keys/values/size0/null — `Dockerfile` ships 25.7 where these are the
    documented set); any other name is a Tuple field access."""
    if len(args) != 2 or not args[1].strip().startswith("'"):
        raise ChSqlError("getSubcolumn takes (col, 'subcolumn-literal')")
    sub = args[1].strip()[1:-1]
    col = args[0]
    if sub == "keys":
        return f"map_keys({col})"
    if sub == "values":
        return f"map_values({col})"
    if sub == "size0":
        return f"CAST(size({col}) AS BIGINT)"
    if sub == "null":
        return f"CAST(({col}) IS NULL AS TINYINT)"
    return f"({col}).{sub}"


def _overlay_expr(args: list[str]) -> str:
    """overlay[UTF8](s, replace, offset[, len]): Spark's overlay with CH's
    negative-offset rule (counted from the end, -1 = last char); the
    replacement length defaults to length(replace) on both engines."""
    if not 3 <= len(args) <= 4:
        raise ChSqlError("overlay takes (s, replace, offset[, length])")
    return (
        f"overlay({args[0]}, {args[1]}, "
        f"IF(({args[2]}) < 0, greatest(1, length({args[0]}) + ({args[2]}) "
        f"+ 1), {args[2]})"
        + (f", {args[3]}" if len(args) > 3 else "")
        + ")"
    )


def _extract_key_value_pairs(args: list[str]) -> str:
    """extractKeyValuePairs(s[, kv_delim[, pair_delims]]) → Map(String,
    String).  Lowered to Spark's str_to_map, whose delimiters are regexes:
    the CH defaults (':' / ',; ') become a character class.  The 4-arg
    quoting-character form is rejected explicitly (CH's noise-tolerant
    state machine has no Spark analog; the unquoted subset is the
    documented contract)."""
    if not 1 <= len(args) <= 3:
        raise ChSqlError(
            "extractKeyValuePairs supports (s[, kv_delim[, pair_delims]])"
        )

    def _lit_chars(lit: str, what: str) -> str:
        if not (lit.startswith("'") and lit.endswith("'")):
            raise ChSqlError(
                f"extractKeyValuePairs {what} must be a string literal"
            )
        return lit[1:-1]

    def _char_class(chars: str) -> str:
        return "[" + re.sub(r"([\\\^\]\[\-])", r"\\\1", chars) + "]"

    kv = (
        _char_class(_lit_chars(args[1].strip(), "kv_delim"))
        if len(args) > 1
        else ":"
    )
    pchars = (
        _lit_chars(args[2].strip(), "pair_delims") if len(args) > 2 else ",; "
    )
    pd = _char_class(pchars)
    first = pchars[0].replace("\\", "\\\\").replace("'", "\\'")
    # CH's state machine skips delimiter noise; str_to_map would turn a
    # ', ' run into an empty pair — collapse runs and trim the ends first
    cleaned = (
        f"regexp_replace(regexp_replace({args[0]}, "
        f"'^{pd}+|{pd}+$', ''), '{pd}+', '{first}')"
    )
    return f"str_to_map({cleaned}, '{pd}', '{kv}')"


def _arg_minmax_comb(fn: str, which: str, args: list[str]) -> str:
    """fArgMin/fArgMax(x, y): apply f to x over the rows whose y equals the
    group's min/max of y (CH 24.x combinator semantics — ALL extreme rows
    participate, unlike argMin/argMax which picks one)."""
    x, y = args[0], args[1]
    lst = f"collect_list(struct({y} AS k, {x} AS v))"
    # expression-level LET (transform over a 1-element array) binds the
    # collected list and then the group extreme ONCE — putting the
    # array_min/max inside the filter lambda would re-evaluate it per
    # element: O(n²) per group, the round-7 anti-pattern class (measured
    # minutes-vs-seconds at sf0.01 group sizes)
    flt = "filter(__l, s -> s.k = __bk)"
    if fn == "sum":
        body = f"aggregate({flt}, CAST(0 AS DOUBLE), (a, s) -> a + s.v)"
    elif fn == "count":
        body = f"size({flt})"
    elif fn == "avg":
        body = (
            f"(aggregate({flt}, CAST(0 AS DOUBLE), (a, s) -> a + s.v) "
            f"/ size({flt}))"
        )
    elif fn == "min":
        body = f"array_min(transform({flt}, s -> s.v))"
    elif fn == "max":
        body = f"array_max(transform({flt}, s -> s.v))"
    else:  # any
        body = f"element_at(transform({flt}, s -> s.v), 1)"
    return (
        f"element_at(transform(array({lst}), __l -> "
        f"element_at(transform(array(array_{which}(transform(__l, t -> t.k))), "
        f"__bk -> {body}), 1)), 1)"
    )


def _extract_groups_rule(args: list[str]) -> str:
    """extractGroups(s, 'regex'): array of the capture groups of the FIRST
    match.  The group count must be knowable at transpile time, so the
    pattern must be a string literal (CH requires a constant pattern too);
    capture groups = '(' not followed by '?'."""
    pat = args[1]
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ChSqlError("extractGroups needs a constant string pattern")
    inner = pat[1:-1]
    n, i, in_class = 0, 0, False
    while i < len(inner):
        if inner[i] == "\\":
            i += 2
            continue
        if in_class:
            if inner[i] == "]":
                in_class = False
        elif inner[i] == "[":
            # '(' inside a bracket expression is a literal, not a group
            in_class = True
        elif inner[i] == "(" and not inner[i + 1 : i + 2] == "?":
            n += 1
        i += 1
    if n == 0:
        raise ChSqlError(f"extractGroups: pattern has no capture groups: {pat}")
    parts = ", ".join(
        f"regexp_extract({args[0]}, {pat}, {g})" for g in range(1, n + 1)
    )
    return f"array({parts})"



# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>--[^\n]*|\#[^\n]*|/\*.*?\*/)
    | (?P<string>'(?:[^'\\]|\\.|'')*')
    | (?P<bq>`[^`]*`)
    | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|\.\d+)
    | (?P<word>[A-Za-z_$][A-Za-z0-9_$]*)
    | (?P<op><=|>=|!=|==|<>|\|\||->|::)
    | (?P<punct>.)
    """,
    re.X | re.S,
)


def tokenize(sql: str) -> list[str]:
    """Token texts with whitespace/comments dropped (strings and backtick
    identifiers stay single opaque tokens)."""
    out = []
    for m in _TOKEN_RE.finditer(sql):
        if m.lastgroup in ("ws", "comment"):
            continue
        out.append(m.group())
    return out


def render(tokens: list[str]) -> str:
    """Re-render a token list as SQL text (minimal spacing rules: none around
    '.', none before ',' / ')' / '(', none after '(')."""
    parts: list[str] = []
    prev = ""
    for t in tokens:
        if parts and not (
            prev in ("(", ".") or t in (".", ",", ")", "(")
        ):
            parts.append(" ")
        # keep "(" glued to a preceding function name but spaced after keywords
        parts.append(t)
        prev = t
    return "".join(parts)


_KW = lambda t: t.upper()  # noqa: E731


def _is_word(t: str) -> bool:
    return bool(re.match(r"[A-Za-z_$]", t)) and not t.startswith(("'", "`"))


# ---------------------------------------------------------------------------
# Clause-level rewrites (top-level scope; subqueries inherit expression-level
# rewrites but clause rewrites are documented top-level-only subset)
# ---------------------------------------------------------------------------

_CLAUSE_STOP = {
    "WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "SETTINGS",
    "UNION", "INTERSECT", "EXCEPT", "WINDOW", "QUALIFY", "FORMAT",
}


def _depth0_positions(tokens: list[str], pred) -> list[int]:
    depth = 0
    out = []
    for i, t in enumerate(tokens):
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        elif depth == 0 and pred(t, i):
            out.append(i)
    return out


def _strip_tail(tokens: list[str]) -> list[str]:
    """Drop trailing FORMAT <name> and SETTINGS k = v [, ...] clauses.
    ``system.settings`` must survive: a SETTINGS token preceded by '.' is
    the introspection table name, not the clause keyword."""
    for kw in ("FORMAT", "SETTINGS"):
        pos = _depth0_positions(
            tokens,
            lambda t, i: _KW(t) == kw and (i == 0 or tokens[i - 1] != "."),
        )
        if pos:
            tokens = tokens[: pos[0]]
    return tokens


def _drop_modifiers(tokens: list[str]) -> list[str]:
    """GLOBAL JOIN/IN → JOIN/IN (all Spark joins are cluster-wide); FINAL →
    dropped (reads are merged views by construction)."""
    return [t for t in tokens if _KW(t) not in ("GLOBAL", "FINAL")]


def _merge_prewhere(tokens: list[str]) -> list[str]:
    """PREWHERE cond [WHERE cond2] → WHERE (cond) AND (cond2).  Spark's scan
    pushdown (PushedFilters) is the PREWHERE two-stage read, applied
    automatically — plan-gated in tests/test_sources_and_plans.py."""
    pre = _depth0_positions(tokens, lambda t, i: _KW(t) == "PREWHERE")
    if not pre:
        return tokens
    i = pre[0]
    stops = _depth0_positions(
        tokens, lambda t, j: j > i and _KW(t) in (_CLAUSE_STOP - {"PREWHERE"})
    )
    end = stops[0] if stops else len(tokens)
    cond = tokens[i + 1 : end]
    rest = tokens[:i] + tokens[end:]
    where = _depth0_positions(rest, lambda t, j: _KW(t) == "WHERE")
    if where:
        w = where[0]
        wstops = _depth0_positions(
            rest, lambda t, j: j > w and _KW(t) in (_CLAUSE_STOP - {"WHERE"})
        )
        wend = wstops[0] if wstops else len(rest)
        wcond = rest[w + 1 : wend]
        return (
            rest[:w]
            + ["WHERE", "("] + cond + [")", "AND", "("] + wcond + [")"]
            + rest[wend:]
        )
    return tokens[:i] + ["WHERE"] + tokens[i + 1 :]


def _split_top(tokens: list[str], sep: str) -> list[list[str]]:
    """Split a token slice on depth-0 separators (',' or a keyword)."""
    depth = 0
    out: list[list[str]] = [[]]
    for t in tokens:
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        if depth == 0 and (_KW(t) == sep or t == sep):
            out.append([])
        else:
            out[-1].append(t)
    return out


def _select_item_name(item: list[str], ctx: str = "LIMIT BY") -> str:
    """Output column name of a select item: explicit AS alias, or the final
    segment of a bare (possibly dotted) identifier."""
    for j in range(len(item) - 2, -1, -1):
        if _KW(item[j]) == "AS":
            return item[j + 1]
    if all(_is_word(t) or t == "." for t in item):
        return item[-1]
    raise ChSqlError(
        f"{ctx} rewrite needs an alias on select item: {render(item)!r}"
    )


def _outer_select(select_items: list[list[str]], helper_col: str, ctx: str) -> list[str]:
    """Outer SELECT list for the window-subquery rewrites: named columns when
    every select item has a derivable name, else ``* EXCEPT (helper)`` (covers
    ``SELECT *`` / ``t.*`` select lists)."""
    if any("*" in it for it in select_items):
        return ["SELECT", "*", "EXCEPT", "(", helper_col, ")"]
    out_cols = [_select_item_name(it, ctx) for it in select_items]
    return ["SELECT"] + sum(([c, ","] for c in out_cols), [])[:-1]


def _rewrite_distinct_on(tokens: list[str]) -> list[str]:
    """``SELECT DISTINCT ON (cols) ...`` ≡ ``LIMIT 1 BY cols`` (the CH alias;
    first row per group under the statement's ORDER BY) — lowered by
    injecting the LIMIT BY clause and letting its row_number rewrite run."""
    sel = _depth0_positions(tokens, lambda t, i: _KW(t) == "SELECT")
    if not sel:
        return tokens
    i = sel[0]
    if (
        i + 3 >= len(tokens)
        or _KW(tokens[i + 1]) != "DISTINCT"
        or _KW(tokens[i + 2]) != "ON"
        or tokens[i + 3] != "("
    ):
        return tokens
    close = _find_close(tokens, i + 3)
    cols = [t for t in tokens[i + 4 : close]]
    rest = tokens[: i + 1] + tokens[close + 1 :]
    limit_by = ["LIMIT", "1", "BY"] + cols
    limits = _depth0_positions(rest, lambda t, j: _KW(t) == "LIMIT")
    if limits:
        p = limits[-1]
        return rest[:p] + limit_by + rest[p:]
    return rest + limit_by


def _rewrite_limit_by(tokens: list[str]) -> list[str]:
    """``SELECT ... ORDER BY o LIMIT n BY e [LIMIT m]`` → row_number window
    subquery (the same plan operators/groupwise.limit_by builds)."""
    limits = _depth0_positions(tokens, lambda t, i: _KW(t) == "LIMIT")
    lb = None
    for i in limits:
        if i + 2 < len(tokens) and _KW(tokens[i + 2]) == "BY":
            lb = i
            break
    if lb is None:
        return tokens
    n = tokens[lb + 1]
    after = tokens[lb + 3 :]
    tail_limits = _depth0_positions(after, lambda t, i: _KW(t) == "LIMIT")
    if tail_limits:
        by_exprs = after[: tail_limits[0]]
        outer_limit = after[tail_limits[0] :]
    else:
        by_exprs, outer_limit = after, []

    sel = _depth0_positions(tokens, lambda t, i: _KW(t) == "SELECT")
    frm = _depth0_positions(tokens, lambda t, i: _KW(t) == "FROM")
    order = _depth0_positions(tokens, lambda t, i: _KW(t) == "ORDER")
    if not sel or not frm:
        raise ChSqlError("LIMIT BY rewrite: SELECT/FROM not found at top level")
    if not order or order[0] > lb:
        raise ChSqlError("LIMIT BY subset requires an explicit ORDER BY")
    o = order[0]
    order_by = tokens[o + 2 : lb]  # skip ORDER BY
    select_items = _split_top(tokens[sel[0] + 1 : frm[0]], ",")

    # splice the window column into the select list (before FROM); the inner
    # query keeps WHERE/GROUP/HAVING but drops ORDER BY (re-applied outside)
    inner = (
        tokens[sel[0] : frm[0]]
        + [",", "row_number", "(", ")", "OVER", "(", "PARTITION", "BY"]
        + by_exprs
        + ["ORDER", "BY"]
        + order_by
        + [")", "AS", "__rn"]
        + tokens[frm[0] : o]
    )
    outer = (
        _outer_select(select_items, "__rn", "LIMIT BY")
        + ["FROM", "("] + inner + [")", "__lb", "WHERE", "__rn", "<=", n]
        + ["ORDER", "BY"] + order_by
        + outer_limit
    )
    return tokens[: sel[0]] + outer


def _rewrite_limit_ties(tokens: list[str]) -> list[str]:
    """``SELECT ... ORDER BY o LIMIT n WITH TIES`` → rank() window subquery
    (``rank() OVER (ORDER BY o) <= n`` keeps every row tied at the boundary,
    which is exactly the WITH TIES contract, SURVEY §2.6)."""
    limits = _depth0_positions(tokens, lambda t, i: _KW(t) == "LIMIT")
    lt = None
    for i in limits:
        if (
            i + 3 < len(tokens)
            and _KW(tokens[i + 2]) == "WITH"
            and _KW(tokens[i + 3]) == "TIES"
        ):
            lt = i
            break
        if (
            i + 5 < len(tokens)
            and tokens[i + 2] == ","
            and _KW(tokens[i + 4]) == "WITH"
            and _KW(tokens[i + 5]) == "TIES"
        ):
            raise ChSqlError(
                "LIMIT <offset>, <n> WITH TIES is not supported: the offset "
                "form has no well-defined tie boundary after the skip; "
                "rewrite as a rank() window subquery with an explicit "
                "rank range instead"
            )
    if lt is None:
        return tokens
    n = tokens[lt + 1]
    sel = _depth0_positions(tokens, lambda t, i: _KW(t) == "SELECT")
    frm = _depth0_positions(tokens, lambda t, i: _KW(t) == "FROM")
    order = _depth0_positions(tokens, lambda t, i: _KW(t) == "ORDER")
    if not sel or not frm:
        raise ChSqlError("LIMIT WITH TIES rewrite: SELECT/FROM not found at top level")
    if not order or order[0] > lt:
        raise ChSqlError("LIMIT n WITH TIES requires an explicit ORDER BY")
    o = order[0]
    order_by = tokens[o + 2 : lt]
    select_items = _split_top(tokens[sel[0] + 1 : frm[0]], ",")
    inner = (
        tokens[sel[0] : frm[0]]
        + [",", "rank", "(", ")", "OVER", "(", "ORDER", "BY"]
        + order_by
        + [")", "AS", "__rk"]
        + tokens[frm[0] : o]
    )
    outer = (
        _outer_select(select_items, "__rk", "LIMIT WITH TIES")
        + ["FROM", "("] + inner + [")", "__lt", "WHERE", "__rk", "<=", n]
        + ["ORDER", "BY"] + order_by
    )
    return tokens[: sel[0]] + outer + tokens[lt + 4 :]


#: keywords that terminate a WITH FILL FROM/TO/STEP operand
_FILL_STOP = {
    "FROM", "TO", "STEP", "STALENESS", "INTERPOLATE", "LIMIT", "SETTINGS",
    "FORMAT", "UNION", "INTERSECT", "EXCEPT",
}


def _extract_with_fill(tokens: list[str]):
    """``ORDER BY col [ASC] WITH FILL [FROM a] [TO b] [STEP s]
    [INTERPOLATE (col, ...)]`` → (tokens with the fill clause removed, spec).

    The fill itself cannot be a pure text rewrite: generated rows need the
    *result schema* (type defaults per column, CH semantics), so
    ``ChSparkEngine.sql`` applies ``operators/fill.with_fill`` to the core
    query's DataFrame using this spec.  Subset: one fill key, a simple
    ascending column; INTERPOLATE columns are carry-forward (no AS expr)."""
    pos = _depth0_positions(
        tokens,
        lambda t, i: _KW(t) == "FILL" and i >= 1 and _KW(tokens[i - 1]) == "WITH",
    )
    if not pos:
        return tokens, None
    if len(pos) > 1:
        raise ChSqlError("WITH FILL on multiple ORDER BY keys is outside the subset")
    i = pos[0]  # index of FILL; i-1 is WITH
    j = i - 2
    if j >= 0 and _KW(tokens[j]) == "DESC":
        raise ChSqlError("WITH FILL subset is ascending only (drop DESC)")
    if j >= 0 and _KW(tokens[j]) == "ASC":
        j -= 1
    if j < 0 or not _is_word(tokens[j]) or (j >= 1 and tokens[j - 1] == "."):
        raise ChSqlError("WITH FILL subset requires a simple column-name ORDER BY key")
    spec: dict = {"col": tokens[j], "from": None, "to": None, "step": None,
                  "staleness": None, "interpolate": []}
    k = i + 1
    keys = {"FROM": "from", "TO": "to", "STEP": "step", "STALENESS": "staleness"}
    while k < len(tokens) and _KW(tokens[k]) in keys:
        key = keys[_KW(tokens[k])]
        k += 1
        start, depth = k, 0
        while k < len(tokens):
            t = tokens[k]
            if t in ("(", "["):
                depth += 1
            elif t in (")", "]"):
                depth -= 1
            elif depth == 0 and (_KW(t) in _FILL_STOP or t == ","):
                break
            k += 1
        if k == start:
            raise ChSqlError(f"WITH FILL {key.upper()} needs an operand")
        spec[key] = tokens[start:k]
    if k < len(tokens) and _KW(tokens[k]) == "INTERPOLATE":
        if k + 1 >= len(tokens) or tokens[k + 1] != "(":
            raise ChSqlError("INTERPOLATE expects a parenthesized column list")
        close = _find_close(tokens, k + 1)
        for it in _split_top(tokens[k + 2 : close], ","):
            if len(it) != 1 or not _is_word(it[0]):
                raise ChSqlError(
                    "INTERPOLATE subset supports bare carry-forward columns "
                    f"(no AS expr): {render(it)!r}"
                )
            spec["interpolate"].append(it[0])
        k = close + 1
    # keep 'col [ASC]' so the residual ORDER BY stays parseable
    return tokens[: i - 1] + tokens[k:], spec


def _rewrite_asof(tokens: list[str]) -> list[str]:
    """``A a ASOF [LEFT] JOIN B b ON eqs AND ineq`` → the union-tag-window
    form of ``operators/asof.py`` as pure SQL text (ONE shuffle on the eq
    keys, no nested-loop join): both sides union with a side tag and packed
    ``struct(alias.*)`` payloads, ``last(payload) IGNORE NULLS`` carries the
    as-of match along the key-partitioned time order, and the original
    aliases are re-exposed as struct columns (so ``a.x`` / ``b.y``
    references in the outer query resolve as field accesses unchanged).

    Falls back to the naive-but-general ``[LEFT] JOIN LATERAL (SELECT *
    ... ORDER BY ts LIMIT 1)`` rewrite when the shape is out of subset
    (non-equi extra conjuncts, unaliased relations, bare-star selects need
    the flat layout)."""
    pos = _depth0_positions(tokens, lambda t, i: _KW(t) == "ASOF")
    if not pos:
        return tokens
    i = pos[0]
    j = i + 1
    joinkind = []
    while _KW(tokens[j]) in ("LEFT", "INNER", "OUTER"):
        joinkind.append(_KW(tokens[j]))
        j += 1
    if _KW(tokens[j]) != "JOIN":
        raise ChSqlError("ASOF must be followed by [LEFT|INNER] JOIN")
    j += 1
    # relation: single identifier or parenthesized subquery, optional AS alias
    rel_start = j
    if tokens[j] == "(":
        depth = 0
        while True:
            if tokens[j] == "(":
                depth += 1
            elif tokens[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        j += 1
    else:
        while j < len(tokens) and (tokens[j] == "." or _is_word(tokens[j])):
            if _KW(tokens[j]) in ("AS", "ON"):
                break
            j += 1
    rel = tokens[rel_start:j]
    alias = None
    if j < len(tokens) and _KW(tokens[j]) == "AS":
        alias = tokens[j + 1]
        j += 2
    elif j < len(tokens) and _is_word(tokens[j]) and _KW(tokens[j]) != "ON":
        alias = tokens[j]
        j += 1
    if alias is None:
        # bare `rel alias` chains land fully inside rel; the trailing word
        # (not part of a dotted path) is the alias
        if len(rel) > 1 and rel[-2] != ".":
            alias = rel[-1]
            rel = rel[:-1]
        else:
            alias = rel[-1]
    if _KW(tokens[j]) != "ON":
        raise ChSqlError("ASOF JOIN subset requires an ON clause")
    j += 1
    stops = _depth0_positions(
        tokens,
        lambda t, k: k >= j
        and (_KW(t) in _CLAUSE_STOP or _KW(t) in ("JOIN", "LEFT", "RIGHT", "INNER", "CROSS", "ASOF")),
    )
    cend = stops[0] if stops else len(tokens)
    cond = tokens[j:cend]

    conjuncts = _split_top(cond, "AND")
    ineq = [c for c in conjuncts if any(t in ("<", ">", "<=", ">=") for t in c)]
    if len(ineq) != 1:
        raise ChSqlError("ASOF JOIN needs exactly one inequality in ON")
    c = ineq[0]
    op_idx = next(k for k, t in enumerate(c) if t in ("<", ">", "<=", ">="))
    lhs, op, rhs = c[:op_idx], c[op_idx], c[op_idx + 1 :]

    def mentions_alias(side: list[str]) -> bool:
        return any(
            side[k] == alias and k + 1 < len(side) and side[k + 1] == "."
            for k in range(len(side))
        ) or side == [alias]

    if mentions_alias(rhs) and not mentions_alias(lhs):
        right_expr, left_op = rhs, op
    elif mentions_alias(lhs) and not mentions_alias(rhs):
        right_expr = lhs
        left_op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}[op]
    else:
        raise ChSqlError(
            "ASOF inequality must reference the right alias on exactly one side"
        )
    # left_op is the op with the LEFT expr on the left: left <op> right.
    # >=/> → latest right at-or-before left → ORDER BY right DESC; else ASC.
    direction = "DESC" if left_op in (">=", ">") else "ASC"

    scale = _asof_union_window(
        tokens, i, cend, joinkind, rel, alias, conjuncts, ineq[0],
        right_expr, left_op,
    )
    if scale is not None:
        return scale

    lateral = (
        (["LEFT"] if "LEFT" in joinkind else [])
        + ["JOIN", "LATERAL", "(", "SELECT", "*", "FROM"]
        + rel + ["AS", alias, "WHERE"]
        + cond
        + ["ORDER", "BY"] + right_expr + [direction, "LIMIT", "1", ")"]
        + [alias, "ON", "true"]
    )
    return tokens[:i] + lateral + tokens[cend:]


def _asof_union_window(
    tokens: list[str],
    i: int,
    cend: int,
    joinkind: list[str],
    rel: list[str],
    ralias: str,
    conjuncts: list[list[str]],
    ineq: list[str],
    right_ts: list[str],
    left_op: str,
) -> list[str] | None:
    """The 1-shuffle ASOF lowering (operators/asof.py:25 as SQL text), or
    None when the query shape is outside the safe subset."""

    def mentions(side: list[str], a: str) -> bool:
        return any(
            side[k] == a and k + 1 < len(side) and side[k + 1] == "."
            for k in range(len(side))
        ) or side == [a]

    # the LEFT relation: everything between the main query's FROM and ASOF
    frms = _depth0_positions(
        tokens, lambda t, k: _KW(t) == "FROM" and k < i
    )
    if not frms:
        return None
    frm = frms[-1]
    lfrag = tokens[frm + 1 : i]
    if not lfrag:
        return None
    if len(lfrag) == 1 and _is_word(lfrag[0]):
        lalias = lfrag[0]  # bare table: qualify by table name
    elif (
        len(lfrag) >= 2
        and _is_word(lfrag[-1])
        and lfrag[-2] != "."
        and _KW(lfrag[-1]) not in ("FINAL",)
    ):
        lalias = lfrag[-1]
    else:
        return None

    # equality conjuncts: each must be <one side> = <other side> with the
    # right alias on exactly one side
    eq_pairs: list[tuple[list[str], list[str]]] = []  # (left_expr, right_expr)
    left_ts: list[str] | None = None
    for c in conjuncts:
        if c is ineq:
            lhs_i, rhs_i = ineq[: ineq.index(
                next(t for t in ineq if t in ("<", ">", "<=", ">="))
            )], ineq[ineq.index(
                next(t for t in ineq if t in ("<", ">", "<=", ">="))
            ) + 1 :]
            left_ts = lhs_i if mentions(rhs_i, ralias) else rhs_i
            continue
        eqs = [k for k, t in enumerate(c) if t == "="]
        if len(eqs) != 1:
            return None
        lhs, rhs = c[: eqs[0]], c[eqs[0] + 1 :]
        if mentions(rhs, ralias) and not mentions(lhs, ralias):
            eq_pairs.append((lhs, rhs))
        elif mentions(lhs, ralias) and not mentions(rhs, ralias):
            eq_pairs.append((rhs, lhs))
        else:
            return None
    if not eq_pairs or left_ts is None:
        return None

    backward = left_op in (">=", ">")
    strict = left_op in (">", "<")
    ts_dir = "ASC" if backward else "DESC"
    side_dir = "DESC" if strict else "ASC"
    inner = "LEFT" not in joinkind  # CH ASOF JOIN defaults to INNER

    def struct_of(a: str) -> list[str]:
        return ["struct", "(", a, ".", "*", ")"]

    left_sel = ["SELECT"] + struct_of(lalias) + ["AS", "__l"]
    right_sel = ["SELECT", "NULL", "AS", "__l"]
    keys = []
    for n, (le, re_) in enumerate(eq_pairs):
        k = f"__k{n}"
        keys.append(k)
        left_sel += [","] + le + ["AS", k]
        right_sel += [","] + re_ + ["AS", k]
    left_sel += [","] + left_ts + ["AS", "__ts", ",", "1", "AS", "__side",
                 ",", "NULL", "AS", "__p", "FROM"] + lfrag
    right_sel += [","] + right_ts + ["AS", "__ts", ",", "0", "AS", "__side",
                  ","] + struct_of(ralias) + ["AS", "__p", "FROM"] + rel + ["AS", ralias]

    part = sum(([k, ","] for k in keys), [])[:-1]
    win = (
        ["last", "(", "__p", ")", "IGNORE", "NULLS", "OVER", "(",
         "PARTITION", "BY"] + part
        + ["ORDER", "BY", "__ts", ts_dir, ",", "__side", side_dir,
           ",", "__p", "ASC",
           "ROWS", "BETWEEN", "UNBOUNDED", "PRECEDING", "AND",
           "CURRENT", "ROW", ")"]
    )
    mid = (
        ["SELECT", "__l", ",", "__side", ","] + win + ["AS", "__m",
         "FROM", "("] + left_sel + ["UNION", "ALL"] + right_sel
        + [")", "__asof_u"]
    )
    sub = (
        ["(", "SELECT", "__l", "AS", lalias, ",", "__m", "AS", ralias,
         "FROM", "("] + mid + [")", "__asof_w",
         "WHERE", "__side", "=", "1"]
        + (["AND", "__m", "IS", "NOT", "NULL"] if inner else [])
        + [")", "__asof_t"]
    )
    return tokens[: frm + 1] + sub + tokens[cend:]


# ---------------------------------------------------------------------------
# Expression-level rewrites: function map
# ---------------------------------------------------------------------------

_TYPE_MAP = {
    "float64": "DOUBLE", "float32": "FLOAT",
    "int8": "TINYINT", "int16": "SMALLINT", "int32": "INT", "int64": "BIGINT",
    "uint8": "SMALLINT", "uint16": "INT", "uint32": "BIGINT", "uint64": "BIGINT",
    "string": "STRING", "fixedstring": "STRING",
    "date": "DATE", "datetime": "TIMESTAMP", "datetime64": "TIMESTAMP",
    "bool": "BOOLEAN",
}


def _map_type(name: str) -> str:
    return _TYPE_MAP.get(name.lower(), name)


# ---------------------------------------------------------------------------
# Query parameters: SELECT ... WHERE k = {name:Type}
# (clickhouse-client --param_name=v / HTTP param_name=v)
# ---------------------------------------------------------------------------

_PARAM_RE = re.compile(r"\{(\w+)\s*:\s*([A-Za-z0-9]+(?:\([^)]*\))?)\}")


def _param_literal(value: object, ctype: str) -> str:
    base = ctype.split("(")[0].strip().lower()
    if base == "identifier":
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", str(value)):
            raise ChSqlError(f"Identifier parameter {value!r} is not a valid name")
        return str(value)
    if base == "array":
        inner = ctype[ctype.index("(") + 1 : ctype.rindex(")")]
        if not isinstance(value, (list, tuple)):
            raise ChSqlError(f"Array parameter needs a list, got {type(value).__name__}")
        return "array(" + ", ".join(_param_literal(v, inner) for v in value) + ")"
    if base in ("string", "fixedstring"):
        return "'" + str(value).replace("'", "''") + "'"
    if base == "date":
        return f"DATE '{value}'"
    if base in ("datetime", "datetime64"):
        return f"TIMESTAMP '{value}'"
    if base == "bool":
        return "true" if value in (True, 1, "1", "true", "True") else "false"
    # numeric types: validate the value is a number so a string can't
    # smuggle SQL through the substitution
    if not isinstance(value, (int, float)):
        try:
            value = float(value) if "." in str(value) else int(value)
        except ValueError:
            raise ChSqlError(
                f"parameter of type {ctype} needs a numeric value, got {value!r}"
            ) from None
    spark_t = _map_type(base)
    if spark_t != base:  # known CH numeric/typed name → explicit cast
        return f"CAST({value} AS {spark_t})"
    return str(value)


def _split_args(text: str) -> list[str]:
    """Split ``k1 = v1, k2 = v2`` on top-level commas (brackets may nest)."""
    out, depth, buf = [], 0, []
    for ch in text:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf and "".join(buf).strip():
        out.append("".join(buf))
    return out


def bind_params_text(body: str, args: dict[str, str], ctx: str) -> str:
    """Substitute ``{name:Type}`` with already-SQL argument TEXT (the
    parameterized-view call site ``v(p = 5)`` passes literal fragments, not
    Python values).  Typed params get an explicit cast; Identifier params
    are validated; Array params pass through (use the CH dialect for ``[...]``
    literals)."""

    def repl(m: re.Match) -> str:
        name, ctype = m.group(1), m.group(2)
        if name not in args:
            raise ChSqlError(
                f"{ctx}: parameter {name!r} is not bound (have: {sorted(args)})"
            )
        txt = args[name].strip()
        base = ctype.split("(")[0].strip().lower()
        if base == "identifier":
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", txt):
                raise ChSqlError(f"{ctx}: Identifier argument {txt!r} is not a name")
            return txt
        if base == "array":
            return txt
        spark_t = _map_type(base)
        return f"CAST({txt} AS {spark_t if spark_t != base else ctype})"

    return _PARAM_RE.sub(repl, body)


def expand_param_views(query: str, views: dict[str, str]) -> str:
    """Rewrite ``FROM v(p = 5, q = 'x')`` table-function calls of
    parameterized views (CH 23.1) into inline subqueries with the stored
    view text bound at the call site."""
    for name, body in views.items():
        pat = re.compile(rf"(?is)\b{name}\s*\(([^()]*)\)")

        def repl(m: re.Match, _body: str = body, _name: str = name) -> str:
            args: dict[str, str] = {}
            for part in _split_args(m.group(1)):
                k, eq, v = part.partition("=")
                if not eq:
                    raise ChSqlError(
                        f"parameterized view {_name}: arguments must be name = value"
                    )
                args[k.strip()] = v
            return "(" + bind_params_text(_body, args, _name) + f") AS {_name}"

        query = pat.sub(repl, query)
    return query


def bind_params(query: str, params: dict) -> str:
    """Substitute ``{name:Type}`` query parameters with typed literals —
    the clickhouse-client ``--param_name`` surface.  Unbound parameters
    raise (the CH contract: UNKNOWN_QUERY_PARAMETER)."""

    def repl(m: re.Match) -> str:
        name, ctype = m.group(1), m.group(2)
        if name not in params:
            raise ChSqlError(
                f"query parameter {name!r} is not bound (have: {sorted(params)})"
            )
        return _param_literal(params[name], ctype)

    return _PARAM_RE.sub(repl, query)


def _filter_agg(fn: str):
    """CH -If combinator → ANSI aggregate FILTER clause (JVM-side, no UDF)."""
    def rule(args: list[str]) -> str:
        *exprs, cond = args
        return f"{fn}({', '.join(exprs)}) FILTER (WHERE {cond})"
    return rule


def _rename(fn: str):
    return lambda args: f"{fn}({', '.join(args)})"


def _cast_to(sql_type: str):
    return lambda args: f"CAST({args[0]} AS {sql_type})"


def _trunc_to(unit: str, as_date: bool = False):
    def rule(args):
        e = f"date_trunc('{unit}', {args[0]})"
        return f"CAST({e} AS DATE)" if as_date else e
    return rule


def _ts_add(unit: str, sign: str = ""):
    return lambda args: f"timestampadd({unit}, {sign}({args[1]}), {args[0]})"


FUNC_RULES: dict[str, object] = {
    # conditionals
    "multiIf": lambda args: (
        "CASE "
        + " ".join(
            f"WHEN {args[k]} THEN {args[k + 1]}" for k in range(0, len(args) - 1, 2)
        )
        + (f" ELSE {args[-1]}" if len(args) % 2 == 1 else "")
        + " END"
    ),
    "ifNull": _rename("coalesce"),
    "nullIf": _rename("nullif"),
    # window functions (CH *InFrame variants are the deterministic in-frame
    # forms; Spark's lag/lead over an ORDER BY window match that contract)
    "lagInFrame": _rename("lag"),
    "leadInFrame": _rename("lead"),
    "assumeNotNull": lambda args: args[0],
    "toNullable": lambda args: args[0],
    # type conversion (CH camelCase; CAST with CH type names handled separately)
    "toInt8": _cast_to("TINYINT"), "toInt16": _cast_to("SMALLINT"),
    "toInt32": _cast_to("INT"), "toInt64": _cast_to("BIGINT"),
    "toUInt8": _cast_to("SMALLINT"), "toUInt16": _cast_to("INT"),
    "toUInt32": _cast_to("BIGINT"), "toUInt64": _cast_to("BIGINT"),
    "toFloat32": _cast_to("FLOAT"), "toFloat64": _cast_to("DOUBLE"),
    "toString": _cast_to("STRING"),
    "toDate": _rename("to_date"),
    "toDateTime": _rename("to_timestamp"),
    "toDecimal32": lambda args: f"CAST({args[0]} AS DECIMAL(9,{args[1]}))",
    "toDecimal64": lambda args: f"CAST({args[0]} AS DECIMAL(38,{args[1]}))",
    "toDecimal128": lambda args: f"CAST({args[0]} AS DECIMAL(38,{args[1]}))",
    "accurateCastOrNull": lambda args: f"try_cast({args[0]} AS {_map_type(args[1].strip(chr(39)))})",
    # date/time
    "toYear": _rename("year"), "toQuarter": _rename("quarter"),
    "toMonth": _rename("month"), "toDayOfMonth": _rename("day"),
    "toHour": _rename("hour"), "toMinute": _rename("minute"),
    "toSecond": _rename("second"),
    "toDayOfYear": _rename("dayofyear"),
    # CH: Monday=1..Sunday=7; Spark dayofweek: Sunday=1..Saturday=7
    "toDayOfWeek": lambda args: f"(((dayofweek({args[0]}) + 5) % 7) + 1)",
    "toStartOfYear": _trunc_to("YEAR", as_date=True),
    "toStartOfQuarter": _trunc_to("QUARTER", as_date=True),
    "toStartOfMonth": _trunc_to("MONTH", as_date=True),
    "toMonday": _trunc_to("WEEK", as_date=True),
    "toStartOfDay": _trunc_to("DAY"),
    "toStartOfHour": _trunc_to("HOUR"),
    "toStartOfMinute": _trunc_to("MINUTE"),
    "toStartOfFiveMinutes": lambda args: _to_start_of_interval(
        [args[0], "INTERVAL 5 MINUTE"]
    ),
    "toStartOfTenMinutes": lambda args: _to_start_of_interval(
        [args[0], "INTERVAL 10 MINUTE"]
    ),
    "toStartOfFifteenMinutes": lambda args: _to_start_of_interval(
        [args[0], "INTERVAL 15 MINUTE"]
    ),
    "toYYYYMM": lambda args: f"CAST(date_format({args[0]}, 'yyyyMM') AS INT)",
    "toYYYYMMDD": lambda args: f"CAST(date_format({args[0]}, 'yyyyMMdd') AS INT)",
    "toUnixTimestamp": _rename("unix_timestamp"),
    "fromUnixTimestamp": _rename("timestamp_seconds"),
    "now": _rename("current_timestamp"),
    "today": _rename("current_date"),
    "yesterday": lambda args: "date_sub(current_date(), 1)",
    "addYears": _ts_add("YEAR"), "addMonths": _ts_add("MONTH"),
    "addWeeks": _ts_add("WEEK"), "addDays": _ts_add("DAY"),
    "addHours": _ts_add("HOUR"), "addMinutes": _ts_add("MINUTE"),
    "addSeconds": _ts_add("SECOND"),
    "subtractYears": _ts_add("YEAR", "-"), "subtractMonths": _ts_add("MONTH", "-"),
    "subtractDays": _ts_add("DAY", "-"), "subtractHours": _ts_add("HOUR", "-"),
    "subtractMinutes": _ts_add("MINUTE", "-"), "subtractSeconds": _ts_add("SECOND", "-"),
    "dateDiff": lambda args: f"timestampdiff({args[0].strip(chr(39)).upper()}, {args[1]}, {args[2]})",
    "toIntervalDay": lambda args: f"({args[0]} * INTERVAL 1 DAY)",
    "toIntervalHour": lambda args: f"({args[0]} * INTERVAL 1 HOUR)",
    "formatDateTime": lambda args: _format_datetime(args),
    "toStartOfInterval": lambda args: _to_start_of_interval(args),
    "parseDateTimeBestEffort": lambda args: (
        f"coalesce(try_to_timestamp({args[0]}), "
        f"try_to_timestamp({args[0]}, 'yyyy/MM/dd HH:mm:ss'), "
        f"try_to_timestamp({args[0]}, 'dd/MM/yyyy HH:mm:ss'), "
        f"try_to_timestamp({args[0]}, 'yyyyMMddHHmmss'), "
        f"try_to_timestamp({args[0]}, 'yyyy-MM-dd'))"
    ),
    "toStartOfWeek": lambda args: _to_start_of_week(args),
    # strings
    "lengthUTF8": _rename("length"),
    "lowerUTF8": _rename("lower"), "upperUTF8": _rename("upper"),
    "substringUTF8": _rename("substring"), "mid": _rename("substring"),
    "position": lambda args: f"locate({args[1]}, {args[0]}" + (f", {args[2]}" if len(args) > 2 else "") + ")",
    # (positionCaseInsensitive lives in the batch-15 section with the
    # optional start-position argument)
    "startsWith": _rename("startswith"), "endsWith": _rename("endswith"),
    "match": _rename("regexp_like"),
    "replaceAll": _rename("replace"),
    "replaceRegexpAll": _rename("regexp_replace"),
    "concatWithSeparator": _rename("concat_ws"),
    "splitByChar": lambda args: f"split({args[1]}, {_regex_quote(args[0])}, -1)",
    "splitByString": lambda args: f"split({args[1]}, {_regex_quote(args[0])}, -1)",
    "splitByRegexp": lambda args: f"split({args[1]}, {args[0]}, -1)",
    # arrayPartialSort(limit, arr): CH leaves elements past `limit`
    # unspecified — this engine pins the DETERMINISTIC superset (fully
    # sorted), so the first `limit` elements match CH exactly
    "arrayPartialSort": lambda args: f"array_sort({args[1]})",
    "arrayPartialReverseSort": lambda args: (
        f"reverse(array_sort({args[1]}))"
    ),
    "trimBoth": _rename("trim"), "trimLeft": _rename("ltrim"), "trimRight": _rename("rtrim"),
    "leftPad": _rename("lpad"), "rightPad": _rename("rpad"),
    "empty": lambda args: f"(length({args[0]}) = 0)",
    "notEmpty": lambda args: f"(length({args[0]}) > 0)",
    "countSubstrings": lambda args: (
        f"cast((length({args[0]}) - length(replace({args[0]}, {args[1]}, '')))"
        f" / length({args[1]}) as bigint)"
    ),
    "monthName": lambda args: f"date_format({args[0]}, 'MMMM')",
    "toLastDayOfMonth": lambda args: f"last_day({args[0]})",
    "caseWithExpression": None,
    # aggregates
    "count": lambda args: f"count({', '.join(args)})" if args else "count(*)",
    "any": _rename("any_value"),
    "anyLast": _rename("any_value"),
    "argMin": _rename("min_by"), "argMax": _rename("max_by"),
    "uniq": _rename("approx_count_distinct"),
    "uniqTheta": _rename("approx_count_distinct"),
    # -OrNull combinator: NULL on the empty set — Spark's agg default for
    # sum/min/max/avg/any already IS null on empty; count needs nullif
    "sumOrNull": _rename("sum"),
    "minOrNull": _rename("min"),
    "maxOrNull": _rename("max"),
    "avgOrNull": _rename("avg"),
    "anyOrNull": _rename("any_value"),
    "countOrNull": lambda args: (
        f"nullif(count({', '.join(args) if args else '*'}), 0)"
    ),
    # -ArgMin / -ArgMax combinators (CH 24.x): f(x) restricted to the rows
    # whose y equals the group extreme.  TEXT-tier lowering collects
    # (k, v) structs once (Catalyst dedups the identical agg expression)
    # and folds the filtered subset — the same exact-collect policy as the
    # topK text tier; the scale path is a window rank filter.
    "sumArgMin": lambda a: _arg_minmax_comb("sum", "min", a),
    "sumArgMax": lambda a: _arg_minmax_comb("sum", "max", a),
    "countArgMin": lambda a: _arg_minmax_comb("count", "min", a),
    "countArgMax": lambda a: _arg_minmax_comb("count", "max", a),
    "avgArgMin": lambda a: _arg_minmax_comb("avg", "min", a),
    "avgArgMax": lambda a: _arg_minmax_comb("avg", "max", a),
    "minArgMax": lambda a: _arg_minmax_comb("min", "max", a),
    "maxArgMin": lambda a: _arg_minmax_comb("max", "min", a),
    "anyArgMin": lambda a: _arg_minmax_comb("any", "min", a),
    "anyArgMax": lambda a: _arg_minmax_comb("any", "max", a),
    # -Distinct combinator
    "sumDistinct": lambda args: f"sum(DISTINCT {args[0]})",
    "avgDistinct": lambda args: f"avg(DISTINCT {args[0]})",
    "uniqCombined": _rename("approx_count_distinct"),
    "uniqCombined64": _rename("approx_count_distinct"),
    "uniqHLL12": _rename("approx_count_distinct"),
    # sumKahan: compensated summation — the order-independent error-free
    # Spark equivalent is an exact DECIMAL sum cast back to double
    "sumKahan": lambda args: (
        f"CAST(SUM(CAST({args[0]} AS DECIMAL(38,6))) AS DOUBLE)"
    ),
    # sumCount: CH returns the (sum, count) tuple in one state; field names
    # follow the CH tuple convention col1/col2 so tupleElement(t, N) composes
    "sumCount": lambda args: (
        f"named_struct('col1', sum({args[0]}), 'col2', count({args[0]}))"
    ),
    "uniqExact": lambda args: f"count(DISTINCT {', '.join(args)})",
    "countDistinct": lambda args: f"count(DISTINCT {', '.join(args)})",
    "median": lambda args: f"percentile({args[0]}, 0.5)",
    "groupArray": _rename("collect_list"),
    "groupUniqArray": _rename("collect_set"),
    "sumIf": _filter_agg("sum"), "avgIf": _filter_agg("avg"),
    "minIf": _filter_agg("min"), "maxIf": _filter_agg("max"),
    "countIf": lambda args: f"count_if({args[0]})",
    "varPop": _rename("var_pop"), "varSamp": _rename("var_samp"),
    "stddevPop": _rename("stddev_pop"), "stddevSamp": _rename("stddev_samp"),
    "covarPop": _rename("covar_pop"), "covarSamp": _rename("covar_samp"),
    "corr": _rename("corr"),
    "skewPop": _rename("skewness"), "kurtPop": _rename("kurtosis"),
    # C-style %, zero divisor → 0 (Spark's % matches CH's sign rule)
    "moduloOrZero": lambda args: (
        f"IF(({args[1]}) = 0, 0, ({args[0]}) % ({args[1]}))"
    ),
    # batch 24 (round 9): aggregate-expression composites
    # avgWeighted(x, w): DECIMAL-routed sums so partial-merge order can't
    # perturb the double result (the fsum convention).  DECIMAL(38,12)
    # (round-9 advice): 6-dp term rounding was a measurable value deviation
    # from CH's Float64 arithmetic; 12 fractional digits still leave 26
    # integer digits of headroom before NULL-on-overflow.
    "avgWeighted": lambda args: (
        f"(CAST(sum(CAST(({args[0]}) * ({args[1]}) AS DECIMAL(38,12))) "
        f"AS DOUBLE) / CAST(sum(CAST({args[1]} AS DECIMAL(38,12))) AS DOUBLE))"
    ),
    # CH sample moments relate to Spark's population forms by
    # ((n-1)/n)^k — skewSamp = μ3/σ_samp³, kurtSamp = μ4/σ_samp⁴ (CH's
    # kurtosis family is Pearson, not excess: +3 off Spark's kurtosis)
    "skewSamp": lambda args: (
        f"(skewness({args[0]}) * pow((count({args[0]}) - 1) "
        f"/ CAST(count({args[0]}) AS DOUBLE), 1.5))"
    ),
    "kurtSamp": lambda args: (
        f"((kurtosis({args[0]}) + 3) * pow((count({args[0]}) - 1) "
        f"/ CAST(count({args[0]}) AS DOUBLE), 2))"
    ),
    # boundingRatio(x, y): slope between the leftmost and rightmost points
    # BY X — (y@max(x) − y@min(x)) / (max(x) − min(x)), NOT the bounding-box
    # aspect ratio (round-9 advice fix; matches stats_q.bounding_ratio)
    "boundingRatio": lambda args: (
        f"((max_by({args[1]}, {args[0]}) - min_by({args[1]}, {args[0]})) "
        f"/ CAST(max({args[0]}) - min({args[0]}) AS DOUBLE))"
    ),
    # studentTTest/welchTTest(sample, index): the t statistic between the
    # index-0 and index-1 samples (CH returns (t, p); the scalar subset
    # matches the DataFrame tier's documented deviation — p-values need
    # the t CDF, out of pure-SQL scope)
    "studentTTest": lambda args: _ttest_expr(args, welch=False),
    "welchTTest": lambda args: _ttest_expr(args, welch=True),
    "kolmogorovSmirnovTest": _ks_test_expr,
    "mannWhitneyUTest": _mann_whitney_expr,
    "rankCorr": _rank_corr_expr,
    "analysisOfVariance": _anova_expr,
    "anova": _anova_expr,
    "entropy": _entropy_expr,
    "proportionsZTest": _proportions_z_test_expr,
    "studentTTestOneSample": _ttest_one_sample_expr,
    # value if the group has exactly ONE distinct non-NULL value, else NULL
    "singleValueOrNull": lambda a: (
        f"IF(count(DISTINCT {a[0]}) = 1, max({a[0]}), NULL)"
    ),
    # physical-block-order functions: a shuffled engine has no such order —
    # reject with the deterministic alternative (the deltaSum discipline)
    "runningDifference": lambda a: (_ for _ in ()).throw(
        ChSqlError(
            "runningDifference depends on physical row order — use the "
            "window form: x - lagInFrame(x, 1, NULL) OVER (ORDER BY <key>)"
        )
    ),
    "neighbor": lambda a: (_ for _ in ()).throw(
        ChSqlError(
            "neighbor depends on physical row order — use leadInFrame/"
            "lagInFrame OVER (ORDER BY <key>)"
        )
    ),
    "corrMatrix": lambda a: _matrix_agg_expr(a, "corr"),
    "covarSampMatrix": lambda a: _matrix_agg_expr(a, "covar_samp"),
    "covarPopMatrix": lambda a: _matrix_agg_expr(a, "covar_pop"),
    "deltaSumTimestamp": _delta_sum_ts_expr,
    # bare deltaSum depends on PHYSICAL block order (CH docs call the
    # merge-order behavior out themselves); a shuffled engine has no such
    # order — reject with the deterministic alternative
    "deltaSum": lambda a: (_ for _ in ()).throw(
        ChSqlError(
            "deltaSum depends on physical row order, which a shuffled "
            "engine cannot honor deterministically — use "
            "deltaSumTimestamp(value, ts) (the order-keyed variant)"
        )
    ),
    "intervalLengthSum": _interval_length_sum_expr,
    # 2-D space-filling-curve index tier (CH 24.6) — pure 31-step JVM
    # bit folds; oracle replays are the identical folds in DuckDB
    "mortonEncode": _morton_encode_expr,
    "mortonDecode": _morton_decode_expr,
    "hilbertEncode": _hilbert_encode_expr,
    "hilbertDecode": _hilbert_decode_expr,
    # S2 cell tier (round 15) — leaf-level cube-face Hilbert ids over
    # the published s2geometry definition; pure 30-step JVM folds
    "geoToS2": _geo_to_s2_expr,
    "s2ToGeo": _s2_to_geo_expr,
    "s2CellsIntersect": _s2_cells_intersect_expr,
    "s2GetNeighbors": _s2_get_neighbors_expr,
    "s2RectAdd": lambda args: _s2_rect_expr(args, "Add"),
    "s2RectContains": lambda args: _s2_rect_expr(args, "Contains"),
    "s2RectUnion": lambda args: _s2_rect_expr(args, "Union"),
    "s2RectIntersection": lambda args: _s2_rect_expr(args, "Intersection"),
    "s2CapContains": _s2_cap_contains_expr,
    "s2CapUnion": _s2_cap_union_expr,
    # CH 25.x array/string additions (round 12)
    "arrayLevenshtein": _array_levenshtein_expr,
    "arrayNormalizedGini": _array_normalized_gini_expr,
    "arrayROCAUC": _array_roc_auc_expr,
    "arrayAUC": _array_roc_auc_expr,  # the pre-25.x name
    "arrayPrAUC": _array_pr_auc_expr,
    "LpNorm": _lp_norm_expr,
    "LpDistance": _lp_distance_expr,
    "L2SquaredNorm": lambda a: (
        f"aggregate({a[0]}, CAST(0 AS DOUBLE), (__a, __x) -> "
        f"__a + CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))"
    ),
    "L2SquaredDistance": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (__a, __d) -> __a + __d * __d)"
    ),
    "arraySymmetricDifference": _array_sym_diff_expr,
    "stringCompare": _string_compare_expr,
    "stringBytesUniq": lambda a: _string_bytes_fold(a[0], "uniq"),
    "stringBytesEntropy": lambda a: _string_bytes_fold(a[0], "entropy"),
    # CH CRC32 = CRC-32/IEEE-802.3 with init 0xffffffff (the zlib CRC) —
    # exactly java.util.zip.CRC32 behind Spark's builtin; CRC32IEEE/CRC64
    # use different init/poly conventions and stay unlowered
    "CRC32": lambda a: f"crc32(encode({a[0]}, 'utf-8'))",
    # string-distance completions (CH 24.8) — DuckDB ships independent
    # implementations of all three, so oracles cross-check engines
    "damerauLevenshteinDistance": _damerau_levenshtein_expr,
    "jaroSimilarity": lambda a: _jaro_expr(a, winkler=False),
    "jaroWinklerSimilarity": lambda a: _jaro_expr(a, winkler=True),
    # groupArrayIntersect (CH 24.2): intersection of the array column
    # across the group's rows; output SORTED for engine determinism (CH
    # leaves the order unspecified — documented).  Typed seed = the first
    # collected array, so any element type works.  Empty group (all rows
    # NULL) → typed NULL via try_element_at — the previous __ls[0] threw
    # INVALID_ARRAY_INDEX under the session's ANSI mode.
    "groupArrayIntersect": lambda a: (
        f"transform(array(collect_list(CASE WHEN ({a[0]}) IS NOT NULL "
        f"THEN ({a[0]}) END)), __ls -> IF(size(__ls) = 0, "
        f"try_element_at(__ls, 1), "
        f"array_sort(aggregate(__ls, element_at(__ls, 1), "
        f"(__acc, __a) -> array_intersect(__acc, __a)))))[0]"
    ),
    "cramersV": lambda a: _contingency_expr(a, "cramersV"),
    "cramersVBiasCorrected": lambda a: _contingency_expr(
        a, "cramersVBiasCorrected"
    ),
    "theilsU": lambda a: _contingency_expr(a, "theilsU"),
    "contingency": lambda a: _contingency_expr(a, "contingency"),
    # batch 26 (round 10): A/B planning scalars — 3-tuples like CH
    "minSampleSizeConversion": _min_sample_size_conversion,
    "minSampleSizeContinous": _min_sample_size_continuous,
    "minSampleSizeContinuous": _min_sample_size_continuous,
    # batch 34 (round 10): vector-name aliases, ISO/tz datetime, JSON
    # accessors, URL hierarchy tier, bar rendering, bitmask decompositions,
    # window-view starts, and the probe-found misc tail
    "normL1": lambda args: (
        f"aggregate({args[0]}, 0.0D, "
        f"(__a, __x) -> __a + abs(CAST(__x AS DOUBLE)))"
    ),
    "normL2": lambda args: (
        f"sqrt(aggregate({args[0]}, CAST(0 AS DOUBLE), "
        f"(acc, x) -> acc + x * x))"
    ),
    "innerProduct": lambda args: (
        f"aggregate(zip_with({args[0]}, {args[1]}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v)"
    ),
    "scalarProduct": lambda args: (
        f"aggregate(zip_with({args[0]}, {args[1]}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v)"
    ),
    "cosineSimilarity": lambda args: (
        f"(aggregate(zip_with({args[0]}, {args[1]}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), 0.0D, "
        f"(__s, __v) -> __s + __v) "
        f"/ (sqrt(aggregate({args[0]}, 0.0D, (__a, __x) -> "
        f"__a + CAST(__x AS DOUBLE) * __x)) "
        f"* sqrt(aggregate({args[1]}, 0.0D, (__a, __x) -> "
        f"__a + CAST(__x AS DOUBLE) * __x))))"
    ),
    # ISO year start = the Monday of ISO week 1 = the week of Jan 4
    # (YEAROFWEEK is Spark's ISO week-based year)
    "toStartOfISOYear": lambda args: (
        f"CAST(date_trunc('WEEK', make_date("
        f"extract(YEAROFWEEK FROM {args[0]}), 1, 4)) AS DATE)"
    ),
    # CH toTimeZone keeps the instant and changes the RENDERING zone;
    # Spark timestamps render in the session zone (pinned UTC), so the
    # instant is re-expressed as the target zone's wall clock
    "toTimeZone": lambda args: (
        f"convert_timezone('UTC', {args[1]}, {args[0]})"
    ),
    "now64": lambda args: "current_timestamp()",
    "degToRad": _rename("radians"),
    "radToDeg": _rename("degrees"),
    # simpleJSON* are CH's sloppy-scanner variants — lowered to the strict
    # parser (identical on valid JSON; documented deviation on malformed)
    "simpleJSONExtractString": lambda args: (
        f"get_json_object({args[0]}, concat('$.', {args[1]}))"
    ),
    "simpleJSONExtractInt": lambda args: (
        f"try_cast(get_json_object({args[0]}, concat('$.', {args[1]})) "
        f"AS BIGINT)"
    ),
    "simpleJSONHas": lambda args: (
        f"(get_json_object({args[0]}, concat('$.', {args[1]})) IS NOT NULL)"
    ),
    "simpleJSONExtractFloat": lambda args: (
        f"try_cast(get_json_object({args[0]}, concat('$.', {args[1]})) "
        f"AS DOUBLE)"
    ),
    "simpleJSONExtractUInt": lambda args: (
        f"try_cast(get_json_object({args[0]}, concat('$.', {args[1]})) "
        f"AS BIGINT)"
    ),
    # CH: 1 only for a literal true — any other value (or absence) is 0
    "simpleJSONExtractBool": lambda args: (
        f"IF(get_json_object({args[0]}, concat('$.', {args[1]})) = 'true', "
        f"1, 0)"
    ),
    # get_json_object returns the raw JSON text for object/array values —
    # exactly simpleJSONExtractRaw's contract on valid JSON
    "simpleJSONExtractRaw": lambda args: (
        f"coalesce(get_json_object({args[0]}, concat('$.', {args[1]})), '')"
    ),
    "JSONExtractRaw": lambda args: _json_path("get_json_object", args),
    "JSON_VALUE": lambda args: f"get_json_object({args[0]}, {args[1]})",
    "JSON_QUERY": lambda args: f"get_json_object({args[0]}, {args[1]})",
    "JSON_EXISTS": lambda args: (
        f"(get_json_object({args[0]}, {args[1]}) IS NOT NULL)"
    ),
    "toJSONString": lambda args: f"to_json({args[0]})",
    # 1-based position of the EARLIEST match of any needle, 0 when none
    "multiSearchFirstPosition": lambda args: (
        f"coalesce(array_min(filter(transform({args[1]}, "
        f"__n -> locate(__n, {args[0]})), __p -> __p > 0)), 0)"
    ),
    "appendTrailingCharIfAbsent": lambda args: (
        f"IF(endswith({args[0]}, {args[1]}), {args[0]}, "
        f"concat({args[0]}, {args[1]}))"
    ),
    "removeTrailingCharIfExists": lambda args: (
        f"IF(endswith({args[0]}, {args[1]}), "
        f"left({args[0]}, length({args[0]}) - length({args[1]})), {args[0]})"
    ),
    "basename": lambda args: (
        f"element_at(split({args[0]}, '/'), -1)"
    ),
    "cutFragment": lambda args: (
        f"element_at(split({args[0]}, '#', 2), 1)"
    ),
    "cutWWW": lambda args: (
        f"replace({args[0]}, '://www.', '://')"
    ),
    "queryStringAndFragment": lambda args: (
        f"element_at(split({args[0]}, '\\\\?', 2), 2)"
    ),
    "extractURLParameters": lambda args: (
        f"split(coalesce(parse_url({args[0]}, 'QUERY'), ''), '&')"
    ),
    "extractURLParameterNames": lambda args: (
        f"transform(split(coalesce(parse_url({args[0]}, 'QUERY'), ''), "
        f"'&'), __p -> element_at(split(__p, '=', 2), 1))"
    ),
    # URLPathHierarchy('http://x.com/a/b?q') = ['/a/', '/a/b'] (growing
    # path prefixes, no host); URLHierarchy prepends protocol://host/
    "URLPathHierarchy": lambda args: (
        f"transform(sequence(1, size(split(parse_url({args[0]}, 'PATH'), "
        f"'/')) - 1), __i -> concat(array_join(slice(split("
        f"parse_url({args[0]}, 'PATH'), '/'), 1, __i + 1), '/'), "
        f"IF(__i + 1 < size(split(parse_url({args[0]}, 'PATH'), '/')), "
        f"'/', '')))"
    ),
    # bar(x, min, max, width): CH's terminal bar — full blocks plus one
    # partial EIGHTH block for the remainder
    "bar": lambda args: (
        f"concat(repeat('█', CAST(floor(round(({args[3]}) * 8.0 "
        f"* (({args[0]}) - ({args[1]})) / (({args[2]}) - ({args[1]})), 6) "
        f"/ 8) AS INT)), "
        f"element_at(array('', '▏', '▎', '▍', '▌', '▋', '▊', '▉'), "
        f"CAST(CAST(round(({args[3]}) * 8.0 * (({args[0]}) - ({args[1]})) "
        f"/ (({args[2]}) - ({args[1]})), 6) AS BIGINT) % 8 + 1 AS INT)))"
    ),
    "bitmaskToArray": lambda args: (
        f"filter(transform(sequence(0, 62), __i -> "
        f"IF((shiftright(CAST({args[0]} AS BIGINT), __i) & 1) = 1, "
        f"shiftleft(CAST(1 AS BIGINT), __i), CAST(NULL AS BIGINT))), "
        f"__x -> __x IS NOT NULL)"
    ),
    "bitmaskToList": lambda args: (
        f"array_join(transform(filter(transform(sequence(0, 62), __i -> "
        f"IF((shiftright(CAST({args[0]} AS BIGINT), __i) & 1) = 1, "
        f"shiftleft(CAST(1 AS BIGINT), __i), CAST(NULL AS BIGINT))), "
        f"__x -> __x IS NOT NULL), __v -> CAST(__v AS STRING)), ',')"
    ),
    "bitPositionsToArray": lambda args: (
        f"filter(transform(sequence(0, 62), __i -> "
        f"IF((shiftright(CAST({args[0]} AS BIGINT), __i) & 1) = 1, "
        f"CAST(__i AS BIGINT), CAST(NULL AS BIGINT))), "
        f"__x -> __x IS NOT NULL)"
    ),
    "parseDateTimeBestEffortOrNull": lambda args: (
        f"try_to_timestamp({args[0]})"
    ),
    "parseDateTimeBestEffortOrZero": lambda args: (
        f"coalesce(try_to_timestamp({args[0]}), "
        f"TIMESTAMP '1970-01-01 00:00:00')"
    ),
    "makeDate32": lambda args: f"make_date({', '.join(args)})",
    # session zone is pinned UTC (catalog.load_table)
    "timezoneOf": lambda args: "'UTC'",
    "timezoneOffset": lambda args: "CAST(0 AS INT)",
    "countDigits": lambda args: (
        f"IF(({args[0]}) = 0, 1, "
        f"CAST(floor(log10(abs({args[0]}))) + 1 AS INT))"
    ),
    "toBool": lambda args: f"try_cast({args[0]} AS BOOLEAN)",
    "toUUID": lambda args: f"lower(trim({args[0]}))",
    # mapPopulateSeries: fill integer-key gaps min..max with 0 defaults
    "mapPopulateSeries": lambda args: (
        f"map_from_arrays(sequence(array_min(map_keys({args[0]})), "
        f"array_max(map_keys({args[0]}))), "
        f"transform(sequence(array_min(map_keys({args[0]})), "
        f"array_max(map_keys({args[0]}))), __k -> "
        f"coalesce(element_at({args[0]}, __k), 0)))"
    ),
    # window-view starts/ends (CH tumble/hop family) — BOTH documented
    # forms: tumbleStart(window) extracts the field from a tumble()/hop()
    # struct (round 12); tumbleStart(ts, INTERVAL ...) computes directly
    "tumbleStart": lambda args: (
        f"({args[0]}).start" if len(args) == 1
        else _to_start_of_interval(args[:2])
    ),
    "tumbleEnd": lambda args: (
        f"({args[0]}).end" if len(args) == 1
        else f"({_to_start_of_interval(args[:2])} + {args[1]})"
    ),
    # exact sampling lowerings for the contract tier: binomial = n
    # Bernoulli draws; Poisson = inverse-transform over the iterative pmf
    # (p_k = p_{k-1}·λ/k), capped at λ+12√λ+16
    "randBinomial": lambda args: (
        f"aggregate(sequence(1, CAST({args[0]} AS INT)), 0, "
        f"(__acc, __i) -> __acc + IF(rand() < ({args[1]}), 1, 0))"
    ),
    "randPoisson": lambda args: (
        # freeze-check BEFORE advancing so the single uniform drawn at
        # init drives the whole inverse-transform walk
        f"aggregate(sequence(1, CAST(({args[0]}) + 12 * sqrt({args[0]}) "
        f"+ 16 AS INT)), "
        f"named_struct('k', 0, 'p', exp(-({args[0]})), "
        f"'c', exp(-({args[0]})), 'u', rand(), 'done', false), "
        f"(__s, __i) -> IF(__s.done OR __s.u < __s.c, named_struct("
        f"'k', __s.k, 'p', __s.p, 'c', __s.c, 'u', __s.u, 'done', true), "
        f"named_struct('k', __i, 'p', __s.p * ({args[0]}) / __i, "
        f"'c', __s.c + __s.p * ({args[0]}) / __i, 'u', __s.u, "
        f"'done', false)), "
        f"__s -> __s.k)"
    ),
    # ULID: 10 Crockford-base32 chars of unix-millis + 16 random chars
    # (the spec layout; the shared query-constant timestamp prefix is
    # fine — uniqueness rides on the 80 random bits)
    "generateULID": lambda args: (
        "concat(concat_ws('', transform(sequence(9, 0, -1), __i -> "
        "substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', "
        "CAST((shiftright(unix_millis(current_timestamp()), __i * 5) "
        "& 31) AS INT) + 1, 1))), "
        "concat_ws('', transform(sequence(1, 16), __i -> "
        "substring('0123456789ABCDEFGHJKMNPQRSTVWXYZ', "
        "CAST(floor(rand() * 32) AS INT) + 1, 1))))"
    ),
    "randomPrintableASCII": lambda args: (
        f"concat_ws('', transform(sequence(1, CAST({args[0]} AS INT)), "
        f"__i -> char(32 + CAST(floor(rand() * 95) AS INT))))"
    ),
    "randomString": lambda args: (
        f"concat_ws('', transform(sequence(1, CAST({args[0]} AS INT)), "
        f"__i -> char(CAST(floor(rand() * 256) AS INT))))"
    ),
    # batch 33 (round 10): string / URL / JSON / bitmap / misc tail
    "regexpExtract": lambda args: f"regexp_extract({', '.join(args)})",
    # CH toLastDayOfWeek (mode 0): week ends SATURDAY (start Sunday) —
    # Spark's WEEK truncation starts Monday: shift in, truncate, shift out
    "toLastDayOfWeek": lambda args: (
        f"CAST(date_trunc('WEEK', CAST({args[0]} AS TIMESTAMP) "
        f"+ INTERVAL 1 DAY) + INTERVAL 5 DAY AS DATE)"
    ),
    "toMillisecond": lambda args: (
        f"CAST(floor(unix_micros(CAST({args[0]} AS TIMESTAMP)) % 1000000 "
        f"/ 1000) AS INT)"
    ),
    "JSONExtractKeys": lambda args: f"json_object_keys({args[0]})",
    "JSONArrayLength": lambda args: f"json_array_length({args[0]})",
    "fragment": lambda args: f"parse_url({args[0]}, 'REF')",
    "topLevelDomain": lambda args: (
        f"element_at(split(parse_url({args[0]}, 'HOST'), '\\\\.'), -1)"
    ),
    "decodeURLComponent": lambda args: f"url_decode({args[0]})",
    "encodeURLComponent": lambda args: f"url_encode({args[0]})",
    # firstSignificantSubdomain: the label left of the effective TLD,
    # where the TLD spans TWO labels when the second-to-last is one of
    # CH's built-in second-level set (com/net/org/co) — the upstream
    # list-free heuristic, e.g. news.clickhouse.com.tr → 'clickhouse'
    "firstSignificantSubdomain": lambda args: (
        f"element_at(split(parse_url({args[0]}, 'HOST'), '\\\\.'), "
        f"IF(element_at(split(parse_url({args[0]}, 'HOST'), '\\\\.'), -2) "
        f"IN ('com', 'net', 'org', 'co'), -3, -2))"
    ),
    "cutToFirstSignificantSubdomain": lambda args: (
        f"array_join(slice(split(parse_url({args[0]}, 'HOST'), '\\\\.'), "
        f"size(split(parse_url({args[0]}, 'HOST'), '\\\\.')) - "
        f"IF(element_at(split(parse_url({args[0]}, 'HOST'), '\\\\.'), -2) "
        f"IN ('com', 'net', 'org', 'co'), 2, 1), 3), '.')"
    ),
    # engine-specific 64-bit hashes (same documented deviation as
    # sipHash64: the CONTRACT — determinism + discrimination — holds,
    # the constants are Spark's)
    "xxHash64": _rename("xxhash64"),
    "xxHash32": lambda args: f"(xxhash64({args[0]}) & 4294967295)",
    "murmurHash3_32": _rename("hash"),
    "nanOrZero": lambda args: (
        f"IF(isnan(CAST({args[0]} AS DOUBLE)), 0.0D, {args[0]})"
    ),
    "isIPv6String": lambda args: (
        f"({args[0]} RLIKE "
        f"'^[0-9a-fA-F:]+$' AND {args[0]} LIKE '%:%')"
    ),
    "caseWithoutExpression": lambda args: (
        "CASE "
        + " ".join(
            f"WHEN {args[k]} THEN {args[k + 1]}"
            for k in range(0, len(args) - 1, 2)
        )
        + (f" ELSE {args[-1]}" if len(args) % 2 == 1 else "")
        + " END"
    ),
    "emptyArrayInt8": lambda args: "CAST(array() AS ARRAY<TINYINT>)",
    "emptyArrayFloat64": lambda args: "CAST(array() AS ARRAY<DOUBLE>)",
    # plain-array bitmap tail
    "subBitmap": lambda args: (
        f"slice(array_sort({args[0]}), CAST({args[1]} AS INT) + 1, "
        f"CAST({args[2]} AS INT))"
    ),
    # arrayShingles(arr, n) (CH 24.1): consecutive length-n windows
    "arrayShingles": lambda args: (
        f"transform(sequence(1, size({args[0]}) - CAST({args[1]} AS INT) "
        f"+ 1), __i -> slice({args[0]}, __i, CAST({args[1]} AS INT)))"
    ),
    # arrayRandomSample(arr, k): k elements without replacement — the
    # multiset-subset CONTRACT is checkable, the selection is not
    "arrayRandomSample": lambda args: (
        f"slice(shuffle({args[0]}), 1, CAST({args[1]} AS INT))"
    ),
    # geoDistance: CH's WGS84-ellipsoid-corrected distance deviates ≤0.5%
    # from the spherical haversine this shares with greatCircleDistance
    "soundex": _soundex_expr,
    "detectLanguage": _detect_language_expr,
    "detectLanguageMixed": _detect_language_mixed_expr,
    "detectCharset": _detect_charset_expr,
    "detectProgrammingLanguage": _detect_programming_language_expr,
    "lemmatize": _lemmatize_expr,
    "groupArrayMovingSum": lambda args: _group_array_moving_expr(
        args, None, "Sum"),
    "groupArrayMovingAvg": lambda args: _group_array_moving_expr(
        args, None, "Avg"),
    "groupArrayInsertAt": _group_array_insert_at_expr,
    "initcap": lambda args: _initcap_expr(args, utf8=False),
    "initcapUTF8": lambda args: _initcap_expr(args, utf8=True),
    # CH translate REQUIRES equal-length from/to maps and errors
    # otherwise; Spark's builtin deletes on a shorter `to` — the
    # equal-length contract is the caller's (documented deviation)
    "translate": _rename("translate"),
    "translateUTF8": _rename("translate"),
    "dayName": lambda args: f"date_format({args[0]}, 'EEEE')",
    "toUUIDOrZero": lambda args: (
        f"CASE WHEN {args[0]} RLIKE '^[0-9A-Fa-f]{{8}}-[0-9A-Fa-f]{{4}}-"
        f"[0-9A-Fa-f]{{4}}-[0-9A-Fa-f]{{4}}-[0-9A-Fa-f]{{12}}$' "
        f"THEN lower({args[0]}) "
        f"ELSE '00000000-0000-0000-0000-000000000000' END"
    ),
    "multiSearchAnyCaseInsensitive": lambda args: (
        f"CAST(exists({args[1]}, __p -> "
        f"locate(lower(__p), lower({args[0]})) > 0) AS INT)"
    ),
    # char-based like the existing stringJaccardIndex (the byte-vs-char
    # split only differs on non-ASCII, where UTF8 is the char variant)
    "stringJaccardIndexUTF8": lambda args: (
        f"cast(size(array_intersect(array_distinct(split({args[0]}, '')), "
        f"array_distinct(split({args[1]}, '')))) as double) / "
        f"size(array_union(array_distinct(split({args[0]}, '')), "
        f"array_distinct(split({args[1]}, ''))))"
    ),
    "h3HexAreaKm2": lambda args: _h3_table_expr(
        args, _H3_HEX_AREA_KM2, "h3HexAreaKm2"),
    "h3HexAreaM2": lambda args: _h3_table_expr(
        args, _H3_HEX_AREA_M2, "h3HexAreaM2"),
    "h3EdgeLengthKm": lambda args: _h3_table_expr(
        args, _H3_EDGE_KM, "h3EdgeLengthKm"),
    "h3EdgeLengthM": lambda args: _h3_table_expr(
        args, _H3_EDGE_M, "h3EdgeLengthM"),
    "h3GetRes0Indexes": _h3_res0_indexes_expr,
    "h3GetPentagonIndexes": _h3_pentagon_indexes_expr,
    "pointInPolygon": _point_in_polygon_expr,
    "polygonAreaCartesian": _polygon_area_cartesian_expr,
    "polygonPerimeterCartesian": _polygon_perimeter_cartesian_expr,
    "readWKTPoint": lambda args: _read_wkt_expr(args, "Point"),
    "readWKTLineString": lambda args: _read_wkt_expr(args, "LineString"),
    "readWKTPolygon": lambda args: _read_wkt_expr(args, "Polygon"),
    "geoDistance": lambda args: (
        f"(6372797.560856 * 2 * asin(sqrt("
        f"pow(sin(radians({args[3]} - {args[1]}) / 2), 2)"
        f" + cos(radians({args[1]})) * cos(radians({args[3]}))"
        f" * pow(sin(radians({args[2]} - {args[0]}) / 2), 2))))"
    ),
    "medianExact": lambda args: f"percentile({args[0]}, 0.5)",
    # retention(c1, ..., cK): r[0] = c1 seen in the group; r[i] = c1 AND
    # c_{i+1} both seen (CH's cohort-retention aggregate — note it is NOT
    # sequenced: any order within the group counts, per upstream docs)
    "retention": lambda args: (
        "array("
        + ", ".join(
            f"CAST(max(IF({args[0]}, 1, 0)) AS INT)"
            if i == 0
            else (
                f"CAST(max(IF({args[0]}, 1, 0)) "
                f"* max(IF({c}, 1, 0)) AS INT)"
            )
            for i, c in enumerate(args)
        )
        + ")"
    ),
    # arrays / higher-order (CH lambda syntax `x -> e` is Spark's, args swap)
    "has": _rename("array_contains"),
    "hasAny": _rename("arrays_overlap"),
    "hasAll": lambda args: f"(size(array_except({args[1]}, {args[0]})) = 0)",
    "indexOf": _rename("array_position"),
    "arrayDistinct": _rename("array_distinct"),
    "arrayUniq": lambda args: f"size(array_distinct({args[0]}))",
    "arraySort": _rename("array_sort"),
    "arrayReverse": _rename("reverse"),
    "arrayConcat": _rename("concat"),
    "arraySlice": _rename("slice"),
    "arrayElement": _rename("element_at"),
    "arrayJoin": _rename("explode"),
    "arrayMap": lambda args: f"transform({args[1]}, {args[0]})",
    "arrayEnumerate": lambda args: f"sequence(1, size({args[0]}))",
    "arrayFilter": lambda args: f"filter({args[1]}, {args[0]})",
    "arrayExists": lambda args: f"exists({args[1]}, {args[0]})",
    "arrayAll": lambda args: f"forall({args[1]}, {args[0]})",
    "arrayFlatten": _rename("flatten"),
    "arrayCount": lambda args: (
        f"size(filter({args[1]}, {args[0]}))" if len(args) == 2
        else f"size(filter({args[0]}, x -> x))"
    ),
    "arraySum": lambda args: f"aggregate({args[-1]}, CAST(0 AS DOUBLE), (acc, x) -> acc + " + ("x" if len(args) == 1 else f"({args[0]})(x)") + ")",
    "arrayStringConcat": lambda args: f"array_join({args[0]}, " + (args[1] if len(args) > 1 else "''") + ")",
    "arrayZip": _rename("arrays_zip"),
    "arrayZipUnaligned": _rename("arrays_zip"),  # arrays_zip pads with NULL
    # consecutive-duplicate removal via the index-aware filter lambda
    "arrayCompact": lambda args: (
        f"filter({args[0]}, (x, i) -> i = 0 OR NOT (x <=> ({args[0]})[i - 1]))"
    ),
    # d[0] = a[0] - a[0] = 0 in the element type, d[i] = a[i] - a[i-1]
    "arrayDifference": lambda args: (
        f"transform({args[0]}, (x, i) -> if(i = 0, x - x, x - ({args[0]})[i - 1]))"
    ),
    # running sum with an array accumulator (integer arrays; wrap doubles
    # with arrayMap(x -> toInt64(x), ...) or sum via arraySum)
    "arrayCumSum": lambda args: (
        f"aggregate({args[0]}, CAST(array() AS ARRAY<BIGINT>), "
        f"(acc, x) -> concat(acc, array(coalesce(try_element_at(acc, -1), "
        f"CAST(0 AS BIGINT)) + x)))"
    ),
    "arrayReduce": lambda args: _array_reduce(args),
    # CH arrayFold((acc, x) -> e, arr, init) ↔ Spark aggregate(arr, init, λ)
    "arrayFold": lambda args: f"aggregate({args[1]}, {args[2]}, {args[0]})",
    "arrayAvg": lambda args: (
        f"(aggregate({args[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        f" / size({args[0]}))"
    ),
    "arrayMin": lambda args: f"array_min({args[-1]})",
    "arrayMax": lambda args: f"array_max({args[-1]})",
    "arrayProduct": lambda args: (
        f"aggregate({args[0]}, CAST(1 AS DOUBLE), (acc, x) -> acc * x)"
    ),
    "arrayFirst": lambda args: f"try_element_at(filter({args[1]}, {args[0]}), 1)",
    "arrayLast": lambda args: f"try_element_at(filter({args[1]}, {args[0]}), -1)",
    # batch 18b (round 8): the conditional-fill/split family + OrNull access
    "arrayFill": lambda args: _array_fill(args, rev=False),
    "arrayReverseFill": lambda args: _array_fill(args, rev=True),
    "arraySplit": lambda args: _array_split(args, rev=False),
    "arrayReverseSplit": lambda args: _array_split(args, rev=True),
    "arrayElementOrNull": lambda args: (
        f"try_element_at({args[0]}, {args[1]})"
    ),
    "arrayFirstOrNull": lambda args: (
        f"try_element_at(filter({args[1]}, {args[0]}), 1)"
    ),
    "arrayLastOrNull": lambda args: (
        f"try_element_at(filter({args[1]}, {args[0]}), -1)"
    ),
    # CH returns 0 when no element matches — exactly array_position's miss value
    "arrayFirstIndex": lambda args: f"array_position(transform({args[1]}, {args[0]}), true)",
    "arrayPushBack": lambda args: f"array_append({args[0]}, {args[1]})",
    "arrayPushFront": lambda args: f"array_prepend({args[0]}, {args[1]})",
    "arrayPopBack": lambda args: f"slice({args[0]}, 1, greatest(size({args[0]}) - 1, 0))",
    "arrayPopFront": lambda args: f"slice({args[0]}, 2, greatest(size({args[0]}) - 1, 0))",
    "arrayIntersect": lambda args: _nest_binary("array_intersect", args),
    "arrayDotProduct": lambda args: (
        f"aggregate(zip_with({args[0]}, {args[1]}, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    ),
    "L2Norm": lambda args: (
        f"sqrt(aggregate({args[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))"
    ),
    "L2Distance": lambda args: (
        f"sqrt(aggregate(zip_with({args[0]}, {args[1]}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    ),
    "cosineDistance": lambda args: (
        f"(1 - aggregate(zip_with({args[0]}, {args[1]}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        f" / (sqrt(aggregate({args[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))"
        f" * sqrt(aggregate({args[1]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))))"
    ),
    # angle = acos(cos-similarity), clamped against FP drift past ±1
    "angleBetweenVectors": lambda args: (
        f"acos(greatest(CAST(-1 AS DOUBLE), least(CAST(1 AS DOUBLE), "
        f"aggregate(zip_with({args[0]}, {args[1]}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), "
        f"(acc, v) -> acc + v)"
        f" / (sqrt(aggregate({args[0]}, CAST(0 AS DOUBLE), "
        f"(acc, x) -> acc + x * x))"
        f" * sqrt(aggregate({args[1]}, CAST(0 AS DOUBLE), "
        f"(acc, x) -> acc + x * x))))))"
    ),
    # chsql-dialect sumMap family + interval sweep aggregates (round 13)
    "sumMap": lambda args: _map_agg_expr(args, "sum", "sumMap"),
    "minMap": lambda args: _map_agg_expr(args, "min", "minMap"),
    "maxMap": lambda args: _map_agg_expr(args, "max", "maxMap"),
    "maxIntersections": lambda args: _max_intersections_expr(
        args, "maxIntersections"
    ),
    "maxIntersectionsPosition": lambda args: _max_intersections_expr(
        args, "maxIntersectionsPosition"
    ),
    # -ForEach combinator: element-wise aggregation across rows of arrays —
    # collect_list + a zip_with fold (ragged rows pad with 0, CH semantics)
    "sumForEach": lambda args: (
        f"aggregate(collect_list({args[0]}), CAST(NULL AS ARRAY<DOUBLE>), "
        f"(__acc, __a) -> if(__acc IS NULL, "
        f"transform(__a, __v -> CAST(__v AS DOUBLE)), "
        f"zip_with(__acc, __a, (__p, __q) -> coalesce(__p, CAST(0 AS DOUBLE)) "
        f"+ coalesce(CAST(__q AS DOUBLE), CAST(0 AS DOUBLE)))))"
    ),
    "mapKeys": _rename("map_keys"),
    "mapValues": _rename("map_values"),
    "mapSort": lambda args: (
        f"map_from_entries(array_sort(map_entries({args[0]})))"
    ),
    "mapReverseSort": lambda args: (
        f"map_from_entries(reverse(array_sort(map_entries({args[0]}))))"
    ),
    # batch 19 (round 8): tuple literal arithmetic, JSON introspection
    "tuplePlus": lambda args: _tuple_arith(args, "+"),
    "tupleMinus": lambda args: _tuple_arith(args, "-"),
    "tupleMultiply": lambda args: _tuple_arith(args, "*"),
    "dotProduct": lambda args: (
        # the array form (CH also accepts tuples — literal tuples only here)
        f"aggregate(zip_with({args[0]}, {args[1]}, "
        f"(__x, __y) -> CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), "
        f"0.0D, (__a, __v) -> __a + __v)"
    ),
    "JSONType": _json_type,
    "JSONExtractKeysAndValues": lambda args: (
        # 2-arg form with 'String' value type → Array(Tuple(key, value))
        f"map_entries(from_json({args[0]}, 'map<string,string>'))"
    ),
    # arrayAUCPR(scores, labels): average precision — descending-score
    # walk, AP = Σ_{positives} (tp_i / i) / total_pos (per-element steps;
    # deviation: CH groups tied scores — callers pin tie-free scores).
    # One sort + one linear fold per row, no UDF.
    "arrayAUCPR": lambda args: (
        f"aggregate(array_sort(zip_with({args[0]}, {args[1]}, "
        f"(__x, __y) -> named_struct('sc', CAST(__x AS DOUBLE), "
        f"'lb', CAST(__y AS INT))), "
        f"(__a, __b) -> CASE WHEN __a.sc > __b.sc THEN -1 "
        f"WHEN __a.sc < __b.sc THEN 1 ELSE 0 END), "
        f"named_struct('i', 0, 'tp', 0, 's', CAST(0 AS DOUBLE)), "
        f"(__acc, __e) -> named_struct('i', __acc.i + 1, "
        f"'tp', __acc.tp + __e.lb, "
        f"'s', __acc.s + IF(__e.lb = 1, "
        f"CAST(__acc.tp + 1 AS DOUBLE) / (__acc.i + 1), 0.0D)), "
        f"__acc -> IF(__acc.tp = 0, 0.0D, __acc.s / __acc.tp))"
    ),
    "mapContains": _rename("map_contains_key"),
    "mapFilter": lambda args: f"map_filter({args[1]}, {args[0]})",
    "mapFromArrays": _rename("map_from_arrays"),
    # round-8 map vocabulary (batch 17)
    "mapApply": lambda args: _map_apply(args),
    "mapUpdate": lambda args: (
        # entries from the SECOND map win on KEY PRESENCE (CH contract) —
        # an entry fold, not coalesce-by-value, so a key explicitly mapped
        # to NULL in the second map still replaces the first map's value
        f"map_from_entries(concat("
        f"filter(map_entries({args[0]}), "
        f"__e -> NOT array_contains(map_keys({args[1]}), __e.key)), "
        f"map_entries({args[1]})))"
    ),
    "mapContainsKeyLike": lambda args: (
        f"exists(map_keys({args[0]}), __k -> __k LIKE {args[1]})"
    ),
    "mapExtractKeyLike": lambda args: (
        f"map_filter({args[0]}, (__k, __v) -> __k LIKE {args[1]})"
    ),
    # round-3 daily-vocabulary sweep (every rule exercised by the
    # execute-probe in tests/test_chsql.py::test_daily_vocab_executes)
    "toFixedString": lambda args: f"rpad({args[0]}, {args[1]}, ' ')",
    "extract": lambda args: (
        # CH extract(haystack, re) vs ANSI EXTRACT(field FROM ts): only the
        # 2-arg regex-literal form is CH-specific
        f"regexp_extract({args[0]}, {args[1]}, 0)"
        if len(args) == 2 and args[1].strip().startswith("'")
        else f"extract({', '.join(args)})"
    ),
    "dateSub": lambda args: f"dateadd({args[0]}, -({args[1]}), {args[2]})",
    # batch 18 (round 8): interval-form add/sub, CH 23.8 timezone
    # conversions (Spark's to/from_utc_timestamp are the same contract),
    # clamp (24.5)
    "addDate": lambda args: f"({args[0]} + {args[1]})",
    "subDate": lambda args: f"({args[0]} - {args[1]})",
    "toUTCTimestamp": lambda args: f"to_utc_timestamp({args[0]}, {args[1]})",
    "fromUTCTimestamp": lambda args: (
        f"from_utc_timestamp({args[0]}, {args[1]})"
    ),
    "clamp": lambda args: (
        f"least(greatest({args[0]}, {args[1]}), {args[2]})"
    ),
    "timeSlot": lambda args: (
        f"timestamp_seconds(floor(unix_timestamp({args[0]}) / 1800) * 1800)"
    ),
    "toTime": lambda args: (
        # CH: time-of-day re-anchored on 1970-01-02
        f"timestamp_seconds(86400 + (unix_timestamp({args[0]}) % 86400))"
    ),
    "notLike": lambda args: f"({args[0]} NOT LIKE {args[1]})",
    "notILike": lambda args: f"(NOT ({args[0]} ILIKE {args[1]}))",
    "isFinite": lambda args: (
        f"((NOT isnan({args[0]})) AND abs({args[0]}) != double('Infinity'))"
    ),
    "isInfinite": lambda args: f"(abs({args[0]}) = double('Infinity'))",
    "bitTest": lambda args: (
        f"(shiftright({args[0]}, cast({args[1]} as int)) & 1)"
    ),
    "bitCount": _rename("bit_count"),
    "reverseUTF8": _rename("reverse"),
    "domainWithoutWWW": lambda args: (
        f"regexp_replace(parse_url({args[0]}, 'HOST'), '^www\\\\.', '')"
    ),
    "cutQueryString": lambda args: f"element_at(split({args[0]}, '\\\\?', 2), 1)",
    "visitParamExtractString": lambda args: (
        f"get_json_object({args[0]}, concat('$.', {args[1]}))"
    ),
    # visitParam* are the legacy aliases of the simpleJSON* family
    "visitParamHas": lambda args: (
        f"(get_json_object({args[0]}, concat('$.', {args[1]})) IS NOT NULL)"
    ),
    "visitParamExtractInt": lambda args: (
        f"try_cast(get_json_object({args[0]}, concat('$.', {args[1]})) "
        f"AS BIGINT)"
    ),
    "visitParamExtractUInt": lambda args: (
        f"try_cast(get_json_object({args[0]}, concat('$.', {args[1]})) "
        f"AS BIGINT)"
    ),
    "visitParamExtractFloat": lambda args: (
        f"try_cast(get_json_object({args[0]}, concat('$.', {args[1]})) "
        f"AS DOUBLE)"
    ),
    "visitParamExtractBool": lambda args: (
        f"IF(get_json_object({args[0]}, concat('$.', {args[1]})) = 'true', "
        f"1, 0)"
    ),
    "visitParamExtractRaw": lambda args: (
        f"coalesce(get_json_object({args[0]}, concat('$.', {args[1]})), '')"
    ),
    "tupleElement": lambda args: (
        f"{args[0]}.{args[1].strip()[1:-1]}"
        if args[1].strip().startswith("'")
        else f"{args[0]}.col{args[1].strip()}"
    ),
    "accurateCast": lambda args: (
        f"CAST({args[0]} AS {_map_type(args[1].strip()[1:-1])})"
    ),
    "toInt64OrZero": lambda args: f"coalesce(try_cast({args[0]} AS BIGINT), 0)",
    "toInt64OrNull": lambda args: f"try_cast({args[0]} AS BIGINT)",
    "toInt32OrZero": lambda args: f"coalesce(try_cast({args[0]} AS INT), 0)",
    "toInt32OrNull": lambda args: f"try_cast({args[0]} AS INT)",
    "toFloat64OrZero": lambda args: f"coalesce(try_cast({args[0]} AS DOUBLE), 0.0)",
    "toFloat64OrNull": lambda args: f"try_cast({args[0]} AS DOUBLE)",
    "emptyArrayInt64": lambda args: "CAST(array() AS ARRAY<BIGINT>)",
    "emptyArrayString": lambda args: "CAST(array() AS ARRAY<STRING>)",
    "arrayWithConstant": lambda args: (
        f"array_repeat({args[1]}, cast({args[0]} as int))"
    ),
    "byteSize": _rename("octet_length"),
    "leftPadUTF8": _rename("lpad"),
    "rightPadUTF8": _rename("rpad"),
    "randCanonical": _rename("rand"),
    "rand64": lambda args: (
        "cast(floor(rand() * 9.223372036854776e18) as bigint)"
    ),
    "toISOWeek": _rename("weekofyear"),
    "toISOYear": lambda args: f"extract(YEAROFWEEK FROM {args[0]})",
    # CH toWeek default mode 0 ~ ISO-adjacent; mapped to ISO weekofyear
    # (documented deviation — the mode-3 behavior)
    "toWeek": lambda args: f"weekofyear({args[0]})",
    "toRelativeDayNum": lambda args: (
        f"cast(floor(unix_timestamp({args[0]}) / 86400) as int)"
    ),
    "toRelativeHourNum": lambda args: (
        f"cast(floor(unix_timestamp({args[0]}) / 3600) as int)"
    ),
    # vocabulary batch 15 (round 8): relative month/quarter/week ordinals.
    # Week ordinal counts Monday-aligned weeks since epoch (1970-01-01 was
    # a Thursday, hence the +4-day shift before dividing).
    "toRelativeMonthNum": lambda args: (
        f"(year({args[0]}) * 12 + month({args[0]}) - 1)"
    ),
    "toRelativeQuarterNum": lambda args: (
        f"(year({args[0]}) * 4 + quarter({args[0]}) - 1)"
    ),
    "toRelativeWeekNum": lambda args: (
        f"cast(floor((floor(unix_timestamp({args[0]}) / 86400) + 4) / 7) "
        "as int)"
    ),
    "makeDate": _rename("make_date"),
    "makeDateTime": _rename("make_timestamp"),
    # changeX family (24.7): rebuild the timestamp with one field replaced
    "changeYear": lambda args: _change_dt_field(args, "year"),
    "changeMonth": lambda args: _change_dt_field(args, "month"),
    "changeDay": lambda args: _change_dt_field(args, "day"),
    "changeHour": lambda args: _change_dt_field(args, "hour"),
    "changeMinute": lambda args: _change_dt_field(args, "minute"),
    "changeSecond": lambda args: _change_dt_field(args, "second"),
    "age": lambda args: (
        f"timestampdiff({args[0].strip().strip(chr(39)).upper()}, {args[1]}, {args[2]})"
    ),
    "substringIndex": _rename("substring_index"),
    "tryBase64Decode": lambda args: (
        f"cast(try_to_binary({args[0]}, 'base64') as string)"
    ),
    # vocabulary batch 16 (round 8): trigram containment search, duration
    # parsing, array enumeration, datetime completions
    "ngramSearch": lambda args: _ngram_search(args, ci=False),
    # ngramDistance (batch 17): Jaccard DISTANCE over distinct trigrams —
    # same distinct-trigram deviation as ngramSearch, symmetric as in CH
    "ngramDistance": lambda args: _ngram_distance(args, ci=False),
    "ngramDistanceCaseInsensitive": lambda args: _ngram_distance(args, ci=True),
    "ngramSearchCaseInsensitive": lambda args: _ngram_search(args, ci=True),
    # parseTimeDelta('1h 30m'): sum of (number, unit) pairs → seconds
    "parseTimeDelta": lambda args: (
        f"aggregate(regexp_extract_all({args[0]}, "
        f"'([0-9]+(?:\\\\.[0-9]+)?)\\\\s*([a-zA-Z]+)', 0), "
        f"CAST(0 AS DOUBLE), (acc, p) -> acc + "
        f"CAST(regexp_extract(p, '([0-9]+(?:\\\\.[0-9]+)?)', 1) AS DOUBLE) * "
        f"CASE lower(regexp_extract(p, '[0-9\\\\s.]*([a-zA-Z]+)', 1)) "
        f"WHEN 'y' THEN 31536000 WHEN 'years' THEN 31536000 "
        f"WHEN 'year' THEN 31536000 "
        f"WHEN 'w' THEN 604800 WHEN 'weeks' THEN 604800 WHEN 'week' THEN 604800 "
        f"WHEN 'd' THEN 86400 WHEN 'days' THEN 86400 WHEN 'day' THEN 86400 "
        f"WHEN 'h' THEN 3600 WHEN 'hours' THEN 3600 WHEN 'hour' THEN 3600 "
        f"WHEN 'm' THEN 60 WHEN 'minutes' THEN 60 WHEN 'minute' THEN 60 "
        f"WHEN 'min' THEN 60 "
        f"WHEN 's' THEN 1 WHEN 'seconds' THEN 1 WHEN 'second' THEN 1 "
        f"ELSE 0 END)"
    ),
    # first-occurrence rank per element ([10,20,10] → [1,2,1]); Spark's
    # array_distinct preserves first-occurrence order
    "arrayEnumerateDense": lambda args: (
        f"transform({args[0]}, x -> array_position(array_distinct({args[0]}), x))"
    ),
    # (arrayEnumerateUniq — the running occurrence counter — already lives
    # in the string/array section below via the two-arg transform lambda)
    "toStartOfSecond": lambda args: f"date_trunc('SECOND', {args[0]})",
    # sub-second truncation family (CH 22.6): Spark timestamps carry
    # MICROsecond precision, so Millisecond truncates the micros and
    # Micro/Nanosecond are the identity at this precision (documented —
    # CH DateTime64(9) carries nanos; ingest paths here cap at micros)
    # the TIMESTAMP round trip keeps TIMESTAMP_NTZ inputs working
    # (unix_micros rejects NTZ); ms truncation commutes with the session-tz
    # offset because offsets are whole seconds
    "toStartOfMillisecond": lambda args: (
        f"CAST(timestamp_micros(CAST(floor(unix_micros(CAST({args[0]} "
        f"AS TIMESTAMP)) / 1000) * 1000 AS BIGINT)) AS TIMESTAMP_NTZ)"
    ),
    "toStartOfMicrosecond": lambda args: f"({args[0]})",
    "toStartOfNanosecond": lambda args: f"({args[0]})",
    "timeDiff": lambda args: (
        f"(unix_timestamp({args[1]}) - unix_timestamp({args[0]}))"
    ),
    "dateTrunc": lambda args: (
        f"date_trunc({args[0]}, {args[1]})"
    ),
    # inverse of toDaysSinceYearZero (same 719528-day epoch offset)
    "fromDaysSinceYearZero": lambda args: (
        f"date_add(DATE '1970-01-01', CAST({args[0]} AS INT) - 719528)"
    ),
    "toUnixTimestamp64Nano": lambda args: (
        # CAST: unix_micros rejects TIMESTAMP_NTZ; session tz is pinned UTC
        # so the cast is the identity on wall-clock values
        f"(unix_micros(CAST({args[0]} AS TIMESTAMP)) * CAST(1000 AS BIGINT))"
    ),
    "UTCTimestamp": lambda args: "current_timestamp()",
    # vocabulary batch 15 (round 8): set-similarity, clamped running sums,
    # subsequence / case-insensitive search, capped uniq
    "arrayJaccardIndex": lambda args: (
        f"(CAST(size(array_intersect({args[0]}, {args[1]})) AS DOUBLE) / "
        f"size(array_union({args[0]}, {args[1]})))"
    ),
    # running sum that clamps at zero (CH semantics: a negative running
    # total resets to 0 before the next element is added)
    "arrayCumSumNonNegative": lambda args: (
        f"aggregate({args[0]}, named_struct('run', CAST(0 AS BIGINT), "
        f"'out', CAST(array() AS ARRAY<BIGINT>)), (a, x) -> "
        f"named_struct('run', greatest(CAST(0 AS BIGINT), a.run + x), "
        f"'out', a.out || array(greatest(CAST(0 AS BIGINT), a.run + x))), "
        f"a -> a.out)"
    ),
    # subsequence test: one fold over the haystack chars advancing a
    # pointer into the needle — O(|h|), no regex
    "hasSubsequence": lambda args: (
        f"CAST(aggregate(split({args[0]}, ''), 0, (acc, c) -> "
        f"IF(acc < length({args[1]}) AND c = substring({args[1]}, acc + 1, 1), "
        f"acc + 1, acc)) = length({args[1]}) AS INT)"
    ),
    "hasSubsequenceCaseInsensitive": lambda args: (
        f"CAST(aggregate(split(lower({args[0]}), ''), 0, (acc, c) -> "
        f"IF(acc < length({args[1]}) AND c = substring(lower({args[1]}), "
        f"acc + 1, 1), acc + 1, acc)) = length({args[1]}) AS INT)"
    ),
    "countSubstringsCaseInsensitive": lambda args: (
        f"CAST((length({args[0]}) - length(replace(lower({args[0]}), "
        f"lower({args[1]}), ''))) / length({args[1]}) AS BIGINT)"
    ),
    "positionCaseInsensitive": lambda args: (
        f"locate(lower({args[1]}), lower({args[0]})"
        + (f", {args[2]}" if len(args) > 2 else "")
        + ")"
    ),
    "positionCaseInsensitiveUTF8": lambda args: (
        f"locate(lower({args[1]}), lower({args[0]})"
        + (f", {args[2]}" if len(args) > 2 else "")
        + ")"
    ),
    "levenshteinDistance": _rename("levenshtein"),
    "editDistance": _rename("levenshtein"),
    "editDistanceUTF8": _rename("levenshtein"),  # Spark strings are UTF-8
    "max2": _rename("greatest"),
    "min2": _rename("least"),
    "sigmoid": lambda args: f"(1.0 / (1.0 + exp(-({args[0]}))))",
    # roundToExp2: largest power of two ≤ x; CH returns 0 for x < 1
    "roundToExp2": lambda args: (
        f"CASE WHEN ({args[0]}) < 1 THEN 0 "
        f"ELSE cast(pow(2, floor(log2({args[0]}))) as bigint) END"
    ),
    "regexpQuoteMeta": lambda args: (
        f"regexp_replace({args[0]}, "
        "'([\\\\\\\\.^$|?*+()\\\\[\\\\]{}])', '\\\\\\\\$1')"
    ),
    # toYearWeek mode 3 (ISO year*100 + ISO week); other MySQL modes would
    # need week-based patterns Spark 3 removed — rejected explicitly
    "toYearWeek": lambda args: (
        f"(extract(YEAROFWEEK FROM {args[0]}) * 100 + weekofyear({args[0]}))"
        if len(args) > 1 and args[1].strip() == "3"
        else (_raise(ChSqlError("toYearWeek: only ISO mode 3 is supported")))
    ),
    # stringJaccardIndex (23.x): Jaccard over the character sets
    "stringJaccardIndex": lambda args: (
        f"cast(size(array_intersect(array_distinct(split({args[0]}, '')), "
        f"array_distinct(split({args[1]}, '')))) as double) / "
        f"size(array_union(array_distinct(split({args[0]}, '')), "
        f"array_distinct(split({args[1]}, ''))))"
    ),
    # byteHammingDistance (23.x, alias mismatches): positionwise mismatches,
    # the length difference counted as mismatches (zip_with null-pads)
    "byteHammingDistance": lambda args: (
        f"aggregate(zip_with(split({args[0]}, ''), split({args[1]}, ''), "
        f"(x, y) -> case when x is null or y is null then 1 "
        f"when x <> y then 1 else 0 end), 0, (acc, v) -> acc + v)"
    ),
    "mismatches": lambda args: (
        f"aggregate(zip_with(split({args[0]}, ''), split({args[1]}, ''), "
        f"(x, y) -> case when x is null or y is null then 1 "
        f"when x <> y then 1 else 0 end), 0, (acc, v) -> acc + v)"
    ),
    "extractAllGroupsHorizontal": lambda args: _extract_all_groups(args, False),
    "extractAllGroupsVertical": lambda args: _extract_all_groups(args, True),
    "normalizeQuery": lambda args: (
        f"regexp_replace(regexp_replace(regexp_replace({args[0]}, "
        f"'/\\\\*.*?\\\\*/', ''), \"'[^']*'\", '?'), '\\\\b\\\\d+\\\\b', '?')"
    ),
    "normalizedQueryHash": lambda args: (
        f"xxhash64(regexp_replace(regexp_replace(regexp_replace({args[0]}, "
        f"'/\\\\*.*?\\\\*/', ''), \"'[^']*'\", '?'), '\\\\b\\\\d+\\\\b', '?'))"
    ),
    # CH arg order (lonA, latA, lonB, latB); haversine on the mean sphere
    "greatCircleDistance": lambda args: (
        f"(6372797.560856 * 2 * asin(sqrt("
        f"pow(sin(radians({args[3]} - {args[1]}) / 2), 2)"
        f" + cos(radians({args[1]})) * cos(radians({args[3]}))"
        f" * pow(sin(radians({args[2]} - {args[0]}) / 2), 2))))"
    ),
    "divideDecimal": lambda args: f"({args[0]} / {args[1]})",
    "multiplyDecimal": lambda args: f"({args[0]} * {args[1]})",
    # geohash pair (round 10): pure JVM interval-halving folds shared with
    # the KQL dialect (functions/geo.py::geohash_*_sql); precision must be
    # a literal (it sizes the fold), CH default 12
    "geohashEncode": lambda args: _geohash_encode_sql(
        args[0], args[1], _literal_int_ch(args[2]) if len(args) > 2 else 12
    ),
    "geohashDecode": lambda args: _geohash_decode_sql(args[0]),
    # H3 index math (round 8): pure bit-layout arithmetic per the public H3
    # spec — the geometry tier (geoToH3/h3ToGeo) stays behind the
    # documented library gate
    "h3GetResolution": lambda args: _h3_res(f"({args[0]})"),
    "h3GetBaseCell": lambda args: f"(shiftright(({args[0]}), 45) & 127)",
    "h3IsValid": _h3_is_valid,
    "h3ToParent": _h3_to_parent,
    "h3ToCenterChild": _h3_center_child,
    "h3ToChildren": _h3_children,
    "h3IsResClassIII": lambda args: f"(({_h3_res(f'({args[0]})')}) % 2 = 1)",
    "h3IsPentagon": lambda args: (
        f"((shiftright(({args[0]}), 45) & 127) IN {_H3_PENTAGONS} AND "
        f"forall(sequence(1, 15), __i -> "
        f"if(__i <= {_h3_res(f'({args[0]})')}, "
        f"{_h3_digit(f'({args[0]})', '__i')} = 0, true)))"
    ),
    "h3ToString": lambda args: f"lower(hex({args[0]}))",
    "stringToH3": lambda args: f"CAST(conv({args[0]}, 16, 10) AS BIGINT)",
    # unique cell count at a resolution: 2 poles + 120 * 7^res
    # (h3NumHexagons is the v3 lib name, h3GetNumCells the v4 one)
    "h3NumHexagons": lambda args: (
        f"(2L + 120L * CAST(power(7, {args[0]}) AS BIGINT))"
    ),
    "h3GetNumCells": lambda args: (
        f"(2L + 120L * CAST(power(7, {args[0]}) AS BIGINT))"
    ),
    "toYYYYMMDDhhmmss": lambda args: (
        f"cast(date_format({args[0]}, 'yyyyMMddHHmmss') as bigint)"
    ),
    # fromUnixTimestamp64Milli/Micro moved to the batch-21 block below
    # (TIMESTAMP_NTZ output — the repo's DateTime convention — and the
    # integer-div Nano variant live together there)
    "toUnixTimestamp64Milli": _rename("unix_millis"),
    "toUnixTimestamp64Second": _rename("unix_seconds"),
    # Twitter-snowflake id <-> DateTime (CH epoch 1288834974657 ms)
    "snowflakeToDateTime": lambda args: (
        f"timestamp_millis(shiftright({args[0]}, 22) + 1288834974657)"
    ),
    "dateTimeToSnowflake": lambda args: (
        f"shiftleft(unix_millis({args[0]}) - 1288834974657, 22)"
    ),
    # formatReadableTimeDelta(sec): largest-unit-first human rendering
    # (days/hours/minutes/seconds, zero units skipped, '0 seconds' floor)
    "formatReadableTimeDelta": lambda args: (
        "coalesce(nullif(concat_ws(', ', "
        f"CASE WHEN floor(({args[0]}) / 86400) > 0 THEN concat(CAST(floor(({args[0]}) / 86400) AS BIGINT), "
        f"IF(floor(({args[0]}) / 86400) = 1, ' day', ' days')) END, "
        f"CASE WHEN floor(({args[0]}) % 86400 / 3600) > 0 THEN concat(CAST(floor(({args[0]}) % 86400 / 3600) AS BIGINT), "
        f"IF(floor(({args[0]}) % 86400 / 3600) = 1, ' hour', ' hours')) END, "
        f"CASE WHEN floor(({args[0]}) % 3600 / 60) > 0 THEN concat(CAST(floor(({args[0]}) % 3600 / 60) AS BIGINT), "
        f"IF(floor(({args[0]}) % 3600 / 60) = 1, ' minute', ' minutes')) END, "
        f"CASE WHEN ({args[0]}) % 60 > 0 THEN concat(CAST(({args[0]}) % 60 AS BIGINT), "
        f"IF(({args[0]}) % 60 = 1, ' second', ' seconds')) END"
        "), ''), '0 seconds')"
    ),
    # timeSlots(start, duration[, size=1800]): slot starts covering the span
    "timeSlots": lambda args: (
        f"transform(sequence(0, CAST(floor((unix_timestamp({args[0]}) + {args[1]}) "
        f"/ {args[2] if len(args) > 2 else 1800}) - floor(unix_timestamp({args[0]}) "
        f"/ {args[2] if len(args) > 2 else 1800}) AS INT)), "
        f"__i -> timestamp_seconds((floor(unix_timestamp({args[0]}) "
        f"/ {args[2] if len(args) > 2 else 1800}) + __i) * {args[2] if len(args) > 2 else 1800}))"
    ),
    "toUnixTimestamp64Micro": _rename("unix_micros"),
    # batch 23 (round 9)
    "firstLine": lambda args: (
        f"element_at(split(replace({args[0]}, '\\r\\n', '\\n'), '\\n'), 1)"
    ),
    "positiveModulo": lambda args: f"pmod({args[0]}, {args[1]})",
    "pmod": lambda args: f"pmod({args[0]}, {args[1]})",
    # exact integer 10^n via a fold (pow() doubles lose exactness past
    # 1e15); n <= 0 guarded — sequence(1, 0) would count DOWN
    "intExp10": lambda args: (
        f"IF(CAST({args[0]} AS INT) <= 0, CAST(1 AS BIGINT), "
        f"aggregate(sequence(1, CAST({args[0]} AS INT)), "
        f"CAST(1 AS BIGINT), (__a, __x) -> __a * 10))"
    ),
    "toRelativeMinuteNum": lambda args: (
        f"CAST(floor(unix_timestamp({args[0]}) / 60) AS BIGINT)"
    ),
    "toRelativeSecondNum": lambda args: (
        f"CAST(unix_timestamp({args[0]}) AS BIGINT)"
    ),
    # UUIDv7: the first 48 bits (12 hex digits across the 8-4 groups)
    # carry the Unix millisecond timestamp
    "UUIDv7ToDateTime": lambda args: (
        f"CAST(timestamp_micros(CAST(conv(concat("
        f"substring({args[0]}, 1, 8), substring({args[0]}, 10, 4)), 16, 10) "
        f"AS BIGINT) * 1000) AS TIMESTAMP_NTZ)"
    ),
    # formatReadableQuantity(x): thousand/million/billion/trillion rendering
    # with two decimals (CH prints plain '%.2f' below a thousand)
    "formatReadableQuantity": lambda args: (
        f"CASE WHEN abs({args[0]}) >= 1e12 THEN "
        f"concat(format_string('%.2f', ({args[0]}) / 1e12), ' trillion') "
        f"WHEN abs({args[0]}) >= 1e9 THEN "
        f"concat(format_string('%.2f', ({args[0]}) / 1e9), ' billion') "
        f"WHEN abs({args[0]}) >= 1e6 THEN "
        f"concat(format_string('%.2f', ({args[0]}) / 1e6), ' million') "
        f"WHEN abs({args[0]}) >= 1e3 THEN "
        f"concat(format_string('%.2f', ({args[0]}) / 1e3), ' thousand') "
        f"ELSE format_string('%.2f', CAST({args[0]} AS DOUBLE)) END"
    ),
    # fromUnixTimestamp64Milli/Micro/Nano (tz argument out of subset —
    # DateTime64 here is naive TIMESTAMP_NTZ, the repo's table convention)
    "fromUnixTimestamp64Milli": lambda args: (
        f"CAST(timestamp_micros(CAST(({args[0]}) * 1000 AS BIGINT)) "
        f"AS TIMESTAMP_NTZ)"
    ),
    "fromUnixTimestamp64Micro": lambda args: (
        f"CAST(timestamp_micros(CAST({args[0]} AS BIGINT)) AS TIMESTAMP_NTZ)"
    ),
    "fromUnixTimestamp64Nano": lambda args: (
        # integer `div`, not `/`: nanosecond epochs exceed 2^53 and lose
        # microseconds through a double division
        f"CAST(timestamp_micros(CAST(({args[0]}) div 1000 AS BIGINT)) "
        f"AS TIMESTAMP_NTZ)"
    ),
    # Snowflake-ID epoch arithmetic (CH 24.6 *ToSnowflakeID family): the
    # Twitter epoch 1288834974657 ms, timestamp in the top 42 bits
    "snowflakeIDToDateTime": lambda args: (
        f"CAST(timestamp_micros((shiftright({args[0]}, 22) "
        f"+ CAST(1288834974657 AS BIGINT)) * 1000) AS TIMESTAMP_NTZ)"
    ),
    "snowflakeIDToDateTime64": lambda args: (
        f"CAST(timestamp_micros((shiftright({args[0]}, 22) "
        f"+ CAST(1288834974657 AS BIGINT)) * 1000) AS TIMESTAMP_NTZ)"
    ),
    "dateTime64ToSnowflakeID": lambda args: (
        f"shiftleft(CAST(floor(unix_micros(CAST({args[0]} AS TIMESTAMP)) "
        f"/ 1000) AS BIGINT) - CAST(1288834974657 AS BIGINT), 22)"
    ),
    "dateTimeToSnowflakeID": lambda args: (
        f"shiftleft(CAST(floor(unix_micros(CAST({args[0]} AS TIMESTAMP)) "
        f"/ 1000) AS BIGINT) - CAST(1288834974657 AS BIGINT), 22)"
    ),
    # ULIDStringToDateTime: the first 10 Crockford-base32 chars carry the
    # millisecond timestamp — one positional fold, no UDF
    "ULIDStringToDateTime": lambda args: (
        f"CAST(timestamp_micros(aggregate(sequence(1, 10), "
        f"CAST(0 AS BIGINT), (__a, __i) -> __a * 32 + "
        f"CAST(instr('0123456789ABCDEFGHJKMNPQRSTVWXYZ', "
        f"upper(substring({args[0]}, __i, 1))) - 1 AS BIGINT)) * 1000) "
        f"AS TIMESTAMP_NTZ)"
    ),
    "toModifiedJulianDay": lambda args: (
        f"datediff(cast({args[0]} as date), DATE '1858-11-17')"
    ),
    "currentDatabase": lambda args: "'default'",
    "currentUser": lambda args: "'default'",
    "hostName": lambda args: "'localhost'",
    "version": lambda args: "'25.7.4.11-compat-spark'",
    "sleep": lambda args: "0",  # no blocking in a distributed plan; CH returns 0
    # CH 3/4-arg lookup transform(x, from, to[, default]); 2-arg stays the
    # higher-order transform passthrough
    "transform": lambda args: (
        f"coalesce(element_at(map_from_arrays({args[1]}, {args[2]}), {args[0]}), "
        + (args[3] if len(args) > 3 else args[0])
        + ")"
        if len(args) >= 3
        else f"transform({', '.join(args)})"
    ),
    "formatReadableSize": lambda args: (
        f"CASE WHEN abs({args[0]}) >= 1073741824 "
        f"THEN concat(format_number({args[0]} / 1073741824, 2), ' GiB') "
        f"WHEN abs({args[0]}) >= 1048576 "
        f"THEN concat(format_number({args[0]} / 1048576, 2), ' MiB') "
        f"WHEN abs({args[0]}) >= 1024 "
        f"THEN concat(format_number({args[0]} / 1024, 2), ' KiB') "
        f"ELSE concat(format_number(cast({args[0]} as double), 2), ' B') END"
    ),
    "formatReadableDecimalSize": lambda args: (
        f"CASE WHEN abs({args[0]}) >= 1000000000 "
        f"THEN concat(format_number({args[0]} / 1000000000, 2), ' GB') "
        f"WHEN abs({args[0]}) >= 1000000 "
        f"THEN concat(format_number({args[0]} / 1000000, 2), ' MB') "
        f"WHEN abs({args[0]}) >= 1000 "
        f"THEN concat(format_number({args[0]} / 1000, 2), ' KB') "
        f"ELSE concat(format_number(cast({args[0]} as double), 2), ' B') END"
    ),
    "range": lambda args: (
        f"sequence(0, ({args[0]}) - 1)" if len(args) == 1
        else f"sequence({args[0]}, ({args[1]}) - 1" + (f", {args[2]}" if len(args) > 2 else "") + ")"
    ),
    "length": None,  # string length ↔ array size is context-dependent; passthrough
    # math / rounding
    "roundBankers": _rename("bround"),
    "intDiv": lambda args: f"CAST(try_divide({args[0]}, {args[1]}) AS BIGINT)",
    "intDivOrZero": lambda args: f"coalesce(CAST(try_divide({args[0]}, {args[1]}) AS BIGINT), 0)",
    "modulo": lambda args: f"({args[0]} % {args[1]})",
    "plus": lambda args: f"({args[0]} + {args[1]})",
    "minus": lambda args: f"({args[0]} - {args[1]})",
    "multiply": lambda args: f"({args[0]} * {args[1]})",
    "divide": lambda args: f"(CAST({args[0]} AS DOUBLE) / {args[1]})",
    "negate": lambda args: f"(-({args[0]}))",
    "gcd": None, "lcm": None,
    "exp2": lambda args: f"power(2, {args[0]})",
    "exp10": lambda args: f"power(10, {args[0]})",
    "log2": _rename("log2"), "log10": _rename("log10"),
    "intExp2": lambda args: f"CAST(power(2, {args[0]}) AS BIGINT)",
    # hash / encoding — Spark's hash family; VALUES DIFFER from CH's
    "cityHash64": _rename("xxhash64"),
    "sipHash64": _rename("xxhash64"),
    "farmHash64": _rename("xxhash64"),
    "halfMD5": lambda args: f"conv(substring(md5({args[0]}), 1, 16), 16, 10)",
    "MD5": _rename("md5"),
    "hex": _rename("hex"), "unhex": _rename("unhex"),
    "base64Encode": _rename("base64"), "base64Decode": _rename("unbase64"),
    # RFC 4648 §5 url-safe alphabet, unpadded (CH 24.6 contract)
    "base64URLEncode": lambda args: (
        f"translate(rtrim('=', base64({args[0]})), '+/', '-_')"
    ),
    "base64URLDecode": lambda args: (
        f"unbase64(concat(translate({args[0]}, '-_', '+/'), "
        f"repeat('=', (4 - length({args[0]}) % 4) % 4)))"
    ),
    # toDecimalString(v, scale): fixed-scale decimal text (25.x)
    "toDecimalString": lambda args: (
        f"CAST(CAST({args[0]} AS DECIMAL(38, {args[1]})) AS STRING)"
    ),
    "bitAnd": lambda args: f"({args[0]} & {args[1]})",
    "bitOr": lambda args: f"({args[0]} | {args[1]})",
    "bitXor": lambda args: f"({args[0]} ^ {args[1]})",
    "bitNot": lambda args: f"(~{args[0]})",
    "bitShiftLeft": _rename("shiftleft"), "bitShiftRight": _rename("shiftright"),
    # JSON
    "JSONExtractString": lambda args: _json_path("get_json_object", args),
    "JSONExtractInt": lambda args: f"CAST({_json_path('get_json_object', args)} AS BIGINT)",
    "JSONExtractFloat": lambda args: f"CAST({_json_path('get_json_object', args)} AS DOUBLE)",
    "JSONExtractBool": lambda args: f"CAST({_json_path('get_json_object', args)} AS BOOLEAN)",
    "JSONHas": lambda args: f"({_json_path('get_json_object', args)} IS NOT NULL)",
    "JSONLength": lambda args: f"json_array_length({args[0]})",
    # URL / IP
    "domain": lambda args: f"parse_url({args[0]}, 'HOST')",
    "path": lambda args: f"parse_url({args[0]}, 'PATH')",
    "protocol": lambda args: f"parse_url({args[0]}, 'PROTOCOL')",
    "queryString": lambda args: f"parse_url({args[0]}, 'QUERY')",
    "extractURLParameter": lambda args: f"parse_url({args[0]}, 'QUERY', {args[1]})",
    # misc
    "toTypeName": lambda args: f"typeof({args[0]})",
    "generateUUIDv4": _rename("uuid"),
    # IP / UUID / ULID conversion families (round 7; JVM lowerings shared
    # with functions/clickhouse_names.py — regexes double-escaped through
    # the SQL string-literal layer)
    "IPv4NumToString": lambda args: (
        f"concat_ws('.', CAST(CAST({args[0]} / 16777216 AS BIGINT) % 256 AS STRING), "
        f"CAST(CAST({args[0]} / 65536 AS BIGINT) % 256 AS STRING), "
        f"CAST(CAST({args[0]} / 256 AS BIGINT) % 256 AS STRING), "
        f"CAST({args[0]} % 256 AS STRING))"
    ),
    "IPv4StringToNum": lambda args: (
        f"(CAST(split({args[0]}, '\\\\.')[0] AS BIGINT) * 16777216 + "
        f"CAST(split({args[0]}, '\\\\.')[1] AS BIGINT) * 65536 + "
        f"CAST(split({args[0]}, '\\\\.')[2] AS BIGINT) * 256 + "
        f"CAST(split({args[0]}, '\\\\.')[3] AS BIGINT))"
    ),
    "isIPv4String": lambda args: (
        f"CAST({args[0]} RLIKE "
        "'^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\\\.){3}"
        "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$' AS INT)"
    ),
    "UUIDStringToNum": lambda args: f"unhex(replace({args[0]}, '-', ''))",
    "UUIDNumToString": lambda args: (
        f"concat_ws('-', substring(lower(hex({args[0]})), 1, 8), "
        f"substring(lower(hex({args[0]})), 9, 4), "
        f"substring(lower(hex({args[0]})), 13, 4), "
        f"substring(lower(hex({args[0]})), 17, 4), "
        f"substring(lower(hex({args[0]})), 21, 12))"
    ),
    "toUUIDOrNull": lambda args: (
        f"CASE WHEN {args[0]} RLIKE '^[0-9A-Fa-f]{{8}}-[0-9A-Fa-f]{{4}}-"
        f"[0-9A-Fa-f]{{4}}-[0-9A-Fa-f]{{4}}-[0-9A-Fa-f]{{12}}$' "
        f"THEN lower({args[0]}) END"
    ),
    "toUUIDOrDefault": lambda args: (
        f"CASE WHEN {args[0]} RLIKE '^[0-9A-Fa-f]{{8}}-[0-9A-Fa-f]{{4}}-"
        f"[0-9A-Fa-f]{{4}}-[0-9A-Fa-f]{{4}}-[0-9A-Fa-f]{{12}}$' "
        f"THEN lower({args[0]}) ELSE {args[1]} END"
    ),
    # UUIDToNum(uuid[, variant]): the FixedString(16) byte image; subset
    # variant 1 (big-endian — CH's default); variant 2 (MS mixed-endian)
    # stays out (documented)
    "UUIDToNum": _uuid_to_num_expr,
    # round-13 vocabulary batch (r40): tuple arithmetic closure, byte
    # slicing, case-insensitive match counting, Java/Hive hashes, CIDR
    # ranges, Tukey outlier scores
    "tupleIntDiv": lambda args: _tuple_pairwise(
        args, "CAST(try_divide({x}, {y}) AS BIGINT)", "tupleIntDiv"
    ),
    "tupleIntDivOrZero": lambda args: _tuple_pairwise(
        args, "coalesce(CAST(try_divide({x}, {y}) AS BIGINT), 0)",
        "tupleIntDivOrZero",
    ),
    "tupleModulo": lambda args: _tuple_pairwise(
        args, "(({x}) % ({y}))", "tupleModulo"
    ),
    "tupleMultiplyByNumber": lambda args: _tuple_by_number(
        args, "(({x}) * ({n}))", "tupleMultiplyByNumber"
    ),
    "tupleDivideByNumber": lambda args: _tuple_by_number(
        args, "(CAST({x} AS DOUBLE) / ({n}))", "tupleDivideByNumber"
    ),
    "tupleIntDivByNumber": lambda args: _tuple_by_number(
        args, "CAST(try_divide({x}, {n}) AS BIGINT)", "tupleIntDivByNumber"
    ),
    # byteSlice works on BYTES (substring is char-based — the BINARY
    # round-trip keeps multi-byte UTF-8 honest)
    "byteSlice": lambda args: (
        f"CAST(substr(CAST({args[0]} AS BINARY), {args[1]}, {args[2]}) "
        f"AS STRING)" if len(args) == 3
        else f"CAST(substr(CAST({args[0]} AS BINARY), {args[1]}) AS STRING)"
    ),
    "countMatchesCaseInsensitive": lambda args: (
        f"regexp_count({args[0]}, concat('(?i)', {args[1]}))"
    ),
    "javaHash": _java_hash_expr,
    "hiveHash": _hive_hash_expr,
    "ipv4CIDRToRange": _ipv4_cidr_to_range_expr,
    "seriesOutliersDetectTukey": _series_outliers_tukey_expr,
    # round-13 batch 5: the IPv6 byte/text tier (RFC 5952 render),
    # parseReadableSize trio, MappedArrays aliases of the Map aggregates
    "IPv6StringToNum": _ipv6_string_to_num_expr,
    "IPv6NumToString": _ipv6_num_to_string_expr,
    "cutIPv6": _cut_ipv6_expr,
    "parseReadableSize": lambda args: _parse_readable_size_expr(args, ""),
    "parseReadableSizeOrNull": lambda args: _parse_readable_size_expr(
        args, "OrNull"
    ),
    "parseReadableSizeOrZero": lambda args: _parse_readable_size_expr(
        args, "OrZero"
    ),
    "sumMappedArrays": lambda args: _map_agg_expr(
        args, "sum", "sumMappedArrays"
    ),
    "minMappedArrays": lambda args: _map_agg_expr(
        args, "min", "minMappedArrays"
    ),
    "maxMappedArrays": lambda args: _map_agg_expr(
        args, "max", "maxMappedArrays"
    ),
    # CH rand() is a uniform UInt32 (users write rand() % N) — NOT a [0,1)
    # double; randCanonical() is the [0,1) form
    "rand": lambda args: "cast(floor(rand() * 4294967296) as bigint)",
    # table function: numbers(N) / numbers(offset, N) → range() subquery,
    # column renamed to CH's `number`
    "numbers": lambda args: (
        f"(SELECT id AS number FROM range({args[0]}))"
        if len(args) == 1
        else f"(SELECT id AS number FROM range({args[0]}, ({args[0]}) + ({args[1]})))"
    ),
    # generate_series / generateSeries (CH 24.x table function): INCLUSIVE
    # upper bound (unlike numbers), optional step — range() subquery with
    # CH's `generate_series` output column name
    "generate_series": lambda args: (
        f"(SELECT id AS generate_series FROM "
        f"range({args[0]}, ({args[1]}) + 1"
        + (f", {args[2]}" if len(args) > 2 else "")
        + "))"
    ),
    "generateSeries": lambda args: (
        f"(SELECT id AS generate_series FROM "
        f"range({args[0]}, ({args[1]}) + 1"
        + (f", {args[2]}" if len(args) > 2 else "")
        + "))"
    ),
    # zeros(N): CH's constant-zero test table function
    "zeros": lambda args: (
        f"(SELECT CAST(0 AS TINYINT) AS zero FROM range({args[0]}))"
    ),
    # file('/path', Format) table function → Spark's direct-file read
    # (`SELECT * FROM parquet.`/path``); the everyday formats map onto the
    # datasource names, text formats get CH-matching options
    "file": _file_table_function,
    "url": _file_table_function,  # Hadoop-compatible URLs read the same way
    # bitmap family over the array-state representation (operators/bitmap.py):
    # groupBitmap returns the CARDINALITY (CH contract), -State the bitmap
    "groupBitmap": lambda args: f"count(DISTINCT {args[0]})",
    "groupBitmapState": lambda args: f"array_sort(collect_set({args[0]}))",
    "bitmapBuild": lambda args: f"array_sort(array_distinct({args[0]}))",
    "bitmapCardinality": lambda args: f"size({args[0]})",
    "bitmapAnd": lambda args: f"array_sort(array_intersect({args[0]}, {args[1]}))",
    "bitmapOr": lambda args: f"array_sort(array_union({args[0]}, {args[1]}))",
    "bitmapAndnot": lambda args: f"array_sort(array_except({args[0]}, {args[1]}))",
    "bitmapXor": lambda args: (
        f"array_sort(array_except(array_union({args[0]}, {args[1]}),"
        f" array_intersect({args[0]}, {args[1]})))"
    ),
    "bitmapHasAny": lambda args: f"arrays_overlap({args[0]}, {args[1]})",
    "bitmapHasAll": lambda args: f"(size(array_except({args[1]}, {args[0]})) = 0)",
    "bitmapContains": lambda args: f"array_contains({args[0]}, {args[1]})",
    "bitmapMin": lambda args: f"array_min({args[0]})",
    "bitmapMax": lambda args: f"array_max({args[0]})",
    "bitmapToArray": lambda args: f"{args[0]}",
    # groupBitmapAnd/Or/Xor (batch 19b): fold the GROUP's bitmap states
    # with the set op and return the CARDINALITY (CH contract).  Init =
    # the first collected state (slice trick for the rest) — one fold over
    # #rows-in-group states; And/Or/Xor are associative+commutative, so
    # the collect order never changes the result.
    "groupBitmapAnd": lambda args: (
        f"size(aggregate(slice(collect_list({args[0]}), 2, "
        f"size(collect_list({args[0]})) - 1), "
        f"element_at(collect_list({args[0]}), 1), "
        f"(__acc, __b) -> array_intersect(__acc, __b)))"
    ),
    "groupBitmapOr": lambda args: (
        f"size(aggregate(collect_list({args[0]}), "
        f"slice(element_at(collect_list({args[0]}), 1), 1, 0), "
        f"(__acc, __b) -> array_union(__acc, __b)))"
    ),
    "groupBitmapXor": lambda args: (
        f"size(aggregate(collect_list({args[0]}), "
        f"slice(element_at(collect_list({args[0]}), 1), 1, 0), "
        f"(__acc, __b) -> array_except(array_union(__acc, __b), "
        f"array_intersect(__acc, __b))))"
    ),
    # -Array combinators: the aggregate consumes array elements across rows
    "sumArray": lambda args: (
        f"sum(aggregate({args[0]}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    ),
    "uniqArray": lambda args: (
        f"size(array_distinct(flatten(collect_list({args[0]}))))"
    ),
    "countArray": lambda args: f"sum(size({args[0]}))",
    # --- vocabulary sweep batch 3: search/split, arrays, dates, maps, rand --
    "extractAll": lambda args: f"regexp_extract_all({args[0]}, {args[1]}, 0)",
    "alphaTokens": lambda args: (
        f"filter(split({args[0]}, '[^A-Za-z]+', -1), x -> x != '')"
    ),
    "splitByNonAlpha": lambda args: (
        f"filter(split({args[0]}, '[^A-Za-z0-9]+', -1), x -> x != '')"
    ),
    "splitByWhitespace": lambda args: (
        f"filter(split({args[0]}, '\\\\s+', -1), x -> x != '')"
    ),
    "tokens": lambda args: (
        f"filter(split({args[0]}, '[^A-Za-z0-9]+', -1), x -> x != '')"
    ),
    # character n-grams: sequence is clamped to >= 1 element so it never
    # flips descending; short tails are filtered by length
    "ngrams": lambda args: (
        f"filter(transform(sequence(1, greatest(length({args[0]}) - ({args[1]})"
        f" + 1, 1)), i -> substring({args[0]}, i, {args[1]})),"
        f" x -> length(x) = ({args[1]}))"
    ),
    "multiSearchAny": lambda args: (
        # CH returns UInt8 (0/1), not boolean
        f"CAST(exists({args[1]}, p -> locate(p, {args[0]}) > 0) AS INT)"
    ),
    # hasToken: exact token membership per the default tokenizer (split at
    # non-alphanumeric runs) — what the full_text index accelerates
    "hasToken": lambda args: (
        f"array_contains(filter(split({args[0]}, '[^a-zA-Z0-9]+'), "
        f"t -> t != ''), {args[1]})"
    ),
    "hasTokenCaseInsensitive": lambda args: (
        f"array_contains(filter(split(lower({args[0]}), '[^a-zA-Z0-9]+'), "
        f"t -> t != ''), lower({args[1]}))"
    ),
    "multiSearchFirstIndex": lambda args: (
        f"coalesce(array_position(transform({args[1]}, "
        f"p -> locate(p, {args[0]}) > 0), true), 0)"
    ),
    "positionUTF8": lambda args: f"locate({args[1]}, {args[0]})",
    # Spark strings are re-encoded valid UTF-8 on read → identity
    "toValidUTF8": lambda args: args[0],
    "arrayResize": lambda args: _array_resize(args),
    "arrayEnumerateUniq": lambda args: (
        f"transform({args[0]}, (x, i) -> "
        f"size(filter(slice({args[0]}, 1, i + 1), y -> y = x)))"
    ),
    "countEqual": lambda args: f"size(filter({args[0]}, y -> y = {args[1]}))",
    "arrayShuffle": _rename("shuffle"),
    "arrayReverseSort": lambda args: _array_reverse_sort(args),
    # array rotation/shift (23.8): slice/concat compositions — pmod
    # normalizes any n sign/magnitude; CASE guards size<=1 (pmod by zero)
    "arrayRotateLeft": lambda args: _array_rotate(args[0], args[1]),
    "arrayRotateRight": lambda args: _array_rotate(args[0], f"-({args[1]})"),
    "arrayShiftLeft": lambda args: _array_shift(args, right=False),
    "arrayShiftRight": lambda args: _array_shift(args, right=True),
    # dates: CH dateAdd/timestampAdd take (unit, n, d) with a bare or quoted
    # unit keyword; Spark dateadd is the same shape with a bare unit
    "dateAdd": lambda args: (
        f"dateadd({args[0].strip(chr(39))}, {args[1]}, {args[2]})"
    ),
    "timestampAdd": lambda args: (
        f"dateadd({args[0].strip(chr(39))}, {args[1]}, {args[2]})"
    ),
    "timestampSub": lambda args: (
        f"dateadd({args[0].strip(chr(39))}, -({args[1]}), {args[2]})"
    ),
    "nowInBlock": lambda args: "current_timestamp()",
    "fromModifiedJulianDay": lambda args: (
        f"date_add(DATE '1858-11-17', CAST({args[0]} AS INT))"
    ),
    "toIntervalYear": lambda args: f"({args[0]} * INTERVAL 1 YEAR)",
    "toIntervalMonth": lambda args: f"({args[0]} * INTERVAL 1 MONTH)",
    "toIntervalWeek": lambda args: f"({args[0]} * INTERVAL 7 DAY)",
    # CH 25.x generic form: toInterval(n, 'unit') — unit a string literal
    "toInterval": _to_interval_expr,
    # WINDOW VIEW time-window functions (batch analog — see docstring);
    # tumbleStart/tumbleEnd live with the original entries above (arity
    # dispatch: 1-arg struct extraction vs the 2-arg direct form)
    "tumble": lambda a: _window_tvf_expr(a, "tumble"),
    "hop": lambda a: _window_tvf_expr(a, "hop"),
    # hopStart/hopEnd mirror the tumbleStart arity dispatch (ADVICE r12
    # #4): 1-arg extracts from a hop() struct, 3-arg is the direct
    # hopStart(time, slide, size) documented form.  NOTE: the direct
    # form is the FIRST hop window's start/end (CH semantics: the
    # earliest window containing `time`), i.e. the hop struct itself.
    "hopStart": lambda a: _hop_start_end_expr(a, "start"),
    "hopEnd": lambda a: _hop_start_end_expr(a, "end"),
    "toIntervalMinute": lambda args: f"({args[0]} * INTERVAL 1 MINUTE)",
    "toIntervalSecond": lambda args: f"({args[0]} * INTERVAL 1 SECOND)",
    "parseDateTime": lambda args: _parse_datetime(args),
    "parseDateTime64BestEffort": lambda args: (
        f"coalesce(try_to_timestamp({args[0]}), "
        f"try_to_timestamp({args[0]}, 'yyyy/MM/dd HH:mm:ss'), "
        f"try_to_timestamp({args[0]}, 'dd/MM/yyyy HH:mm:ss'), "
        f"try_to_timestamp({args[0]}, 'yyyyMMddHHmmss'), "
        f"try_to_timestamp({args[0]}, 'yyyy-MM-dd'))"
    ),
    "dateName": lambda args: _date_name(args),
    # maps (value merge; CH mapAdd sums matching keys)
    "mapAdd": lambda args: _nest_binary_map_add(args, "+"),
    "mapSubtract": lambda args: _nest_binary_map_add(args, "-"),
    "mapConcat": lambda args: _map_concat(args),
    "tuple": lambda args: "struct(" + ", ".join(args) + ")",
    # random distributions (CH 22.10 family); rand() itself is the UInt32 form
    "randNormal": lambda args: f"(({args[0]}) + randn() * ({args[1]}))",
    "randUniform": lambda args: (
        f"(({args[0]}) + rand() * (({args[1]}) - ({args[0]})))"
    ),
    "randBernoulli": lambda args: f"CAST(rand() < ({args[0]}) AS INT)",
    "randExponential": lambda args: f"(-ln(1.0 - rand()) / ({args[0]}))",
    # --- vocabulary sweep batch 5: buckets, matches, bytes, year-zero ------
    "widthBucket": lambda args: (
        f"width_bucket({args[0]}, {args[1]}, {args[2]}, {args[3]})"
    ),
    "countMatches": lambda args: f"regexp_count({args[0]}, {args[1]})",
    # multi-needle search family (round 7): the needle list is a CH array
    # literal → already rewritten to array(...) by the bracket pass
    "multiSearchAllPositions": lambda args: (
        f"transform({args[1]}, __n -> CAST(locate(__n, {args[0]}) AS BIGINT))"
    ),
    "multiMatchAny": lambda args: (
        f"CAST(exists({args[1]}, __r -> {args[0]} RLIKE __r) AS INT)"
    ),
    "multiMatchAnyIndex": lambda args: (
        f"coalesce(array_position(transform({args[1]}, "
        f"__r -> {args[0]} RLIKE __r), true), 0)"
    ),
    # fuzzy tier (round 15): Sellers approximate-substring DP over
    # literal patterns (the hyperscan regex-fuzzy tier is out of subset)
    "multiFuzzyMatchAny": lambda args: _multi_fuzzy_match_expr(args, "Any"),
    "multiFuzzyMatchAnyIndex": lambda args: (
        _multi_fuzzy_match_expr(args, "AnyIndex")
    ),
    "multiFuzzyMatchAllIndices": lambda args: (
        _multi_fuzzy_match_expr(args, "AllIndices")
    ),
    "extractGroups": _extract_groups_rule,
    "toDaysSinceYearZero": lambda args: (
        f"CAST(datediff({args[0]}, DATE '1970-01-01') + 719528 AS BIGINT)"
    ),
    # byteSwap on the unsigned-32 domain in BIGINT: pure shift/mask
    "byteSwap": lambda args: (
        f"(((({args[0]}) & 255) * 16777216) + "
        f"((shiftright(({args[0]}), 8) & 255) * 65536) + "
        f"((shiftright(({args[0]}), 16) & 255) * 256) + "
        f"(shiftright(({args[0]}), 24) & 255))"
    ),
    # translate / initcap / soundex / regexp_count exist verbatim in Spark —
    # they pass through with no rule needed.
    # no-op / planner-hint vocabulary: evaluate-and-discard semantics
    "ignore": lambda args: "0",
    "identity": lambda args: args[0],
    "materialize": lambda args: args[0],
    "indexHint": lambda args: "true",
    "serverVersion": lambda args: "'25.7.4.11-compat-spark'",
    # dictionaries: dictGet over the catalog's declared dictionaries becomes
    # a correlated scalar subquery (Catalyst rewrites it to a left join;
    # operators/dictionary.dict_get stays the explicit-broadcast fast path)
    "dictGet": lambda args: _dict_get(args[0], args[1], args[2]),
    "dictGetOrDefault": lambda args: (
        f"COALESCE({_dict_get(args[0], args[1], args[2])}, {args[3]})"
    ),
    "dictHas": lambda args: (
        f"({_dict_get(args[0], None, args[1], count=True)} > 0)"
    ),
    # --- vocabulary batches 7/8 (round 6) on the TEXT path ------------------
    "isNaN": lambda args: f"isnan(CAST({args[0]} AS DOUBLE))",
    "ifNotFinite": lambda args: (
        f"(CASE WHEN isnan(CAST({args[0]} AS DOUBLE)) "
        f"OR abs(CAST({args[0]} AS DOUBLE)) = double('Infinity') "
        f"THEN CAST({args[1]} AS DOUBLE) ELSE CAST({args[0]} AS DOUBLE) END)"
    ),
    "bitTestAll": lambda args: "(" + " AND ".join(
        f"((shiftright({args[0]}, cast({p} as int)) & 1) = 1)" for p in args[1:]
    ) + ")",
    "bitTestAny": lambda args: "(" + " OR ".join(
        f"((shiftright({args[0]}, cast({p} as int)) & 1) = 1)" for p in args[1:]
    ) + ")",
    "bitRotateLeft": lambda args: (
        f"(shiftleft({args[0]}, cast({args[1]} as int) % 64) | "
        f"shiftrightunsigned({args[0]}, 64 - cast({args[1]} as int) % 64))"
    ),
    "bitHammingDistance": lambda args: f"bit_count(({args[0]}) ^ ({args[1]}))",
    "tupleNames": lambda args: f"json_object_keys(to_json({args[0]}))",
    "YYYYMMDDToDate": lambda args: (
        f"try_to_date(CAST(CAST({args[0]} AS BIGINT) AS STRING), 'yyyyMMdd')"
    ),
    "YYYYMMDDhhmmssToDateTime": lambda args: (
        f"try_to_timestamp(CAST(CAST({args[0]} AS BIGINT) AS STRING), "
        f"'yyyyMMddHHmmss')"
    ),
    "hasSubstr": lambda args: (
        f"(CASE WHEN size({args[1]}) = 0 THEN true "
        f"WHEN size({args[1]}) > size({args[0]}) THEN false "
        f"ELSE coalesce(exists(sequence(1, size({args[0]}) - size({args[1]}) + 1), "
        f"__i -> slice({args[0]}, __i, size({args[1]})) = {args[1]}), false) END)"
    ),
    "L1Norm": lambda args: (
        f"aggregate({args[0]}, 0.0D, (__a, __x) -> __a + abs(CAST(__x AS DOUBLE)))"
    ),
    "LinfNorm": lambda args: (
        f"aggregate({args[0]}, 0.0D, (__a, __x) -> "
        f"greatest(__a, abs(CAST(__x AS DOUBLE))))"
    ),
    "L1Distance": lambda args: (
        f"aggregate(zip_with({args[0]}, {args[1]}, (__x, __y) -> "
        f"abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))), 0.0D, "
        f"(__a, __x) -> __a + __x)"
    ),
    "LinfDistance": lambda args: (
        f"aggregate(zip_with({args[0]}, {args[1]}, (__x, __y) -> "
        f"abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))), 0.0D, "
        f"(__a, __x) -> greatest(__a, __x))"
    ),
    "normalizeL2": lambda args: (
        f"transform({args[0]}, __x -> CAST(__x AS DOUBLE) / "
        f"nullif(sqrt(aggregate({args[0]}, 0.0D, (__a, __y) -> "
        f"__a + CAST(__y AS DOUBLE) * CAST(__y AS DOUBLE))), 0.0D))"
    ),
    "greatCircleAngle": lambda args: (
        f"degrees(2 * asin(least(1.0D, sqrt("
        f"pow(sin(radians(({args[3]}) - ({args[1]})) / 2), 2) + "
        f"cos(radians({args[1]})) * cos(radians({args[3]})) * "
        f"pow(sin(radians(({args[2]}) - ({args[0]})) / 2), 2)))))"
    ),
    # ------------------------------------------------------------------
    # batch r45 (round 14, tranche 2): introspection constants, the
    # overlay/subcolumn/map-quantifier closers, CI search variants.
    # Single-node constants mirror the fixed session the engine builds
    # (session.py: timeZone=UTC, database 'default') — same policy as
    # currentDatabase/hostName/version above.
    "timeZone": lambda args: "'UTC'",
    "timezone": lambda args: "'UTC'",  # documented upstream alias
    "serverTimeZone": lambda args: "'UTC'",
    "serverTimezone": lambda args: "'UTC'",  # documented upstream alias
    # toTimeWithFixedDate(t, anchor_date): toTime's generalized form —
    # the time-of-day re-anchored on the given date
    "toTimeWithFixedDate": lambda args: (
        f"(CAST({args[1]} AS TIMESTAMP) + make_dt_interval(0, 0, 0, "
        f"CAST(unix_timestamp({args[0]}) % 86400 AS DOUBLE)))"
    ),
    "uptime": lambda args: "CAST(0 AS BIGINT)",
    "zookeeperSessionUptime": lambda args: "CAST(0 AS BIGINT)",
    "serverUUID": lambda args: "'00000000-0000-0000-0000-000000000000'",
    "displayName": lambda args: "'localhost'",
    "currentSchemas": lambda args: "array('default')",
    "currentRoles": lambda args: "array('default')",
    "defaultRoles": lambda args: "array('default')",
    "enabledRoles": lambda args: "array('default')",
    "currentProfiles": lambda args: "array('default')",
    "enabledProfiles": lambda args: "array('default')",
    "getOSKernelVersion": lambda args: "'Linux'",
    # 25.7 returns 206 for Atomic-engine databases (the name suffix the
    # engine reserves for the UUID link); constant here — no path limits
    "getMaxTableNameLengthForDatabase": lambda args: "CAST(206 AS BIGINT)",
    "transactionID": lambda args: (
        "named_struct('col1', CAST(0 AS BIGINT), 'col2', CAST(0 AS BIGINT), "
        "'col3', '00000000-0000-0000-0000-000000000000')"
    ),
    # overlay(s, replace, offset[, len]): CH counts a negative offset from
    # the end (-1 = last char); len defaults to length(replace) on both
    # engines, so the 3-arg form passes through
    "overlay": _overlay_expr,
    "overlayUTF8": _overlay_expr,
    "isNotDistinctFrom": lambda args: f"({args[0]} <=> {args[1]})",
    "getSubcolumn": _get_subcolumn,
    "addQuarters": _ts_add("QUARTER"),
    "subtractQuarters": _ts_add("QUARTER", "-"),
    "toRelativeYearNum": lambda args: f"year({args[0]})",
    # sub-second interval constructors: day-time intervals carry
    # microsecond precision — toIntervalNanosecond truncates to the
    # enclosing microsecond (documented; CH stores Int64 ticks)
    "toIntervalMillisecond": lambda args: (
        f"make_dt_interval(0, 0, 0, ({args[0]}) * 0.001D)"
    ),
    "toIntervalMicrosecond": lambda args: (
        f"make_dt_interval(0, 0, 0, ({args[0]}) * 0.000001D)"
    ),
    "toIntervalNanosecond": lambda args: (
        f"make_dt_interval(0, 0, 0, "
        f"CAST(floor(({args[0]}) / 1000) AS DOUBLE) * 0.000001D)"
    ),
    "multiSearchFirstPositionCaseInsensitive": lambda args: (
        f"coalesce(array_min(filter(transform({args[1]}, "
        f"__n -> locate(lower(__n), lower({args[0]}))), __p -> __p > 0)), 0)"
    ),
    "multiSearchFirstIndexCaseInsensitive": lambda args: (
        f"coalesce(array_position(transform({args[1]}, "
        f"__n -> locate(lower(__n), lower({args[0]})) > 0), true), 0)"
    ),
    "toFloat32OrZero": lambda args: (
        f"coalesce(try_cast({args[0]} AS FLOAT), CAST(0 AS FLOAT))"
    ),
    # Spark strings are UTF-8 native → the UTF8 variants share lowerings
    "hasSubsequenceUTF8": lambda args: (
        FUNC_RULES["hasSubsequence"](args)
    ),
    "hasSubsequenceCaseInsensitiveUTF8": lambda args: (
        FUNC_RULES["hasSubsequenceCaseInsensitive"](args)
    ),
    "countSubstringsCaseInsensitiveUTF8": lambda args: (
        FUNC_RULES["countSubstringsCaseInsensitive"](args)
    ),
    "mapExists": lambda args: _map_pred(args, "exists", "mapExists"),
    "mapAll": lambda args: _map_pred(args, "forall", "mapAll"),
    # mapPartialSort(limit, m): CH leaves entries past `limit` in
    # unspecified order — a full sort is a valid instance of that
    # contract (and the only deterministic one); the comparator form
    # is rejected like mapApply rejects non-tuple lambdas
    "mapPartialSort": lambda args: (
        f"map_from_entries(array_sort(map_entries({args[1]})))"
        if len(args) == 2
        else _raise(ChSqlError(
            "mapPartialSort: only the (limit, map) form is supported"))
    ),
    "extractKeyValuePairs": _extract_key_value_pairs,
    # documented upstream aliases of extractKeyValuePairs
    "str_to_map": _extract_key_value_pairs,
    "mapFromString": _extract_key_value_pairs,
    # ------------------------------------------------------------------
    # batch r51 (round 14, tranche 2): wide-integer casts on
    # DECIMAL(38,0) — Spark's widest exact integer.  DOCUMENTED RANGE
    # DEVIATION: CH's Int128/256 reach ±2^127/±2^255; values beyond 38
    # decimal digits fail the cast here (throw under ANSI for the
    # strict form; NULL/0/default for the Or-variants) instead of
    # wrapping.  All in-range arithmetic is exact.
    "toInt128": lambda args: f"CAST({args[0]} AS DECIMAL(38,0))",
    "toUInt128": lambda args: f"CAST({args[0]} AS DECIMAL(38,0))",
    "toInt256": lambda args: f"CAST({args[0]} AS DECIMAL(38,0))",
    "toUInt256": lambda args: f"CAST({args[0]} AS DECIMAL(38,0))",
    "toInt128OrNull": lambda args: (
        f"try_cast({args[0]} AS DECIMAL(38,0))"),
    "toUInt128OrNull": lambda args: (
        f"try_cast({args[0]} AS DECIMAL(38,0))"),
    "toInt256OrNull": lambda args: (
        f"try_cast({args[0]} AS DECIMAL(38,0))"),
    "toUInt256OrNull": lambda args: (
        f"try_cast({args[0]} AS DECIMAL(38,0))"),
    "toInt128OrZero": lambda args: (
        f"coalesce(try_cast({args[0]} AS DECIMAL(38,0)), "
        f"CAST(0 AS DECIMAL(38,0)))"),
    "toUInt128OrZero": lambda args: (
        f"coalesce(try_cast({args[0]} AS DECIMAL(38,0)), "
        f"CAST(0 AS DECIMAL(38,0)))"),
    "toInt256OrZero": lambda args: (
        f"coalesce(try_cast({args[0]} AS DECIMAL(38,0)), "
        f"CAST(0 AS DECIMAL(38,0)))"),
    "toUInt256OrZero": lambda args: (
        f"coalesce(try_cast({args[0]} AS DECIMAL(38,0)), "
        f"CAST(0 AS DECIMAL(38,0)))"),
    # generateUUIDv7 (RFC 9562): unix-millis in the first 48 bits,
    # version nibble 7, variant 10xx; entropy bits ride a fresh uuid().
    # Nondeterministic BY DESIGN — registry checks are structure
    # contracts (version/variant/timestamp recency), like CH's own
    "generateUUIDv7": lambda args: (
        "transform(array(named_struct("
        "'t', lpad(lower(hex(unix_millis(now()))), 12, '0'), "
        "'u', replace(uuid(), '-', ''))), __g -> concat("
        "substring(__g.t, 1, 8), '-', substring(__g.t, 9, 4), '-7', "
        "substring(__g.u, 2, 3), '-', "
        "element_at(array('8', '9', 'a', 'b'), "
        "CAST(conv(substring(__g.u, 5, 1), 16, 10) AS INT) % 4 + 1), "
        "substring(__g.u, 6, 3), '-', substring(__g.u, 9, 12)))[0]"
    ),
    # generateSnowflakeID: Twitter-epoch millis << 22 | per-row
    # sequence — monotonically_increasing_id is unique per row within
    # the job (partition bits + counter), matching the uniqueness
    # contract; machine-id bits fold into the sequence field
    "generateSnowflakeID": lambda args: (
        "(shiftleft(unix_millis(now()) - CAST(1288834974657 AS BIGINT), "
        "22) + pmod(monotonically_increasing_id(), 4194304))"
    ),
    # ------------------------------------------------------------------
    # batch r46 (round 14, tranche 2): the encoding tier — RFC 4648
    # base32, XML/HTML entity codecs, extractTextFromHTML, the
    # reinterpret little-endian loads, javaHashUTF16LE (real UTF-16
    # String.hashCode, vs javaHash's CH byte-fold quirk)
    "base32Encode": _base32_encode_expr,
    "base32Decode": lambda args: _base32_decode_expr(args, False),
    "tryBase32Decode": lambda args: _base32_decode_expr(args, True),
    "encodeXMLComponent": _encode_xml_component_expr,
    "decodeXMLComponent": lambda args: _decode_entities_expr(
        args, {"amp": 38, "lt": 60, "gt": 62, "quot": 34, "apos": 39},
        "decodeXMLComponent"),
    "decodeHTMLComponent": lambda args: _decode_entities_expr(
        args, _HTML_ENTITIES, "decodeHTMLComponent"),
    "extractTextFromHTML": _extract_text_from_html_expr,
    "reinterpretAsUInt8": lambda args: (
        _reinterpret_as_uint_expr(args, 1)),
    "reinterpretAsUInt16": lambda args: (
        _reinterpret_as_uint_expr(args, 2)),
    "reinterpretAsUInt32": lambda args: (
        _reinterpret_as_uint_expr(args, 4)),
    "reinterpretAsUInt64": lambda args: (
        _reinterpret_as_uint_expr(args, 8)),
    "reinterpretAsString": _reinterpret_as_string_expr,
    "javaHashUTF16LE": _java_hash_utf16le_expr,
    # ------------------------------------------------------------------
    # batch r47 (round 14, tranche 2): the IP-type closure + geo closers.
    # IPv4 carries as UInt32 (IPv4StringToNum's image), IPv6 as the 16
    # raw bytes (IPv6StringToNum's image) — render with IPv4NumToString /
    # IPv6NumToString as CH's implicit-toString would.
    "toIPv4": lambda args: _to_ipv4_expr(args, "NULL"),
    "toIPv4OrNull": lambda args: _to_ipv4_expr(args, "NULL"),
    "toIPv4OrZero": lambda args: _to_ipv4_expr(args, "CAST(0 AS BIGINT)"),
    "toIPv4OrDefault": lambda args: _to_ipv4_expr(
        args, args[1] if len(args) > 1 else "CAST(0 AS BIGINT)"),
    "toIPv6": lambda args: _to_ipv6_expr(args, "NULL"),
    "toIPv6OrNull": lambda args: _to_ipv6_expr(args, "NULL"),
    "toIPv6OrZero": lambda args: _to_ipv6_expr(
        args, "unhex(repeat('0', 32))"),
    "toIPv6OrDefault": lambda args: _to_ipv6_expr(
        args, args[1] if len(args) > 1 else "unhex(repeat('0', 32))"),
    "IPv4ToIPv6": lambda args: (
        f"unhex(concat('00000000000000000000ffff', "
        f"lpad(lower(hex(CAST({args[0]} AS BIGINT))), 8, '0')))"
    ),
    "isIPAddressInRange": _is_ip_address_in_range_expr,
    # batch r48: the array-edit-distance tier as pure-JVM DP folds
    "arrayLevenshteinDistance": _array_levenshtein_expr,
    "arrayLevenshteinDistanceWeighted": _array_levenshtein_weighted_expr,
    "arraySimilarity": _array_similarity_expr,
    # ------------------------------------------------------------------
    # batch r49 (round 14, tranche 2): string/date closers + AES codecs.
    "ascii": _rename("ascii"),
    "repeat": _rename("repeat"),
    "space": _rename("space"),
    # CH reverse is byte-level; Spark's is character-level — identical
    # for ASCII/1-byte text, reverseUTF8 semantics otherwise (documented)
    "reverse": _rename("reverse"),
    # left/right with CH's negative-length rule (all but the last/first n)
    "left": lambda args: (
        f"IF(({args[1]}) < 0, "
        f"substring({args[0]}, 1, greatest(0, length({args[0]}) "
        f"+ ({args[1]}))), left({args[0]}, {args[1]}))"
    ),
    "right": lambda args: (
        f"IF(({args[1]}) < 0, "
        f"substring({args[0]}, -({args[1]}) + 1), "
        f"right({args[0]}, {args[1]}))"
    ),
    "leftUTF8": lambda args: FUNC_RULES["left"](args),
    "rightUTF8": lambda args: FUNC_RULES["right"](args),
    "substringIndexUTF8": lambda args: (
        f"substring_index({args[0]}, {args[1]}, {args[2]})"
    ),
    "ilike": lambda args: f"({args[0]} ILIKE {args[1]})",
    "isZeroOrNull": lambda args: (
        f"CAST(({args[0]}) IS NULL OR ({args[0]}) = 0 AS INT)"
    ),
    # Spark strings are re-encoded valid UTF-8 on read → constants
    "isValidUTF8": lambda args: "CAST(1 AS INT)",
    # timestamp(date[, time]): the 2-arg form adds the time-of-day string
    # via a timestamp difference (day-time interval)
    "timestamp": lambda args: (
        f"CAST({args[0]} AS TIMESTAMP)" if len(args) == 1 else (
            f"(CAST({args[0]} AS TIMESTAMP) + "
            f"(CAST(concat('1970-01-01 ', {args[1]}) AS TIMESTAMP) "
            f"- TIMESTAMP '1970-01-01 00:00:00'))"
        )
    ),
    # toDateTime64(x, scale): numeric input is epoch seconds (fraction
    # kept to Spark's µs); anything else casts.  Token-level dispatch on
    # numeric literals; column inputs default to the cast form.
    "toDateTime64": lambda args: (
        f"timestamp_seconds(CAST({args[0]} AS DOUBLE))"
        if re.match(r"^-?\d+(\.\d+)?$", args[0].strip())
        else f"CAST({args[0]} AS TIMESTAMP)"
    ),
    "makeDateTime64": lambda args: (
        f"make_timestamp({args[0]}, {args[1]}, {args[2]}, {args[3]}, "
        f"{args[4]}, CAST({args[5]} AS DOUBLE)"
        + (f" + CAST({args[6]} AS DOUBLE) / pow(10, "
           + (args[7] if len(args) > 7 else "3") + ")"
           if len(args) > 6 else "")
        + ")"
    ),
    "fromUnixTimestamp64Second": lambda args: (
        f"timestamp_seconds(CAST({args[0]} AS BIGINT))"
    ),
    "YYYYMMDDToDate32": lambda args: FUNC_RULES["YYYYMMDDToDate"](args),
    "YYYYMMDDhhmmssToDateTime64": lambda args: (
        FUNC_RULES["YYYYMMDDhhmmssToDateTime"](args)
    ),
    # RFC 3986 variants: same lowering as the base forms (the non-RFC
    # forms here already parse scheme://user@host:port shapes)
    "domainRFC": lambda args: FUNC_RULES["domain"](args),
    "topLevelDomainRFC": lambda args: FUNC_RULES["topLevelDomain"](args),
    "cutToFirstSignificantSubdomainRFC": lambda args: (
        FUNC_RULES["cutToFirstSignificantSubdomain"](args)
    ),
    "firstSignificantSubdomainRFC": lambda args: (
        FUNC_RULES["firstSignificantSubdomain"](args)
    ),
    "extractAllGroups": lambda args: (
        FUNC_RULES["extractAllGroupsVertical"](args)
    ),
    # Spark BIGINT sums don't wrap on overflow (documented deviation —
    # ANSI aborts instead); the name exists for query portability
    "sumWithOverflow": _rename("sum"),
    "splitByAlphaTokens": lambda args: FUNC_RULES["alphaTokens"](args),
    "encrypt": lambda args: _aes_codec_expr(args, True, "encrypt"),
    "decrypt": lambda args: _aes_codec_expr(args, False, "decrypt"),
    "aes_encrypt_mysql": lambda args: _aes_codec_expr(
        args, True, "aes_encrypt_mysql"),
    "aes_decrypt_mysql": lambda args: _aes_codec_expr(
        args, False, "aes_decrypt_mysql"),
    # pointInEllipses(x, y, x0, y0, a0, b0, ...): 1 when the point is in
    # AT LEAST ONE axis-aligned ellipse (CH semantics)
    "pointInEllipses": _point_in_ellipses_expr,
    "wkt": _wkt_expr,
    "geohashesInBox": _geohashes_in_box_expr,
}
FUNC_RULES = {k: v for k, v in FUNC_RULES.items() if v is not None}

#: aggregate base names the generic -If combinator may attach a FILTER clause
#: to (the aggregate subset of FUNC_RULES; scalars like absIf/roundIf must NOT
#: produce "abs(x) FILTER (...)" — that is invalid SQL)
_AGG_IF_BASES = {
    name
    for name in (
        "any", "anyLast", "argMax", "argMin", "corr", "count", "covarPop",
        "covarSamp", "groupArray", "groupBitmap", "groupUniqArray", "kurtPop",
        "median", "skewPop", "stddevPop", "stddevSamp", "uniq", "uniqCombined",
        "uniqExact", "uniqHLL12", "varPop", "varSamp", "countDistinct",
    )
    if name in FUNC_RULES
}


#: Declared dictionaries of the fixture catalog (CH configures dictionaries
#: in DDL/XML — reference Dockerfile:222,231; this map is that declaration).
#: name → (source table, key column).
CH_DICTS = {
    "nation_dict": ("nation", "n_nationkey"),
    "region_dict": ("region", "r_regionkey"),
}


#: arrayReduce('agg', arr) → the matching array fold
_ARRAY_REDUCE = {
    "sum": lambda a: f"aggregate({a}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)",
    "min": lambda a: f"array_min({a})",
    "max": lambda a: f"array_max({a})",
    "count": lambda a: f"size({a})",
    "avg": lambda a: f"(aggregate({a}, CAST(0 AS DOUBLE), (acc, x) -> acc + x) / size({a}))",
    "uniqexact": lambda a: f"size(array_distinct({a}))",
    "any": lambda a: f"element_at({a}, 1)",
}


def _nest_binary(fn: str, args: list[str]) -> str:
    """n-ary CH function ↔ nested binary Spark calls (arrayIntersect...)."""
    out = args[0]
    for a in args[1:]:
        out = f"{fn}({out}, {a})"
    return out


def _nest_binary_map_add(args: list[str], op: str) -> str:
    """mapAdd/mapSubtract over n maps → nested map_zip_with merges; absent
    keys contribute the additive identity (CH sums matching keys)."""
    out = args[0]
    for m in args[1:]:
        out = (
            f"map_zip_with({out}, {m}, (k, v1, v2) -> "
            f"coalesce(v1, 0) {op} coalesce(v2, 0))"
        )
    return out


def _map_concat(args: list[str]) -> str:
    """mapConcat: on key collision the FIRST occurrence wins (CH contract);
    Spark's map_concat throws under the default EXCEPTION dedup policy, so
    the merge goes through entry arrays instead."""
    out = args[0]
    for m in args[1:]:
        out = (
            f"map_from_entries(concat(map_entries({out}), "
            f"filter(map_entries({m}), "
            f"e -> NOT array_contains(map_keys({out}), e.key))))"
        )
    return out


def _array_reduce(args: list[str]) -> str:
    name = args[0].strip().strip("'").lower()
    if name not in _ARRAY_REDUCE:
        raise ChSqlError(
            f"arrayReduce subset supports {sorted(_ARRAY_REDUCE)}, got {name!r}"
        )
    return _ARRAY_REDUCE[name](args[1])


#: CH formatDateTime %-codes → Spark DateTimeFormatter fields (unambiguous
#: subset; CH follows the MySQL convention where %i is the minute).  The
#: week-based codes (%V %G %g %u) are excluded: Spark 3+ rejects all
#: week-based DateTimeFormatter patterns (Y/w/W/e/c) — use toISOWeek and
#: friends instead.
_CH_FMT_CODES = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "e": "d",
    "H": "HH", "h": "hh", "i": "mm", "S": "ss", "s": "ss",
    "j": "DDD", "F": "yyyy-MM-dd", "T": "HH:mm:ss", "R": "HH:mm",
    # round-6 completion of the specifier set (full list in the public CH
    # formatDateTime docs)
    "a": "EEE",       # abbreviated weekday name
    "W": "EEEE",      # full weekday name
    "b": "MMM",       # abbreviated month name
    "M": "MMMM",      # full month name (CH 23.x+ MySQL-compat meaning)
    "c": "MM",        # month number, 2 digits
    "D": "MM/dd/yy",  # American date
    "f": "SSSSSS",    # fractional second, microseconds
    "k": "HH",        # hour 0-23 (CH pads with space; Spark zero-pads —
                      # documented deviation, value identical)
    "l": "hh",        # hour 1-12
    "p": "a",         # AM/PM
    "Q": "q",         # quarter 1-4
}
#: %-codes that expand to literal characters, not formatter fields
_CH_FMT_LITERALS = {"n": "\n", "t": "\t", "%": "%"}


def _ch_java_pattern(fmt: str, fname: str) -> str:
    """CH %-code format string → Spark DateTimeFormatter pattern; literal
    runs are quoted so letters can't leak into the pattern."""
    java: list[str] = []
    buf: list[str] = []

    def flush() -> None:
        if buf:
            seg = "".join(buf)
            java.append("'" + seg.replace("'", "''") + "'")
            buf.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            c = fmt[i + 1]
            if c in _CH_FMT_LITERALS:
                buf.append(_CH_FMT_LITERALS[c])
            elif c in _CH_FMT_CODES:
                flush()
                java.append(_CH_FMT_CODES[c])
            else:
                raise ChSqlError(f"{fname} %{c} is outside the subset")
            i += 2
        else:
            buf.append(fmt[i])
            i += 1
    flush()
    return "".join(java)


def _format_datetime(args: list[str]) -> str:
    """formatDateTime(ts, '%Y-%m-%d ...') → date_format with the CH %-codes
    translated to DateTimeFormatter fields."""
    if len(args) < 2 or not (args[1].startswith("'") and args[1].endswith("'")):
        raise ChSqlError("formatDateTime needs a literal format string")
    pattern = _ch_java_pattern(args[1][1:-1], "formatDateTime")
    return f"date_format({args[0]}, '" + pattern.replace("'", "''") + "')"


def _parse_datetime(args: list[str]) -> str:
    """parseDateTime(s, '%Y-%m-%d') — the MySQL-style inverse of
    formatDateTime — shares the same %-code subset."""
    if len(args) < 2 or not (args[1].startswith("'") and args[1].endswith("'")):
        raise ChSqlError("parseDateTime needs a literal format string")
    pattern = _ch_java_pattern(args[1][1:-1], "parseDateTime")
    return f"to_timestamp({args[0]}, '" + pattern.replace("'", "''") + "')"


def _raise(exc: Exception):
    """Expression-position raise (lambda-friendly)."""
    raise exc


def _count_capture_groups(pat: str) -> int:
    """Capture groups in a LITERAL regex: unescaped '(' not followed by '?'."""
    n = 0
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if c == "(" and pat[i + 1 : i + 2] != "?":
            n += 1
        i += 1
    return n


def _extract_all_groups(args: list[str], vertical: bool) -> str:
    """extractAllGroupsHorizontal/Vertical(s, 'pat'): per-group
    regexp_extract_all.  Horizontal → [[all g1], [all g2], ...];
    Vertical → [[g1, g2, ...] per match].  The group count comes from the
    literal pattern (same literal-only policy as formatDateTime)."""
    if len(args) < 2 or not (args[1].startswith("'") and args[1].endswith("'")):
        raise ChSqlError("extractAllGroups* needs a literal pattern string")
    ng = _count_capture_groups(args[1][1:-1])
    if ng == 0:
        raise ChSqlError("extractAllGroups*: pattern has no capture groups")
    per_group = [
        f"regexp_extract_all({args[0]}, {args[1]}, {i})" for i in range(1, ng + 1)
    ]
    if not vertical:
        return f"array({', '.join(per_group)})"
    inner = ", ".join(f"element_at({g}, cast(i as int))" for g in per_group)
    # sequence(1, 0) runs DESCENDING in Spark — guard the no-match case
    return (
        f"case when size({per_group[0]}) = 0 then array() else "
        f"transform(sequence(1, size({per_group[0]})), i -> array({inner})) end"
    )


def _change_dt_field(args: list[str], field: str) -> str:
    """changeYear/...(ts, v) (CH 24.7): make_timestamp with one component
    replaced — works for DATE and TIMESTAMP inputs (CH promotes DATE to
    Date32/DateTime as needed; here everything lands in TIMESTAMP)."""
    ts, v = args[0], args[1]
    parts = {
        "year": f"year({ts})",
        "month": f"month({ts})",
        "day": f"day({ts})",
        "hour": f"hour({ts})",
        "minute": f"minute({ts})",
        "second": f"second({ts})",
    }
    parts[field] = f"({v})"
    return (
        f"make_timestamp({parts['year']}, {parts['month']}, {parts['day']}, "
        f"{parts['hour']}, {parts['minute']}, {parts['second']})"
    )


def _array_rotate(a: str, n: str) -> str:
    """arrayRotateLeft(a, n) lowering (rotateRight negates n): pmod keeps
    any n sign/magnitude in [0, size); size <= 1 is the identity (and guards
    pmod-by-zero under ANSI)."""
    k = f"pmod({n}, size({a}))"
    return (
        f"CASE WHEN size({a}) <= 1 THEN {a} ELSE "
        f"concat(slice({a}, {k} + 1, size({a}) - {k}), "
        f"slice({a}, 1, {k})) END"
    )


def _array_shift(args: list[str], right: bool) -> str:
    """arrayShiftLeft/Right(a, n, fill) lowering: drop n, pad with fill.
    The 2-arg CH form pads with the type default — not knowable from text
    (same policy as arrayResize), so the fill is required."""
    if len(args) < 3:
        raise ChSqlError(
            "arrayShiftLeft/Right without a fill value is not supported: "
            "pass it explicitly, e.g. arrayShiftLeft(arr, n, 0)"
        )
    a, n, fill = args[0], args[1], args[2]
    if right:
        n = f"-({n})"
    k = f"least(abs({n}), size({a}))"
    pad = f"array_repeat({fill}, cast({k} as int))"
    left = f"concat(slice({a}, {k} + 1, size({a}) - {k}), {pad})"
    rgt = f"concat({pad}, slice({a}, 1, size({a}) - {k}))"
    return (
        f"CASE WHEN size({a}) = 0 THEN {a} "
        f"WHEN ({n}) >= 0 THEN {left} ELSE {rgt} END"
    )


def _array_resize(args: list[str]) -> str:
    """arrayResize(arr, n, ext): truncate or right-extend with ``ext``.  The
    2-arg CH form extends with the type default — not knowable from text, so
    it is rejected with an actionable message instead of guessing."""
    if len(args) < 3:
        raise ChSqlError(
            "arrayResize without an extender is not supported: pass the fill "
            "value explicitly, e.g. arrayResize(arr, n, 0)"
        )
    a, n, ext = args[0], args[1], args[2]
    return (
        f"CASE WHEN ({n}) <= size({a}) THEN slice({a}, 1, {n}) "
        f"ELSE concat({a}, array_repeat({ext}, ({n}) - size({a}))) END"
    )


def _array_reverse_sort(args: list[str]) -> str:
    if len(args) != 1:
        raise ChSqlError(
            "arrayReverseSort with a key lambda is not supported: "
            "use arraySort(key, arr) wrapped in arrayReverse(...)"
        )
    return f"reverse(array_sort({args[0]}))"


#: dateName parts → (DateTimeFormatter pattern) for the name-valued parts;
#: numeric parts fall through to EXTRACT
_DATE_NAME_PATTERNS = {"weekday": "EEEE", "month": "MMMM"}


def _date_name(args: list[str]) -> str:
    part = args[0].strip().strip("'").lower()
    if part in _DATE_NAME_PATTERNS:
        return f"date_format({args[1]}, '{_DATE_NAME_PATTERNS[part]}')"
    if part in ("year", "quarter", "day", "hour", "minute", "second", "week"):
        return f"CAST(extract({part.upper()} FROM {args[1]}) AS STRING)"
    raise ChSqlError(f"dateName part {part!r} is outside the subset")


_INTERVAL_SECONDS = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}


def _to_start_of_interval(args: list[str]) -> str:
    """toStartOfInterval(ts, INTERVAL n unit[, origin]): second/minute/hour/
    day buckets floor the epoch (any n); calendar units (week/month/quarter/
    year) go through date_trunc and support n=1.  The 25.x third-argument
    ``origin`` overload shifts the grid — origin + floor((ts-origin)/step)·
    step — and supports the fixed-width units only."""
    m = re.match(r"(?i)^INTERVAL\s+(\d+)\s+(\w+)$", args[1].strip())
    if not m:
        raise ChSqlError("toStartOfInterval expects INTERVAL n unit")
    n, unit = int(m.group(1)), m.group(2).upper().rstrip("S")
    if unit in _INTERVAL_SECONDS:
        sec = n * _INTERVAL_SECONDS[unit]
        if len(args) > 2:
            o = f"unix_timestamp({args[2]})"
            return (
                f"timestamp_seconds({o} + CAST(floor((unix_timestamp({args[0]})"
                f" - {o}) / {sec}) AS BIGINT) * {sec})"
            )
        return (
            f"timestamp_seconds(CAST(floor(unix_timestamp({args[0]}) / {sec}) "
            f"AS BIGINT) * {sec})"
        )
    if len(args) > 2:
        raise ChSqlError(
            "toStartOfInterval origin overload supports fixed-width units "
            "(second/minute/hour/day) only"
        )
    if n == 1 and unit in ("WEEK", "MONTH", "QUARTER", "YEAR"):
        return f"date_trunc('{unit}', {args[0]})"
    if unit in ("MONTH", "QUARTER", "YEAR"):
        # multi-n calendar buckets (CH 25.x): months-since-1970 floored
        # to the bucket width (quarter = 3 months, year = 12)
        k = n * {"MONTH": 1, "QUARTER": 3, "YEAR": 12}[unit]
        months = f"((year({args[0]}) - 1970) * 12 + month({args[0]}) - 1)"
        start = f"(CAST(floor({months} / {k}) AS INT) * {k})"
        return (
            f"CAST(make_date(1970 + ({start} div 12), "
            f"({start} % 12) + 1, 1) AS TIMESTAMP)"
        )
    raise ChSqlError(
        "toStartOfInterval subset: any n for second/minute/hour/day, any n "
        "for month/quarter/year, n=1 for week"
    )


def _to_start_of_week(args: list[str]) -> str:
    """CH toStartOfWeek: mode 0 (default) weeks start Sunday; modes 1/3
    start Monday (Spark's WEEK truncation)."""
    if len(args) > 1 and args[1].strip() in ("1", "3"):
        return f"CAST(date_trunc('WEEK', {args[0]}) AS DATE)"
    return f"date_sub(CAST(date_trunc('WEEK', date_add({args[0]}, 1)) AS DATE), 1)"


def _dict_get(dname: str, attr: str | None, key: str, count: bool = False) -> str:
    """dictGet* → correlated scalar subquery against the declared dictionary
    table.  The dictionary and attribute names must be string literals (the
    CH calling convention)."""
    if not (dname.startswith("'") and dname.endswith("'")):
        raise ChSqlError(f"dictGet needs a dictionary name literal, got {dname!r}")
    entry = CH_DICTS.get(dname[1:-1])
    if entry is None:
        raise ChSqlError(f"unknown dictionary {dname}; declared: {sorted(CH_DICTS)}")
    tbl, keycol = entry
    if count:
        return f"(SELECT count(1) FROM {tbl} WHERE {keycol} = ({key}))"
    if not (attr and attr.startswith("'") and attr.endswith("'")):
        raise ChSqlError(f"dictGet needs an attribute name literal, got {attr!r}")
    return f"(SELECT {attr[1:-1]} FROM {tbl} WHERE {keycol} = ({key}))"


def _regex_quote(literal: str) -> str:
    """Wrap a single-char string literal for use as a split() regex."""
    inner = literal[1:-1]
    if re.match(r"[A-Za-z0-9_ ]", inner) and len(inner) == 1:
        return literal
    return f"'\\\\Q{inner}\\\\E'"


def _json_path(fn: str, args: list[str]) -> str:
    key = args[1]
    if key.startswith("'") and key.endswith("'"):
        return f"{fn}({args[0]}, '$.{key[1:-1]}')"
    return f"{fn}({args[0]}, concat('$.', {key}))"


_SPARKBAR_CHARS_SQL = (
    "array('▁','▂','▃','▄','▅','▆',"
    "'▇','█')"
)


def _sparkbar_rule(p: list[str], a: list[str]) -> str:
    """sparkbar(width)(x[, y]) — CH's presentation aggregate: y-mass over
    ``width`` equal x-buckets rendered as 8-level block characters (empty
    bucket → space).  ONE aggregate expression: a group-local collect_list
    fold (CH's agg state buffers the pairs too — same memory contract),
    then pure array math — bucket id and level arithmetic are integer-
    exact in DOUBLE, the same convention as the DataFrame tier
    (stats_q.sparkbar_daily), so oracles replay it bit-for-bit."""
    try:
        width = int(p[0])
    except (ValueError, IndexError) as exc:
        raise ChSqlError("sparkbar(width) needs an integer literal") from exc
    if not 1 <= width <= 1024:
        raise ChSqlError("sparkbar width must be in [1, 1024]")
    x = a[0]
    y = a[1] if len(a) > 1 else "1"
    pairs = (
        f"collect_list(named_struct('x', CAST({x} AS DOUBLE), "
        f"'y', CAST({y} AS DOUBLE)))"
    )
    return (
        f"transform(array({pairs}), __ps -> "
        f"transform(array(named_struct("
        f"'mn', array_min(transform(__ps, __p -> __p.x)), "
        f"'mx', array_max(transform(__ps, __p -> __p.x)))), __m -> "
        f"transform(array(transform(sequence(0, {width - 1}), __i -> "
        f"aggregate(filter(__ps, __p -> CAST(floor((__p.x - __m.mn) "
        f"* {width} / (__m.mx - __m.mn + 1)) AS INT) = __i), "
        f"0.0D, (__s2, __p) -> __s2 + __p.y))), __hs -> "
        f"concat_ws('', transform(__hs, __h -> "
        f"CASE WHEN __h <= 0 THEN ' ' ELSE element_at({_SPARKBAR_CHARS_SQL}, "
        f"CAST(floor((__h * 8 - 1) / array_max(__hs)) AS INT) + 1) "
        f"END)))[0])[0])[0]"
    )


def _sequence_next_node_rule(p: list[str], a: list[str]) -> str:
    """sequenceNextNode(direction, base)(ts, value, base_cond, ev1, ...,
    evK): the "where do users go next" navigation aggregate — if the
    first (head) / last (tail) K events of the group match the chain,
    return the value of the event just past it.  Subset: ('forward',
    'head') and ('backward', 'tail') — the forms whose anchor is a group
    boundary; ONE aggregate expression over a sorted group-local collect
    (ties broken by (ts, value) — CH's order within equal timestamps is
    unspecified, this pins it deterministically)."""
    if len(p) != 2:
        raise ChSqlError("sequenceNextNode takes (direction, base) params")
    dirn = p[0].strip().strip("'").lower()
    base = p[1].strip().strip("'").lower()
    if (dirn, base) not in {("forward", "head"), ("backward", "tail")}:
        raise ChSqlError(
            "sequenceNextNode subset: ('forward','head') or "
            f"('backward','tail'), got ({dirn!r}, {base!r})"
        )
    if len(a) < 4:
        raise ChSqlError(
            "sequenceNextNode needs (ts, value, base_cond, event1[, ...])"
        )
    ts, val = a[0], a[1]
    conds = a[2:]
    k = len(conds) - 1  # chain length (conds[0] is the base condition)
    fields = ", ".join(
        [f"'t', {ts}", f"'v', CAST({val} AS STRING)"]
        + [f"'c{i}', ({c})" for i, c in enumerate(conds)]
    )
    arr = f"array_sort(collect_list(named_struct({fields})))"
    if dirn == "backward":
        arr = f"reverse({arr})"
    checks = ["element_at(__es, 1).c0"] + [
        f"element_at(__es, {i}).c{i}" for i in range(1, len(conds))
    ]
    return (
        f"transform(array({arr}), __es -> CASE WHEN size(__es) > {k} "
        f"AND {' AND '.join(checks)} THEN element_at(__es, {k + 1}).v "
        f"END)[0]"
    )


def _sequence_pattern_steps(pat: str, fn: str, n_conds: int) -> list[int]:
    """Parse the CH sequence pattern subset ``(?1)[.*(?2)...]`` — condition
    references separated by ``.*`` (any events between).  Direct adjacency
    and ``(?t<=...)`` time constraints are the DataFrame tier's job
    (operators/funnel.py) — raise, never silently approximate."""
    p = pat.strip().strip("'")
    m = re.match(r"^\(\?(\d+)\)((?:\.\*\(\?\d+\))*)$", p)
    if not m:
        raise ChSqlError(
            f"{fn} pattern subset: '(?1).*(?2)...' ('.*'-separated condition "
            f"refs; adjacency/time constraints are operators/funnel.py's "
            f"tier), got {pat!r}"
        )
    steps = [int(m.group(1))] + [
        int(x) for x in re.findall(r"\(\?(\d+)\)", m.group(2))
    ]
    if any(not 1 <= s <= n_conds for s in steps):
        raise ChSqlError(f"{fn}: pattern references condition out of range")
    return steps


def _sequence_fold(args: list[str], pat: str, fn: str) -> tuple[str, int]:
    """(sorted-collect fold SQL advancing a level counter, step count).
    State advances when the CURRENT level's condition fires — one level
    per event, events in ``ts`` order (pass a unique key as ts for
    deterministic tie handling, CH leaves equal-timestamp order
    unspecified)."""
    ts, conds = args[0], args[1:]
    if not conds:
        raise ChSqlError(f"{fn} needs (ts, cond1[, cond2, ...])")
    steps = _sequence_pattern_steps(pat, fn, len(conds))
    fields = ", ".join(
        [f"'t', {ts}"] + [f"'c{i + 1}', ({c})" for i, c in enumerate(conds)]
    )
    arr = f"array_sort(collect_list(named_struct({fields})))"
    whens = " ".join(
        f"WHEN __st = {i} AND __ev.c{s} THEN {i + 1}"
        for i, s in enumerate(steps)
    )
    step_case = f"(CASE {whens} ELSE __st END)"
    return arr, len(steps), step_case


def _sequence_match_rule(p: list[str], a: list[str]) -> str:
    """sequenceMatch(pattern)(ts, cond...): 1 when the '.*'-separated
    condition chain occurs in ts order — ONE sorted-collect fold."""
    arr, k, step_case = _sequence_fold(a, p[0], "sequenceMatch")
    body = step_case.replace("__st", "__acc").replace("__ev", "__e")
    return (
        f"IF(aggregate({arr}, 0, (__acc, __e) -> "
        f"least({body}, {k})) >= {k}, 1, 0)"
    )


def _sequence_count_rule(p: list[str], a: list[str]) -> str:
    """sequenceCount(pattern)(ts, cond...): greedy NON-OVERLAPPING chain
    count (CH's contract) — the same fold with a wrap-and-count state."""
    arr, k, step_case = _sequence_fold(a, p[0], "sequenceCount")
    body = step_case.replace("__st", "__s.st").replace("__ev", "__e")
    return (
        f"aggregate({arr}, named_struct('st', 0, 'cnt', 0), "
        f"(__s, __e) -> IF({body} >= {k}, "
        f"named_struct('st', 0, 'cnt', __s.cnt + 1), "
        f"named_struct('st', {body}, 'cnt', __s.cnt))).cnt"
    )


def _sequence_match_events_rule(p: list[str], a: list[str]) -> str:
    """sequenceMatchEvents(pattern)(ts, cond...) (CH 24.3): the
    timestamps of the FIRST matched chain's events, in chain order —
    the sequenceMatch fold with the state carrying the matched ``t``
    values (an event that advances the level appends its timestamp; the
    typed empty seed is the ``slice(arr, 1, 0)`` idiom).  No match →
    empty array (CH's convention)."""
    arr, k, step_case = _sequence_fold(a, p[0], "sequenceMatchEvents")
    body = step_case.replace("__st", "__s.st").replace("__ev", "__e")
    return (
        f"transform(array({arr}), __p -> "
        f"aggregate(__p, named_struct('st', 0, "
        f"'ts', slice(transform(__p, __x -> __x.t), 1, 0)), "
        f"(__s, __e) -> IF(__s.st >= {k}, __s, "
        f"transform(array(least({body}, {k})), __n -> "
        f"IF(__n > __s.st, named_struct('st', __n, "
        f"'ts', concat(__s.ts, array(__e.t))), __s))[0]), "
        f"__s -> IF(__s.st >= {k}, __s.ts, slice(__s.ts, 1, 0))))[0]"
    )


def _window_funnel_rule(p: list[str], a: list[str]) -> str:
    """windowFunnel(window)(ts, c1, ..., cK): the max funnel level
    reached by a chain t1 ≤ ... ≤ t_i with t_i − t1 ≤ window — ONE
    sorted-collect fold whose state is the LATEST chain-start timestamp
    per level (greedy-latest is existence-OPTIMAL: a future extension is
    feasible for some chain iff it is feasible for the max start, by
    exchange).  Subset: default mode only (strict_order lives on the
    DataFrame tier, operators/funnel.py); levels advance from PRE-event
    state, so one event advances at most one level — pass mutually
    exclusive conditions (the overwhelmingly common funnel shape) for
    exact CH parity.  Ties in ts process in struct order — pass a unique
    key for determinism (CH leaves equal-timestamp order unspecified)."""
    if len(p) != 1:
        raise ChSqlError(
            "windowFunnel subset: modes (strict_order/strict_dedup/"
            "strict_increase) are the DataFrame tier's job "
            "(operators/funnel.py) — only windowFunnel(window) lowers here"
        )
    if len(a) < 2:
        raise ChSqlError("windowFunnel needs (ts, cond1[, cond2, ...])")
    w, ts, conds = p[0], a[0], a[1:]
    k = len(conds)
    fields = ", ".join(
        [f"'t', CAST({ts} AS DOUBLE)"]
        + [f"'c{i + 1}', ({c})" for i, c in enumerate(conds)]
    )
    arr = f"array_sort(collect_list(named_struct({fields})))"
    flags = "array(" + ", ".join(f"__e.c{i + 1}" for i in range(k)) + ")"
    step = (
        f"transform(sequence(0, {k - 1}), __i -> CASE "
        f"WHEN __i = 0 AND __e.c1 THEN "
        f"greatest(coalesce(element_at(__s, 1), __e.t), __e.t) "
        f"WHEN __i > 0 AND element_at({flags}, __i + 1) "
        f"AND element_at(__s, __i) IS NOT NULL "
        f"AND __e.t - element_at(__s, __i) <= ({w}) THEN "
        f"greatest(coalesce(element_at(__s, __i + 1), "
        f"element_at(__s, __i)), element_at(__s, __i)) "
        f"ELSE element_at(__s, __i + 1) END)"
    )
    return (
        f"aggregate({arr}, "
        f"array_repeat(CAST(NULL AS DOUBLE), {k}), "
        f"(__s, __e) -> {step}, "
        f"__f -> size(filter(__f, __x -> __x IS NOT NULL)))"
    )


#: CH parametric aggregate syntax fname(params)(args)
PARAMETRIC_RULES: dict[str, object] = {
    # CH 25.6 PromQL-style timeSeries*ToGrid tier (experimental in the
    # pinned 25.7 image) — one sorted-collect fold per group
    "timeSeriesResampleToGridWithStaleness": lambda p, a: _ts_to_grid_expr(
        p, a, "timeSeriesResampleToGridWithStaleness"
    ),
    "timeSeriesInstantDeltaToGrid": lambda p, a: _ts_to_grid_expr(
        p, a, "timeSeriesInstantDeltaToGrid"
    ),
    "timeSeriesInstantRateToGrid": lambda p, a: _ts_to_grid_expr(
        p, a, "timeSeriesInstantRateToGrid"
    ),
    "timeSeriesRateToGrid": lambda p, a: _ts_to_grid_expr(
        p, a, "timeSeriesRateToGrid"
    ),
    "timeSeriesDeltaToGrid": lambda p, a: _ts_to_grid_expr(
        p, a, "timeSeriesDeltaToGrid"
    ),
    "sparkbar": _sparkbar_rule,
    "sequenceNextNode": _sequence_next_node_rule,
    "sequenceMatch": _sequence_match_rule,
    "sequenceMatchEvents": _sequence_match_events_rule,
    "sequenceCount": _sequence_count_rule,
    "windowFunnel": _window_funnel_rule,
    # quantileDeterministic(p)(x, determinator): the determinator only
    # stabilizes CH's reservoir sampling — the exact percentile ignores it
    "quantileDeterministic": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantile": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantileExact": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantileTDigest": lambda p, a: f"approx_percentile({a[0]}, {p[0]})",
    "quantileTiming": lambda p, a: f"approx_percentile({a[0]}, {p[0]})",
    "quantileDD": lambda p, a: f"approx_percentile({a[-1]}, {p[-1]})",
    # CH 24.x: the Interpolated variant IS Spark's percentile-with-
    # frequency semantics (linear interpolation over the weighted cdf)
    "quantileExactWeightedInterpolated": lambda p, a: (
        f"percentile({a[0]}, {p[0]}, {a[1]})" if len(a) > 1
        else f"percentile({a[0]}, {p[0]})"
    ),
    "quantileExactWeighted": lambda p, a: (
        # exact weighted quantile via the 2*cumw >= q-scaled total identity is
        # an operator-level pattern (agg_quantile_weighted); the text surface
        # maps to the unweighted exact percentile when weights are uniform
        f"percentile({a[0]}, {p[0]}, {a[1]})" if len(a) > 1
        else f"percentile({a[0]}, {p[0]})"
    ),
    "quantiles": lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))",
    "quantilesExact": lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))",
    "quantilesTiming": lambda p, a: (
        f"approx_percentile({a[0]}, array({', '.join(p)}))"
    ),
    "quantilesTDigest": lambda p, a: (
        f"approx_percentile({a[0]}, array({', '.join(p)}))"
    ),
    "quantilesGK": lambda p, a: (
        f"approx_percentile({a[0]}, array({', '.join(p[1:])}), {p[0]})"
    ),
    "uniqCombined": lambda p, a: f"approx_count_distinct({', '.join(a)})",
    "quantileExactExclusive": _quantile_exact_exclusive_expr,
    "quantileExactInclusive": lambda p, a: f"percentile({a[0]}, {p[0]})",
    # r14: the text path now lowers to the pure-JVM SORTED fold
    # (_lttb_rule) — the earlier reject argued float near-tie argmax
    # flips on summation order, which applies to PARALLEL sums; the
    # fold's bucket averages accumulate strictly left-to-right with one
    # IEEE expression shape on both engines, so the argmax is
    # deterministic and oracle-replayable (chsql_lttb_downsample).  The
    # exact-integer applyInPandas kernel (operators/downsample.lttb,
    # registry query lttb_downsample) remains the huge-series tier —
    # the fold collects the whole group; the kernel streams it.
    "largestTriangleThreeBuckets": _lttb_rule,
    "meanZTest": _mean_z_test_expr,
    "exponentialTimeDecayedAvg": _exp_time_decayed_avg_expr,
    "groupArrayMovingSum": lambda p, a: _group_array_moving_expr(
        a, p[0], "Sum"),
    "groupArrayMovingAvg": lambda p, a: _group_array_moving_expr(
        a, p[0], "Avg"),
    "exponentialTimeDecayedCount": lambda p, a: _exp_time_decayed_expr(
        p, a, "Count"
    ),
    "exponentialTimeDecayedSum": lambda p, a: _exp_time_decayed_expr(
        p, a, "Sum"
    ),
    "exponentialTimeDecayedMax": lambda p, a: _exp_time_decayed_expr(
        p, a, "Max"
    ),
    "exponentialMovingAverage": _exp_moving_average_expr,
    # mannWhitneyUTest(alternative[, continuity])(x, idx): two-sided only
    # (the one-sided tails need the same normal machinery but flip the
    # rejection side — out of the pinned subset); continuity 0/1 honored
    "mannWhitneyUTest": lambda p, a: (
        _mann_whitney_expr(
            a,
            continuity=(len(p) < 2 or p[1].strip() not in ("0", "false")),
        )
        if p and p[0].strip().strip("'") == "two-sided"
        else (_ for _ in ()).throw(
            ChSqlError(
                "mannWhitneyUTest subset: alternative='two-sided'"
                f" (got {p!r})"
            )
        )
    ),
    # kolmogorovSmirnovTest(alternative, method)(x, idx): the two-sided
    # asymptotic subset (this surface's only computation mode — the bare
    # FUNC form shares it); other alternatives raise with the limitation
    "kolmogorovSmirnovTest": lambda p, a: (
        _ks_test_expr(a)
        if [s.strip().strip("'") for s in p]
        in (["two-sided"], ["two-sided", "auto"], ["two-sided", "asymptotic"])
        else (_ for _ in ()).throw(
            ChSqlError(
                "kolmogorovSmirnovTest subset: alternative='two-sided' with "
                "method 'auto'/'asymptotic' (one-sided alternatives and the "
                "exact permutation method are out of pure-SQL scope), got "
                f"{p!r}"
            )
        )
    ),
    # Greenwald-Khanna IS Spark's approx_percentile sketch; CH calling
    # convention quantileGK(accuracy[, level])(expr)
    "quantileGK": lambda p, a: (
        f"approx_percentile({a[0]}, {p[1] if len(p) > 1 else '0.5'}, {p[0]})"
    ),
    # heavy hitters on the TEXT tier: an exact collect_list fold (quadratic
    # in DISTINCT values per group — correctness tier; the scale path is
    # operators/groupwise.top_k / sketches.topk_state)
    "topK": lambda p, a: (
        f"transform(slice(array_sort(transform(array_distinct(collect_list({a[0]})), "
        f"__v -> struct(-size(filter(collect_list({a[0]}), __y -> __y = __v)) AS __negn, "
        f"__v AS __val))), 1, {p[0]}), __s -> __s.__val)"
    ),
    "topKWeighted": lambda p, a: (
        f"transform(slice(array_sort(transform(array_distinct(collect_list({a[0]})), "
        f"__v -> struct(-aggregate(filter(collect_list(struct({a[0]} AS x, {a[1]} AS w)), "
        f"__p -> __p.x = __v), CAST(0 AS BIGINT), (__acc, __p) -> __acc + __p.w) AS __negn, "
        f"__v AS __val))), 1, {p[0]}), __s -> __s.__val)"
    ),
    # approx_top_k/count (CH 24.3): topK's shape but returning
    # (item, count, error) tuples — exact here, so error ≡ 0; the scale
    # path stays the sketch operator (operators/sketches.topk_state)
    "approx_top_k": lambda p, a: (
        f"transform(slice(array_sort(transform(array_distinct(collect_list({a[0]})), "
        f"__v -> struct(-size(filter(collect_list({a[0]}), __y -> __y = __v)) AS __negn, "
        f"__v AS __val))), 1, {p[0]}), __s -> named_struct("
        f"'item', __s.__val, 'count', CAST(-__s.__negn AS BIGINT), "
        f"'error', CAST(0 AS BIGINT)))"
    ),
    "approx_top_count": lambda p, a: (
        f"transform(slice(array_sort(transform(array_distinct(collect_list({a[0]})), "
        f"__v -> struct(-size(filter(collect_list({a[0]}), __y -> __y = __v)) AS __negn, "
        f"__v AS __val))), 1, {p[0]}), __s -> named_struct("
        f"'item', __s.__val, 'count', CAST(-__s.__negn AS BIGINT), "
        f"'error', CAST(0 AS BIGINT)))"
    ),
    "approx_top_sum": lambda p, a: (
        f"transform(slice(array_sort(transform(array_distinct(collect_list({a[0]})), "
        f"__v -> struct(-aggregate(filter(collect_list(struct({a[0]} AS x, {a[1]} AS w)), "
        f"__p -> __p.x = __v), CAST(0 AS BIGINT), (__acc, __p) -> __acc + __p.w) AS __negn, "
        f"__v AS __val))), 1, {p[0]}), __s -> named_struct("
        f"'item', __s.__val, 'count', CAST(-__s.__negn AS BIGINT), "
        f"'error', CAST(0 AS BIGINT)))"
    ),
    "groupArraySample": lambda p, a: f"slice(collect_list({a[0]}), 1, {p[0]})",
    # uniqUpTo(N)(x): exact distinct count while <= N, else N+1 (CH's
    # bounded-memory contract; exact count is cheap on Spark so the cap is
    # applied on top of the exact value — a dominating implementation)
    "uniqUpTo": lambda p, a: (
        f"least(count(DISTINCT {', '.join(a)}), CAST({p[0]} AS BIGINT) + 1)"
    ),
    # exact order-statistic quantile variants (CH: nearest-rank, not
    # interpolated): Low = floor rank, High = ceil rank over the sorted set
    "quantileExactLow": lambda p, a: (
        f"element_at(array_sort(collect_list({a[0]})), "
        f"greatest(1, CAST(floor({p[0]} * (size(collect_list({a[0]})) - 1)) AS INT) + 1))"
    ),
    "quantileExactHigh": lambda p, a: (
        f"element_at(array_sort(collect_list({a[0]})), "
        f"greatest(1, CAST(ceil({p[0]} * (size(collect_list({a[0]})) - 1)) AS INT) + 1))"
    ),
    # quantileBFloat16(p)(x) (CH 21.12): values convert to bfloat16 (8-bit
    # mantissa) before the quantile.  The conversion here is the pure-SQL
    # TRUNCATION closed form sign·2^(e-8)·⌊|x|/2^(e-8)⌋ (CH rounds to
    # nearest even — documented deviation ≤ 1 ulp), so oracles replay the
    # identical expression
    "quantileBFloat16": lambda p, a: (
        f"percentile(CASE WHEN {a[0]} = 0 THEN CAST(0 AS DOUBLE) ELSE "
        f"sign({a[0]}) * pow(2, floor(log2(abs({a[0]}))) - 8) "
        f"* floor(abs({a[0]}) / pow(2, floor(log2(abs({a[0]}))) - 8)) END, "
        f"{p[0] if p else '0.5'})"
    ),
    # groupConcat(sep)(x) (CH 24.x; order undefined upstream too — pin it by
    # sorting so results are deterministic across partitionings)
    "groupConcat": lambda p, a: (
        f"array_join(array_sort(collect_list({a[0]})), {p[0] if p else chr(39) + chr(39)})"
    ),
    "groupArraySorted": lambda p, a: f"slice(array_sort(collect_list({a[0]})), 1, {p[0]})",
    # lttb: alias of largestTriangleThreeBuckets (the pure-JVM sorted
    # fold above; the exact-integer operator tier remains
    # operators/downsample.lttb for huge series)
    "lttb": _lttb_rule,
    "sumMapFiltered": lambda p, a: (
        _sum_map_filtered_expr(p, a, "sumMapFiltered")
    ),
    "sumMapFilteredWithOverflow": lambda p, a: (
        _sum_map_filtered_expr(p, a, "sumMapFilteredWithOverflow")
    ),
    # groupArrayLast(n)(x): the last n in accumulation order — like CH,
    # order is whatever the engine saw (deterministic only under a
    # single sorted partition; registry/pytest usage pins that)
    "groupArrayLast": lambda p, a: (
        f"transform(array(collect_list({a[0]})), __l -> "
        f"IF(size(__l) <= {p[0]}, __l, "
        f"slice(__l, -({p[0]}), {p[0]})))[0]"
    ),
    "histogram": None,  # operators/sketches.py covers re-mergeable histograms
}
PARAMETRIC_RULES = {k: v for k, v in PARAMETRIC_RULES.items() if v is not None}


def _resample_rule(agg: str):
    """-Resample combinator: ``aggResample(start, end, step)(args..., key)``
    returns one agg value per [start+i·step, start+(i+1)·step) bucket of the
    LAST argument (the resample key) as an array — unrolled to per-bucket
    FILTER aggregates (params must be integer literals; CH requires literal
    params too)."""

    def rule(p, a):
        try:
            start, end, step = (int(float(x)) for x in p[:3])
        except ValueError as exc:
            raise ChSqlError(
                f"{agg}Resample needs integer literal (start, end, step) "
                f"params, got {p!r}"
            ) from exc
        if step <= 0 or end <= start:
            raise ChSqlError(f"{agg}Resample: empty bucket range {p!r}")
        n = -(-(end - start) // step)
        if n > 64:
            raise ChSqlError(
                f"{agg}Resample: {n} buckets > 64 — the unrolled form is for "
                "bounded bucket counts; use a GROUP BY on the bucket expr"
            )
        key = a[-1]
        inner = ", ".join(a[:-1]) if len(a) > 1 else a[0]
        parts = []
        for i in range(n):
            lo = start + i * step
            hi = min(start + (i + 1) * step, end)
            parts.append(
                f"{agg}({inner}) FILTER (WHERE {key} >= {lo} AND {key} < {hi})"
            )
        return "array(" + ", ".join(parts) + ")"

    return rule


for _agg in ("sum", "count", "avg", "min", "max"):
    PARAMETRIC_RULES[f"{_agg}Resample"] = _resample_rule(_agg)


# ---------------------------------------------------------------------------
# Recursive call rewriting
# ---------------------------------------------------------------------------


def _find_close(tokens: list[str], open_idx: int) -> int:
    depth = 0
    for k in range(open_idx, len(tokens)):
        if tokens[k] == "(":
            depth += 1
        elif tokens[k] == ")":
            depth -= 1
            if depth == 0:
                return k
    raise ChSqlError("unbalanced parentheses")


_IDX_PRECEDERS = re.compile(r"^[)\]`']|^[A-Za-z_$]")
_SQL_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "IN", "AS", "BY", "ON",
    "WHEN", "THEN", "ELSE", "END", "CASE", "HAVING", "GROUP", "ORDER",
    "LIMIT", "JOIN", "UNION", "ALL", "DISTINCT", "BETWEEN", "LIKE", "IS",
    "NULL", "TRUE", "FALSE", "OVER", "PARTITION", "INTERVAL", "EXISTS",
}


def _find_close_bracket(tokens: list[str], open_idx: int) -> int:
    depth = 0
    for k in range(open_idx, len(tokens)):
        if tokens[k] == "[":
            depth += 1
        elif tokens[k] == "]":
            depth -= 1
            if depth == 0:
                return k
    raise ChSqlError("unbalanced brackets")


#: SAMPLE BY keys of the fixture tables (CH ties SAMPLE to the table DDL's
#: SAMPLE BY clause; this map is that declaration for the catalog tables).
#: The documented deterministic variant: key % 1_000_000 < frac·1_000_000 —
#: reproducible on any engine, same contract as the sample_by_key query.
SAMPLE_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "nation": "n_nationkey",
    "region": "r_regionkey",
}


def _add_where(tokens: list[str], cond: list[str]) -> list[str]:
    """AND a condition into the statement's WHERE clause (creating one before
    the first post-FROM clause keyword if absent)."""
    where = _depth0_positions(tokens, lambda t, j: _KW(t) == "WHERE")
    if where:
        w = where[0]
        stops = _depth0_positions(
            tokens, lambda t, j: j > w and _KW(t) in (_CLAUSE_STOP - {"WHERE"})
        )
        end = stops[0] if stops else len(tokens)
        return (
            tokens[:w]
            + ["WHERE", "("] + tokens[w + 1 : end] + [")", "AND"] + cond
            + tokens[end:]
        )
    stops = _depth0_positions(tokens, lambda t, j: _KW(t) in _CLAUSE_STOP)
    at = stops[0] if stops else len(tokens)
    return tokens[:at] + ["WHERE"] + cond + tokens[at:]


def _rewrite_sample(tokens: list[str]) -> list[str]:
    """``FROM t SAMPLE f`` (f in (0,1)) → deterministic key-hash filter on
    t's declared sampling key: ``WHERE t_key % 1000000 < f·1000000``.
    Aggregates over a sample estimate the full-table value scaled by f —
    CH semantics exactly (SAMPLE reads a key range; the caller rescales).
    Row-count form (``SAMPLE 10000``) and OFFSET are outside the subset."""
    pos = _depth0_positions(tokens, lambda t, j: _KW(t) == "SAMPLE")
    if not pos:
        return tokens
    i = pos[0]
    if i == 0 or i + 1 >= len(tokens):
        raise ChSqlError("SAMPLE needs a preceding table and a fraction")
    table, frac_tok = tokens[i - 1], tokens[i + 1]
    if i + 2 < len(tokens) and _KW(tokens[i + 2]) == "OFFSET":
        raise ChSqlError("SAMPLE ... OFFSET is outside the supported subset")
    try:
        frac = float(frac_tok)
    except ValueError:
        return tokens  # not the clause — an identifier named "sample"
    if not 0.0 < frac < 1.0:
        raise ChSqlError("only fractional SAMPLE f with 0 < f < 1 is supported")
    key = SAMPLE_KEYS.get(table.lower())
    if key is None:
        raise ChSqlError(f"no declared sampling key for table {table!r}")
    rest = tokens[:i] + tokens[i + 2 :]
    cond = ["(", key, "%", "1000000", ")", "<", str(int(frac * 1_000_000))]
    return _add_where(rest, ["("] + cond + [")"])


def _rewrite_scalar_with(tokens: list[str]) -> list[str]:
    """CH scalar WITH: ``WITH <expr> AS name, ... SELECT ...`` inlines
    ``name`` → ``(expr)`` (CH evaluates the alias per reference).  Standard
    CTEs (``name AS (SELECT ...)``) pass through untouched; the two forms
    can be mixed in one WITH list."""
    if not tokens or _KW(tokens[0]) != "WITH":
        return tokens
    sel = _depth0_positions(tokens, lambda t, j: j > 0 and _KW(t) == "SELECT")
    if not sel:
        return tokens
    end = sel[0]
    items = _split_top(tokens[1:end], ",")
    ctes: list[list[str]] = []
    scalars: list[tuple[str, list[str]]] = []
    for item in items:
        if not item:
            continue
        if (
            len(item) >= 3
            and _is_word(item[0])
            and _KW(item[1]) == "AS"
            and item[2] == "("
        ):
            ctes.append(item)
        elif (
            # WITH RECURSIVE name AS (...) — the recursive-CTE form (CH
            # 24.4+, Spark 4 UnionLoop): a standard CTE, pass through
            len(item) >= 4
            and _KW(item[0]) == "RECURSIVE"
            and _is_word(item[1])
            and _KW(item[2]) == "AS"
            and item[3] == "("
        ):
            ctes.append(item)
        elif len(item) >= 3 and _KW(item[-2]) == "AS" and _is_word(item[-1]):
            scalars.append((item[-1], item[:-2]))
        else:
            raise ChSqlError(f"unsupported WITH item: {render(item)!r}")
    if not scalars:
        return tokens
    body = tokens[end:]
    for name, expr in scalars:
        repl = ["("] + expr + [")"]
        j = 0
        while j < len(body):
            if (
                body[j] == name
                and (j == 0 or body[j - 1] != ".")
                and (j + 1 >= len(body) or body[j + 1] not in (".", "("))
            ):
                body[j : j + 1] = repl
                j += len(repl)
            else:
                j += 1
    if ctes:
        head = ["WITH"]
        for k, c in enumerate(ctes):
            head += ([","] if k else []) + c
        return head + body
    return body


def _rewrite_system_tables(tokens: list[str]) -> list[str]:
    """``system.X`` → ``system_X`` and ``information_schema.X`` →
    ``information_schema_X`` (the engine registers both introspection
    surfaces under those view names — ChSparkEngine._SYSTEM_VIEWS;
    CH ships the information_schema compat layer for BI tools)."""
    out: list[str] = []
    i = 0
    while i < len(tokens):
        if (
            _KW(tokens[i]) in ("SYSTEM", "INFORMATION_SCHEMA")
            and i + 2 < len(tokens)
            and tokens[i + 1] == "."
            and _is_word(tokens[i + 2])
        ):
            out.append(f"{tokens[i].lower()}_{tokens[i + 2]}")
            i += 3
        else:
            out.append(tokens[i])
            i += 1
    return out


def _rewrite_totals(tokens: list[str]) -> list[str]:
    """``GROUP BY k1, k2 WITH TOTALS`` → ``GROUP BY GROUPING SETS ((k1, k2),
    ())``.  The totals row arrives as an extra row with NULL keys (ANSI
    grouping-sets semantics) rather than CH's zero/empty defaults — the same
    documented ANSI posture as join_use_nulls.  ``WITH ROLLUP`` / ``WITH
    CUBE`` need no rewrite (Spark accepts the identical syntax)."""
    wt = None
    for i in _depth0_positions(tokens, lambda t, j: _KW(t) == "WITH"):
        if i + 1 < len(tokens) and _KW(tokens[i + 1]) == "TOTALS":
            wt = i
            break
    if wt is None:
        return tokens
    groups = _depth0_positions(
        tokens, lambda t, j: _KW(t) == "GROUP" and j < wt
    )
    if not groups or _KW(tokens[groups[-1] + 1]) != "BY":
        raise ChSqlError("WITH TOTALS without a GROUP BY clause")
    g = groups[-1]
    keys = tokens[g + 2 : wt]
    return (
        tokens[:g]
        + ["GROUP", "BY", "GROUPING", "SETS", "(", "("] + keys + [")", ",", "(", ")", ")"]
        + tokens[wt + 2 :]
    )


#: clause keywords that terminate an ARRAY JOIN item list at depth 0
_AJ_STOP = _CLAUSE_STOP | {"JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ASOF", "ARRAY"}


def _rewrite_array_join(tokens: list[str]) -> list[str]:
    """``[LEFT] ARRAY JOIN item [, item ...]`` → ``LATERAL VIEW [OUTER]
    posexplode(first) _aj AS _aj_pos, _aj_c0`` with references rewritten:
    the first item's name → ``_aj_c0``, each further item ``e AS a`` →
    ``e[_aj_pos]`` (CH zips parallel arrays positionally; the 0-based Spark
    subscript is generated by us, so the documented no-subscript-translation
    rule doesn't apply).  Items must be a bare column or ``expr AS alias``;
    LEFT ARRAY JOIN keeps rows with empty arrays (OUTER), emitting NULLs —
    CH emits default values, same ANSI deviation as everywhere else."""
    aj = None
    for i in _depth0_positions(tokens, lambda t, j: _KW(t) == "ARRAY"):
        if i + 1 < len(tokens) and _KW(tokens[i + 1]) == "JOIN":
            aj = i
            break
    if aj is None:
        return tokens
    left = aj > 0 and _KW(tokens[aj - 1]) == "LEFT"
    start = aj - 1 if left else aj
    stops = _depth0_positions(
        tokens, lambda t, j: j > aj + 1 and _KW(t) in _AJ_STOP
    )
    end = stops[0] if stops else len(tokens)
    items: list[tuple[list[str], str]] = []  # (expr tokens, reference name)
    for item in _split_top(tokens[aj + 2 : end], ","):
        if not item:
            continue
        if len(item) >= 3 and _KW(item[-2]) == "AS":
            items.append((item[:-2], item[-1]))
        elif len(item) == 1 and _is_word(item[0]):
            items.append((item, item[0]))
        else:
            raise ChSqlError(
                f"ARRAY JOIN item must be a column or 'expr AS alias': {render(item)!r}"
            )
    if not items:
        raise ChSqlError("ARRAY JOIN with no items")
    first_expr, first_name = items[0]
    # A bare-column item (`ARRAY JOIN x`) shadows the table's own column in
    # CH; the generated lateral column must get a FRESH name (_aj_c0) to
    # avoid ambiguity, with references substituted.  An aliased item's alias
    # is a new name, so the lateral column can carry it directly.
    bare_first = len(first_expr) == 1 and first_expr[0] == first_name
    col0 = "_aj_c0" if bare_first else first_name
    # clause removed before ref rewrite; sentinel marks the insertion point
    # (substitutions below change token counts, invalidating raw indexes)
    sentinel = "\x00AJ"
    body = tokens[:start] + [sentinel] + tokens[end:]

    def sub(name: str, repl: list[str]) -> None:
        # Replacing a whole top-level select item (`SELECT name,`) keeps the
        # CH output column name via an explicit alias.
        j = 0
        while j < len(body):
            if (
                body[j] == name
                and (j == 0 or body[j - 1] != ".")
                and (j + 1 >= len(body) or body[j + 1] != ".")
            ):
                r = list(repl)
                prev = _KW(body[j - 1]) if j > 0 else ""
                nxt = _KW(body[j + 1]) if j + 1 < len(body) else ""
                if prev in ("SELECT", "DISTINCT", ",") and nxt in (",", "FROM"):
                    r += ["AS", name]
                body[j : j + 1] = r
                j += len(r)
            else:
                j += 1

    if bare_first:
        sub(first_name, [col0])
    for expr, name in items[1:]:
        sub(name, ["("] + expr + ["[", "_aj_pos", "]", ")"])
    lateral = (
        ["LATERAL", "VIEW"]
        + (["OUTER"] if left else [])
        + ["posexplode", "("] + first_expr + [")"]
        + ["_aj", "AS", "_aj_pos", ",", col0]
    )
    at = body.index(sentinel)
    return body[:at] + lateral + body[at + 1 :]


def _rewrite_exprs(tokens: list[str]) -> str:
    """Depth-first call rewriting over the whole token stream; returns SQL
    text (function args are rendered strings by the time a rule fires)."""
    out: list[str] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t == "==":
            out.append("=")
            i += 1
            continue
        if t == "[":
            # CH array literal `[a, b]` → array(a, b).  Subscripting
            # (`expr[i]`, identifier/paren/bracket/string just before) is NOT
            # translated — CH is 1-based, Spark 0-based; use arrayElement/
            # element_at instead (documented subset).
            prev = out[-1] if out else ""
            is_literal = not (
                _IDX_PRECEDERS.match(prev) and _KW(prev) not in _SQL_KEYWORDS
            )
            if is_literal:
                close = _find_close_bracket(tokens, i)
                items = [
                    _rewrite_exprs(s)
                    for s in _split_top(tokens[i + 1 : close], ",")
                    if s
                ]
                out.append(f"array({', '.join(items)})")
                i = close + 1
                continue
        if _is_word(t) and i + 1 < len(tokens) and tokens[i + 1] == "(":
            close = _find_close(tokens, i + 1)
            arg_slices = _split_top(tokens[i + 2 : close], ",")
            args = [
                _rewrite_exprs(s) for s in arg_slices if s
            ]
            # CAST(x AS ChType) — translate the type name
            if _KW(t) == "CAST":
                inner = tokens[i + 2 : close]
                parts = _split_top(inner, "AS")
                if len(parts) == 2:
                    expr = _rewrite_exprs(parts[0])
                    ty = render(parts[1])
                    out.append(f"CAST({expr} AS {_map_type(ty)})")
                    i = close + 1
                    continue
            # parametric: fname(params)(args) — including the -If combinator
            # on any parametric base: fnameIf(params)(args..., cond) lowers
            # to the base over CASE WHEN cond THEN arg END (aggregates skip
            # NULLs, so the filter is exact)
            base_if = (
                t[:-2]
                if t.endswith("If") and t[:-2] in PARAMETRIC_RULES
                else None
            )
            if (
                (t in PARAMETRIC_RULES or base_if)
                and close + 1 < len(tokens)
                and tokens[close + 1] == "("
            ):
                close2 = _find_close(tokens, close + 1)
                args2 = [
                    _rewrite_exprs(s)
                    for s in _split_top(tokens[close + 2 : close2], ",")
                    if s
                ]
                if base_if:
                    if len(args2) < 2:
                        raise ChSqlError(
                            f"{t} needs (params)(args..., cond) — the last "
                            "argument is the -If condition"
                        )
                    cond = args2[-1]
                    args2 = [
                        f"CASE WHEN {cond} THEN {x} END" for x in args2[:-1]
                    ]
                    out.append(PARAMETRIC_RULES[base_if](args, args2))
                else:
                    out.append(PARAMETRIC_RULES[t](args, args2))
                i = close2 + 1
                continue
            if (
                t not in PARAMETRIC_RULES
                and close + 1 < len(tokens)
                and tokens[close + 1] == "("
                and re.match(r"^[A-Za-z_]\w*$", t)
                and t.lower() not in ("if", "cast", "exists", "in")
            ):
                # fname(params)(args) is CH-only syntax — never valid Spark
                # SQL; fail with a dialect diagnostic, not a parser error
                raise ChSqlError(
                    f"unsupported parametric aggregate {t!r}; supported: "
                    f"{sorted(PARAMETRIC_RULES)}"
                )
            if t in FUNC_RULES:
                out.append(FUNC_RULES[t](args))
                i = close + 1
                continue
            # generic -If combinator: <agg>If(args..., cond) → the rewritten
            # base aggregate with an ANSI FILTER clause.  Restricted to known
            # AGGREGATE base names — FILTER on a scalar (absIf, roundIf, ...)
            # is invalid SQL and would surface as an opaque Spark parse error
            # instead of a dialect diagnostic.
            if t.endswith("If") and len(t) > 2 and args and t[:-2] in _AGG_IF_BASES:
                inner = FUNC_RULES[t[:-2]](args[:-1])
                out.append(f"{inner} FILTER (WHERE {args[-1]})")
                i = close + 1
                continue
            out.append(f"{t}({', '.join(args)})")
            i = close + 1
            continue
        out.append(t)
        i += 1
    return render(out)


def transpile_expr(text: str) -> str:
    """Expression-level-only rewrite (CH function names / literals / type
    names) for fragments embedded in non-SELECT statements — the engine's
    ALTER ... UPDATE/DELETE dispatcher feeds assignment and WHERE snippets
    through this."""
    return _rewrite_exprs(tokenize(text))


def _inline_named_windows(tokens: list[str]) -> list[str]:
    """``WINDOW w AS (spec)[, w2 AS (spec2)]`` + ``fn() OVER w`` →
    ``fn() OVER (spec)``: Spark SQL has no named-WINDOW clause, but inlining
    is semantics-preserving (SURVEY §2.5 named WINDOW reuse)."""
    wins = _depth0_positions(tokens, lambda t, i: _KW(t) == "WINDOW")
    # the WINDOW clause sits between HAVING/GROUP BY and ORDER BY/LIMIT; an
    # OVER immediately before is the window-function case, skip those
    wpos = [i for i in wins if i == 0 or _KW(tokens[i - 1]) != "OVER"]
    if not wpos:
        return tokens
    i = wpos[0]
    defs: dict[str, list[str]] = {}
    k = i + 1
    while k + 2 < len(tokens) and _is_word(tokens[k]) and _KW(tokens[k + 1]) == "AS":
        if tokens[k + 2] != "(":
            raise ChSqlError("WINDOW definition expects a parenthesized spec")
        close = _find_close(tokens, k + 2)
        defs[tokens[k]] = tokens[k + 2 : close + 1]  # incl. parens
        k = close + 1
        if k < len(tokens) and tokens[k] == ",":
            k += 1
        else:
            break
    if not defs:
        raise ChSqlError("WINDOW clause without definitions")
    rest = tokens[:i] + tokens[k:]
    out: list[str] = []
    j = 0
    while j < len(rest):
        if (
            _KW(rest[j]) == "OVER"
            and j + 1 < len(rest)
            and rest[j + 1] in defs
        ):
            out += ["OVER"] + defs[rest[j + 1]]
            j += 2
        else:
            out.append(rest[j])
            j += 1
    return out


def _clause_pipeline(tokens: list[str]) -> list[str]:
    """The clause-level rewrites that apply to one SELECT scope."""
    tokens = _inline_named_windows(tokens)
    tokens = _merge_prewhere(tokens)
    tokens = _rewrite_asof(tokens)
    tokens = _rewrite_limit_ties(tokens)
    tokens = _rewrite_distinct_on(tokens)
    tokens = _rewrite_limit_by(tokens)
    tokens = _rewrite_scalar_with(tokens)
    tokens = _rewrite_sample(tokens)
    tokens = _rewrite_totals(tokens)
    tokens = _rewrite_array_join(tokens)
    return tokens


def _rewrite_subqueries(tokens: list[str]) -> list[str]:
    """Bottom-up: run the clause pipeline inside every parenthesized SELECT
    (subqueries, IN/EXISTS bodies, CTE definitions), so PREWHERE/LIMIT BY/
    SAMPLE/TOTALS/ARRAY JOIN work at any nesting depth, not just top level."""
    out: list[str] = []
    i = 0
    while i < len(tokens):
        if tokens[i] == "(":
            close = _find_close(tokens, i)
            inner = _rewrite_subqueries(tokens[i + 1 : close])
            if inner and _KW(inner[0]) == "SELECT":
                inner = _clause_pipeline(inner)
            out += ["("] + inner + [")"]
            i = close + 1
        else:
            out.append(tokens[i])
            i += 1
    return out


def transpile_with_fill(sql: str) -> tuple[str, dict | None]:
    """Like :func:`transpile`, but ``ORDER BY ... WITH FILL`` is *extracted*
    rather than rejected: returns ``(spark_sql, fill_spec)`` where the spec's
    from/to/step values are already-transpiled Spark SQL expression strings.
    ``ChSparkEngine.sql`` runs the core text and applies
    ``operators/fill.with_fill`` per the spec (the axis construction needs the
    result schema, which no text-level rewrite has)."""
    tokens = tokenize(sql)
    tokens = _strip_tail(tokens)
    tokens = _drop_modifiers(tokens)
    tokens, fill = _extract_with_fill(tokens)
    tokens = _rewrite_subqueries(tokens)
    tokens = _clause_pipeline(tokens)
    tokens = _rewrite_system_tables(tokens)
    if fill:
        for key in ("from", "to", "step", "staleness"):
            if fill[key] is not None:
                fill[key] = _rewrite_exprs(fill[key])
    return _rewrite_exprs(tokens), fill


def transpile(sql: str) -> str:
    """ClickHouse-dialect SQL text → Spark SQL text (subset; see module doc)."""
    out, fill = transpile_with_fill(sql)
    if fill is not None:
        raise ChSqlError(
            "ORDER BY ... WITH FILL needs the result schema: run it through "
            "ChSparkEngine.sql(..., dialect='clickhouse') instead of transpile()"
        )
    return out


#: clause keywords that start a new line in format_sql (clickhouse-format's
#: one-clause-per-line layout, /root/reference Dockerfile:152-177 ships the
#: tool as `clickhouse-format`)
_FMT_BREAKS = {
    "SELECT", "FROM", "WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER",
    "LIMIT", "UNION", "INTERSECT", "EXCEPT", "WITH", "SETTINGS", "FORMAT",
    "WINDOW", "QUALIFY",
}
_FMT_JOIN = {"JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ASOF", "PASTE", "ANY", "GLOBAL", "SEMI", "ANTI", "ARRAY"}


def format_sql(sql: str) -> str:
    """``clickhouse-format`` analog: canonical one-clause-per-line layout
    with UPPERCASE keywords, built on the same tokenizer the transpiler
    uses (so anything transpile accepts, format_sql formats)."""
    kw = _FMT_BREAKS | _FMT_JOIN | {
        "AS", "ON", "USING", "AND", "OR", "NOT", "IN", "EXISTS", "BETWEEN",
        "CASE", "WHEN", "THEN", "ELSE", "END", "BY", "ASC", "DESC", "NULLS",
        "FIRST", "LAST", "DISTINCT", "ALL", "OUTER", "IS", "NULL", "LIKE",
        "ILIKE", "INTERVAL", "OVER", "PARTITION", "ROWS", "RANGE", "CURRENT",
        "ROW", "UNBOUNDED", "PRECEDING", "FOLLOWING", "TOTALS", "ROLLUP",
        "CUBE", "GROUPING", "SETS", "VALUES", "TIES", "OFFSET", "SAMPLE",
        "FINAL", "TABLE", "VIEW", "IF",
    }
    toks = tokenize(sql)
    out: list[str] = []
    depth = 0
    prev_break = False
    for i, t in enumerate(toks):
        u = t.upper()
        word = u if u in kw and re.match(r"^[A-Za-z_]+$", t) else t
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        breaks = depth == 0 and u in _FMT_BREAKS and i > 0 and not (
            u == "GROUP" and out and out[-1].endswith("WITHIN")
        )
        join_break = (
            depth == 0
            and u in _FMT_JOIN
            and i > 0
            and (u == "JOIN" or toks[min(i + 1, len(toks) - 1)].upper() in _FMT_JOIN | {"JOIN"})
            and (not out or not out[-1].rstrip().upper().endswith(
                ("LEFT", "RIGHT", "FULL", "CROSS", "INNER", "ASOF", "PASTE",
                 "ANY", "GLOBAL", "SEMI", "ANTI", "ARRAY")
            ))
        )
        if breaks or join_break:
            out.append("\n" + word)
            prev_break = True
            continue
        out.append(word)
        prev_break = False
    text = render([x for x in out])
    lines = [ln.strip() for ln in text.split("\n")]
    return "\n".join(ln for ln in lines if ln)
