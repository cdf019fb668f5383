"""Vector distance metrics as pure Catalyst column expressions.

Semantics mirror the reference's distance module (/root/reference/
src/distance.rs:43-73):

- cosine              : 1 - dot(a,b) / (|a| * |b|); 1.0 if either norm is 0
- cosine_normalized   : 1 - dot(a,b)   (caller promises unit vectors)
- euclidean (l2)      : sqrt(sum((a-b)^2))
- dot                 : -dot(a,b)      (negated so smaller = more similar)
- manhattan (l1)      : sum(|a-b|)
- hamming             : count of positions where (a!=0) differs from (b!=0)
- chebyshev (linf)    : max(|a-b|)

Implementation notes (why this shape):

- Everything is a higher-order-function expression over array<float>
  columns (`zip_with` + `aggregate`), evaluated JVM-side with no Python
  crossing — at 100 TB the scoring stays inside the executors' codegen'd
  pipeline and the scan it feeds (filter pushdown, column pruning) is
  untouched.
- Accumulation is an explicit left-to-right fold in float64
  (`aggregate(zip_with(...), 0.0D, (acc, x) -> acc + x)`).  That makes
  the result *deterministic and bit-exact* regardless of partitioning —
  a requirement for hash-checking against the DuckDB oracle and for
  stable top-k boundaries.  float32 -> float64 widening is exact, so
  both engines see identical inputs; IEEE doubles then make every op
  (+ * / sqrt) identical.
- Each expression is built as ONE Spark SQL string (`distance_sql`, the
  twin of `duckdb_distance_sql`) and handed to the JVM in a single
  `F.expr` call.  Built from Column objects, every `F.lit`, operator and
  Python lambda is its own py4j round trip (~0.15 ms): a 64-d cosine
  against a literal query vector took ~700 calls, the text takes one,
  for any dimension.  Catalyst parses the text to the same tree, up to
  the names of lambda variables.
- Only engine-generated text goes into the SQL: column names in
  backticks (any backtick doubled) and numbers spelled
  `repr(float(x)) + "D"`.  The `D` suffix matters: a bare `0.5` parses
  as DECIMAL and would change the plan and the arithmetic.  NaN and
  +-Inf, which have no literal syntax, are `CAST('NaN' AS DOUBLE)` etc.
"""

from __future__ import annotations

import math

from py4j.protocol import Py4JError
from pyspark.sql import Column
from pyspark.sql import functions as F

#: metric name -> canonical aliases
DISTANCE_METRICS = {
    "cosine": ("cosine",),
    "cosine_normalized": ("cosine_normalized", "cosinenormalized"),
    "euclidean": ("euclidean", "l2"),
    "dot": ("dot", "dotproduct", "dot_product", "ip"),
    "manhattan": ("manhattan", "l1"),
    "hamming": ("hamming",),
    "chebyshev": ("chebyshev", "linf"),
}

_ALIAS = {a: m for m, aliases in DISTANCE_METRICS.items() for a in aliases}


def _canonical(metric: str) -> str:
    m = _ALIAS.get(metric.lower().replace("-", "_"))
    if m is None:
        raise ValueError(f"unknown distance metric: {metric!r}")
    return m


_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _quote(parts) -> str:
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def sql_double(x) -> str:
    """A DOUBLE literal as Spark SQL text.  `repr` round-trips every
    float exactly; the `D` suffix keeps it a DOUBLE (a bare `0.5` is a
    DECIMAL literal)."""
    x = float(x)
    r = repr(x)
    if r in _NON_FINITE:
        return f"CAST('{_NON_FINITE[r]}' AS DOUBLE)"
    return r + "D"


def array_sql(values) -> str:
    """A float vector as a Spark SQL array<double> literal."""
    return "array(" + ", ".join(sql_double(x) for x in values) + ")"


def array_literal(values) -> Column:
    """A float vector as an array<double> literal Column, built in one
    JVM call (F.array of F.lit's costs one call per element)."""
    return F.expr(array_sql(values))


def col_sql(c) -> str:
    """SQL text for a column given by name or as a plain `F.col`
    reference: each name part (a name splits on dots, as in `F.col`) in
    backticks, any backtick doubled.  A computed Column has no name to
    put in SQL text: name it first with `withColumn`."""
    if isinstance(c, str):
        return _quote(c.split("."))
    if isinstance(c, Column):
        try:
            parts = c._jc.node().nameParts().mkString("\x1f").split("\x1f")
        except (Py4JError, AttributeError):
            parts = None
        if parts:
            return _quote(parts)
    raise TypeError(
        f"expected a column name or an F.col reference, got {c!r} — "
        "name a computed column with withColumn first")


def _fold_sql(body: str) -> str:
    # left-to-right double fold; 0.0 + x == x in IEEE so this matches a
    # seedless fold (and DuckDB's list_reduce) bit-for-bit.
    return f"aggregate({body}, 0.0D, (acc, x) -> acc + x)"


def _norm_sql(a: str) -> str:
    return "sqrt(" + _fold_sql(
        f"transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))") + ")"


def distance_sql(metric: str, a: str, b: str,
                 a_norm: str | None = None, b_norm: str | None = None) -> str:
    """The Spark SQL text of a distance between two array<float> SQL
    expressions — twin of `duckdb_distance_sql`, same fold order.
    `a_norm`/`b_norm` replace the per-row norm of a side whose norm is
    a known constant (cosine only)."""
    m = _canonical(metric)

    def zipped(body: str) -> str:
        return f"zip_with({a}, {b}, (x, y) -> {body})"

    diff = "CAST(x AS DOUBLE) - CAST(y AS DOUBLE)"
    dot = _fold_sql(zipped("CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"))
    if m == "cosine":
        na = a_norm or _norm_sql(a)
        nb = b_norm or _norm_sql(b)
        return (f"CASE WHEN {na} = 0.0D OR {nb} = 0.0D THEN 1.0D "
                f"ELSE 1.0D - {dot} / ({na} * {nb}) END")
    if m == "cosine_normalized":
        return f"1.0D - {dot}"
    if m == "euclidean":
        return "sqrt(" + _fold_sql(f"transform({zipped(diff)}, x -> x * x)") + ")"
    if m == "dot":
        return f"-{dot}"
    if m == "manhattan":
        return _fold_sql(zipped(f"abs({diff})"))
    if m == "hamming":
        return _fold_sql(zipped("CAST((x != 0.0D) != (y != 0.0D) AS DOUBLE)"))
    if m == "chebyshev":
        return f"array_max({zipped(f'abs({diff})')})"
    raise AssertionError(m)


def _side(v) -> tuple[str, str | None]:
    """(SQL text, constant norm or None) for one distance operand."""
    if isinstance(v, (str, Column)):
        return col_sql(v), None
    if isinstance(v, bytes):
        raise TypeError(f"distance_expr takes a column or a numeric "
                        f"sequence, got {v!r}")
    # a one-shot iterable is read exactly once here
    vals = [float(x) for x in v]
    # Catalyst does not constant-fold interpreted higher-order folds, so
    # the norm of a LITERAL vector would re-run its fold per row.  The
    # same left-to-right IEEE-754 double fold in Python gives the
    # bit-identical value once.
    s = 0.0
    for x in vals:
        s = s + x * x
    return array_sql(vals), sql_double(math.sqrt(s))


def distance_expr(metric: str, a, b) -> Column:
    """Distance between two array<float> operands as one Column.  Each
    side is a column name (or plain `F.col` reference) or a numeric
    sequence — a literal vector, embedded in the plan and shipped once
    with the serialized task, not joined.

    Raises ValueError for unknown metrics (mirrors needle's FromStr).
    """
    m = _canonical(metric)
    (a, na), (b, nb) = _side(a), _side(b)
    return F.expr(distance_sql(m, a, b, a_norm=na, b_norm=nb))


def similarity_from_distance(dist: Column) -> Column:
    """needle's distance->similarity transform used in hybrid fusion
    (src/hybrid.rs:553): sim = 1 / (1 + distance)."""
    return F.lit(1.0) / (F.lit(1.0) + dist)


def l2_normalize_sql(a: str) -> str:
    """Spark SQL text of an L2-normalized array<float> expression;
    zero vectors pass through unchanged."""
    n = _norm_sql(a)
    return (f"CASE WHEN {n} = 0.0D THEN {a} "
            f"ELSE transform({a}, e -> CAST(CAST(e AS DOUBLE) / {n} AS FLOAT)) END")


def l2_normalize_expr(a) -> Column:
    """L2-normalize an array<float> column given by name or `F.col`
    (insert-hook `normalize_l2`, src/hooks.rs:15).  Zero vectors pass
    through unchanged."""
    return F.expr(l2_normalize_sql(col_sql(a)))


def duckdb_distance_sql(metric: str, a: str, b: str) -> str:
    """The DuckDB-SQL twin of distance_expr — same fold order, same double
    math, bit-exact against the Spark expression.  Used to build oracle
    queries; `a`/`b` are SQL expressions for FLOAT[] values."""
    m = _canonical(metric)

    def fold(body: str, *vecs: str) -> str:
        # Spark's aggregate/zip_with over a NULL array is NULL; DuckDB's
        # list_prepend/list_zip would read a NULL list as empty/padded
        null = " OR ".join(f"({v}) IS NULL" for v in vecs)
        return (f"CASE WHEN {null} THEN NULL::DOUBLE ELSE list_reduce("
                f"list_prepend(0.0::DOUBLE, {body}), (acc, x) -> acc + x) END")

    def zipped(body: str) -> str:
        return f"list_transform(list_zip({a}, {b}), z -> {body})"

    diff = "CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)"
    dot = fold(zipped("CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)"), a, b)
    na = "sqrt(" + fold(f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))", a) + ")"
    nb = "sqrt(" + fold(f"list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))", b) + ")"

    if m == "cosine":
        return (
            f"CASE WHEN {na} = 0.0 OR {nb} = 0.0 THEN 1.0 "
            f"ELSE 1.0 - ({dot}) / (({na}) * ({nb})) END"
        )
    if m == "cosine_normalized":
        return f"1.0 - ({dot})"
    if m == "euclidean":
        return "sqrt(" + fold(zipped(f"({diff}) * ({diff})"), a, b) + ")"
    if m == "dot":
        return f"-({dot})"
    if m == "manhattan":
        return fold(zipped(f"abs({diff})"), a, b)
    if m == "hamming":
        return fold(zipped(
            "CASE WHEN (z[1] <> 0.0) <> (z[2] <> 0.0) THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END"), a, b)
    if m == "chebyshev":
        return (f"CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL::DOUBLE "
                f"ELSE list_max({zipped(f'abs({diff})')}) END")
    raise AssertionError(m)
