"""Vector math over ``array<float|double>`` values, defined once for
Spark, the Python driver/workers and the DuckDB oracle.

The reference's `Distance` functions (SURVEY.md §1.1: Euclidean /
cosine over dense points) are the only thing the diversity algorithms
need from the data, and every oracle in this engine is hash-exact on
their results. That holds because all three engines apply ONE rule:

    The fold rule: cast each element to double (float -> double is
    exact), combine the i-th element pair with the primitive's
    element-wise term, fold the terms LEFT to right starting from
    0.0, and take any sqrt LAST (a correctly rounded IEEE sqrt in
    every engine: Java's Math.sqrt, C's sqrt, Python's math.sqrt —
    never ``x ** 0.5``, which is not correctly rounded).

Each primitive (squared L2, L2, dot, squared norm, cosine,
L2-normalize, and the literal double array) comes in these forms,
side by side:

- Spark: ``<name>`` returns the Column; ``<name>_sql``, where a
  caller composes it into a larger expression parsed once, returns
  the Spark SQL text. The
  fold is ``aggregate(zip_with(a, b, term), 0.0D, +)`` — a Catalyst
  higher-order expression inside whole-stage codegen, so a distance
  never leaves the JVM.
- Python: ``py_<name>`` folds sequences of Python floats with an
  explicit loop. Callers convert ONCE at their boundary
  (``py_double_array``); the folds do not cast per element. An
  explicit loop rather than ``sum()``: from Python 3.12 ``sum()`` over
  floats is compensated and would stop being a left fold.
- DuckDB: ``duck_<name>`` returns DuckDB SQL text. ``list_sum`` over
  an index-ordered ``list_transform`` is a sequential fold over
  DOUBLE.

Spark and DuckDB operands are SQL expression strings (column names,
or a literal from ``sql_double_array`` / ``duck_double_array``).

At 100 TB scale these expressions vectorize per row with no Python
boundary; the O(n^2) *pairing* cost is handled separately by the LSH /
bucketing rewrites in plans/distance_join.py, not here. The numpy
tier in diversity/kernel.py (BLAS, pairwise summation) is the one
place that is deliberately NOT fold-exact.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(expr: str) -> str:
    return f"CAST({expr} AS DOUBLE)"


# --- element-wise terms: one per primitive, shared by Spark and DuckDB ---


def _sq_diff(x: str, y: str) -> str:
    # (x-y)*(x-y), not pow(): both engines then run the same IEEE ops
    return f"({_d(x)} - {_d(y)}) * ({_d(x)} - {_d(y)})"


def _prod(x: str, y: str) -> str:
    return f"{_d(x)} * {_d(y)}"


def _spark_fold(term, a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term('x', 'y')}), "
        "CAST(0 AS DOUBLE), (s, v) -> s + v)"
    )


def _duck_fold(term, a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {term(f'({a})[i]', f'({b})[i]')}))"
    )


# --- literal double arrays ---------------------------------------------


def sql_double_array(values) -> str:
    """A driver-side float sequence as ONE Spark SQL ``array<double>``
    literal. Values round-trip exactly: repr() emits the shortest
    digits that parse back to the same double, and CAST(string AS
    DOUBLE) is that parse."""
    return "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values) + ")"


def lit_double_array(values) -> Column:
    """``sql_double_array`` as a Column. Equivalent to
    ``F.array(*[F.lit(float(v)) ...])`` but a single py4j round-trip
    instead of one per element — the element-wise form costs ~1 ms of
    driver time per literal, which dominates query CONSTRUCTION for
    centroid/plane/component arrays (64-2048 elements, rebuilt on
    every call)."""
    return F.expr(sql_double_array(values))


def py_double_array(values) -> list[float]:
    """The boundary conversion the Python folds expect."""
    return [float(v) for v in values]


def duck_double_array(values) -> str:
    """DuckDB ``DOUBLE[]`` literal; string casts keep the exact
    round-trip (a bare numeric literal would parse as DECIMAL)."""
    return "[" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values) + "]"


# --- squared L2 / L2 ----------------------------------------------------


def sq_l2_sql(a: str, b: str) -> str:
    return _spark_fold(_sq_diff, a, b)


def sq_l2(a: str, b: str) -> Column:
    return F.expr(sq_l2_sql(a, b))


def l2_dist(a: str, b: str) -> Column:
    return F.expr(f"sqrt({sq_l2_sql(a, b)})")


def py_sq_l2(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        d = x - y
        s += d * d
    return s


def py_l2_dist(a, b) -> float:
    return math.sqrt(py_sq_l2(a, b))


def duck_sq_l2(a: str, b: str) -> str:
    return _duck_fold(_sq_diff, a, b)


def duck_l2_dist(a: str, b: str) -> str:
    return f"sqrt({duck_sq_l2(a, b)})"


# --- dot / squared norm -------------------------------------------------


def dot_sql(a: str, b: str) -> str:
    return _spark_fold(_prod, a, b)


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def sq_norm_sql(a: str) -> str:
    return dot_sql(a, a)


def sq_norm(a: str) -> Column:
    return F.expr(sq_norm_sql(a))


def py_dot(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def py_sq_norm(a) -> float:
    s = 0.0
    for x in a:
        s += x * x
    return s


def duck_dot(a: str, b: str) -> str:
    return _duck_fold(_prod, a, b)


def duck_sq_norm(a: str) -> str:
    return duck_dot(a, a)


# --- cosine -------------------------------------------------------------


def cosine_sim(a: str, b: str) -> Column:
    return F.expr(
        f"{dot_sql(a, b)} / (sqrt({sq_norm_sql(a)}) * sqrt({sq_norm_sql(b)}))"
    )


def cosine_sim_to(a: str, values) -> Column:
    """``cosine_sim`` of column ``a`` against a driver-side vector:
    the vector's norm is folded once on the driver (``py_sq_norm``,
    then math.sqrt) and enters as a literal — the same double the JVM
    would compute per row."""
    nrm = math.sqrt(py_sq_norm(py_double_array(values)))
    return F.expr(
        f"{dot_sql(a, sql_double_array(values))} / "
        f"(sqrt({sq_norm_sql(a)}) * CAST('{nrm!r}' AS DOUBLE))"
    )


def py_cosine_sim(a, b) -> float:
    return py_dot(a, b) / (math.sqrt(py_sq_norm(a)) * math.sqrt(py_sq_norm(b)))


def duck_cosine_sim(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / (sqrt({duck_sq_norm(a)}) * sqrt({duck_sq_norm(b)})))"


# --- L2 normalize -------------------------------------------------------


def l2_normalize_sql(a: str) -> str:
    """L2-normalized copy of the vector (array<double>)."""
    return f"transform({a}, el -> {_d('el')} / sqrt({sq_norm_sql(a)}))"


def l2_normalize(a: str) -> Column:
    return F.expr(l2_normalize_sql(a))


def py_l2_normalize(a) -> list[float]:
    n = math.sqrt(py_sq_norm(a))
    return [x / n for x in a]


def duck_l2_normalize(a: str) -> str:
    return f"list_transform({a}, x -> {_d('x')} / sqrt({duck_sq_norm(a)}))"
