"""Synthetic point sources (SURVEY.md §2.1 "Point sources": the
reference ships uniform sphere/ball and gaussian generators for its
experiments).

Generated fully distributed and DETERMINISTICALLY: `spark.range(n)`
plus per-(row, dimension) counter-based hashing — `xxhash64(id, dim,
seed)` mapped to (0,1), gaussians via Box–Muller. No RNG state, no
driver data, and the value of a point depends only on (id, dim, seed),
never on partitioning — so the output is identical on 1 core or 1000
executors, which `rand(seed)` cannot promise (it is per-partition).
Everything is JVM-side column expressions inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..registry import query

N_POINTS = 1_000
DIM = 8
SEED = 42


def _u01(expr: str) -> str:
    """Deterministic uniform (0,1) from a counter-based hash: the
    first 32 bits of md5 over a '|'-joined key, offset half a step to
    avoid exact 0/1. md5 (not xxhash64) so the hash family is
    bit-identical in DuckDB (the bow_vectorize discipline) and the
    generator output is oracle-checkable; the uniform is an exact
    dyadic rational, so downstream ln/cos see identical inputs in
    both engines."""
    return (
        f"((conv(substring(md5(concat_ws('|', {expr})), 1, 8), 16, 10) + 0.5)"
        f" / 4294967296D)"
    )


def random_gaussian(
    spark: SparkSession, n: int = N_POINTS, dim: int = DIM, seed: int = SEED
) -> DataFrame:
    """n iid standard-gaussian points: Box–Muller over two hashed
    uniforms per (id, dim)."""
    u1 = _u01(f"id, j, 'u1', {seed}")
    u2 = _u01(f"id, j, 'u2', {seed}")
    vec = (
        f"transform(sequence(0, {dim - 1}), j -> "
        f"sqrt(-2.0D * ln({u1})) * cos(2.0D * pi() * {u2}))"
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.expr(vec).alias("embedding")
    )


def random_sphere(
    spark: SparkSession, n: int = N_POINTS, dim: int = DIM, seed: int = SEED
) -> DataFrame:
    """Uniform on the unit sphere: normalized gaussian vector."""
    g = random_gaussian(spark, n, dim, seed)
    return g.select("vec_id", V.l2_normalize("embedding").alias("embedding"))


def random_ball(
    spark: SparkSession, n: int = N_POINTS, dim: int = DIM, seed: int = SEED
) -> DataFrame:
    """Uniform in the unit ball: sphere point scaled by U^(1/dim)."""
    s = random_sphere(spark, n, dim, seed)
    r = f"power({_u01(f'vec_id, {seed + 1}')}, 1.0D / {dim}D)"
    return s.select(
        "vec_id", F.expr(f"transform(embedding, x -> x * {r})").alias("embedding")
    )


def _duck_hex32(arg: str) -> str:
    """DuckDB BIGINT for the first 32 bits of md5(arg) — the
    bow_vectorize nibble idiom (DuckDB has no conv())."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({arg}), {k}, 1)) - 1)"
        f" * {16 ** (8 - k)}"
        for k in range(1, 9)
    ) + ")"


def _points_oracle(n: int = N_POINTS, dim: int = DIM, seed: int = SEED) -> str:
    """Replay of all three generator families in DuckDB: identical
    md5-counter uniforms (exact dyadic rationals), the same
    Box-Muller / normalize / radius-scale expression trees, norms as
    the same left fold. ln/cos/pow may differ from the JVM's by an
    ulp on some inputs, absorbed by the round(.,6) on the two
    reported O(1)-magnitude columns."""
    def u01(key: str) -> str:
        h = _duck_hex32("concat_ws('|', " + key + ")")
        return f"(({h} + 0.5) / 4294967296)"

    u1 = u01(f"id, j, 'u1', {seed}")
    u2 = u01(f"id, j, 'u2', {seed}")
    ub = u01(f"id, {seed + 1}")
    norm = f"sqrt({V.duck_sq_norm('emb')})"
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS id),
g AS MATERIALIZED (
  SELECT id, list_transform(generate_series(0, {dim - 1}),
    j -> sqrt(-2.0 * ln({u1})) * cos(2.0 * pi() * {u2})) AS emb
  FROM ids),
s AS MATERIALIZED (
  SELECT id, {V.duck_l2_normalize('emb')} AS emb
  FROM g),
b AS MATERIALIZED (
  SELECT id,
         list_transform(emb, x -> x * power({ub}, 1.0 / {dim})) AS emb
  FROM s)
SELECT 'gaussian' AS family, id AS vec_id,
       round({norm}, 6) AS norm, round(emb[1], 6) AS x0 FROM g
UNION ALL
SELECT 'sphere', id, round({norm}, 6), round(emb[1], 6) FROM s
UNION ALL
SELECT 'ball', id, round({norm}, 6), round(emb[1], 6) FROM b
"""


@query("source_random_points", oracle=_points_oracle())
def source_random_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity synthetic source: per-point norm + first coord
    of each generator family (gaussian / sphere / ball), exercising
    the full generation path. sf_dir is unused — the source IS the
    generator."""
    out = None
    for name, gen in (
        ("gaussian", random_gaussian),
        ("sphere", random_sphere),
        ("ball", random_ball),
    ):
        d = gen(spark).select(
            F.lit(name).alias("family"),
            "vec_id",
            F.round(F.sqrt(V.sq_norm("embedding")), 6).alias("norm"),
            F.round(F.expr("embedding[0]"), 6).alias("x0"),
        )
        out = d if out is None else out.unionAll(d)
    return out


HALTON_N = 4096
_HALTON_DIGITS = 12  # 2^12 = 4096, 3^8 > 4096


@query(
    "source_quasirandom",
    oracle=f"""
WITH idx AS (
  SELECT unnest(generate_series(1, {HALTON_N})) AS i
), pts AS (
  SELECT i,
         list_sum(list_transform(generate_series(0, {_HALTON_DIGITS - 1}),
           k -> CAST((i // CAST(pow(2, k) AS BIGINT)) % 2 AS BIGINT)
                * CAST(pow(2, {_HALTON_DIGITS} - 1 - k) AS BIGINT)))
           AS xb,
         list_sum(list_transform(generate_series(0, 7),
           k -> CAST((i // CAST(pow(3, k) AS BIGINT)) % 3 AS BIGINT)
                * CAST(pow(3, 7 - k) AS BIGINT))) AS yb
  FROM idx
)
SELECT i,
       CAST(xb AS DOUBLE) / {2 ** _HALTON_DIGITS} AS x,
       CAST(yb AS DOUBLE) / {3 ** 8} AS y
FROM pts
""",
)
def source_quasirandom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-D Halton low-discrepancy sequence ({HALTON_N}
    points, bases 2 and 3) — the quasi-Monte-Carlo point source for
    integration/space-filling sampling, generated by PURE INTEGER
    radical-inverse arithmetic (digit-reverse i in each base, scale
    by base^-digits) so any engine reproduces the identical stream
    with no RNG state — the QMC counterpart of
    source_random_points' hash-uniform generator.

    Exactness: every digit extraction, reversal and weighted sum is
    exact integer arithmetic; the only floats are two final
    divisions by exact powers. Scale shape: a range source +
    narrow map — embarrassingly parallel, no shuffle (at 100x
    simply raise N; the plan is a single mapPartitions over a
    range)."""
    idx = spark.range(1, HALTON_N + 1).select(F.col("id").alias("i"))
    xb = sum(
        (
            ((F.col("i") / F.lit(2**k)).cast("bigint") % 2)
            * F.lit(2 ** (_HALTON_DIGITS - 1 - k))
            for k in range(_HALTON_DIGITS)
        ),
        F.lit(0),
    )
    yb = sum(
        (
            ((F.col("i") / F.lit(3**k)).cast("bigint") % 3)
            * F.lit(3 ** (7 - k))
            for k in range(8)
        ),
        F.lit(0),
    )
    return idx.select(
        "i",
        (xb.cast("double") / F.lit(2**_HALTON_DIGITS)).alias("x"),
        (yb.cast("double") / F.lit(3**8)).alias("y"),
    )
