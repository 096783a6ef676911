"""UDF / UDAF / UDTF surface (SURVEY.md §2.2-K).

Python is the slow path; when we must cross the boundary we do it
Arrow-batched (pandas UDFs), never row-at-a-time. Each key here has a
pure-SQL oracle so the UDF result is checked against the JVM-side
equivalent — the point is to prove the Arrow plumbing, batch shapes,
and schemas, not to do work SQL could do.
"""

from __future__ import annotations

from typing import Iterator

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from ..functions import vector as V
from ..registry import query
from ..sources import load


@pandas_udf(ArrayType(DoubleType()))
def _normalize_udf(vecs: pd.Series) -> pd.Series:
    """L2-normalize with the Python form of the SQL mirror's fold."""
    return vecs.map(lambda v: V.py_l2_normalize(V.py_double_array(v)))


@query(
    "udf_scalar_pandas",
    oracle=f"""
SELECT vec_id,
       array_to_string(list_transform({V.duck_l2_normalize('embedding')},
         x -> CAST(round(x * 1000000) AS BIGINT)), ',') AS unit_vec_q
FROM embeddings
""",
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow batches) vs SQL oracle.

    The UDF output stays array<double> (proving Arrow array transfer);
    the final projection serializes it as comma-joined 1e6-scaled
    integers because the driver's canonicalizer cannot hash list cells
    (CORRECTNESS_r01 fn_array err) and float→string formatting differs
    across engines, while int64 formatting is identical."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", _normalize_udf("embedding").alias("unit_vec")
    ).select(
        "vec_id",
        F.array_join(
            F.expr(
                "transform(unit_vec, x -> CAST(round(x * 1000000) AS BIGINT))"
            ),
            ",",
        ).alias("unit_vec_q"),
    )


@pandas_udf(DoubleType())
def _sum_decimal_like(v: pd.Series) -> float:
    # Exact 2-dp sum (mirror of the DECIMAL(18,2) oracle): sum cents as ints
    cents = np.rint(v.to_numpy(dtype=np.float64) * 100).astype(np.int64)
    return float(cents.sum()) / 100.0


@query(
    "udaf_grouped_pandas",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
FROM events
GROUP BY event_type
""",
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (partial aggregation happens per Arrow
    batch JVM-side; the UDF sees each group once)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _sum_decimal_like("value").alias("total_value")
    )


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    bal = pdf["c_acctbal"].to_numpy(dtype=np.float64)
    mu = bal.sum() / len(bal)
    sd = math.sqrt(((bal - mu) ** 2).sum() / (len(bal) - 1)) if len(bal) > 1 else 0.0
    # Mirror SQL semantics for degenerate groups: stddev_samp is NULL
    # for single-row groups and division by 0 is not a number — emit
    # NULL rather than 0 so the oracle agrees (ADVICE r01).
    if len(bal) <= 1 or sd == 0.0:
        z = pd.array([pd.NA] * len(bal), dtype="Float64")
    else:
        z = pd.array(np.round((bal - mu) / sd, 4), dtype="Float64")
    return pd.DataFrame(
        {
            "c_custkey": pdf["c_custkey"],
            "c_mktsegment": pdf["c_mktsegment"],
            "z": z,
        }
    )


@query(
    "udf_grouped_map",
    oracle="""
SELECT c_custkey, c_mktsegment,
       round((c_acctbal - AVG(c_acctbal) OVER seg)
             / stddev_samp(c_acctbal) OVER seg, 4) AS z
FROM customer
WINDOW seg AS (PARTITION BY c_mktsegment)
""",
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (the per-group-kernel pattern the
    MapReduce coreset uses, SURVEY.md §2.1) — z-score per segment.

    Rounded to 4 dp: numpy's pairwise sum vs DuckDB's streaming sum
    differ at ~1e-12 relative; 4 dp on O(1) z-scores is safely inside.
    """
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").applyInPandas(
        _zscore_group, "c_custkey bigint, c_mktsegment string, z double"
    )


def _token_count_batches(batches):
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["text"].str.split(" ").map(len),
            }
        )


@query(
    "udtf_map_in_pandas",
    oracle="""
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
FROM documents
""",
)
def udtf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas partition-wise iterator (schema-changing map)."""
    d = load(spark, sf_dir, "documents")
    return d.mapInPandas(_token_count_batches, "doc_id bigint, n_tokens int")


@query(
    "udtf_python",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE doc_id < 50
)
SELECT doc_id, unnest(generate_series(1, len(ws))) - 1 AS pos,
       unnest(ws) AS w
FROM t
""",
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python user-defined table function (Spark 4 @udtf) used
    through the SQL LATERAL syntax — one input row expands to one row
    per token with its position. This key covers the UDTF API
    surface; it runs row-based Python (the slow path by design), so
    the corpus-scale equivalents remain fn_explode (JVM) and
    udtf_map_in_pandas (Arrow) — here it is deliberately applied to a
    bounded slice (doc_id < 50), the shape a real pipeline would use
    for expanding small control tables."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, w string")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split(" ")):
                yield (i, w)

    spark.udtf.register("split_words_udtf", SplitWords)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        "SELECT d.doc_id, s.pos, s.w "
        "FROM udtf_docs_in d, LATERAL split_words_udtf(d.text) s"
    )


@query(
    "udf_arrow_optimized",
    oracle="""
SELECT doc_id,
       upper(substr(lang, 1, 1)) || substr(lang, 2) AS lang_title,
       CAST(length(text) % 97 AS INTEGER) AS len_mod
FROM documents
""",
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-OPTIMIZED Python scalar UDF (@udf(useArrow=True)):
    the per-function Arrow serialization path that replaces pickled
    row-at-a-time transfer — distinct from pandas_udf (whole-batch
    pandas semantics) and the legacy pickle UDF this engine bans. The
    function body is plain-Python per value but transport is
    columnar; the oracle states the identical string/length
    arithmetic."""
    from pyspark.sql.functions import udf

    @udf(returnType="string", useArrow=True)
    def title_case(s: str) -> str:
        return s[:1].upper() + s[1:] if s else s

    @udf(returnType="int", useArrow=True)
    def len_mod(s: str) -> int:
        return len(s) % 97

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        title_case("lang").alias("lang_title"),
        len_mod("text").alias("len_mod"),
    )

@query(
    "udf_iter_pandas",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) * 31 % 1000003 AS sig
FROM documents
""",
)
def udf_iter_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (Iterator[pd.Series] ->
    Iterator[pd.Series]) — the UDF form for amortizing expensive
    per-worker initialization (model load, dictionary mmap) across
    every Arrow batch of a partition instead of paying it per batch:
    the 'model' here is a deterministic constant pair loaded ONCE
    per worker before the loop. Completes the pandas-UDF API surface
    next to scalar, grouped-agg, grouped-map, and map-iterator
    forms."""
    @pandas_udf("bigint")
    def sig_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        mult, mod = 31, 1000003  # "model" loaded once per worker
        for s in it:
            yield s.str.len().astype("int64") * mult % mod

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", sig_udf("text").alias("sig"))
