"""The shared vector layer (functions/vector.py) against itself: for
every primitive, the Spark Column, the Python left fold and the
DuckDB mirror must return bit-identical doubles on the sf0.001
embeddings — the property every fold-exact oracle in the engine rests
on, checked here directly rather than through whole-query oracles."""

from __future__ import annotations

import math
import struct

import duckdb
import pandas as pd
import pytest

from diversity_maximization_spark.diversity.kernel import farthest_first_exact
from diversity_maximization_spark.functions import vector as V
from diversity_maximization_spark.registry import ORACLES
from diversity_maximization_spark.sources import load

N_PAIRS = 40


def bits(x):
    """Exact identity of a double (or list of doubles): distinguishes
    -0.0 from 0.0 and compares NaNs by payload."""
    if isinstance(x, (list, tuple)):
        return [bits(v) for v in x]
    return struct.pack("<d", x)


@pytest.fixture(scope="module")
def pairs(spark, sf_dir):
    """(pid, a, b, has_zero): consecutive embedding pairs by vec_id,
    then the pairs (v, 0) and (0, 0) with an all-zero vector."""
    rows = (
        load(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(N_PAIRS + 1)
        .collect()
    )
    vecs = [V.py_double_array(r["embedding"]) for r in rows]
    zero = [0.0] * len(vecs[0])
    out = [(i, vecs[i], vecs[i + 1], False) for i in range(N_PAIRS)]
    out.append((N_PAIRS, vecs[0], zero, True))
    out.append((N_PAIRS + 1, zero, zero, True))
    return out


@pytest.fixture(scope="module")
def engines(spark, pairs):
    sdf = spark.createDataFrame(
        [(p, a, b) for p, a, b, _ in pairs],
        "pid int, a array<float>, b array<float>",
    )
    con = duckdb.connect()
    pdf = pd.DataFrame(
        [(p, a, b) for p, a, b, _ in pairs], columns=["pid", "a", "b"]
    )
    con.register("pdf", pdf)
    con.execute(
        "CREATE TABLE vpairs AS SELECT pid, CAST(a AS FLOAT[]) AS a, "
        "CAST(b AS FLOAT[]) AS b FROM pdf"
    )
    yield sdf, con
    con.close()


# name -> (Spark Column, Python fold, DuckDB SQL, defined on zero vectors)
PRIMITIVES = {
    "sq_l2": (
        lambda: V.sq_l2("a", "b"), V.py_sq_l2, V.duck_sq_l2("a", "b"), True
    ),
    "l2_dist": (
        lambda: V.l2_dist("a", "b"), V.py_l2_dist, V.duck_l2_dist("a", "b"), True
    ),
    "dot": (lambda: V.dot("a", "b"), V.py_dot, V.duck_dot("a", "b"), True),
    "sq_norm": (
        lambda: V.sq_norm("a"),
        lambda a, b: V.py_sq_norm(a),
        V.duck_sq_norm("a"),
        True,
    ),
    "cosine_sim": (
        lambda: V.cosine_sim("a", "b"),
        V.py_cosine_sim,
        V.duck_cosine_sim("a", "b"),
        False,
    ),
    "l2_normalize": (
        lambda: V.l2_normalize("a"),
        lambda a, b: V.py_l2_normalize(a),
        V.duck_l2_normalize("a"),
        False,
    ),
}


@pytest.mark.parametrize("name", sorted(PRIMITIVES))
def test_three_forms_bit_identical(name, pairs, engines):
    spark_col, py_fold, duck_sql, on_zero = PRIMITIVES[name]
    sdf, con = engines
    keep = [p for p, _, _, z in pairs if on_zero or not z]
    got_spark = dict(
        sdf.where(sdf.pid.isin(keep)).select("pid", spark_col()).collect()
    )
    got_duck = dict(
        con.execute(f"SELECT pid, {duck_sql} AS v FROM vpairs").fetchall()
    )
    for pid, a, b, _ in pairs:
        if pid not in keep:
            continue
        want = py_fold(a, b)
        assert bits(got_spark[pid]) == bits(want), (name, pid)
        assert bits(got_duck[pid]) == bits(want), (name, pid)


def test_driver_vector_operand_forms(pairs, engines):
    """The Spark forms against a driver-side vector (one literal, its
    norm folded in Python) equal the Python fold per row."""
    sdf, _ = engines
    q = pairs[0][1]
    got = sdf.where(sdf.pid < N_PAIRS).select(
        "pid",
        V.sq_l2("b", V.sql_double_array(q)).alias("d2"),
        V.cosine_sim_to("b", q).alias("cs"),
    ).collect()
    assert len(got) == N_PAIRS
    for r in got:
        b = pairs[r["pid"]][2]
        assert bits(r["d2"]) == bits(V.py_sq_l2(b, q))
        assert bits(r["cs"]) == bits(V.py_cosine_sim(b, q))


def test_double_array_literal_round_trips(spark):
    values = [0.1, -2.5e-8, 1 / 3, 1e-300, -0.0, 123456.789, 2.0**-1074]
    want = V.py_double_array(values)
    got_spark = spark.range(1).select(V.lit_double_array(values)).first()[0]
    got_duck = duckdb.execute(f"SELECT {V.duck_double_array(values)}").fetchone()[0]
    assert bits(got_spark) == bits(want)
    assert bits(got_duck) == bits(want)


def test_farthest_first_exact_replays_div_gmm_oracle(duck):
    """The fold-exact traversal over the vec_id-ordered embeddings picks
    exactly the vectors (and distances) of div_gmm's unrolled DuckDB
    replay."""
    want = sorted(duck.execute(ORACLES["div_gmm"]).fetchall())
    emb = duck.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    X = [V.py_double_array(v) for _, v in emb]
    chosen, d2 = farthest_first_exact(X, len(want))
    assert [emb[i][0] for i in chosen] == [r[1] for r in want]
    for d, r in zip(d2, want):
        # the oracle reports round(sqrt(d), 6)
        assert abs(math.sqrt(d) - r[2]) <= 5e-7 + 1e-12
