"""The benchmark's workloads: inputs, one operation, and its check.

Every workload is a closed loop with one client: each op starts when the
previous one has returned. An op has two timed phases, ``construct``
(the call into the engine that returns a DataFrame, including any jobs
it runs eagerly) and ``collect`` (the action on that DataFrame). Its
check runs after the timed region and returns a list of problems.

- ``coreset_mr``: the paper's pipeline, ``api.gmm_coreset`` over
  generated gaussian points read from parquet.
- ``mix_sf0.1``: one execution of one registry key over the engine's
  sf0.1 fixture tables, kept in ``perfbench/sf0.1``: nine of
  ``bench.py``'s headline keys and the streaming one-pass coreset.

Before the timed loop each workload runs ``warm_passes`` untimed and
checked passes, so that every timed op is warm; the timed loop runs at
least ``min_passes`` passes.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from diversity_maximization_spark import api, registry
from diversity_maximization_spark.diversity import coreset, kernel
from diversity_maximization_spark.sources.generators import random_gaussian
from diversity_maximization_spark.streaming import coreset as stream_coreset
from diversity_maximization_spark.testing import duck_connection, rows_key

# byte-for-byte copies of the engine's sf0.1 test fixtures (TESTDATA.md),
# listed with their digests in SHA256SUMS; the mix only reads them
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")

# Registry keys of the mix: nine of bench.py's 16 headline keys, which
# cover its relational, LLM and diversity families, and the streaming
# one-pass coreset. The other headline keys (tpch_q3, tpch_q10,
# join_broadcast, win_sessionize, div_eval_clique, dedup_minhash,
# tfidf) repeat a mechanism a kept key runs, and each pass must fit a
# run's time budget.
HEADLINE = [
    "agg_pricing_summary",
    "tpch_q5",
    "win_topk_pergroup",
    "div_eval_edge",
    "dedup_exact",
    "sim_search_topk",
    "div_gmm",
    "div_coreset_mr",
    "text_stats",
]

# the paper's one-pass coreset: micro-batch planning, offset and WAL
# commits, the state store and applyInPandasWithState
STREAM = ["div_coreset_stream"]


class Setup:
    """Wall seconds of the named set-up steps."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.seconds: dict[str, float] = {}

    def step(self, name: str, layer: str, fn, *args):
        t0 = time.perf_counter()
        with self.tracer.span(name, layer):
            out = fn(*args)
        self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t0
        return out


def mean(items, f) -> float:
    items = list(items)
    return sum(f(i) for i in items) / len(items) if items else 0.0


def _span_s(tracer, names) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] in names)


def _family(key: str) -> str:
    """``registry.<package>`` of the module that registered the key."""
    return "registry." + registry.QUERIES[key].__module__.split(".")[1]


def verify_fixtures(sf_dir: str) -> None:
    """Refuse to run on fixture files that differ from SHA256SUMS."""
    with open(os.path.join(sf_dir, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(sf_dir, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise RuntimeError(f"{name} differs from its SHA256SUMS entry")


class CoresetMR:
    """``api.gmm_coreset(points, k=16, p=8, kprime=64, m=1)`` over
    N_POINTS generated 32-d gaussian points read from parquet.

    Set-up replays the whole op on the driver: ``part_mix`` in numpy,
    the per-partition kernel on each partition, and the sequential
    finish. It also runs sequential farthest-first over all points, the
    base of ``edge_ratio`` and ``clique_ratio``."""

    name = "coreset_mr"
    # The first untimed op pays the op's first shuffle, Arrow transfer and
    # Python-worker start. With only that one, runs of three timed ops
    # used more CPU per op than runs of four: the first timed op was
    # still paying warm-up.
    warm_passes = 2
    min_passes = 1
    N_POINTS, DIM, K, P, KPRIME, M = 50_000, 32, 16, 8, 64, 1
    PART_SEED = 42  # api.gmm_coreset's default partition seed

    def setup(self, ctx, setup: Setup) -> None:
        path = os.path.join(ctx.work, "points.parquet")

        def generate():
            pts = random_gaussian(ctx.spark, self.N_POINTS, self.DIM, ctx.seed)
            pts.withColumn("label", (F.col("vec_id") % 10).cast("int")).write.parquet(
                path
            )

        setup.step("sources.generate", "sources", generate)
        self.points = ctx.spark.read.parquet(path)
        setup.step("reference.setup", "reference", self._reference)
        self.quality: list[tuple[float, float]] = []
        self._weights = None
        self.coreset_rows = None

    def _reference(self) -> None:
        pdf = self.points.toPandas().sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        chosen, _, _ = kernel.farthest_first(X, self.K, start=0)
        self.X, self.ids = X, pdf["vec_id"].to_numpy()
        self.row_of = {int(v): i for i, v in enumerate(self.ids)}
        D = kernel.pairwise_l2(X[chosen])
        self.ref_edge, self.ref_clique = kernel.eval_edge(D), kernel.eval_clique(D)
        # part_mix(p, seed) in numpy: the same 64-bit integer arithmetic
        mixed = ((self.ids + self.PART_SEED) % 2147483648) * 2654435761 % 4294967296
        pdf["part"] = np.floor(mixed / 4294967296.0 * self.P).astype(np.int32)
        fn = coreset._partition_coreset(self.KPRIME, self.M)
        cs = pd.concat(
            [fn(g.reset_index(drop=True)) for _, g in pdf.groupby("part")]
        ).sort_values("vec_id")
        Xc = np.stack([np.asarray(e, dtype=np.float64) for e in cs["embedding"]])
        sel, dist, _ = kernel.farthest_first(Xc, self.K, start=0)
        cids = cs["vec_id"].to_numpy()
        self.expected = [
            (rank, int(cids[c]), round(float(dist[rank]), 6))
            for rank, c in enumerate(sel)
        ]
        self.expected_coreset = sorted(int(v) for v in cids)

    def install(self, tracer) -> None:
        """Hook the calls ``api.gmm_coreset`` makes into its layers."""

        def keep(out):
            self._weights = out

        tracer.wrap(api, "collect_coreset", "diversity.coreset", sink=keep, count_spark=True)
        if tracer.enabled:
            tracer.wrap(api, "mr_coreset", "diversity.coreset")
            tracer.wrap(kernel, "farthest_first", "diversity.kernel")

    def passes(self, rng):
        while True:
            yield ["gmm_coreset"]

    def layer(self, op: str) -> str:
        return "api"

    def construct(self, ctx, op: str):
        self._weights = None
        return api.gmm_coreset(
            self.points, k=self.K, p=self.P, kprime=self.KPRIME, m=self.M,
            label_col="label",
        )

    def check(self, ctx, op: str, rows) -> list[str]:
        problems = []
        got = [(r["sel_order"], r["vec_id"], r["dist_when_chosen"]) for r in rows]
        if sorted(got) != self.expected:
            problems.append("selection differs from the driver-side replay")
        ids, _, _, w = self._weights
        self.coreset_rows = len(ids)
        if int(w.sum()) != self.N_POINTS:
            problems.append(f"coreset weights sum to {int(w.sum())}, not {self.N_POINTS}")
        if sorted(int(v) for v in ids) != self.expected_coreset:
            problems.append("coreset ids differ from the replay")
        sel = [self.row_of.get(int(v)) for _, v, _ in got]
        if None not in sel and len(sel) == self.K:
            with ctx.tracer.span("kernel.eval", "diversity.kernel"):
                D = kernel.pairwise_l2(self.X[sel])
                self.quality.append(
                    (kernel.eval_edge(D) / self.ref_edge, kernel.eval_clique(D) / self.ref_clique)
                )
        return problems

    def report(self) -> dict:
        if not self.quality:
            return {}
        return {
            "edge_ratio": float(np.median([q[0] for q in self.quality])),
            "clique_ratio": float(np.median([q[1] for q in self.quality])),
            "points": self.N_POINTS,
            "coreset_rows": self.coreset_rows,
        }

    def layers(self, ops, tracer, cpus: int) -> dict:
        """Per-op layer metrics of a traced loop."""
        n = max(len(ops), 1)
        calls = ("coreset.mr_coreset", "coreset.collect_coreset")
        counted = [s["spark"] for s in tracer.spans if s["name"] in calls and "spark" in s]

        def tot(k):
            return sum(c[k] for c in counted) / n

        build_s = _span_s(tracer, calls) / n
        out = {"coreset.build_s": build_s}
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            out[f"coreset.{k}"] = tot(k)
        out["coreset.core_util"] = tot("executor_run_s") / (build_s * cpus) if build_s else 0.0
        written = tot("shuffle_write_bytes")
        out["coreset.shuffle_read_over_write"] = tot("shuffle_read_bytes") / written if written else 0.0
        out["kernel.finish_s"] = _span_s(tracer, ("kernel.farthest_first",)) / n
        out["kernel.eval_s"] = _span_s(tracer, ("kernel.eval",)) / n
        out["kernel.distance_evals"] = mean(ops, lambda o: o["distance_evals"])
        return out


def _sim_topk_reference(emb: pd.DataFrame, topk: int = 5, margin: int = 20):
    """Exact replay of the sim_search_topk oracle in numpy.

    The oracle scores all n^2 pairs with a sequential fold, which takes
    DuckDB about 17 s at sf0.1 on a 4-core host. Here BLAS scores prune
    to the best ``topk + margin`` candidates per row, and the survivors
    are scored again with the oracle's arithmetic: float64 products
    summed in index order, ``dot / (sqrt(|a|^2) * sqrt(|b|^2))``."""
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    ids = emb["vec_id"].to_numpy()
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    n, dim = X.shape
    norms = np.linalg.norm(X, axis=1)
    approx = (X @ X.T) / np.outer(norms, norms)
    np.fill_diagonal(approx, -np.inf)
    cand = np.argsort(-approx, axis=1, kind="stable")[:, : topk + margin]
    rows = np.repeat(np.arange(n), cand.shape[1])
    cols = cand.ravel()
    dot = np.zeros(len(rows))
    sqa = np.zeros(len(rows))
    sqb = np.zeros(len(rows))
    for d in range(dim):
        a, b = X[rows, d], X[cols, d]
        dot = dot + a * b
        sqa = sqa + a * a
        sqb = sqb + b * b
    sim = dot / (np.sqrt(sqa) * np.sqrt(sqb))
    out = []
    for i in range(n):
        sl = slice(i * cand.shape[1], (i + 1) * cand.shape[1])
        best = sorted(zip(-sim[sl], ids[cols[sl]]))[:topk]
        for rn, (neg, nb) in enumerate(best, start=1):
            out.append((int(ids[i]), int(nb), rn, -neg))
    return out


class RegistryMix:
    """HEADLINE and STREAM keys, each pass running every key once in an
    order the seed permutes.

    Keys with an oracle are checked against its DuckDB result, computed
    in set-up. ``sim_search_topk`` is checked against an exact numpy
    replay of its oracle, and the streaming coreset, which has none, by
    its weights and by repeating its rows."""

    name = "mix_sf0.1"
    keys = HEADLINE + STREAM
    # a key's first execution in a session pays its code generation and
    # class loading: about 40% of a cold pass's CPU
    warm_passes = 1
    # the JIT is still settling after one pass: the next pass uses 10-20%
    # less CPU, so every run times the same number of passes
    min_passes = 2

    def setup(self, ctx, setup: Setup) -> None:
        def load():
            verify_fixtures(SF_DIR)
            # the replay the streaming coreset reads, cached per process
            stream_coreset.embedding_replay(ctx.spark, SF_DIR)

        setup.step("sources.generate", "sources", load)
        self.expected: dict[str, list] = {}
        self.first: dict[str, list] = {}
        setup.step("reference.setup", "reference", self._reference)

    def _reference(self) -> None:
        con = duck_connection(SF_DIR)
        try:
            for key in self.keys:
                if key in registry.ORACLES and key != "sim_search_topk":
                    rel = con.sql(registry.ORACLES[key])
                    self.expected[key] = rows_key(rel.fetchall(), rel.columns)
        finally:
            con.close()
        emb = pd.read_parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        self.n_emb = len(emb)
        self.sim_topk = sorted(_sim_topk_reference(emb))

    def install(self, tracer) -> None:
        pass

    def passes(self, rng):
        while True:
            yield [self.keys[i] for i in rng.permutation(len(self.keys))]

    def layer(self, op: str) -> str:
        return _family(op)

    def construct(self, ctx, op: str):
        return registry.QUERIES[op](ctx.spark, SF_DIR)

    def check(self, ctx, op: str, rows) -> list[str]:
        columns = rows[0].__fields__ if rows else []
        if op in self.expected:
            got, exp = rows_key(rows, columns), self.expected[op]
            return [] if got == exp else [
                f"{op}: {len(got)} rows differ from the oracle's {len(exp)}"
            ]
        if op == "sim_search_topk":
            got = sorted((r["vec_id"], r["neighbor"], r["rn"], r["sim"]) for r in rows)
            exp = self.sim_topk
            if [g[:3] for g in got] != [e[:3] for e in exp] or any(
                abs(g[3] - e[3]) > 1e-6 for g, e in zip(got, exp)
            ):
                return ["sim_search_topk: rows differ from the numpy replay of its oracle"]
            return []
        # the streaming coreset has no oracle: its weights must cover every
        # embedding, and its rows must repeat every time it runs
        total = sum(r["weight"] for r in rows)
        problems = [] if total == self.n_emb else [
            f"{op}: coreset weights sum to {total}, not {self.n_emb}"
        ]
        got = rows_key(rows, columns)
        if got != self.first.setdefault(op, got):
            problems.append(f"{op}: rows changed between runs")
        return problems

    def report(self) -> dict:
        return {}

    def layers(self, ops, tracer, cpus: int) -> dict:
        """Per-key and per-family layer metrics of a traced loop."""
        out: dict[str, float] = {}
        for key in sorted({o["op"] for o in ops}):
            mine = [o for o in ops if o["op"] == key]
            out[f"q.{key}.construct_s"] = mean(mine, lambda o: o["construct_s"])
            out[f"q.{key}.execute_s"] = mean(mine, lambda o: o["collect_s"])
            out[f"q.{key}.jobs"] = mean(mine, lambda o: o["spark"]["jobs"])
        head = [o for o in ops if o["op"] in HEADLINE]
        wall = sum(o["seconds"] for o in head)
        run = sum(o["spark"]["executor_run_s"] for o in head)
        out["headline.shuffle_bytes"] = mean(head, lambda o: o["spark"]["shuffle_write_bytes"])
        out["headline.spill_bytes"] = mean(head, lambda o: o["spark"]["spill_bytes"])
        out["headline.executor_cpu_s"] = mean(head, lambda o: o["spark"]["executor_cpu_s"])
        out["headline.core_util"] = run / (wall * cpus) if wall else 0.0
        out["headline.result_rows"] = mean(head, lambda o: o.get("rows", 0))

        def dur(o, k):
            return sum(b.durationMs.get(k, 0) for b in o["batches"]) / 1e3

        def last_state(o, field):
            """Summed over the state operators of each query's last batch."""
            last = {}
            for b in o["batches"]:
                if b.runId not in last or b.batchId >= last[b.runId].batchId:
                    last[b.runId] = b
            return sum(getattr(s, field) for b in last.values() for s in b.stateOperators)

        st = [o for o in ops if o["op"] in STREAM]
        out.update({
            "stream.batches": mean(st, lambda o: len(o["batches"])),
            "stream.input_rows": mean(st, lambda o: sum(b.numInputRows for b in o["batches"])),
            "stream.trigger_s": mean(st, lambda o: dur(o, "triggerExecution")),
            "stream.add_batch_s": mean(st, lambda o: dur(o, "addBatch")),
            "stream.query_planning_s": mean(st, lambda o: dur(o, "queryPlanning")),
            "stream.wal_commit_s": mean(st, lambda o: dur(o, "walCommit")),
            "stream.commit_offsets_s": mean(st, lambda o: dur(o, "commitOffsets")),
            "stream.overhead_s": mean(st, lambda o: dur(o, "triggerExecution") - dur(o, "addBatch")),
            "stream.outside_trigger_s": mean(st, lambda o: o["seconds"] - dur(o, "triggerExecution")),
            "stream.state_rows": mean(st, lambda o: last_state(o, "numRowsTotal")),
            "stream.state_memory_bytes": mean(st, lambda o: last_state(o, "memoryUsedBytes")),
            "stream.jobs": mean(st, lambda o: o["spark"]["jobs"]),
        })
        return out


WORKLOADS = {w.name: w for w in (CoresetMR, RegistryMix)}
