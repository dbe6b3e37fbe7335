"""The benchmark's workloads. Each one builds its inputs from the seed in
``setup`` (which also warms the JVM and checks one result, and returns the
outcome of any operation it times itself), then ``run`` does one timed unit
of work and checks its output.

A workload calls the engine only through its public functions:
``pipelines.gsod``, the declared queries of ``plans.queries()``,
``ext.dedup`` and ``ext.similarity``.
"""

from __future__ import annotations

import math
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

import inputs


@dataclass
class Outcome:
    """One timed run: (name, latency) of each operation in it and how many
    failed (raised, or gave a wrong result)."""

    ops: list[tuple[str, float]] = field(default_factory=list)
    failed: int = 0
    notes: list[str] = field(default_factory=list)


class Ctx:
    def __init__(
        self, spark, seed: int, smoke: bool, work_dir: str, tracer, traced: bool, t_process: float
    ) -> None:
        self.spark = spark
        self.t_process = t_process  # perf_counter() at process start
        self.seed = seed
        self.smoke = smoke
        self.work_dir = work_dir
        self.tracer = tracer
        self.traced = traced  # this process reports per-layer metrics
        self.layer: dict[str, float] = {}  # per-layer values measured in setup

    def span(self, name: str, layer: str | None = None):
        return self.tracer.span(name, layer)


# ---------------------------------------------------------------------------
# gsod_pipeline
# ---------------------------------------------------------------------------

GSOD_MEASURES = ["temp", "stp", "max", "min", "visib", "wdsp", "mxpsd", "prcp"]


class GsodPipeline:
    """The paper's pipeline: sentinel cleanup -> ordered imputation ->
    next-day labels -> features -> LR, on a seeded GSOD fixture. The GBT
    classifier is left out: it is ~40% of a run, and with it the two
    workloads did not fit the benchmark's time budget on a 4-vCPU box."""

    name = "gsod_pipeline"
    full_size = (30, 365)
    smoke_size = (12, 365)

    def setup(self, ctx: Ctx) -> Outcome:
        from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
            GSOD_SENTINELS,
            weather_fixture,
        )
        from pyspark_weather_forecasting_gsod_spark.operators.quality import (
            missing_census,
            normalize_sentinels,
        )

        n_stations, n_days = self.smoke_size if ctx.smoke else self.full_size
        t0 = time.perf_counter()
        self.df = weather_fixture(
            ctx.spark, n_stations, n_days, seed=inputs.gsod_fixture_seed(ctx.seed)
        ).localCheckpoint(eager=True)
        ctx.layer["pipelines.gsod.fixture_s"] = time.perf_counter() - t0
        if ctx.traced:
            census = missing_census(
                normalize_sentinels(self.df, GSOD_SENTINELS), GSOD_MEASURES
            ).collect()[0].asDict()
            ctx.layer["pipelines.gsod.rows"] = census["n_rows"]
            ctx.layer["operators.impute.nulls_in"] = sum(
                census[f"null_{c}"] for c in GSOD_MEASURES
            )
        return self.run(ctx)  # warm-up, checked like any run

    def run(self, ctx: Ctx) -> Outcome:
        from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
            run_gsod_pipeline,
        )

        t0 = time.perf_counter()
        try:
            out = run_gsod_pipeline(self.df, fast=True, with_classifier=False)
        except Exception as ex:  # a failed operation is counted, not fatal
            return Outcome([(self.name, time.perf_counter() - t0)], 1, [f"raised {ex!r}"[:300]])
        wall = time.perf_counter() - t0
        with ctx.span("check", "bench.check_s"):
            problems = self.check(out)
        if ctx.tracer.enabled:
            sp = next(
                s for s in reversed(ctx.tracer.spans)
                if s["name"] == "pipelines.gsod.run_gsod_pipeline"
            )
            ctx.tracer.gsod_runs.append((sp, out["timings"]))
            ctx.tracer.count("ml.models.lr_rmse", out["regression"]["rmse"])
            ctx.tracer.count(
                "operators.impute.nulls_filled",
                ctx.layer["operators.impute.nulls_in"]
                - sum(v for k, v in out["census"].items() if k.startswith("null_")),
            )
        self.lr_rmse = out["regression"]["rmse"]
        return Outcome([(self.name, wall)], 1 if problems else 0, problems)

    @staticmethod
    def check(out: dict) -> list[str]:
        """The census is all zero, and the regression lands in the band
        tests/test_ml.py pins for this fixture (R² ≥ 0.9, 2 ≤ RMSE ≤ 6.5)."""
        problems = [
            f"census {k}={v}" for k, v in out["census"].items() if k.startswith("null_") and v
        ]
        reg = out["regression"]
        if not reg["r2"] >= 0.9:
            problems.append(f"r2 {reg['r2']}")
        if not 2.0 <= reg["rmse"] <= 6.5:
            problems.append(f"rmse {reg['rmse']}")
        return problems


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# One query per engine layer whose fixed per-query cost this workload exists
# to time. Every query here has a DuckDB oracle. Left out, to keep a pass
# short enough for the time budget: the operators.quality and
# operators.impute queries (gsod_pipeline times both layers at a larger
# scale), and neardup_clusters, which costs 3.5-5 s at any sf (its documents
# table has at least 500 rows); the near-dup step below times ext.dedup on
# a Zipf corpus instead, the regime the engine routes to the prefix strategy.
QUERY_MIX = [
    "q1_pricing_summary",        # plans, sources.io: scan + hash aggregate
    "doc_fingerprint",           # ext.text
    "cosine_topk",               # ext.similarity
    "streaming_tumbling",        # streaming.stream, streaming.event_windows
]

# In a traced run a query's execution is charged to plans.execute_s unless
# one layer does all of its work.
QUERY_EXEC_LAYERS = {"cosine_topk": "ext.similarity.cosine_topk_s"}


def _norm_rows(cols, rows):
    """Columns sorted by name and rows sorted, as the repo's DuckDB oracle
    gate compares them. Floats sort at two decimals so that a last-digit
    difference cannot reorder rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(row):
        return tuple(f"{x:.2f}" if isinstance(x, float) else str(x) for x in row)

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=key)


def _cell_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # the queries round sums to 4 decimals; summation order differs
        # between engines, which can flip the last rounded digit
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1.01e-4)
    return a == b


def _rows_equal(got, expected) -> bool:
    (gc, gr), (ec, er) = got, expected
    return gc == ec and len(gr) == len(er) and all(
        len(a) == len(b) and all(_cell_equal(x, y) for x, y in zip(a, b))
        for a, b in zip(gr, er)
    )


SHINGLE_N = 3
MIN_JACCARD = 0.5
TRACED_EXTRAS_BY_S = 60


def _shingles(text: str) -> set[str]:
    """Distinct word 3-grams, as ``ext.dedup.shingle_arrays`` makes them."""
    toks = text.split()
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def exact_pairs(ids: list[int], texts: list[str]) -> set[tuple[int, int]]:
    """Every (a, b), a < b, with shingle-set Jaccard >= 0.5: the reference
    the engine's pair enumeration is checked against."""
    sets = [(i, _shingles(t)) for i, t in zip(ids, texts)]
    sets = [(i, s) for i, s in sets if s]
    posting: dict[str, list[int]] = defaultdict(list)
    for k, (_, s) in enumerate(sets):
        for sh in s:
            posting[sh].append(k)
    out = set()
    for k, (i, s) in enumerate(sets):
        seen = {j for sh in s for j in posting[sh] if j > k}
        for j in seen:
            o, t = sets[j]
            inter = len(s & t)
            if inter / (len(s) + len(t) - inter) >= MIN_JACCARD:
                out.add((min(i, o), max(i, o)))
    return out


class QueryMix:
    """A fixed list of declared queries in seed-permuted order, each
    materialized to the ``noop`` sink, then one near-dup step on a seeded
    Zipf corpus: shingling, exact pair enumeration and connected components.
    One run is one pass.

    The near-dup result is checked in every pass. Query results go to the
    ``noop`` sink in timed passes and are checked against the DuckDB oracle
    in the warm-up pass only. Two more near-dup operations run once, in the
    set-up of a traced process only, for per-layer metrics: MinHash-LSH with
    its recall against the exact pairs, and the incremental path (index
    build over a store, then probe + component update per arriving batch).
    With them in it a pass no longer fit the time budget."""

    name = "query_mix"
    full_sf = 0.01
    smoke_sf = 0.001
    full_docs = 300
    smoke_docs = 200
    n_batches = 1
    batch_size = 25

    def setup(self, ctx: Ctx) -> Outcome:
        import duckdb

        from pyspark_weather_forecasting_gsod_spark.plans import oracle_sql, queries

        sf = self.smoke_sf if ctx.smoke else self.full_sf
        data_dir = os.path.join(ctx.work_dir, "data", f"sf{sf}")
        self.sf_dir = inputs.write_star_tables(ctx.seed, sf, data_dir)
        self.fns = queries()
        oracles = oracle_sql()
        self.order = inputs.query_order(ctx.seed, QUERY_MIX)
        con = duckdb.connect()
        for name in inputs.table_rows(sf):
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        expected = {}
        for q in self.order:
            cur = con.execute(oracles[q])
            expected[q] = _norm_rows([d[0] for d in cur.description], cur.fetchall())
        con.close()

        corpus = os.path.join(data_dir, "corpus.parquet")
        ids, texts, family = inputs.write_zipf_corpus(
            ctx.seed, self.smoke_docs if ctx.smoke else self.full_docs, corpus
        )
        self.docs = ctx.spark.read.parquet(corpus).localCheckpoint(eager=True)
        self.ids = ids
        members: dict[int, list[int]] = defaultdict(list)
        for i, f in zip(ids, family):
            if f >= 0:
                members[f].append(i)
        self.families = list(members.values())
        self.expected_pairs = exact_pairs(ids, texts)
        ctx.layer["ext.dedup.shingles"] = sum(len(_shingles(t)) for t in texts)

        # the warm-up pass is the check pass: each query's result against
        # its oracle; a wrong query fails every timed run of it
        self.wrong: dict[str, str] = {}
        for q in self.order:
            try:
                df = self.fns[q](ctx.spark, self.sf_dir)
                got = _norm_rows(df.columns, [tuple(r) for r in df.collect()])
            except Exception as ex:
                self.wrong[q] = f"raised {ex!r}"[:300]
                continue
            if not _rows_equal(got, expected[q]):
                self.wrong[q] = f"differs from oracle ({len(got[1])} vs {len(expected[q][1])} rows)"
        out = Outcome()
        pairs = self._pairs_cc(ctx, out)  # warm-up, checked like any run
        # the extras take ~35 s; on a box running slow they are skipped so
        # that the process still ends well inside its 180 s
        if ctx.traced and time.perf_counter() - ctx.t_process > TRACED_EXTRAS_BY_S:
            print(f"# near-dup LSH and incremental skipped: set-up past {TRACED_EXTRAS_BY_S} s")
        elif ctx.traced:
            for extra in (self._lsh_recall(ctx, pairs), self._incremental(ctx)):
                out.ops += extra.ops
                out.failed += extra.failed
                out.notes += extra.notes
        return out

    def run(self, ctx: Ctx) -> Outcome:
        out = Outcome()
        for q in self.order:
            t0 = time.perf_counter()
            try:
                with ctx.span("plans.build", "plans.build_s"):
                    df = self.fns[q](ctx.spark, self.sf_dir)
                with ctx.span("plans.execute", QUERY_EXEC_LAYERS.get(q, "plans.execute_s")):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as ex:
                out.ops.append((q, time.perf_counter() - t0))
                out.failed += 1
                out.notes.append(f"{q} raised {ex!r}"[:300])
                continue
            out.ops.append((q, time.perf_counter() - t0))
            if q in self.wrong:
                out.failed += 1
                out.notes.append(f"{q}: {self.wrong[q]}")
        self._pairs_cc(ctx, out)
        return out

    def _pairs_cc(self, ctx: Ctx, out: Outcome):
        """One operation: shingles -> exact pairs -> components, checked
        against the reference pairs and the planted families. Returns the
        pairs frame."""
        from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
            connected_components,
            ngram_jaccard_pairs_auto,
            shingle_arrays,
        )

        op = "neardup_pairs_cc"
        t0 = time.perf_counter()
        try:
            # one shingle checkpoint shared with the pair enumeration, as
            # the engine's own near-dup queries share it
            with ctx.span("ext.dedup.shingle", "ext.dedup.shingle_s"):
                arrs = shingle_arrays(self.docs, "doc_id", "text", SHINGLE_N).localCheckpoint(
                    eager=True
                )
            with ctx.span("ext.dedup.pairs", "ext.dedup.pairs_s"):
                pairs = ngram_jaccard_pairs_auto(
                    self.docs, "doc_id", "text", n=SHINGLE_N, min_jaccard=MIN_JACCARD, _arrs=arrs
                ).localCheckpoint(eager=True)
            with ctx.span("ext.dedup.cc", "ext.dedup.cc_s"):
                comp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
        except Exception as ex:
            out.ops.append((op, time.perf_counter() - t0))
            out.failed += 1
            out.notes.append(f"{op} raised {ex!r}"[:300])
            return None
        out.ops.append((op, time.perf_counter() - t0))
        with ctx.span("check", "bench.check_s"):
            got = {(r["doc_a"], r["doc_b"]) for r in pairs.select("doc_a", "doc_b").collect()}
            problems = []
            if got != self.expected_pairs:
                problems.append(
                    f"{op}: {len(got - self.expected_pairs)} extra and "
                    f"{len(self.expected_pairs - got)} missing exact pairs"
                )
            split = [f for f in self.families if len({comp.get(i, -1 - i) for i in f}) != 1]
            if split:
                problems.append(f"{op}: {len(split)} planted families not in one component")
        if problems:
            out.failed += 1
            out.notes.extend(problems)
        ctx.tracer.count("ext.dedup.pairs", len(got))
        return pairs

    def _lsh_recall(self, ctx: Ctx, pairs) -> Outcome:
        """One operation, timed into per-layer metrics: MinHash-LSH pairs,
        checked to be a subset of the exact pairs, and their recall."""
        from pyspark.sql import functions as F

        from pyspark_weather_forecasting_gsod_spark.ext.dedup import minhash_lsh_pairs
        from pyspark_weather_forecasting_gsod_spark.ext.similarity import (
            pair_recall_summary,
        )

        op = "neardup_lsh_recall"
        out = Outcome()
        t0 = time.perf_counter()
        try:
            lsh = minhash_lsh_pairs(
                self.docs, "doc_id", "text", n=SHINGLE_N, min_jaccard=MIN_JACCARD
            ).localCheckpoint(eager=True)
            t1 = time.perf_counter()
            summary = pair_recall_summary(
                lsh.select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
                pairs.select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
            ).collect()[0]
        except Exception as ex:
            out.ops.append((op, time.perf_counter() - t0))
            out.failed += 1
            out.notes.append(f"{op} raised {ex!r}"[:300])
            return out
        t2 = time.perf_counter()
        out.ops.append((op, t2 - t0))
        ctx.layer["ext.dedup.lsh_s"] = t1 - t0
        ctx.layer["ext.similarity.recall_summary_s"] = t2 - t1
        ctx.layer["ext.dedup.lsh_pairs"] = summary["n_approx"]
        ctx.layer["ext.dedup.lsh_recall"] = self.lsh_recall = summary["recall_vs_exact"]
        if summary["n_false_positive"] or summary["n_exact"] != len(self.expected_pairs):
            out.failed += 1
            out.notes.append(
                f"{op}: {summary['n_false_positive']} LSH pairs not exact, "
                f"n_exact {summary['n_exact']}"
            )
        return out

    def _incremental(self, ctx: Ctx) -> Outcome:
        """Index build over a seeded store, then per batch a probe and a
        component update, timed into per-layer metrics. The final labels
        must equal one ``connected_components`` over every edge fed in,
        which is ``update_components``' own contract."""
        from pyspark.sql import functions as F

        from pyspark_weather_forecasting_gsod_spark.ext.dedup import (
            build_neardup_index,
            connected_components,
            ngram_jaccard_pairs_auto,
            neardup_probe,
            update_components,
        )

        op = "neardup_incremental"
        out = Outcome()
        store_ids, batches = inputs.store_and_batches(
            ctx.seed, self.ids, self.n_batches, self.batch_size
        )
        index_dir = os.path.join(ctx.work_dir, "data", "neardup_index")
        edge_schema = "doc_a long, doc_b long"

        def docs(ids):
            return self.docs.filter(F.col("doc_id").isin(ids)).localCheckpoint(eager=True)

        t0 = time.perf_counter()
        try:
            store = docs(store_ids)
            t1 = time.perf_counter()
            build_neardup_index(store, index_dir, "doc_id", "text", n=SHINGLE_N)
            build_s = time.perf_counter() - t1
            store_edges = ngram_jaccard_pairs_auto(
                store, "doc_id", "text", n=SHINGLE_N, min_jaccard=MIN_JACCARD
            ).select("doc_a", "doc_b").localCheckpoint(eager=True)
            labels = connected_components(store_edges).localCheckpoint(eager=True)
            edges = [tuple(r) for r in store_edges.collect()]
            probe_s = update_s = 0.0
            candidates = 0
            for batch_ids in batches:
                batch = docs(batch_ids)
                t1 = time.perf_counter()
                rows = neardup_probe(
                    ctx.spark, index_dir, batch, "doc_id", "text", n=SHINGLE_N
                ).collect()
                probe_s += time.perf_counter() - t1
                candidates += sum(r["n_candidates"] for r in rows)
                new = [(r["doc_id"], r["best_match"]) for r in rows if r["best_match"] is not None]
                edges += new
                t1 = time.perf_counter()
                labels = update_components(
                    labels, ctx.spark.createDataFrame(new, edge_schema)
                ).localCheckpoint(eager=True)
                update_s += time.perf_counter() - t1
            got = {r["node"]: r["comp"] for r in labels.collect()}
            full = connected_components(ctx.spark.createDataFrame(edges, edge_schema))
            want = {r["node"]: r["comp"] for r in full.collect()}
        except Exception as ex:
            out.ops.append((op, time.perf_counter() - t0))
            out.failed += 1
            out.notes.append(f"{op} raised {ex!r}"[:300])
            return out
        out.ops.append((op, time.perf_counter() - t0))
        written = sum(
            os.path.getsize(os.path.join(base, f))
            for base, _, files in os.walk(index_dir)
            for f in files
        )
        ctx.layer["ext.dedup.index_build_s"] = build_s
        ctx.layer["ext.dedup.index_written_mib"] = written / (1024.0 * 1024.0)
        ctx.layer["ext.dedup.probe_s"] = probe_s / len(batches)
        ctx.layer["ext.dedup.probe_candidates"] = candidates / len(batches)
        ctx.layer["ext.dedup.update_components_s"] = update_s / len(batches)
        if got != want:
            wrong = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
            out.failed += 1
            out.notes.append(f"{op}: updated labels differ from a full recompute on {wrong} nodes")
        return out


WORKLOADS = {w.name: w for w in (GsodPipeline, QueryMix)}
