"""The benchmark's workloads.

Each workload prepares its inputs and reference answers before the engine
starts (``prepare``), warms the engine up (``warmup_ops``, part of set-up
time), then yields operations for the closed loop in ``run.py``.  An
operation is a callable timed as a whole; its output is checked outside the
timed region by ``check``, which returns ``None`` or the reason it failed,
or is kept for ``finish``, which checks it after the session stops.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np

import gen
import refs

HERE = os.path.dirname(os.path.abspath(__file__))
# The fixed, read-only TPC-H-ish tables at scale factor 0.1 (a verbatim
# copy of the engine's fixed test data, see README.md).
SF_DIR = os.path.join(HERE, "data", "sf0.1")
# oracle answers over SF_DIR, kept between runs (see refs.oracle_digests)
ORACLE_CACHE = os.path.join(HERE, ".work", "oracle")

# The relational half of the query mix: eight of the engine's ten
# historical headline queries (bench.py HEADLINE) — MovieLens-shaped rank
# and rating over the events table and six TPC-H shapes.  Left out for the
# run-time budget: movie_rank_desc (movie_rank's plan and answer with the
# sort reversed) and tpch_q7_nation_volume (a six-way join, like Q5).
RELATIONAL = [
    "movie_rank",
    "movie_rating",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q18_large_volume",
    "tpch_q10_returned_items",
    "tpch_q4_order_priority",
]
CURATION = ["dedup_minhash_lsh", "search_bm25_stored_index", "semantic_dedup"]


class Op:
    """One operation of the closed loop."""

    def __init__(self, name: str, fn, check):
        self.name = name
        self.fn = fn
        self.check = check


class Workload:
    """Holds the live session, query registry and tracer once the engine
    is up (``bind``)."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sizes: dict = {}

    def bind(self, spark, qs, tracer) -> None:
        self.spark, self.qs, self.tracer = spark, qs, tracer

    def finish(self) -> dict[int, str]:
        """Checks deferred until the engine has stopped: failure reason by
        op index (warm-up ops have negative indices)."""
        return {}


class MovielensCsv(Workload):
    """The paper's own workload: headered MovieLens CSV through the
    reference-parity CLI (``cli.run``) to tab-separated text."""

    name = "movielens_csv"
    # spans whose output bytes are sources.writers.output_bytes: the TSV
    # each pipeline call writes
    writer_spans = ("cli.run.rank", "cli.run.rating")
    n_movies = 10_000
    n_ratings = 1_000_000

    def prepare(self) -> None:
        d = gen.write_movielens_csv(
            self.seed, os.path.join(self.work, "input"), self.n_movies,
            self.n_ratings)
        movies = d["movies"].to_pandas()
        self.paths = (d["movies_csv"], d["ratings_csv"])
        self.ref = {
            "rank": refs.rank_reference(movies, d["movie_ids"]),
            "rating": refs.rating_reference(movies, d["movie_ids"],
                                            d["ratings"]),
        }
        self.input_bytes = d["input_bytes"]
        self.sizes = {"movies": self.n_movies, "ratings": self.n_ratings,
                      "input_mb": round(self.input_bytes / 2**20, 2)}

    def _op(self, pipeline: str, index) -> Op:
        from mapreducemovieanalysis_cloud_spark import cli

        out = os.path.join(self.work, "out", f"{pipeline}-{index}")
        check = (refs.check_rank_output if pipeline == "rank"
                 else refs.check_rating_output)

        def fn():
            return cli.run([pipeline, *self.paths, out], spark=self.spark)

        def verify(path):
            try:
                return check(path, self.ref[pipeline])
            finally:
                shutil.rmtree(out, ignore_errors=True)

        return Op(f"cli.run.{pipeline}", fn, verify)

    def warmup_ops(self) -> list[Op]:
        """Three rank/rating pairs: the first calls are cold (JIT, first
        CSV scan) and latency keeps falling for a few calls after."""
        return [self._op(p, f"warm{k}") for k in range(3)
                for p in ("rank", "rating")]

    def ops(self):
        """rank and rating in a seeded order within each pair; the loop
        stops only on a pair boundary."""
        rng = random.Random(self.seed)
        i = 0
        while True:
            pair = ["rank", "rating"]
            rng.shuffle(pair)
            for k, p in enumerate(pair):
                yield self._op(p, i), k == 1
                i += 1

    def rerun(self) -> "MovielensCsv":
        """A copy that measures again on the same inputs."""
        return self

    def throughput(self, latencies: list[tuple[str, float]]) -> dict:
        busy = sum(t for _, t in latencies)
        return {"csv_mb_per_s": {
            "value": len(latencies) * self.input_bytes / 2**20 / busy,
            "unit": "MB/s"}}


def _drop_batch(df):
    """Compaction merge for a raw-row store: the rows themselves, without
    the ``batch`` partition column ``read_epochs`` adds."""
    return df.drop("batch")


class EpochStore:
    """A ratings store in the engine's epoch layout (``batch=<id>``
    directories), fed one seeded batch per arrival.

    An arrival writes the batch with ``write_epoch``, reads every epoch
    back with ``read_epochs`` and ranks it with ``rank_by_count`` against
    the movie catalogue (read-after-write), and on every
    ``compact_every``-th arrival folds the store with ``compact_epochs``.
    The result is checked against running per-movie counts."""

    n_movies = 2_000
    batch_rows = 50_000
    compact_every = 4

    def __init__(self, seed: int, root: str, stream: int):
        self.seed, self.root, self.stream = seed, root, stream
        self.movies = gen.movies_table(seed, self.n_movies)
        self.titles = dict(zip(self.movies.column("movieId").to_pylist(),
                               self.movies.column("title").to_pylist()))
        self.model = gen.RatingsModel(seed, self.n_movies, n_users=20_000)
        self.counts = np.zeros(self.n_movies + 16, dtype=np.int64)
        self.arrivals = 0

    def arrival(self, spark, tracer, movies_df) -> Op:
        """The next arrival.  Its batch is generated and handed to Spark
        here, before the op is timed."""
        from mapreducemovieanalysis_cloud_spark.operators.reference import (
            rank_by_count,
        )
        from mapreducemovieanalysis_cloud_spark.sources import writers

        index, root = self.arrivals, self.root
        self.arrivals += 1
        table = self.model.batch(self.seed, self.stream + index,
                                 self.batch_rows)
        batch = spark.createDataFrame(table)
        compact = (index + 1) % self.compact_every == 0

        def fn():
            with tracer.span("sources.writers.write_epoch"):
                writers.write_epoch(batch, root, index)
            with tracer.span("sources.writers.read_epochs"):
                facts = writers.read_epochs(spark, root)
            with tracer.span("operators.reference.rank_by_count"):
                ranked = rank_by_count(facts, movies_df, "movieId",
                                       "title").toArrow()
            if compact:
                with tracer.span("sources.writers.compact_epochs"):
                    writers.compact_epochs(spark, root, _drop_batch)
            return ranked

        def verify(ranked):
            np.add.at(self.counts, table.column("movieId").to_numpy(), 1)
            return refs.check_epoch_rank(ranked.to_pandas(), self.counts,
                                         self.titles)

        return Op("epoch.arrival", fn, verify)


class QueryMix(Workload):
    """Interactive analytics with writes beside the reads.  Each round runs
    every registry query of the mix once, called fresh (DataFrame build
    plus execution to an Arrow result) on the fixed scale-factor-0.1
    tables, and ``EpochStore.compact_every`` ratings arrivals into an
    epoch store, the last of which compacts it; the seed sets the order
    within each round and the arrival batches."""

    name = "query_mix"
    writer_spans = ("sources.writers.write_epoch",)

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.names = RELATIONAL + CURATION

    def prepare(self) -> None:
        self.results: list[tuple[int, str, str]] = []
        self.store = EpochStore(self.seed, os.path.join(self.work, "store"),
                                stream=1_000)
        self.warm_store = EpochStore(
            self.seed, os.path.join(self.work, "warm_store"), stream=10_000)
        parquet = [f for f in os.listdir(SF_DIR) if f.endswith(".parquet")]
        self.sizes = {
            "sf": 0.1, "parquet_mb": round(sum(
                os.path.getsize(os.path.join(SF_DIR, f))
                for f in parquet) / 2**20, 2),
            "queries_per_round": len(self.names),
            "arrivals_per_round": EpochStore.compact_every,
            "arrival_rows": EpochStore.batch_rows,
            "movies": EpochStore.n_movies,
        }

    def rerun(self) -> "QueryMix":
        """A copy that measures again on the same inputs, with fresh epoch
        stores."""
        again = QueryMix(self.seed, os.path.join(self.work, "again"))
        again.prepare()
        return again

    def bind(self, spark, qs, tracer) -> None:
        super().bind(spark, qs, tracer)
        self.movies_df = spark.createDataFrame(self.store.movies)

    def _query(self, name: str, index: int) -> Op:
        def fn():
            with self.tracer.span(f"queries.{name}.build"):
                df = self.qs[name](self.spark, SF_DIR)
            with self.tracer.span(f"queries.{name}.exec"):
                return df.toArrow()

        def keep(table):
            self.results.append(
                (index, name, refs.result_digest(table.to_pandas())))

        return Op(f"queries.{name}", fn, keep)

    def _arrival(self, store: EpochStore) -> Op:
        return store.arrival(self.spark, self.tracer, self.movies_df)

    def finish(self) -> dict[int, str]:
        """Compare every result with the digest of its registry oracle's
        answer from DuckDB, run once the engine is down so the two never
        compete for cores."""
        from mapreducemovieanalysis_cloud_spark import registry

        oracles = registry.oracle_sql()
        want = refs.oracle_digests(SF_DIR,
                                   {n: oracles[n] for n in self.names},
                                   ORACLE_CACHE)
        return {i: f"{n}: {got} != oracle {want[n]}"
                for i, n, got in self.results if got != want[n]}

    def warmup_ops(self) -> list[Op]:
        """Every query once, then two arrivals into a store of their own
        (the second compacts it), so the measured store starts empty."""
        ops = [self._query(n, -1 - k) for k, n in enumerate(self.names)]
        self.warm_store.compact_every = 2
        return ops + [self._arrival(self.warm_store) for _ in range(2)]

    def ops(self):
        """Whole rounds in a seeded order; the loop stops only on a round
        boundary."""
        rng = random.Random(self.seed)
        i = 0
        while True:
            order = self.names + [None] * EpochStore.compact_every
            rng.shuffle(order)
            for k, n in enumerate(order):
                op = self._arrival(self.store) if n is None else self._query(
                    n, i)
                yield op, k == len(order) - 1
                i += 1

    def throughput(self, latencies: list[tuple[str, float]]) -> dict:
        q = [t for n, t in latencies if n.startswith("queries.")]
        a = [t for n, t in latencies if n == "epoch.arrival"]
        return {
            "queries_per_s": {"value": len(q) / sum(q), "unit": "1/s"},
            "ingest_rows_per_s": {
                "value": len(a) * EpochStore.batch_rows / sum(a),
                "unit": "rows/s"},
        }


WORKLOADS = {w.name: w for w in (MovielensCsv, QueryMix)}
