"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import refs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_small.json")


def _digest_dir(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


# --- generators ---------------------------------------------------------------

def test_movielens_csv_is_deterministic_per_seed(tmp_path):
    a = gen.write_movielens_csv(7, str(tmp_path / "a"), 300, 20_000, 7_000)
    b = gen.write_movielens_csv(7, str(tmp_path / "b"), 300, 20_000, 7_000)
    c = gen.write_movielens_csv(8, str(tmp_path / "c"), 300, 20_000, 7_000)
    assert _digest_dir(tmp_path / "a") == _digest_dir(tmp_path / "b")
    assert _digest_dir(tmp_path / "a") != _digest_dir(tmp_path / "c")
    np.testing.assert_array_equal(a["movie_ids"], b["movie_ids"])
    assert a["input_bytes"] == b["input_bytes"]
    assert not np.array_equal(a["movie_ids"], c["movie_ids"])


def test_movielens_csv_shape(tmp_path):
    d = gen.write_movielens_csv(3, str(tmp_path), 400, 30_000)
    movies = pd.read_csv(d["movies_csv"])
    ratings = pd.read_csv(d["ratings_csv"])
    assert list(movies.columns) == ["movieId", "title", "genres"]
    assert list(ratings.columns) == ["userId", "movieId", "rating",
                                     "timestamp"]
    # quoted-comma titles survive an RFC-4180 parse intact
    assert movies.title.str.contains(", ").any()
    assert len(movies) == 400 and len(ratings) == 30_000
    # half-star ratings in [0.5, 5]
    assert set(np.unique(ratings.rating * 2)) <= set(range(1, 11))
    # Zipf popularity: the top movie is far above the mean count
    counts = ratings.movieId.value_counts()
    assert counts.iloc[0] > 10 * counts.mean()
    # a few ratings point at movieIds outside the catalogue
    assert (ratings.movieId > 400).any()


def test_ratings_batches_are_deterministic():
    m1 = gen.RatingsModel(5, 100, 1000)
    m2 = gen.RatingsModel(5, 100, 1000)
    assert m1.batch(5, 3, 500).equals(m2.batch(5, 3, 500))
    assert not m1.batch(5, 3, 500).equals(m1.batch(5, 4, 500))


# --- tail percentile rule -----------------------------------------------------

def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = spans.tail_latency(list(reversed(xs)))
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct = spans.tail_latency([5.0] + [9.0] * 10)
    assert value == 5.0
    assert pct == pytest.approx(100 / 11)


def test_tail_with_too_few_samples_falls_back_to_max():
    assert spans.tail_latency([3.0, 1.0, 2.0]) == (3.0, 100.0)
    with pytest.raises(ValueError):
        spans.tail_latency([])


# --- event log to spans ---------------------------------------------------------

def test_event_log_parser_maps_jobs_to_spans():
    jobs, tasks = spans.parse_event_log(FIXTURE)
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0].group == "span-3" and jobs[2].group is None
    assert jobs[1].stages == [1, 2]
    assert jobs[0].start == 1001.0 and jobs[0].end == 1001.5
    assert len(tasks) == 4

    g = spans.group_stats(jobs, tasks)
    assert set(g) == {"span-3", "span-4"}  # ungrouped job 2 is dropped
    scan = g["span-3"]
    assert scan["jobs"] == 1 and scan["stages"] == 1 and scan["tasks"] == 2
    assert scan["input_bytes"] == 4000 and scan["input_records"] == 40
    assert scan["scan_task_s"] == pytest.approx(0.5)
    assert scan["shuffle_write_bytes"] == 800
    assert scan["shuffle_task_s"] == pytest.approx(0.5)
    assert scan["spill_bytes"] == 96
    assert scan["task_skew"] == pytest.approx(0.4 / 0.25)
    read = g["span-4"]
    assert read["shuffle_read_bytes"] == 800 and read["output_bytes"] == 2048
    assert read["input_bytes"] == 0 and read["scan_task_s"] == 0

    both = spans.merge_stats([scan, read])
    assert both["jobs"] == 2 and both["tasks"] == 3
    assert both["task_skew"] == scan["task_skew"]
    # the two jobs overlap from 1001.4 to 1001.5
    assert spans.covered(both["job_intervals"]) == pytest.approx(1.0)


def test_tracer_sets_and_restores_job_groups():
    calls = []

    class FakeContext:
        def setLocalProperty(self, key, value):
            calls.append((key, value))

    class FakeSpark:
        sparkContext = FakeContext()

    t = spans.Tracer(jobs=True)
    t.spark = FakeSpark()
    with t.span("op", op_id=4) as outer:
        with t.span("inner") as inner:
            pass
    assert inner.op_id == 4 and inner.parent == outer.span_id
    assert calls == [("spark.jobGroup.id", "span-0"),
                     ("spark.jobGroup.id", "span-1"),
                     ("spark.jobGroup.id", "span-0"),
                     ("spark.jobGroup.id", None)]
    assert outer.end >= inner.end >= inner.start >= outer.start


# --- reference answers ----------------------------------------------------------

MOVIES = pd.DataFrame({
    "movieId": [1, 2, 3, 4],
    "title": ["Shawshank Redemption, The (1994)", "Heat (1995)",
              "Fargo (1996)", "Unseen (2001)"],
})


def _ratings():
    ids, vals = [], []

    def add(movie, values):
        ids.extend([movie] * len(values))
        vals.extend(values)

    add(1, [4.5] * 11)            # count 11, avg 4.5  -> kept
    add(2, [4.0] * 11)            # avg exactly 4.0   -> dropped (strict >)
    add(3, [5.0] * 10)            # count exactly 10  -> dropped (strict >)
    add(9, [5.0] * 20)            # not in the catalogue -> dropped by join
    return np.array(ids), np.array(vals)


def test_rank_reference_hand_built():
    ids, _ = _ratings()
    ref = refs.rank_reference(MOVIES, ids)
    assert sorted(zip(ref.movieId, ref.title, ref.num_reviews)) == [
        (1, "Shawshank Redemption, The (1994)", 11),
        (2, "Heat (1995)", 11),
        (3, "Fargo (1996)", 10),
    ]


def test_rating_reference_hand_built():
    ids, vals = _ratings()
    ref = refs.rating_reference(MOVIES, ids, vals)
    assert list(zip(ref.title, ref.avg_rating, ref.num_ratings)) == [
        ("Shawshank Redemption, The (1994)", 4.5, 11)]


def _write_tsv(path, lines):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "w") as fh:
        fh.write("".join(line + "\n" for line in lines))


def test_output_checks_accept_right_and_flag_wrong(tmp_path):
    ids, vals = _ratings()
    rank = refs.rank_reference(MOVIES, ids)
    good = ["11\tHeat (1995)", "11\tShawshank Redemption, The (1994)",
            "10\tFargo (1996)"]
    _write_tsv(tmp_path / "ok", good)
    assert refs.check_rank_output(str(tmp_path / "ok"), rank) is None
    _write_tsv(tmp_path / "order", good[::-1])
    assert "order" in refs.check_rank_output(str(tmp_path / "order"), rank)
    _write_tsv(tmp_path / "count", ["12\tHeat (1995)"] + good[1:])
    assert refs.check_rank_output(str(tmp_path / "count"), rank)

    rating = refs.rating_reference(MOVIES, ids, vals)
    _write_tsv(tmp_path / "r", ["Shawshank Redemption, The (1994)\t4.5\t11"])
    assert refs.check_rating_output(str(tmp_path / "r"), rating) is None
    _write_tsv(tmp_path / "rw", ["Shawshank Redemption, The (1994)\t4.4\t11"])
    assert refs.check_rating_output(str(tmp_path / "rw"), rating)


def test_epoch_rank_check():
    counts = np.zeros(5, dtype=np.int64)
    counts[[1, 2]] = [3, 7]
    titles = {1: "a", 2: "b", 3: "c"}
    got = pd.DataFrame({"movieId": [2, 1], "title": ["b", "a"],
                        "num_reviews": [7, 3]})
    assert refs.check_epoch_rank(got, counts, titles) is None
    assert refs.check_epoch_rank(got.iloc[::-1], counts, titles)
    wrong = got.assign(num_reviews=[7, 2])
    assert refs.check_epoch_rank(wrong, counts, titles)


def test_result_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["p", None], "z": [0.1 + 0.2, 2.0]})
    b = pd.DataFrame({"z": [2.0, 0.3], "y": [None, "p"], "x": [2, 1]})
    assert refs.result_digest(a) == refs.result_digest(b)
    assert refs.result_digest(a).startswith("2:")
    assert refs.result_digest(a) != refs.result_digest(
        a.assign(x=[1, 3]))


# --- fixed query-mix data and the declared metrics ----------------------------

def test_query_mix_data_is_the_recorded_copy():
    data = os.path.join(ROOT, "perfbench", "data", "sf0.1")
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        sums = dict(reversed(line.split()) for line in fh if line.strip())
    assert sorted(sums) == sorted(
        f for f in os.listdir(data) if f.endswith(".parquet"))
    for name, want in sums.items():
        with open(os.path.join(data, name), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == want, name


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def test_traced_run_reports_every_declared_per_layer_metric():
    """``run._per_layer`` on the fixture log and hand-made spans yields
    exactly the per-layer metrics BENCHMARK.json declares."""
    spans_ = [spans.Span(i, name, op, None, 1000.0 + i / 10, 1000.05 + i / 10)
              for i, (name, op) in enumerate([
                  ("session.get_session", -1), ("registry.queries", -1),
                  ("warmup", -1), ("cli.run.rank", 0),
                  ("cli.run.rating", 1)])]
    spans_[3].start, spans_[3].end = 1000.9, 1001.6
    spans_[4].start, spans_[4].end = 1001.3, 1002.1
    tracer = spans.Tracer(jobs=True)
    tracer.spans = spans_

    class Phase:
        latencies = [0.7, 0.8]
        gc_s = 0.05
        wl = workloads.MovielensCsv
    Phase.tracer = tracer

    got = run._per_layer(Phase, FIXTURE, untraced_p50=0.5)
    assert {k: v["unit"] for k, v in got.items()} == _declared("per_layer")
    assert got["cli.run.rank_s"]["value"] == pytest.approx(0.7)
    assert got["sources.readers.input_bytes"]["value"] == 2000
    assert got["sources.writers.output_bytes"]["value"] == 1024
    assert got["queries.semantic_dedup.build_s"]["value"] == 0.0
    assert got["trace.overhead_ratio"]["value"] == pytest.approx(1.5)


def test_oracle_digests_are_computed_once(tmp_path, monkeypatch):
    data = os.path.join(ROOT, "perfbench", "data", "sf0.1")
    sql = {"n": "SELECT n_regionkey, count(*) AS k FROM nation GROUP BY 1"}
    first = refs.oracle_digests(data, sql, str(tmp_path))
    assert first["n"].startswith("5:")
    assert len(os.listdir(tmp_path)) == 1

    def no_duckdb(sf_dir):
        raise AssertionError("DuckDB ran again")

    monkeypatch.setattr(refs._engine_oracle(), "duckdb_connection", no_duckdb)
    assert refs.oracle_digests(data, sql, str(tmp_path)) == first
    with pytest.raises(AssertionError):
        refs.oracle_digests(data, {"n": sql["n"] + " ORDER BY 1"},
                            str(tmp_path))


# --- process clean-up -----------------------------------------------------------

def test_end_stops_a_process_tree_and_waits():
    import subprocess
    import time

    # a child that ignores SIGTERM, with a grandchild of its own
    child = subprocess.Popen(
        ["bash", "-c", "trap '' TERM; sleep 60 & sleep 60; wait"])
    deadline = time.monotonic() + 5
    while len(run._descendants(child.pid)) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    tree = {child.pid} | run._descendants(child.pid)
    assert len(tree) >= 3
    run._end(tree, grace=0.5)
    assert child.poll() is not None
    assert not any(run._running(p) for p in tree)
