"""Reference answers and output checks.

Every check runs outside the timed region.  The MovieLens answers are
computed with pandas/numpy from the generated columns; the query-mix
answers come from each query's DuckDB oracle SQL in the registry, compared
with the engine's own test helpers in ``tests/oracle.py``.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import importlib.util
import json
import math
import os

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def rank_reference(movies: pd.DataFrame, movie_ids: np.ndarray) -> pd.DataFrame:
    """MovieRank: review count per catalogued movie (inner join), as
    ``movieId, title, num_reviews``.  Movies with no ratings do not appear;
    ratings of uncatalogued movieIds are dropped."""
    counts = np.bincount(movie_ids, minlength=int(movies.movieId.max()) + 1)
    ids = movies.movieId.to_numpy()
    keep = ids[counts[ids] > 0]
    out = movies.set_index("movieId").loc[keep, ["title"]].reset_index()
    out["num_reviews"] = counts[keep]
    return out


def rating_reference(movies: pd.DataFrame, movie_ids: np.ndarray,
                     ratings: np.ndarray, min_count: int = 10,
                     min_avg: float = 4.0) -> pd.DataFrame:
    """MovieRating: ``title, avg_rating, num_ratings`` with the reference's
    strict HAVING (count > 10 and avg > 4).  The average is
    ``round(sum, 2) / count`` — the engine's bit-deterministic form."""
    size = int(max(movies.movieId.max(), movie_ids.max())) + 1
    counts = np.bincount(movie_ids, minlength=size)
    sums = np.bincount(movie_ids, weights=ratings, minlength=size)
    ids = movies.movieId.to_numpy()
    n = counts[ids]
    with np.errstate(divide="ignore", invalid="ignore"):
        avg = np.round(sums[ids], 2) / n
    keep = (n > min_count) & (avg > min_avg)
    return pd.DataFrame({
        "title": movies.title.to_numpy()[keep],
        "avg_rating": avg[keep],
        "num_ratings": n[keep],
    })


def read_tsv_dir(path: str, names: list[str]) -> pd.DataFrame:
    """Read a Spark CSV output directory (tab-separated, no header) in
    part-file order, which is the global sort order."""
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    frames = [
        pd.read_csv(p, sep="\t", header=None, names=names,
                    keep_default_na=False, dtype={"title": str})
        for p in parts if os.path.getsize(p) > 0
    ]
    if not frames:
        return pd.DataFrame({n: [] for n in names})
    return pd.concat(frames, ignore_index=True)


def _non_increasing(values: np.ndarray) -> bool:
    return bool(np.all(values[1:] <= values[:-1]))


def check_rank_output(path: str, ref: pd.DataFrame) -> str | None:
    """``None`` when ``<count>\\t<title>`` lines match the reference as a
    multiset and counts never increase down the file, else a reason."""
    got = read_tsv_dir(path, ["num_reviews", "title"])
    if not _non_increasing(got.num_reviews.to_numpy()):
        return "rank output is not in non-increasing count order"
    a = sorted(zip(got.num_reviews.astype(int), got.title))
    b = sorted(zip(ref.num_reviews.astype(int), ref.title))
    return None if a == b else f"rank rows differ ({len(a)} vs {len(b)})"


def check_rating_output(path: str, ref: pd.DataFrame) -> str | None:
    """``None`` when ``<title>\\t<avg>\\t<count>`` lines match the reference
    and averages never increase.  Averages are compared to 1e-12 relative:
    the JVM's decimal rendering of a double (before JDK 19) does not always
    parse back to the same double, so the text loses up to an ulp."""
    got = read_tsv_dir(path, ["title", "avg_rating", "num_ratings"])
    if not _non_increasing(got.avg_rating.to_numpy(dtype=float)):
        return "rating output is not in non-increasing average order"
    a = sorted(zip(got.title, got.num_ratings.astype(int),
                   got.avg_rating.astype(float)))
    b = sorted(zip(ref.title, ref.num_ratings.astype(int),
                   ref.avg_rating.astype(float)))
    same = len(a) == len(b) and all(
        x[:2] == y[:2] and math.isclose(x[2], y[2], rel_tol=1e-12)
        for x, y in zip(a, b))
    return None if same else f"rating rows differ ({len(a)} vs {len(b)})"


def check_epoch_rank(got: pd.DataFrame, counts: np.ndarray,
                     titles: dict[int, str]) -> str | None:
    """Read-after-write check: ``movieId, title, num_reviews`` collected
    from the epoch store must equal the running per-movie counts of every
    batch written so far, in non-increasing count order."""
    if not _non_increasing(got.num_reviews.to_numpy()):
        return "epoch rank is not in non-increasing count order"
    ids = np.array(sorted(titles))
    ids = ids[counts[ids] > 0]
    want = sorted((int(i), titles[int(i)], int(counts[i])) for i in ids)
    have = sorted(zip(got.movieId.astype(int), got.title,
                      got.num_reviews.astype(int)))
    return None if have == want else (
        f"epoch rank differs ({len(have)} vs {len(want)} movies)")


# --- query-mix results ------------------------------------------------------

@functools.cache
def _engine_oracle():
    """The engine's own oracle helpers (``tests/oracle.py``), loaded by path
    so the benchmark's ``tests`` directory cannot shadow them."""
    spec = importlib.util.spec_from_file_location(
        "engine_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_digest(df: pd.DataFrame) -> str:
    """Row count and hash of a result in ``tests/oracle.py``'s canonical
    form (columns sorted by name, floats to 10 significant digits, rows
    sorted), so row and column order do not matter."""
    rows = _engine_oracle()._canon(df)
    return f"{len(rows)}:{hashlib.sha256(repr(rows).encode()).hexdigest()[:16]}"


def oracle_digests(sf_dir: str, sql_by_name: dict[str, str],
                   cache_dir: str) -> dict[str, str]:
    """Digest of each oracle SQL's answer, run by DuckDB over the parquet
    tables in ``sf_dir`` as ``tests/oracle.py`` does.

    The answers depend only on the SQL, the files (named with their hashes
    in ``sf_dir/SHA256SUMS``) and ``tests/oracle.py``, so they are kept in
    ``cache_dir`` under a hash of the three: DuckDB runs once per checkout,
    not once per benchmark run."""
    h = hashlib.sha256(json.dumps(sql_by_name, sort_keys=True).encode())
    for dep in (os.path.join(sf_dir, "SHA256SUMS"),
                os.path.join(ROOT, "tests", "oracle.py")):
        with open(dep, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = _engine_oracle().duckdb_connection(sf_dir)
    try:
        out = {n: result_digest(con.sql(q).df())
               for n, q in sql_by_name.items()}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out
