"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed yields the
same bytes.  Nothing here imports Spark; inputs are written with pyarrow
before the engine starts, so input generation is never timed.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

# Words for synthetic titles.  Titles follow the MovieLens shape
# "Name (year)"; a share of them use the "Name, The (year)" form whose comma
# sits inside a quoted CSV field (the case MovieRank.java:44-47 hand-repairs).
_TITLE_WORDS = (
    "Shawshank Redemption Matrix Godfather Usual Suspects Pulp Fiction "
    "Forrest Gump Silence Lambs Jurassic Park Toy Story Heat Casino Sense "
    "Sensibility Braveheart Apollo Clueless Babe Seven Fargo Crow Rock Net "
    "Birdcage Twister Ransom Scream Titanic Contact Face Gattaca Lost Dark "
    "City Night Day River Mountain Island Ghost Dream Storm Winter Summer"
).split()
_ARTICLES = ("The", "A", "An")
_GENRES = (
    "Action Adventure Animation Children Comedy Crime Documentary Drama "
    "Fantasy Horror Musical Mystery Romance Sci-Fi Thriller War Western"
).split()


def movies_table(seed: int, n_movies: int) -> pa.Table:
    """MovieLens movies: movieId, title, genres (pipe-delimited)."""
    rng = np.random.default_rng([seed, 1])
    w = np.array(_TITLE_WORDS)
    a = w[rng.integers(0, len(w), n_movies)]
    b = w[rng.integers(0, len(w), n_movies)]
    years = rng.integers(1920, 2020, n_movies)
    art = np.array(_ARTICLES)[rng.integers(0, len(_ARTICLES), n_movies)]
    comma = rng.random(n_movies) < 0.25
    ids = np.arange(1, n_movies + 1)
    titles = [
        f"{x} {y} {i}, {t} ({yr})" if c else f"{x} {y} {i} ({yr})"
        for x, y, i, t, yr, c in zip(a, b, ids, art, years, comma)
    ]
    g = np.array(_GENRES)
    n_genres = rng.integers(1, 4, n_movies)
    picks = rng.integers(0, len(g), (n_movies, 3))
    genres = ["|".join(g[p[:k]]) for p, k in zip(picks, n_genres)]
    return pa.table(
        {
            "movieId": pa.array(ids, pa.int32()),
            "title": pa.array(titles, pa.string()),
            "genres": pa.array(genres, pa.string()),
        }
    )


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class RatingsModel:
    """Zipf-skewed movie popularity and per-movie half-star rating bias.

    ``n_orphans`` extra movieIds past the catalogue appear in ratings but
    not in movies, so the inner join must drop them (the reference's
    "null"-title wart, MovieRank.java:67-70)."""

    def __init__(self, seed: int, n_movies: int, n_users: int,
                 zipf_s: float = 1.05, n_orphans: int = 5):
        rng = np.random.default_rng([seed, 2])
        n_keys = n_movies + n_orphans
        # popularity rank -> movieId through a seeded permutation, so the
        # most popular movie is not always movieId 1
        self.key_of_rank = rng.permutation(n_keys) + 1
        self.probs = _zipf_probs(n_keys, zipf_s)
        # per-movie quality: mean rating in [1.5, 4.9]
        self.quality = rng.uniform(1.5, 4.9, n_keys + 1)
        self.n_users = n_users

    def batch(self, seed: int, index: int, n_rows: int) -> pa.Table:
        rng = np.random.default_rng([seed, 3, index])
        ranks = rng.choice(len(self.probs), size=n_rows, p=self.probs)
        movie = self.key_of_rank[ranks]
        halfsteps = np.rint(
            (self.quality[movie] + rng.normal(0.0, 0.8, n_rows)) * 2
        )
        rating = np.clip(halfsteps, 1, 10) / 2.0
        user = rng.integers(1, self.n_users + 1, n_rows)
        ts = rng.integers(789_652_800, 1_577_836_800, n_rows)
        return pa.table(
            {
                "userId": pa.array(user, pa.int32()),
                "movieId": pa.array(movie, pa.int32()),
                "rating": pa.array(rating, pa.float64()),
                "timestamp": pa.array(ts, pa.int64()),
            }
        )


# headers written by hand: pyarrow quotes every string, MovieLens quotes
# only the titles that hold a comma
_CSV_OPTS = pacsv.WriteOptions(include_header=False)


def write_movielens_csv(seed: int, out_dir: str, n_movies: int,
                        n_ratings: int, chunk: int = 1_000_000) -> dict:
    """Write ``movies.csv`` and ``ratings.csv`` (headered, RFC-4180 quoting)
    and return their paths, sizes and the ratings as numpy columns for the
    reference answers."""
    os.makedirs(out_dir, exist_ok=True)
    movies = movies_table(seed, n_movies)
    movies_path = os.path.join(out_dir, "movies.csv")
    with open(movies_path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(movies.column_names)
        w.writerows(zip(*(c.to_pylist() for c in movies.columns)))
    model = RatingsModel(seed, n_movies, n_users=max(1000, n_ratings // 50))
    ratings_path = os.path.join(out_dir, "ratings.csv")
    cols = {"movieId": [], "rating": []}
    schema = model.batch(seed, 0, 1).schema
    with open(ratings_path, "wb") as fh:
        fh.write((",".join(schema.names) + "\n").encode())
    with open(ratings_path, "ab") as fh, pacsv.CSVWriter(
        fh, schema, write_options=_CSV_OPTS
    ) as w:
        for i, start in enumerate(range(0, n_ratings, chunk)):
            t = model.batch(seed, i, min(chunk, n_ratings - start))
            w.write_table(t)
            cols["movieId"].append(t.column("movieId").to_numpy())
            cols["rating"].append(t.column("rating").to_numpy())
    return {
        "movies_csv": movies_path,
        "ratings_csv": ratings_path,
        "movies": movies,
        "movie_ids": np.concatenate(cols["movieId"]),
        "ratings": np.concatenate(cols["rating"]),
        "input_bytes": os.path.getsize(movies_path)
        + os.path.getsize(ratings_path),
    }

