"""Seeded input generation for the benchmark workloads.

Every table is built with NumPy from one ``numpy.random.Generator`` seeded
by the benchmark seed and written with pyarrow, so the same seed gives
byte-identical parquet files and no Spark job runs while inputs are made.

Two families:

- ``write_corpus``: ``documents`` and ``embeddings``, shaped like the
  TESTDATA.md tables (same columns, types and value ranges; ~5% of
  documents are planted near-duplicates ending in `` dup``), at a chosen
  scale factor.
- ``write_albedo``: ``user_info`` / ``repo_info`` / ``starring`` /
  ``relation`` with the column types of ``albedo_spark.schemas`` and the
  shapes of FIXTURES.md A1-A4 (pinned user 652070 and the five curators
  each with at least 30 stars).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_TABLES = ("documents", "embeddings")
ALBEDO_TABLES = ("user_info", "repo_info", "starring", "relation")

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
CURATOR_IDS = (652070, 1912583, 59990, 646843, 28702)


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _seconds(rng, n: int, start: dt.datetime, end: dt.datetime) -> np.ndarray:
    span = int((end - start).total_seconds())
    base = np.datetime64(start.isoformat(), "us")
    return base + (rng.integers(0, span, n) * 1_000_000).astype("timedelta64[us]")


def _pick(rng, values: list, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 91, n)
    texts: list[str] = []
    for i in range(n):
        # ~5% planted near-duplicates: an earlier document plus " dup"
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = np.array(["en", "zh", "es", "de", "fr"])[
        rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    ]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (10, dim))
    vecs = centres[labels] * 0.6 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """TESTDATA-shaped ``documents`` and ``embeddings`` at scale ``sf``
    (50,000 rows at sf1) into ``out_dir``; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(50, int(50_000 * sf))
    tables = {
        "documents": _documents(np.random.default_rng([seed, 1, 8]), n_docs),
        "embeddings": _embeddings(np.random.default_rng([seed, 1, 9]), n_docs),
    }
    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)
    return {name: t.num_rows for name, t in tables.items()}


def write_albedo(
    out_dir: str, seed: int, n_users: int, n_repos: int
) -> dict[str, int]:
    """FIXTURES.md A1-A4 tables into ``out_dir``; returns row counts.

    Users prefer one language each and star mostly repos in it, weighted
    by popularity, so ALS and the ranker have signal to learn."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    others = rng.choice(np.arange(1, 10_000_000), n_users - len(CURATOR_IDS), replace=False)
    user_ids = np.sort(
        np.concatenate([others[~np.isin(others, CURATOR_IDS)], CURATOR_IDS])
    ).astype(np.int32)
    n_users = len(user_ids)
    repo_ids = np.sort(rng.choice(np.arange(1, 20_000_000), n_repos, replace=False)).astype(
        np.int32
    )
    t_user = dt.datetime(2008, 1, 1), dt.datetime(2016, 12, 31)
    t_repo = dt.datetime(2010, 1, 1), dt.datetime(2016, 12, 31)

    companies = ["@Google", "google inc", "Facebook.com", "ex-Amazon", "小米",
                 "Microsoft", "", None, "freelancer", "ACME Co Ltd"]
    locations = ["San Francisco, CA", "Taipei, Taiwan", "東京, 日本", "Berlin",
                 "New York City", "", None]
    bios = ["full stack developer", "machine learning phd", "freelance hacker",
            "product manager", "junior engineer", "deep learning researcher",
            None, ""]
    u_created = _seconds(rng, n_users, *t_user)
    user_info = pa.table({
        "user_id": user_ids,
        "user_login": [f"user{u}" for u in user_ids],
        "user_account_type": np.where(rng.random(n_users) < 0.05, "Organization", "User").tolist(),
        "user_name": [None if r < 0.2 else f"Name {u}" for u, r in zip(user_ids, rng.random(n_users))],
        "user_company": [
            f"RareCorp{u}" if r < 0.1 else c
            for u, r, c in zip(user_ids, rng.random(n_users), _pick(rng, companies, n_users))
        ],
        "user_blog": ["" if r < 0.7 else f"https://blog{u}.io" for u, r in zip(user_ids, rng.random(n_users))],
        "user_location": _pick(rng, locations, n_users),
        "user_email": [None if r < 0.5 else f"u{u}@example.com" for u, r in zip(user_ids, rng.random(n_users))],
        "user_bio": _pick(rng, bios, n_users),
        "user_public_repos_count": rng.integers(0, 500, n_users).astype(np.int32),
        "user_public_gists_count": rng.integers(0, 200, n_users).astype(np.int32),
        "user_followers_count": np.minimum(rng.pareto(1.2, n_users) * 10, 50_000).astype(np.int32),
        "user_following_count": rng.integers(0, 2000, n_users).astype(np.int32),
        "user_created_at": u_created,
        "user_updated_at": u_created + (rng.integers(0, 300, n_users) * 86_400_000_000).astype(
            "timedelta64[us]"
        ),
    })

    langs = ["JavaScript", "Python", "Java", "Go", "Ruby", "C++", "Rust",
             "TypeScript", "", None, "Elm", "Nim"]
    descs = ["a web framework", "deprecated, no longer maintained", "my blog",
             "demo project for class", "machine learning toolkit", "作業",
             None, "", "awesome curated list"]
    lang_idx = rng.integers(0, len(langs), n_repos)
    repo_lang = [
        f"RareLang{rid % 7}" if r < 0.04 else langs[i]
        for rid, r, i in zip(repo_ids, rng.random(n_repos), lang_idx)
    ]
    stars = np.minimum(
        rng.pareto(0.6, n_repos).astype(np.int64)
        + rng.choice([0, 30, 1000, 5000], n_repos),
        400_000,
    )
    owners = user_ids[rng.integers(0, n_users, n_repos)]
    r_created = _seconds(rng, n_repos, *t_repo)
    day = np.timedelta64(86_400_000_000, "us")
    topics = rng.random(n_repos)
    repo_info = pa.table({
        "repo_id": repo_ids,
        "repo_owner_id": owners,
        "repo_owner_username": [f"user{o}" for o in owners],
        "repo_owner_type": ["User"] * n_repos,
        "repo_name": [f"repo{r}" for r in repo_ids],
        "repo_full_name": [f"user{o}/repo{r}" for o, r in zip(owners, repo_ids)],
        "repo_description": _pick(rng, descs, n_repos),
        "repo_language": repo_lang,
        "repo_created_at": r_created,
        "repo_updated_at": r_created + rng.integers(0, 400, n_repos) * day,
        "repo_pushed_at": r_created + rng.integers(0, 500, n_repos) * day,
        "repo_homepage": ["" if r < 0.6 else f"https://repo{i}.dev" for i, r in zip(repo_ids, rng.random(n_repos))],
        "repo_size": rng.integers(0, 500_000, n_repos).astype(np.int32),
        "repo_stargazers_count": stars.astype(np.int32),
        "repo_forks_count": (stars * rng.random(n_repos) * 0.3).astype(np.int32),
        "repo_subscribers_count": (stars * rng.random(n_repos) * 0.2).astype(np.int32),
        "repo_is_fork": (rng.random(n_repos) < 0.1),
        "repo_has_issues": np.ones(n_repos, dtype=bool),
        "repo_has_projects": (rng.random(n_repos) < 0.5),
        "repo_has_downloads": np.ones(n_repos, dtype=bool),
        "repo_has_wiki": (rng.random(n_repos) < 0.5),
        "repo_has_pages": (rng.random(n_repos) < 0.2),
        "repo_open_issues_count": rng.integers(0, 500, n_repos).astype(np.int32),
        "repo_topics": [
            "python,machine-learning" if t < 0.3 else ("web,framework" if t < 0.51 else "")
            for t in topics
        ],
    })

    # starring: per-user power-law counts (curators >= 30), preference for
    # the user's favourite language, popularity-weighted within it
    fav = rng.integers(0, len(langs), n_users)
    pop = np.log1p(stars.astype(np.float64)) + 1.0
    s_users, s_repos = [], []
    for u_pos, uid in enumerate(user_ids):
        if uid in CURATOR_IDS:
            n = 30 + int(rng.pareto(1.0) * 5)
        else:
            n = 1 + int(rng.pareto(0.9) * 3)
        n = min(n, 80, n_repos)
        w = pop * np.where(lang_idx == fav[u_pos], 6.0, 1.0)
        chosen = rng.choice(n_repos, n, replace=False, p=w / w.sum())
        s_users.append(np.full(n, uid, dtype=np.int32))
        s_repos.append(repo_ids[chosen])
    s_u = np.concatenate(s_users)
    starring = pa.table({
        "user_id": s_u,
        "repo_id": np.concatenate(s_repos),
        "starred_at": _seconds(rng, len(s_u), dt.datetime(2013, 1, 1), dt.datetime(2017, 6, 1)),
        "starring": np.ones(len(s_u)),
    })

    pairs = set()
    while len(pairs) < min(300, n_users * (n_users - 1)):
        a, b = rng.choice(user_ids, 2, replace=False)
        pairs.add((int(a), int(b), ("followed", "starred")[int(rng.integers(0, 2))]))
    rel = sorted(pairs)
    relation = pa.table({
        "from_user_id": pa.array([p[0] for p in rel], pa.int32()),
        "to_user_id": pa.array([p[1] for p in rel], pa.int32()),
        "relation": [p[2] for p in rel],
    })
    tables = {
        "user_info": user_info,
        "repo_info": repo_info,
        "starring": starring,
        "relation": relation,
    }
    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)
    return {name: t.num_rows for name, t in tables.items()}
