"""The benchmark workloads.

Each workload is a sequence of forced steps (an action ends every step),
so untraced and traced runs execute the same Spark jobs. A workload
object is created once per run and exposes:

- ``inputs(dir)``: write the inputs for the seed (no Spark);
- ``load(spark, dir, tracer)``: build the DataFrames a pass reads;
- ``run_pass(spark, tracer, index)`` → :class:`PassResult`;
- ``end_pass(spark)``: release the pass's caches and tables, untimed;
- ``check(spark)`` → ``[(check name, ok, detail)]``, run once, untimed.

Every call into an ``albedo_spark`` module sits inside a span named after
the module's layer, so a traced run can attribute Spark work to it.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

TODAY = dt.date(2017, 9, 1)


@dataclass
class PassResult:
    ops: list[tuple[str, float]] = field(default_factory=list)   # (name, seconds)
    ingest_ops: list[tuple[str, float]] = field(default_factory=list)
    ingest_s: float = 0.0
    quality: dict[str, float] = field(default_factory=dict)


def _timed(res: PassResult, name: str, fn):
    """Run one operation and record its latency."""
    t0 = time.perf_counter()
    out = fn()
    res.ops.append((name, time.perf_counter() - t0))
    return out


def oracle_checks(
    data_dir: str, tables, results: dict[str, tuple[list[str], list[tuple]]]
) -> list[tuple[str, bool, str]]:
    """Compare collected catalog-query results with each query's DuckDB
    oracle (``ORACLE_SQL``) over the same parquet files: row count,
    column names and ``table_hash``."""
    import duckdb

    from albedo_spark.queries import ORACLE_SQL

    table_hash = _table_hash()
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = []
        for name, (cols, rows) in results.items():
            s = table_hash(rows, cols)
            rel = con.sql(ORACLE_SQL[name])
            o = table_hash(rel.fetchall(), rel.columns)
            ok = sorted(cols) == sorted(rel.columns) and s == o
            out.append((f"oracle:{name}", ok, f"spark {s[0]} rows, duckdb {o[0]} rows"))
        return out
    finally:
        con.close()


def _table_hash():
    """``tools/check_correctness.table_hash``. Importing that module puts
    its own repository path first on ``sys.path``; the path list is
    restored so this checkout's modules stay the ones in use."""
    import sys

    saved = list(sys.path)
    try:
        from tools.check_correctness import table_hash
    finally:
        sys.path[:] = saved
    return table_hash


class RecsysNightly:
    """The paper's nightly DAG: profiles, ALS, candidate recommenders,
    Word2Vec corpus, the LR ranker, ranking and NDCG@30."""

    name = "recsys_nightly"
    N_USERS = 400
    N_REPOS = 800
    TOP_K = 30

    def __init__(self, seed: int):
        self.seed = seed
        self.last: dict = {}
        self._keep: list = []

    def inputs(self, out_dir: str) -> dict:
        return inputs.write_albedo(out_dir, self.seed, self.N_USERS, self.N_REPOS)

    def load(self, spark, data_dir: str, tracer) -> None:
        from pyspark.sql import functions as F

        from albedo_spark import io, schemas

        schema = {
            "user_info": schemas.USER_INFO, "repo_info": schemas.REPO_INFO,
            "starring": schemas.STARRING, "relation": schemas.RELATION,
        }
        with tracer.span("io", "load_tables"):
            raw = io.load_tables(spark, data_dir, *inputs.ALBEDO_TABLES)
        self.t = {
            n: df.select(*[F.col(f.name).cast(f.dataType) for f in schema[n].fields])
            for n, df in raw.items()
        }

    def run_pass(self, spark, tracer, index: int) -> PassResult:
        from albedo_spark.jobs.common import evaluate_ndcg, repo_text, sample_test_users
        from albedo_spark.pipelines import build_repo_profile, build_user_profile
        from albedo_spark.pipelines.ranker import (
            balance_starring, build_model_pipeline, cast_booleans, evaluate_auc,
            fit_feature_pipeline, rank_candidates, reduce_starring,
        )
        from albedo_spark.pipelines.word2vec_corpus import build_corpus
        from albedo_spark.recommenders import (
            ContentRecommender, CurationRecommender, PopularityRecommender,
        )
        from albedo_spark.recommenders.als import ALSRecommender, train_als
        from albedo_spark.recommenders.popularity import build_popular_repo_df

        t, k, res = self.t, self.TOP_K, PassResult()
        keep: list = []

        def cached(df):
            df = df.cache()
            df.count()
            keep.append(df)
            return df

        with tracer.span("pipelines.user_profile", "build_user_profile"):
            up = _timed(res, "build_user_profile", lambda: cached(build_user_profile(
                t["user_info"], t["repo_info"], t["starring"], today=TODAY,
                company_bin_threshold=2, location_bin_threshold=5,
            )))
        with tracer.span("pipelines.repo_profile", "build_repo_profile"):
            rp = _timed(res, "build_repo_profile", lambda: cached(build_repo_profile(
                t["repo_info"], t["starring"], today=TODAY, language_bin_threshold=5,
            )))
        with tracer.span("evaluators.ranking", "sample_test_users"):
            users = _timed(res, "sample_test_users", lambda: cached(sample_test_users(t["starring"], 250)))
        with tracer.span("recommenders.als", "train_als"):
            model = _timed(res, "train_als", lambda: train_als(t["starring"], rank=8, maxIter=2))
        with tracer.span("recommenders.als", "serve_top30_all_users"):
            als = _timed(res, "serve_top30_all_users", lambda: cached(ALSRecommender(model, topK=k).transform(
                t["starring"].select("user_id").distinct()
            )))
        popular = build_popular_repo_df(t["repo_info"])
        sources = {
            "popularity": PopularityRecommender(popular_repo_df=popular, topK=k),
            "curation": CurationRecommender(starring_df=t["starring"], topK=k),
            "content": ContentRecommender(
                starring_df=t["starring"], repo_text_df=repo_text(t["repo_info"]), topK=k
            ),
        }
        cands = [als.join(users, "user_id", "left_semi")]
        for name, rec in sources.items():
            with tracer.span("recommenders", name):
                cands.append(_timed(res, name, lambda rec=rec: cached(rec.transform(users))))
        with tracer.span("pipelines.word2vec_corpus", "build_corpus"):
            _timed(res, "build_corpus", lambda: build_corpus(up, rp).count())
        with tracer.span("pipelines.ranker", "training_set"):
            def training_set():
                reduced = reduce_starring(t["starring"], max_starred_repos_count=100)
                top = [r.repo_id for r in popular.limit(30).collect()]
                balanced = balance_starring(reduced, top, ratio=1.0)
                return cached(cast_booleans(balanced.join(up, "user_id").join(rp, "repo_id")))

            dataset = _timed(res, "training_set", training_set)
        with tracer.span("pipelines.ranker", "fit_feature_pipeline"):
            features = _timed(res, "fit_feature_pipeline", lambda: fit_feature_pipeline(dataset, min_df=1.0))
        with tracer.span("pipelines.ranker", "lr_fit+auc"):
            def fit_lr():
                featured = cached(features.transform(dataset))
                train, test = featured.randomSplit([0.8, 0.2], seed=42)
                lr = build_model_pipeline(today=TODAY, maxIter=3).fit(train)
                return lr, evaluate_auc(lr, test)

            lr, auc = _timed(res, "lr_fit+auc", fit_lr)
        with tracer.span("pipelines.ranker", "rank_candidates"):
            ranked = _timed(res, "rank_candidates", lambda: cached(
                rank_candidates(cands, up, rp, features, lr, top_k=k)
                .withColumnRenamed("p1", "score")
            ))
        with tracer.span("evaluators.ranking", "ndcg_at_30"):
            ndcg = _timed(res, "ndcg_at_30", lambda: evaluate_ndcg(ranked, t["starring"], users, k))
        res.quality = {"ndcg_at_30": ndcg, "ranker_auc": auc}
        self._keep = keep
        self.last = {"ranked": ranked, "quality": res.quality}
        return res

    def end_pass(self, spark) -> None:
        for df in self._keep:
            df.unpersist()
        self._keep = []

    def check(self, spark) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        ranked = self.last["ranked"]
        worst = ranked.groupBy("user_id").agg(
            F.count("*").alias("n"), F.countDistinct("repo_id").alias("d")
        ).agg(F.max("n").alias("n"), F.sum(F.expr("int(n != d)")).alias("dups")).collect()[0]
        n_users = ranked.select("user_id").distinct().count()
        out = [
            ("ranked:<=30_distinct_per_user", (worst["n"] or 0) <= self.TOP_K
             and (worst["dups"] or 0) == 0 and n_users > 0,
             f"{n_users} users, max {worst['n']} per user, {worst['dups']} with repeats"),
        ]
        for key, v in self.last["quality"].items():
            out.append((f"quality:{key}_in_[0,1]", 0.0 <= v <= 1.0, f"{key}={v:.6f}"))
        return out


class CorpusSearch:
    """Store ingest (dedup, BM25, signature, PQ, host graph), then a seeded
    hybrid top-k request against the fresh stores and a similarity-search
    headline query from the catalog."""

    name = "corpus_search"
    SF = 0.01          # base documents/embeddings (500 at sf0.01)
    COPIES = 2         # replicate-and-decorrelate factor
    #: hybrid search requests per pass: bm25_store_search and pq_store_topk
    #: legs fused by rrf_fuse, collected to the driver
    REQUESTS = 1
    PAGERANK_ROUNDS = 3

    #: a similarity-search headline query, served from the catalog
    CATALOG = ("q33_ann_lsh",)

    def __init__(self, seed: int):
        self.seed = seed
        self.tables: dict[str, str] = {}
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self._keep: list = []

    def inputs(self, out_dir: str) -> dict:
        return inputs.write_corpus(out_dir, self.seed, self.SF)

    def load(self, spark, data_dir: str, tracer) -> None:
        from pyspark.sql import functions as F
        from tools.scale_bench import replicate

        from albedo_spark import io

        self.data_dir = data_dir
        with tracer.span("io", "load_tables"):
            base = io.load_tables(spark, data_dir, *inputs.CORPUS_TABLES)
        corpus_dir = os.path.join(data_dir, "corpus")
        replicate(base["documents"], self.COPIES).write.mode("overwrite").parquet(
            os.path.join(corpus_dir, "documents.parquet")
        )
        emb = base["embeddings"]
        copies = spark.range(self.COPIES).select(F.col("id").alias("_r"))
        # each replica's vectors are the base vectors with the signs of a
        # replica-specific subset of coordinates flipped: same norms, new ids
        flip = F.transform(
            "embedding",
            lambda x, i: F.when(
                (F.col("_r") > 0) & (((i * 7 + F.col("_r") * 3) % 5) == 0), -x
            ).otherwise(x),
        )
        emb.crossJoin(copies).select(
            (F.col("vec_id") + F.col("_r") * 10_000_000).alias("vec_id"),
            flip.alias("embedding"),
            "label",
        ).write.mode("overwrite").parquet(os.path.join(corpus_dir, "embeddings.parquet"))
        with tracer.span("io", "load_corpus"):
            c = io.load_tables(spark, corpus_dir, *inputs.CORPUS_TABLES)
        self.docs, self.emb = c["documents"], c["embeddings"]
        self.requests = self._requests(data_dir)

    def _requests(self, data_dir: str) -> list[tuple]:
        """Seeded requests: held-out documents (doc_id % 10 = 0, never in
        a store) give the query text and the query vector."""
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
        vecs = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pydict()
        held = [i for i, d in enumerate(docs["doc_id"]) if d % 10 == 0]
        rng = np.random.default_rng([self.seed, 4])
        out = []
        for r in range(self.REQUESTS):
            i = held[int(rng.integers(0, len(held)))]
            words = docs["text"][i].split()
            start = int(rng.integers(0, max(1, len(words) - 6)))
            text = " ".join(words[start:start + 6])
            out.append((f"r{r}", r, text, [float(x) for x in vecs["embedding"][i]]))
        return out

    def run_pass(self, spark, tracer, index: int) -> PassResult:
        from pyspark.sql import functions as F

        from albedo_spark.operators.dedup import (
            connected_components, jaccard_verify, minhash_lsh_pairs,
        )
        from albedo_spark.operators.dedup_store import (
            build_signature_store, dedup_incremental,
        )
        from albedo_spark.operators.extraction import host_links
        from albedo_spark.operators.graph import pagerank
        from albedo_spark.operators.retrieval import append_bm25_postings, build_bm25_store
        from albedo_spark.operators.vector_store import append_pq_vectors, build_pq_store

        res = PassResult()
        docs, emb = self.docs, self.emb
        tb = self.tables = {
            "bm25": f"perfbench_bm25_p{index}",
            "sig": f"perfbench_sig_p{index}",
            "pq": f"perfbench_pq_p{index}",
        }
        keep: list = []

        def cached(df):
            df = df.cache()
            n = df.count()
            keep.append(df)
            return df, n

        t_ingest = time.perf_counter()
        with tracer.span("operators.dedup", "minhash_lsh_pairs"):
            cands, n_c = _timed(res, "minhash_lsh_pairs", lambda: cached(minhash_lsh_pairs(docs)))
        with tracer.span("operators.dedup", "jaccard_verify"):
            verified, n_v = _timed(res, "jaccard_verify", lambda: cached(
                jaccard_verify(cands, docs, shingle_n=3, threshold=0.8)
            ))
        tracer.count("operators.dedup.candidate_pairs", n_c)
        tracer.count("operators.dedup.verified_pairs", n_v)
        with tracer.span("operators.dedup", "connected_components"):
            _timed(res, "connected_components", lambda: connected_components(verified.select("id_a", "id_b")).count())
        with tracer.span("operators.retrieval", "build_bm25_store"):
            _timed(res, "build_bm25_store", lambda: build_bm25_store(
                docs.where("doc_id % 10 IN (1,2,3,4,5)"), tb["bm25"]
            ))
        with tracer.span("operators.retrieval", "append_bm25_postings"):
            _timed(res, "append_bm25_postings", lambda: append_bm25_postings(
                docs.where("doc_id % 10 IN (6,7,8,9)"), tb["bm25"]
            ))
        with tracer.span("operators.dedup_store", "build_signature_store"):
            _timed(res, "build_signature_store", lambda: build_signature_store(
                docs.where("doc_id % 5 != 0"), tb["sig"], num_buckets=16
            ))
        with tracer.span("operators.dedup_store", "dedup_incremental"):
            _timed(res, "dedup_incremental", lambda: dedup_incremental(
                docs.where("doc_id % 5 = 0"), tb["sig"], max_bucket=200
            ).count())
        with tracer.span("operators.vector_store", "build_pq_store"):
            _timed(res, "build_pq_store", lambda: build_pq_store(
                emb.where("vec_id % 10 != 0 AND vec_id % 7 != 3"), tb["pq"],
                kc=8, m=4, subdim=16, num_buckets=8, codebooks="train",
            ))
        with tracer.span("operators.vector_store", "append_pq_vectors"):
            _timed(res, "append_pq_vectors", lambda: append_pq_vectors(
                emb.where("vec_id % 10 != 0 AND vec_id % 7 = 3"), tb["pq"],
                m=4, subdim=16, num_buckets=8,
            ))
        pages = docs.select(
            "doc_id",
            F.format_string("http://Site%d.example.com/d%d", F.col("doc_id") % 97,
                            "doc_id").alias("url"),
            F.format_string(
                '<a href="http://site%d.example.com/x">a</a> '
                '<a href="https://www.site%d.example.com:443/y">b</a> '
                '<a href="/local">c</a><p>%s</p>',
                (F.col("doc_id") * 7 + 1) % 97, (F.xxhash64("text") % 97 + 97) % 97,
                "text",
            ).alias("html"),
        )
        with tracer.span("operators.graph", "host_links+pagerank"):
            edges = host_links(pages).select(
                F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
            )
            _timed(res, "host_links+pagerank", lambda: pagerank(edges, iterations=self.PAGERANK_ROUNDS).count())
        tracer.count("operators.graph.rounds", self.PAGERANK_ROUNDS)
        res.ingest_s = time.perf_counter() - t_ingest
        self._keep = keep
        self.last = {"cands": cands, "verified": verified}
        res.ingest_ops = res.ops
        res.ops = []
        for _, num, text, vec in self.requests:
            with tracer.span("operators.retrieval", "hybrid_search"):
                _timed(res, "hybrid_search", lambda: self._hybrid(spark, num, text, vec))
        from albedo_spark.queries import QUERIES

        plan_s = exec_s = 0.0
        for name in self.CATALOG:
            with tracer.span("queries", name):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, self.data_dir)
                t1 = time.perf_counter()
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                t2 = time.perf_counter()
            plan_s += t1 - t0
            exec_s += t2 - t1
            res.ops.append((name, t2 - t0))
        tracer.count("queries.plan_s", plan_s)
        tracer.count("queries.exec_s", exec_s)
        return res

    def _hybrid(self, spark, num: int, text: str, vec: list[float], top_k: int = 10):
        from pyspark.sql import functions as F

        from albedo_spark.operators.retrieval import bm25_store_search, rrf_fuse
        from albedo_spark.operators.vector_store import pq_store_topk

        lex = bm25_store_search(
            spark.createDataFrame([(num, text)], "query_id long, text string"),
            self.tables["bm25"], top_k=top_k,
        )
        dense = pq_store_topk(
            spark.createDataFrame([(num, vec)], "query_id long, embedding array<float>"),
            self.tables["pq"], k=top_k, nprobe=2, m=4, subdim=16,
        ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
        return rrf_fuse([lex, dense], top_k=top_k).collect()

    def end_pass(self, spark) -> None:
        for df in self._keep:
            df.unpersist()
        self._keep = []
        for t in spark.catalog.listTables():
            if t.name.startswith("perfbench_"):
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")

    def check(self, spark) -> list[tuple[str, bool, str]]:
        from albedo_spark.operators.retrieval import (
            audit_bm25_store, bm25_search, bm25_store_search,
        )
        from albedo_spark.operators.vector_store import audit_pq_store

        tb, out = self.tables, []
        for name, audit in (("bm25", audit_bm25_store), ("pq", audit_pq_store)):
            report = audit(spark, tb[name])
            out.append((f"audit_{name}_store", bool(report.get("ok")),
                        ", ".join(f"{k}={v}" for k, v in sorted(report.items()) if k != "ok")))
        reqs = [(qid, text) for qid, _, text, _ in self.requests]
        cols = ["query_id", "doc_id", "rank", "bm25_x10k"]
        stored = self.docs.where("doc_id % 10 IN (1,2,3,4,5,6,7,8,9)")
        exact = {tuple(r) for r in bm25_search(spark, stored, reqs, top_k=10).select(*cols).collect()}
        qdf = spark.createDataFrame(reqs, "query_id string, text string")
        served = {tuple(r) for r in bm25_store_search(qdf, tb["bm25"], top_k=10).select(*cols).collect()}
        out.append(("bm25_store_equals_bm25_search", exact == served and len(exact) > 0,
                    f"{len(served)} store rows, {len(exact)} exact rows, "
                    f"{len(exact ^ served)} differ"))
        pairs = {n: {tuple(r) for r in self.last[n].select("id_a", "id_b").collect()}
                 for n in ("cands", "verified")}
        stray = len(pairs["verified"] - pairs["cands"])
        out.append(("verified_pairs_within_candidates", stray == 0,
                    f"{stray} of {len(pairs['verified'])} verified pairs not among "
                    f"{len(pairs['cands'])} candidates"))
        out += oracle_checks(self.data_dir, inputs.CORPUS_TABLES, self.results)
        return out


WORKLOADS = {w.name: w for w in (RecsysNightly, CorpusSearch)}
