"""Deterministic integer k-means over embedding columns — the semantic
clustering stage of a training-data pipeline (SemDeDup-style semantic
dedup buckets, corpus domain discovery, IVF coarse quantizers all start
with "k-means the embeddings").

The reference has no clustering surface (its ML stays in ALS/W2V/LR —
``S/ALSRecommenderBuilder.scala``, ``S/Word2VecCorpusBuilder.scala``);
this module is north-star extension surface built on the package's
exact-integer discipline so the whole trainer is ORACLE-ABLE: classic
Lloyd's k-means is float-nondeterministic (reduction order changes the
centroids), but on ``floor(x·scale + 0.5)`` integerized vectors with
integer-mean centroid updates (``sum div count`` — Spark ``div`` and
DuckDB ``//`` both truncate toward zero, verified) every assignment,
every centroid, and every inertia value is a bit-exact BIGINT in any
engine and any partitioning. The trade is quantization of the input
space (scale 1000 ≈ 3 decimal digits), which for corpus bucketing is
noise-level; determinism is what a reproducible data pipeline needs.

Scale posture (100 TB): centroids are model state — k·dim longs — and
ride a broadcast; each round is ONE pass over the vectors (broadcast
nested-loop against k rows, dot/diff folds inside whole-stage codegen)
plus ONE map-side-combinable mean aggregation over (cluster, dim) keys
(k·dim groups, constant-size reduce state). ``kmeans`` is the one round
loop: it unrolls a fixed number of rounds (same idiom as q121 PageRank)
with a lazy checkpoint per round, and its ``by`` key trains independent
models — PQ's m subspaces — as ONE job chain instead of m. No driver
collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def integerize_embeddings(
    emb: DataFrame,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, q array<long>)`` — per-component ``floor(x·scale + 0.5)``,
    the q144 fixed-IEEE-op-sequence idiom (float→double is exact, one
    multiply, one floor), so both engines hold identical integers."""
    arr = F.col(vec_col).cast("array<double>")
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            arr, lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long")
        ).alias("q"),
    )


def seed_centroids(
    vectors: DataFrame, k: int, stride: int = 29, by: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic init: the ``k`` smallest vec_ids among
    ``vec_id % stride == 0`` become clusters 0..k-1 (a fixed, engine-
    replayable rule — the k-means++ randomized init trades determinism
    for convergence speed; with unrolled fixed rounds the trade goes the
    other way). Returns ``(*by, cluster_id, c array<long>)``.

    ``by``: group columns of ``vectors`` (one model per group, e.g. the
    PQ subspace ``s``). Every group seeds from the SAME k ids — the k
    smallest qualifying vec_ids of the whole frame, joined back to each
    group's rows (the q151 oracle's ``cbseeds`` rule).

    Seed-shortfall guard (ADVICE r10 #2): if fewer than ``k`` vec_ids
    satisfy the stride filter (small fixtures, sparse id spaces), the
    trainer used to degrade SILENTLY to a smaller k — both engines
    identically, so the oracle still passed. Now a lazy ``raise_error``
    over a per-group count window fires at execution time (no extra
    driver action — the frame is ≤k rows per group). ZERO matching seeds
    yields an empty centroid frame, which ``assign_clusters`` rejects."""
    from pyspark.sql import Window

    seeds = vectors.where(F.col("vec_id") % stride == 0)
    if by:
        ids = seeds.select("vec_id").distinct().orderBy("vec_id").limit(k)
        seeds = vectors.join(F.broadcast(ids), "vec_id")
    else:
        seeds = seeds.orderBy("vec_id").limit(k)
    n_match = F.count("*").over(Window.partitionBy(*by))
    rank = F.row_number().over(Window.partitionBy(*by).orderBy("vec_id"))
    return seeds.select(
        *by,
        (rank - 1).alias("cluster_id"),
        F.when(
            n_match < k,
            F.raise_error(
                F.concat(
                    F.lit("seed_centroids: only "),
                    n_match.cast("string"),
                    F.lit(
                        f" seed(s) satisfy vec_id % {stride} == 0 — need "
                        f"k={k}; lower stride or k"
                    ),
                )
            ),
        )
        .otherwise(F.col("q"))
        .alias("c"),
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    carry_q: bool = False,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest centroid per vector under squared L2 (BIGINT-exact):
    broadcast the k-row centroid frame, fold ``Σ(q_d − c_d)²`` JVM-side
    (``zip_with`` over two plain column arrays — no computed-array HOF
    capture), pick ``min(struct(dist, cluster_id))`` so ties break to
    the smallest cluster id. One wide pass, no shuffle on the vectors
    beyond the final per-vector min (map-side combinable).

    ``carry_q=True`` additionally carries the vector itself through the
    per-vector argmin: the assignment frame then already holds
    everything a centroid update or residual encode needs, and the
    ``assignment ⋈ vectors`` re-join (one full vector shuffle per
    consumer) disappears (r16, guide §2.4). Same assignment, same
    integers.

    MAP-ONLY argmin (r16, guide §2.4 "remove shuffles outright"): the k
    centroids are folded into ONE broadcast row (``collect_list`` of
    (cluster_id, c) structs) and the per-vector argmin is
    ``array_min(transform(...))`` over that array — a pure projection,
    so the assignment pass has NO exchange and NO aggregate at all (the
    old groupBy argmin shuffled every vector per round and planned a
    SortAggregate, because min(struct)+first(array) buffers are not
    hash-aggregable). ``array_min`` over (dist, cluster_id) structs is
    the same total order as ``min(struct(dist, cluster_id))`` and is
    order-independent even under ties, so the collect_list's
    nondeterministic array order cannot change the result.

    ``by``: the group columns of ``seed_centroids`` — centroids pack one
    row per group and each vector joins its own group's row (a cross
    join when ``by`` is empty). Output is ``(*by, vec_id, cluster_id,
    dist[, q])``.

    Ragged-vector guard (ADVICE r10 #2): ``zip_with`` silently truncates
    to the SHORTER array, so a ragged vector (63-dim plant in a 64-dim
    corpus) used to produce a plausible-but-wrong distance; now it
    raises at execution time via a lazy ``raise_error`` branch. An empty
    centroid frame, or a group with no centroids, raises the same way
    instead of emitting NULL ``cluster_id``/``dist`` rows."""

    def _dist(cc):
        return F.when(
            F.size("q") != F.size(cc["c"]),
            F.raise_error(
                F.concat(
                    F.lit("assign_clusters: ragged vector dim "),
                    F.size("q").cast("string"),
                    F.lit(" != centroid dim "),
                    F.size(cc["c"]).cast("string"),
                )
            ).cast("long"),
        ).otherwise(
            F.aggregate(
                F.zip_with("q", cc["c"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )

    packed = centroids.groupBy(*by).agg(
        F.collect_list(F.struct("cluster_id", "c")).alias("_cents")
    )
    if by:
        joined = vectors.join(F.broadcast(packed), list(by), "left")
    else:
        joined = vectors.crossJoin(F.broadcast(packed))
    # array_min over an empty (or, after the left join, NULL) array is
    # NULL; every non-empty array yields a non-NULL struct.
    no_centroids = F.raise_error(
        F.concat(
            F.lit("assign_clusters: no centroids"),
            *([F.lit(" for group "), F.to_json(F.struct(*by))] if by else []),
        )
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda cc: F.struct(
                _dist(cc).alias("dist"), cc["cluster_id"].alias("cluster_id")
            ),
        )
    )
    # Two-step select: ``best`` is consumed twice (cluster_id, dist) —
    # behind the alias the argmin runs once per row (CollapseProject
    # keeps a non-cheap expression referenced twice un-inlined).
    carried = ["q"] if carry_q else []
    return joined.select(*by, "vec_id", *carried, best.alias("_m")).select(
        *by,
        "vec_id",
        F.when(F.col("_m").isNull(), no_centroids)
        .otherwise(F.col("_m.cluster_id"))
        .alias("cluster_id"),
        F.col("_m.dist").alias("dist"),
        *carried,
    )


def update_centroids(
    vectors: DataFrame,
    assignment: DataFrame,
    centroids: DataFrame,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Integer-mean centroid update: posexplode members to
    ``(cluster, dim, val)``, per-dim ``sum(val) div count(*)`` (truncates
    toward zero in BOTH engines — exact), rebuild arrays with an
    ``array_sort`` on (dim, mean) structs. A cluster that lost every
    member KEEPS its previous centroid (left-join + coalesce) — the
    deterministic empty-cluster contract.

    An assignment built with ``assign_clusters(carry_q=True)`` already
    carries the vector — the re-join (a full vector shuffle per round)
    is skipped in that case (r16); same members, same means. With ``by``
    every key above gains the group columns: means are per
    ``(*by, cluster_id, d)``."""
    key = [*by, "cluster_id"]
    if "q" in assignment.columns:
        members = assignment.select(*key, "q")
    else:
        members = assignment.select(*key, "vec_id").join(
            vectors, [*by, "vec_id"]
        )
    means = (
        members.select(*key, F.posexplode("q").alias("d", "val"))
        .groupBy(*key, "d")
        .agg(F.expr("sum(val) div count(*)").alias("m"))
    )
    rebuilt = means.groupBy(*key).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("c_new")
    )
    return centroids.join(rebuilt, key, "left").select(
        *key, F.coalesce("c_new", "c").alias("c")
    )


def kmeans(
    vectors: DataFrame,
    k: int,
    rounds: int,
    stride: int = 29,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """The package's one k-means round loop: ``seed_centroids``, then
    ``rounds`` × (``assign_clusters(carry_q=True)`` → ``update_centroids``)
    over integerized ``(*by, vec_id, q)`` vectors. Returns the final
    ``(*by, cluster_id, c)`` centroids — one independent model per
    ``by`` group, all groups trained in the same jobs (PQ's m subspaces
    are ONE chain keyed on ``s``, the shape of the q151 oracle's
    ``_subspace_kmeans_cte_chain``). With no rounds the seeds come back.

    Lazy checkpoint per round (r16): each round's centroid frame is
    referenced TWICE by the next (the assignment's broadcast build and
    the update's left join), so un-truncated lineage replays round t-1
    twice inside round t — a 2^rounds pass blowup. Callers checkpoint
    ``vectors`` themselves when it is expensive to recompute: it is
    scanned once per round."""
    cents = seed_centroids(vectors, k, stride=stride, by=by)
    for _ in range(rounds):
        assignment = assign_clusters(vectors, cents, carry_q=True, by=by)
        cents = update_centroids(
            vectors, assignment, cents, by=by
        ).localCheckpoint(eager=False)
    return cents


def kmeans_cluster_stats(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    scale: int = 1000,
    stride: int = 29,
) -> DataFrame:
    """Unrolled k-means → per-cluster ``(cluster_id, n, inertia,
    min_vec_id)``: ``rounds`` (assign, update) cycles from the seeded
    centroids, then one final assignment aggregated per cluster. All
    BIGINT; empty clusters appear with n=0 (full k-row grid). inertia =
    Σ min-dist — the convergence scalar a pipeline monitors; min_vec_id
    is a cheap membership witness so the oracle hash moves if ANY vector
    switches clusters, not only when counts change."""
    vectors = integerize_embeddings(emb, scale=scale).localCheckpoint(
        eager=False
    )
    cents = kmeans(vectors, k, rounds, stride)
    final = assign_clusters(vectors, cents)
    stats = final.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        F.sum("dist").alias("inertia"),
        F.min("vec_id").alias("min_vec_id"),
    )
    grid = cents.select("cluster_id")
    return grid.join(stats, "cluster_id", "left").select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("inertia", F.lit(0)).cast("long").alias("inertia"),
        F.coalesce("min_vec_id", F.lit(-1)).cast("long").alias("min_vec_id"),
    )
