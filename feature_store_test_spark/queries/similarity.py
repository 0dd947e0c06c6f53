"""Embedding similarity-search queries over ``embeddings`` (north-star ANN).

Dot products are ordered folds with double accumulation on both engines
(Spark: zip_with + aggregate; DuckDB: list_dot_product over DOUBLE[]), and
similarities are rounded to 6 dp BEFORE ranking with an id tiebreak — the
result set is fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table as load_table_plain
from feature_store_test_spark.data import load_table_spread as load_table
from feature_store_test_spark.operators.similarity import (
    cosine,
    cosine_topk,
    cosine_topk_arrow,
    l2_norm,
)
from feature_store_test_spark.registry import managed_cache, register


# ---------------------------------------------------------------------------
# Q28 — brute-force cosine top-5 for a 20-query batch (the exact-recall ANN
# baseline). Scale: broadcast queries, single corpus scan, per-query window.
# ---------------------------------------------------------------------------
@register(
    "q28_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS cos_sim
      FROM q JOIN c ON query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    doc="exact cosine top-5 neighbors for 20 query vectors (ANN baseline)",
    tags=("similarity", "window", "join"),
)
def q28_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GEMM scorer (cosine_topk_arrow): pinned result-identical to the
    # interpreted fold form (tests/test_similarity.py) and ~5-9x faster on
    # corpus scans — the fold form stays the semantics exemplar for small
    # request paths; the brute-force BASELINE must be the BLAS shape.
    # PLAIN loader (round 8): cosine_topk_arrow sizes its own Python stage
    # by input bytes (python_stage_tasks coalesce), so a spread exchange
    # upstream is contradictory — at sf0.1 the byte sizing picks 1 task
    # and the 32-way round-robin shuffle was written and read back for
    # nothing (whole stage fuses to scan→GEMM→window, zero exchanges,
    # measured q28 0.55→0.30s); at 10×/100× the multi-file replicas
    # disable spread anyway.
    emb = load_table_plain(spark, "embeddings", sf_dir)
    return cosine_topk_arrow(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 20),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
    )


# ---------------------------------------------------------------------------
# Q29 — embedding norms + label centroid distance: array math surface
# (zip_with / aggregate / sqrt) without a join.
# ---------------------------------------------------------------------------
@register(
    "q29_embedding_norms",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(MIN(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6) AS min_norm,
           ROUND(MAX(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    doc="per-label embedding norm statistics (array math surface)",
    tags=("similarity", "agg"),
)
def q29_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    norm = F.round(l2_norm("embedding"), 6)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min(norm).alias("min_norm"),
        F.max(norm).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# Q30 — pairwise label-0 similarity above a threshold: the "embedding
# near-dup" declared semantics (cosine >= 0.25 within a label bucket — the fixture embeddings are near-orthogonal random vectors, so 0.25 marks the upper tail).
# Bucketing by label bounds the pair blowup — the same role LSH buckets
# play at scale.
# ---------------------------------------------------------------------------
@register(
    "q30_embedding_near_dups",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE label = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                6) >= 0.25
    """,
    doc="embedding-cosine near-duplicate pairs within label bucket (>= 0.25)",
    tags=("similarity", "dedup", "join"),
)
def q30_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-collapsed within the label bucket: the pairwise stage runs
    over DISTINCT embedding vectors (groupBy on the array column — exact
    equality, arrays are 256 B so the group shuffle is cheap) and doc
    pairs expand through the group map. cos(v, v) is computed with the
    same expression as any other pair, so identical-vector pairs carry
    the identically-rounded value. On a corpus with duplicated vectors
    (re-ingested shards, the 10x replica) the O(bucket²) similarity stage
    shrinks by the duplication factor squared; with all-distinct vectors
    it adds one cheap aggregation."""
    from feature_store_test_spark.operators.dedup import ordered_pair_structs

    emb = load_table(spark, "embeddings", sf_dir).where(F.col("label") == 0)
    g = managed_cache(emb.groupBy("embedding").agg(
        F.min("vec_id").alias("__rep"),
        F.array_sort(F.collect_set("vec_id")).alias("__ids"),
    ))
    from feature_store_test_spark.operators.similarity import dot

    a = g.select(
        F.col("__rep").alias("ra"), F.col("embedding").alias("va"),
        l2_norm("embedding").alias("na"), F.col("__ids").alias("__ids_a"),
    )
    b = g.select(
        F.col("__rep").alias("rb"), F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"), F.col("__ids").alias("__ids_b"),
    )
    # norms per distinct vector, not per pair — same bits, 3x less fold
    # (nullif: zero-vector ANSI guard, see operators/similarity.cosine)
    sim = F.round(
        dot("va", "vb") / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)), 6
    )
    rep_pairs = (
        a.join(b, F.col("ra") < F.col("rb"))
        .select("__ids_a", "__ids_b", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.25)
    )
    cross = (
        rep_pairs.select("cos_sim", F.explode("__ids_a").alias("__x"), "__ids_b")
        .select("cos_sim", "__x", F.explode("__ids_b").alias("__y"))
        .select(
            F.least("__x", "__y").alias("id_a"),
            F.greatest("__x", "__y").alias("id_b"),
            "cos_sim",
        )
    )
    self_sim = F.round(cosine("embedding", "embedding"), 6)
    within = (
        g.where(F.size("__ids") >= 2)
        .select(self_sim.alias("cos_sim"), F.explode(ordered_pair_structs(F.col("__ids"))).alias("p"))
        .select("p.id_a", "p.id_b", "cos_sim")
        .where(F.col("cos_sim") >= 0.25)
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Q63 — IVF-flat ANN (the inverted-file scale path; q28 = exact baseline,
# q38 = LSH path). Seeded deterministic centroids (16 smallest vec_ids — at
# real scale a k-means fit) make cell assignment reproducible across
# engines, so unlike q38 this ANN variant has a full DuckDB oracle.
# ---------------------------------------------------------------------------
_IVF_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "q63_ivf_ann_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 16
    ),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ca AS (
      SELECT vec_id AS neighbor_id, v AS nv, cid FROM (
        SELECT c.vec_id, c.v, t.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {_IVF_COS.format(a="c.v", b="t.cv")} DESC, t.cid
               ) AS rn
        FROM corpus c CROSS JOIN cent t
      ) WHERE rn = 1
    ),
    qa AS (
      SELECT vec_id AS query_id, v AS qv, cid FROM (
        SELECT c.vec_id, c.v, t.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {_IVF_COS.format(a="c.v", b="t.cv")} DESC, t.cid
               ) AS rn
        FROM corpus c CROSS JOIN cent t
        WHERE c.vec_id < 20
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT qa.query_id, ca.neighbor_id,
             {_IVF_COS.format(a="qa.qv", b="ca.nv")} AS cos_sim
      FROM qa JOIN ca USING (cid)
      WHERE qa.query_id <> ca.neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    doc="IVF-flat ANN top-5 with seeded centroids, nprobe=2 (oracle-checked)",
    tags=("similarity", "ivf", "approx", "join"),
)
def q63_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.similarity import ivf_ann_topk

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return ivf_ann_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 20),
        centroids=centroids,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_probe=2,
    )


# ---------------------------------------------------------------------------
# Q68 — IVF ANN with TRAINED centroids: pyspark.ml KMeans coarse quantizer
# (the production IVF form; q63 is the seeded-centroid oracle-checkable
# variant). No oracle: KMeans training is iterative, not SQL-expressible;
# the pytest suite asserts determinism and recall vs the exact q28 baseline
# (>= 0.4 while probing 2 of 8 cells).
# ---------------------------------------------------------------------------
@register(
    "q68_ivf_trained_ann",
    oracle=None,
    doc="IVF-flat ANN with KMeans-trained centroids (k=8, nprobe=2) — rows-only check",
    tags=("similarity", "ivf", "ml", "approx"),
)
def q68_ivf_trained_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.similarity import ivf_ann_topk, ivf_train

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = ivf_train(emb, n_cells=8, seed=42)
    return ivf_ann_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 20),
        centroids=centroids,
        k=5,
        n_probe=2,
    )


# ---------------------------------------------------------------------------
# Q91 — PCA-compressed ANN: candidate search in a 24-dim PCA space (2.7x
# cheaper per pair than the 64-dim original), exact full-space rescore of
# the candidates. A training step feeds it (pyspark.ml PCA), so it is
# rows-only checked; the recall bound vs exact brute force is asserted in
# tests/test_similarity.py (recall@5 >= 0.8 on the fixture).
# ---------------------------------------------------------------------------
@register(
    "q91_pca_ann_topk",
    oracle=None,
    doc="PCA(24)-compressed candidate search + exact rescore top-5",
    tags=("similarity", "ann", "pca", "ml"),
)
def q91_pca_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.similarity import pca_ann_topk, pca_train

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    comp = pca_train(emb, k=24)
    return pca_ann_topk(emb, queries, comp, k=5, n_candidates=50)


# ---------------------------------------------------------------------------
# Q103 — product-quantization ANN (the IVF-PQ fine quantizer): corpus
# vectors compress to m=8 4-bit-ish codes, queries score candidates by
# asymmetric distance against broadcast lookup tables, exact cosine
# rescores the survivors. Rows-only (KMeans training step); recall vs
# exact and determinism are test-locked in tests/test_similarity.py.
# ---------------------------------------------------------------------------
@register(
    "q103_pq_ann_topk",
    oracle=None,
    doc="PQ(m=8,k=16) asymmetric-distance ANN + exact rescore top-5",
    tags=("similarity", "ann", "pq", "ml"),
)
def q103_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.similarity import pq_ann_topk, pq_train

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    books = pq_train(emb, m=8, k=16)
    return pq_ann_topk(emb, queries, books, k=5, n_candidates=50)


# ---------------------------------------------------------------------------
# Q104 — IVF-PQ composed: coarse cells (trained coarse quantizer —
# sampled-Lloyd fit, the faiss production form; q68 exercises the
# distributed pyspark.ml fit of the same quantizer) restrict the
# candidate set, PQ asymmetric distance scores only probed-cell members,
# exact cosine rescores the top candidates — the billion-scale recipe
# end-to-end in DataFrame ops. Rows-only (two training steps);
# recall/self-match/determinism locked in tests.
# ---------------------------------------------------------------------------
@register(
    "q104_ivfpq_ann_topk",
    oracle=None,
    doc="IVF(8 cells, nprobe=2) x PQ(m=8,k=16) ANN + exact rescore top-5",
    tags=("similarity", "ann", "ivf", "pq", "ml"),
)
def q104_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.similarity import (
        ivf_train,
        ivfpq_ann_topk,
        pq_train,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") % 10 == 0)
    cents = ivf_train(emb, n_cells=8, fit="sample")
    books = pq_train(emb, m=8, k=16)
    return ivfpq_ann_topk(emb, queries, cents, books, k=5, n_probe=2, n_candidates=50)


# ---------------------------------------------------------------------------
# Q121 — semantic dedup end-to-end (SemDeDup, Abbas et al. 2023): bucket
# the corpus (label = the stand-in for a trained cluster id), find
# within-bucket cosine near-dup PAIRS, close them into FAMILIES
# (connected components — chains A~B~C collapse even when A and C are far
# apart), and keep ONE survivor per family (min vec_id). This is the
# keep/drop decision an embedding-level curation pass feeds to training.
# Pair generation reuses q30's identity collapse (distinct vectors only,
# expanded through the group map), so duplicated shards never inflate the
# O(bucket²) stage; components shuffle (node, label) pairs only. The
# oracle replays the same fixpoint with a recursive CTE — different
# algorithm, same unique labeling.
# ---------------------------------------------------------------------------
@register(
    "q121_semantic_dedup",
    oracle="""
    WITH RECURSIVE
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    edges AS (
      SELECT a.vec_id AS s, b.vec_id AS d
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                  6) >= 0.25
    ),
    und AS (SELECT s, d FROM edges UNION SELECT d AS s, s AS d FROM edges),
    reach(src, dst) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, u.d FROM reach r JOIN und u ON r.dst = u.s
    )
    SELECT src AS vec_id, MIN(dst) AS component, MIN(dst) = src AS is_survivor
    FROM reach GROUP BY src
    """,
    doc="semantic dedup: bucketed cosine pairs -> component families -> keep-first survivors",
    tags=("similarity", "dedup", "graph", "pipeline"),
)
def q121_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label pairwise is SemDeDup's declared shape, but a skewed
    label bucket must not go blind-quadratic: rep pairs come from
    ``threshold_pairs_within_buckets``, which all-pairs small labels and
    routes labels above ``oversize`` distinct vectors through the
    complete ε-grid candidate join (operators/similarity._grid_cell) —
    exact output either way, so the recursive-CTE oracle still
    hash-matches. Honest boundary: grid pruning power scales with the
    threshold (ε = √(2−2t)); at this fixture's loose t = 0.25 a dense
    label stays near-quadratic — but then so does the qualifying-pair
    OUTPUT, i.e. the work is output-bound, not plan waste. SemDeDup-scale
    thresholds (t ≥ 0.9) prune hard.

    Components run on the COLLAPSED rep graph (round-5 rewrite): one
    node per distinct (label, embedding) group, never the exploded id
    graph. Correctness: a qualifying rep pair connects EVERY id of both
    groups (identical vectors ⇒ identical similarities), and a group's
    ids are mutually connected iff its self-cosine passes (always, for a
    nonzero vector — only zero-vector groups fail, and those can't have
    cross edges either since their cosine is NaN); since __rep is the
    MIN vec_id of its group, the min-id component label equals the
    min-rep label, so mapping ids through their rep reproduces the id-
    graph labels exactly. Scale: the label-propagation loop now touches
    |distinct groups| nodes instead of |ids| — on the 100x replica
    (identical embeddings duplicated 100x) that is 2,000 nodes vs 2M,
    and the exploded id-edge list (~50M pairs there) is never built at
    all; at real scale the rep graph is never larger than the id graph.
    """
    from feature_store_test_spark.operators.graph import connected_components
    from feature_store_test_spark.operators.similarity import (
        threshold_pairs_within_buckets,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    g = managed_cache(emb.groupBy("label", "embedding").agg(
        F.min("vec_id").alias("__rep"),
        F.array_sort(F.collect_set("vec_id")).alias("__ids"),
    ))
    rep_edges = threshold_pairs_within_buckets(
        g, "label", "embedding", "__rep", 0.25
    ).select(F.col("ra").alias("id_a"), F.col("rb").alias("id_b"))
    comps = connected_components(rep_edges, "id_a", "id_b")
    # ids inherit their group's component when the group is internally
    # connected: singletons trivially, multi-id groups iff the self-
    # cosine passes (fails only for zero vectors, whose NaN similarity
    # also rules out any cross edge — those ids stay their own
    # components via the final coalesce, exactly like the oracle).
    self_ok = (F.size("__ids") == 1) | (
        F.round(cosine("embedding", "embedding"), 6) >= 0.25
    )
    id_map = (
        g.where(self_ok)
        .select("__rep", F.explode("__ids").alias("vec_id"))
        .join(comps, F.col("__rep") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("__rep")).alias("component"),
        )
    )
    return (
        emb.select("vec_id")
        .join(id_map, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("component"),
        )
        .withColumn("is_survivor", F.col("component") == F.col("vec_id"))
    )


# ---------------------------------------------------------------------------
# Q123 — the GEMM-path brute-force top-k, registered against q28's exact
# oracle: scoring runs as one numpy matrix multiply per Arrow batch
# (corpus chunk x broadcast query matrix — the faiss/ScaNN exhaustive-scan
# inner loop) instead of per-pair interpreted array folds, with tie-safe
# per-chunk candidate cuts and a global re-rank. Same rounded-then-ranked
# contract as q28; GEMM accumulation-order ulps are absorbed by the 6-dp
# round (equality to the fold operator is additionally pinned in
# tests/test_similarity.py), so the DuckDB oracle hash-checks it.
# ---------------------------------------------------------------------------
@register(
    "q123_cosine_topk_gemm",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS cos_sim
      FROM q JOIN c ON query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    doc="brute-force cosine top-5 on the vectorized GEMM scan path (oracle-checked)",
    tags=("similarity", "udf", "window"),
)
def q123_cosine_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.similarity import cosine_topk_arrow

    # plain loader: the GEMM scorer byte-sizes its own Python stage —
    # see the q28 note
    emb = load_table_plain(spark, "embeddings", sf_dir)
    return cosine_topk_arrow(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 20),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
    )


# ---------------------------------------------------------------------------
# Q131 — feature-hash embed + sparse cosine near-dup: a REAL text encoder
# (the signed hashing trick over character trigrams — operators/text.py:
# feature_hash_sparse) feeding a sparse similarity join: dot products sum
# a.weight*b.weight over SHARED buckets, norms are per-doc squared sums —
# all INTEGER aggregation, so every cosine is bit-identical across engines
# with zero float-order discipline (the reason the encoder emits sparse
# integer rows, not a dense float array). Probe set bounded at doc_id <
# 300: the all-pairs-via-shared-buckets join is the demonstration shape;
# at corpus scale the same hashed vectors route through the LSH/IVF ANN
# operators instead of pairwise joins. Threshold 0.8 sits in the
# discriminating tail (p99 ≈ 0.82 on the fixture; near-dup families score
# ≥ 0.9).
# ---------------------------------------------------------------------------
@register(
    "q131_feature_hash_near_dups",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
    tri AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 3) AS g
      FROM d, unnest(generate_series(1, greatest(length(text) - 2, 0))) AS u(i)
    ),
    h AS (SELECT doc_id, md5(g) AS h FROM tri),
    sp AS (
      SELECT doc_id,
             CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS INT)
               AS bucket,
             CAST(SUM(CASE WHEN strpos('0123456789abcdef', substr(h, 3, 1)) - 1 >= 8
                           THEN 1 ELSE -1 END) AS BIGINT) AS weight
      FROM h GROUP BY 1, 2
    ),
    spz AS (SELECT * FROM sp WHERE weight <> 0),
    nrm AS (SELECT doc_id, CAST(SUM(weight * weight) AS BIGINT) AS sq
            FROM spz GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(SUM(a.weight * b.weight) AS BIGINT) AS dot
      FROM spz a JOIN spz b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) AS cos_sim
    FROM dots
    JOIN nrm na ON na.doc_id = id_a
    JOIN nrm nb ON nb.doc_id = id_b
    WHERE ROUND(dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) >= 0.8
    """,
    doc="feature-hash (signed hashing trick) trigram embeddings -> sparse integer cosine near-dups",
    tags=("similarity", "text", "embedding", "join"),
)
def q131_feature_hash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.text import feature_hash_sparse

    docs = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 300)
    spz = feature_hash_sparse(docs, "doc_id", "text", n=3, dim=64)
    nrm = spz.groupBy("doc_id").agg(
        F.sum(F.col("weight") * F.col("weight")).cast("bigint").alias("sq")
    )
    a = spz.select(F.col("doc_id").alias("id_a"), "bucket", F.col("weight").alias("wa"))
    b = spz.select(F.col("doc_id").alias("id_b"), "bucket", F.col("weight").alias("wb"))
    dots = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("sq").alias("sqa"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("sq").alias("sqb"))
    cos = F.round(F.col("dot") / (F.sqrt("sqa") * F.sqrt("sqb")), 6)
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.8)
    )
