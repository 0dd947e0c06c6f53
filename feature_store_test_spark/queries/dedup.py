"""Deduplication queries over ``documents`` (north-star operators).

The fixture corpus: 500-5000 docs, single-space word sequences over a small
vocabulary — dense near-duplicate structure, no exact duplicates; dedup
keys therefore include head-prefix fingerprints, and near-dup detection uses
3-word shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table_spread as load_table
from feature_store_test_spark.operators import text as Tx
from feature_store_test_spark.operators.dedup import (
    exact_collapse,
    expand_rep_pairs,
    lsh_candidate_pairs,
    minhash_near_dups,
    minhash_signatures_digests,
    shingle_digest_array,
    within_group_pairs,
)
from feature_store_test_spark.registry import managed_cache, register


# ---------------------------------------------------------------------------
# Q19 — exact-dedup statistics: hash fingerprints, distinct counts per
# source. Scale: count(distinct md5) shuffles 16-byte digests, never bodies.
# ---------------------------------------------------------------------------
@register(
    "q19_exact_dedup_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique_texts,
           COUNT(DISTINCT md5(array_to_string(string_split(text, ' ')[1:5], ' ')))
             AS n_unique_head5
    FROM documents
    GROUP BY source
    """,
    doc="exact-duplicate statistics by source (content + head-prefix fingerprints)",
    tags=("dedup", "agg"),
)
def q19_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain loader: fingerprint-only per-text work (q110 note)
    from feature_store_test_spark.data import load_table as _plain

    docs = _plain(spark, "documents", sf_dir)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(Tx.fingerprint("text")).alias("n_unique_texts"),
        F.countDistinct(Tx.prefix_fingerprint("text", 5)).alias("n_unique_head5"),
    )


# ---------------------------------------------------------------------------
# Q20 — exact dedup, keep-first survivors: group by head-prefix fingerprint,
# keep min doc_id (deterministic survivor rule). The canonical exact-dedup
# reduce: one shuffle of (fingerprint, id).
# ---------------------------------------------------------------------------
@register(
    "q20_dedup_keep_first",
    oracle="""
    SELECT md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS group_size
    FROM documents
    GROUP BY 1
    """,
    doc="keep-first exact dedup on head-5-word fingerprint",
    tags=("dedup", "agg"),
)
def q20_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain loader: fingerprint-only per-text work (q110 note)
    from feature_store_test_spark.data import load_table as _plain

    docs = _plain(spark, "documents", sf_dir)
    return (
        docs.select(Tx.prefix_fingerprint("text", 5).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("group_size"))
    )


# ---------------------------------------------------------------------------
# Q21 — MinHash + LSH near-dup candidates with exact-Jaccard verification
# (the full industrial near-dedup pipeline in one declared query):
# shingle → 8 md5-minhashes → 4 bands → bucket self-join → Jaccard ≥ 0.5.
# Oracle replays the identical algorithm in SQL (md5 minima are
# deterministic hex-string comparisons on both engines).
# ---------------------------------------------------------------------------
_MINHASH_K = 8
_MINHASH_BANDS = 4
_JACCARD_T = 0.5

@register(
    "q21_minhash_near_dups",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM words, unnest(generate_series(1, len(w) - 2)) AS g(i)
    ),
    hashed AS (SELECT doc_id, md5(shingle) AS h FROM shingles),
    hashes AS (
      -- k-hash family = one md5, member s = the 15-hex window of the
      -- digest at offset s * (32//k), wrapping via self-concat (must stay
      -- in lockstep with operators/dedup.py minhash_signatures_digests)
      SELECT doc_id, seed,
             MIN(substr(h || h, {32 // _MINHASH_K} * seed + 1, 15)) AS minhash
      FROM hashed, unnest(generate_series(0, {_MINHASH_K - 1})) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // {_MINHASH_K // _MINHASH_BANDS} AS INT) AS band,
             md5(string_agg(minhash, '' ORDER BY seed)) AS bucket
      FROM hashes GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.id_a
      JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (za.sz + zb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = id_a
    JOIN sizes zb ON zb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= {_JACCARD_T}
    """,
    doc="MinHash(8)+LSH(4 bands) candidates verified by exact 3-shingle Jaccard >= 0.5",
    tags=("dedup", "minhash", "lsh"),
)
def q21_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return minhash_near_dups(
        docs, "doc_id", "text",
        n=3, k=_MINHASH_K, bands=_MINHASH_BANDS, threshold=_JACCARD_T,
    )


# ---------------------------------------------------------------------------
# Q22 — nibble-SimHash fingerprints: 16 md5-nibble dimensions vote ±
# (nibble - 7.5) per distinct token; bit = vote-sum >= 0. Deterministic and
# SQL-reproducible (strpos over the hex alphabet), unlike bit-twiddled
# 64-bit simhash which SQL engines disagree on.
# Scale: explode(distinct tokens) × 16 positions → groupBy(doc, pos) — one
# shuffle; signature assembly is a 16-element sorted collect per doc.
# ---------------------------------------------------------------------------
@register(
    "q22_simhash",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    votes AS (
      SELECT doc_id, j,
             SUM(strpos('0123456789abcdef', substr(md5(w), j, 1)) - 1 - 7.5) AS v
      FROM tok, unnest(generate_series(1, 16)) AS p(j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash16
    FROM votes GROUP BY doc_id
    """,
    doc="16-dim nibble-simhash document fingerprint",
    tags=("dedup", "simhash"),
)
def q22_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    votes = (
        tok.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(16))).alias("j"),
            F.md5("w").alias("h"),
        )
        .select(
            "doc_id",
            "j",
            (
                F.instr(F.lit("0123456789abcdef"), F.substring("h", F.col("j"), F.lit(1)))
                - 1
                - 7.5
            ).alias("vote"),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "v"))),
                lambda s: F.when(s["v"] >= 0, F.lit("1")).otherwise(F.lit("0")),
            ),
            "",
        ).alias("simhash16")
    )


# ---------------------------------------------------------------------------
# Q39 — SimHash near-dup pairs via band pigeonhole: if two 16-bit
# fingerprints differ in ≤ 2 bits, at least 2 of 4 contiguous 4-bit bands
# are identical — so candidates come from an equi-join on band values (4
# small shuffles) instead of an O(n²) cross-join; exact hamming distance is
# then computed only on candidates. Complete w.r.t. the naive pair scan
# (pigeonhole guarantee), which is exactly what the oracle runs.
# ---------------------------------------------------------------------------
def _simhash_fp_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint groups (f, ids = sorted member doc_ids), cached — the
    shared base of the exploded (q39) and grouped (q39b) pair contracts."""
    fp = q22_simhash(spark, sf_dir).select("doc_id", F.col("simhash16").alias("f"))
    return managed_cache(fp.groupBy("f").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    ))


def _simhash_fp_pairs(fpg: DataFrame) -> DataFrame:
    """(fa, fb, hamming) over DISTINCT fingerprints with hamming <=
    ``_HAMMING_T`` via the band-pigeonhole candidate join. Bounded at
    C(n_fp, 2) at ANY corpus size: the 16-bit fingerprint domain caps
    n_fp at 65536 regardless of row count."""
    # pigeonhole bands over DISTINCT fingerprints: hamming<=2 with 4 bands
    # of 4 bits ⇒ at least one band equal. Single-parse selectExpr forms
    # (round 10, the r6 fusion playbook): the previous per-bit Column
    # chain (16 when/otherwise + 4 struct literals, each an eagerly
    # analyzed API call) was ~0.3-0.6s of pure construction per build —
    # q39b showed fn() ≈ exec in the round-10 profile split.
    banded = fpg.selectExpr(
        "f",
        "explode(transform(sequence(0, 3), b -> "
        "struct(CAST(b AS INT) AS band, substring(f, 1 + 4*b, 4) AS val))) AS e",
    ).selectExpr("f", "e.band AS band", "e.val AS val")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = " + ".join(
        f"IF(substring(fa, {j}, 1) <> substring(fb, {j}, 1), 1, 0)"
        for j in range(1, 17)
    )
    return (
        a.join(b, F.expr("a.band = b.band AND a.val = b.val AND a.f < b.f"))
        .selectExpr("a.f AS fa", "b.f AS fb")
        .distinct()
        .selectExpr("fa", "fb", f"CAST({hamming} AS INT) AS hamming")
        .where(f"hamming <= {_HAMMING_T}")
    )



_HAMMING_T = 2

@register(
    "q39_simhash_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    votes AS (
      SELECT doc_id, j,
             SUM(strpos('0123456789abcdef', substr(md5(w), j, 1)) - 1 - 7.5) AS v
      FROM tok, unnest(generate_series(1, 16)) AS p(j)
      GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id,
             string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS f
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(({" + ".join(f"CASE WHEN substr(a.f,{j},1) <> substr(b.f,{j},1) THEN 1 ELSE 0 END" for j in range(1, 17))}) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE ({" + ".join(f"CASE WHEN substr(a.f,{j},1) <> substr(b.f,{j},1) THEN 1 ELSE 0 END" for j in range(1, 17))}) <= {_HAMMING_T}
    """,
    doc=f"simhash near-dup pairs (hamming <= {_HAMMING_T}) via band-pigeonhole candidate join",
    tags=("dedup", "simhash", "join"),
    # exploded dup² output: the 10x replica's 90% dup rate makes the
    # OUTPUT 522.8M rows by declared semantics — q39b is the bounded
    # contract; this derived view is excluded from the 10x sweep point
    scale_demo=True,
)
def q39_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINGERPRINT-collapsed pair generation (the q21 exact-collapse idea
    taken further: collapse on the similarity key itself). A 16-bit
    simhash has <= 65536 distinct values — 807 occur at sf0.1, and the
    count is a property of the fingerprint space, NOT the corpus size.
    The doc-level band self-join (previous form) degenerated because a
    4-bit band has only 16 buckets corpus-wide: candidate rows grew
    ~quadratically in docs and a .distinct() shuffled them all (measured
    9.3s -> 749s from sf0.1 to the 10x replica, ratio 80x). Pairing
    DISTINCT fingerprints instead bounds the band join + hamming check at
    C(n_fp, 2) forever; doc pairs materialize as a pure explode of group
    products straight into the sink — no distinct, no post-expansion
    shuffle. Same-fingerprint groups expand as hamming-0 pairs. A 64-bit
    simhash at 100 TB keeps the same shape with wider bands (16-bit bands
    -> 65k buckets) over the distinct-fp table.

    OUTPUT CONTRACT CAVEAT: the exploded per-doc-pair rows are O(dup²) —
    on a dense corpus the OUTPUT dominates the plan (522.8M pairs at the
    10x replica). ``q39b_simhash_groups`` is the bounded contract (one
    row per fingerprint pair + member arrays) that scales to any corpus;
    this exploded form is its derived view."""
    from feature_store_test_spark.operators.dedup import ordered_pair_structs

    fpg = _simhash_fp_groups(spark, sf_dir)
    fp_pairs = _simhash_fp_pairs(fpg)
    ga = fpg.select(F.col("f").alias("fa"), F.col("ids").alias("__ids_a"))
    gb = fpg.select(F.col("f").alias("fb"), F.col("ids").alias("__ids_b"))
    cross = (
        fp_pairs.join(ga, "fa")
        .join(gb, "fb")
        .select("hamming", F.explode("__ids_a").alias("__x"), "__ids_b")
        .select("hamming", "__x", F.explode("__ids_b").alias("__y"))
        .select(
            F.least("__x", "__y").alias("id_a"),
            F.greatest("__x", "__y").alias("id_b"),
            "hamming",
        )
    )
    within = (
        fpg.where(F.size("ids") >= 2)
        .select(F.explode(ordered_pair_structs(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Q39b — the BOUNDED simhash near-dup contract: one row per fingerprint
# pair (plus one per multi-member fingerprint), carrying the member-id
# arrays and the implied doc-pair count. Same information as q39's
# exploded rows, but the output is O(n_fp²) ≤ C(65536, 2) at ANY corpus
# size instead of O(dup²) — at the 10x replica q39 emits 522.8M rows
# where this form emits ~3k. The exploded view stays available as q39
# (one explode away); downstream dedup keep/drop decisions only need the
# group arrays anyway.
# ---------------------------------------------------------------------------
_Q39_FP_CTE = f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    votes AS (
      SELECT doc_id, j,
             SUM(strpos('0123456789abcdef', substr(md5(w), j, 1)) - 1 - 7.5) AS v
      FROM tok, unnest(generate_series(1, 16)) AS p(j)
      GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id,
             string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS f
      FROM votes GROUP BY doc_id
    ),
    fpg AS (
      SELECT f, array_agg(doc_id ORDER BY doc_id) AS ids, COUNT(*) AS n
      FROM fp GROUP BY f
    )
"""

_Q39_HAMMING = " + ".join(
    f"CASE WHEN substr(a.f,{j},1) <> substr(b.f,{j},1) THEN 1 ELSE 0 END"
    for j in range(1, 17)
)


@register(
    "q39b_simhash_groups",
    oracle=f"""
    {_Q39_FP_CTE}
    SELECT a.f AS fp_a, b.f AS fp_b,
           CAST(({_Q39_HAMMING}) AS INT) AS hamming,
           array_to_string(a.ids, ',') AS ids_a,
           array_to_string(b.ids, ',') AS ids_b,
           CAST(a.n * b.n AS BIGINT) AS n_pairs
    FROM fpg a JOIN fpg b ON a.f < b.f
    WHERE ({_Q39_HAMMING}) <= {_HAMMING_T}
    UNION ALL
    SELECT f, f, 0, array_to_string(ids, ','), array_to_string(ids, ','),
           CAST(n * (n - 1) // 2 AS BIGINT)
    FROM fpg WHERE n >= 2
    """,
    doc=f"bounded simhash near-dup contract: fingerprint pairs (hamming <= {_HAMMING_T}) + member-id lists",
    tags=("dedup", "simhash", "join"),
)
def q39b_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped (bounded-output) form of q39 — see the block comment above.
    Cross-fingerprint rows pair distinct fingerprints within hamming
    <= 2; same-fingerprint rows (fp_a = fp_b, hamming 0) list groups
    with >= 2 members. ``n_pairs`` is the doc-pair count the exploded
    view would emit for the row (n_a·n_b across groups, C(n, 2) within),
    so Σ n_pairs audits the exploded cardinality without materializing
    it. Member ids are emitted as comma-joined STRINGS (sorted
    ascending), not arrays: the correctness harness canonicalizes
    results through a pandas sort, which cannot hash container cells —
    oracle-checked outputs must stay scalar-typed (see
    tests/test_oracle_dtypes.py)."""
    fpg = _simhash_fp_groups(spark, sf_dir)
    fp_pairs = _simhash_fp_pairs(fpg)
    ga = fpg.selectExpr("f AS fa", "ids AS ids_a")
    gb = fpg.selectExpr("f AS fb", "ids AS ids_b")
    cross = (
        fp_pairs.join(ga, "fa")
        .join(gb, "fb")
        .selectExpr(
            "fa AS fp_a",
            "fb AS fp_b",
            "hamming",
            "array_join(CAST(ids_a AS array<string>), ',') AS ids_a",
            "array_join(CAST(ids_b AS array<string>), ',') AS ids_b",
            "CAST(size(ids_a) AS BIGINT) * size(ids_b) AS n_pairs",
        )
    )
    within = fpg.where(F.size("ids") >= 2).selectExpr(
        "f AS fp_a",
        "f AS fp_b",
        "CAST(0 AS INT) AS hamming",
        "array_join(CAST(ids AS array<string>), ',') AS ids_a",
        "array_join(CAST(ids AS array<string>), ',') AS ids_b",
        "CAST(CAST(size(ids) AS BIGINT) * (CAST(size(ids) AS BIGINT) - 1)"
        " / 2 AS BIGINT) AS n_pairs",
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Q66 — rolling-window shingle containment: every 8-token window of every
# document is fingerprinted (the rolling-hash dedup primitive — Rabin-Karp
# style positions, md5 for cross-engine-stable digests); documents sharing
# >= 2 window fingerprints are containment/overlap candidates. This catches
# copied *passages* that whole-document fingerprints (q27) and bag-of-
# shingle Jaccard (q21) both dilute.
# Scale: shingle explosion is ~n_tokens rows/doc but only 16-byte digests
# shuffle; the self-join runs on the digest key (uniformly distributed — no
# skew), and the >= 2 filter keeps the output sparse.
# ---------------------------------------------------------------------------
@register(
    "q66_shingle_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
      FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_shingles
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
    doc="rolling 8-token shingle fingerprints -> passage-overlap candidate pairs",
    tags=("dedup", "text", "join"),
)
def q66_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-collapsed like q21/q102: the window-fingerprint explode and
    the digest self-join run once per DISTINCT text; cross-group pairs
    inherit the rep pair's shared-window count, within-group pairs (exact
    duplicates) share ALL of their distinct windows — both pure functions
    of the two texts, expanded through the dup-group map."""
    from feature_store_test_spark.operators.dedup import ordered_pair_structs

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 8
    )
    groups = (
        t.select("doc_id", F.xxhash64("t").alias("__fp"))
        .groupBy("__fp")
        .agg(
            F.min("doc_id").alias("__rep"),
            F.array_sort(F.collect_set("doc_id")).alias("__ids"),
        )
    )
    reps = t.join(groups.select(F.col("__rep").alias("doc_id")), "doc_id", "left_semi")
    sh = reps.select(
        "doc_id",
        F.explode(
            # ||-concat of the 8 (0-based) window elements — identical
            # bytes to array_join(slice(...)), no per-window sub-array
            # (see operators/dedup.shingle_array)
            F.expr(
                "transform(sequence(0, size(t) - 8), i -> md5("
                + " || ' ' || ".join(f"t[i + {j}]" for j in range(8))
                + "))"
            )
        ).alias("h"),
    ).distinct()
    # Pair generation, cost-gated (round 11, r10 verdict item 5): above
    # ~2 MB of input text the digest PRE-COLLAPSE — group doc ids per
    # shared window digest, explode ordered pairs — beats the two-sided
    # self-join (x10 replica: min 2.55 -> 1.73 interleaved; ONE shuffle
    # of sh plus a pair explode instead of two shuffles + a per-partition
    # hash build of the whole digest table, and the size(ids)>=2 filter
    # kills unshared digests before any pair row exists). Below the
    # crossover the object-agg collect costs more than the join probe
    # (x1: 0.82 -> 1.17), so the fixture-scale form keeps the join. The
    # gate is a driver-side file stat — the 100 TB path always collapses.
    from feature_store_test_spark.data import _table_bytes

    if _table_bytes(f"{sf_dir}/documents.parquet") >= 2 * 1024 * 1024:
        per_h = (
            sh.groupBy("h")
            .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
            .where(F.size("ids") >= 2)
        )
        rep_pairs = (
            per_h.select(F.explode(ordered_pair_structs(F.col("ids"))).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared_shingles"))
            .where(F.col("shared_shingles") >= 2)
        )
    else:
        a = sh.select(F.col("doc_id").alias("id_a"), "h")
        b = sh.select(F.col("doc_id").alias("id_b"), "h")
        rep_pairs = (
            a.join(b, "h")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_shingles"))
            .where(F.col("shared_shingles") >= 2)
        )
    ga = groups.select(F.col("__rep").alias("id_a"), F.col("__ids").alias("__ids_a"))
    gb = groups.select(F.col("__rep").alias("id_b"), F.col("__ids").alias("__ids_b"))
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select("shared_shingles", F.explode("__ids_a").alias("__x"), "__ids_b")
        .select("shared_shingles", "__x", F.explode("__ids_b").alias("__y"))
        .select(
            F.least("__x", "__y").alias("id_a"),
            F.greatest("__x", "__y").alias("id_b"),
            "shared_shingles",
        )
    )
    # within an exact-dup group every pair shares ALL distinct windows of
    # the text; the >= 2 filter applies to that count like any pair
    wc = sh.groupBy(F.col("doc_id").alias("__rep")).agg(
        F.count(F.lit(1)).alias("__n_windows")
    )
    within = (
        groups.where(F.size("__ids") >= 2)
        .join(wc, "__rep")
        .where(F.col("__n_windows") >= 2)
        .select(
            F.col("__n_windows").alias("shared_shingles"),
            F.explode(ordered_pair_structs(F.col("__ids"))).alias("p"),
        )
        .select("p.id_a", "p.id_b", F.col("shared_shingles").cast("long").alias("shared_shingles"))
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Q84 — dedup GROUPS, not pairs: connected components over the similarity
# graph (edges = docs sharing a head-5-word OR tail-5-word fingerprint;
# chains A~B~C collapse into one family even when A and C share nothing).
# Spark runs iterative min-label propagation (operators/graph.py,
# O(diameter) shuffled rounds, lineage-truncated); the oracle replays the
# same fixpoint with a recursive CTE — different algorithm, same unique
# answer, which is the point: the component labeling is engine-invariant.
# Scale: the pair joins are fingerprint-bucketed (never all-pairs); the
# propagation shuffles (node,label) pairs only. Canonical doc per family =
# the component id itself (min doc_id), giving the keep/drop decision.
# ---------------------------------------------------------------------------
@register(
    "q84_dedup_components",
    oracle="""
    WITH RECURSIVE
    fp AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS head_fp,
             md5(array_to_string(string_split(text, ' ')[-5:], ' ')) AS tail_fp
      FROM documents
    ),
    heads AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM fp a JOIN fp b ON a.head_fp = b.head_fp AND a.doc_id < b.doc_id
    ),
    tails AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM fp a JOIN fp b ON a.tail_fp = b.tail_fp AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT * FROM heads UNION SELECT * FROM tails),
    und AS (SELECT s, d FROM edges UNION SELECT d AS s, s AS d FROM edges),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, u.d FROM reach r JOIN und u ON r.dst = u.s
    )
    SELECT src AS doc_id, MIN(dst) AS component FROM reach
    GROUP BY src
    ORDER BY doc_id
    """,
    doc="near-dup families via connected components (head/tail fingerprint edges)",
    tags=("dedup", "graph", "iterative"),
)
def q84_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.graph import connected_components

    docs = load_table(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    fp = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(words, 1, 5))).alias("head_fp"),
        F.md5(F.concat_ws(" ", F.slice(words, -5, 5))).alias("tail_fp"),
    )
    # STAR edges, not clique edges: docs sharing a fingerprint all
    # connect through the fingerprint's MIN doc id (the hub) instead of
    # pairwise — identical connectivity (any two sharers reach each
    # other via the hub), so identical components and identical min-id
    # labels, but the edge list is LINEAR in (doc, fingerprint) rows
    # where the pairwise self-join was quadratic per fingerprint group
    # (a crawl-shaped corpus with thousands of copies of one boilerplate
    # head would explode the clique form; the 10x replica's 3.1x wall
    # growth was exactly this).
    fp_long = fp.selectExpr(
        "doc_id", "explode(array(head_fp, tail_fp)) AS f"
    )
    hubs = fp_long.groupBy("f").agg(F.min("doc_id").alias("s"))
    edges = (
        fp_long.join(hubs, "f")
        .where(F.col("doc_id") != F.col("s"))
        .select("s", F.col("doc_id").alias("d"))
        .distinct()
    )
    cc = connected_components(edges, "s", "d")
    return (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q110 — incremental ingest dedup: a new batch (source 'src9') is admitted
# only where (a) its full-content fingerprint does not already exist in the
# ingested corpus (src0..src8) — a LEFT ANTI join on the md5 key — and
# (b) it is the first occurrence of that fingerprint *within* the batch
# (keep-min survivor rule). This is the steady-state shape of corpus
# building: never shuffle the existing corpus bodies, only fingerprints.
# Scale: executed as ONE scan + ONE fingerprint-keyed aggregation (the
# anti join folds into conditional aggregates); the shuffle carries
# (fp, small ints) with map-side partial collapse — at a 100 TB corpus
# that is the distinct-fingerprint set, ~3% of the data.
# ---------------------------------------------------------------------------
@register(
    "q110_incremental_dedup",
    oracle="""
    WITH batch AS (
      SELECT doc_id, md5(text) AS fp, n_chars
      FROM documents WHERE source = 'src9'
    ),
    corpus AS (
      SELECT DISTINCT md5(text) AS fp
      FROM documents WHERE source <> 'src9'
    ),
    fresh AS (
      SELECT b.doc_id, b.fp, b.n_chars FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    )
    SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS batch_copies,
           MIN(n_chars) AS n_chars
    FROM fresh GROUP BY fp
    """,
    doc="incremental batch-vs-corpus dedup (anti join on fingerprints + keep-first)",
    tags=("dedup", "anti-join", "incremental"),
)
def q110_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused single-pass form of batch-vs-corpus dedup: ONE scan of
    # documents, fingerprint computed once per row, ONE hash shuffle of
    # (fp, flags) — the anti join is folded into the same aggregation as
    # conditional aggregates ("seen in corpus" = bool_or over non-batch
    # rows), so there is no second scan and no join stage at all. The
    # shuffle still carries fingerprints + small ints only (never bodies),
    # and map-side partial aggregation collapses duplicate fingerprints
    # before the exchange — at a 100 TB corpus this moves exactly the
    # distinct-fingerprint set per partition, the same volume the
    # two-scan anti-join form shuffled, minus one full corpus re-scan.
    # plain loader, NOT load_table_spread: the spread round-robins full
    # document bodies to parallelize heavy per-text work (the shingle
    # pipelines need it), but this plan's only per-text work is one md5 —
    # A/B-measured 0.12s vs 0.20s at sf0.1 without the body shuffle, and
    # "never shuffle bodies" is this query's own declared contract.
    from feature_store_test_spark.data import load_table as _plain

    docs = _plain(spark, "documents", sf_dir)
    is_batch = F.col("source") == "src9"
    return (
        docs.select(
            Tx.fingerprint("text").alias("fp"), is_batch.alias("__b"),
            "doc_id", "n_chars",
        )
        .groupBy("fp")
        .agg(
            F.min(F.when(F.col("__b"), F.col("doc_id"))).alias("keep_doc_id"),
            F.count_if(F.col("__b")).alias("batch_copies"),
            F.min(F.when(F.col("__b"), F.col("n_chars"))).alias("n_chars"),
            F.bool_or(~F.col("__b")).alias("__in_corpus"),
        )
        .where((F.col("batch_copies") > 0) & ~F.col("__in_corpus"))
        .drop("__in_corpus")
    )


# ---------------------------------------------------------------------------
# Q111 — sketch quality audit: for every LSH candidate pair, the MinHash
# *estimate* of Jaccard (fraction of the k=8 signature slots that agree)
# next to the exact shingle Jaccard, with the absolute error. This is the
# measurement loop that justifies (k, bands) choices before a 100 TB run:
# the estimate is computable from signatures alone (k numbers per doc),
# the exact value only for the candidate subset, so auditing stays linear.
# ---------------------------------------------------------------------------
@register(
    "q111_minhash_estimate_quality",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM words, unnest(generate_series(1, len(w) - 2)) AS g(i)
    ),
    hashed AS (SELECT doc_id, md5(shingle) AS h FROM shingles),
    hashes AS (
      -- k-hash family = one md5, member s = the 15-hex window of the
      -- digest at offset s * (32//k), wrapping via self-concat (must stay
      -- in lockstep with operators/dedup.py minhash_signatures_digests)
      SELECT doc_id, seed,
             MIN(substr(h || h, {32 // _MINHASH_K} * seed + 1, 15)) AS minhash
      FROM hashed, unnest(generate_series(0, {_MINHASH_K - 1})) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // {_MINHASH_K // _MINHASH_BANDS} AS INT) AS band,
             md5(string_agg(minhash, '' ORDER BY seed)) AS bucket
      FROM hashes GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) AS DOUBLE)
               / {_MINHASH_K} AS est_jaccard
      FROM cands c
      JOIN hashes ha ON ha.doc_id = c.id_a
      JOIN hashes hb ON hb.doc_id = c.id_b AND hb.seed = ha.seed
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.id_a
      JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT c.id_a, c.id_b,
             CAST(COALESCE(i.i, 0) AS DOUBLE)
               / (za.sz + zb.sz - COALESCE(i.i, 0)) AS jaccard
      FROM cands c
      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes za ON za.doc_id = c.id_a
      JOIN sizes zb ON zb.doc_id = c.id_b
    )
    SELECT e.id_a, e.id_b,
           ROUND(e.est_jaccard, 6) AS est_jaccard,
           ROUND(x.jaccard, 6) AS exact_jaccard,
           ROUND(ABS(e.est_jaccard - x.jaccard), 6) AS abs_err
    FROM est e JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
    """,
    doc="MinHash Jaccard estimate vs exact on LSH candidates (sketch audit)",
    tags=("dedup", "minhash", "quality"),
)
def q111_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    k = _MINHASH_K
    # ARRAY form (operators/dedup.py module docstring): one docs-sized
    # table carries both the shingle set and the k signature columns, and
    # feeds every consumer (banding, both estimate sides, both exact
    # sides). Estimate = signature-slot agreement; exact = array_intersect
    # inside the joined pair row. Zero shingle-level shuffles.
    # UNPERSISTED (round 7, same A/B discipline as q21's cache flip): the
    # signature projection is scan-side digest math, and recomputing it
    # per consumer beat materializing docs-sized caches at both measured
    # scales (sf0.1 0.41→0.24, x10 0.72→0.30, interleaved min-of-7,
    # identical results incl. the collapse path) — and the persist-free
    # plan is cache-binding-free, so prepared-plan re-execution applies.
    from feature_store_test_spark.operators.dedup import has_duplicate_sets

    # ADAPTIVE exact-collapse (operators/dedup.py minhash_near_dups): the
    # audit runs on distinct shingle-sets only; within-group pairs are
    # exactly (est=1, exact=1, err=0) and cross-group rows are pure
    # functions of the two sets, so expansion through the group map is
    # exact. Cost-based like minhash_near_dups: below the duplication
    # threshold the direct pipeline (identical rows, ~10 fewer stage-jobs)
    # wins; dup docs it still meets produce their (1, 1, 0) rows through
    # the ordinary candidate path.
    # FUSED digest pipeline (operators/dedup.shingle_digest_array): md5
    # evaluated inside the shingle transform; the distinct digest arrays
    # feed the signature windows AND the exact-Jaccard intersection —
    # digest-set intersection == shingle-set intersection up to a 128-bit
    # collision inside one pair's union, the same (stronger) trade as the
    # xxhash64 fingerprints this used before. Signature bits unchanged:
    # the oracle's `hashed` CTE computes exactly md5(shingle).
    arr0 = shingle_digest_array(docs, "doc_id", "text", n=3)
    collapse = has_duplicate_sets(arr0, "doc_id", "hs", min_frac=0.05)
    if collapse:
        groups, reps = exact_collapse(arr0, "doc_id", "hs")
        base = reps
    else:
        base = arr0
    sigs = minhash_signatures_digests(base, "doc_id", "hs", k=k, keep_cols=["hs"])
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=k, bands=_MINHASH_BANDS)
    # single-parse projections (round-6 construction shave: each
    # DataFrame op re-analyzes the whole accumulated tree JVM-side, and
    # this tail was ~55% of q111's per-construction cost)
    sa = sigs.selectExpr(
        "doc_id AS id_a",
        "hs AS arr_a",
        *[f"mh{j} AS a{j}" for j in range(k)],
    )
    sb = sigs.selectExpr(
        "doc_id AS id_b",
        "hs AS arr_b",
        *[f"mh{j} AS b{j}" for j in range(k)],
    )
    # est/exact both UNrounded inside the round() calls (rounding inputs
    # earlier would bias abs_err at rounding boundaries); array_intersect
    # yields 0 for disjoint pairs, matching the oracle's LEFT JOIN +
    # COALESCE. One fused SQL projection — the est/exact subexpressions
    # repeat textually, which costs re-evaluation only on the tiny
    # candidate-pair rows and saves a whole-tree analysis pass.
    agree = " + ".join(
        # IF(): null-safe to 0 like the old when/otherwise form (inner
        # joins make nulls impossible here, but don't rely on it)
        f"IF(a{j} = b{j}, 1, 0)" for j in range(k)
    )
    exact = (
        "CAST(size(array_intersect(arr_a, arr_b)) AS DOUBLE) / "
        "CAST(size(arr_a) + size(arr_b) "
        "- size(array_intersect(arr_a, arr_b)) AS DOUBLE)"
    )
    est = f"(CAST({agree} AS DOUBLE) / {k})"
    rep_out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            f"round({est}, 6) AS est_jaccard",
            f"round({exact}, 6) AS exact_jaccard",
            f"round(abs({est} - {exact}), 6) AS abs_err",
        )
    )
    if not collapse:
        return rep_out
    cross = expand_rep_pairs(
        rep_out, groups, ["est_jaccard", "exact_jaccard", "abs_err"]
    )
    within = within_group_pairs(
        groups,
        sigs.select("doc_id"),
        "doc_id",
        {
            "est_jaccard": F.lit(1.0),
            "exact_jaccard": F.lit(1.0),
            "abs_err": F.lit(0.0),
        },
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Q126 — C4-style SPAN dedup with document reassembly: every non-
# overlapping 10-token span is globally deduplicated (first occurrence in
# (doc_id, span_idx) order survives, all later repeats are REMOVED from
# their documents), and each document is rebuilt from its surviving spans
# in order — the "discard any repeated span" pass C4 runs over three-
# sentence windows, on fixed-width windows since the fixture text has no
# sentence delimiters. Differs from q19/q20/q110 (whole-doc dedup): here
# documents SHRINK rather than drop.
# Scale: span rows shuffle twice — once on the span value for the global
# keep-first window (uniformly distributed; pathological repeated spans
# are exactly what AQE skew-split handles), once on doc_id for the
# reassembly — and each row carries one 10-token span, never whole
# documents.
# ---------------------------------------------------------------------------
@register(
    "q126_span_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sp AS (
      SELECT doc_id, g.i AS span_idx,
             array_to_string(t[g.i * 10 + 1 : g.i * 10 + 10], ' ') AS span
      FROM t, unnest(generate_series(0, (len(t) - 1) // 10)) AS g(i)
    ),
    rk AS (
      SELECT doc_id, span_idx, span,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
      FROM sp
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_spans,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx),
                    '') AS text_dedup
    FROM rk GROUP BY doc_id
    """,
    doc="C4-style global span dedup (keep first 10-token span occurrence) + doc reassembly",
    tags=("dedup", "text", "window", "pipeline"),
)
def q126_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    spans = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size("t") - 1) / F.lit(10)).cast("int")
                ),
                lambda i: F.array_join(F.slice("t", i * 10 + 1, 10), " "),
            )
        ).alias("span_idx", "span"),
    )
    # global keep-first: first occurrence in (doc_id, span_idx) total order
    w = Window.partitionBy("span").orderBy("doc_id", "span_idx")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("span_idx"), F.col("span"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["span"]
            ),
            " ",
        ).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Q149 — normalize-then-dedup (the C4/RefinedWeb canonicalization pass):
# lowercase, strip non-alphanumerics, collapse whitespace, THEN fingerprint —
# catches the near-duplicates exact dedup misses (case/punctuation/spacing
# variants of the same document). Reports, per source, how many extra
# duplicate docs normalization exposes over raw fingerprinting.
# Scale: two md5 fingerprints per doc in one scan projection; the per-source
# aggregation shuffles 16-byte digests only (the q102/q128 discipline —
# never whole documents). The normalization expression is shared SQL text:
# Spark's regexp_replace replaces all matches by default, DuckDB's needs
# the 'g' flag — both spelled out so the engines agree byte-for-byte.
# ---------------------------------------------------------------------------
@register(
    "q149_normalized_dedup",
    oracle="""
    WITH canon AS (
      SELECT source,
             md5(text) AS raw_fp,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g'))) AS norm_fp
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT raw_fp) AS n_exact_distinct,
           COUNT(DISTINCT norm_fp) AS n_norm_distinct,
           CAST(COUNT(DISTINCT raw_fp) - COUNT(DISTINCT norm_fp) AS BIGINT)
             AS extra_dups_caught
    FROM canon
    GROUP BY source
    """,
    doc="normalize-then-dedup: canonicalized fingerprints vs raw, per source",
    tags=("dedup", "text", "curation", "agg"),
)
def q149_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.data import load_table as _plain

    docs = _plain(spark, "documents", sf_dir)  # one-md5-per-row work: plain loader
    canon = docs.selectExpr(
        "source",
        "md5(text) AS raw_fp",
        "md5(trim(regexp_replace(regexp_replace(lower(text),"
        " '[^a-z0-9 ]', ' '), '  +', ' '))) AS norm_fp",
    )
    return canon.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("raw_fp").alias("n_exact_distinct"),
        F.countDistinct("norm_fp").alias("n_norm_distinct"),
        (F.countDistinct("raw_fp") - F.countDistinct("norm_fp"))
        .cast("bigint")
        .alias("extra_dups_caught"),
    )


# ---------------------------------------------------------------------------
# Q152 — variable-length MAX-SPAN exact substring dedup (the suffix-window
# generalization of q126; VERDICT r6 item 4). Production analog: the
# exact-substring pass of Lee et al. 2021 / RefinedWeb, which removes the
# LONGEST duplicated span, not fixed windows. Bucketed formulation:
# - anchor: every SLIDING (stride-1) W-token window, fingerprinted md5 —
#   a duplicated substring of any length >= W is exactly a maximal run of
#   duplicated anchors, so variable-length spans reduce to fixed-width
#   anchor coverage (this is the suffix-window trick: no suffix array,
#   no all-pairs);
# - keep-first: the globally first occurrence of each anchor (total
#   (doc_id, pos) order) is not a duplicate; later occurrences mark their
#   W tokens as covered;
# - island merge: per doc, covered positions p_i sorted; a new maximal
#   run starts when p_i > p_{i-1} + W (coverage intervals of equal width
#   W union exactly there); run length = last - first + W.
# Output per doc: anchor/coverage/run statistics (docs shorter than W
# report zeros). Scale: anchor rows = one per token; only (doc_id, pos,
# 16-byte digest) ever shuffles — once on the digest for the global
# keep-first window, once on doc_id for the island merge. The md5-anchor
# equality is the same 128-bit collision trade documented for q102/q110.
# ---------------------------------------------------------------------------
_SPAN_W = 10


@register(
    "q152_max_span_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    anchors AS (
      SELECT doc_id, g.i AS pos,
             md5(array_to_string(t[g.i + 1 : g.i + {_SPAN_W}], ' ')) AS fp
      FROM t, unnest(generate_series(0, len(t) - {_SPAN_W})) AS g(i)
      WHERE len(t) >= {_SPAN_W}
    ),
    covered AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
            FROM anchors)
      WHERE rn > 1
    ),
    runs AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos > prev + {_SPAN_W} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      FROM (SELECT doc_id, pos,
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM covered)
    ),
    run_stats AS (
      SELECT doc_id, run_id,
             MAX(pos) - MIN(pos) + {_SPAN_W} AS run_len
      FROM runs GROUP BY doc_id, run_id
    ),
    doc_stats AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INT) AS n_dup_runs,
             CAST(SUM(run_len) AS INT) AS n_covered_tokens,
             CAST(MAX(run_len) AS INT) AS max_run_len
      FROM run_stats GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
           COALESCE(s.n_dup_runs, 0) AS n_dup_runs,
           COALESCE(s.n_covered_tokens, 0) AS n_covered_tokens,
           COALESCE(s.max_run_len, 0) AS max_run_len
    FROM documents d LEFT JOIN doc_stats s USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc="variable-length max-span substring dedup (sliding anchors + island merge)",
    tags=("dedup", "text", "window", "pipeline"),
)
def q152_max_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    W = _SPAN_W
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    anchors = t.where(F.size("t") >= W).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - W),
                lambda i: F.md5(F.array_join(F.slice("t", i + 1, W), " ")),
            )
        ).alias("pos", "fp"),
    )
    wk = Window.partitionBy("fp").orderBy("doc_id", "pos")
    covered = (
        anchors.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") > 1)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    runs = covered.withColumn("prev", F.lag("pos").over(wd)).withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + W), 1
            ).otherwise(0)
        ).over(wd),
    )
    run_stats = runs.groupBy("doc_id", "run_id").agg(
        (F.max("pos") - F.min("pos") + W).alias("run_len")
    )
    doc_stats = run_stats.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_dup_runs"),
        F.sum("run_len").cast("int").alias("n_covered_tokens"),
        F.max("run_len").cast("int").alias("max_run_len"),
    )
    return (
        # reuse the token arrays already projected above — a second
        # split(text) here would re-run the regex split over the whole
        # corpus (code-review r7); t is built BEFORE the >= W filter, so
        # every doc is present
        t.select("doc_id", F.size("t").cast("int").alias("n_tokens"))
        .join(doc_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_runs", F.lit(0)).alias("n_dup_runs"),
            F.coalesce("n_covered_tokens", F.lit(0)).alias("n_covered_tokens"),
            F.coalesce("max_run_len", F.lit(0)).alias("max_run_len"),
        )
        # no trailing presentation sort: per-document output grows with the
        # corpus, and a repartition(1) here is one task holding every doc's
        # stats at 100 TB (q106/q88 precedent; the harness sorts rows
        # itself before hashing)
    )
