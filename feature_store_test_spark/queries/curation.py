"""Corpus-curation / data-governance queries over ``documents``.

The pre-training curation steps that sit between raw crawl and dedup:
PII detection/redaction, provenance (URL/domain) accounting, and
cross-source contamination audits. All JVM-side column expressions
(regexp / hash / join) with exact DuckDB oracles — the regex subset used
(literal classes, ``\\d``, bounded repetition) behaves identically under
Java regex (Spark) and RE2 (DuckDB).

The fixture corpus has no real PII or URLs, so q127/q128 synthesize
deterministic payloads from ``doc_id`` (the q118 audio-codec pattern:
closed-form content both engines construct identically) — the operators
under test are the regex scan, the multi-pattern redaction pipeline, and
the provenance aggregation, not the fixture's content.

Scale notes: q127 is a pure scan (zero shuffles — regex runs inside
whole-stage codegen); q128 is scan + one agg shuffle on the derived
domain key; q129 shuffles only 16-byte fingerprints (never document
bodies) and joins per-source DISTINCT fingerprints, so the pair blowup
is bounded by shared-content volume, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table_spread as load_table
from feature_store_test_spark.registry import register

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+\d-\d{3}-\d{4}"


def _pii_text() -> F.Column:
    """Deterministic PII-bearing text: the doc body plus one synthetic
    email and one synthetic phone derived from doc_id."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


# ---------------------------------------------------------------------------
# Q127 — PII detection + redaction: count email/phone matches per doc and
# emit the fingerprint of the fully-redacted text. The real-pipeline form
# writes the redacted column; the fingerprint proves byte-identical
# redaction output across engines without shipping the bodies through the
# comparator.
# ---------------------------------------------------------------------------
@register(
    "q127_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all({_PII_TEXT_SQL}, '{_EMAIL_RE}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all({_PII_TEXT_SQL}, '{_PHONE_RE}')) AS INT)
             AS n_phones,
           md5(regexp_replace(regexp_replace({_PII_TEXT_SQL},
                 '{_EMAIL_RE}', '[EMAIL]', 'g'),
                 '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
    FROM documents
    """,
    doc="PII scan + multi-pattern redaction with cross-engine-identical output fingerprint",
    tags=("curation", "text", "regex"),
)
def q127_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    body = _pii_text()
    redacted = F.regexp_replace(
        F.regexp_replace(body, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(body, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


# ---------------------------------------------------------------------------
# Q128 — provenance accounting: synthesize each doc's crawl URL (closed
# form of doc_id/source), parse out the registered domain, aggregate
# per-domain corpus statistics. The domain extraction is the operator
# under test — one regexp_extract group identical in both engines.
# ---------------------------------------------------------------------------
_URL_SQL = (
    "'https://' || source || CAST(doc_id % 7 AS VARCHAR) || '.example.' || "
    "CASE WHEN lang = 'en' THEN 'com' ELSE 'org' END || "
    "'/doc/' || CAST(doc_id AS VARCHAR)"
)
_DOMAIN_RE = r"https://([^/]+)/"


@register(
    "q128_url_domain_stats",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             regexp_extract({_URL_SQL}, '{_DOMAIN_RE}', 1) AS domain
      FROM documents
    )
    SELECT domain,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM u GROUP BY domain
    """,
    doc="crawl-provenance accounting: URL synth -> domain parse -> per-domain stats",
    tags=("curation", "text", "agg"),
)
def q128_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain loader: one regexp_extract per row, no body-spread needed
    # (A/B 0.13s -> 0.11s; q127's heavier multi-regex redaction KEEPS the
    # spread — measured 3x slower without it)
    from feature_store_test_spark.data import load_table as _plain

    docs = _plain(spark, "documents", sf_dir)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example."),
        F.when(F.col("lang") == "en", F.lit("com")).otherwise(F.lit("org")),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
    )
    return (
        docs.select(
            "doc_id", "n_chars", F.regexp_extract(url, _DOMAIN_RE, 1).alias("domain")
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Q129 — cross-source contamination audit: for every source pair, how many
# DISTINCT 5-word head fingerprints they share (the train/test-leakage
# matrix over provenance buckets — q102's decontamination generalized from
# one benchmark to all-pairs-of-sources). Only 16-byte digests shuffle;
# the equi-join on fingerprint is bounded by shared content, and the
# per-source DISTINCT collapse keeps each side at most corpus-distinct
# sized regardless of duplication factor.
# ---------------------------------------------------------------------------
@register(
    "q129_cross_source_contamination",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fp
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_fingerprints
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
    doc="train/test-leakage matrix: shared head-fingerprints per source pair",
    tags=("curation", "dedup", "join"),
)
def q129_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators import text as Tx

    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select(
        "source", Tx.prefix_fingerprint("text", 5).alias("fp")
    ).distinct()
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
    )


# ---------------------------------------------------------------------------
# Q146 — k-anonymity audit over quasi-identifiers: the privacy-governance
# twin of q127's PII redaction. A record is re-identifiable when its
# quasi-identifier equivalence class — here (nation, market segment,
# $1000 account-balance bucket) — holds fewer than k individuals; the
# audit reports every class below k=5 with its size, the standard
# pre-release check before a dataset leaves the curation pipeline.
# Exactness: the balance bucket floors INTEGER cents / 100000.0 — the
# division is correctly rounded in both engines and can only land on an
# integer when cents is an exact multiple, so the floor is bit-safe even
# for negative balances (where integer-division semantics differ between
# engines, the reason this is NOT ticks DIV 100000). Plan: one hash
# aggregation over the QI tuple, a HAVING on the count — linear, one
# shuffle, and the interesting scale behavior is semantic: MORE data
# means FEWER risky classes (the sf0.1 audit returns 29 rows vs 891 at
# sf0.01).
# ---------------------------------------------------------------------------
_KANON = 5


@register(
    "q146_k_anonymity_audit",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                      / 100000.0) AS BIGINT) AS bal_bucket,
           COUNT(*) AS class_size
    FROM customer
    GROUP BY 1, 2, 3
    HAVING COUNT(*) < {_KANON}
    """,
    doc=f"k-anonymity audit: QI classes (nation, segment, $1000 balance bucket) below k={_KANON}",
    tags=("curation", "privacy", "agg"),
)
def q146_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.data import load_table as _plain
    from feature_store_test_spark.functions import dec_ticks_sql

    # plain loader: quasi-identifier bucketing is pure column math
    # (A/B 0.16s -> 0.11s without the spread shuffle)
    cust = _plain(spark, "customer", sf_dir)
    return (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.expr(dec_ticks_sql("c_acctbal", 2)) / F.lit(100000.0))
            .cast("bigint")
            .alias("bal_bucket"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .where(F.col("class_size") < _KANON)
    )


# ---------------------------------------------------------------------------
# Q154 — FUZZY eval-set decontamination (round 8): the GPT-3/Llama-style
# stage that q102's exact 8-gram overlap cannot express — a train document
# that paraphrases or lightly edits an eval document shares few exact
# 8-grams but a high shingle-Jaccard. Pipeline: one MinHash signature pass
# over the WHOLE corpus (the same family q21's dedup already computes —
# in production the two stages share it), LSH band buckets, candidates
# filtered to MIXED membership (eval = doc_id % 97 = 0, the q102
# convention: benchmark membership is id-defined, never content-defined),
# then exact digest-set Jaccard at the looser 0.3 decontamination
# threshold. Scale: only 16-byte digests and (band, bucket) keys shuffle;
# candidate verification joins the tiny pair list back twice (broadcast).
# The oracle replays the identical LSH (window family in lockstep with
# operators/dedup.py), so the hash check covers candidate generation AND
# verification. Output may legitimately be EMPTY at an SF where no
# near-dup pair crosses the eval boundary (sf0.01); sf0.001 and sf0.1
# both contain hits (J >= 0.95 twins).
# ---------------------------------------------------------------------------
_FD_K = 8
_FD_BANDS = 4
_FD_T = 0.3


@register(
    "q154_fuzzy_decontamination",
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
      SELECT doc_id, seed,
             MIN(substr(h || h, {32 // _FD_K} * seed + 1, 15)) AS minhash
      FROM hashed, unnest(generate_series(0, {_FD_K - 1})) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // {_FD_K // _FD_BANDS} AS INT) AS band,
             md5(string_agg(minhash, '' ORDER BY seed)) AS bucket
      FROM hashes GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE (a.doc_id % 97 = 0) <> (b.doc_id % 97 = 0)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.id_a
      JOIN shingles sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT CASE WHEN id_a % 97 = 0 THEN id_b ELSE id_a END AS train_id,
           CASE WHEN id_a % 97 = 0 THEN id_a ELSE id_b END AS eval_id,
           ROUND(CAST(i AS DOUBLE) / (za.sz + zb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = id_a
    JOIN sizes zb ON zb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= {_FD_T}
    """,
    doc="fuzzy eval decontamination: MinHash-LSH train-vs-eval candidates, exact Jaccard >= 0.3",
    tags=("pipeline", "decontamination", "dedup", "minhash", "lsh"),
)
def q154_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.dedup import (
        jaccard_verify_arrays,
        lsh_candidate_pairs,
        minhash_signatures_digests,
        shingle_digest_array,
    )

    docs = load_table(spark, "documents", sf_dir)
    harr = shingle_digest_array(docs, "doc_id", "text", n=3)
    sigs = minhash_signatures_digests(harr, "doc_id", k=_FD_K)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=_FD_K, bands=_FD_BANDS)
    # mixed-membership candidates only: the shared LSH pass yields BOTH
    # dedup pairs (train-train) and contamination pairs (train-eval);
    # this stage consumes the mixed slice. Membership is id-defined, so
    # the filter is a pure predicate on the pair ids.
    mixed = pairs.where("(id_a % 97 = 0) <> (id_b % 97 = 0)")
    ver = jaccard_verify_arrays(
        harr, mixed, "doc_id", arr_col="hs", threshold=_FD_T
    )
    return ver.selectExpr(
        "CASE WHEN id_a % 97 = 0 THEN id_b ELSE id_a END AS train_id",
        "CASE WHEN id_a % 97 = 0 THEN id_a ELSE id_b END AS eval_id",
        "jaccard",
    )
