"""Streaming NEAR-duplicate ingestion — the crawl-ingest shape.

``dedup.dedup_stream`` drops exact re-deliveries of the same key;
real corpus ingestion also has to reject documents that are near-copies
of anything ALREADY ACCEPTED (mirror pages, boilerplate re-crawls).
``NearDupIngest`` runs the MinHash+LSH pipeline incrementally:

* the accepted corpus keeps a persisted SIGNATURE table — per doc, its
  k minhash signature columns (banding) and xxhash64 shingle
  fingerprints (exact verification) — so history is NEVER re-shingled;
  each batch pays signature cost only for its own documents;
* a micro-batch is banded and equi-joined against the stored bands
  (batch side is micro-batch-sized → broadcasts; the stored side is a
  plain parquet scan here and a (band, bucket)-partitioned table at
  scale, where the join prunes to touched buckets);
* batch-internal near-dups resolve keep-first by doc id, so a batch
  containing two copies accepts exactly one;
* verification is exact Jaccard on the fingerprint arrays (the same
  64-bit-collision trade documented in operators/dedup.py).

Same driver contract as streaming/inference.py: ``process_batch`` is
the foreachBatch body (call it from ``writeStream.foreachBatch`` or
directly for backfills); state lives in two commit-free parquet dirs
(swap for store/table.py VersionedParquetTable when time travel over
the corpus matters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_test_spark.data import local_rows_df
from feature_store_test_spark.operators.dedup import (
    jaccard_verify_arrays,
    lsh_candidate_pairs,
    minhash_signatures_arrays,
    shingle_array,
)


class NearDupIngest:
    """Incremental near-dedup: accept novel docs, quarantine near-dups."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        k: int = 8,
        bands: int = 4,
        threshold: float = 0.5,
    ) -> None:
        self.spark = spark
        self.id_col, self.text_col = id_col, text_col
        self.n, self.k, self.bands, self.threshold = n, k, bands, threshold
        self.corpus_path = os.path.join(work_dir, "corpus")
        self.sig_path = os.path.join(work_dir, "signatures")

    # ------------------------------------------------------------- state
    def _have_state(self) -> bool:
        return os.path.isdir(self.sig_path) and any(
            f.endswith(".parquet") for f in os.listdir(self.sig_path)
        )

    def corpus(self) -> DataFrame:
        return self.spark.read.parquet(self.corpus_path)

    def signatures(self) -> DataFrame:
        return self.spark.read.parquet(self.sig_path)

    # ------------------------------------------------------------- batch
    def _sign(self, docs: DataFrame) -> DataFrame:
        """(id, __sh64, mh0..mh{k-1}) for a document frame — one pass.

        Signatures use the xxhash64 family OVER the shingle fingerprints
        (minhash of a fingerprint bijection is a valid minhash family):
        the stored signature table then carries only longs — narrower at
        rest and in every batch join than the md5 string family."""
        arr = shingle_array(docs, self.id_col, self.text_col, n=self.n)
        arr = arr.select(
            self.id_col,
            F.transform("shingles", lambda x: F.xxhash64(x)).alias("__sh64"),
        )
        return minhash_signatures_arrays(
            arr,
            self.id_col,
            arr_col="__sh64",
            k=self.k,
            keep_cols=["__sh64"],
        )

    def process_batch(self, batch: DataFrame) -> DataFrame:
        """Ingest one micro-batch; returns the per-doc decision report
        (id, status 'novel'|'near_dup', matched_id, jaccard).

        Docs too short to shingle (< n words) are accepted as novel —
        they are outside the near-dup universe, mirroring the batch
        pipeline's word-count gate.
        """
        id_c, thr = self.id_col, self.threshold
        sigs = self._sign(batch).cache()
        try:
            return self._process_batch_inner(batch, sigs)
        finally:
            # unpersist on EVERY exit — the duplicate-id guard raises
            # mid-body, and a foreachBatch retry loop re-delivering the
            # bad batch would otherwise leak one pinned cache per attempt
            # (code-review r7)
            sigs.unpersist()

    def _process_batch_inner(self, batch: DataFrame, sigs: DataFrame) -> DataFrame:
        id_c, thr = self.id_col, self.threshold
        sigs.count()  # materialize once; feeds banding + both verify sides

        # candidate pairs: batch-internal (group-expand, like the batch
        # pipeline) plus batch-vs-corpus (band equi-join against stored
        # signatures; batch side broadcasts)
        internal = lsh_candidate_pairs(sigs, id_c, k=self.k, bands=self.bands)
        int_pairs = jaccard_verify_arrays(
            sigs, internal, id_c, arr_col="__sh64", threshold=thr
        )
        if self._have_state():
            stored = self.signatures()
            bb = self._banded(sigs).withColumnRenamed(id_c, "id_new")
            sb = self._banded(stored).withColumnRenamed(id_c, "id_old")
            cands = (
                sb.join(F.broadcast(bb), ["band", "bucket"])
                .select("id_new", "id_old")
                .distinct()
            )
            new_arr = sigs.select(F.col(id_c).alias("id_a"), F.col("__sh64").alias("__arr_a"))
            old_arr = stored.select(F.col(id_c).alias("id_b"), F.col("__sh64").alias("__arr_b"))
            inter = F.size(F.array_intersect("__arr_a", "__arr_b"))
            ratio = inter.cast("double") / (
                F.size("__arr_a") + F.size("__arr_b") - inter
            ).cast("double")
            cross_pairs = (
                cands.select(F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b"))
                .join(F.broadcast(new_arr), "id_a")
                .join(old_arr, "id_b")
                .where(ratio >= thr)
                .select("id_a", "id_b", F.round(ratio, 6).alias("jaccard"))
            )
        else:
            cross_pairs = None

        # best corpus match per batch doc
        best_cross = None
        if cross_pairs is not None:
            # best match = highest jaccard, smallest id on ties. min_by
            # over (-jaccard, id) keeps the tiebreak type-agnostic —
            # negating the id itself would force a numeric cast and
            # break string id_cols.
            best_cross = (
                cross_pairs.groupBy("id_a")
                .agg(F.min_by("id_b", F.struct((-F.col("jaccard")).alias("nj"), F.col("id_b").alias("t"))).alias("matched_id"),
                     F.max("jaccard").alias("jaccard"))
            )

        # batch-internal keep-first: a doc is a dup if it near-matches a
        # SMALLER id in the same batch that is itself accepted. One
        # pass: since near-dup is not transitive-safe in general, use
        # the simple, deterministic crawl rule — dup if it matches ANY
        # smaller batch id (the smallest member of every group
        # survives).
        int_dups = (
            int_pairs.groupBy(F.col("id_b").alias(id_c))
            .agg(F.min("id_a").alias("int_matched"), F.max("jaccard").alias("int_jac"))
        )

        report = batch.select(id_c).join(
            int_dups, id_c, "left"
        )
        if best_cross is not None:
            report = report.join(
                best_cross.withColumnRenamed("id_a", id_c), id_c, "left"
            )
        else:
            id_type = batch.schema[id_c].dataType
            report = report.withColumn("matched_id", F.lit(None).cast(id_type)).withColumn(
                "jaccard", F.lit(None).cast("double")
            )
        report = report.select(
            id_c,
            F.when(F.col("jaccard").isNotNull(), F.lit("near_dup"))
            .when(F.col("int_matched").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce(F.col("matched_id"), F.col("int_matched")).alias("matched_id"),
            F.coalesce(F.col("jaccard"), F.col("int_jac")).alias("jaccard"),
        )
        # SNAPSHOT the decision before mutating state: the report's plan
        # reads the signature store this method is about to append to, and
        # a cache is only a soft barrier — any re-execution after the
        # append would let accepted docs match THEMSELVES. The report is
        # batch-sized by definition, so a driver-side materialization is
        # the correct (and cheap) cut of that lineage.
        rows = report.collect()
        # Duplicate ids within one batch would sail through the internal
        # LSH pass (a pair needs id_a < id_b, so two rows of the SAME id
        # never form a candidate) and ingest twice. The declared pipeline
        # runs dedup_stream (exact key dedup) upstream; enforce that
        # contract loudly instead of corrupting the corpus. Driver-side
        # and free: the report is already collected.
        ids = [r[id_c] for r in rows]
        if len(ids) != len(set(ids)):
            raise ValueError(
                "NearDupIngest: duplicate ids within one micro-batch — "
                "run exact dedup (streaming/dedup.dedup_stream) upstream"
            )
        out = local_rows_df(self.spark, rows, report.schema)

        novel = [r[id_c] for r in rows if r["status"] == "novel"]
        # the id column keeps the BATCH's type (constructor takes any
        # id_col): a hardcoded long would break the semi-join for string
        # ids and fork the first batch's report schema from later ones
        novel_df = local_rows_df(
            self.spark,
            [(i,) for i in novel],
            T.StructType([T.StructField(id_c, batch.schema[id_c].dataType)]),
        )
        batch.join(novel_df, id_c, "left_semi").write.mode("append").parquet(
            self.corpus_path
        )
        sigs.join(novel_df, id_c, "left_semi").write.mode("append").parquet(
            self.sig_path
        )
        return out

    def _banded(self, sigs: DataFrame) -> DataFrame:
        """(id, band, bucket) rows from a signature frame — must stay in
        lockstep with operators/dedup.lsh_candidate_pairs' banding."""
        r = self.k // self.bands
        entries = [
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"mh{b * r + j}") for j in range(r)])
                .cast("string")
                .alias("bucket"),
            )
            for b in range(self.bands)
        ]
        return sigs.select(
            self.id_col, F.explode(F.array(*entries)).alias("e")
        ).select(self.id_col, F.col("e.band").alias("band"), F.col("e.bucket").alias("bucket"))
