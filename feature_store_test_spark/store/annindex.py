"""Persisted IVF-PQ index: train ONCE, serve many (the faiss deployment
practice the per-call training queries q68/q104 cannot express).

Layout under ``path``:
    codes/            parquet, PARTITIONED BY cid — one directory per coarse
                      cell holding (vec_id, embedding, codes) rows. A search
                      probing n_probe of n_cells cells reads only those
                      partitions (partition pruning — verified by plan in
                      tests), i.e. ~n_probe/n_cells of the index bytes.
    centroids.json    the coarse quantizer (tiny; broadcast at search time)
    codebooks.json    the m per-subspace PQ codebooks (tiny; plan literals)

Search composes the same pieces as ``ivfpq_ann_topk`` minus training:
probe cells for the query batch, in-row ADC fold over the broadcast
per-query LUT, exact-cosine rescore of the top candidates from the
index's own vector copy. Reference-capability note: the reference trains
its model once and serves it from an artifact
(/root/reference/core/utils.py:255-256, core/inference.py:67-68); this
gives the ANN family the same train/serve split.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_store_test_spark.operators.similarity import (
    _adc_fold,
    _pq_lut_wide,
    cosine,
    ivf_assign,
    ivf_train,
    pq_encode,
    pq_train,
)


class ANNIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: DataFrame,
        codebooks: list[list[list[float]]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark = spark
        self.path = path
        self.centroids = centroids
        self.codebooks = codebooks
        self.id_col = id_col
        self.vec_col = vec_col

    # -- build / load -----------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 8,
        m: int = 8,
        k: int = 16,
    ) -> "ANNIndex":
        """Train the coarse quantizer + codebooks and materialize the
        cell-partitioned code table. One corpus pass for assignment +
        encoding; training follows the bounded-sample practice of the
        underlying operators."""
        cents = ivf_train(corpus, vec_col, n_cells=n_cells)
        books = pq_train(corpus, vec_col, m=m, k=k)
        assigned = ivf_assign(corpus, cents, id_col, vec_col, 1).select(
            F.col("__id").alias(id_col), F.col("__v").alias(vec_col), "cid"
        )
        coded = pq_encode(assigned, books, vec_col)
        coded.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/codes")
        cent_rows = [
            {"cid": r["cid"], "cv": list(r["cv"])} for r in cents.collect()
        ]
        with open(os.path.join(path, "centroids.json"), "w") as f:
            json.dump(cent_rows, f)
        with open(os.path.join(path, "codebooks.json"), "w") as f:
            json.dump(books, f)
        return cls.load(spark, path, id_col=id_col, vec_col=vec_col)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "ANNIndex":
        with open(os.path.join(path, "centroids.json")) as f:
            cent_rows = json.load(f)
        with open(os.path.join(path, "codebooks.json")) as f:
            books = json.load(f)
        from feature_store_test_spark.data import local_rows_df

        cents = local_rows_df(
            spark, [(r["cid"], r["cv"]) for r in cent_rows], "cid int, cv array<double>"
        )
        return cls(spark, path, cents, books, id_col=id_col, vec_col=vec_col)

    # -- serve ------------------------------------------------------------
    def codes_table(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/codes")

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 2,
        n_candidates: int = 50,
        round_dp: int = 6,
    ) -> DataFrame:
        """IVF-PQ search against the prebuilt index; output schema matches
        ``ivfpq_ann_topk`` (query_id, neighbor_id, rank, cos_sim) and, for
        an index built from the same corpus with the same parameters, the
        same rows (pinned by tests/test_annindex.py)."""
        qa = ivf_assign(
            queries, self.centroids, self.id_col, self.vec_col, n_probe, round_dp
        ).select(F.col("__id").alias("query_id"), "cid")
        # probed cells for the (request-sized) batch — collecting them lets
        # the cid filter reach the reader as a PARTITION filter, so only
        # ~n_probe/n_cells of the index is read
        probed = sorted(r["cid"] for r in qa.select("cid").distinct().collect())
        codes = self.codes_table().where(F.col("cid").isin(probed))
        lut = _pq_lut_wide(queries, self.codebooks, self.id_col, self.vec_col)
        adc = (
            codes.select(
                F.col(self.id_col).alias("neighbor_id"), "cid", "codes"
            )
            .join(F.broadcast(qa), "cid")
            .join(F.broadcast(lut), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                _adc_fold("codes", "__lut", len(self.codebooks[0]), len(self.codebooks)).alias("adist"),
            )
        )
        wc = Window.partitionBy("query_id").orderBy(F.col("adist"), "neighbor_id")
        cands = (
            adc.withColumn("crank", F.row_number().over(wc))
            .where(F.col("crank") <= n_candidates)
            .select("query_id", "neighbor_id")
        )
        qv = queries.select(
            F.col(self.id_col).alias("query_id"), F.col(self.vec_col).alias("__qv")
        )
        cv = self.codes_table().where(F.col("cid").isin(probed)).select(
            F.col(self.id_col).alias("neighbor_id"), F.col(self.vec_col).alias("__cv")
        )
        rescored = (
            cands.join(F.broadcast(qv), "query_id")
            .join(cv, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine("__qv", "__cv"), round_dp).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        return (
            rescored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos_sim")
        )
