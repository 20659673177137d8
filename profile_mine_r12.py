#!/usr/bin/env python
"""Phase-level timing of the x07 mining pipeline at sf0.1 (guide 1.1:
find where the time actually goes before touching anything).

Times each eager boundary of minhash_lsh_pairs by replicating its call
sequence with perf_counter marks between the internal actions, then the
noop write of the verified pairs.  Run on a quiet box, 3 repeats.
"""

from __future__ import annotations

import os
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from conecta_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_session(
        app_name="profile-mine-r12",
        extra_conf={
            "spark.sql.shuffle.partitions": os.environ["SPARK_GRAFT_CPUS"],
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from conecta_spark.operators import dedup as D
    from conecta_spark.queries import t

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # warm-up: one full mine + worker pool
    from conecta_spark.queries import queries
    qs = queries()
    run(qs["x07_dedup_minhash_lsh"](spark, SF_DIR))

    for rep in range(3):
        spark.catalog.clearCache()
        D._MINE.evict()
        D._PAIRS.evict()
        marks = [("start", time.perf_counter())]

        docs = t(spark, SF_DIR, "documents")
        hashed = D.hashed_shingles(docs, 5, "text", "doc_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        stats = hashed.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("sh")).alias("tot"),
        ).first()
        marks.append(("hashed+stats", time.perf_counter()))

        n_docs = stats["n"]
        tok = hashed.select(F.col("doc_id"), F.explode("sh").alias("h"))
        common = (
            tok.groupBy("h")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > F.lit(0.1) * F.lit(n_docs))
            .select("h")
        )
        common_arr = common.agg(F.collect_list("h").alias("common_hs"))
        filtered = (
            hashed.crossJoin(F.broadcast(common_arr))
            .select(
                F.col("doc_id"),
                F.array_except("sh", "common_hs").alias("shf"),
            )
            .where(F.size("shf") > 0)
        )
        sigs = D.minhash_signatures(filtered, 16, "doc_id")
        banded = D.band_signatures(sigs, 16, 4, "doc_id")
        banded = banded.repartition(
            spark.sparkContext.defaultParallelism, "band_idx", "band_key"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        banded.count()
        marks.append(("banded materialized", time.perf_counter()))

        a, b = banded.alias("a"), banded.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        cands = cands.repartition(
            spark.sparkContext.defaultParallelism, "doc_a"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_cands = cands.count()
        marks.append(("cands materialized", time.perf_counter()))

        sh = hashed.withColumn("n_sh", F.size("sh"))
        pairs = D._verify_exact_jaccard(cands, sh, 0.5, "doc_id", True)
        run(pairs)
        marks.append(("verify+noop", time.perf_counter()))

        print(f"rep {rep}: n_docs={n_docs} n_cands={n_cands}")
        for (name, tm), (_, prev) in zip(marks[1:], marks[:-1]):
            print(f"  {name:22s} {tm - prev:7.3f}s")
        print(f"  {'TOTAL':22s} {marks[-1][1] - marks[0][1]:7.3f}s")


if __name__ == "__main__":
    main()
