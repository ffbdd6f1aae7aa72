"""Explode vs row-local signature strategy, measured on the SHIPPED
band_signatures (r15 regeneration of the r14 A/B whose artifact was
retracted — it had measured a defective variant; VERDICT r14 ask #1).

One fresh JVM per invocation (drive each variant from a shell loop),
full dedup_minhash_lsh pipeline with the strategy forced, identity
fold asserted against the auto-selected shipped form.

Usage: python tools/experiments/minhash_rowlocal_ab.py VARIANT SF_DIR
  VARIANT ∈ {explode, rowlocal, shipped}
Prints one JSON line {"variant", "sf_dir", "n", "h", "cold", "warm"}.
"""
from __future__ import annotations

import json
import math
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from ciws_server_spark.operators import dedup
from ciws_server_spark.session import get_spark
from ciws_server_spark.tables import conf_bytes, input_bytes, table

VARIANT = sys.argv[1]
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "tmp/sf10"


def forced_query(spark, sf_dir, strategy):
    """dedup_minhash_lsh with the signature strategy forced, the
    operator's own parallelism spread preserved."""
    docs = table(spark, sf_dir, "documents")
    cores = spark.sparkContext.defaultParallelism
    mpb = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    splits = math.ceil(max(input_bytes(docs), 1) / max(mpb, 1))
    src = docs.repartition("doc_id") if splits < cores else docs
    bands = dedup.band_signatures(src, strategy=strategy).localCheckpoint(
        eager=True
    )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    from ciws_server_spark.functions.text import word_shingles

    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    with_sh = docs.join(F.broadcast(cand_docs), "doc_id").select(
        "doc_id",
        F.array_distinct(word_shingles("text", 3)).alias("shingles"),
    ).localCheckpoint(eager=True)
    wa = with_sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
    )
    wb = with_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")
    )
    pairs = candidates.join(wa, "doc_a").join(wb, "doc_b")
    n_common = F.size(F.array_intersect("sa", "sb"))
    na, nb = F.size("sa"), F.size("sb")
    jac = n_common.cast("double") / (na + nb - n_common).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= dedup._JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def main():
    spark = get_spark(f"minhash-ab-{VARIANT}")
    spark.sparkContext.setLogLevel("ERROR")
    fold = {}

    def consume():
        t = time.perf_counter()
        if VARIANT == "shipped":
            df = dedup.dedup_minhash_lsh(spark, SF_DIR)
        else:
            df = forced_query(spark, SF_DIR, VARIANT)
        row = df.selectExpr(
            "count(*) AS n",
            "bit_xor(xxhash64(doc_a, doc_b, jaccard)) AS h",
        ).collect()[0]
        fold["n"], fold["h"] = row["n"], row["h"]
        return time.perf_counter() - t

    cold = consume()
    warm = min(consume(), consume())
    print(json.dumps({
        "variant": VARIANT, "sf_dir": SF_DIR,
        "n": fold["n"], "h": fold["h"],
        "cold": round(cold, 3), "warm": round(warm, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
