"""Composed training-data curation pipeline.

The point of the dedup / quality / language operators is this
composition: produce the curated corpus a pretraining run would
consume. All three signals are expressed over ONE scan of
`documents`: quality and language are row-local Column expressions
(text_analysis.quality_exprs / predicted_lang_expr), and the
normalized-dedup keeper is a window over the fingerprint — so the
whole pipeline is one scan + one shuffle (the fingerprint window
partitioning). Round 2 joined three scans of the same table on
doc_id; composing at the expression level is what a 100 TB curation
pass needs — the corpus is read once.

Keep rule: quality_score ≥ 0.5 AND predicted language is 'en' AND the
document is the keeper (min doc_id) of its normalized-text duplicate
group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import md5_normalized
from ..tables import table
from .dedup import ORACLES as DEDUP_ORACLES
from .text_analysis import ORACLES as TEXT_ORACLES
from ..functions.text import token_count
from .text_analysis import docs_scan, predicted_lang_expr, quality_exprs

_MIN_QUALITY = 0.5
_LANG = "en"


def pipeline_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → curated (doc_id, n_tokens, quality_score,
    predicted_lang) after quality/language/dedup gating."""
    docs = docs_scan(spark, sf_dir)
    q = quality_exprs("text")
    scored = docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        predicted_lang_expr("text").alias("predicted_lang"),
        md5_normalized("text").alias("fingerprint"),
    )
    is_kept = F.col("doc_id") == F.min("doc_id").over(
        W.partitionBy("fingerprint")
    )
    return (
        scored.withColumn("is_kept", is_kept)
        .where(
            F.col("is_kept")
            & (F.col("quality_score") >= _MIN_QUALITY)
            & (F.col("predicted_lang") == _LANG)
        )
        .select("doc_id", "n_tokens", "quality_score", "predicted_lang")
    )


_SPLIT_BUCKETS = 100
_TRAIN_PCT = 90
_VALID_PCT = 5  # remainder (5%) = test
_QUOTA_PER_SOURCE = 40


def pipeline_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment by key hash.

    bucket(doc) = first 15 hex digits of md5('split:' || doc_id)
    mod 100; train < 90 ≤ valid < 95 ≤ test. The split is a pure
    row-local projection — content- and order-independent, no RNG
    state, no shuffle — so any re-run, at any scale or cluster
    layout, assigns every document identically (the reproducibility a
    100 TB corpus split needs; engine-portable because the oracle
    computes the identical md5 arithmetic). The salt prefix decouples
    this hash from the dedup/fingerprint hashes of the same key.
    """
    docs = docs_scan(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _SPLIT_BUCKETS
    )
    split = (
        F.when(bucket < _TRAIN_PCT, "train")
        .when(bucket < _TRAIN_PCT + _VALID_PCT, "valid")
        .otherwise("test")
    )
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        split.alias("split"),
    )


def pipeline_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping: keep the top-K documents of each
    source by quality score (deterministic doc_id tiebreak).

    The standard corpus-mixing primitive — bound any one domain /
    crawl's contribution before training. One shuffle (hash on
    source); rank + filter happens within partitions, so at 100 TB
    the cost is one exchange of the scored projection, never a global
    sort. Skewed sources (one domain = half the corpus) stream
    through row_number without materializing the group.
    """
    docs = docs_scan(spark, sf_dir)
    q = quality_exprs("text")
    scored = docs.select(
        "doc_id", "source", q["quality_score"].alias("quality_score")
    )
    w = W.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _QUOTA_PER_SOURCE)
        .select("doc_id", "source", "quality_score", "rk")
    )


_MIX_BUCKETS = 1_000_000  # resolution of the per-doc uniform draw


def domain_mixture(
    docs: DataFrame,
    weight_col,
    budget_chars: float | None = None,
    salt: str = "mix:",
) -> DataFrame:
    """Materialize a target domain mixture with epoching — the step
    between curation and training: each source's share of the token
    budget is ``weight / Σweights``, so a small high-quality domain
    is REPEATED (epochs > 1: every doc emitted floor(e) times plus a
    deterministic Bernoulli(frac(e)) extra copy) and an over-sized
    domain is subsampled (epochs < 1).

    * ``weight_col`` — Column giving the per-row mixture weight
      (usually a function of ``source``); weights are relative.
    * ``budget_chars`` — total character budget; default = corpus
      size (pure re-mixing at constant volume).

    Determinism and scale: the per-doc draw is the split-hash
    convention (first 15 hex digits of md5(salt ‖ doc_id) mod 1e6 —
    content-local, no RNG state, engine-portable); per-source stats
    are a 1-row-per-source aggregate broadcast back, so the only
    full-data operations are one scan (pruned to doc_id/source/
    n_chars — text is never read) and the explode that IS the
    output. No shuffle of the corpus itself at any scale.

    Output: (doc_id, source, epochs, copy) — copy = 1..n for the
    repeated emissions of one document.
    """
    base = docs.select(
        "doc_id", "source", "n_chars", weight_col.alias("wt")
    )
    stats = base.groupBy("source").agg(
        F.sum("n_chars").cast("double").alias("avail"),
        F.first("wt").alias("wt"),
    )
    # one row per source — checkpoint so the grand-total aggregate
    # and the epochs projection both reuse it instead of re-scanning
    # the corpus (2 scans total: stats + probe, both pruned to the
    # 3 metadata columns)
    stats = stats.localCheckpoint(eager=True)
    tot = stats.agg(
        F.sum("avail").alias("b"), F.sum("wt").alias("sw")
    )
    e = (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "source",
            (
                (
                    (
                        F.coalesce(
                            F.lit(budget_chars).cast("double"),
                            F.col("b"),
                        )
                        * F.col("wt")
                        / F.col("sw")
                    )
                )
                / F.col("avail")
            ).alias("epochs"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _MIX_BUCKETS
    ) / F.lit(float(_MIX_BUCKETS))
    n_copies = (
        F.floor("epochs")
        + F.when(u < F.col("epochs") - F.floor("epochs"), 1).otherwise(0)
    ).cast("long")
    return (
        base.join(F.broadcast(e), "source")
        .withColumn("n_copies", n_copies)
        .where(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "epochs",
            F.explode(F.sequence(F.lit(1).cast("long"), "n_copies")).alias(
                "copy"
            ),
        )
    )


def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog form: even-numbered sources get weight 3, odd weight 1,
    budget = corpus size — so even sources land near 1.5 epochs (full
    copy + ~50% deterministic extra) and odd near 0.5 (subsample),
    exercising both mixture paths."""
    # plain table scan, NOT docs_scan: mixture reads no text, so
    # docs_scan's repartition-for-per-row-work would be a pure-
    # overhead shuffle of the corpus
    docs = table(spark, sf_dir, "documents")
    wt = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(3.0)
    ).otherwise(F.lit(1.0))
    out = domain_mixture(docs, wt)
    # epochs stays internal: it's a double whose last-ULP rendering
    # is engine-specific; the integer copy counts ARE the semantics
    return out.select("doc_id", "source", "copy")


def global_order(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Assign each row its 1-based GLOBAL rank by ``key_cols`` —
    scalably: range-partition on the keys, sort within partitions,
    then a per-partition local index (mapInPandas over the already-
    sorted stream) plus a broadcast of cumulative partition offsets.
    Two passes over the data and a #partitions-sized offset frame —
    never a global single-reducer window (row_number over an
    unpartitioned Window collapses 100 TB onto one task; this shape
    is the standard distributed zipWithIndex).

    The output is a pure function of the key values (global rank of
    unique keys), independent of where the sampled range bounds
    land, so re-runs and different cluster layouts agree."""
    import pandas as pd

    part = df.repartitionByRange(*key_cols).sortWithinPartitions(
        *key_cols
    )
    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType: DataFrame.schema is cached on the frame, and
    # StructType.add mutates in place — appending to it directly
    # corrupts the frame's own schema object
    schema = StructType(
        [
            StructField(f.name, f.dataType, f.nullable)
            for f in part.schema.fields
        ]
        + [StructField("_pid", LongType()), StructField("_local", LongType())]
    )

    def index_partition(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        for pdf in iterator:
            pdf = pdf.copy()
            pdf["_pid"] = pid
            pdf["_local"] = range(seen + 1, seen + 1 + len(pdf))
            seen += len(pdf)
            yield pdf

    indexed = part.mapInPandas(index_partition, schema)
    counts = indexed.groupBy("_pid").agg(F.count("*").alias("_n"))
    offsets = counts.select(
        "_pid",
        (
            F.sum("_n").over(
                W.orderBy("_pid").rowsBetween(
                    W.unboundedPreceding, -1
                )
            )
        ).alias("_offset"),
    ).fillna({"_offset": 0})
    return (
        indexed.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "position", (F.col("_offset") + F.col("_local")).cast("long")
        )
        .drop("_pid", "_local", "_offset")
    )


def pipeline_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order: every pretraining run
    shuffles its corpus; a reproducible run needs the same order on
    every cluster layout. Rank docs by the md5 split-hash convention
    ('order:' salt) — content-local key, scalable two-pass global
    rank, engine-portable oracle (ROW_NUMBER over the same md5)."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("order:"), F.col("doc_id").cast("string")))
    return global_order(
        docs.select("doc_id", "source", key.alias("shuffle_key")),
        ["shuffle_key", "doc_id"],
    ).select("doc_id", "source", "position")


_PACK_BUDGET = 2048  # tokens per packed training sequence
_PACK_BLOCK = 4096  # doc_ids per prefix-sum block
_PACK_SUPER = 4096  # blocks per superblock


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated
    in doc_id order and cut into fixed _PACK_BUDGET-token training
    sequences; each document reports the chunk ids it lands in.

    The only global quantity is the exclusive prefix sum of token
    counts in doc_id order, and a single ``ORDER BY`` window would
    compute it on ONE partition — the classic accidental serialization.
    Instead this is the two-level scan (Blelloch) in DataFrame form:

    * within-block exclusive cumsum + block totals — one window per
      ``blk = doc_id // _PACK_BLOCK`` (one shuffle of the (doc_id,
      n_tokens) projection, the only big exchange);
    * block totals roll up identically per superblock (|corpus|/4096
      rows), superblock totals take the lone global-order window over
      |corpus|/4096² rows — 600 rows for a 10B-document corpus;
    * offsets join back down on blk/blk2, partitioning each level
      already has, and the per-doc position is the sum of its three
      levels.

    Value-blocking (``doc_id // width``) instead of partition-id
    blocking keeps every quantity a pure function of the DATA, so the
    result is identical at any parallelism and an oracle can replay it
    as a plain windowed cumsum. Chunk math: a document spanning
    [cum_before, cum_before + n_tokens) covers chunks
    floor(start/B) .. floor((end-1)/B); empty documents pin to the
    chunk at their offset with n_chunks = 1 (greatest(n_tokens, 1)
    keeps the division total on both engines).
    """
    docs = docs_scan(spark, sf_dir)
    d = docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        (F.col("doc_id") / _PACK_BLOCK).cast("long").alias("blk"),
    )
    w_in = (
        W.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "in_blk_before", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    ).withColumn("blk_total", F.sum("n_tokens").over(W.partitionBy("blk")))
    # Every level of the scan derives from this frame; without a cut
    # point each one re-reads documents and re-tokenizes text (the
    # static plan showed 6 parquet scans). Checkpointing 5 longs/doc
    # makes the corpus text a read-once input — same call as the
    # minhash band frame (dedup.py).
    d = d.localCheckpoint(eager=False)
    # (blk, blk_total) pairs: partitioning on blk is already satisfied,
    # so this dedup is a no-exchange hash aggregate.
    blocks = (
        d.select("blk", "blk_total")
        .distinct()
        .withColumn("blk2", (F.col("blk") / _PACK_SUPER).cast("long"))
    )
    w2_in = (
        W.partitionBy("blk2")
        .orderBy("blk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    blocks = blocks.withColumn(
        "in_blk2_before", F.coalesce(F.sum("blk_total").over(w2_in), F.lit(0))
    ).withColumn("blk2_total", F.sum("blk_total").over(W.partitionBy("blk2")))
    supers = blocks.select("blk2", "blk2_total").distinct()
    # The lone global-order window — |corpus|/_PACK_BLOCK/_PACK_SUPER
    # rows, a third level away from ever mattering.
    w_g = W.orderBy("blk2").rowsBetween(W.unboundedPreceding, -1)
    supers = supers.select(
        "blk2",
        F.coalesce(F.sum("blk2_total").over(w_g), F.lit(0)).alias(
            "blk2_before"
        ),
    )
    blk_offsets = blocks.join(supers, "blk2").select(
        "blk",
        (F.col("blk2_before") + F.col("in_blk2_before")).alias("blk_before"),
    )
    cum_before = F.col("blk_before") + F.col("in_blk_before")
    last_tok = cum_before + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return (
        d.join(blk_offsets, "blk")
        .select(
            "doc_id",
            "n_tokens",
            cum_before.alias("cum_before"),
            F.floor(cum_before / _PACK_BUDGET).alias("chunk_start"),
            F.floor(last_tok / _PACK_BUDGET).alias("chunk_end"),
            (
                F.floor(last_tok / _PACK_BUDGET)
                - F.floor(cum_before / _PACK_BUDGET)
                + 1
            ).alias("n_chunks"),
        )
    )


_CHUNK_WORDS = 8


def pipeline_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup — the paragraph-granularity pass of a
    training-data pipeline (Dolma-style paragraph dedup, adapted to
    fixed ``_CHUNK_WORDS``-word windows because the synthetic corpus
    has no paragraph separators): a chunk survives iff it is the
    FIRST occurrence of that exact text in (doc_id, chunk_idx) order;
    each document reports its chunk count, surviving count, and the
    deduplicated text reassembled from its surviving chunks in order.

    Scale shape: chunking is a row-local array expression (split +
    slice under ``transform`` — one array op per doc, no per-word
    explode); first-occurrence ranking is ONE shuffle keyed on the
    chunk text (row_number over tiny per-chunk groups); reassembly is
    a second shuffle back on doc_id with a per-document collect_list
    — bounded by document size, the bound every per-doc operator
    already has. No joins, no driver state. At 100 TB the shuffle key
    would be (xxhash64(chunk), chunk) to shrink comparator cost —
    semantically identical.
    """
    docs = docs_scan(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n = F.ceil(F.size(words) / F.lit(_CHUNK_WORDS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda j: F.array_join(
            F.slice(words, j * _CHUNK_WORDS + F.lit(1), F.lit(_CHUNK_WORDS)),
            " ",
        ),
    )
    ex = docs.select("doc_id", F.posexplode(chunks).alias("ci", "chunk"))
    rn = F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "ci"))
    flagged = ex.withColumn("keep", rn == F.lit(1))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("ci", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "pipeline_curated_corpus": pipeline_curated_corpus,
    "pipeline_train_split": pipeline_train_split,
    "pipeline_source_quota": pipeline_source_quota,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_chunk_dedup": pipeline_chunk_dedup,
    "pipeline_domain_mixture": pipeline_domain_mixture,
    "pipeline_shuffle_order": pipeline_shuffle_order,
}

EXTRA = {
    # r14 rotation (diff-driven + stalest-50, VERDICT r13 ask #4):
    # the registered set forces every query whose code path changed
    # in r13/r14 (q22's rewritten anti-join plan, the q1/q18 A/B
    # targets, this round's q3/q5 A/B targets) and fills the rest
    # with the stalest driver-grade records (mostly the r10 tier and
    # the r2-era similarity rows). Overlap with the r13 set: 2
    # queries (q3/q5, forced). Everything rotated out stays
    # oracle-checked every run by tests/test_extra_oracle.py and
    # tools/check_correctness.py.
    # r16: pipeline_curated_corpus rotated IN (changed-code rule —
    # docs_scan's spread became conditional this round)
    "pipeline_chunk_dedup",
    "pipeline_domain_mixture",
    "pipeline_shuffle_order",
    "pipeline_source_quota",
    "pipeline_train_split",
}

ORACLES = {
    "pipeline_shuffle_order": """
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY md5('order:' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) AS BIGINT) AS position
        FROM documents
    """,
    "pipeline_domain_mixture": f"""
        WITH stats AS (
            SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS avail,
                   CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                        THEN 3.0 ELSE 1.0 END AS wt
            FROM documents GROUP BY 1
        ),
        tot AS (SELECT SUM(avail) AS b, SUM(wt) AS sw FROM stats),
        e AS (
            SELECT source, ((b * wt / sw)) / avail AS epochs
            FROM stats, tot
        ),
        d AS (
            SELECT doc_id, documents.source, epochs,
                   (('0x' || substr(
                        md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15
                    ))::BIGINT % {_MIX_BUCKETS}) / {float(_MIX_BUCKETS)} AS u
            FROM documents JOIN e USING (source)
        )
        SELECT doc_id, source,
               CAST(unnest(generate_series(
                   1,
                   CAST(floor(epochs) + CASE WHEN u < epochs - floor(epochs)
                                             THEN 1 ELSE 0 END AS BIGINT)
               )) AS BIGINT) AS copy
        FROM d
    """,
    "pipeline_curated_corpus": f"""
        WITH quality AS (
            SELECT doc_id, n_tokens, quality_score
            FROM ({TEXT_ORACLES["text_quality_score"]})
        ),
        lang AS (
            SELECT doc_id, predicted_lang
            FROM ({TEXT_ORACLES["text_lang_id"]})
        ),
        keepers AS (
            SELECT doc_id FROM ({DEDUP_ORACLES["dedup_normalized"]})
            WHERE is_kept
        )
        SELECT q.doc_id, q.n_tokens, q.quality_score, l.predicted_lang
        FROM quality q
        JOIN lang l ON l.doc_id = q.doc_id
        WHERE q.doc_id IN (SELECT doc_id FROM keepers)
          AND q.quality_score >= {_MIN_QUALITY}
          AND l.predicted_lang = '{_LANG}'
        ORDER BY q.doc_id
    """,
    "pipeline_train_split": f"""
        WITH b AS (
            SELECT doc_id, source,
                   ('0x' || substr(
                        md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15
                    ))::BIGINT % {_SPLIT_BUCKETS} AS bucket
            FROM documents
        )
        SELECT doc_id, source, bucket,
               CASE
                   WHEN bucket < {_TRAIN_PCT} THEN 'train'
                   WHEN bucket < {_TRAIN_PCT + _VALID_PCT} THEN 'valid'
                   ELSE 'test'
               END AS split
        FROM b
        ORDER BY doc_id
    """,
    "pipeline_pack_sequences": f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM toks
        )
        SELECT doc_id, n_tokens, cum_before,
               cum_before // {_PACK_BUDGET} AS chunk_start,
               (cum_before + GREATEST(n_tokens, 1) - 1)
                   // {_PACK_BUDGET} AS chunk_end,
               (cum_before + GREATEST(n_tokens, 1) - 1) // {_PACK_BUDGET}
                   - cum_before // {_PACK_BUDGET} + 1 AS n_chunks
        FROM cum
        ORDER BY doc_id
    """,
    "pipeline_source_quota": f"""
        WITH scored AS (
            SELECT q.doc_id, d.source, q.quality_score
            FROM ({TEXT_ORACLES["text_quality_score"]}) q
            JOIN documents d ON d.doc_id = q.doc_id
        ),
        ranked AS (
            SELECT doc_id, source, quality_score,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY quality_score DESC, doc_id
                   ) AS rk
            FROM scored
        )
        SELECT doc_id, source, quality_score, rk
        FROM ranked
        WHERE rk <= {_QUOTA_PER_SOURCE}
        ORDER BY doc_id
    """,
    "pipeline_chunk_dedup": f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        chunks AS (
            SELECT doc_id, j.ci,
                   array_to_string(
                     ws[j.ci*{_CHUNK_WORDS}+1 : j.ci*{_CHUNK_WORDS}+{_CHUNK_WORDS}],
                     ' ') AS chunk
            FROM words,
                 LATERAL (SELECT unnest(generate_series(0,
                            CAST(ceil(len(ws)/{_CHUNK_WORDS}.0) AS BIGINT) - 1
                          )) AS ci) j
        ),
        ranked AS (
            SELECT doc_id, ci, chunk,
                   row_number() OVER (
                       PARTITION BY chunk ORDER BY doc_id, ci
                   ) AS rn
            FROM chunks
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
               COALESCE(string_agg(chunk, ' ' ORDER BY ci)
                        FILTER (WHERE rn = 1), '') AS dedup_text
        FROM ranked
        GROUP BY doc_id
        ORDER BY doc_id
    """,
}

#: r7 rotation: train_split + source_quota (never driver-verified)

HEADLINE = {"pipeline_curated_corpus"}
