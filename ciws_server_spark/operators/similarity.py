"""Similarity search over the `embeddings` table (array<float>).

Two paths:

* ``sim_brute_topk`` — exact cosine top-k: the correctness baseline.
  The query set is broadcast (it is small by construction); the scan
  side streams through one pass, k results per query via ranked window.
* ``sim_lsh_buckets`` / ``sim_lsh_pairs`` — random-hyperplane LSH: the
  scale path. Hyperplane weights are derived from md5 (deterministic,
  recomputable on any engine — no RNG state to ship), each vector maps
  to an 8-bit bucket, and candidate pairs are generated only within a
  bucket: the O(n²) cross product becomes Σ bucket². Dot products are
  sequential folds (functions.vectors) so scores are bit-identical to
  the oracle's.

At 100 TB the LSH bucket id doubles as the table's partition key so
repeated ANN queries prune to matching buckets; an IVF (coarse
k-means) variant would follow the same layout with learned centroids.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

from ..functions.vectors import pair_cosine
from ..tables import spread_if_few_splits, table

_N_QUERIES = 10  # vec_id < 10 are the demo query vectors
_TOP_K = 5
_N_PLANES = 8
_DIM = 64
_LSH_COSINE_THRESHOLD = 0.5

# AND/OR construction (banded multi-table LSH): within one table a
# candidate must match on ALL planes (AND → precision grows with
# planes/table); across tables ANY table may produce the match
# (OR → recall grows with tables). A genuinely-similar pair (angle θ)
# hits some table with probability 1-(1-(1-θ/π)^P)^4.
#
# The planes-per-table P ADAPTS to corpus size: P = log2(n / B) for a
# target bucket occupancy B, so bucket count scales with n and mean
# bucket size stays ~B. A FIXED P is a scale bug this round caught
# empirically: with 4×12 (4096 buckets/table) the candidate stage is
# Σ bucket² ≈ n²/4096 per table — quadratic once n outgrows the
# bucket count (sf10's 200k vectors → ~49/bucket → 100× the sf1
# candidate volume for 10× data). With P = log2(n/B), Σ bucket² ≈
# n·B — linear at any n, the shape you want at 100 TB vector counts
# (n=1e9 → P=27, still an int32-safe bucket id at the P≤30 clamp).
_N_TABLES = 4
#: Target mean bucket occupancy. 4 (not 8): halving occupancy doubles
#: bucket count at every scale, quartering the per-bucket pair work
#: (Σ bucket² ≈ n·B) for one extra plane — measured ~0.5s faster at
#: sf0.1 with the gate fixtures unaffected (n=500 still resolves to
#: the clamp floor below).
_TARGET_BUCKET_ROWS = 4

#: P at the correctness-gate fixtures: the clamp floor (n=500 at
#: sf0.001/sf0.01 → log2(500/4)≈7 → floor 8). The static DuckDB
#: oracle SQL inlines the planes for THIS P; with B=4 it is valid
#: only while round(log2(n/4)) ≤ 8, i.e. n ≤ 1448 — which covers the
#: driver's oracle-gate fixtures (n=500) but NOT sf0.1's n=2000.
#: Comparisons at any other corpus size must use ``scale_oracles``
#: (tools/check_correctness.py and tools/duckdb_ratio.py both do).
_GATE_N_PLANES = 8


def _mt_n_planes(n_rows: int) -> int:
    """Adaptive planes/table: round(log2(n/target)), clamped to
    [8, 30] (floor: gate-fixture stability + minimum precision;
    ceiling: int32 bucket ids)."""
    import math

    return min(30, max(8, round(math.log2(max(n_rows, 1) / _TARGET_BUCKET_ROWS))))


def hyperplanes(n_planes: int = _N_PLANES, dim: int = _DIM, seed: str = "hp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — identical in
    any engine/language, so the oracle can inline the same literals."""
    return [
        [
            int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[0], 16) - 7.5
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _plane_dot_sql(plane: list[float], col: str = "e") -> str:
    """Left-associative explicit dot product (matches Spark's fold)."""
    return " + ".join(
        f"{col}[{i + 1}] * ({w})" for i, w in enumerate(plane)
    )


def _table_planes(t: int, n_planes: int) -> list[list[float]]:
    return hyperplanes(n_planes, _DIM, seed=f"mt{t}")


def _fold_buckets(m: "np.ndarray", planes: "np.ndarray") -> "np.ndarray":
    """Sign-bucket ids for a vector batch with explicit left-fold
    accumulation over dimensions — every partial sum is the same IEEE
    double the JVM fold (functions.vectors.dot) and the oracle's
    left-associative SQL sum produce; numpy's pairwise-summation
    ``dot`` would round differently and could flip a sign at a bucket
    boundary."""
    acc = np.zeros((m.shape[0], planes.shape[0]))
    for d in range(m.shape[1]):
        acc += m[:, [d]] * planes[:, d]
    weights = 1 << np.arange(planes.shape[0])
    return ((acc > 0) @ weights).astype(np.int32)


# DataType object, not a DDL string: string return types are parsed at
# decoration time and require a live SparkContext, which would break
# importing this module before a session exists (driver contract).
def _mt_buckets_udf(n_planes: int):
    """Arrow-vectorized T×P plane dots, closed over the (adaptive)
    plane count so executors never re-derive it from data."""

    @pandas_udf(ArrayType(IntegerType()))
    def udf(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype=object)
        m = np.vstack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        buckets = [
            _fold_buckets(
                m, np.asarray(_table_planes(t, n_planes), dtype=np.float64)
            )
            for t in range(_N_TABLES)
        ]
        return pd.Series(np.stack(buckets, axis=1).tolist())

    return udf


@pandas_udf(IntegerType())
def _single_bucket_udf(emb: pd.Series) -> pd.Series:
    """Single-table 8-plane bucket id (same fold-order contract)."""
    if not len(emb):
        return pd.Series([], dtype="int32")
    m = np.vstack(emb.to_numpy()).astype(np.float64)
    return pd.Series(
        _fold_buckets(m, np.asarray(hyperplanes(), dtype=np.float64))
    )


#: corpus row count per sf_dir — the adaptive plane count needs |corpus|
#: and every index build (buckets/pairs/dedup-LSH × Spark run + oracle
#: regen) was paying a separate count job for the same table. Keyed by
#: (path, size, mtime) so a fixture regenerated at the SAME path within
#: one process (tests, notebooks, tools rewriting tmp dirs) invalidates
#: naturally instead of sizing the plane count from a stale total.
_CORPUS_ROWS_CACHE: dict[tuple, int] = {}


def corpus_n_planes(spark: SparkSession, sf_dir: str) -> int:
    """Adaptive multitable plane count for an sf_dir's embeddings
    corpus, with the row count cached per (path, stat signature).
    Local single-file parquet resolves from footer metadata (no job at
    all); anything else pays one count job, once per distinct file
    version."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        key = (path, None, None)
    if key not in _CORPUS_ROWS_CACHE:
        n = None
        if os.path.isfile(path):
            try:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(path).metadata.num_rows
            except Exception:
                n = None
        if n is None:
            n = table(spark, sf_dir, "embeddings").count()
        _CORPUS_ROWS_CACHE[key] = int(n)
    return _mt_n_planes(_CORPUS_ROWS_CACHE[key])


def _multitable_assignments(
    emb: DataFrame, n_planes: int | None = None
) -> DataFrame:
    """(vec_id, embedding, table_id, bucket) — one row per table.

    All T×P plane dot products run in one Arrow-batched pandas stage
    (a JVM higher-order-function fold measured ~10× slower — HOFs are
    interpreted per element); posexplode emits the T per-table rows.
    At 100 TB (table_id, bucket) doubles as the physical partition key
    of the ANN index table.

    ``n_planes`` defaults to the corpus-size-adaptive count
    (``_mt_n_planes`` over a count() job) — sf_dir-level callers pass
    ``corpus_n_planes(spark, sf_dir)`` instead, which caches the
    corpus row count per sf_dir (parquet footer metadata locally), so
    repeated index builds never re-scan just to size the planes.
    """
    if n_planes is None:
        n_planes = _mt_n_planes(emb.count())
    # r16: spread only when the scan is parallelism-starved (guide
    # §2.4; fires at every fixture scale, never at cluster scale)
    return spread_if_few_splits(emb.sparkSession, emb, "vec_id").select(
        "vec_id",
        "embedding",
        _mt_buckets_udf(n_planes)(F.col("embedding")).alias("bks"),
    ).select(
        "vec_id",
        "embedding",
        F.posexplode("bks").alias("table_id", "bucket"),
    )


def sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each query vector.

    The query side (≤ ``_N_QUERIES`` vectors — bounded model-side
    state, same class as the k-means centroids) is collected and
    closed over by one ``mapInPandas`` scorer: the corpus streams
    through ONCE and only (neighbor_id, query_id, cos) triples come
    back — never embedding pairs. The earlier broadcast-join form
    materialized corpus×queries rows each carrying BOTH 64-float
    embeddings through Arrow (~1 GB at sf1 for 5 MB of input); this
    shape ships 5 MB in and 200k skinny rows out. Per-dimension fold
    accumulation keeps every cosine bit-identical to the HOF/oracle
    form (the _fold_buckets contract).
    """
    emb = table(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    q_ids = [int(r["vec_id"]) for r in qrows]
    q_mat = [[float(x) for x in r["embedding"]] for r in qrows]

    def score(batches):
        qm = np.asarray(q_mat, dtype=np.float64)
        qn_acc = np.zeros(len(qm))
        for d in range(qm.shape[1]):
            qn_acc += qm[:, d] * qm[:, d]
        qn = np.sqrt(qn_acc)
        qi = np.asarray(q_ids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((m.shape[0], qm.shape[0]))
            nacc = np.zeros(m.shape[0])
            for d in range(m.shape[1]):
                acc += m[:, [d]] * qm[:, d]
                nacc += m[:, d] * m[:, d]
            cos = acc / (np.sqrt(nacc)[:, None] * qn[None, :])
            nid = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "neighbor_id": np.repeat(nid, len(qi)),
                    "query_id": np.tile(qi, len(nid)),
                    "cos": cos.ravel(),
                }
            )

    scored = (
        emb.select("vec_id", "embedding")
        .mapInPandas(score, "neighbor_id BIGINT, query_id BIGINT, cos DOUBLE")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(F.col("cos"), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos", "rk")
        .orderBy("query_id", "rk")
    )


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket assignment + occupancy (the ANN index layout)."""
    emb = table(spark, sf_dir, "embeddings")
    assigned = emb.withColumn("bucket", _single_bucket_udf(F.col("embedding")))
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("bucket")
    )


def sim_lsh_pairs(
    spark: SparkSession, sf_dir: str, threshold: float | None = None
) -> DataFrame:
    """ANN candidate pairs: same bucket, verified cosine ≥ threshold.

    Single-table 8-plane form — kept as the simple baseline; the
    honest scale path is ``sim_lsh_multitable_pairs`` (4-table AND/OR
    with size-adaptive planes: bounded buckets ⇒ Σ bucket² stays
    near-linear, with recall recovered across tables)."""
    if threshold is None:
        threshold = _LSH_COSINE_THRESHOLD
    emb = spread_if_few_splits(
        spark, table(spark, sf_dir, "embeddings"), "vec_id"
    ).withColumn(
        "bucket", _single_bucket_udf(F.col("embedding"))
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("bucket").alias("ba"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("bucket").alias("bb"),
    )
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos", F.round(pair_cosine(F.col("ea"), F.col("eb")), 6))
        .where(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.col("ba").alias("bucket"), "cos")
    )


def sim_lsh_pairs_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table LSH pairs at the 0.3 verify threshold — the
    non-vacuous registered form: the 0.5 production threshold has no
    qualifying pairs in the synthetic fixture at gate scale, so
    registering it would value-verify an empty set. Same plan,
    real rows."""
    return sim_lsh_pairs(spark, sf_dir, _MT_COSINE_THRESHOLD)


_MT_COSINE_THRESHOLD = 0.3


def sim_lsh_multitable_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index layout of the banded multi-table LSH: per-table bucket
    occupancy. This is the honest-ANN path: 4 tables ×
    size-adaptive planes (AND/OR construction) instead of one fixed
    8-plane table."""
    emb = table(spark, sf_dir, "embeddings")
    asg = _multitable_assignments(emb, corpus_n_planes(spark, sf_dir))
    return (
        asg.groupBy("table_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("table_id", "bucket")
    )


def sim_lsh_multitable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN near-pairs via multi-table LSH: candidates collide in ANY
    table (OR), verified with exact cosine.

    The candidate join is per (table_id, bucket) — Σ bucket² per
    table, with the size-adaptive plane count (``_mt_n_planes``)
    holding mean bucket occupancy constant so Σ bucket² stays ~n·B at
    every scale; the distinct collapses cross-table duplicates before
    the (cheap, broadcastable) embedding re-join for verification.
    """
    emb = table(spark, sf_dir, "embeddings")
    asg = _multitable_assignments(
        emb, corpus_n_planes(spark, sf_dir)
    ).select("vec_id", "table_id", "bucket")
    a = asg.select(
        F.col("vec_id").alias("vec_a"), "table_id", "bucket"
    )
    b = asg.select(
        F.col("vec_id").alias("vec_b"), "table_id", "bucket"
    )
    cand = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", F.round(pair_cosine(F.col("ea"), F.col("eb")), 6))
        .where(F.col("cos") >= _MT_COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cos")
    )


_N_CELLS = 16
_IVF_TOP_K = 3


def ivf_centroids(n_cells: int = _N_CELLS, dim: int = _DIM) -> list[list[float]]:
    """Deterministic pseudo-centroids from md5 (stand-in for k-means
    training — the assignment/search plumbing is what matters here and
    is identical once real centroids are plugged in)."""
    return [
        [
            (int(hashlib.md5(f"iv:{c}:{d}".encode()).hexdigest()[:2], 16) - 127.5)
            / 256.0
            for d in range(dim)
        ]
        for c in range(n_cells)
    ]


def _ivf_cell_col(emb_col) -> F.Column:
    """argmin-distance cell id (1-based), deterministic first-min
    tiebreak; all math is left-fold double — identical in the oracle."""
    dists = []
    for cent in ivf_centroids():
        c = F.array(*[F.lit(x) for x in cent])
        diffs = F.zip_with(
            F.transform(emb_col, lambda x: x.cast("double")),
            c,
            lambda x, y: (x - y) * (x - y),
        )
        dists.append(F.aggregate(diffs, F.lit(0.0), lambda a, x: a + x))
    darr = F.array(*dists)
    return F.array_position(darr, F.array_min(darr)).cast("int")


def sim_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index layout: cell occupancy (coarse-quantizer rollup)."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("cell", _ivf_cell_col(F.col("embedding")))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("cell")
    )


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: each query searches ONLY its own cell (nprobe=1).

    The scan side is partitioned by cell — at 100 TB the cell id is
    the table's physical partition key, so a query touches 1/k of the
    data; accuracy/nprobe tradeoffs are the standard IVF knobs.
    """
    emb = table(spark, sf_dir, "embeddings").withColumn(
        "cell", _ivf_cell_col(F.col("embedding"))
    )
    queries = F.broadcast(
        emb.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("cell").alias("qcell"),
        )
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ne"),
            "cell",
        )
        .join(queries, F.col("cell") == F.col("qcell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(pair_cosine(F.col("qe"), F.col("ne")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _IVF_TOP_K)
        .select("query_id", "neighbor_id", F.col("cell"), "cos", "rk")
        .orderBy("query_id", "rk")
    )


_KMEANS_ROUNDS = 2
_NPROBE = 2


def _cell_for_centroids(emb_col, cents: list[tuple[int, list[float]]]) -> F.Column:
    """argmin-distance cell id over explicit (cell_id, centroid)
    pairs, Arrow-vectorized (the earlier per-centroid HOF fold chain
    evaluated k×dim interpreted ops per row — the dominant cost of
    k-means training at sf1). First-min tiebreak lands on the
    smallest id: centroids are laid out in ascending id order and
    ``argmin`` returns the first minimal index, matching the oracle's
    ascending evaluation. The per-dimension accumulation loop keeps
    every partial sum the same IEEE double as the oracle's explicit
    `+` chains (the _fold_buckets contract)."""
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([c for _, c in cents], dtype=np.float64)  # (k, dim)

    @pandas_udf(IntegerType())
    def _udf(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype="int32")
        m = np.vstack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        acc = np.zeros((m.shape[0], cmat.shape[0]))
        for d in range(m.shape[1]):
            diff = m[:, [d]] - cmat[:, d]
            acc += diff * diff
        return pd.Series(ids[np.argmin(acc, axis=1)].astype(np.int32))

    return _udf(emb_col)


#: Power-of-two fixed-point scale for the k-means update sums.
#: ``floor(v * 2^40)`` is EXACT and engine-independent: multiplying a
#: double by a power of two never rounds, floor of the identical
#: double is the identical integer in numpy and SQL, and integer sums
#: are order-free — so the oracle replays the update bit-for-bit with
#: plain BIGINT arithmetic. (A 10^-12 decimal grid would NOT be safe
#: here: embedding floats aren't decimal-aligned, and the FP product
#: v·10¹² rounds differently than exact decimal conversion near grid
#: midpoints — measured ~1 in 10⁴ elements.)
_KMEANS_SCALE = float(2**40)
_KMEANS_SCALE_INV = 2.0**-40


def _round_partials_fn(cents: list[tuple[int, list[float]]]):
    """mapInPandas body for ONE Lloyd round: per Arrow batch, assign
    each vector to its argmin cell (identical fold/tiebreak contract
    as ``_cell_for_centroids``) and emit per-(cell, dim) partial sums
    of ``floor(v·2^40)`` longs plus member counts — at most k×dim
    rows per batch, regardless of batch size."""
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([c for _, c in cents], dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((m.shape[0], cmat.shape[0]))
            for d in range(m.shape[1]):
                diff = m[:, [d]] - cmat[:, d]
                acc += diff * diff
            cells = ids[np.argmin(acc, axis=1)]
            scaled = np.floor(m * _KMEANS_SCALE).astype(np.int64)
            out_cell, out_pos, out_s, out_n = [], [], [], []
            for cid in np.unique(cells):
                sel = scaled[cells == cid]
                sums = sel.sum(axis=0, dtype=np.int64)
                out_cell.extend([int(cid)] * sel.shape[1])
                out_pos.extend(range(sel.shape[1]))
                out_s.extend(int(x) for x in sums)
                out_n.extend([sel.shape[0]] * sel.shape[1])
            yield pd.DataFrame(
                {"cell": out_cell, "pos": out_pos, "s": out_s, "n": out_n}
            )

    return fn


def kmeans_train(
    spark: SparkSession, sf_dir: str, rounds: int = _KMEANS_ROUNDS
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over the embedding corpus, Spark-first.

    Per round, ONE fused Arrow stage (``_round_partials_fn``) does
    assignment AND per-batch partial aggregation: each batch emits at
    most k×dim (cell, dim, Σfloor(v·2^40), n) rows, so the shuffle
    carries ~#batches×k×dim tiny rows instead of the corpus×dim
    explode the earlier form shuffled (12.8M rows/round at sf10 —
    that plus its DECIMAL(38,12) per-element sums dominated training).
    The tiny final aggregate sums partials as DECIMAL(38,0) — exact at
    any corpus size (per-batch long partials are bounded by
    batch×2^40 ≈ 1e16) — and the mean (sum·2^-40)/n is bit-identical
    in any engine: see ``_KMEANS_SCALE``. Only k×dim aggregated means
    ever reach the driver (16×64 here), never corpus rows: rounds
    scan the data, the driver holds centers. Cells that lose all
    members drop out (ids stay stable). This is MLlib KMeans'
    aggregateByKey shape with a cross-engine-exact accumulator.
    """
    emb = table(spark, sf_dir, "embeddings")
    cents = list(enumerate(ivf_centroids(), start=1))
    for _ in range(rounds):
        partials = emb.select("embedding").mapInPandas(
            _round_partials_fn(cents),
            schema="cell int, pos int, s long, n long",
        )
        means = partials.groupBy("cell", "pos").agg(
            (
                F.sum(F.col("s").cast("decimal(38,0)")).cast("double")
                * F.lit(_KMEANS_SCALE_INV)
                / F.sum("n").cast("double")
            ).alias("m")
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means.collect():  # ≤ k×dim rows — model state, not data
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        cents = [
            (cid, [by_cell[cid][d] for d in range(_DIM)])
            for cid in sorted(by_cell)
        ]
    return cents


def _probe_cells_col(
    emb_col, cents: list[tuple[int, list[float]]], nprobe: int = _NPROBE
) -> F.Column:
    """The ``nprobe`` nearest cell ids for a query vector: per-cell
    distances (same left-fold chain as ``_cell_for_centroids``) packed
    into (dist, cell) structs, array_sort's lexicographic struct order
    gives the (dist, cell) tiebreak, slice keeps the first nprobe."""
    entries = []
    for cid, cent in cents:
        c = F.array(*[F.lit(x) for x in cent])
        diffs = F.zip_with(
            F.transform(emb_col, lambda x: x.cast("double")),
            c,
            lambda x, y: (x - y) * (x - y),
        )
        d = F.aggregate(diffs, F.lit(0.0), lambda a, x: a + x)
        entries.append(F.struct(d.alias("d"), F.lit(cid).alias("c")))
    ranked = F.slice(F.array_sort(F.array(*entries)), 1, nprobe)
    return F.transform(ranked, lambda s: s["c"])


def sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with REAL trained centroids and multi-probe search.

    The production IVF path: centroids come from ``kmeans_train`` (2
    deterministic Lloyd rounds — the oracle replays the identical
    iterations), the corpus is assigned once (at 100 TB the cell id is
    the table's physical partition key), and each query probes its
    ``_NPROBE`` nearest cells instead of one — the standard recall
    knob; nprobe=1 on a trained quantizer still misses neighbors that
    fall just across a cell boundary. Queries (with their probe lists
    exploded) are broadcast; the scan side is touched once and only
    matching cells survive the join — per-query cost is
    Σ probed-cell sizes, never the corpus.
    """
    cents = kmeans_train(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        _cell_for_centroids(F.col("embedding"), cents).alias("cell"),
    )
    queries = F.broadcast(
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            _probe_cells_col(F.col("embedding"), cents).alias("probe_cells"),
        )
        .select("query_id", "qe", F.explode("probe_cells").alias("qcell"))
    )
    scored = (
        assigned.join(queries, F.col("cell") == F.col("qcell"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(pair_cosine(F.col("qe"), F.col("ne")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _IVF_TOP_K)
        .select("query_id", "neighbor_id", "cell", "cos", "rk")
        .orderBy("query_id", "rk")
    )


def save_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    model_dir: str,
    rounds: int = _KMEANS_ROUNDS,
) -> None:
    """Train and PERSIST the IVF index: centroids as a tiny parquet
    model table, the corpus assigned and written partitioned BY CELL.

    This is the amortized production shape sim_ivf_trained_topk's
    docstring promises: training scans happen once here; at serve
    time each query touches only its ``nprobe`` cell partitions —
    partition pruning does the cell restriction before any I/O, the
    same mechanism as the date-partitioned event tables.
    """
    import os

    cents = kmeans_train(spark, sf_dir, rounds)
    cent_rows = [
        (cid, pos, val)
        for cid, cent in cents
        for pos, val in enumerate(cent)
    ]
    spark.createDataFrame(
        cent_rows, "cell INT, pos INT, val DOUBLE"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(model_dir, "centroids")
    )
    emb = table(spark, sf_dir, "embeddings")
    (
        emb.withColumn(
            "cell", _cell_for_centroids(F.col("embedding"), cents)
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(model_dir, "corpus_by_cell"))
    )


def load_ivf_centroids(
    spark: SparkSession, model_dir: str
) -> list[tuple[int, list[float]]]:
    """Centroids back from the model table (k×dim rows — model state,
    not data)."""
    import os

    rows = spark.read.parquet(os.path.join(model_dir, "centroids")).collect()
    by_cell: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], {})[r["pos"]] = r["val"]
    return [
        (cid, [d[p] for p in sorted(d)])
        for cid, d in sorted(by_cell.items())
    ]


def ivf_search_saved(
    spark: SparkSession,
    model_dir: str,
    queries: DataFrame,
    k: int = _IVF_TOP_K,
    nprobe: int = _NPROBE,
) -> DataFrame:
    """Serve top-k ANN from a PERSISTED IVF index (save_ivf_index).

    ``queries`` is any (query_id, embedding) frame. Probe-cell ids are
    computed from the loaded centroids and joined against the
    cell-partitioned corpus — the join key is the PARTITION column, so
    only probed cell directories are read (asserted in
    tests/test_similarity_ivf.py via input_file_name).
    """
    import os

    cents = load_ivf_centroids(spark, model_dir)
    corpus = spark.read.parquet(os.path.join(model_dir, "corpus_by_cell"))
    probed = F.broadcast(
        queries.select(
            "query_id",
            F.col("embedding").alias("qe"),
            _probe_cells_col(F.col("embedding"), cents, nprobe).alias(
                "probe_cells"
            ),
        ).select("query_id", "qe", F.explode("probe_cells").alias("qcell"))
    )
    scored = (
        corpus.join(probed, F.col("cell") == F.col("qcell"))
        .where(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "cos", F.round(pair_cosine(F.col("qe"), F.col("embedding")), 6)
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            "cos",
            "rk",
        )
    )


def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer with REAL k-means training (2 Lloyd
    rounds from the deterministic seed centroids), then the final
    cell layout: occupancy + centroid L2 norm per cell. Upgrades the
    pseudo-centroid stand-in: the oracle replays the identical
    iterations (unrolled SQL), proving assignment AND update math
    match across engines bit-for-bit."""
    cents = kmeans_train(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    norms = {
        cid: sum(x * x for x in cent) for cid, cent in cents
    }  # left-fold, same order as the oracle's explicit chain
    norm_map = F.create_map(
        *[F.lit(v) for cid in sorted(norms) for v in (cid, norms[cid])]
    )
    return (
        emb.withColumn("cell", _cell_for_centroids(F.col("embedding"), cents))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .withColumn(
            "centroid_l2", F.round(F.sqrt(norm_map[F.col("cell")]), 6)
        )
        .orderBy("cell")
    )


QUERIES = {
    "sim_brute_topk": sim_brute_topk,
    "sim_ivf_cells": sim_ivf_cells,
    "sim_ivf_kmeans": sim_ivf_kmeans,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_trained_topk": sim_ivf_trained_topk,
    "sim_lsh_buckets": sim_lsh_buckets,
    "sim_lsh_pairs": sim_lsh_pairs,
    "sim_lsh_pairs_verify": sim_lsh_pairs_verify,
    "sim_lsh_multitable_buckets": sim_lsh_multitable_buckets,
    "sim_lsh_multitable_pairs": sim_lsh_multitable_pairs,
}

#: Locally oracle-checked, not driver-registered (50-entry budget):
#: each is the intermediate stage of a registered end-to-end query
#: (buckets→pairs, cells→topk) so the machinery is still driver-
#: verified through its consumer.
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
    "sim_brute_topk",
    "sim_ivf_cells",
    "sim_ivf_kmeans",
    "sim_ivf_topk",
    "sim_ivf_trained_topk",
    "sim_ivfpq_topk",
    "sim_lsh_buckets",
    "sim_lsh_multitable_buckets",
    # r16: sim_lsh_multitable_pairs rotated IN (changed-code rule —
    # _multitable_assignments' spread became conditional this round)
    # r15 gate hygiene (VERDICT r14 ask #4): sim_lsh_pairs returns 0
    # rows at the 0.5 production threshold on every gate fixture —
    # its row-producing _verify twin (0.3 threshold, same plan)
    # registers in its place so the driver value-checks real rows.
    "sim_lsh_pairs",
    "sim_pq_topk",
}


# ------------------------------------------- IVF-PQ (residual coding)


def _ivfpq_round_partials_fn(cents, codebooks):
    """One Lloyd round of the RESIDUAL codebooks: per Arrow batch,
    assign each vector to its IVF cell, subtract that centroid, then
    per subspace emit the same fixed-point partials as
    _pq_round_partials_fn — coarse assignment and residual-PQ update
    fused into one scan."""
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([c for _, c in cents], dtype=np.float64)
    mats = [np.array(cb, dtype=np.float64) for cb in codebooks]

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((m.shape[0], cmat.shape[0]))
            for d in range(m.shape[1]):
                diff = m[:, [d]] - cmat[:, d]
                acc += diff * diff
            resid = m - cmat[np.argmin(acc, axis=1)]
            out: dict[str, list] = {
                "sub": [], "code": [], "pos": [], "s": [], "n": []
            }
            for j, cb in enumerate(mats):
                sv = resid[:, j * _PQ_SUB:(j + 1) * _PQ_SUB]
                a2 = np.zeros((sv.shape[0], cb.shape[0]))
                for d in range(sv.shape[1]):
                    diff = sv[:, [d]] - cb[:, d]
                    a2 += diff * diff
                codes = np.argmin(a2, axis=1)
                scaled = np.floor(sv * _KMEANS_SCALE).astype(np.int64)
                for c in np.unique(codes):
                    sel = scaled[codes == c]
                    sums = sel.sum(axis=0, dtype=np.int64)
                    out["sub"].extend([j] * sel.shape[1])
                    out["code"].extend([int(c)] * sel.shape[1])
                    out["pos"].extend(range(sel.shape[1]))
                    out["s"].extend(int(x) for x in sums)
                    out["n"].extend([sel.shape[0]] * sel.shape[1])
            yield pd.DataFrame(out)

    return fn


def ivfpq_train(
    spark: SparkSession,
    sf_dir: str,
    kmeans_rounds: int = _KMEANS_ROUNDS,
    pq_rounds: int = 2,
):
    """Train the FAISS-style IVF-PQ index: Lloyd IVF centroids
    (kmeans_train), then PQ codebooks over the RESIDUALS v − c(v)
    (residual magnitudes are what's left after the coarse quantizer,
    so the same code budget buys far less quantization error than
    PQ on raw vectors). One fused scan per residual round; the same
    cross-engine-exact fixed-point accumulator throughout. Returns
    (cents, codebooks)."""
    cents = kmeans_train(spark, sf_dir, rounds=kmeans_rounds)
    emb = table(spark, sf_dir, "embeddings")
    cbs = pq_seed_codebooks()
    for _ in range(pq_rounds):
        partials = emb.select("embedding").mapInPandas(
            _ivfpq_round_partials_fn(cents, cbs),
            schema="sub int, code int, pos int, s long, n long",
        )
        means = partials.groupBy("sub", "code", "pos").agg(
            (
                F.sum(F.col("s").cast("decimal(38,0)")).cast("double")
                * F.lit(_KMEANS_SCALE_INV)
                / F.sum("n").cast("double")
            ).alias("m")
        )
        got: dict[tuple, dict[int, float]] = {}
        for r in means.collect():  # model state, ≤ k×dim rows
            got.setdefault((r["sub"], r["code"]), {})[r["pos"]] = r["m"]
        cbs = [
            [
                [got[(j, c)][d] for d in range(_PQ_SUB)]
                if (j, c) in got
                else cbs[j][c]
                for c in range(_PQ_K)
            ]
            for j in range(_PQ_M)
        ]
    return cents, cbs


def ivfpq_encode(
    df: DataFrame, cents, codebooks, emb_col: str = "embedding"
) -> DataFrame:
    """Add (cell, pq_codes): coarse cell + residual codes in ONE
    Arrow pass. At scale the encoded table is written partitioned by
    cell, so a search touches nprobe partitions of M-int codes."""
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([c for _, c in cents], dtype=np.float64)
    mats = [np.array(cb, dtype=np.float64) for cb in codebooks]

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
            acc = np.zeros((m.shape[0], cmat.shape[0]))
            for d in range(m.shape[1]):
                diff = m[:, [d]] - cmat[:, d]
                acc += diff * diff
            sel = np.argmin(acc, axis=1)
            resid = m - cmat[sel]
            cols = []
            for j, cb in enumerate(mats):
                sv = resid[:, j * _PQ_SUB:(j + 1) * _PQ_SUB]
                a2 = np.zeros((sv.shape[0], cb.shape[0]))
                for d in range(sv.shape[1]):
                    diff = sv[:, [d]] - cb[:, d]
                    a2 += diff * diff
                cols.append(np.argmin(a2, axis=1).astype(np.int32))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": ids[sel].astype(np.int32),
                    "pq_codes": list(np.stack(cols, axis=1)),
                }
            )

    return df.select("vec_id", emb_col).mapInPandas(
        enc, "vec_id long, cell int, pq_codes array<int>"
    )


def ivfpq_topk(
    encoded: DataFrame,
    cents,
    codebooks,
    query: list[float],
    k: int = _TOP_K,
    nprobe: int = _NPROBE,
) -> DataFrame:
    """IVF-PQ ADC search: probe the ``nprobe`` nearest cells (driver
    math over k centroids — model state), and inside them score
    ``|| (q − c_cell) − pq(residual) ||²`` with a PER-CELL literal
    LUT picked by a when-chain over the probed cells. The cell filter
    is the partition-pruning predicate at scale; the scan side is
    pure codegen lookups over the code column; top-k is
    TakeOrderedAndProject."""
    q = np.array(query, dtype=np.float64)
    cmat = {cid: np.array(c) for cid, c in cents}
    order = sorted(
        cmat, key=lambda cid: (((q - cmat[cid]) ** 2).sum(), cid)
    )
    probes = order[:nprobe]

    def lut_for(cid):
        rq = q - cmat[cid]
        parts = []
        for j, cb in enumerate(codebooks):
            qj = rq[j * _PQ_SUB:(j + 1) * _PQ_SUB]
            row = []
            for cent in cb:
                s = 0.0
                for a, b in zip(qj, cent):
                    s = s + (a - b) * (a - b)
                row.append(s)
            parts.append(row)
        return parts

    dist = None
    for cid in probes:
        lut = lut_for(cid)
        terms = [
            F.element_at(
                F.array(*[F.lit(x) for x in lut[j]]),
                F.element_at(F.col("pq_codes"), j + 1) + F.lit(1),
            )
            for j in range(_PQ_M)
        ]
        d = terms[0]
        for t in terms[1:]:
            d = d + t
        dist = (
            F.when(F.col("cell") == cid, d)
            if dist is None
            else dist.when(F.col("cell") == cid, d)
        )
    return (
        encoded.where(F.col("cell").isin([int(c) for c in probes]))
        .select("vec_id", "cell", dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def _fold_l2(a: list[float], b: list[float]) -> float:
    """Driver-side L2² as an explicit LEFT FOLD — the exact FP
    addition order the oracle SQL's ``+`` chains replay (np.sum's
    pairwise summation would differ in the last ulp)."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + (x - y) * (x - y)
    return s


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN end-to-end: train coarse centroids + residual
    codebooks (ivfpq_train), encode the corpus once (at scale the
    encoded table is written partitioned BY CELL — nprobe cells is a
    partition-pruning predicate), then answer the ``_N_QUERIES``
    demo queries with per-cell literal ADC LUTs (driver math over
    model state, pure codegen lookups scan-side) and one window
    rank. Oracle-registered (r12): the DuckDB oracle replays the
    coarse Lloyd rounds, the residual codebook rounds, the encoding
    and the per-cell LUT scoring bit-for-bit — see
    ``_ivfpq_topk_oracle_sql``."""
    cents, cbs = ivfpq_train(spark, sf_dir)
    cmat = {cid: c for cid, c in cents}
    emb = table(spark, sf_dir, "embeddings")
    encoded = ivfpq_encode(emb, cents, cbs).localCheckpoint(eager=True)
    qrows = sorted(
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    scored = None
    for r in qrows:
        q = [float(x) for x in r["embedding"]]
        order = sorted(
            ((_fold_l2(q, c), cid) for cid, c in cents)
        )
        probes = [cid for _, cid in order[:_NPROBE]]
        dist = None
        for cid in probes:
            rq = [a - b for a, b in zip(q, cmat[cid])]
            terms = []
            for j, cb in enumerate(cbs):
                qj = rq[j * _PQ_SUB:(j + 1) * _PQ_SUB]
                terms.append(
                    F.element_at(
                        F.array(*[F.lit(_fold_l2(qj, cent)) for cent in cb]),
                        F.element_at(F.col("pq_codes"), j + 1) + F.lit(1),
                    )
                )
            d = terms[0]
            for t in terms[1:]:
                d = d + t
            dist = (
                F.when(F.col("cell") == cid, d)
                if dist is None
                else dist.when(F.col("cell") == cid, d)
            )
        one = encoded.where(
            F.col("cell").isin([int(c) for c in probes])
        ).select(
            F.lit(int(r["vec_id"])).alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell"),
            F.round(dist, 6).alias("adc_dist"),
        )
        scored = one if scored is None else scored.unionByName(one)
    scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cell", "adc_dist", "rk")
        .orderBy("query_id", "rk")
    )


# ------------------------------------------------- product quantization

_PQ_M = 16  # subspaces (4 dims each: fine-grained enough for the
#             near-isotropic fixture embeddings — 16-dim subspaces at
#             k=16 measured recall@10 ≈ 0.15, 4-dim ≈ 0.8+)
_PQ_K = 16  # codes per subspace
_PQ_SUB = _DIM // _PQ_M
_PQ_ROUNDS = 2


def pq_seed_codebooks() -> list[list[list[float]]]:
    """Deterministic md5 seed codebooks, one per subspace — the same
    engine-portable-seed convention as ivf_centroids/hyperplanes."""
    return [
        [
            [
                (
                    int(
                        hashlib.md5(f"pq:{j}:{c}:{d}".encode()).hexdigest()[
                            :2
                        ],
                        16,
                    )
                    - 127.5
                )
                / 256.0
                for d in range(_PQ_SUB)
            ]
            for c in range(_PQ_K)
        ]
        for j in range(_PQ_M)
    ]


def _pq_round_partials_fn(codebooks):
    """ONE Lloyd round for ALL subspaces in one corpus scan: per
    Arrow batch and per subspace, assign each SUBvector to its argmin
    code and emit (sub, code, pos, Σfloor(v·2^40), n) partials — at
    most M×k×(dim/M) = k×dim rows per batch, the kmeans_train shape
    applied per subspace (same exact fixed-point accumulator, see
    _KMEANS_SCALE)."""
    mats = [np.array(cb, dtype=np.float64) for cb in codebooks]

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            out: dict[str, list] = {
                "sub": [], "code": [], "pos": [], "s": [], "n": []
            }
            for j, cmat in enumerate(mats):
                sv = m[:, j * _PQ_SUB:(j + 1) * _PQ_SUB]
                acc = np.zeros((sv.shape[0], cmat.shape[0]))
                for d in range(sv.shape[1]):
                    diff = sv[:, [d]] - cmat[:, d]
                    acc += diff * diff
                codes = np.argmin(acc, axis=1)
                scaled = np.floor(sv * _KMEANS_SCALE).astype(np.int64)
                for c in np.unique(codes):
                    sel = scaled[codes == c]
                    sums = sel.sum(axis=0, dtype=np.int64)
                    out["sub"].extend([j] * sel.shape[1])
                    out["code"].extend([int(c)] * sel.shape[1])
                    out["pos"].extend(range(sel.shape[1]))
                    out["s"].extend(int(x) for x in sums)
                    out["n"].extend([sel.shape[0]] * sel.shape[1])
            yield pd.DataFrame(out)

    return fn


def pq_train(
    spark: SparkSession, sf_dir: str, rounds: int = _PQ_ROUNDS
) -> list[list[list[float]]]:
    """Train the M per-subspace codebooks (Lloyd's), all subspaces in
    one fused scan per round. Only M×k×(dim/M) aggregated means ever
    reach the driver (= k×dim floats — model state); a code that
    loses all members keeps its previous centroid (stable ids). Same
    cross-engine-exact accumulator as kmeans_train."""
    emb = table(spark, sf_dir, "embeddings")
    cbs = pq_seed_codebooks()
    for _ in range(rounds):
        partials = emb.select("embedding").mapInPandas(
            _pq_round_partials_fn(cbs),
            schema="sub int, code int, pos int, s long, n long",
        )
        means = partials.groupBy("sub", "code", "pos").agg(
            (
                F.sum(F.col("s").cast("decimal(38,0)")).cast("double")
                * F.lit(_KMEANS_SCALE_INV)
                / F.sum("n").cast("double")
            ).alias("m")
        )
        got: dict[tuple, dict[int, float]] = {}
        for r in means.collect():  # ≤ k×dim rows — model state
            got.setdefault((r["sub"], r["code"]), {})[r["pos"]] = r["m"]
        cbs = [
            [
                [got[(j, c)][d] for d in range(_PQ_SUB)]
                if (j, c) in got
                else cbs[j][c]
                for c in range(_PQ_K)
            ]
            for j in range(_PQ_M)
        ]
    return cbs


def pq_encode(
    df: DataFrame, codebooks, emb_col: str = "embedding"
) -> DataFrame:
    """Add ``pq_codes`` (array<int>, length M): per-subspace argmin
    code, Arrow-vectorized. At 100 TB the encoded corpus is what a
    search fleet holds — M small ints per vector instead of dim
    floats (here 4 vs 64: a 97% working-set cut at byte codes)."""
    mats = [np.array(cb, dtype=np.float64) for cb in codebooks]

    @pandas_udf(ArrayType(IntegerType()))
    def _codes(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype=object)
        m = np.vstack(emb.to_numpy()).astype(np.float64)
        cols = []
        for j, cmat in enumerate(mats):
            sv = m[:, j * _PQ_SUB:(j + 1) * _PQ_SUB]
            acc = np.zeros((sv.shape[0], cmat.shape[0]))
            for d in range(sv.shape[1]):
                diff = sv[:, [d]] - cmat[:, d]
                acc += diff * diff
            cols.append(np.argmin(acc, axis=1).astype(np.int32))
        stacked = np.stack(cols, axis=1)
        return pd.Series(list(stacked))

    return df.withColumn("pq_codes", _codes(F.col(emb_col)))


def pq_adc_distance(codes_col, query: list[float], codebooks):
    """Asymmetric distance: LUT[j][c] = ||q_j − cb[j][c]||² computed
    once driver-side (M×k floats — model state), inlined as literal
    arrays; the scan-side expression is Σ_j LUT[j][codes[j]] — pure
    codegen'd lookups over the code column, no vector math per row."""
    parts = []
    for j, cb in enumerate(codebooks):
        qj = query[j * _PQ_SUB:(j + 1) * _PQ_SUB]
        row = []
        for cent in cb:
            s = 0.0
            for a, b in zip(qj, cent):  # left fold, the oracle order
                s = s + (a - b) * (a - b)
            row.append(s)
        parts.append(
            F.element_at(
                F.array(*[F.lit(x) for x in row]),
                F.element_at(codes_col, j + 1) + F.lit(1),
            )
        )
    d = parts[0]
    for p in parts[1:]:
        d = d + p
    return d


def pq_topk(
    encoded: DataFrame,
    query: list[float],
    codebooks,
    k: int = _TOP_K,
) -> DataFrame:
    """Top-k by ADC distance for ONE query: orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k + driver merge — never
    a global sort of the encoded corpus)."""
    d = pq_adc_distance(F.col("pq_codes"), query, codebooks)
    return (
        encoded.select("vec_id", d.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def pq_topk_refined(
    encoded: DataFrame,
    emb: DataFrame,
    query: list[float],
    codebooks,
    k: int = _TOP_K,
    shortlist: int = 100,
) -> DataFrame:
    """Two-stage PQ search — the production shape: (1) ADC shortlist
    over the compressed codes (TakeOrderedAndProject on M small ints
    per row), (2) exact L2 re-rank of ONLY the shortlist via a
    broadcast semi-join back to the full vectors. The full-precision
    corpus is touched for ``shortlist`` rows per query; the scan-side
    working set is the code column. On the fixture the 100-row
    shortlist contains 94% of the exact top-10 (test-pinned); at a
    fixed quantizer quality the shortlist size is the recall knob."""
    short = pq_topk(encoded, query, codebooks, k=shortlist).select(
        "vec_id"
    )
    qarr = F.array(*[F.lit(float(x)) for x in query])
    diffs = F.zip_with(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        qarr,
        lambda x, y: (x - y) * (x - y),
    )
    d = F.aggregate(diffs, F.lit(0.0), lambda a, x: a + x)
    return (
        emb.join(F.broadcast(short), "vec_id")
        .select("vec_id", d.alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search demo over the fixture: train, encode once, answer
    the _N_QUERIES query vectors with one scored scan + per-query
    rank (the brute-topk output shape, distances instead of cosines).

    Oracle-registered (r12): the whole chain is deterministic —
    md5-seeded codebooks, fixed-point Lloyd rounds, argmin encoding,
    literal ADC LUTs — so the DuckDB oracle replays every stage
    bit-for-bit (``_pq_topk_oracle_sql``); recall/bit-identity pins
    live in tests/test_similarity_pq.py."""
    cbs = pq_train(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    # the encoded corpus is the persisted index at scale; checkpoint
    # so the 10 per-query branches read codes, not re-encode
    encoded = (
        pq_encode(emb.select("vec_id", "embedding"), cbs)
        .select("vec_id", "pq_codes")
        .localCheckpoint(eager=True)
    )
    qrows = sorted(
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    scored = None
    for r in qrows:
        d = pq_adc_distance(
            F.col("pq_codes"), [float(x) for x in r["embedding"]], cbs
        )
        one = encoded.select(
            F.lit(int(r["vec_id"])).alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(d, 6).alias("adc_dist"),
        )
        scored = one if scored is None else scored.unionByName(one)
    scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rk")
        .orderBy("query_id", "rk")
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(SQRT(list_dot_product({a}, {a})) * SQRT(list_dot_product({b}, {b})))"
    )


def _bucket_sql(col: str = "e", planes: list[list[float]] | None = None) -> str:
    bits = [
        f"(CASE WHEN {_plane_dot_sql(plane, col)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(
            planes if planes is not None else hyperplanes()
        )
    ]
    return "CAST(" + " + ".join(bits) + " AS INT)"


def _dist_sql(cent: list[float], col: str = "e") -> str:
    return " + ".join(
        f"({col}[{i + 1}] - ({c})) * ({col}[{i + 1}] - ({c}))"
        for i, c in enumerate(cent)
    )


def _kmeans_ctes(rounds: int = _KMEANS_ROUNDS) -> tuple[list[str], str, str]:
    """Shared CTE chain for the unrolled Lloyd iterations: returns
    (ctes, dist_chain, norm_chain) where the final assignment CTE is
    ``a{rounds}`` (vec_id, e, cell) and the final centroid CTE is
    ``c{rounds}`` (cell, m1..m{dim}). Same seed centroids, same exact
    decimal-sum/double-count means, same explicit left-to-right
    distance chains (no SQL SUM over dims — FP addition order must
    match the Spark fold), same (dist, cell) tiebreak."""
    dims = range(1, _DIM + 1)
    # replays kmeans_train's update exactly: floor(v·2^40) longs
    # (power-of-two products never round; identical floor in every
    # engine), exact integer SUM, then (sum·2^-40)/count in the same
    # left-to-right double expression order — see _KMEANS_SCALE
    mean_cols = ", ".join(
        f"CAST(SUM(CAST(FLOOR(e[{d}] * {_KMEANS_SCALE!r}) AS BIGINT))"
        f" AS DOUBLE) * {_KMEANS_SCALE_INV!r}"
        f" / CAST(COUNT(*) AS DOUBLE) AS m{d}"
        for d in dims
    )
    dist_chain = " + ".join(
        f"(v.e[{d}] - c.m{d}) * (v.e[{d}] - c.m{d})" for d in dims
    )
    norm_chain = " + ".join(f"m{d} * m{d}" for d in dims)
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"a0 AS ({_ivf_assign_sql()})",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"c{r} AS (SELECT cell, {mean_cols} FROM a{r - 1} GROUP BY cell)"
        )
        ctes.append(
            f"d{r} AS (SELECT v.vec_id, v.e, c.cell, {dist_chain} AS dist"
            f" FROM e v CROSS JOIN c{r} c)"
        )
        ctes.append(
            f"a{r} AS (SELECT vec_id, e, cell FROM ("
            f"SELECT vec_id, e, cell, ROW_NUMBER() OVER ("
            f"PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d{r})"
            f" WHERE rn = 1)"
        )
    return ctes, dist_chain, norm_chain


def _kmeans_oracle_sql(rounds: int = _KMEANS_ROUNDS) -> str:
    """sim_ivf_kmeans oracle: final cell occupancy + centroid norms."""
    ctes, _, norm_chain = _kmeans_ctes(rounds)
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined},
        norm AS (SELECT cell, ROUND(SQRT({norm_chain}), 6) AS centroid_l2
                 FROM c{rounds})
        SELECT a.cell, COUNT(*) AS n_vectors,
               MIN(a.vec_id) AS min_vec_id, MAX(a.vec_id) AS max_vec_id,
               ANY_VALUE(n.centroid_l2) AS centroid_l2
        FROM a{rounds} a JOIN norm n ON n.cell = a.cell
        GROUP BY a.cell
        ORDER BY a.cell
    """


def _trained_topk_oracle_sql(rounds: int = _KMEANS_ROUNDS) -> str:
    """sim_ivf_trained_topk oracle: replay the training CTEs, assign
    the corpus with the final centroids (a{rounds}), rank each query's
    cells by the same explicit dist chain and keep nprobe of them,
    then exact-cosine top-k over the probed cells only."""
    ctes, dist_chain, _ = _kmeans_ctes(rounds)
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined},
        qd AS (
          SELECT v.vec_id AS query_id, v.e AS qe, c.cell, {dist_chain} AS dist
          FROM e v CROSS JOIN c{rounds} c
          WHERE v.vec_id < {_N_QUERIES}
        ),
        probe AS (
          SELECT query_id, qe, cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY dist, cell) AS rn
            FROM qd
          ) WHERE rn <= {_NPROBE}
        ),
        scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id, a.cell,
                 ROUND({_cosine_sql('p.qe', 'a.e')}, 6) AS cos
          FROM probe p JOIN a{rounds} a ON a.cell = p.cell
          WHERE a.vec_id != p.query_id
        )
        SELECT query_id, neighbor_id, cell, cos, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored
        )
        WHERE rk <= {_IVF_TOP_K}
        ORDER BY query_id, rk
    """


def _pq_seed_values_sql() -> str:
    """The md5 seed codebooks as literal VALUES rows (sub, code,
    c1..c4) — ``repr`` round-trips every double exactly."""
    rows = []
    for j, cb in enumerate(pq_seed_codebooks()):
        for c, cent in enumerate(cb):
            vals = ", ".join(repr(x) for x in cent)
            rows.append(f"({j}, {c}, {vals})")
    return ",\n          ".join(rows)


def _sub_chain(a: str, b: str) -> str:
    """4-dim L2² between column prefixes as an explicit left-to-right
    ``+`` chain — the FP addition order the engine folds in."""
    return " + ".join(
        f"({a}{d} - {b}{d}) * ({a}{d} - {b}{d})"
        for d in range(1, _PQ_SUB + 1)
    )


def _pq_cb_ctes(
    pfx: str, sv: str, rounds: int = _PQ_ROUNDS
) -> tuple[list[str], str]:
    """CTE chain training the per-subspace codebooks over subvector
    CTE ``sv`` (vec_id, sub, v1..v{_PQ_SUB}): md5 seed literals, then
    per round an argmin assignment (ROW_NUMBER with the (dist, code)
    tiebreak — np.argmin's first-minimum), the exact fixed-point
    means (see _KMEANS_SCALE), and a COALESCE grid so a code that
    loses all members keeps its previous centroid (pq_train's
    semantics). Returns (ctes, final_codebook_cte_name)."""
    mean_cols = ", ".join(
        f"CAST(SUM(CAST(FLOOR(v.v{d} * {_KMEANS_SCALE!r}) AS BIGINT))"
        f" AS DOUBLE) * {_KMEANS_SCALE_INV!r}"
        f" / CAST(COUNT(*) AS DOUBLE) AS m{d}"
        for d in range(1, _PQ_SUB + 1)
    )
    dist = _sub_chain("v.v", "c.c")
    cols = ", ".join(f"c{d}" for d in range(1, _PQ_SUB + 1))
    ctes = [
        f"{pfx}cb0(sub, code, {cols}) AS (VALUES {_pq_seed_values_sql()})"
    ]
    for r in range(1, rounds + 1):
        prev = f"{pfx}cb{r - 1}"
        ctes.append(
            f"{pfx}asg{r} AS (SELECT vec_id, sub, code FROM ("
            f"SELECT v.vec_id, v.sub, c.code, ROW_NUMBER() OVER ("
            f"PARTITION BY v.vec_id, v.sub ORDER BY {dist}, c.code) AS rn"
            f" FROM {sv} v JOIN {prev} c ON c.sub = v.sub) WHERE rn = 1)"
        )
        ctes.append(
            f"{pfx}mn{r} AS (SELECT a.sub, a.code, {mean_cols}"
            f" FROM {sv} v JOIN {pfx}asg{r} a"
            f" ON a.vec_id = v.vec_id AND a.sub = v.sub"
            f" GROUP BY a.sub, a.code)"
        )
        coal = ", ".join(
            f"COALESCE(m.m{d}, g.c{d}) AS c{d}"
            for d in range(1, _PQ_SUB + 1)
        )
        ctes.append(
            f"{pfx}cb{r} AS (SELECT g.sub, g.code, {coal}"
            f" FROM {prev} g LEFT JOIN {pfx}mn{r} m"
            f" ON m.sub = g.sub AND m.code = g.code)"
        )
    return ctes, f"{pfx}cb{rounds}"


def _pq_pivot_chain() -> tuple[str, str]:
    """(pivot column list, left-fold sum chain) for the per-subspace
    ADC parts — the pivot forces the j=0..M-1 addition order the
    engine's literal-term chain uses (SUM() would be order-free)."""
    piv = ", ".join(
        f"MAX(CASE WHEN sub = {j} THEN part END) AS p{j}"
        for j in range(_PQ_M)
    )
    chain = " + ".join(f"p{j}" for j in range(_PQ_M))
    return piv, chain


def _pq_topk_oracle_sql() -> str:
    """sim_pq_topk oracle: replay seed codebooks → 2 fixed-point
    Lloyd rounds per subspace → argmin encoding → per-query ADC LUT
    → top-k, every FP operation in the engine's exact order."""
    sub_cols = ", ".join(
        f"e[sub * {_PQ_SUB} + {d}] AS v{d}"
        for d in range(1, _PQ_SUB + 1)
    )
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings)",
        f"js AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub)",
        f"sv AS (SELECT vec_id, sub, {sub_cols} FROM e CROSS JOIN js)",
    ]
    cb_ctes, cbf = _pq_cb_ctes("pq", "sv")
    ctes += cb_ctes
    dist = _sub_chain("v.v", "c.c")
    ctes.append(
        f"codes AS (SELECT vec_id, sub, code FROM ("
        f"SELECT v.vec_id, v.sub, c.code, ROW_NUMBER() OVER ("
        f"PARTITION BY v.vec_id, v.sub ORDER BY {dist}, c.code) AS rn"
        f" FROM sv v JOIN {cbf} c ON c.sub = v.sub) WHERE rn = 1)"
    )
    ctes.append(
        f"lut AS (SELECT v.vec_id AS query_id, c.sub, c.code,"
        f" {dist} AS part FROM sv v JOIN {cbf} c ON c.sub = v.sub"
        f" WHERE v.vec_id < {_N_QUERIES})"
    )
    ctes.append(
        "parts AS (SELECT l.query_id, n.vec_id AS neighbor_id,"
        " l.sub, l.part FROM codes n"
        " JOIN lut l ON l.sub = n.sub AND l.code = n.code)"
    )
    piv, chain = _pq_pivot_chain()
    ctes.append(
        f"piv AS (SELECT query_id, neighbor_id, {piv}"
        " FROM parts GROUP BY query_id, neighbor_id)"
    )
    ctes.append(
        f"scored AS (SELECT query_id, neighbor_id,"
        f" ROUND({chain}, 6) AS adc_dist"
        " FROM piv WHERE query_id != neighbor_id)"
    )
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined}
        SELECT query_id, neighbor_id, adc_dist, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist ASC, neighbor_id ASC) AS rk
          FROM scored
        )
        WHERE rk <= {_TOP_K}
        ORDER BY query_id, rk
    """


def _ivfpq_topk_oracle_sql() -> str:
    """sim_ivfpq_topk oracle: the coarse-quantizer Lloyd rounds
    (shared _kmeans_ctes), residual subvectors v − c(v) per subspace
    (literal-index UNION ALL branches — SQL can't index m{i} columns
    dynamically), residual codebook training, encoding, per-(query,
    probed-cell) LUTs, and the same pivot-forced addition order."""
    kctes, dist_chain, _ = _kmeans_ctes()
    r_ = _KMEANS_ROUNDS
    # MATERIALIZE the shared stages: without the hint DuckDB
    # re-inlines the whole Lloyd chain into each of the 16 UNION
    # branches (and each downstream reference), which is
    # combinatorial — measured as a >100s hang at sf0.001 vs <2s
    # materialized
    ctes = [
        c.replace(f"a{r_} AS (", f"a{r_} AS MATERIALIZED (", 1)
        .replace(f"c{r_} AS (", f"c{r_} AS MATERIALIZED (", 1)
        for c in kctes
    ]
    branches = []
    for j in range(_PQ_M):
        cols = ", ".join(
            f"a.e[{j * _PQ_SUB + d}] - c.m{j * _PQ_SUB + d} AS v{d}"
            for d in range(1, _PQ_SUB + 1)
        )
        branches.append(
            f"SELECT a.vec_id, a.cell, {j} AS sub, {cols}"
            f" FROM a{r_} a JOIN c{r_} c ON c.cell = a.cell"
        )
    ctes.append(
        "rsv AS MATERIALIZED (" + " UNION ALL ".join(branches) + ")"
    )
    cb_ctes, cbf = _pq_cb_ctes("rpq", "rsv")
    ctes += [
        c.replace(" AS (SELECT", " AS MATERIALIZED (SELECT", 1)
        for c in cb_ctes
    ]
    dist = _sub_chain("v.v", "c.c")
    ctes.append(
        f"codes AS MATERIALIZED (SELECT vec_id, cell, sub, code FROM ("
        f"SELECT v.vec_id, v.cell, v.sub, c.code, ROW_NUMBER() OVER ("
        f"PARTITION BY v.vec_id, v.sub ORDER BY {dist}, c.code) AS rn"
        f" FROM rsv v JOIN {cbf} c ON c.sub = v.sub) WHERE rn = 1)"
    )
    ctes.append(
        f"qd AS (SELECT v.vec_id AS query_id, c.cell, {dist_chain} AS dist"
        f" FROM e v CROSS JOIN c{r_} c WHERE v.vec_id < {_N_QUERIES})"
    )
    ctes.append(
        f"probe AS (SELECT query_id, cell FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id"
        f" ORDER BY dist, cell) AS rn FROM qd) WHERE rn <= {_NPROBE})"
    )
    branches = []
    for j in range(_PQ_M):
        cols = ", ".join(
            f"q.e[{j * _PQ_SUB + d}] - c.m{j * _PQ_SUB + d} AS v{d}"
            for d in range(1, _PQ_SUB + 1)
        )
        branches.append(
            f"SELECT p.query_id, p.cell, {j} AS sub, {cols}"
            f" FROM probe p JOIN e q ON q.vec_id = p.query_id"
            f" JOIN c{r_} c ON c.cell = p.cell"
        )
    ctes.append("qrs AS (" + " UNION ALL ".join(branches) + ")")
    ctes.append(
        f"lut AS (SELECT v.query_id, v.cell, v.sub, c.code,"
        f" {dist} AS part FROM qrs v JOIN {cbf} c ON c.sub = v.sub)"
    )
    ctes.append(
        "parts AS (SELECT l.query_id, n.vec_id AS neighbor_id, n.cell,"
        " l.sub, l.part FROM codes n JOIN lut l"
        " ON l.cell = n.cell AND l.sub = n.sub AND l.code = n.code)"
    )
    piv, chain = _pq_pivot_chain()
    ctes.append(
        f"piv AS (SELECT query_id, neighbor_id, cell, {piv}"
        " FROM parts GROUP BY query_id, neighbor_id, cell)"
    )
    ctes.append(
        f"scored AS (SELECT query_id, neighbor_id, cell,"
        f" ROUND({chain}, 6) AS adc_dist"
        " FROM piv WHERE query_id != neighbor_id)"
    )
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined}
        SELECT query_id, neighbor_id, cell, adc_dist, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist ASC, neighbor_id ASC) AS rk
          FROM scored
        )
        WHERE rk <= {_TOP_K}
        ORDER BY query_id, rk
    """


def _ivf_assign_sql() -> str:
    """CTE body: vec_id, e, cell — mirrors _ivf_cell_col exactly."""
    dists = ", ".join(_dist_sql(c) for c in ivf_centroids())
    return (
        f"SELECT vec_id, e, CAST(list_position(dists, list_min(dists)) AS INT)"
        f" AS cell FROM (SELECT vec_id, e, [{dists}] AS dists FROM e)"
    )


def _multitable_assign_sql(n_planes: int = _GATE_N_PLANES) -> str:
    """UNION ALL of per-table bucket assignments (matches
    _multitable_assignments). The registry's static SQL pins the
    gate-fixture plane count (every oracle-gate SF resolves to the
    ``_GATE_N_PLANES`` clamp floor — see the constant's docstring);
    callers comparing at LARGER corpora must pass the adaptive count
    (``scale_oracles`` below does)."""
    parts = [
        f"SELECT vec_id, e, {t} AS table_id,"
        f" {_bucket_sql('e', _table_planes(t, n_planes))} AS bucket FROM e"
        for t in range(_N_TABLES)
    ]
    return " UNION ALL ".join(parts)


def scale_oracles(n_rows: int) -> dict:
    """Oracle SQL overrides for corpora OUTSIDE the gate fixtures.

    The static ``ORACLES`` inline ``_GATE_N_PLANES`` hyperplanes —
    valid only while ``_mt_n_planes(n) == _GATE_N_PLANES`` (n ≤ 1448,
    the banker's-rounding cutover at log2(n/4) = 8.5 — see the
    ``_GATE_N_PLANES`` docstring).
    At larger n the Spark side adapts its plane count, so a fair
    engine-vs-oracle wall comparison (tools/duckdb_ratio.py) must
    regenerate the bucket SQL with the same adaptive count or the two
    engines compute different workloads/answers."""
    n_planes = _mt_n_planes(n_rows)
    if n_planes == _GATE_N_PLANES:
        return {}
    from .dedup import ORACLES as DEDUP_ORACLES

    gate_sql = _multitable_assign_sql(_GATE_N_PLANES)
    assign = _multitable_assign_sql(n_planes)
    out = {}
    for name in ("sim_lsh_multitable_buckets", "sim_lsh_multitable_pairs"):
        # a reformatted ORACLES string would make the replace a silent
        # no-op and the oracle run the wrong plane count — fail loudly
        assert gate_sql in ORACLES[name], (
            f"scale_oracles: gate assignment SQL drifted out of "
            f"ORACLES[{name!r}]; regenerate both from "
            f"_multitable_assign_sql"
        )
        out[name] = ORACLES[name].replace(gate_sql, assign)
    for name in ("dedup_embedding_lsh", "dedup_embedding_lsh_verify"):
        if gate_sql in DEDUP_ORACLES.get(name, ""):
            out[name] = DEDUP_ORACLES[name].replace(gate_sql, assign)
    return out


# r12 (VERDICT r11 ask #1): the PQ family is oracle-registered — the
# whole train→encode→ADC→rank chain is deterministic (md5 seeds,
# fixed-point Lloyd, literal LUTs), so DuckDB replays it bit-for-bit.
# Appended here (not in the mid-file dict literal) because the
# functions are defined below that dict.
QUERIES["sim_pq_topk"] = sim_pq_topk
QUERIES["sim_ivfpq_topk"] = sim_ivfpq_topk

ORACLES = {
    "sim_brute_topk": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                 ROUND({_cosine_sql('q.e', 'n.e')}, 6) AS cos
          FROM e q JOIN e n ON q.vec_id != n.vec_id
          WHERE q.vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored
        )
        WHERE rk <= {_TOP_K}
        ORDER BY query_id, rk
    """,
    "sim_lsh_buckets": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        assigned AS (SELECT vec_id, {_bucket_sql('e')} AS bucket FROM e)
        SELECT bucket, COUNT(*) AS n_vectors,
               MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
        FROM assigned
        GROUP BY bucket
        ORDER BY bucket
    """,
    "sim_lsh_pairs": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        assigned AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM e)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
               ROUND({_cosine_sql('a.e', 'b.e')}, 6) AS cos
        FROM assigned a JOIN assigned b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND({_cosine_sql('a.e', 'b.e')}, 6) >= {_LSH_COSINE_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
    "sim_lsh_pairs_verify": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        assigned AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM e)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
               ROUND({_cosine_sql('a.e', 'b.e')}, 6) AS cos
        FROM assigned a JOIN assigned b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND({_cosine_sql('a.e', 'b.e')}, 6) >= {_MT_COSINE_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
    "sim_ivf_kmeans": _kmeans_oracle_sql(),
    "sim_ivf_trained_topk": _trained_topk_oracle_sql(),
    "sim_pq_topk": _pq_topk_oracle_sql(),
    "sim_ivfpq_topk": _ivfpq_topk_oracle_sql(),
    "sim_ivf_cells": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        assigned AS ({_ivf_assign_sql()})
        SELECT cell, COUNT(*) AS n_vectors,
               MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
        FROM assigned
        GROUP BY cell
        ORDER BY cell
    """,
    "sim_ivf_topk": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        assigned AS ({_ivf_assign_sql()}),
        scored AS (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.cell AS cell,
                 ROUND({_cosine_sql('q.e', 'n.e')}, 6) AS cos
          FROM assigned q JOIN assigned n
            ON q.cell = n.cell AND q.vec_id != n.vec_id
          WHERE q.vec_id < {_N_QUERIES}
        )
        SELECT query_id, neighbor_id, cell, cos, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored
        )
        WHERE rk <= {_IVF_TOP_K}
        ORDER BY query_id, rk
    """,
    "sim_lsh_multitable_buckets": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        assigned AS ({_multitable_assign_sql()})
        SELECT CAST(table_id AS INT) AS table_id, bucket,
               COUNT(*) AS n_vectors,
               MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
        FROM assigned
        GROUP BY 1, 2
        ORDER BY table_id, bucket
    """,
    "sim_lsh_multitable_pairs": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        assigned AS ({_multitable_assign_sql()}),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM assigned a JOIN assigned b
            ON a.table_id = b.table_id AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b,
               ROUND({_cosine_sql('x.e', 'y.e')}, 6) AS cos
        FROM cand JOIN e x ON x.vec_id = vec_a
                  JOIN e y ON y.vec_id = vec_b
        WHERE ROUND({_cosine_sql('x.e', 'y.e')}, 6) >= {_MT_COSINE_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
}

HEADLINE = {"sim_brute_topk", "sim_lsh_buckets", "sim_lsh_multitable_pairs"}
