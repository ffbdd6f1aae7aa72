"""Synthesize a larger scale factor from /root/testdata/sf0.1 by
key-offset replication — local scale-evidence only (the driver owns
real testdata; this never writes outside the repo).

Replication rules keep workload *structure* flat instead of inflating
it artificially:

* ``lineitem`` / ``orders`` / ``events``: replicas shift the primary
  and foreign line/order/event/user keys past the original key space,
  so join fan-in per key and group sizes stay constant while row count
  scales. Dimension tables (customer/supplier/part/nation/region) stay
  fixed, like TPC-H's fixed small dims. Event timestamps gain a
  deterministic per-replica microsecond jitter (``ts + rep µs``) so a
  factor-N fixture never holds N events at one instant — time-ordered
  cuts (influxql_order_limit / offset / slimit / soffset) stay
  tie-free and VALUE-comparable at every scale, as on the source
  fixture (real InfluxDB can't hold two points at one (time, series),
  so honest data has no such ties either). The jitter is ≤(N−1) µs —
  far below the source's time resolution, so bucket membership and
  range predicates are unchanged.
* ``documents``: every token in replica *i* is prefixed ``r{i}``, so
  shingle sets across replicas are disjoint — the near-dup cluster
  structure is replicated ×N, NOT turned into one giant cross-replica
  clique (exact copies would quadratically inflate LSH candidate
  counts and measure a different workload).
* ``embeddings``: replica *i* applies a deterministic per-replica
  SIGN PATTERN to the vector's dimensions (element j multiplied by
  ±1 from ``hash(rep*1024+j)``), plus a tiny nudge. Same-replica
  cosines are preserved EXACTLY (both vectors flip the same signs),
  so each replica carries the original near-dup/ANN cluster
  structure; cross-replica cosines decorrelate to ≈0 (half the
  terms flip sign), so replicas do NOT form giant near-dup cliques.
  The first version used only the nudge: 100 replicas of a vector
  stayed mutually near-identical, every LSH bucket grew 100×, and
  any pair-enumeration query's TRUE output grew quadratically in
  the factor — measuring workload explosion, not engine scaling
  (caught by the round-7 sf10 run: sim_lsh_multitable_pairs went
  8.2s at sf1 → >20 min at sf10 on that degenerate fixture). The
  sign construction replicates cluster structure ×N instead, the
  same philosophy as the documents rule above.

Row ORDER is not reproducible. The generator runs DuckDB with
``SET preserve_insertion_order=false`` (it streams each COPY instead
of buffering whole tables), so two regenerations of one factor hold
the same rows in different file orders. Pin only order-insensitive
checks against a regenerated directory: counts, sums, sorted or
hashed multisets. Never pin a first-N row, a ``limit`` without a total
order, or a value that depends on scan order.

Usage:python tools/gen_sf_scale.py [factor] [out_dir]
       (defaults: 10 → ./tmp/sf1)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tmp", "sf1",
    )
    # Optional 3rd arg: comma-separated table subset (e.g. "documents,events")
    # for very large factors where only a few families need scale evidence —
    # a full factor-1000 lineitem would be ~12 GB nobody reads.
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # r16: stream the COPY instead of buffering the whole replicated
    # table in memory — at factor 1000 the ordered write held ~10 GB
    # of orders rows before the first byte hit disk (and lineitem
    # would not fit). Row order within the file is irrelevant to every
    # consumer (order-insensitive folds/oracles); values stay
    # deterministic.
    con.sql("SET preserve_insertion_order=false")
    con.sql("SET memory_limit='24GB'")

    def write(name: str, sql: str) -> None:
        if only is not None and name not in only:
            return
        path = os.path.join(out_dir, f"{name}.parquet")
        # modest row groups: Spark parallelizes a scan at row-group
        # granularity, and a single-group file would serialize heavy
        # per-row operators into one task — unlike any real large
        # table, which has many files/groups
        con.sql(
            f"COPY ({sql}) TO '{path}' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 20000)"
        )
        n = con.sql(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        print(f"{name}: {n} rows")

    # fixed dims: straight copies
    for t in ("region", "nation", "customer", "supplier", "part"):
        write(t, f"SELECT * FROM read_parquet('{SRC}/{t}.parquet')")

    reps = f"(SELECT unnest(range({factor})) AS rep)"

    okey = con.sql(
        f"SELECT max(o_orderkey) FROM read_parquet('{SRC}/orders.parquet')"
    ).fetchone()[0] + 1
    write(
        "orders",
        f"""
        SELECT o_orderkey + rep * {okey} AS o_orderkey,
               * EXCLUDE (o_orderkey, rep)
        FROM read_parquet('{SRC}/orders.parquet'), {reps}
        """,
    )
    write(
        "lineitem",
        f"""
        SELECT l_orderkey + rep * {okey} AS l_orderkey,
               * EXCLUDE (l_orderkey, rep)
        FROM read_parquet('{SRC}/lineitem.parquet'), {reps}
        """,
    )

    ekey, ukey = con.sql(
        f"SELECT max(event_id) + 1, max(user_id) + 1 "
        f"FROM read_parquet('{SRC}/events.parquet')"
    ).fetchone()
    write(
        "events",
        f"""
        SELECT event_id + rep * {ekey} AS event_id,
               ts + to_microseconds(rep) AS ts,
               user_id + rep * {ukey} AS user_id,
               event_type, value, props
        FROM read_parquet('{SRC}/events.parquet'), {reps}
        """,
    )

    dkey = con.sql(
        f"SELECT max(doc_id) + 1 FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchone()[0]
    write(
        "documents",
        f"""
        SELECT doc_id + rep * {dkey} AS doc_id,
               CASE WHEN rep = 0 THEN text
                    ELSE regexp_replace(text, '(\\S+)', 'r' || rep || '\\1', 'g')
               END AS text,
               * EXCLUDE (doc_id, text, rep)
        FROM read_parquet('{SRC}/documents.parquet'), {reps}
        """,
    )

    vkey = con.sql(
        f"SELECT max(vec_id) + 1 FROM read_parquet('{SRC}/embeddings.parquet')"
    ).fetchone()[0]
    write(
        "embeddings",
        f"""
        SELECT vec_id + rep * {vkey} AS vec_id,
               list_transform(embedding,
                   (x, j) -> CAST(
                       (CASE WHEN rep = 0 OR hash(rep * 1024 + j) % 2 = 0
                             THEN x ELSE -x END)
                       + 0.003 * rep * sin(j * 1.7) AS FLOAT)
               ) AS embedding,
               * EXCLUDE (vec_id, embedding, rep)
        FROM read_parquet('{SRC}/embeddings.parquet'), {reps}
        """,
    )


if __name__ == "__main__":
    main()
