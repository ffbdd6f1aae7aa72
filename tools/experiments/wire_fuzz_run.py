"""Round-12 evidence artifact: the HTTP wire layer under the fuzz
net (VERDICT r11 ask #3) — every statement the grammar fuzz can draw
routed through ``InfluxHTTPApi.handle_query`` (and, for a sampled
slice, ``handle_query_chunked``) against a REAL store dir, plus
generated line-protocol batches through ``handle_write``. In the
chunked slice every READ-only statement is also sent through
``handle_query``, and the two modes must answer with the same status.

What this exercises that the dispatcher-level fuzz can't see:
statement splitting, credential plumbing, the JSON serializer
(epoch rescale incl. garbage precisions, NaN/Inf scrubbing, series
splitting, chunk boundaries/partial flags), the error→status
mapping, and the line-protocol parse→infer→append→forward path.

Contract per request:
* /query: status ∈ {200, 400, 401, 403}; the body (or every
  streamed envelope) must ``json.dumps``; 200 bodies carry one
  result object per statement, each with statement_id (or error).
* /write: status ∈ {204, 400, 401}; a 400 carries a JSON error.
Anything else — an unhandled exception, a non-serializable body, an
unexpected status — aborts with the offending payload.

The store is rebuilt every REBUILD statements (fuzz DROP/DELETE
statements legitimately mutate it; rebuilding keeps SELECT coverage
high), and any user the fuzz registers is wiped afterward so the
run stays in auth-disabled mode except during the statement itself.

Usage: python tools/experiments/wire_fuzz_run.py [n_statements]
Writes tmp/WIRE_FUZZ.json.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 12_000
REBUILD = 1_000
SEED = 20260816

_EPOCHS = [None, "ns", "u", "ms", "s", "m", "h", "centuries", ""]


def build_store(spark, root: str) -> str:
    from ciws_server_spark.sources import sinks

    td = os.path.join(root, f"store{int(time.time() * 1e6)}")
    os.makedirs(td)
    rows = [
        (dt.datetime(2024, 1, 1, 6, 0) + dt.timedelta(seconds=4 * i),
         "A" if i % 2 else "B",
         None if i % 7 == 3 else float(i), float(i) * 0.5)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "time timestamp, buildingID string, flowRate double, tempC double",
    )
    sinks.append_points(df, td, "campus_flow")
    sinks.append_points(df.limit(10), td, "campus_flow_hourly")
    return td


def gen_write_body(r: random.Random) -> bytes:
    lines = []
    for _ in range(r.randint(1, 4)):
        m = r.choice(["campus_flow", "wm", "weather", "fuzz_m"])
        tags = "".join(
            f",{k}={v}"
            for k, v in r.sample(
                [("buildingID", "A"), ("host", "h1"), ("site", "s2")],
                r.randint(0, 2),
            )
        )
        fields = []
        for k in r.sample(["v", "w", "note", "ok", "flowRate"],
                          r.randint(1, 3)):
            roll = r.random()
            if k == "note":
                fields.append(f'note="x{r.randint(0, 9)}"')
            elif k == "ok":
                fields.append(f"ok={r.choice(['true', 'false', 't', 'f'])}")
            elif roll < 0.5:
                fields.append(f"{k}={r.uniform(-100, 100):.3f}")
            else:
                fields.append(f"{k}={r.randint(-50, 50)}i")
        ts = r.choice(["", f" {r.randint(0, 2_000_000_000)}"])
        lines.append(f"{m}{tags} {','.join(fields)}{ts}")
    body = "\n".join(lines)
    if r.random() < 0.2:
        i = r.randrange(len(body) + 1)
        body = body[:i] + r.choice(["=", ",,", " ", "i", '"', ","]) + body[i:]
    return body.encode()


def main() -> None:
    from ciws_server_spark.plans import users
    from ciws_server_spark.session import get_spark
    from ciws_server_spark.sources.http_api import InfluxHTTPApi
    from tests.test_influxql_statement_fuzz import gen_statement

    spark = get_spark("wire-fuzz")
    root = tempfile.mkdtemp(prefix="wire_fuzz_")
    r = random.Random(SEED)
    t0 = time.time()
    counts = {
        "q200": 0, "q400": 0, "q401": 0, "q403": 0,
        "chunked": 0, "chunks": 0, "cross_checked": 0,
        "w204": 0, "w400": 0, "writes": 0,
        "rebuilds": 0,
    }
    api = None
    try:
        for i in range(N):
            if i % REBUILD == 0:
                td = build_store(spark, root)
                api = InfluxHTTPApi(spark, td)
                counts["rebuilds"] += 1
            stmt = gen_statement(r)
            params = {"q": stmt}
            epoch = r.choice(_EPOCHS)
            if epoch is not None:
                params["epoch"] = epoch
            try:
                if r.random() < 0.08:
                    counts["chunked"] += 1
                    params["chunk_size"] = str(r.choice([1, 3, 10000]))
                    status, body = api.handle_query_chunked(params)
                    if status == 200:
                        for env in body:
                            json.dumps(env)
                            for res in env["results"]:
                                assert (
                                    "statement_id" in res or "error" in res
                                ), env
                            counts["chunks"] += 1
                    else:
                        for env in body:
                            json.dumps(env)
                    if users.required_privilege(stmt) == "READ":
                        # a READ statement mutates nothing, so the
                        # buffered mode must give the same request the
                        # same status
                        counts["cross_checked"] += 1
                        bstatus, bbody = api.handle_query(params)
                        json.dumps(bbody)
                        assert bstatus == status, (stmt, status, bbody)
                elif r.random() < 0.10:
                    # max-row-limit slice (r12 ask #7): the same
                    # statement through a capped front door — the
                    # response must stay wire-valid, never exceed
                    # the cap per series, and stamp "partial" on a
                    # truncated series
                    cap = r.choice([1, 3, 10])
                    counts["capped"] = counts.get("capped", 0) + 1
                    capped_api = InfluxHTTPApi(
                        spark, api.table_dir, max_row_limit=cap
                    )
                    status, body = capped_api.handle_query(params)
                    json.dumps(body)
                    if status == 200:
                        total = 0
                        for res in body["results"]:
                            assert (
                                "statement_id" in res or "error" in res
                            ), body
                            for s in res.get("series", []):
                                total += len(s["values"])
                                if s.get("partial"):
                                    counts["cap_partial"] = (
                                        counts.get("cap_partial", 0) + 1
                                    )
                        assert total <= cap * max(
                            1, len(body["results"])
                        ), (stmt, cap, total)
                else:
                    status, body = api.handle_query(params)
                    json.dumps(body)
                    if status == 200:
                        for res in body["results"]:
                            assert (
                                "statement_id" in res or "error" in res
                            ), body
            except Exception as exc:
                raise AssertionError(
                    f"/query leaked {type(exc).__name__} for "
                    f"{stmt!r} (epoch={epoch!r}): {exc}"
                ) from exc
            assert status in (200, 400, 401, 403), (stmt, status, body)
            counts[f"q{status}"] += 1
            # any user the fuzz registered flips the store to
            # auth-enabled, and any subscription it registered makes
            # every later write attempt (slow, dead) deliveries —
            # wipe both so coverage stays on the data plane
            for sidecar in ("_users.json", "_subscriptions.json"):
                sfile = os.path.join(api.table_dir, sidecar)
                if os.path.exists(sfile):
                    os.remove(sfile)

            if i % 5 == 0:
                counts["writes"] += 1
                wp = {}
                prec = r.choice([None, "ns", "u", "ms", "s", "m", "h",
                                 "centuries"])
                if prec is not None:
                    wp["precision"] = prec
                wbody = gen_write_body(r)
                try:
                    wstatus, wresp = api.handle_write(wp, wbody)
                    if wresp is not None:
                        json.dumps(wresp)
                except Exception as exc:
                    raise AssertionError(
                        f"/write leaked {type(exc).__name__} for "
                        f"{wbody!r} (precision={prec!r}): {exc}"
                    ) from exc
                assert wstatus in (204, 400), (wbody, wstatus, wresp)
                counts[f"w{wstatus}"] += 1

            if (i + 1) % 500 == 0:
                print(
                    f"# {i + 1}/{N} ({time.time() - t0:.0f}s) {counts}",
                    flush=True,
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)

    out = {
        "statements": N,
        **counts,
        "non_json_responses": 0,      # json.dumps asserted per response
        "serializer_crashes": 0,      # any leak aborts before this line
        "wall_s": round(time.time() - t0, 1),
        "seed": SEED,
    }
    os.makedirs("/root/repo/tmp", exist_ok=True)
    with open("/root/repo/tmp/WIRE_FUZZ.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
