import sys, time, json
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.driver.memory", "24g").appName("simhash-ab").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from ciws_server_spark.operators import dedup
from ciws_server_spark.operators.dedup import _SIMHASH_BITS
from ciws_server_spark.functions.text import tokens
from ciws_server_spark.tables import spread_if_few_splits, table
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

def simhash_new(spark, sf_dir):
    docs = spread_if_few_splits(spark, table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("w")
    ).withColumn(
        "H", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    )
    packed = toks.select(
        "doc_id",
        *[
            F.expr(
                f"(shiftright(H, {4*(14-d)}) & 1)"
                f" + shiftleft(shiftright(H, {4*(14-d)+1}) & 1, 16)"
                f" + shiftleft(shiftright(H, {4*(14-d)+2}) & 1, 32)"
                f" + shiftleft(shiftright(H, {4*(14-d)+3}) & 1, 48)"
            ).alias(f"p{d}")
            for d in range(_SIMHASH_BITS // 4)
        ],
    )
    tally = packed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"p{d}").alias(f"s{d}") for d in range(_SIMHASH_BITS // 4)],
    )
    fingerprint = None
    for bp in range(_SIMHASH_BITS):
        lane = F.expr(f"shiftright(s{bp // 4}, {(bp % 4) * 16}) & 65535")
        bit = F.when(lane * 2 > F.col("n"), F.lit(1 << bp).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return tally.select("doc_id", fingerprint.alias("simhash"))

def fold(df):
    r = df.selectExpr("count(*) n", "bit_xor(xxhash64(doc_id, simhash)) h").collect()[0]
    return r["n"], r["h"]

variants = {"old": lambda: dedup.dedup_simhash(spark, SF), "new": lambda: simhash_new(spark, SF)}
res = {k: [] for k in variants}; folds = {}
for r in range(7):
    order = ["old","new"] if r % 2 == 0 else ["new","old"]
    for name in order:
        t0=time.perf_counter(); f=fold(variants[name]()); dt=time.perf_counter()-t0
        assert folds.setdefault("x", f) == f, (name, folds["x"], f)
        res[name].append(round(dt,3)); print(f"r{r} {name} {dt:.2f}", flush=True)
print(json.dumps({k: sorted(v) for k,v in res.items()}))
