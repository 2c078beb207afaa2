"""A/B harness for bigram_lift variants at sf1 (round-9 verdict item 3).

Variants:
  cur   — shipped form: struct-pair explode -> (tok_x, tok_y) hash agg
  cat   — pair as ONE concat_ws(' ') string (tokens are split-on-space so
          ' ' cannot occur inside a token: bijective); agg on one string
          key, split back into (tok_x, tok_y) only for the top rows
  inrow — per-doc in-row pair pre-count via sorted-pair-array run-length
          (array_sort + positional boundaries), exploding (pair, cnt)

Run: python tools/ab_bigram.py [sf_dir] [reps]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.localdata/sf1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from blockchain_postgres_sync_spark.functions.text import tokens  # noqa: E402
from blockchain_postgres_sync_spark.operators import stats  # noqa: E402
from blockchain_postgres_sync_spark.session import default_driver_memory  # noqa: E402

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", default_driver_memory())
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(f"{SF}/documents.parquet")


def v_cur(df):
    return stats.bigram_lift(df)


def v_cat(df, min_pair=5, top=100):
    toks = tokens(F.col("text"))
    pair_counts = (
        df.filter(F.col("text").isNotNull())
        .select(
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
    )
    uni = (
        df.filter(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    split_pair = pair_counts.select(
        F.substring_index("pair", " ", 1).alias("tok_x"),
        F.substring_index("pair", " ", -1).alias("tok_y"),
        "n_pair",
    )
    scored = (
        split_pair.join(
            F.broadcast(uni.select(F.col("token").alias("tok_x"),
                                   F.col("c").alias("_cx"))), "tok_x")
        .join(
            F.broadcast(uni.select(F.col("token").alias("tok_y"),
                                   F.col("c").alias("_cy"))), "tok_y")
        .withColumn("_num", F.col("n_pair") * F.lit(1_000_000_000).cast("long"))
        .withColumn("lift_x1e9", F.expr("_num DIV _cx DIV _cy"))
    )
    return scored.select("tok_x", "tok_y",
                         F.col("n_pair").cast("long").alias("n_pair"),
                         "lift_x1e9").orderBy(
        F.desc("lift_x1e9"), F.asc("tok_x"), F.asc("tok_y")).limit(top)


def v_inrow(df, min_pair=5, top=100):
    toks = tokens(F.col("text"))
    pair_arr = F.array_sort(
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    staged = df.filter(F.col("text").isNotNull()).select(
        pair_arr.alias("_pa")
    )
    # run-length over the sorted pair array: boundary positions -> counts
    staged = staged.select(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size("_pa")),
                lambda i: F.struct(
                    F.element_at("_pa", i).alias("pair"),
                    i.alias("_pos"),
                ),
            ),
            lambda s: (s["_pos"] == F.lit(1))
            | (s["pair"] != F.element_at("_pa", s["_pos"] - 1)),
        ).alias("_starts"),
        F.size("_pa").alias("_n"),
    )
    runs = staged.select(
        F.explode(
            F.zip_with(
                "_starts",
                F.concat(
                    F.slice("_starts", 2, F.greatest(F.size("_starts") - 1,
                                                     F.lit(0))),
                    F.array(F.struct(
                        F.lit("").alias("pair"),
                        (F.col("_n") + 1).alias("_pos"),
                    )),
                ),
                lambda a, b: F.struct(
                    a["pair"].alias("pair"),
                    (b["_pos"] - a["_pos"]).cast("long").alias("cnt"),
                ),
            )
        ).alias("r")
    ).select(F.col("r.pair").alias("pair"), F.col("r.cnt").alias("cnt"))
    pair_counts = (
        runs.groupBy("pair").agg(F.sum("cnt").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
    )
    uni = (
        df.filter(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    split_pair = pair_counts.select(
        F.substring_index("pair", " ", 1).alias("tok_x"),
        F.substring_index("pair", " ", -1).alias("tok_y"),
        "n_pair",
    )
    scored = (
        split_pair.join(
            F.broadcast(uni.select(F.col("token").alias("tok_x"),
                                   F.col("c").alias("_cx"))), "tok_x")
        .join(
            F.broadcast(uni.select(F.col("token").alias("tok_y"),
                                   F.col("c").alias("_cy"))), "tok_y")
        .withColumn("_num", F.col("n_pair") * F.lit(1_000_000_000).cast("long"))
        .withColumn("lift_x1e9", F.expr("_num DIV _cx DIV _cy"))
    )
    return scored.select("tok_x", "tok_y",
                         F.col("n_pair").cast("long").alias("n_pair"),
                         "lift_x1e9").orderBy(
        F.desc("lift_x1e9"), F.asc("tok_x"), F.asc("tok_y")).limit(top)


VARIANTS = {"cur": v_cur, "cat": v_cat, "inrow": v_inrow}

rows = {}
for name, fn in VARIANTS.items():
    out = [tuple(r) for r in fn(docs).collect()]  # warm
    rows[name] = sorted(map(str, out))
    ts = []
    for _ in range(REPS):
        spark._jvm.java.lang.System.gc()
        t0 = time.time()
        fn(docs).collect()
        ts.append(time.time() - t0)
    print(f"{name}: min={min(ts):.3f}s  runs={[round(t,3) for t in ts]}",
          flush=True)

base = rows["cur"]
for name in VARIANTS:
    print(f"{name}: rows={'MATCH' if rows[name] == base else 'DIVERGE'}")
