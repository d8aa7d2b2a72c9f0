"""Probe: narrow-distinct shingle posting list for ngram_jaccard.

Variant N removes the repartition(id) exchange + window sort of the
current _shingle_pair_counts by computing per-doc distinct shingles and
set sizes NARROWLY (array_distinct + size on the gram array), exploding
straight into the hot-shingle guard and the single repartition(shingle).
Run via: python tools/opt_r14_probe.py exec tools/exp_ngram_narrow.py
Env: NGRAM_MODE=identity|time
"""

import json
import os
import time

from pyspark.sql import functions as F

from trendmachine_spark.extensions import dedup as D
from trendmachine_spark.registry_core import QUERIES, _docs


def narrow_pairs(docs, text_col="text", id_col="doc_id",
                 max_shingle_freq=D.MAX_SHINGLE_FREQ):
    src = D.rebalance_for_fanout(docs.select(F.col(id_col), F.col(text_col)))
    src = src.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    g = D.gram_array("_w", D.SHINGLE_K)
    base = src.select(F.col(id_col), F.array_distinct(g).alias("_g"))
    base = base.filter(F.size("_g") >= 1)
    sh = base.select(
        F.col(id_col),
        F.size("_g").cast("long").alias("n_shingles"),
        F.explode("_g").alias("shingle"),
    )
    if max_shingle_freq is not None:
        hot = (
            D._candidate_rows(sh.select("shingle"), "shingle",
                              max_shingle_freq + 1, broadcast_cand=True)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
        sh = sh.repartition("shingle")
    sh = D._materialize(sh)
    a = sh.select(F.col(id_col).alias("id_a"),
                  F.col("n_shingles").alias("n_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"),
                  F.col("n_shingles").alias("n_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("n_a").alias("_na"),
            F.min("n_b").alias("_nb"),
        )
    )


def narrow_jaccard(docs):
    out = (
        narrow_pairs(docs, "text", "doc_id", D.MAX_SHINGLE_FREQ)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("n_common")),
        )
        .select("id_a", "id_b", "n_common", "jaccard")
    )
    return out


docs = _docs(spark, sf_dir)  # noqa: F821  (exec globals)
mode = os.environ.get("NGRAM_MODE", "identity")

if mode == "identity":
    cur = QUERIES["dedup_ngram_jaccard"].builder(spark, sf_dir)  # noqa: F821
    new = narrow_jaccard(docs)
    rows_cur = sorted(map(tuple, cur.collect()))
    rows_new = sorted(map(tuple, new.collect()))
    print(json.dumps({
        "n_cur": len(rows_cur), "n_new": len(rows_new),
        "identical": rows_cur == rows_new,
    }))
    if rows_cur != rows_new:
        for a, b in zip(rows_cur, rows_new):
            if a != b:
                print("first diff:", a, b)
                break
else:
    passes = int(os.environ.get("NGRAM_PASSES", "5"))
    samples = {"current": [], "narrow": []}
    for _ in range(passes):
        t0 = time.perf_counter()
        noop(QUERIES["dedup_ngram_jaccard"].builder(spark, sf_dir))  # noqa: F821
        samples["current"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        noop(narrow_jaccard(docs))  # noqa: F821
        samples["narrow"].append(time.perf_counter() - t0)
    print(json.dumps({
        k: {"best": round(min(v), 3), "all": [round(x, 3) for x in v]}
        for k, v in samples.items()
    }))
