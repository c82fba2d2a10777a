"""Supplementary benchmarks (bench.py is frozen for measurement —
guide §1.4 noop-sink isolation and targeted kernel comparisons live
here instead).

Subcommands:
  headline [sf_dir]   — per-query noop timings, cold then warm, one
                        JSON line (same queries as bench.py plus the
                        pipeline, but each isolated through the noop
                        sink so sink cost never pollutes the numbers).
  longdoc [sf_dir] [repeat]
                      — the r5-verdict quadratic-kill measurement:
                        MinHash signature wall on a long-document
                        corpus (text repeated `repeat`× → ~10× token
                        count), new in-row builder vs the r5
                        split-in-lambda expression, one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark(app: str):
    from datashare_extension_neo4j_spark.session import get_spark

    spark = get_spark(
        app_name=app, master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8)
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as pd  # noqa: F401

    def _noop(it):
        for pdf in it:
            yield pdf

    spark.range(CPUS * 8).repartition(CPUS * 4).mapInPandas(
        _noop, "id long"
    ).count()
    return spark


def _noop_time(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def headline(sf_dir: str) -> None:
    from datashare_extension_neo4j_spark.queries import QUERIES

    names = [
        "kg_mentions", "kg_appears_in", "kg_entities", "kg_email_edges",
        "dedup_minhash_pairs", "dedup_minhash_sig", "dedup_simhash",
        "ann_cosine_topk", "text_stats", "tpch_q1", "join_topn",
        "curate_corpus", "decontaminate_ngram",
    ]
    spark = _spark("bench_extra_headline")
    cold, warm = {}, {}
    for n in names:
        fn, _ = QUERIES[n]
        spark.sparkContext.setJobDescription(f"headline:{n}")
        cold[n] = _noop_time(fn(spark, sf_dir))
        warm[n] = _noop_time(fn(spark, sf_dir))
    print(json.dumps({
        "metric": "bench_extra_headline",
        "sf_dir": sf_dir,
        "cold": cold,
        "warm": warm,
        "cpus": CPUS,
    }))
    spark.stop()


def longdoc(sf_dir: str, repeat: int = 10) -> None:
    from pyspark.sql import functions as F

    from datashare_extension_neo4j_spark.queries import (
        _sig_bands_arrays,
        _widen,
    )
    from datashare_extension_neo4j_spark.functions.minhash import (
        bigram_shingles,
    )

    spark = _spark("bench_extra_longdoc")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    long_path = f"/tmp/bench_extra_longdoc_{repeat}"
    (
        base.withColumn(
            "text",
            F.concat_ws(" ", F.array_repeat(F.col("text"), repeat)),
        ).write.mode("overwrite").parquet(long_path)
    )
    docs = spark.read.parquet(long_path)

    # r6 builder: bound token column, in-row distinct
    def new_sig():
        d = _widen(docs.where(F.col("text").rlike("[^ ] [^ ]"))).select(
            "doc_id", F.split(F.col("text"), " ").alias("_tk")
        )
        arrays = d.select(
            "doc_id", bigram_shingles("_tk").alias("sh")
        )
        return _sig_bands_arrays(arrays)

    # the r5 expression: split(text) re-evaluated inside the transform
    # lambda per token position — O(tokens²) map-side
    def old_shingles():
        tk = F.split(F.col("text"), " ")
        sh = F.when(
            F.size(tk) >= 2,
            F.expr(
                "filter(transform(sequence(0, size(split(text,' ')) - 2), "
                "i -> concat(split(text,' ')[i], ' ', split(text,' ')[i+1])), "
                "s -> s != ' ' and not s like '% ' and not s like ' %')"
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            _widen(docs)
            .select("doc_id", F.explode(sh).alias("shingle"))
            .distinct()
        )

    res = {}
    res["new_sig_cold"] = _noop_time(new_sig())
    res["new_sig_warm"] = _noop_time(new_sig())
    res["old_shingles_cold"] = _noop_time(old_shingles())
    res["old_shingles_warm"] = _noop_time(old_shingles())
    n = docs.count()
    toks = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0]["t"]
    print(json.dumps({
        "metric": "bench_extra_longdoc",
        "sf_dir": sf_dir,
        "repeat": repeat,
        "n_docs": n,
        "total_tokens": int(toks),
        **res,
        "cpus": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "headline"
    sf = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    if cmd == "headline":
        headline(sf)
    elif cmd == "longdoc":
        longdoc(sf, int(sys.argv[3]) if len(sys.argv) > 3 else 10)
    else:
        raise SystemExit(f"unknown subcommand {cmd}")
