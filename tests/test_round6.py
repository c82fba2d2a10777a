"""Round-6 optimization guards: the rewritten minhash internals and
the plan shapes the round's changes claim.

These lock in (a) value equivalence of the in-row shingle builder vs
the r5 exploded expression, (b) the cheap text predicate being exactly
"has >= 1 valid bigram", and (c) the plan shapes: scan-shaped
signatures, join-free mentions, Expand-free APPEARS_IN aggregation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from datashare_extension_neo4j_spark.session import get_spark

    s = get_spark(app_name="test_round6", master="local[4]", shuffle_partitions=8)
    yield s


TRICKY_TEXTS = [
    (0, "plain two words"),
    (1, "double  space"),          # '' token between: no bigram across it
    (2, " leading and trailing "),
    (3, "single"),                 # no bigram
    (4, ""),                       # empty text
    (5, None),                     # null text
    (6, "a b a b a b"),            # duplicate shingles collapse
    (7, "x"),
    (8, "  "),                     # only empty tokens
    (9, "unicode éé ü tokens éé ü"),
    (10, "a,b c|d a,b"),           # separators inside tokens
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _old_shingles(docs):
    """The r5 expression (split re-evaluated inside the lambda),
    kept verbatim as the semantic reference."""
    tk = F.split(F.col("text"), " ")
    sh = F.when(
        F.size(tk) >= 2,
        F.expr(
            "filter(transform(sequence(0, size(split(text,' ')) - 2), "
            "i -> concat(split(text,' ')[i], ' ', split(text,' ')[i+1])), "
            "s -> s != ' ' and not s like '% ' and not s like ' %')"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def test_bigram_shingles_matches_r5_semantics(spark):
    from datashare_extension_neo4j_spark.functions.minhash import (
        bigram_shingles,
    )

    docs = _df(spark, TRICKY_TEXTS)
    old = {(r["doc_id"], r["shingle"]) for r in _old_shingles(docs).collect()}
    new_rows = (
        docs.select("doc_id", F.split("text", " ").alias("_tk"))
        .select("doc_id", F.explode(bigram_shingles("_tk")).alias("shingle"))
        .collect()
    )
    new = {(r["doc_id"], r["shingle"]) for r in new_rows}
    assert new == old
    # in-row distinctness: no duplicate (doc, shingle) pairs
    assert len(new_rows) == len(new)


def test_cheap_text_predicate_equals_has_bigram(spark):
    """text RLIKE '[^ ] [^ ]' must hold exactly when the doc has >= 1
    valid bigram — the predicate _shingle_arrays filters on instead of
    size(sh) > 0 (which pushdown would inline quadratically)."""
    from datashare_extension_neo4j_spark.functions.minhash import (
        bigram_shingles,
    )

    docs = _df(spark, TRICKY_TEXTS)
    both = (
        docs.select("doc_id", "text", F.split("text", " ").alias("_tk"))
        .select(
            "doc_id",
            F.coalesce(F.col("text").rlike("[^ ] [^ ]"), F.lit(False)).alias(
                "pred"
            ),
            (F.size(bigram_shingles("_tk")) > 0).alias("has_bigram"),
        )
        .collect()
    )
    for r in both:
        assert r["pred"] == r["has_bigram"], r


def test_minhash_sig_is_scan_shaped(spark):
    """dedup_minhash_sig must carry no hash/range exchange: signature
    and band derivation are wholly in-row (the only exchange allowed
    is the scale-adaptive round-robin widen)."""
    import re

    from datashare_extension_neo4j_spark.queries import dedup_minhash_sig

    plan = (
        dedup_minhash_sig(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"Exchange (hash|range)partitioning", plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kg_mentions_is_join_free(spark):
    """The gazetteer is a literal map lookup since r6 — no join, no
    broadcast, no exchange in the mention stream."""
    from datashare_extension_neo4j_spark.queries import kg_mentions

    plan = (
        kg_mentions(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_kg_appears_in_has_no_expand(spark):
    """mentionCount now rides on the collected set — the distinct
    aggregate's Expand node (and its second exchange) must be gone."""
    import re

    from datashare_extension_neo4j_spark.queries import kg_appears_in

    plan = (
        kg_appears_in(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_pairs_hashed_intersection_matches_string_join(spark):
    """|A∩B| via xxhash64'd arrays must equal the exact string-set
    intersection for hostile shingle content."""
    rows = [
        (1, 'a "quote" b | c,d a "quote"'),
        (2, 'b | c,d a "quote" extra words'),
        (3, "unicode éé ü tokens éé ü"),
        (4, "unicode éé ü tokens something else"),
    ]
    from datashare_extension_neo4j_spark.functions.minhash import (
        bigram_shingles,
    )

    docs = _df(spark, rows)
    arr = docs.select(
        "doc_id", F.split("text", " ").alias("_tk")
    ).select("doc_id", bigram_shingles("_tk").alias("sh"))
    pdf = {r["doc_id"]: set(r["sh"]) for r in arr.collect()}
    hashed = arr.select(
        "doc_id",
        F.transform(F.col("sh"), lambda x: F.xxhash64(x)).alias("shh"),
    )
    hpdf = {r["doc_id"]: r["shh"] for r in hashed.collect()}
    import itertools

    for a, b in itertools.combinations(sorted(pdf), 2):
        want = len(pdf[a] & pdf[b])
        got_rows = (
            spark.createDataFrame(
                [(hpdf[a], hpdf[b])], "x array<long>, y array<long>"
            )
            .select(F.size(F.array_intersect("x", "y")).alias("i"))
            .collect()
        )
        assert got_rows[0]["i"] == want, (a, b)


def test_widen_probe_reads_current_input(spark, tmp_path):
    """The widen decision is taken per call from the input's current
    bytes: a path rewritten from tiny to >= n × 4 MB stops widening (no
    memo serves the stale decision), and a frame with no input files
    falls back to its partition count."""
    import base64
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datashare_extension_neo4j_spark.queries import _mentions

    n = spark.sparkContext.defaultParallelism
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    path = sf_dir / "documents.parquet"

    def widened() -> bool:
        m = _mentions(spark, str(sf_dir), widen=True)
        plan = m._jdf.queryExecution().executedPlan().toString()
        return "RoundRobinPartitioning" in plan

    pq.write_table(
        pa.table({"doc_id": [0, 1], "text": ["spark table", "window"]}),
        path,
    )
    assert widened()

    # incompressible text, stored uncompressed: > n × 4 MB on disk
    rows = 4 * n + 1
    texts = [
        base64.b64encode(os.urandom(3 << 18)).decode() for _ in range(rows)
    ]
    pq.write_table(
        pa.table({"doc_id": list(range(rows)), "text": texts}),
        path,
        compression="none",
    )
    assert path.stat().st_size >= n * 4 * 1024 * 1024
    assert not widened()

    from datashare_extension_neo4j_spark.session import widen

    one = spark.createDataFrame(
        [(i,) for i in range(8)], "x long"
    ).coalesce(1)
    assert one.inputFiles() == []
    assert widen(one).rdd.getNumPartitions() == n
    wide = one.repartition(n)
    assert widen(wide) is wide
