"""Incremental host-graph ledger (sinks/webgraph.py): batch merges
sum to the batch-union host graph, re-running a batch is idempotent,
and merges rewrite only touched ledger buckets."""

from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.operators.weblinks import (
    extract_links,
    host_graph,
    synth_link_pages,
)
from datashare_extension_neo4j_spark.sinks.webgraph import (
    host_graph_batch,
    init_webgraph_store,
    merge_webgraph_batch,
    read_host_graph,
)

SF = "/root/testdata/sf0.001"


def _links(spark, pred: str):
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(pred)
    return extract_links(synth_link_pages(docs))


def _canon(df):
    return sorted(map(tuple, df.collect()))


def test_batches_sum_to_full_graph(spark, tmp_path):
    store = str(tmp_path / "ledger")
    init_webgraph_store(spark, _links(spark, "doc_id % 3 = 0"), store)
    merge_webgraph_batch(spark, store, _links(spark, "doc_id % 3 = 1"), "b1")
    merge_webgraph_batch(spark, store, _links(spark, "doc_id % 3 = 2"), "b2")
    got = _canon(read_host_graph(spark, store))
    want = _canon(host_graph(_links(spark, "true")))
    assert got == want


def test_remerge_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "ledger")
    init_webgraph_store(spark, _links(spark, "doc_id % 2 = 0"), store)
    merge_webgraph_batch(spark, store, _links(spark, "doc_id % 2 = 1"), "b1")
    once = _canon(read_host_graph(spark, store))
    # a job retry replays the same batch — the ledger must converge
    merge_webgraph_batch(spark, store, _links(spark, "doc_id % 2 = 1"), "b1")
    assert _canon(read_host_graph(spark, store)) == once


def test_small_batch_touches_few_buckets(spark, tmp_path):
    store = str(tmp_path / "ledger")
    init_webgraph_store(
        spark, _links(spark, "doc_id < 400"), store, n_buckets=8
    )
    links = _links(spark, "doc_id = 401")
    out = merge_webgraph_batch(spark, store, links, "tiny")
    # one document's host pairs hash into a strict subset of buckets
    assert 0 < out["touched_buckets"] < 8
    # the merge's own row count equals an independent count of the
    # batch's partials
    assert out["partial_rows"] == host_graph_batch(links, "tiny").count() > 0


def test_ledger_keeps_per_batch_partials(spark, tmp_path):
    """The ledger retains per-batch provenance: each (pair, batch)
    partial stays queryable — the audit/compaction surface."""
    store = str(tmp_path / "ledger")
    init_webgraph_store(spark, _links(spark, "doc_id < 100"), store)
    merge_webgraph_batch(
        spark, store, _links(spark, "doc_id >= 100 and doc_id < 200"), "b1"
    )
    led = spark.read.parquet(store)
    batches = {r.batchId for r in led.select("batchId").distinct().collect()}
    assert batches == {"init", "b1"}
    # partials are per-batch aggregates, unique on the ledger key
    n = led.count()
    assert n == led.select("srcHost", "dstHost", "batchId").distinct().count()
