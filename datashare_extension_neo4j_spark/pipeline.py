"""End-to-end KG construction pipeline (SURVEY.md §3.1/§3.2 reshaped
Spark-first).

  pages ──parse(mapInPandas)──▶ parsed ──┬─▶ doc nodes ─▶ HAS_PARENT
                                         ├─▶ annotated mentions ┐
                                         └─▶ rule-based NER ────┤
                                                                ▼
                     entities (dedup) + APPEARS_IN / SENT / RECEIVED

The reference's 5-phase async dance (sliced ES scans → bounded queues
→ single-writer MERGE, core/imports.py:147-316,582-737) collapses into
one declarative DAG: slicing = input partitions, backpressure = Spark
pipelining, the streaming sort-agg = hash aggregation with spill.

The parsed frame is the only thing worth caching (three consumers);
mention union is by name; the doc-id semi-join (J1, reference
imports.py:829-871) keeps mentions whose host document exists — at web
scale this is a shuffle-free broadcast when the doc-id side is small,
else AQE picks the strategy.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .operators.documents import doc_nodes, has_parent_edges
from .operators.edges import appears_in_edges, email_edges
from .operators.entities import entity_nodes
from .operators.extract import parse_pages
from .operators.ner import annotated_mentions, rule_based_mentions
from .session import widen


@dataclass
class GraphBuild:
    docs: DataFrame
    doc_roots: DataFrame
    mentions: DataFrame
    entities: DataFrame
    appears_in: DataFrame
    emails: DataFrame
    parsed: DataFrame | None = None

    def unpersist(self) -> None:
        if self.parsed is not None:
            try:
                self.parsed.unpersist()
            except Exception:
                pass


def build_graph(
    pages: DataFrame,
    project: str = "test_project",
    use_rule_ner: bool = False,
    salted: bool = False,
    semi_join_docs: bool = True,
    cache: bool = True,
    fuse_ner: bool = False,
    include_text: bool = True,
    emit_mentions: bool = True,
    checkpoint_dir: str | None = None,
) -> GraphBuild:
    # scale-adaptive parse parallelism: a small pages input would
    # serialize the Python parse kernel on a single core (session.widen)
    pages = widen(pages)
    if fuse_ner:
        # scale path: NER fused into the parse pass (one scan over the
        # html) and the wide text column dropped from the exchange
        from .operators.ner import DEFAULT_GAZETTEER

        parsed = parse_pages(
            pages,
            include_text=include_text,
            ner_gazetteer=DEFAULT_GAZETTEER if use_rule_ner else None,
            emit_mentions=emit_mentions,
        )
        use_rule_ner = False
        # fused mentions are born from their own document row — the
        # J1 semi-join is a tautology here; it matters only for the
        # incremental case (mentions vs previously-imported docs)
        semi_join_docs = False
    else:
        parsed = parse_pages(pages)
    if checkpoint_dir is not None:
        # stage checkpoint: the parse output lands in columnar parquet
        # and every consumer does a pruned scan. Scale-correct (no JVM
        # object cache, resumable — the manifest pins this path) and
        # GC-friendly: in-memory caching of nested rows is allocation-
        # bound and anti-scales past ~8 threads (measured).
        spark = pages.sparkSession
        path = f"{checkpoint_dir}/parsed"
        parsed.write.mode("overwrite").parquet(path)
        parsed = spark.read.parquet(path)
        cache = False
    if cache:
        # one persist of the (expensive) Python parse output; docs and
        # both mention streams are cheap projections over it
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    docs = doc_nodes(parsed, project=project)
    roots = has_parent_edges(docs)
    if "ann_mentions" in parsed.columns:
        mentions = annotated_mentions(parsed)
    else:
        # emit_mentions=False: raw mention stream not materialized
        from .schemas import MENTION_SCHEMA

        mentions = parsed.sparkSession.createDataFrame([], MENTION_SCHEMA)
    if use_rule_ner:
        rb = rule_based_mentions(docs, id_col="id", text_col="text", lang_col="lang")
        mentions = mentions.unionByName(rb)
    if semi_join_docs:
        # J1: restrict mentions to existing documents (left semi).
        doc_ids = docs.select(F.col("id").alias("documentId"))
        mentions = mentions.join(doc_ids, "documentId", "left_semi")
    if fuse_ner and "ann_edges" in parsed.columns:
        # edges were pre-aggregated per doc inside the parse pass
        # (key never crosses documents) — pure projections, no shuffle
        from .operators.edges import (
            appears_in_from_parsed,
            email_edges_from_parsed,
        )

        appears = appears_in_from_parsed(parsed)
        emails = email_edges_from_parsed(parsed)
        ents = entity_nodes(
            appears.select("mentionNorm", "category").unionByName(
                emails.select("mentionNorm", "category")
            )
        )
    else:
        ents = entity_nodes(mentions)
        appears = appears_in_edges(mentions, salted=salted)
        emails = email_edges(mentions)
    return GraphBuild(
        docs=docs,
        doc_roots=roots,
        mentions=mentions,
        entities=ents,
        appears_in=appears,
        emails=emails,
        parsed=parsed if cache else None,
    )
