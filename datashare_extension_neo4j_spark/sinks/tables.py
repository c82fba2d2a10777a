"""Graph table sinks (S8 re-expressed): nodes/edges as partitioned
columnar tables + incremental MERGE semantics.

The reference's incremental import is Cypher ``UNWIND … MERGE`` with
ON-MATCH array-union (neo4j-app/neo4j_app/core/neo4j/documents.py:42-80,
named_entities.py:36-48). Our sink would be Iceberg ``MERGE INTO`` when
a catalog is configured; this sandbox ships no Iceberg runtime jar (and
no network to vendor one), so two fallbacks exist:

  * plain layout: read-old ∪ new → re-aggregate → full overwrite —
    O(table) per increment, fine for small stores;
  * bucketed layout (``materialize_graph(..., buckets=N)``): each table
    is hash-partitioned on its merge key (``_bucket =
    pmod(xxhash64(key), N)``); a merge reads ONLY the partitions the
    increment touches (partition-pruned scan) and rewrites ONLY those
    via dynamic partition overwrite. Incremental cost is O(touched
    buckets) — the same asymptotic shape as Iceberg's MERGE INTO file
    rewrite, expressed with vanilla parquet.

``incremental_import`` auto-detects the layout per table. Each table's
MERGE is one pass that also yields its counters (update rows and rows
created), the way the reference reads them off the Cypher
``ResultSummary`` of the MERGE that writes the rows.
"""

from __future__ import annotations

from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import GraphBuild

BUCKET_COL = "_bucket"

# merge key per graph table (also the bucketing key)
TABLE_KEYS: dict[str, list[str]] = {
    "docs": ["id"],
    "doc_roots": ["src", "dst"],
    "entities": ["mentionNorm", "category"],
    "appears_in": ["startId", "endId", "type"],
    "emails": ["startId", "endId", "type"],
}


def bucketize(df: DataFrame, key_cols: list[str], n: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(*key_cols), F.lit(n))
    )


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read dropping the physical bucket column if present."""
    df = spark.read.parquet(path)
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def write_graph_table(
    df: DataFrame, path: str, name: str | None, buckets: int | None
) -> None:
    """Write one table. With ``buckets`` set and ``name`` a graph table
    (TABLE_KEYS) it is hash-partitioned on its merge key, with the
    ``_n_buckets`` sidecar pinning N for later merges (empty buckets
    leave no partition dir, so N can't be inferred from the listing).
    Otherwise it is written plain: stage outputs such as parsed and
    mentions have no merge key, and an EMPTY frame stays plain because
    a partitioned write of zero rows produces no files at all (schema
    unreadable) — empty tables keep the plain layout until data
    arrives."""
    if not buckets or name not in TABLE_KEYS or df.isEmpty():
        df.write.mode("overwrite").parquet(path)
        return
    bucketize(df, TABLE_KEYS[name], buckets).write.mode(
        "overwrite"
    ).partitionBy(BUCKET_COL).parquet(path)
    (Path(path) / "_n_buckets").write_text(str(buckets))


class MergeResult(NamedTuple):
    """What one bucketed MERGE did: the buckets it rewrote, the update
    rows it read and the rows it added to the table."""

    touched: list[int]
    rows: int
    created: int


def merge_bucketed(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    combine,
    n_buckets: int,
) -> MergeResult:
    """Partition-scoped MERGE: read only the buckets the increment
    touches, combine old ∪ new there, rewrite only those partitions
    (dynamic partition overwrite). ``combine(old, new) -> DataFrame``
    holds the per-table ON MATCH semantics.

    Returns a ``MergeResult``. One per-bucket count of the updates
    gives both the touched buckets and ``rows``. ``created`` is the
    staged merged row count minus the old row count of the touched
    buckets. That is exactly the number of update keys not stored
    before, provided the stored table and ``combine``'s output are
    unique on ``key_cols`` (migrations.CONSTRAINTS for the graph
    tables; each combine either dedups/aggregates on the key or, for
    docs, has its updates gated by ``assert_unique``)."""
    up = bucketize(updates, key_cols, n_buckets)
    per_bucket = up.groupBy(BUCKET_COL).count().collect()
    if not per_bucket:
        # empty increment: nothing to merge — and a partitioned write
        # of zero rows would produce an unreadable tmp dir (no files)
        return MergeResult([], 0, 0)
    touched = [r[0] for r in per_bucket]
    old = (
        spark.read.parquet(path)
        .where(F.col(BUCKET_COL).isin(touched))
        .drop(BUCKET_COL)
    )
    merged = bucketize(combine(old, up.drop(BUCKET_COL)), key_cols, n_buckets)
    # stage via localCheckpoint: the merged plan lazily READS the very
    # files a direct overwrite would delete, so it must be materialized
    # first — an executor-storage checkpoint does that with ONE
    # physical parquet write of the touched partitions (a tmp-dir
    # parquet stage writes them twice). Trade-off, deliberate: the
    # checkpoint blocks live on executors with truncated lineage, so
    # losing an executor mid-merge fails the JOB (not just a task).
    # That is safe because every COMBINE is idempotent (set-union /
    # key-dedup / newest-wins), so an external job retry over a
    # partially-overwritten table converges to the same result; at
    # heavy-preemption scale, set a reliable checkpoint dir and swap
    # localCheckpoint → checkpoint to regain task-level recovery at
    # the cost of the second write. The overwrite mode rides on the
    # writer, not the session conf, so concurrent writers (streaming
    # micro-batches, materialize_graph's thread pool) never observe
    # dynamic-overwrite semantics unintentionally.
    staged = merged.localCheckpoint()
    try:
        # counted before the overwrite: ``old`` is a lazy scan of the
        # very partitions it replaces
        created = staged.count() - old.count()
        staged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(BUCKET_COL).parquet(path)
    finally:
        staged.unpersist()
    return MergeResult(touched, sum(r[1] for r in per_bucket), created)


def rewrite_table(spark: SparkSession, path: str, name: str, transform) -> None:
    """Layout-preserving full-table rewrite: apply ``transform(df)`` and
    write back keeping the bucketed partitioning (and ``_n_buckets``
    sidecar) when present — data migrations must not silently flatten a
    bucketed store back to the O(table)-per-merge plain layout."""
    sidecar = Path(path) / "_n_buckets"
    out = transform(_read_table(spark, path))
    # materialize before overwriting the files the plan lazily reads
    staged = out.localCheckpoint()
    buckets = int(sidecar.read_text()) if sidecar.exists() else None
    try:
        write_graph_table(staged, path, name, buckets)
    finally:
        staged.unpersist()


def materialize_graph(
    g: GraphBuild, out_dir: str, parallel: bool = True,
    buckets: int | None = None,
) -> dict[str, str]:
    """Write the five graph tables; returns name → path.

    The five writes are independent jobs over the same checkpointed
    input — submitting them concurrently lets the scheduler interleave
    their stages (wall ≈ max instead of sum of fixed job costs).

    ``buckets=N`` hash-partitions every table on its merge key so
    later increments rewrite only touched partitions (module
    docstring); N should be sized so one bucket ≈ one comfortable
    task (e.g. 1024-8192 at 100 TB)."""
    frames = {
        "docs": g.docs,
        "doc_roots": g.doc_roots,
        "entities": g.entities,
        "appears_in": g.appears_in,
        "emails": g.emails,
    }
    paths = {name: f"{out_dir}/{name}" for name in frames}
    if parallel:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(frames)) as ex:
            futs = [
                ex.submit(write_graph_table, df, paths[name], name, buckets)
                for name, df in frames.items()
            ]
            for f in futs:
                f.result()
    else:
        for name, df in frames.items():
            write_graph_table(df, paths[name], name, buckets)
    return paths


def combine_docs(old: DataFrame, new: DataFrame) -> DataFrame:
    """MERGE on id, ON MATCH/CREATE SET all props — newest wins
    (reference documents.py:42-80)."""
    kept = old.join(new.select("id"), "id", "left_anti")
    return kept.unionByName(new, allowMissingColumns=True)


def _combine_dedup(keys: list[str]):
    def combine(old: DataFrame, new: DataFrame) -> DataFrame:
        return old.unionByName(new).dropDuplicates(keys)

    return combine


_MERGED_ARR = lambda c: F.array_sort(  # noqa: E731
    F.array_distinct(F.flatten(F.collect_list(F.col(c))))
)


def combine_appears_in(old: DataFrame, new: DataFrame) -> DataFrame:
    """ON MATCH union arrays (sorted-set semantics, reference
    named_entities.py:84-97 + O1), ON CREATE insert — associative, so
    any number of increments compose."""
    both = old.unionByName(new)
    return (
        both.groupBy("startId", "endId", "type")
        .agg(
            F.first("mentionNorm").alias("mentionNorm"),
            F.first("category").alias("category"),
            _MERGED_ARR("mentionIds").alias("mentionIds"),
            _MERGED_ARR("mentionExtractors").alias("mentionExtractors"),
            _MERGED_ARR("offsets").alias("offsets"),
            F.min("extractorLanguage").alias("extractorLanguage"),
        )
        .withColumn("mentionCount", F.size(F.col("mentionIds")))
    )


def combine_emails(old: DataFrame, new: DataFrame) -> DataFrame:
    """ON MATCH union the fields header set (reference
    named_entities.py:36-48)."""
    both = old.unionByName(new)
    return both.groupBy("startId", "endId", "type").agg(
        F.first("mentionNorm").alias("mentionNorm"),
        F.first("category").alias("category"),
        _MERGED_ARR("fields").alias("fields"),
    )


COMBINE = {
    "docs": combine_docs,
    "doc_roots": _combine_dedup(["src", "dst"]),
    "entities": _combine_dedup(["mentionNorm", "category"]),
    "appears_in": combine_appears_in,
    "emails": combine_emails,
}


# tables whose combine does NOT structurally canonicalize the key:
# combine_docs is newest-wins against OLD rows only, so an increment
# carrying one id twice (two different docs claiming the same id)
# would land both and corrupt the table. The aggregating combines
# (appears_in/emails groupBy, dropDuplicates) are structurally unique
# post-merge, so only the updates-side of docs needs the gate.
_ENFORCE_UNIQUE_UPDATES = {"docs"}


def merge_table(
    spark: SparkSession, path: str, updates: DataFrame, name: str
) -> dict:
    """MERGE ``updates`` into the stored table, auto-detecting layout:
    bucketed → partition-scoped rewrite of touched buckets only;
    plain → full read-combine-overwrite.

    Enforces the table's uniqueness constraint (migrations.CONSTRAINTS,
    the reference's constraint_document_unique_id analog) on the
    increment BEFORE merging — a batch that would corrupt the key
    raises ConstraintViolation instead of silently landing.

    Returns ``{"rows": update rows, "created": rows the MERGE added}``.
    ``created`` is the merged minus the old row count, which equals the
    update keys not stored before because the stored table and the
    merged result are key-unique (see ``merge_bucketed``). The plain
    layout takes the merged count from the ``__tmp`` copy it writes
    anyway, and counts the old table before the swap."""
    if name in _ENFORCE_UNIQUE_UPDATES:
        from ..migrations import CONSTRAINTS, assert_unique

        assert_unique(updates, CONSTRAINTS[name]["unique"], name)
    sidecar = Path(path) / "_n_buckets"
    if sidecar.exists():
        n = int(sidecar.read_text())
        r = merge_bucketed(
            spark, path, updates, TABLE_KEYS[name], COMBINE[name], n
        )
        return {"rows": r.rows, "created": r.created}
    rows = updates.count()
    old = _read_table(spark, path)
    n_old = old.count()
    n_merged = overwrite_parquet(spark, COMBINE[name](old, updates), path)
    return {"rows": rows, "created": n_merged - n_old}


def overwrite_parquet(spark: SparkSession, df: DataFrame, path: str) -> int:
    """Safe read-modify-write for parquet (write tmp, swap); returns
    the row count written. Iceberg MERGE INTO replaces this when a
    catalog is configured."""
    import shutil

    tmp = f"{path}__tmp"
    df.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    n = staged.count()
    staged.write.mode("overwrite").parquet(path)
    shutil.rmtree(tmp, ignore_errors=True)
    return n


def incremental_import(
    spark: SparkSession,
    pages: DataFrame,
    run_dir: str,
    project: str = "test_project",
) -> dict:
    """Incremental run against an existing run_dir (the reference's
    POST /full-imports re-run semantics, SURVEY.md §3.1): documents
    upserted by id, HAS_PARENT edges set-merged, APPEARS_IN edges
    array-union-merged, entities deduped. Returns counters.

    The Python parse runs ONCE per increment: the parse output is
    stage-checkpointed to parquet (``checkpoint_dir``), so the five
    table MERGEs do pruned columnar scans of the checkpoint instead of
    re-executing the mapInPandas parse. Each MERGE is one pass that
    also yields its table's counters (``merge_table``) — the reference
    gets its counters free from the Cypher ``ResultSummary``; this is
    the Spark equivalent."""
    import shutil
    import uuid

    from ..pipeline import build_graph

    # per-invocation UNIQUE staging dir, kept ON the store's storage:
    # executors must reach it (a driver-local /tmp would be invisible
    # on a multi-node cluster), and run_dir's filesystem is already
    # shared — merge_table depends on that. The unique suffix removes
    # the collision between concurrent increments; a hard kill can
    # leave a stale `_increment_ckpt_*` dir behind, which is inert
    # (never read by table scans) and safe to delete by prefix.
    ckpt = f"{run_dir}/_increment_ckpt_{uuid.uuid4().hex}"
    g = build_graph(
        pages, project=project, use_rule_ner=True, fuse_ner=True,
        include_text=False, cache=False, checkpoint_dir=ckpt,
    )
    try:
        return _incremental_merge(spark, g, run_dir)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _incremental_merge(spark: SparkSession, g, run_dir: str) -> dict:
    # the docs rows keep their ann_mentions/ann_edges carriers, so a
    # row written here has the schema `build` writes
    r = {
        name: merge_table(spark, f"{run_dir}/{name}", getattr(g, name), name)
        for name in TABLE_KEYS
    }
    return {
        "imported": r["docs"]["rows"],
        "nodes_created": r["docs"]["created"],
        "relationships_created": sum(
            r[name]["created"] for name in ("doc_roots", "appears_in", "emails")
        ),
        "entities_created": r["entities"]["created"],
    }


def incremental_import_mentions(
    spark: SparkSession, mentions: DataFrame, run_dir: str
) -> dict:
    """NE-only incremental batch: mentions whose parent documents were
    imported by a PRIOR run (reference imports.py:829-871 — the NE
    import is restricted to parents already present in the sink;
    documents.py:83-95 supplies the imported-doc id stream).

    Mentions referencing unknown documents are dropped by the semi-join
    (the reference never imports an NE without its parent); the rest
    are aggregated to APPEARS_IN / SENT / RECEIVED edges + entities and
    array-union-MERGEd into the existing tables. The semi-join runs
    once: its result is persisted for the count and the three MERGEs.
    Returns the ImportSummary-shaped counters (imports.py:130-135)."""
    from ..operators.edges import appears_in_edges, email_edges
    from ..operators.entities import entity_nodes

    total = mentions.count()
    doc_ids = (
        spark.read.parquet(f"{run_dir}/docs")
        .select(F.col("id").alias("documentId"))
    )
    m = mentions.join(doc_ids, "documentId", "left_semi").persist()
    try:
        imported = m.count()
        r = {
            name: merge_table(spark, f"{run_dir}/{name}", derive(m), name)
            for name, derive in (
                ("appears_in", appears_in_edges),
                ("emails", email_edges),
                ("entities", entity_nodes),
            )
        }
    finally:
        m.unpersist()
    return {
        "imported": imported,
        "skipped_orphans": total - imported,
        "nodes_created": 0,
        "relationships_created": r["appears_in"]["created"]
        + r["emails"]["created"],
        "entities_created": r["entities"]["created"],
    }
