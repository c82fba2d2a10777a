"""Output checks. Each returns a list of failure strings (empty = ok);
none of them is timed."""

from __future__ import annotations

import json
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from tools.check_oracles import canon

from datashare_extension_neo4j_spark.queries import (
    ORACLE_KG_FULL_PIPELINE,
    QUERIES,
    joined_arrays,
)
from datashare_extension_neo4j_spark.sinks import neo4j_csv
from datashare_extension_neo4j_spark.sinks.tables import _read_table

REGISTRY_TABLES = ["documents", "embeddings", "lineitem", "orders", "customer"]


def _same(a: tuple, b: tuple) -> bool:
    n_a, c_a, h_a = a
    n_b, c_b, h_b = b
    return (n_a, [c.lower() for c in c_a], h_a) == (
        n_b, [c.lower() for c in c_b], h_b)


def table_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in Path(path).rglob("*.parquet"))


def appears_in_oracle(spark, run_dir: str, docs_parquet: str) -> list[str]:
    """The store's APPEARS_IN equals ORACLE_KG_FULL_PIPELINE over the
    generated documents, under the registry's canonicaliser."""
    got = canon(joined_arrays(_read_table(spark, f"{run_dir}/appears_in"))
                .toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_parquet}'")
    want = canon(con.execute(ORACLE_KG_FULL_PIPELINE).df())
    con.close()
    if _same(got, want):
        return []
    return [f"bulk_build: APPEARS_IN rows {got[0]} hash {got[2][:8]} != "
            f"oracle rows {want[0]} hash {want[2][:8]}"]


def export_counts(run_dir: str, export_dir: str) -> list[str]:
    """metadata.json counts equal the stored tables' row counts."""
    md = json.loads((Path(export_dir) / "metadata.json").read_text())
    got = {n["headerPath"]: n["nNodes"] for n in md["nodes"]}
    got.update({r["headerPath"]: r["nRelationships"]
                for r in md["relationships"]})
    want = {
        "docs-header.csv": "docs",
        "entities-header.csv": "entities",
        "doc-roots-header.csv": "doc_roots",
        "entity-docs-header.csv": "appears_in",
        "email-docs-header.csv": "emails",
    }
    out = []
    for header, table in want.items():
        n = table_rows(f"{run_dir}/{table}")
        if got.get(header) != n:
            out.append(f"export: {header} count {got.get(header)} != "
                       f"{table} rows {n}")
    return out


CSV_LINES = {
    "docs": neo4j_csv.doc_nodes_csv_lines,
    "doc_roots": neo4j_csv.doc_roots_csv_lines,
    "entities": neo4j_csv.entities_csv_lines,
    "appears_in": neo4j_csv.entity_docs_csv_lines,
    "emails": neo4j_csv.email_docs_csv_lines,
}


def same_export_records(spark, got_dir: str, want_dir: str) -> list[str]:
    """Both stores yield the same neo4j CSV records, per table, as
    multisets (the export's own line functions; one Spark job)."""
    from functools import reduce

    from pyspark.sql import functions as F

    sides = [
        lines(_read_table(spark, f"{d}/{table}")).select(
            F.lit(table).alias("table"), "line", F.lit(sign).alias("sign"))
        for table, lines in CSV_LINES.items()
        for d, sign in ((got_dir, 1), (want_dir, -1))
    ]
    diff = (reduce(lambda a, b: a.unionByName(b), sides)
            .groupBy("table", "line").agg(F.sum("sign").alias("n"))
            .where("n != 0").collect())
    out = []
    for table in CSV_LINES:
        rows = [r for r in diff if r["table"] == table]
        if rows:
            extra = sum(r["n"] for r in rows if r["n"] > 0)
            missing = -sum(r["n"] for r in rows if r["n"] < 0)
            out.append(
                f"incremental_merge: {table} has {extra} records the "
                f"single build lacks and lacks {missing} of its records; "
                f"e.g. {min(r['line'] for r in rows)[:200]!r}")
    return out


def ann_carrier_nulls(run_dir: str) -> int:
    """Docs rows whose ``ann_mentions`` carrier is null (rows an
    ``incremental`` added; ``build`` fills it for every row)."""
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{run_dir}/docs/**/*.parquet', "
        "hive_partitioning=true, union_by_name=true) "
        "WHERE ann_mentions IS NULL").fetchone()[0]
    con.close()
    return int(n)


def registry_oracles(spark, sf_dir: str, names: list[str]) -> list[str]:
    con = duckdb.connect()
    for t in REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = []
    for name in names:
        fn, oracle = QUERIES[name]
        got = canon(fn(spark, sf_dir).toPandas())
        want = canon(con.execute(oracle).df())
        if not _same(got, want):
            out.append(f"registry: {name} rows {got[0]} hash "
                       f"{got[2][:8]} != oracle rows {want[0]} hash "
                       f"{want[2][:8]}")
    con.close()
    return out


def dump_elements(run_dir: str, req: dict) -> int:
    """Independent element count of one dump request, in DuckDB over
    the stored parquet: the pivot docs (shape filter, ORDER BY path,
    LIMIT), every APPEARS_IN/SENT/RECEIVED edge touching them, and the
    nodes those edges reach."""
    con = duckdb.connect()
    for t in ("docs", "entities", "appears_in", "emails"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{run_dir}/{t}/**/*.parquet', hive_partitioning=true, "
            "union_by_name=true)")
    limit = int(req["limit"])
    if req["shape"] == "default":
        pivot = f"SELECT id FROM docs ORDER BY path LIMIT {limit}"
    elif req["shape"] == "where":
        prefix = req["query"]["queries"][0]["where"]["startsWith"]["value"][
            "literal"]
        pivot = (f"SELECT id FROM docs WHERE starts_with(path, '{prefix}') "
                 f"ORDER BY path LIMIT {limit}")
    else:
        cat = req["query"]["queries"][0]["matches"][0]["path"]["nodes"][1][
            "labels"][1]
        pivot = (
            "SELECT DISTINCT id FROM (SELECT d.id FROM docs d "
            "JOIN appears_in a ON a.endId = d.id "
            f"JOIN entities e ON e.entityId = a.startId AND e.category = '{cat}' "
            f"ORDER BY d.path LIMIT {limit})")
    n = con.execute(f"""
        WITH d AS ({pivot}),
        rels AS (SELECT startId AS src, endId AS dst, type FROM appears_in
                 UNION ALL SELECT startId, endId, type FROM emails),
        e AS (SELECT DISTINCT src, dst, type FROM rels
              WHERE src IN (SELECT id FROM d) OR dst IN (SELECT id FROM d)),
        ids AS (SELECT id FROM d UNION SELECT src FROM e UNION SELECT dst FROM e),
        nodes AS (SELECT id AS node_id FROM docs
                  UNION ALL SELECT entityId FROM entities)
        SELECT (SELECT count(*) FROM nodes WHERE node_id IN (SELECT id FROM ids))
             + (SELECT count(*) FROM e)
    """).fetchone()[0]
    con.close()
    return int(n)
