"""The benchmark's workloads. Each is a closed loop with one client:
the next operation starts when the previous one has returned.

A workload has ``setup_once`` (inputs every set-up repetition shares),
``setup`` (one repetition: input generation and store build, timed),
``op`` (one timed operation through the CLI or the query registry),
``check`` (untimed output checks) and ``layers`` (per-layer numbers of
the traced operations).
"""

from __future__ import annotations

import json
import shutil
import statistics
from pathlib import Path

import pandas as pd

import gen
import checks
from spans import children, covered, self_time, subtree

# the 10 frozen bench.py HEADLINE queries, then the two extra leaves
REGISTRY = [
    "kg_mentions", "kg_appears_in", "kg_entities", "kg_email_edges",
    "dedup_minhash_pairs", "dedup_simhash", "ann_cosine_topk", "text_stats",
    "tpch_q1", "join_topn", "kg_full_pipeline", "dedup_ngram_jaccard",
]
MANIFEST_STAGES = ["parse", "docs", "doc_roots", "mentions", "entities",
                   "appears_in", "emails"]
CSV_TABLES = ["docs", "doc-roots", "entities", "entity-docs", "email-docs"]

SIZES = {
    # bulk_docs: pages in the bulk corpus; store_docs: pages in the
    # store the merge rounds start from; batch_docs /
    # batch_mentions: one increment / one mention batch; reg_*: the
    # registry sweep's tables
    "full": dict(bulk_docs=4_000, store_docs=600, batch_docs=100,
                 reingest=0.3, batch_mentions=200, orphans=15,
                 buckets=8, reg_docs=400, reg_vec=400,
                 reg_orders=10_000),
    "tiny": dict(bulk_docs=300, store_docs=200, batch_docs=20,
                 reingest=0.3, batch_mentions=30, orphans=3,
                 buckets=2, reg_docs=200, reg_vec=100, reg_orders=500),
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = [(f"manifest.{s}_s", "s") for s in MANIFEST_STAGES]
    out += [("manifest.bytes_written", "B"),
            ("manifest.bytes_per_page_byte", "ratio"),
            ("migrations.apply_s", "s"),
            ("extract.executor_run_s", "s"), ("extract.executor_cpu_s", "s"),
            ("extract.tasks", "count"), ("extract.py_bytes_sent", "B"),
            ("extract.py_bytes_received", "B"),
            ("pipeline.build_graph_s", "s"), ("pipeline.widen_fired", "flag"),
            ("tables.merge_table_s", "s"), ("tables.counters_s", "s"),
            ("tables.mention_counters_s", "s"),
            ("tables.jobs_per_increment", "count"),
            ("tables.tasks_per_increment", "count"),
            ("tables.jobs_per_mention_batch", "count"),
            ("tables.touched_buckets", "count"),
            ("tables.bytes_rewritten_per_increment", "B"),
            ("tables.write_amplification", "ratio"),
            ("tables.persisted_rdds_after", "count"),
            ("tables.stale_ckpt_dirs", "count")]
    out += [(f"neo4j_csv.{t}_s", "s") for t in CSV_TABLES]
    out += [("neo4j_csv.bytes_written", "B"),
            ("graph.to_property_graph_s", "s"),
            ("dsl.compile_dump_query_s", "s"), ("dump.write_s", "s"),
            ("dump.jobs_per_query", "count"),
            ("dump.elements_per_query", "count")]
    for q in REGISTRY:
        out += [(f"queries.{q}.construct_s", "s"),
                (f"queries.{q}.execute_s", "s"),
                (f"queries.{q}.exchanges", "count")]
    out += [("queries.persisted_rdds_after", "count"),
            ("spark.jobs", "count"), ("spark.tasks", "count"),
            ("spark.executor_run_s", "s"), ("spark.gc_s", "s"),
            ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
            ("driver.gap_s", "s"),
            ("trace.op_s_p50", "s"), ("trace.untraced_op_s_p50", "s"),
            ("trace.overhead_s", "s")]
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def listing(run_dir: Path) -> dict:
    """relative file path → (size, mtime_ns) of the store's data files
    (increment staging dirs excluded)."""
    out = {}
    for f in run_dir.rglob("*"):
        rel = f.relative_to(run_dir)
        if f.is_file() and not rel.parts[0].startswith("_increment_ckpt_"):
            st = f.stat()
            out[str(rel)] = (st.st_size, st.st_mtime_ns)
    return out


def rewrite_stats(before: dict, after: dict) -> tuple[int, int]:
    """(touched bucket dirs, bytes of new or changed files)."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    gone = [k for k in before if k not in after]
    touched = {str(Path(k).parent) for k in changed + gone if "_bucket=" in k}
    return len(touched), sum(after[k][0] for k in changed)


class Workload:
    """One workload: every operation is a write phase followed by a
    read phase over what was written or generated."""

    name = ""
    setup_reps = 1
    # nominal seconds of one operation on 4 cores: a run of --seconds S
    # does max(1, round(S / op_seconds)) operations, a fixed amount of
    # work whatever the speed of the code under test
    op_seconds = 10.0

    def __init__(self, h, size: dict, rounds: int):
        self.h = h
        self.size = size
        self.rounds = rounds
        self.ops: list[dict] = []

    def setup_once(self) -> None:
        pass

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Warm-up after set-up, counted in set-up time."""

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []

    def layers(self, traced: list[dict]) -> dict:
        return {}

    def report(self) -> dict:
        """Per-command medians for the report line."""
        return {}


# ------------------------------------------------------------ bulk
class BulkBuild(Workload):
    """Write: ``build`` of the seeded pages corpus into a fresh run dir,
    then ``export-csv --distributed`` of that store. Read: one sweep of
    the 12 registry queries through the ``noop`` sink."""

    name = "bulk_build"
    setup_reps = 3

    def setup(self, rep: int) -> None:
        w = self.h.work / f"bulk_in{rep}"
        docs = gen.corpus(self.h.seed, w / "docs", self.size["bulk_docs"])
        self.h.materialize_pages(docs, str(w / "pages"))
        self.docs_dir, self.pages = docs, str(w / "pages")
        self.sf = gen.registry_tables(
            self.h.seed, w / "tables", self.size["reg_docs"],
            self.size["reg_vec"], self.size["reg_orders"])

    def warm(self) -> None:
        """The registry oracle check: every query once, untimed; it also
        starts the Python workers the parse runs on."""
        self.failed_oracles = checks.registry_oracles(
            self.h.spark, self.sf, REGISTRY)

    def op(self, i: int) -> dict:
        run = self.h.work / f"bulk_run{i}"
        exp = self.h.work / f"bulk_export{i}"
        build_s, _ = self.h.cli("build", "--pages", self.pages,
                                "--run-dir", str(run))
        cpu = self.h.last_cpu
        export_s, md = self.h.cli("export-csv", "--run-dir", str(run),
                                  "--export-dir", str(exp), "--distributed")
        rec = {"build_s": build_s, "export_s": export_s,
               "write_s": build_s + export_s,
               "write_cpu_s": cpu + self.h.last_cpu, "run": str(run),
               "export": str(exp), "n_docs": md["nodes"][0]["nNodes"],
               "failures": checks.export_counts(str(run), str(exp))}
        man = json.loads((run / "manifest.json").read_text())["stages"]
        rec["manifest"] = {s: man[s]["wall_s"] for s in MANIFEST_STAGES}
        rec["manifest_bytes"] = sum(p.get("bytes", 0) for s in man.values()
                                    for p in s["partitions"])
        rec["export_bytes"] = dir_bytes(exp)
        if i:
            # keep only the newest store, for the untimed oracle check
            shutil.rmtree(self.ops[-1]["run"], ignore_errors=True)
            shutil.rmtree(self.ops[-1]["export"], ignore_errors=True)
        rec.update(self.sweep())
        return rec

    def sweep(self) -> dict:
        from datashare_extension_neo4j_spark.queries import QUERIES

        rec = {"construct": {}, "execute": {}}
        c0 = self.h.cpu()
        for name in REGISTRY:
            fn = QUERIES[name][0]
            with self.h.span(f"queries.{name}.construct"):
                t0 = self.h.now()
                df = fn(self.h.spark, self.sf)
                t1 = self.h.now()
            with self.h.span(f"queries.{name}.execute"):
                df.write.format("noop").mode("overwrite").save()
                t2 = self.h.now()
            rec["construct"][name] = t1 - t0
            rec["execute"][name] = t2 - t1
        rec["read_cpu_s"] = self.h.cpu() - c0
        rec["read_s"] = sum(rec["construct"].values()) + sum(
            rec["execute"].values())
        return rec

    def check(self) -> list[str]:
        return self.failed_oracles + checks.appears_in_oracle(
            self.h.spark, self.ops[-1]["run"],
            f"{self.docs_dir}/documents.parquet")

    def report(self) -> dict:
        build = median(o["build_s"] for o in self.ops)
        return {"build_s": build,
                "build_docs_per_s": self.ops[-1]["n_docs"] / build,
                "export_s": median(o["export_s"] for o in self.ops),
                "registry_s": median(o["read_s"] for o in self.ops)}

    def layers(self, traced) -> dict:
        page_bytes = dir_bytes(Path(self.pages))
        out = {f"manifest.{s}_s": median(o["manifest"][s] for o in traced)
               for s in MANIFEST_STAGES}
        out["manifest.bytes_written"] = median(
            o["manifest_bytes"] for o in traced)
        out["manifest.bytes_per_page_byte"] = (
            out["manifest.bytes_written"] / page_bytes)
        out["neo4j_csv.bytes_written"] = median(
            o["export_bytes"] for o in traced)
        for q in REGISTRY:
            out[f"queries.{q}.construct_s"] = median(
                o["construct"][q] for o in traced)
            out[f"queries.{q}.execute_s"] = median(
                o["execute"][q] for o in traced)
        return out


# ----------------------------------------------------- incremental
class IncrementalMerge(Workload):
    """A bucketed store, then rounds. Write: one ``incremental`` pages
    batch, then one ``import-mentions`` batch (a fixed order: with one
    round per run, a seeded order would make the colder first call
    vary by seed). Read: one ``dump`` of the store just written;
    requests cycle through the seeded widget mix.

    The run does a fixed number of rounds, so set-up can also build the
    single-build reference over the same pages; the two store builds
    are the set-up repetitions."""

    name = "incremental_merge"
    setup_reps = 2

    def setup_once(self) -> None:
        self.base = gen.documents(self.h.seed, self.size["store_docs"])
        self.batches = gen.increments(
            self.h.seed, self.base, self.rounds, self.size["batch_docs"],
            self.size["reingest"])
        self.mix = gen.dump_mix(self.h.seed, self.rounds)

    def setup(self, rep: int) -> None:
        """rep 0: the store the rounds merge into; rep 1: one build over
        the base plus every round's pages (the check's reference)."""
        w = self.h.work / f"merge_in{rep}"
        (w / "docs").mkdir(parents=True)
        docs = self.base if rep == 0 else pd.concat(
            [self.base, *self.batches]).drop_duplicates("doc_id")
        gen._write(docs.sort_values("doc_id"), w / "docs" / "documents.parquet")
        self.h.materialize_pages(str(w / "docs"), str(w / "pages"))
        self.h.cli("build", "--pages", str(w / "pages"), "--run-dir",
                   str(w / "store"), "--buckets", str(self.size["buckets"]))
        if rep == 0:
            self.store = w / "store"
        else:
            self.reference = w / "store"

    def _inputs(self, i: int) -> tuple[str, str, pd.DataFrame]:
        w = self.h.work / f"round{i}"
        (w / "docs").mkdir(parents=True)
        gen._write(self.batches[i], w / "docs" / "documents.parquet")
        self.h.materialize_pages(str(w / "docs"), str(w / "pages"))
        m = gen.mention_batch(self.h.seed, i, self.base.doc_id.values,
                              self.size["batch_mentions"],
                              self.size["orphans"])
        self.h.write_mentions(m, str(w / "mentions"))
        return str(w / "pages"), str(w / "mentions"), m

    def op(self, i: int) -> dict:
        pages, mentions, m = self._inputs(i)
        batch = self.batches[i]
        n_new = int((~batch.doc_id.isin(self.base.doc_id)).sum())
        rec = {"m": m, "page_bytes": dir_bytes(Path(pages)), "failures": [],
               "write_cpu_s": 0.0}
        for kind in ("inc", "men"):
            if self.h.tracer is not None:
                before = listing(self.store)
            if kind == "inc":
                t, c = self.h.cli("incremental", "--pages", pages,
                                  "--run-dir", str(self.store))
                rec["increment_s"] = t
                want = {"imported": len(batch), "nodes_created": n_new}
            else:
                t, c = self.h.cli("import-mentions", "--mentions", mentions,
                                  "--run-dir", str(self.store))
                rec["mention_batch_s"] = t
                orphans = self.size["orphans"]
                want = {"imported": len(m) - orphans,
                        "skipped_orphans": orphans}
            rec["write_cpu_s"] += self.h.last_cpu
            for k, v in want.items():
                if c.get(k) != v:
                    rec["failures"].append(
                        f"incremental_merge: {kind} counter {k}={c.get(k)}"
                        f" != generated {v}")
            if self.h.tracer is not None:
                rec[f"{kind}_rewrite"] = rewrite_stats(
                    before, listing(self.store))
        rec["write_s"] = rec["increment_s"] + rec["mention_batch_s"]
        # rounds 2k-1 and 2k share a request, so a traced run compares
        # a traced and an untraced round on the same dump
        dump = run_dump(self.h, self.store, self.mix[(i + 1) // 2])
        rec["failures"] += dump["failures"]
        rec["read_s"], rec["elements"] = dump["dump_s"], dump["elements"]
        rec["read_cpu_s"] = dump["dump_cpu_s"]
        return rec

    def check(self) -> list[str]:
        """The reference (one build over the same pages) plus one
        ``import-mentions`` of every applied mention batch must export
        the same records as the incrementally maintained store."""
        w = self.h.work / "reference_mentions"
        self.h.write_mentions(pd.concat([o["m"] for o in self.ops]), str(w))
        self.h.cli("import-mentions", "--mentions", str(w),
                   "--run-dir", str(self.reference))
        out = checks.same_export_records(self.h.spark, str(self.store),
                                         str(self.reference))
        self.h.notes["ann_carrier_null_rows"] = checks.ann_carrier_nulls(
            str(self.store))
        return out

    def report(self) -> dict:
        return {"increment_s_p50": median(o["increment_s"] for o in self.ops),
                "mention_batch_s_p50": median(o["mention_batch_s"]
                                              for o in self.ops),
                "dump_s_p50": median(o["read_s"] for o in self.ops)}

    def layers(self, traced) -> dict:
        out = {}
        inc = [o for o in traced if "inc_rewrite" in o]
        if inc:
            out["tables.touched_buckets"] = median(
                o["inc_rewrite"][0] for o in inc)
            out["tables.bytes_rewritten_per_increment"] = median(
                o["inc_rewrite"][1] for o in inc)
            out["tables.write_amplification"] = median(
                o["inc_rewrite"][1] / o["page_bytes"] for o in inc)
        out["tables.stale_ckpt_dirs"] = len(
            list(self.store.glob("_increment_ckpt_*")))
        out["dump.elements_per_query"] = median(o["elements"] for o in traced)
        return out


def run_dump(h, store: Path, req: dict) -> dict:
    """One ``dump`` request; its element count is checked against an
    independent DuckDB count over the same store."""
    args = ["dump", "--run-dir", str(store), "--output",
            str(h.work / "dump.out"), "--format", req["format"],
            "--limit", str(req["limit"])]
    if req["query"]:
        args += ["--query", json.dumps(req["query"])]
    t, out = h.cli(*args)
    cpu = h.last_cpu
    want = checks.dump_elements(str(store), req)
    fails = [] if out["elements"] == want else [
        f"dump: {req['shape']}/{req['format']} elements "
        f"{out['elements']} != duckdb {want}"]
    return {"dump_s": t, "dump_cpu_s": cpu, "elements": out["elements"],
            "failures": fails}


WORKLOADS = {w.name: w for w in (BulkBuild, IncrementalMerge)}


# ------------------------------------------------- span-derived layers
def span_layers(tracer, op_ids: list[int]) -> dict:
    """Per-layer numbers from the traced operations' spans: self times
    per wrapped function, job/stage attribution, SQL-plan facts. Each
    value is the median over operations of the per-operation total."""
    spans = tracer.spans
    kids = children(spans)
    per_op: list[dict] = []
    for op in op_ids:
        root = next(s for s in spans if s["name"] == "op" and s["op"] == op)
        tree = subtree(root, kids)
        v: dict[str, float] = {}

        def add(k, x):
            v[k] = v.get(k, 0.0) + x

        for s in tree:
            n, st = s["name"], self_time(s, kids)
            if n == "migrations.apply_migrations":
                add("migrations.apply_s", st)
            elif n == "pipeline.build_graph":
                add("pipeline.build_graph_s", st)
                inner = subtree(s, kids)
                if any(e["parse"] and e["widen"]
                       for x in inner for e in x["executions"]):
                    v["pipeline.widen_fired"] = 1.0
            elif n == "sinks.tables.merge_table":
                add("tables.merge_table_s", st)
            elif n == "sinks.tables.incremental_import":
                add("tables.counters_s", st)
                inner = subtree(s, kids)
                add("tables.jobs_per_increment",
                    sum(len(x["jobs"]) for x in inner))
                add("tables.tasks_per_increment",
                    sum(x["tasks"] for x in inner))
            elif n == "sinks.tables.incremental_import_mentions":
                add("tables.mention_counters_s", st)
                add("tables.jobs_per_mention_batch",
                    sum(len(x["jobs"]) for x in subtree(s, kids)))
            elif n == "sinks.neo4j_csv.write_csv_distributed":
                add(f"neo4j_csv.{s['table']}_s", st)
            elif n == "graph.to_property_graph":
                add("graph.to_property_graph_s", st)
            elif n == "plans.dsl.compile_dump_query":
                add("dsl.compile_dump_query_s", st)
            elif n in ("plans.dump.dump_graphml", "plans.dump.dump_cypher"):
                add("dump.write_s", st)
            elif n.startswith("queries.") and n.endswith(".construct"):
                q = n.split(".")[1]
                add(f"queries.{q}.exchanges",
                    sum(e["exchanges"] for e in s["executions"]))
            elif n.startswith("queries.") and n.endswith(".execute"):
                q = n.split(".")[1]
                add(f"queries.{q}.exchanges",
                    sum(e["exchanges"] for e in s["executions"]))
            if n in ("manifest.run_pipeline",
                     "sinks.tables.incremental_import"):
                for x in subtree(s, kids):
                    for e in x["executions"]:
                        if e["parse"]:
                            add("extract.py_bytes_sent", e["py_sent"])
                            add("extract.py_bytes_received", e["py_recv"])
                            jobs = set(e["jobs"])
                            add("extract.executor_run_s", sum(
                                m[1] for j, m in x["job_stage"].items()
                                if j in jobs))
                            add("extract.executor_cpu_s", sum(
                                m[2] for j, m in x["job_stage"].items()
                                if j in jobs))
                            add("extract.tasks", sum(
                                m[0] for j, m in x["job_stage"].items()
                                if j in jobs))
        dump_spans = [s for s in tree if s["name"].startswith(
            ("graph.", "plans.dsl.", "plans.dump."))]
        if dump_spans:
            add("dump.jobs_per_query", sum(len(s["jobs"]) for s in dump_spans))
        add("spark.jobs", sum(len(s["jobs"]) for s in tree))
        add("spark.tasks", sum(s["tasks"] for s in tree))
        add("spark.executor_run_s", sum(s["run_s"] for s in tree))
        add("spark.gc_s", sum(s["gc_s"] for s in tree))
        add("spark.shuffle_write_bytes", sum(s["shuffle_write"] for s in tree))
        add("spark.spill_bytes", sum(s["spill"] for s in tree))
        iv = [i for s in tree for i in s["job_iv"]]
        add("driver.gap_s", (root["t1"] - root["t0"])
            - covered(iv, root["t0"], root["t1"]))
        per_op.append(v)
    keys = {k for v in per_op for k in v}
    return {k: median(v.get(k, 0.0) for v in per_op) for k in keys}
