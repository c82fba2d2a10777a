"""Traced mode: spans around the package's public entry points, with
Spark's own status stores attributing jobs, stages and SQL operators
to them.

``Tracer.install()`` rebinds module attributes at runtime (no source
edit) so each wrapped function records a span — name, start, end,
parent, op id — and tags the Spark jobs it submits with a job group
named after the span. ``Tracer.uninstall()`` puts the originals back;
untraced runs never call ``install``. Spans stay in memory until
``write``.

After the run ``readout`` reads the ``AppStatusStore`` job and stage
lists and the SQL status store (all readable with
``spark.ui.enabled=false``) and assigns every job to a span: by its job
group, or — for jobs submitted from threads that do not inherit the
group — to the innermost span whose interval holds its submission
time.
"""

from __future__ import annotations

import importlib
import json
import re
import time
from contextlib import contextmanager
from functools import wraps

PKG = "datashare_extension_neo4j_spark"

# (module, attribute) pairs wrapped in traced runs
WRAPPED = [
    ("manifest", "run_pipeline"),
    ("migrations", "apply_migrations"),
    ("pipeline", "build_graph"),
    ("sinks.tables", "merge_table"),
    ("sinks.tables", "incremental_import"),
    ("sinks.tables", "incremental_import_mentions"),
    ("sinks.neo4j_csv", "write_csv_distributed"),
    ("graph", "to_property_graph"),
    ("plans.dsl", "compile_dump_query"),
    ("plans.dump", "dump_graphml"),
    ("plans.dump", "dump_cypher"),
]

GROUP_PREFIX = "kgbench-span-"
_EXCHANGE = re.compile(r"\b(\w*Exchange) \(\d+\)")
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_total(text: str) -> float:
    """Bytes from a formatted SQL size metric: a bare ``1.2 KiB`` or
    ``total (min, med, max ...)\\n1.2 KiB (...)`` — the first size after
    the optional header line is the total."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def final_plan(plan: str) -> str:
    """The executed tree of a physical plan description: the AQE final
    plan when present, else the whole tree section."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    return tree


def exchange_count(plan: str) -> int:
    return len(_EXCHANGE.findall(final_plan(plan)))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []
        self.op = None

    # ---------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "t0": time.time(),
            "t1": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s['id']}")
        self.sc.setLocalProperty("spark.job.description", name)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            self._stack.pop()
            prev = self._stack[-1] if self._stack else None
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                f"{GROUP_PREFIX}{prev['id']}" if prev else None,
            )
            self.sc.setLocalProperty(
                "spark.job.description", prev["name"] if prev else None
            )

    def _wrap(self, label: str, fn):
        tracer = self

        @wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if label == "sinks.neo4j_csv.write_csv_distributed":
                path = kwargs.get("path", args[1] if len(args) > 1 else "")
                attrs["table"] = str(path).rstrip("/").rsplit("/", 1)[-1]
            with tracer.span(label, **attrs) as s:
                out = fn(*args, **kwargs)
                if label.startswith("plans.dump."):
                    s["elements"] = out
                return out

        return wrapper

    def install(self) -> None:
        for mod_name, attr in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(f"{mod_name}.{attr}", orig))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")

    # -------------------------------------------------------- readout
    def readout(self, since_ms: float) -> None:
        """Attach jobs, stage metrics and SQL executions to spans."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(jobs=[], tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                     shuffle_write=0, spill=0, job_iv=[], job_stage={})
        stages = {}
        arr = self.sc._gateway.new_array(jvm.double, 0)
        sl = store.stageList(None, False, False, arr, None)
        for i in range(sl.size()):
            st = sl.apply(i)
            if str(st.status()) != "COMPLETE":
                continue
            stages[st.stageId()] = (
                st.numCompleteTasks(),
                st.executorRunTime() / 1e3,
                st.executorCpuTime() / 1e9,
                st.jvmGcTime() / 1e3,
                st.shuffleWriteBytes(),
                st.memoryBytesSpilled() + st.diskBytesSpilled(),
            )
        jl = store.jobsList(None)
        job_span = {}
        for i in range(jl.size()):
            j = jl.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            t0 = sub.get().getTime()
            if t0 < since_ms:
                continue
            done = j.completionTime()
            t1 = done.get().getTime() if not done.isEmpty() else t0
            grp = j.jobGroup()
            sid = None
            if not grp.isEmpty() and str(grp.get()).startswith(GROUP_PREFIX):
                sid = int(str(grp.get())[len(GROUP_PREFIX):])
            else:
                sid = self._innermost(t0 / 1e3)
            if sid is None or sid not in by_id:
                continue
            s = by_id[sid]
            jid = j.jobId()
            job_span[jid] = sid
            s["jobs"].append(jid)
            s["job_iv"].append((t0 / 1e3, t1 / 1e3))
            ids = j.stageIds()
            tot = [0.0] * 6
            for k in range(ids.size()):
                m = stages.get(ids.apply(k))
                if m:
                    tot = [a + b for a, b in zip(tot, m)]
            s["job_stage"][jid] = tot
            s["tasks"] += tot[0]
            s["run_s"] += tot[1]
            s["cpu_s"] += tot[2]
            s["gc_s"] += tot[3]
            s["shuffle_write"] += tot[4]
            s["spill"] += tot[5]
        self._sql(job_span, by_id)

    def _innermost(self, t: float):
        best = None
        for s in self.spans:
            if s["t0"] <= t <= (s["t1"] or t) and s["op"] is not None:
                if best is None or s["t0"] >= best["t0"]:
                    best = s
        return best["id"] if best else None

    def _sql(self, job_span: dict, by_id: dict) -> None:
        """SQL executions → the span of their first job: plan text
        (Exchange count, parse node, widen) and Python I/O bytes."""
        for s in self.spans:
            s["executions"] = []
        sql = self.spark._jsparkSession.sharedState().statusStore()
        ex = sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            keys = e.jobs().keySet().toList()
            jids = [keys.apply(k) for k in range(keys.size())]
            sids = [job_span[j] for j in jids if j in job_span]
            if not sids:
                continue
            plan = e.physicalPlanDescription()
            rec = {"exchanges": exchange_count(plan),
                   "parse": "MapInPandas" in plan,
                   "widen": "RoundRobinPartitioning" in plan,
                   "jobs": jids}
            if rec["parse"]:
                values = sql.executionMetrics(e.executionId())
                sent = recv = 0.0
                seen = set()
                ms = e.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    acc = m.accumulatorId()
                    if acc in seen or m.name() not in (
                        "data sent to Python workers",
                        "data returned from Python workers",
                    ):
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    if v.isEmpty():
                        continue
                    if m.name().startswith("data sent"):
                        sent += _size_total(str(v.get()))
                    else:
                        recv += _size_total(str(v.get()))
                rec["py_sent"], rec["py_recv"] = sent, recv
            by_id[sids[0]]["executions"].append(rec)


# ------------------------------------------------------ aggregation
def children(spans: list[dict]) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_time(s: dict, kids: dict) -> float:
    dur = s["t1"] - s["t0"]
    return dur - sum(c["t1"] - c["t0"] for c in kids.get(s["id"], []))


def subtree(s: dict, kids: dict) -> list[dict]:
    out, todo = [], [s]
    while todo:
        x = todo.pop()
        out.append(x)
        todo.extend(kids.get(x["id"], []))
    return out


def covered(intervals: list[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
