"""KG-construction benchmark: one command per workload.

    python3 kgbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.kgbench_work/`` (deleted at exit), starts one Spark
session on ``local[<cores>]``, sets up (several times when cheap),
runs operations for ``--seconds`` (a closed loop with one client),
checks the outputs, and prints a human-readable ``kgbench report:``
line followed, as the last line, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations and reports the per-layer metrics
(spans are written to ``.kgbench_out/``). ``--size tiny`` shrinks
every input for the self-test (``kgbench/selftest.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv):
    p = argparse.ArgumentParser(prog="kgbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


class Harness:
    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.work = ROOT / ".kgbench_work" / (
            f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.notes: dict = {}

    now = staticmethod(time.perf_counter)

    # --------------------------------------------------------- session
    def start_spark(self) -> None:
        for d in ("local", "tmp", "jtmp"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        n = cores()
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        conf = {
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'jtmp'} -XX:-UsePerfData",
        }
        if self.args.trace:
            # keep every job/stage/execution of the run in the stores
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000",
                         "spark.sql.ui.retainedExecutions": "100000"})
        from datashare_extension_neo4j_spark.session import get_spark

        self.spark = get_spark(app_name="kgbench", master=f"local[{n}]",
                               extra_conf=conf)
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the gateway JVM exits on EOF of its stdin
                proc.stdin.close()
                proc.wait(timeout=120)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass

    def cpu(self) -> float:
        """CPU seconds (user + system) used so far by this process, the
        JVM and every process under the JVM (the Python workers), reaped
        children included. Time the host steals from this VM is not
        charged to any of them."""
        procs = {}
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            f = stat[stat.rindex(")") + 2:].split()
            # f[1] = ppid; f[11:15] = utime, stime, cutime, cstime
            procs[int(d.name)] = (int(f[1]), sum(map(int, f[11:15])))
        tree = {os.getpid(), self.jvm_pid}
        grew = True
        while grew:
            new = {p for p, (pp, _) in procs.items()
                   if pp in tree and p not in tree}
            tree |= new
            grew = bool(new)
        ticks = sum(procs[p][1] for p in tree if p in procs)
        return ticks / os.sysconf("SC_CLK_TCK")

    # ---------------------------------------------------- entry points
    def cli(self, *argv: str) -> tuple[float, dict]:
        """One in-process CLI call; returns (wall s, its JSON output)
        and leaves its CPU seconds in ``last_cpu``."""
        from datashare_extension_neo4j_spark.cli import main

        buf = io.StringIO()
        c0 = self.cpu()
        t0 = self.now()
        with contextlib.redirect_stdout(buf):
            rc = main(list(argv))
        dt = self.now() - t0
        self.last_cpu = self.cpu() - c0
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]} exited {rc}")
        return dt, json.loads(buf.getvalue().strip().splitlines()[-1])

    def materialize_pages(self, docs_dir: str, out: str) -> None:
        from datashare_extension_neo4j_spark.fixtures import materialize_pages

        materialize_pages(self.spark, docs_dir, out)

    def write_mentions(self, pdf, out: str) -> None:
        from datashare_extension_neo4j_spark.schemas import MENTION_SCHEMA

        self.spark.createDataFrame(pdf, MENTION_SCHEMA).write.parquet(out)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def persisted_rdds(self) -> set:
        from datashare_extension_neo4j_spark.operators.graph_algos import (
            _persistent_rdd_ids,
        )

        return _persistent_rdd_ids(self.spark) or set()

    # -------------------------------------------------------------- run
    def run(self):
        from spans import Tracer
        from workloads import (SIZES, WORKLOADS, median, per_layer_names,
                               span_layers)

        args = self.args
        since_ms = time.time() * 1e3
        t0 = self.now()
        self.start_spark()
        session_s = self.now() - t0
        cls = WORKLOADS[args.workload]
        rounds = max(1, round(args.seconds / cls.op_seconds))
        if args.trace:
            # untraced and traced operations alternate, untraced first
            rounds = max(rounds, 3)
        w = cls(self, SIZES[args.size], rounds)
        w.setup_once()
        reps = []
        for r in range(w.setup_reps):
            t0 = self.now()
            w.setup(r)
            reps.append(self.now() - t0)
        t0 = self.now()
        w.warm()
        warm_s = self.now() - t0
        tracer = Tracer(self.spark) if args.trace else None
        failures: list[str] = []
        op_errors = 0
        leaked = []
        for i in range(rounds):
            traced = tracer is not None and i % 2 == 1
            before = self.persisted_rdds()
            if traced:
                self.tracer = tracer
                tracer.op = i
                tracer.install()
            try:
                with self.span("op"):
                    rec = w.op(i)
            except Exception as e:  # an operation failed: count it, stop
                failures.append(f"{w.name}: op {i} raised {e!r}"[:500])
                op_errors += 1
                break
            finally:
                if traced:
                    tracer.uninstall()
                    tracer.op = None
                    self.tracer = None
            rec["traced"] = traced
            rec["op_s"] = rec["write_s"] + rec["read_s"]
            leaked.append(len(self.persisted_rdds() - before))
            failures += rec["failures"]
            w.ops.append(rec)
        try:
            check_fail = w.check() if w.ops else ["no operation completed"]
        except Exception as e:
            check_fail = [f"{w.name}: check raised {e!r}"[:500]]
        failures += check_fail
        # every operation plus the final check is one attempt
        attempted = len(w.ops) + op_errors + 1
        failed = (sum(1 for o in w.ops if o["failures"]) + op_errors
                  + bool(check_fail))
        rss = vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)
        report = {"workload": w.name, "seed": self.seed, "ops": len(w.ops),
                  "write_s": [round(o["write_s"], 4) for o in w.ops],
                  "read_s": [round(o["read_s"], 4) for o in w.ops],
                  "write_cpu_s": [round(o["write_cpu_s"], 2) for o in w.ops],
                  "read_cpu_s": [round(o["read_cpu_s"], 2) for o in w.ops],
                  "session_s": session_s, "warm_s": warm_s,
                  "setup_reps_s": reps, **w.report(),
                  "error_rate": failed / attempted, "peak_rss_mb": rss,
                  "failures": failures, "notes": self.notes}
        if not args.trace:
            metrics = {
                "setup_s": (session_s + warm_s + median(reps), "s"),
                "write_cpu_s": (median(o["write_cpu_s"] for o in w.ops), "s"),
                "read_cpu_s": (median(o["read_cpu_s"] for o in w.ops), "s"),
            }
        else:
            tracer.readout(since_ms)
            traced = [o for o in w.ops if o["traced"]]
            plain = [o for o in w.ops if not o["traced"]]
            layer = span_layers(tracer, [i for i, o in enumerate(w.ops)
                                         if o["traced"]])
            layer.update(w.layers(traced))
            leak = median(leaked)
            # bulk_build's operations end in the registry sweep
            layer["queries.persisted_rdds_after" if w.name == "bulk_build"
                  else "tables.persisted_rdds_after"] = leak
            layer["trace.op_s_p50"] = median(o["op_s"] for o in traced)
            # the first operation still pays warm-up; compare later ones
            layer["trace.untraced_op_s_p50"] = median(
                o["op_s"] for o in plain[1:])
            layer["trace.overhead_s"] = (layer["trace.op_s_p50"]
                                         - layer["trace.untraced_op_s_p50"])
            out = ROOT / ".kgbench_out"
            out.mkdir(exist_ok=True)
            tracer.write(str(out / f"spans-{w.name}-{self.seed}.jsonl"))
            report["spans"] = len(tracer.spans)
            metrics = {n: (float(layer.get(n, 0.0)), u)
                       for n, u in per_layer_names()}
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        # the package under test comes from the checkout; without it
        # there is nothing to measure
        import datashare_extension_neo4j_spark as engine
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"kgbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if not Path(engine.__file__).resolve().is_relative_to(ROOT):
        print(f"kgbench: engine {engine.__file__} is not from {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    h = Harness(args)
    try:
        report, result = h.run()
    finally:
        h.close()
    print("kgbench report: " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
