"""Tiny-size smoke test of the benchmark itself.

    python3 kgbench/selftest.py            # every workload, untraced
    python3 kgbench/selftest.py --trace    # plus one traced run each

Runs ``run.py --size tiny`` for each workload in BENCHMARK.json and
asserts the result format: the last stdout line is one JSON object
with exactly ``correct``/``attempted``/``failed``/``metrics``, the
metrics are exactly the declared end-to-end (untraced) or per-layer
(traced) ones with their units, every run is correct, and the run
leaves no work dir behind. Finally it checks that a directory holding
only BENCHMARK.json and the benchmark fails without printing a result.
Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(p: subprocess.CompletedProcess, trace: int) -> None:
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] is True and res["failed"] == 0, p.stdout[-2000:]
    assert res["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, (m, got)


def main() -> int:
    traced = "--trace" in sys.argv
    for w in SPEC["workloads"]:
        for trace in (0, 1) if traced else (0,):
            check_result(run(ROOT, w["name"], trace), trace)
            print(f"ok   {w['name']} trace={trace}")
    assert not (ROOT / ".kgbench_work").exists(), "work dir left behind"

    bare = ROOT / ".kgbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, SPEC["workloads"][0]["name"], 0)
    shutil.rmtree(ROOT / ".kgbench_work", ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, p.stdout
    print("ok   bare directory fails without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
