"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The run cases start the benchmark in a subprocess at a tiny input size,
so each one starts and stops its own JVM (about 45 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import checks
from perfbench.run import END_TO_END, PER_LAYER
from perfbench.spans import _duration_s, final_plan_tree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {"ai_update": 1500, "curate_neardup": 800, "semdedup_daily": 3000}


def run_bench(tmp_path, args, code=None):
    env = dict(os.environ, PERFBENCH_CACHE=str(tmp_path / "cache"))
    head = [sys.executable, "perfbench/run.py"] if code is None else [sys.executable, "-c", code]
    proc = subprocess.run(
        head + args, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout, json.loads(proc.stdout.strip().splitlines()[-1])


def tiny(workload, *extra):
    return ["--workload", workload, "--seed", "1", "--seconds", "0",
            "--size", str(TINY[workload]), *extra]


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke_run_reports_every_end_to_end_metric(tmp_path, workload):
    stdout, out = run_bench(tmp_path, tiny(workload))
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 3
    assert set(out["metrics"]) == set(END_TO_END)
    for name, m in out["metrics"].items():
        assert m["unit"] == END_TO_END[name]
        assert m["value"] > 0, name
    assert "failed_frac=0.0000" in stdout


@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_job_of_a_traced_pass_belongs_to_a_span(tmp_path, workload):
    _, out = run_bench(tmp_path, tiny(workload, "--trace", "1"))
    assert out["correct"] is True
    assert set(out["metrics"]) == set(PER_LAYER)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0
    assert m["trace.jobs_attributed_ratio"] == 1.0
    spans = json.load(open(os.path.join(ROOT, ".perfbench", f"spans-{workload}-s1.json")))
    assert spans and all(
        {"name", "start", "end", "parent", "pass"} <= set(s) and s["end"] >= s["start"]
        for s in spans
    )


CORRUPTING_RUN = """
import os
import sys

import pyarrow.parquet as pq

from perfbench import gen, run, workloads


class Corrupted(workloads.CurateNeardup):
    # drop one verified pair from the stage output before it is checked
    def _check(self, pipe):
        path = pipe.path("verified", {}, gen.NOW)
        table = workloads.read_stage(pipe, "verified").sort_by("id_a").slice(1)
        for name in os.listdir(path):
            if name.endswith(".parquet"):
                os.remove(os.path.join(path, name))
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        return super()._check(pipe)


workloads.WORKLOADS["curate_neardup"] = Corrupted
sys.exit(run.main(sys.argv[1:]))
"""


def test_corrupted_output_counts_as_failed(tmp_path):
    stdout, out = run_bench(tmp_path, tiny("curate_neardup"), code=CORRUPTING_RUN)
    assert out["correct"] is False
    assert out["failed"] == out["attempted"] >= 3
    assert "failed_frac=1.0000" in stdout
    assert "planted near-duplicate pairs not found" in stdout


# -- checks and span helpers (no Spark) -----------------------------------------

def test_jaccard_of_one_token_edit():
    a = " ".join(f"t{i}" for i in range(20))
    b = a.replace("t10", "edit")
    # 18 shingles each, 3 touched by the edit
    assert checks.jaccard(a, b) == 15 / 21


def test_brute_force_drops_index_and_within_batch_copies():
    rng = np.random.default_rng(0)
    index = rng.standard_normal((50, 8))
    batch = rng.standard_normal((4, 8))
    batch[1] = index[7] * 1.001
    batch[3] = batch[2] * 2.0
    got = checks.brute_force_drops(checks.unit_rows(index), batch, 0.95)
    assert list(got) == [1, 3]


def test_final_plan_tree_and_metric_durations():
    desc = (
        "AdaptiveSparkPlan (9)\n+- == Final Plan ==\n   HashAggregate (5)\n"
        "   +- Exchange (4)\n+- == Initial Plan ==\n   SortAggregate (8)\n\n\n(1) Scan"
    )
    tree = final_plan_tree(desc)
    assert "Exchange" in tree and "SortAggregate" not in tree
    assert _duration_s("7 ms") == 0.007
    assert _duration_s("total (min, med, max)\n1.5 s (0 ms, 1 ms, 2 ms)") == 1.5
