"""Self-tests of the benchmark: metric names, the workload record, seeding,
and a tiny-size smoke run of every workload in both modes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run, tracing, workloads  # noqa: E402
from perfbench.stats import quartile_spread  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {"er_batch": ("ER_SYNTH", 80), "corpus_qa": ("QA_SYNTH", 80)}


def test_benchmark_json_matches_printed_metrics():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_workload_record_names_printed_metrics():
    record = json.loads((ROOT / "perfbench" / "workloads.json").read_text())
    assert set(record["workloads"]) == set(workloads.WORKLOADS)
    for w in record["workloads"].values():
        assert set(w["layer_metrics"]) <= set(run.PER_LAYER)
        assert set(w["moves"].values()) <= set(run.END_TO_END)
    covered = set().union(*(w["layer_metrics"] for w in record["workloads"].values()))
    assert covered == set(run.PER_LAYER)


def test_quartile_spread_and_covered():
    assert quartile_spread([10.0] * 5) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_seed_changes_inputs(name):
    from ertransfer_spark.synth import SynthConfig, generate

    synth = {**getattr(workloads, TINY[name][0]), "n_conversations": TINY[name][1]}
    a1, b1, m1 = generate(SynthConfig(seed=1, **synth))
    a2, b2, m2 = generate(SynthConfig(seed=2, **synth))
    assert not a1.equals(a2) and not b1.equals(b2)
    a1_again = generate(SynthConfig(seed=1, **synth))[0]
    assert a1.equals(a1_again)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _run_tiny(name: str, seed: int, trace: int) -> dict:
    """``run.main`` in a fresh process (one JVM per process, as in a real
    run) with the workload's corpus shrunk to a tiny size."""
    attr, n = TINY[name]
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from perfbench import run, workloads\n"
        "workloads.%s = {**workloads.%s, 'n_conversations': %d}\n"
        "sys.exit(run.main(%r))\n"
    ) % (str(ROOT), attr, attr, n,
         ["--workload", name, "--seed", str(seed), "--seconds", "0", "--trace", str(trace)])
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_tiny_smoke_run(name):
    """Both modes at tiny size, with different seeds: every printed name is
    the BENCHMARK.json list, outputs pass their checks."""
    for seed, trace, expected in ((1, 0, run.END_TO_END), (2, 1, run.PER_LAYER)):
        out = _run_tiny(name, seed, trace)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        assert list(out["metrics"]) == list(expected)
        assert all(m["unit"] == expected[k] for k, m in out["metrics"].items())
        if trace:
            record = json.loads((ROOT / "perfbench" / "workloads.json").read_text())
            reached = record["workloads"][name]["layer_metrics"]
            assert out["metrics"]["pipeline.jobs"]["value"] > 0
            assert out["metrics"]["canonicalize.records_out"]["value"] > 0
            if "stream.batch_s" in reached:
                assert out["metrics"]["stream.jobs_per_batch"]["value"] > 0
                assert out["metrics"]["catalog.append_calls"]["value"] > 0
        else:
            assert all(m["value"] > 0 for m in out["metrics"].values())
