"""Smoke test of the benchmark itself: every workload once at a tiny size,
untraced and traced, plus the output checks and the refusal to run without
the program.

    python -m pytest perfbench/tests -q

About 8 minutes on 4 cores: each sample starts its own Spark JVM.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import inputs  # noqa: E402
import run  # noqa: E402


def _bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900)


# dedup_planted runs --trace 0 first, so its traced run reads the recorded
# untraced wall; dedup_dupheavy runs --trace 1 first, whose traced sample
# must run the untraced operation itself.
@pytest.mark.parametrize("workload,order", [("dedup_planted", ("0", "1")),
                                            ("dedup_dupheavy", ("1", "0"))])
def test_workload_untraced_and_traced(workload, order):
    seed = str(3 + order.index("1"))
    if order[0] == "1":  # no untraced wall recorded by an earlier smoke run
        for p in glob.glob(os.path.join(run.STATE, f"untraced-{workload}-200-*")):
            os.remove(p)
    for trace in order:
        out = _bench("--workload", workload, "--seed", seed, "--seconds", "1",
                     "--trace", trace, "--docs", "200")
        assert out.returncode == 0, out.stderr[-3000:]
        *_, meta_line, last = out.stdout.strip().splitlines()
        res = json.loads(last)
        meta = json.loads(meta_line)["meta"]
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"], meta["failures"]
        assert res["failed"] == 0 and meta["seed"] == int(seed)
        units = {k: v["unit"] for k, v in res["metrics"].items()}
        if trace == "0":
            assert units == run.E2E_UNITS
            assert res["attempted"] == meta["samples"] >= 1
            assert res["metrics"]["dup_pair_recall"]["value"] >= run.MIN_RECALL
        else:
            assert units == run.LAYER_UNITS
            assert {"unattributed_s", "trace_overhead_s"} <= set(units)
            # dedup, curate and streaming outputs of one traced sample
            assert meta["samples"] == 1 and res["attempted"] == 3
            assert meta["untraced_reference"] == (
                "same session, after the traced work" if order[0] == "1"
                else "seed")
            assert res["metrics"]["streaming.hits"]["value"] > 0
        for k, v in res["metrics"].items():
            assert isinstance(v["value"], (int, float)), k


def test_checks_reject_wrong_outputs():
    truth = {"n_docs": 4, "pairs": [["u1", "u2", "near"], ["u3", "u4", "exact"]]}
    good = {"labels": [["u1", 1], ["u2", 1], ["u3", 3], ["u4", 3]],
            "cluster_members": 4}
    assert run.check_dedup(good, truth) == (1.0, [])
    split = {"labels": [["u1", 1], ["u2", 2], ["u3", 3], ["u4", 3]],
             "cluster_members": 4}
    recall, problems = run.check_dedup(split, truth)
    assert recall == 0.5 and problems
    twice = {"labels": [["u1", 1], ["u1", 2], ["u2", 1]], "cluster_members": 3}
    assert run.check_dedup(twice, truth)[1]
    dup_survivors = {"survivor_urls": ["u1", "u3"],
                     "survivor_text_sha": ["x", "x"]}
    assert run.check_curate(dup_survivors, truth)[1]
    both_alive = {"survivor_urls": ["u1", "u2", "u3"],
                  "survivor_text_sha": ["x", "y", "z"]}
    assert run.check_curate(both_alive, truth)[0] == 0.5
    assert run.check_streaming({"hit_urls": ["u2"]}, truth)[0] == 0.5


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS


def test_xxhash64_matches_spark():
    # values from Spark 4.1's F.xxhash64 on the same strings
    assert inputs.xxhash64("") == -7444071767201028348
    assert inputs.xxhash64("https://hub.example/p/0000001") == -8402407905295671285
    assert inputs.xxhash64("https://site3.example/d/0000012") == 5675011673146361563
    assert inputs.xxhash64("z" * 77) == -8020890518677196636
    assert inputs.xxhash64("é日本") == 3471320912796264393


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench("--workload", "dedup_planted", "--seed", "1", "--seconds",
                 "1", "--trace", "0", cwd=tmp_path)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
