"""The benchmark's own tests.

Run from the root of a checkout::

    python3 -m pytest perfbench/test_perfbench.py -q

A tiny-size run of each workload, untraced and traced, must complete
with no failed operation and print every metric ``BENCHMARK.json``
names for its mode; each checker must reject a deliberately corrupted
output; and the benchmark must refuse to run without the engine beside
it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402


def _run(workload: str, cwd: str = ROOT, runner: str = os.path.join(HERE, "run.py"),
         trace: int = 0):
    return subprocess.run(
        [sys.executable, runner, "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_manifest_names_what_run_prints():
    import run

    bench = _manifest()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["etl_load", "index_cycles"])
def test_tiny_run_has_no_failed_operation(workload, trace):
    proc = _run(workload, trace=trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True
    assert result["attempted"] >= 1
    assert result["failed"] == 0, proc.stderr[-3000:]
    wanted = _manifest()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]
    assert not os.path.exists(os.path.join(HERE, "_work")), "scratch files left behind"


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "traces", "__pycache__"))
    proc = _run("etl_load", cwd=str(tmp_path), runner=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- etl_load checker --------------------------------------------------------

def _sink():
    a, b = inputs.shop_rows(7, 200, 0.25)
    expected = checks.expected_load(inputs.render_pages(a, 40) + inputs.render_pages(b, 40))
    sink = pd.DataFrame(
        [(shop, *row) for shop, row in expected.items()],
        columns=["shop", "address", "locality", "lat", "lng"],
    )
    return sink, expected


def test_sink_checker_accepts_the_expected_table():
    sink, expected = _sink()
    assert len(expected) == 350  # 200 + 200 rows, 50 shared
    assert checks.check_sink(sink, expected) == []
    kinds = {r[3] for r in inputs.shop_rows(7, 200, 0.25)[0]}
    assert kinds == {"packed", "no_button", "miss"}


def test_sink_checker_rejects_a_dropped_row():
    sink, expected = _sink()
    assert checks.check_sink(sink.drop(index=17), expected)


def test_sink_checker_rejects_a_shifted_coordinate():
    sink, expected = _sink()
    i = sink["lat"].first_valid_index()
    sink.loc[i, "lat"] += 0.001
    assert checks.check_sink(sink, expected)


def test_sink_checker_rejects_an_ungeocoded_row():
    sink, expected = _sink()
    a, _ = inputs.shop_rows(7, 200, 0.25)
    shop = next(r[0] for r in a if r[3] == "no_button")
    sink.loc[sink["shop"] == shop, ["lat", "lng"]] = None
    assert checks.check_sink(sink, expected)


# -- index_cycles checker ----------------------------------------------------

def _pairs():
    docs = inputs.documents(11, 10)
    clones, planted = inputs.plant_clones(11, docs, 5, 10_000, 0)
    grams = {d[0]: checks.word_grams(d[1]) for d in docs + clones}
    probe = {c[0] for c in clones}
    pairs = []
    for orig, clone in planted:
        ga, gb = grams[orig], grams[clone]
        pairs.append((orig, clone, round(len(ga & gb) / len(ga | gb), 4)))
    return pairs, grams, probe, planted


def test_pair_checker_accepts_the_planted_pairs():
    pairs, grams, probe, planted = _pairs()
    assert all(sim >= 6 / 7 - 1e-4 for _, _, sim in pairs)
    assert checks.check_pairs(pairs, grams, probe, planted) == []


def test_pair_checker_rejects_a_missing_planted_pair():
    pairs, grams, probe, planted = _pairs()
    assert checks.check_pairs(pairs[1:], grams, probe, planted)


def test_pair_checker_rejects_a_wrong_similarity():
    pairs, grams, probe, planted = _pairs()
    a, b, sim = pairs[0]
    assert checks.check_pairs([(a, b, sim - 0.01)] + pairs[1:], grams, probe, planted)


def test_pair_checker_rejects_a_deleted_member():
    pairs, grams, probe, planted = _pairs()
    assert checks.check_pairs(pairs, grams, probe, planted, deleted={pairs[0][1]})
    survivors = pairs[1:]
    assert checks.check_pairs(survivors, grams, probe, planted, deleted={pairs[0][1]}) == []
