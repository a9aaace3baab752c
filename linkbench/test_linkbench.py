"""Self-tests of the linkage benchmark.

    python3 -m pytest linkbench/test_linkbench.py -q

The first test is pure pandas. The last one runs every workload
in both modes on a 200-document corpus of the held-out seed 7 (a few
minutes on 4 cores) and checks that each metric BENCHMARK.json names
is printed with its unit and that the outputs pass the checks.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from linkbench.check import check_matches, match_digest  # noqa: E402
from linkbench.run import load_spec  # noqa: E402

HELD_OUT_SEED = 7


def _gold():
    from ehdc_llpg_address_matching_spark.synth import (SynthConfig,
                                                        synth_tables)
    gaz, _, gold = synth_tables(SynthConfig(seed=HELD_OUT_SEED,
                                            n_gazetteer=100, n_docs=40))
    return set(gaz["uprn"]), gold


def test_check_fails_on_tampered_uprn():
    gaz_uprns, gold = _gold()
    truth = gold.dropna(subset=["uprn"])[["doc_id", "uprn"]].reset_index(
        drop=True)
    problems, f1 = check_matches(truth, gold["doc_id"], gaz_uprns, gold)
    assert problems == [] and f1 == 1.0

    # a uprn outside the gazetteer
    bad = truth.copy()
    bad.loc[0, "uprn"] = "000000000"
    problems, _ = check_matches(bad, gold["doc_id"], gaz_uprns, gold)
    assert any("gazetteer" in p for p in problems)

    # a real gazetteer uprn on the wrong document: F1 gate and digest
    wrong = next(u for u in sorted(gaz_uprns) if u != truth.loc[0, "uprn"])
    bad = truth.copy()
    bad.loc[0, "uprn"] = wrong
    problems, f1 = check_matches(bad, gold["doc_id"], gaz_uprns, gold)
    assert f1 < 0.99 and any("f1" in p for p in problems)
    assert match_digest(bad) != match_digest(truth)

    # two rows for one document
    problems, _ = check_matches(
        pd.concat([truth, truth.iloc[[0]]]), gold["doc_id"], gaz_uprns, gold)
    assert any("more than one" in p for p in problems)


@pytest.mark.parametrize("workload",
                         [w["name"] for w in load_spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted(workload, trace):
    spec = load_spec()
    key = "per_layer" if trace else "end_to_end"
    proc = subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", workload,
         "--seed", str(HELD_OUT_SEED), "--seconds", "1",
         "--trace", str(trace), "--docs", "200"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[key]}
    assert set(out["metrics"]) == set(want)
    for name, v in out["metrics"].items():
        assert v["unit"] == want[name], name
        assert math.isfinite(v["value"]), name
    if trace:
        # a layer the workload does not run prints 0; one it runs takes time
        not_run = json.loads(lines[-2])["env"]["not_run"]
        for name in want:
            v = out["metrics"][name]["value"]
            if name in not_run:
                assert v == 0, name
            elif name.endswith("wall_s"):
                assert v > 0, name
