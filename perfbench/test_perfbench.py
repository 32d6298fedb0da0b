"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q

- the input generator is deterministic per seed;
- every metric the runner prints is declared in BENCHMARK.json with its unit;
- each correctness check rejects a corrupted result (a dropped row or a
  perturbed value).
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, PassResult  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.generate(workload, seed, str(tmp_path / name))
    files = sorted(os.listdir(tmp_path / "a"))
    assert files == sorted(os.listdir(tmp_path / "b"))
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert mismatch == [] and errors == []
    assert not filecmp.cmp(tmp_path / "a" / "plan.json", tmp_path / "c" / "plan.json", shallow=False)


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(WORKLOADS)


def test_end_to_end_metrics_are_declared_with_units():
    passes = [PassResult(wall_s=5.0, latencies_s=[0.1, 0.2, 0.3, 0.4], docs=800, docs_wall_s=4.0)]
    printed = run.end_to_end_metrics(6.2, passes)
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {n: m["unit"] for n, m in printed.items()} == declared
    assert all(m["value"] > 0 for m in printed.values())
    assert printed["latency_mean_ms"]["value"] == pytest.approx(250.0)
    assert printed["docs_per_s"]["value"] == pytest.approx(200.0)
    assert printed["setup_s"]["value"] == pytest.approx(6.2)


def test_per_layer_metrics_are_declared_with_units():
    declared = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    printed = {n: tracing.per_layer_unit(n) for n in tracing.per_layer_names()}
    assert printed == declared
    assert len(declared) <= 128


def test_layer_metrics_cover_every_declared_layer_quantity():
    tr = tracing.Tracer(spark=None, enabled=False)
    values = tr.layer_metrics(n_passes=1, setup_spans=0)
    assert set(values) | set(tracing.EXTRA) == set(tracing.per_layer_names())


def _ranked_case():
    rng = np.random.default_rng(0)
    truth = {i: float(d) for i, d in enumerate(rng.random(50))}
    top = sorted(truth.items(), key=lambda t: (t[1], t[0]))[:10]
    return truth, top


def test_check_ranked_accepts_a_true_top_k_and_rejects_corruption():
    truth, top = _ranked_case()
    assert checks.check_ranked(top, truth, 10) is None
    assert checks.check_ranked(top[:-1], truth, 10)  # dropped row
    bumped = list(top)
    bumped[3] = (bumped[3][0], bumped[3][1] + 1e-3)  # perturbed score
    assert checks.check_ranked(bumped, truth, 10)
    outsider = top[:-1] + [sorted(truth.items(), key=lambda t: t[1])[20]]
    assert checks.check_ranked(outsider, truth, 10)
    desc = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert checks.check_ranked(desc, truth, 10, descending=True) is None
    assert checks.check_ranked(desc[::-1], truth, 10, descending=True)


def test_check_hybrid_rejects_a_wrong_match_type_and_a_dropped_row():
    merged = checks.hybrid_expected([(1, 0.9), (2, 0.8)], [(2, 0.5), (3, 0.4)])
    got = sorted(((d, s, t) for d, (s, t) in merged.items()), key=lambda r: (-r[1], r[0]))
    assert checks.check_hybrid(got, merged, 10) is None
    assert merged[2] == (min(1.0, 0.8 * 1.2), "hybrid")
    assert checks.check_hybrid(got[:-1], merged, 10)
    assert checks.check_hybrid([(d, s, "vector") for d, s, _ in got], merged, 10)


def test_bm25_truth_matches_a_hand_computed_score():
    con = checks.duck_documents({1: "spark spark join", 2: "join table", 3: "row"})
    truth = checks.bm25_truth(con, ["spark"])
    assert set(truth) == {1}
    n, df, avgdl, tf, dl = 3.0, 1.0, 2.0, 2.0, 3.0
    idf = np.log((n - df + 0.5) / (df + 0.5) + 1.0)
    want = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert truth[1] == pytest.approx(want, abs=1e-6)


def _corpus():
    base = "the " + " ".join(f"w{i}" for i in range(40))
    near = base.replace("w20", "x20")
    return {10: base, 11: base, 12: near, 13: "le " + " ".join(f"v{i}" for i in range(40)),
            14: "tiny the doc", 15: " ".join(f"u{i}" for i in range(40))}


def test_check_filter_rejects_a_wrongly_kept_document():
    texts = _corpus()
    kept = {d for d, t in texts.items() if checks.passes_filter(t, 0.1)}
    assert kept == {10, 11, 12, 13}  # 14 is too short, 15 has no language
    assert checks.check_filter(kept, texts, 0.1) is None
    assert checks.check_filter(kept | {15}, texts, 0.1)
    assert checks.check_filter(kept - {12}, texts, 0.1)


def test_check_exact_rejects_a_dropped_group():
    import hashlib

    texts = _corpus()
    group = (hashlib.md5(texts[10].encode()).hexdigest(), 2, 10)
    assert checks.check_exact([group], texts) is None
    assert checks.check_exact([], texts)
    assert checks.check_exact([(group[0], 3, 10)], texts)


def test_check_pairs_recomputes_jaccard_and_requires_injected_pairs():
    texts = _corpus()
    pairs = [(10, 11, 1.0), (10, 12, checks.jaccard(texts[10], texts[12])),
             (11, 12, checks.jaccard(texts[11], texts[12]))]
    must = [(10, 11), (10, 12), (11, 12)]
    assert checks.check_pairs(pairs, texts, 0.2, must) is None
    assert checks.check_pairs(pairs[1:], texts, 0.2, must)  # dropped row
    wrong = [(10, 12, pairs[1][2] + 0.01)] + pairs[::2]
    assert checks.check_pairs(wrong, texts, 0.2, [])  # perturbed score
    assert checks.check_pairs(pairs + [(10, 13, 0.0)], texts, 0.2, [])


def test_check_components_rejects_a_split_group_and_a_wrong_label():
    labels = [(10, 10), (11, 10), (12, 10), (13, 13), (14, 13)]
    assert checks.check_components(labels, [[10, 11, 12], [13, 14]]) is None
    assert checks.check_components(labels[:2] + [(12, 12)] + labels[3:], [[10, 11, 12]])
    assert checks.check_components([(10, 11), (11, 11)], [[10, 11]])


def test_ivf_probes_and_assignment_follow_the_nearest_centroids():
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    assert checks.ivf_probes(cents, [0.9, 0.1], 1) == {0}
    assert checks.ivf_batch_probes(cents, [0.1, 0.9], 2) == {1, 0}
    mat = np.array([[0.9, 0.1], [-0.8, 0.1]])
    assert checks.ivf_assign(mat, cents).tolist() == [0, 2]


def test_check_gate_applies_the_oracle_harness_rule():
    spark_side = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    duck_side = pd.DataFrame({"v": [0.3, 0.1, 0.2], "k": [3, 1, 2]})
    assert checks.check_gate(spark_side, duck_side) is None
    assert checks.check_gate(spark_side.iloc[:2], duck_side)
    assert checks.check_gate(spark_side.assign(v=[0.1, 0.2, 0.31]), duck_side)
    assert checks.check_gate(spark_side.rename(columns={"v": "w"}), duck_side)
