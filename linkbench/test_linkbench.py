"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest linkbench -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run as bench  # noqa: E402
from ppack_spark.em import run_em  # noqa: E402

LEVELS = {
    "first": ["full agreement", "strong partial agreement", "weak partial agreement", "no agreement"],
    "last": ["full agreement", "strong partial agreement", "weak partial agreement", "no agreement"],
    "dob": ["agree", "disagree"],
    "city": ["agree", "disagree"],
    "postcode": ["full agreement", "strong partial agreement", "weak partial agreement", "no agreement"],
}


# ---- generators ----------------------------------------------------------


def test_persons_deterministic():
    a, ea = gen.persons(7, 500)
    b, eb = gen.persons(7, 500)
    c, _ = gen.persons(8, 500)
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_series_equal(ea, eb)
    assert not a.equals(c)
    assert "entity" not in a.columns


def test_link_requests_deterministic():
    a = gen.link_requests(3, 400, 4)
    b = gen.link_requests(3, 400, 4)
    pd.testing.assert_frame_equal(a.reference, b.reference)
    for x, y in zip(a.requests, b.requests):
        pd.testing.assert_frame_equal(x, y)
    assert a.truth == b.truth
    assert not set(a.reference["id"]) & set(pd.concat(a.requests)["id"])


def test_corpus_deterministic():
    a, pa = gen.corpus(5, 200)
    b, pb = gen.corpus(5, 200)
    c, _ = gen.corpus(6, 200)
    pd.testing.assert_frame_equal(a, b)
    assert pa == pb
    assert not a.equals(c)
    assert list(a.columns) == ["doc_id", "text"]


# ---- output checks -------------------------------------------------------


@pytest.fixture(scope="module")
def replay():
    records, _ = gen.persons(11, 1500)
    cmp = oracle.replay_comparisons(records, None)
    return records, cmp, oracle.pattern_table(cmp)


def _fit(counts: pd.DataFrame):
    u = {g: {lvl: 1.0 / len(lv) for lvl in lv} for g, lv in LEVELS.items()}
    return u, run_em(counts, total_pairs=1e6, u_probabilities=u, maxiter=5, levels=LEVELS)


def test_fit_check_passes_on_replayed_counts(replay):
    _, _, counts = replay
    u, params = _fit(counts)
    assert oracle.check_fit(counts, counts, params, u, 1e6, 5, LEVELS, 1e-7) == []


def test_missing_candidate_pair_fails(replay):
    _, cmp, counts = replay
    program = oracle.pattern_table(cmp.iloc[1:])  # one candidate pair removed
    u, params = _fit(program)
    errors = oracle.check_fit(program, counts, params, u, 1e6, 5, LEVELS, 1e-7)
    assert errors
    r = _run()
    r.op(errors)
    assert (r.attempted, r.failed) == (1, 1)


def test_missing_link_fails():
    expected = {(1, 10), (1, 11), (2, 12)}
    assert oracle.check_links(set(expected), expected, 0) == []
    assert oracle.check_links(expected - {(1, 11)}, expected, 0)


def test_cluster_check(replay):
    records, cmp, _ = replay
    edges = cmp[cmp["first"] == "full agreement"][["id_left", "id_right"]]
    expected = oracle.components(edges, records["id"].to_numpy())
    good = pd.DataFrame({"id": list(expected), "cluster_id": [v + 1000 for v in expected.values()]})
    assert oracle.check_clusters(good, expected) == []
    merged = good.copy()
    merged.loc[merged["cluster_id"] == merged["cluster_id"].iloc[0], "cluster_id"] = -1
    merged.loc[merged["cluster_id"] == merged["cluster_id"].iloc[-1], "cluster_id"] = -1
    assert oracle.check_clusters(merged, expected)


def test_document_kept_wrongly_fails():
    docs, _ = gen.corpus(2, 300)
    rep = oracle.replay_corpus(docs, {"num_hashes": 16, "band_size": 2,
                                      "verify_threshold": 0.5, "max_bucket_size": 50})
    assert oracle.check_kept(set(rep["kept"]), rep["kept"]) == []
    dropped = set(int(i) for i in docs["doc_id"]) - rep["kept"]
    assert dropped, "the corpus should lose some documents to dedup"
    errors = oracle.check_kept(rep["kept"] | {min(dropped)}, rep["kept"])
    assert errors
    r = _run()
    r.op(errors)
    assert r.failed == 1


def _run():
    import workloads

    return workloads.Run(spark=None, seed=0, seconds=1, trace=False, session_start_s=0.0)


def test_tail_percentile():
    import workloads

    assert workloads.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert workloads.tail([float(i) for i in range(1, 21)]) == (20.0, 100.0)
    vals = [float(i) for i in range(1, 41)]  # ten samples above the 30th
    assert workloads.tail(vals) == (30.0, 75.0)


# ---- metric names --------------------------------------------------------


def test_metric_names_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == bench.END_TO_END
    assert layer == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(__import__("workloads").WORKLOADS)


def test_workload_metric_names_are_declared():
    src = (HERE / "workloads.py").read_text()
    declared = set(bench.END_TO_END) | set(bench.PER_LAYER)
    assigned = set(re.findall(r'(?:m|run\.metrics)\["([^"]+)"\]', src))
    spans = set(re.findall(r'\("([a-z_.]+)", \w+\)', src))
    assert assigned, "no metric assignments found"
    assert assigned <= declared, assigned - declared
    from spans import COUNTER_UNITS

    for sp in spans:
        assert {f"{sp}.{c}" for c in COUNTER_UNITS} <= declared, sp
