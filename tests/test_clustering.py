"""Clustering parity: UMC greedy-equivalence, EC, connected components,
threshold sweep — vs hand-built tables and the pandas oracle (FIXTURES.md §3)."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from ertransfer_spark.operators.clustering import (
    best_threshold,
    clusters_from_pairs,
    connected_components,
    exact_clusters,
    pairwise_metrics,
    threshold_sweep,
    unique_mapping_clusters,
)
from ertransfer_spark.oracle import pandas_oracle as oracle

PRED_COLS = ["a_id", "b_id", "prob_class1"]


def preds_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=PRED_COLS))


HAND = [
    # chain: a1 best is b1, but a2 also wants b1 with higher prob
    ("a1", "b1", 0.9),
    ("a2", "b1", 0.95),
    ("a2", "b2", 0.85),
    ("a1", "b2", 0.2),
    # tie on prob — tie-break (a_id, b_id) must pin the winner
    ("a3", "b3", 0.7),
    ("a3", "b4", 0.7),
    ("a4", "b3", 0.7),
    # sub-threshold
    ("a5", "b5", 0.3),
    # EXACTLY at threshold 0.5 — reference greedy breaks on prob < t,
    # so this edge must be accepted (inclusive boundary)
    ("a6", "b6", 0.5),
]


def test_umc_equals_sequential_greedy_hand_case(spark):
    got = unique_mapping_clusters(preds_df(spark, HAND), threshold=0.5).toPandas()
    want = oracle.umc_greedy(
        pd.DataFrame(HAND, columns=["a_id", "b_id", "prob"]), threshold=0.5
    )
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))
    # the equal-to-threshold edge is kept by both engines
    assert ("a6", "b6") in set(zip(got["a_id"], got["b_id"]))


def test_umc_equals_greedy_random(spark):
    rng = random.Random(11)
    rows = []
    for _ in range(400):
        rows.append(
            (f"a{rng.randrange(60)}", f"b{rng.randrange(60)}", round(rng.random(), 6))
        )
    rows = list({(a, b): (a, b, p) for a, b, p in rows}.values())
    got = unique_mapping_clusters(preds_df(spark, rows), threshold=0.4).toPandas()
    want = oracle.umc_greedy(pd.DataFrame(rows, columns=["a_id", "b_id", "prob"]), 0.4)
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))
    # 1-1 property
    assert got["a_id"].is_unique and got["b_id"].is_unique


def test_umc_converges_on_preference_chain(spark):
    """A strictly-decreasing preference chain accepts ONE edge per round
    (each round's mutual-best is only the global head of the remaining
    chain) — the convergence-by-default loop must finish it completely,
    and an explicit low max_rounds must warn and return a PARTIAL match."""
    import warnings

    # path graph a0-b0-a1-b1-...: probs strictly decreasing along the path
    rows = []
    for i in range(12):
        rows.append((f"a{i:02d}", f"b{i:02d}", round(0.99 - 0.02 * (2 * i), 6)))
        rows.append((f"a{i + 1:02d}", f"b{i:02d}", round(0.99 - 0.02 * (2 * i + 1), 6)))
    got = unique_mapping_clusters(preds_df(spark, rows), threshold=0.1).toPandas()
    want = oracle.umc_greedy(pd.DataFrame(rows, columns=["a_id", "b_id", "prob"]), 0.1)
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))
    # sequential greedy takes every (a_i, b_i) edge — 12 matches
    assert len(got) == 12
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        part = unique_mapping_clusters(
            preds_df(spark, rows), threshold=0.1, max_rounds=2
        ).toPandas()
    assert len(part) == 2  # one edge accepted per round on a chain
    assert any("max_rounds" in str(x.message) for x in w)


def test_threshold_sweep_strict_gt_boundary(spark):
    """Grid-point-exact probs (linreg clips to exactly 0.0/1.0) are NOT
    predicted-positive at their own threshold — strict > like
    exact_clusters / evaluate_predictions, so the tuned F1 reproduces."""
    rows = [
        ("a1", "b1", 0.5, 1),   # exactly at t=0.50: excluded there
        ("a2", "b2", 0.51, 1),
        ("a3", "b3", 0.0, 1),   # prob 0.0 never predicted positive
        ("a4", "b4", 1.0, 0),   # predicted positive up to t=0.99
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["a_id", "b_id", "prob_class1", "label"])
    )
    sweep = threshold_sweep(df)
    at = {round(r["threshold"], 2): r for r in sweep}
    # t=0.50: only 0.51 and 1.0 are > t → tp=1, pred=2, pos=3
    assert abs(at[0.5]["precision"] - 1 / 2) < 1e-12
    assert abs(at[0.5]["recall"] - 1 / 3) < 1e-12
    # t=0.49: 0.5 joins → tp=2, pred=3
    assert abs(at[0.49]["precision"] - 2 / 3) < 1e-12
    # t=0.0: prob 0.0 excluded even at the lowest threshold
    assert abs(at[0.0]["precision"] - 2 / 3) < 1e-12
    # t=0.99: only the 1.0 row
    assert abs(at[0.99]["precision"] - 0.0) < 1e-12
    assert abs(at[0.99]["recall"] - 0.0) < 1e-12


def test_ec_equals_oracle(spark):
    rng = random.Random(5)
    rows = [
        (f"a{rng.randrange(40)}", f"b{rng.randrange(40)}", round(rng.random(), 6))
        for _ in range(300)
    ]
    rows = list({(a, b): (a, b, p) for a, b, p in rows}.values())
    got = exact_clusters(preds_df(spark, rows), threshold=0.5, limit=1).toPandas()
    want = oracle.ec_reciprocal(pd.DataFrame(rows, columns=["a_id", "b_id", "prob"]), 0.5, 1)
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))


def test_connected_components_vs_unionfind(spark, monkeypatch):
    from ertransfer_spark.operators import clustering

    tests_run = []
    star_test = clustering._is_star_forest
    monkeypatch.setattr(clustering, "_is_star_forest", lambda e: tests_run.append(1) or star_test(e))
    rng = random.Random(3)
    random_pairs = [(f"a{rng.randrange(50)}", f"b{rng.randrange(50)}") for _ in range(120)]
    cases = {
        "random": random_pairs,
        # a 1-1 matching (what UMC emits) is already a star forest
        "one_to_one": [(f"a{i}", f"b{(i * 7) % 30}") for i in range(30)],
        # already a single star centred on its minimum node a#a1
        "star": [("a1", f"b{i}") for i in range(12)],
        # a path a0-b0-a1-b1-...: the longest-diameter component
        "path": [(f"a{i}", f"b{i}") for i in range(25)]
        + [(f"a{i + 1}", f"b{i}") for i in range(24)],
    }
    for name, rows in cases.items():
        pairs = pd.DataFrame(rows, columns=["a_id", "b_id"]).drop_duplicates()
        tests_run.clear()
        cc = clusters_from_pairs(spark.createDataFrame(pairs))
        if name in ("one_to_one", "star"):
            assert len(tests_run) == 1, name  # converged before any round
        got = cc.toPandas()
        want = oracle.connected_components(pairs)
        got_map = dict(zip(got["node"], got["cluster_id"]))
        assert got_map == want, name
        assert len(got) == len(want), name  # one row per node
    # transitivity + min-id label invariant comes from the oracle structure


def test_connected_components_chain(spark):
    # a1-b1, a2-b1, a2-b2 → one cluster labeled min = a#a1
    pairs = spark.createDataFrame(
        pd.DataFrame([("a1", "b1"), ("a2", "b1"), ("a2", "b2")], columns=["a_id", "b_id"])
    )
    got = clusters_from_pairs(pairs).toPandas()
    assert set(got["cluster_id"]) == {"a#a1"}
    assert len(got) == 4


def test_threshold_sweep_single_pass_matches_bruteforce(spark):
    rng = random.Random(9)
    rows = [
        (f"a{i}", f"b{i}", round(rng.random(), 4), rng.randrange(2)) for i in range(500)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["a_id", "b_id", "prob_class1", "label"])
    )
    sweep = threshold_sweep(df)
    pdf = pd.DataFrame(rows, columns=["a_id", "b_id", "prob", "label"])
    for t_idx in (0, 17, 50, 99):
        t = t_idx / 100
        # STRICT >: the reference clusterers filter prob > t, and the sweep
        # buckets grid-point-exact probs one bucket down to match
        pred = pdf[pdf["prob"] > t]
        tp = int(pred["label"].sum())
        prec = tp / len(pred) if len(pred) else 0.0
        rec = tp / int(pdf["label"].sum())
        assert abs(sweep[t_idx]["precision"] - prec) < 1e-9
        assert abs(sweep[t_idx]["recall"] - rec) < 1e-9
    bt = best_threshold(df)
    assert 0.0 <= bt < 1.0


def test_pairwise_metrics(spark):
    acc = spark.createDataFrame(pd.DataFrame([("a1", "b1"), ("a2", "b9")], columns=["a_id", "b_id"]))
    gold = spark.createDataFrame(pd.DataFrame([("a1", "b1"), ("a3", "b3")], columns=["a_conv_id", "b_conv_id"]))
    m = pairwise_metrics(acc, gold)
    assert m["precision"] == 0.5 and m["recall"] == 0.5 and abs(m["f1"] - 0.5) < 1e-12

    # duplicate pairs on either side count once
    dup_acc = spark.createDataFrame(pd.DataFrame(
        [("a1", "b1"), ("a1", "b1"), ("a2", "b9"), ("a2", "b9"), ("a2", "b9")], columns=["a_id", "b_id"]))
    dup_gold = spark.createDataFrame(pd.DataFrame(
        [("a1", "b1"), ("a3", "b3"), ("a3", "b3")], columns=["a_conv_id", "b_conv_id"]))
    assert pairwise_metrics(dup_acc, dup_gold) == {
        "precision": 0.5, "recall": 0.5, "f1": 0.5, "tp": 1, "n_accepted": 2, "n_golden": 2}

    # an empty accepted set scores zero without dividing by zero
    empty = acc.limit(0)
    assert pairwise_metrics(empty, gold) == {
        "precision": 0.0, "recall": 0.0, "f1": 0.0, "tp": 0, "n_accepted": 0, "n_golden": 2}
