"""Spectral ops: power iteration vs numpy SVD; LSH summarization sanity."""

from __future__ import annotations

import numpy as np

from spartan2_spark.operators.spectral import (
    eigen_spokes_nodes,
    power_iteration,
    summarize_graph_lsh,
)


def test_power_iteration_matches_numpy(spark):
    # 3x3 weighted bipartite adjacency with a clear leading block
    rows = [
        ("a", "x", 5.0), ("a", "y", 4.0),
        ("b", "x", 4.0), ("b", "y", 5.0),
        ("c", "z", 1.0),
    ]
    edges = spark.createDataFrame(rows, ["src", "dst", "w"])
    res = power_iteration(edges, weight="w", n_iter=20)

    A = np.array([[5.0, 4.0, 0.0], [4.0, 5.0, 0.0], [0.0, 0.0, 1.0]])
    u_np, s_np, vt_np = np.linalg.svd(A)
    assert abs(res["sigma1"] - s_np[0]) < 1e-6

    u = {r.node: r.score for r in res["u"].collect()}
    # leading left vector is [1,1,0]/sqrt(2) up to sign
    assert abs(abs(u["a"]) - 1 / np.sqrt(2)) < 1e-6
    assert abs(abs(u["b"]) - 1 / np.sqrt(2)) < 1e-6
    assert abs(u.get("c", 0.0)) < 1e-6

    spokes = eigen_spokes_nodes(res["u"], 3)
    assert {r.node for r in spokes.collect()} == {"a", "b"}


def test_graph_summarize_lsh_merges_twins(spark):
    # u1 and u2 have identical neighbour sets -> same supernode
    rows = [("u1", "p"), ("u1", "q"), ("u2", "p"), ("u2", "q"), ("u3", "r")]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    res = summarize_graph_lsh(edges, k_hashes=4)
    assign = {r.node: r.supernode for r in res["assign"].collect()}
    assert assign["u1"] == assign["u2"] != assign["u3"]
    gains = {r.supernode: (r.n_nodes, r.gain_bits) for r in res["mdl_gain_bits"].collect()}
    assert gains[assign["u1"]][0] == 2 and gains[assign["u1"]][1] == 1.0
    assert gains[assign["u3"]] == (1, 0.0)
    se = {(r.supernode, r.dst): r.multiplicity for r in res["superedges"].collect()}
    assert se[(assign["u1"], "p")] == 2  # collapsed multiplicity


def test_dpgs_merge_round_merges_twins_only(spark):
    from spartan2_spark.operators.spectral import dpgs_merge_round

    # nodes 1 and 2: identical neighbourhoods {10,11,12} with weight 2
    # (positive MDL gain: the xlogx overlap terms + Rissanen LN savings
    # beat the degree cost); node 3 points elsewhere -> singleton.
    rows = []
    for u in (1, 2):
        for n in (10, 11, 12):
            rows += [(u, n), (u, n)]
    rows += [(3, 20), (3, 21)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    res = dpgs_merge_round(edges, k_hashes=4)
    assign = {r.node: r.supernode for r in res["assign"].collect()}
    assert assign[1] == assign[2] == 1
    assert assign[3] == 3
    gains = res["gains"].collect()
    assert len(gains) == 1 and gains[0].u == 1 and gains[0].v == 2 and gains[0].gq > 0


def test_dpgs_merge_round_skips_disjoint_and_big_groups(spark):
    from spartan2_spark.operators.spectral import dpgs_merge_round

    # same LSH group (identical neighbour sets) but max_group=1 forces a
    # skip -> nobody merges
    rows = [(u, n) for u in (1, 2) for n in (10, 11, 12) for _ in (0, 1)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    res = dpgs_merge_round(edges, k_hashes=4, max_group=1)
    assign = {r.node: r.supernode for r in res["assign"].collect()}
    assert assign == {1: 1, 2: 2}


def test_kgrass_merge_round_prefers_identical_neighbourhoods(spark):
    from spartan2_spark.operators.spectral import kgrass_merge_round

    # 1 and 2 share {10,11,12} (loss 0); 3 shares only {10} with them
    # (loss 4 vs either). With k=1 all land in one bucket: 1-2 pair off,
    # 3 matches its min-loss partner and joins the component.
    rows = [(u, n) for u in (1, 2) for n in (10, 11, 12)] + [(3, 10), (3, 99), (3, 98)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    res = kgrass_merge_round(edges, k=1)
    losses = {(r.u, r.v): r.loss for r in res["losses"].collect()}
    assert losses[(1, 2)] == 0 and losses[(1, 3)] == 4 and losses[(2, 3)] == 4
    assign = {r.node: r.supernode for r in res["assign"].collect()}
    assert assign[1] == assign[2] == 1
    # 3's best partner is 1 (tie on loss 4 -> min partner id) so it
    # collapses into the same component this round
    assert assign[3] == 1


def test_dpgs_summarize_needs_two_rounds(spark):
    from spartan2_spark.operators.spectral import dpgs_summarize

    # heavy twins 1,2 (weight 2 on {10,11}) and light twins 3,4
    # (weight 1): intra-pair gains (~1.037) beat cross gains (~0.538),
    # so round 1's best-partner matching merges {1,2} and {3,4}
    # separately; the merged supernodes then have gain ~2.218 > 0 and
    # need ROUND 2 to collapse into one — verified against the
    # reference gain formula evaluated by hand.
    rows = []
    for u in (1, 2):
        for n in (10, 11):
            rows += [(u, n), (u, n)]
    for u in (3, 4):
        for n in (10, 11):
            rows += [(u, n)]
    rows += [(9, 20)]  # spectator singleton
    edges = spark.createDataFrame(rows, "src long, dst long")

    one = dpgs_summarize(edges, max_rounds=1)
    a1 = {r.node: r.supernode for r in one["assign"].collect()}
    assert a1[1] == a1[2] == 1
    assert a1[3] == a1[4] == 3
    assert a1[1] != a1[3] and a1[9] == 9

    full = dpgs_summarize(edges, max_rounds=8)
    a = {r.node: r.supernode for r in full["assign"].collect()}
    assert a[1] == a[2] == a[3] == a[4] == 1
    assert a[9] == 9
    # round 0: two positive pairs chosen-partner sets; round 1: one
    # (the supernode merge); round 2: fixpoint
    pos = [h["positive_pairs"] for h in full["history"]]
    assert len(pos) == 3 and pos[-1] == 0 and all(p > 0 for p in pos[:-1])


def test_dpgs_summarize_fixpoint_is_stable(spark):
    from spartan2_spark.operators.spectral import dpgs_summarize

    rows = [(u, n) for u in (1, 2) for n in (10, 11, 12) for _ in (0, 1)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    full = dpgs_summarize(edges, max_rounds=8)
    a = {r.node: r.supernode for r in full["assign"].collect()}
    assert a == {1: 1, 2: 1}
    assert full["history"][-1]["positive_pairs"] == 0


def test_power_fixedpoint_matches_float_ranking(spark):
    from spartan2_spark.operators.spectral import (
        power_iteration,
        power_iteration_fixedpoint,
    )

    # dense planted block (users 1-4 x types 100-103, weight 50) over
    # sparse background: both iterations must rank block users on top
    rows = [(u, t, 50) for u in (1, 2, 3, 4) for t in (100, 101, 102, 103)]
    rows += [(u, u % 7 + 200, 1) for u in range(10, 40)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    fx = power_iteration_fixedpoint(edges, weight="w", half_steps=5).toPandas()
    top_fx = set(fx.sort_values(["score", "node"], ascending=[False, True]).head(4)["node"])
    fl = power_iteration(edges, weight="w", n_iter=6)["u"].toPandas()
    top_fl = set(fl.sort_values(["score", "node"], ascending=[False, True]).head(4)["node"])
    assert top_fx == top_fl == {1, 2, 3, 4}
    # partition-count invariance (bit-exact integer path)
    fx2 = power_iteration_fixedpoint(
        edges.repartition(13), weight="w", half_steps=5
    ).toPandas()
    a = fx.sort_values("node", ignore_index=True)
    b = fx2.sort_values("node", ignore_index=True)
    assert a.equals(b)
