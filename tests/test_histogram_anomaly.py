from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from spartan2_spark.operators import anomaly as AN
from spartan2_spark.operators import histogram as HG


def test_hist1d_clamp(spark):
    pdf = pd.DataFrame({"v": [0.0, 1.0, 5.0, 9.9, 10.0]})
    out = HG.hist1d(spark.createDataFrame(pdf), "v", nbins=10).toPandas()
    # max value lands in the LAST bin (clamp), not a phantom bin 10
    assert out["bin_idx"].max() == 9
    assert out.set_index("bin_idx").loc[9, "cnt"] == 2  # 9.9 and 10.0
    assert out["cnt"].sum() == 5


def test_hist2d_log_and_peak(spark):
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame(
        {
            "x": np.concatenate([rng.uniform(10, 12, 50), rng.uniform(1, 1000, 50)]),
            "y": np.concatenate([rng.uniform(100, 120, 50), rng.uniform(1, 1000, 50)]),
        }
    )
    df = spark.createDataFrame(pdf)
    hist = HG.hist2d_log(df, "x", "y", 4)
    peak = HG.find_peak(hist).collect()[0]
    assert peak["cnt"] >= 50  # the injected cluster dominates
    pts = HG.points_in_peak_bin(df, "x", "y", 4).toPandas()
    assert len(pts) == peak["cnt"]
    assert ((pts.x >= 10) & (pts.x <= 18)).all()


def test_hist2d_drops_nonpositive(spark):
    pdf = pd.DataFrame({"x": [1.0, -1.0, 0.0], "y": [1.0, 1.0, 1.0]})
    out = HG.hist2d_log(spark.createDataFrame(pdf), "x", "y").toPandas()
    assert out["cnt"].sum() == 1


def test_bounds_and_suspicious(spark):
    counts = spark.createDataFrame(
        pd.DataFrame({"k": list("abcdefgh"), "cnt": [1, 2, 2, 3, 3, 3, 4, 100]})
    )
    iqr = AN.iqr_bound(counts, "cnt").collect()[0]["bound"]
    # q25=2, q75=3.25 -> bound = 3.25 + 1.5*1.25 = 5.125
    assert abs(iqr - 5.125) < 1e-9
    sus = AN.suspicious_keys(counts, "cnt").toPandas()
    assert sus["k"].tolist() == ["h"]
    sig = AN.sigma_bound(counts, "cnt").collect()[0]["bound"]
    arr = np.array([1, 2, 2, 3, 3, 3, 4, 100])
    assert abs(sig - (arr.mean() + 3 * arr.std())) < 1e-9


def test_kl_divergence(spark):
    # sink 'b' has a skewed histogram vs global -> higher KL than 'a'
    rows = [("a", 0)] * 10 + [("a", 1)] * 10 + [("a", 2)] * 10 + [("b", 2)] * 30
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["sink", "rb"]))
    out = AN.kl_divergence_per_sink(df, "sink", "rb", 3).toPandas().set_index("sink")
    assert out.loc["b", "kl"] > out.loc["a", "kl"]
    assert (out["kl"] >= 0).all()


def test_rrf(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "s1": [3.0, 2.0, 1.0], "s2": [1.0, 2.0, 3.0]})
    )
    out = AN.reciprocal_rank_fusion(df, "k", ["s1", "s2"]).toPandas().set_index("k")
    # symmetric scores: k=2 (rank 2+2) loses to k=1/k=3 (rank 1+3)
    assert abs(out.loc[1, "rrf"] - (1 / 61 + 1 / 63)) < 1e-12
    assert abs(out.loc[2, "rrf"] - (2 / 62)) < 1e-12


def test_burst_peak(spark):
    ts = pd.to_datetime(
        ["2024-01-01 00:10", "2024-01-01 00:20", "2024-01-01 05:00"]
    )
    df = spark.createDataFrame(pd.DataFrame({"k": ["u", "u", "u"], "ts": ts}))
    out = AN.burst_peak(df, "k", "ts", 3600).collect()[0]
    assert out["burst_cnt"] == 2
    assert out["burst_bin"] == int(pd.Timestamp("2024-01-01").timestamp())


def test_densest_subgraph_finds_planted_block(spark):
    rng = np.random.default_rng(4)
    # sparse background + planted dense bipartite block (5x5 complete)
    bg = pd.DataFrame(
        {"src": rng.integers(100, 200, 150), "dst": rng.integers(100, 200, 150)}
    )
    block = pd.DataFrame(
        [(i, j) for i in range(5) for j in range(50, 55)], columns=["src", "dst"]
    )
    df = spark.createDataFrame(pd.concat([bg, block])).distinct()
    res = AN.densest_subgraph_peel(df, max_rounds=15)
    nodes = set(r["n"] for r in res["nodes"].collect())
    assert res["density"] >= 2.0
    assert set(range(5)) <= nodes and set(range(50, 55)) <= nodes


def test_hist1d_constant_column(spark):
    """ANSI edge: a constant column must not divide by zero — numpy's
    rule widens the range to (v-0.5, v+0.5), landing the constant value
    in the MIDDLE bin (np.histogram([5.0]*10, bins=4) -> bin 2,
    edges start at 4.5)."""
    from spartan2_spark.operators.histogram import hist1d

    df = spark.createDataFrame([(5.0,)] * 10, "v double")
    out = hist1d(df, "v", nbins=4).collect()
    assert len(out) == 1 and out[0].bin_idx == 2 and out[0].cnt == 10
    assert out[0].bin_start == 5.0  # 4.5 + 2 * 0.25


def test_normalize_constant_series_null(spark):
    """Constant series normalizes to NULL (the relational nan), not an
    ANSI divide-by-zero error."""
    from spartan2_spark.operators.timeseries import normalize_minmax

    df = spark.createDataFrame(
        [("a", i, 3.0) for i in range(4)], "key string, ts long, value double"
    )
    out = normalize_minmax(df, "key", ("value",)).collect()
    assert all(r.value is None for r in out)


def test_smooth_open_2x2(spark):
    # a solid 2x2 block survives opening; an isolated cell is erased
    hist = spark.createDataFrame(
        [(0, 0, 5), (0, 1, 5), (1, 0, 5), (1, 1, 5), (9, 9, 5)],
        "bin_x long, bin_y long, cnt long",
    )
    out = sorted((r.bin_x, r.bin_y) for r in HG.smooth_open_2x2(hist).collect())
    assert out == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_water_level_tree_two_peaks(spark):
    # 7x7 plateau (cnt=2) carrying two 3x3 peaks: A cnt=10, B cnt=40.
    # Hand-derived tree: level 1 = one 49-cell island (root, parent -1);
    # level 2 (cnt>=3) = islands A and B, both children of the root;
    # levels 3 and 5 are skipped by the inter_npts rule (no cell count in
    # [4,7] / [16,31] -> island sets would duplicate); level 4 (cnt>=15)
    # = B alone, child of B-at-level-2.
    rows = []
    for x in range(7):
        for y in range(7):
            cnt = 2
            if x <= 2 and y <= 2:
                cnt = 10
            if x >= 4 and y >= 4:
                cnt = 40
            rows.append((x, y, cnt))
    hist = spark.createDataFrame(rows, "bin_x long, bin_y long, cnt long")
    out = HG.water_level_tree(hist).collect()
    from collections import Counter

    got = Counter((r.level, r.node, r.parent) for r in out)
    b = 4 * 100000 + 4
    assert got == Counter(
        {(1, 0, -1): 49, (2, 0, 0): 9, (2, b, 0): 9, (4, b, b): 9}
    )


def test_water_level_tree_tiny_blobs_and_degenerate(spark):
    # all-ones histogram: max water level log2(2) = 1 -> empty sweep
    ones = spark.createDataFrame(
        [(x, 0, 1) for x in range(6)], "bin_x long, bin_y long, cnt long"
    )
    assert HG.water_level_tree(ones, smooth=False).count() == 0
    # a 4-cell island is a tiny blob (min_hcubes=4 means size must exceed 4)
    four = spark.createDataFrame(
        [(x, y, 9) for x in range(2) for y in range(2)],
        "bin_x long, bin_y long, cnt long",
    )
    assert HG.water_level_tree(four, smooth=False).count() == 0


def test_describe_islands_matches_numpy(spark):
    # weighted Gaussian MLE per island vs a direct numpy computation
    rows = []
    for x in range(7):
        for y in range(7):
            cnt = 2
            if x <= 2 and y <= 2:
                cnt = 10
            if x >= 4 and y >= 4:
                cnt = 40
            rows.append((x, y, cnt))
    hist = spark.createDataFrame(rows, "bin_x long, bin_y long, cnt long")
    tree = HG.water_level_tree(hist)
    out = {(r.level, r.node): r for r in HG.describe_islands(tree).collect()}

    import numpy as np

    cells = [(x, y, c) for x, y, c in rows]  # level 1 root: all cells
    pts = np.array([(x + 0.5, y + 0.5) for x, y, _ in cells])
    w = np.array([c for *_, c in cells], dtype=float)
    mu = (pts * w[:, None]).sum(0) / w.sum()
    d = pts - mu
    cov = (w[:, None, None] * np.einsum("ni,nj->nij", d, d)).sum(0) / w.sum()
    root = out[(1, 0)]
    assert root.mass == int(w.sum()) and root.n_cells == 49
    assert abs(root.mu_x - mu[0]) < 1e-9 and abs(root.mu_y - mu[1]) < 1e-9
    assert abs(root.cov_xx - cov[0, 0]) < 1e-9
    assert abs(root.cov_xy - cov[0, 1]) < 1e-9
    det = cov[0, 0] * cov[1, 1] - cov[0, 1] ** 2
    inv = np.array([[cov[1, 1], -cov[0, 1]], [-cov[0, 1], cov[0, 0]]]) / det
    quad = np.einsum("ni,ij,nj->n", d, inv, d)
    logpdf = -np.log(2 * np.pi) - 0.5 * np.log(det) - 0.5 * quad
    loss = float((w * logpdf).sum())
    assert abs(root.loss - loss) < 1e-6
    # the level-4 island (3x3 block, uniform weight): centered moments
    b = 4 * 100000 + 4
    isl = out[(4, b)]
    assert isl.mass == 9 * 40 and abs(isl.mu_x - 5.5) < 1e-9
    assert abs(isl.cov_xx - 2.0 / 3.0) < 1e-9 and abs(isl.cov_xy) < 1e-12


def test_stitch_islands_merges_close_gaussians_only(spark):
    # islands A (x 0..4) and B (x 1..5) are 1 apart: closeness passes
    # and the pooled-fit likelihood decrease is 0.5*ln(det_pool/det_sep)
    # = 0.5*ln(2.25*(2/3) / (2*(2/3))) ~= 0.059 nats/point <= 0.2 ->
    # stitch. C (x 40..44) fails the closeness rule -> keeps its label.
    rows = []
    for node, x0 in ((1, 0), (2, 1), (3, 40)):
        for dx in range(5):
            for y in range(3):
                rows.append((1, x0 + dx, y, 10, node))
    tree = spark.createDataFrame(
        rows, "level long, bin_x long, bin_y long, cnt long, node long"
    )
    out = HG.stitch_islands(tree, stitch_threshold=0.2).collect()
    lab = {}
    for r in out:
        lab.setdefault(r.node, set()).add(r.stitched)
    assert lab[1] == {1} and lab[2] == {1} and lab[3] == {3}


def test_stitch_islands_threshold_blocks_distant_pool(spark):
    # islands 5 apart: closeness passes (dist 5 < 2*(sqrt2+sqrt2)=5.66)
    # but pooled score 0.5*ln((2+6.25)*(2/3) / (4/3)) ~= 0.71 > 0.2
    rows = []
    for node, x0 in ((1, 0), (2, 5)):
        for dx in range(5):
            for y in range(3):
                rows.append((1, x0 + dx, y, 10, node))
    tree = spark.createDataFrame(
        rows, "level long, bin_x long, bin_y long, cnt long, node long"
    )
    out = HG.stitch_islands(tree, stitch_threshold=0.2).collect()
    assert {r.stitched for r in out if r.node == 1} == {1}
    assert {r.stitched for r in out if r.node == 2} == {2}


def _np_jb(cells):
    """Numpy replica of the engine's island GOF statistic: centi-log2
    weighted two-axis Jarque-Bera sum over cell centers."""
    import numpy as np

    pts = np.array([(x + 0.5, y + 0.5) for x, y, _ in cells], dtype=float)
    w = np.round(np.log2(np.array([c for *_, c in cells], dtype=float) + 1.0) * 100.0)
    W = w.sum()
    stat = 0.0
    for ax in (0, 1):
        v = pts[:, ax]
        mu = (w * v).sum() / W
        m2 = (w * v * v).sum() / W - mu * mu
        if m2 <= 1e-12:
            return None
        m3 = (w * v**3).sum() / W - 3 * mu * ((w * v * v).sum() / W) + 2 * mu**3
        m4 = (
            (w * v**4).sum() / W
            - 4 * mu * ((w * v**3).sum() / W)
            + 6 * mu * mu * ((w * v * v).sum() / W)
            - 3 * mu**4
        )
        stat += W / 100.0 / 6.0 * (m3 * m3 / m2**3 + (m4 / m2**2 - 3.0) ** 2 / 4.0)
    return stat


def test_gof_accepts_planted_gaussian_root(spark):
    # log2(cnt+1) surface is a Gaussian bell (sigma=2 cells, peak 8):
    # the weighted cell distribution IS normal, so the root island must
    # pass the JB gate and the BFS must prune its whole subtree.
    import numpy as np

    rows = []
    for x in range(-7, 8):
        for y in range(-7, 8):
            w0 = 8.0 * np.exp(-(x * x + y * y) / 8.0)
            cnt = int(round(2.0**w0)) - 1
            if cnt >= 1:
                rows.append((x + 7, y + 7, cnt))
    hist = spark.createDataFrame(rows, "bin_x long, bin_y long, cnt long")
    tree = HG.water_level_tree(hist)
    out = HG.gof_accept_tree(tree).collect()
    roots = [r for r in out if r.level == min(r2.level for r2 in out)]
    assert len(roots) == 1
    root = roots[0]
    # engine stat == independent numpy replica of the root island
    root_cells = [
        (r.bin_x, r.bin_y, r.cnt)
        for r in tree.collect()
        if r.level == root.level and r.node == root.node
    ]
    want = _np_jb(root_cells)
    assert abs(root.gof_stat - want) < 1e-9
    assert want < HG.JB_CHI2_4DOF_5PCT  # fixture sanity
    assert root.accepted and root.visited and root.selected
    # subtree pruned: nothing below the root is visited or selected
    for r in out:
        if (r.level, r.node) != (root.level, root.node):
            assert not r.visited and not r.selected


def test_gof_rejects_mixture_and_descends(spark):
    # 7x7 plateau with two embedded peaks (the water-level-tree fixture):
    # the root mixes two modes -> rejected; the BFS descends. Full
    # differential check against a numpy replica of statistic + BFS.
    rows = []
    for x in range(7):
        for y in range(7):
            cnt = 2
            if x <= 2 and y <= 2:
                cnt = 10
            if x >= 4 and y >= 4:
                cnt = 40
            rows.append((x, y, cnt))
    hist = spark.createDataFrame(rows, "bin_x long, bin_y long, cnt long")
    tree = HG.water_level_tree(hist)
    trows = tree.collect()
    out = {(r.level, r.node): r for r in HG.gof_accept_tree(tree).collect()}

    # numpy replica of statistic and accept-or-descend BFS
    islands = {}
    for r in trows:
        islands.setdefault((r.level, r.node, r.parent), []).append(
            (r.bin_x, r.bin_y, r.cnt)
        )
    levels = sorted({l for l, *_ in islands})
    prev_of = {levels[i + 1]: l for i, l in enumerate(levels[:-1])}
    stat = {}
    kids = {}
    for (l, n, p), cells in islands.items():
        stat[(l, n)] = _np_jb(cells)
        if l in prev_of:
            kids.setdefault((prev_of[l], p), []).append((l, n))
    acc = {
        k: (s is None or s <= HG.JB_CHI2_4DOF_5PCT) for k, s in stat.items()
    }
    queue = [k for k in stat if k[0] == levels[0]]
    visited, selected = set(), set()
    while queue:
        k = queue.pop(0)
        visited.add(k)
        ch = kids.get(k, [])
        if acc[k] or not ch:
            selected.add(k)
        else:
            queue.extend(ch)
    assert set(out) == set(stat)
    for k, r in out.items():
        if stat[k] is None:
            assert r.gof_stat is None
        else:
            assert abs(r.gof_stat - stat[k]) < 1e-9
        assert r.accepted == acc[k]
        assert r.visited == (k in visited)
        assert r.selected == (k in selected)
    # and the root really is a rejected mixture that descends
    root = (levels[0], min(n for l, n in stat if l == levels[0]))
    assert not acc[root] and root in visited and root not in selected
    assert any(k in selected for k in stat if k != root)


def test_stitch_gof_gate(spark):
    # same fixture as the merge test: default merges 1+2; an impossible
    # pooled-GOF bar (-1.0) blocks every merge; a huge bar reproduces
    # the default exactly (gate wiring, eaglemine_model.py:446-457)
    rows = []
    for node, x0 in ((1, 0), (2, 1), (3, 40)):
        for dx in range(5):
            for y in range(3):
                rows.append((1, x0 + dx, y, 10, node))
    tree = spark.createDataFrame(
        rows, "level long, bin_x long, bin_y long, cnt long, node long"
    )
    base = sorted(tuple(r) for r in HG.stitch_islands(tree, 0.2).collect())
    blocked = HG.stitch_islands(tree, 0.2, gof_threshold=-1.0).collect()
    assert all(r.stitched == r.node for r in blocked)
    same = sorted(
        tuple(r) for r in HG.stitch_islands(tree, 0.2, gof_threshold=1e9).collect()
    )
    assert same == base


def test_stitch_gof_gate_calibrated_for_mass(spark):
    # two adjacent clean Gaussian-ish islands with HUGE raw mass: the
    # log2-weighted JB gate must pass them at the chi2(4) bar (a raw-
    # count-weighted statistic scales with mass and rejects regardless
    # of shape)
    import math

    rows = []
    for dx in range(-4, 5):
        for dy in range(-4, 5):
            # ONE bell split into a left and a right island: the pooled
            # shape is a clean Gaussian, only the raw mass is huge
            c = int(400000 * math.exp(-(dx * dx + dy * dy) / 5.0)) + 1
            rows.append((1, dx + 4, dy + 4, c, 1 if dx < 0 else 2))
    tree = spark.createDataFrame(
        rows, "level long, bin_x long, bin_y long, cnt long, node long"
    )
    # log2-value weighting keeps the statistic in a stable O(100)
    # range at ANY mass (split bell: 124.7 at ~15M raw mass; raw-count
    # weighting gives 25,550 here and grows linearly with mass, so no
    # fixed bar can ever discriminate shape)
    merged = HG.stitch_islands(tree, 1e9, gof_threshold=200.0).collect()
    assert {r.stitched for r in merged} == {1}
    # and a genuine two-bump mixture is still rejected by the same bar
    far = []
    for node, x0 in ((1, 0), (2, 14)):
        for dx in range(-3, 4):
            for dy in range(-3, 4):
                c = int(200000 * math.exp(-(dx * dx + dy * dy) / 4.0)) + 1
                far.append((1, x0 + dx + 3, dy + 3, c, node))
    tree2 = spark.createDataFrame(
        far, "level long, bin_x long, bin_y long, cnt long, node long"
    )
    # the two-bump mixture scores 262.6 -> rejected at the SAME bar
    kept = HG.stitch_islands(tree2, 1e9, gof_threshold=200.0).collect()
    assert all(r.stitched == r.node for r in kept)


def test_describe_islands_truncated_variant(spark):
    """Truncated family (desc/truncated_gaussian.py _psi_): Z is the
    Gaussian mass inside the island's bounding box, so log_z < 0 and
    the renormalized loss exceeds the plain-Gaussian loss by exactly
    -W*log_z; unknown variants raise."""
    import numpy as np
    import pytest as _pytest

    from spartan2_spark.operators.histogram import describe_islands

    rng = np.random.default_rng(7)
    cells = [
        (0, 1, int(bx), int(by), int(c))
        for bx, by, c in zip(
            rng.integers(0, 8, 40), rng.integers(0, 8, 40), rng.integers(1, 50, 40)
        )
    ]
    tree = spark.createDataFrame(
        [(lvl, node, bx, by, cnt) for lvl, node, bx, by, cnt in cells],
        "level int, node int, bin_x int, bin_y int, cnt long",
    ).groupBy("level", "node", "bin_x", "bin_y").agg(F.sum("cnt").alias("cnt"))

    g = describe_islands(tree).collect()[0]
    t = describe_islands(tree, variant="truncated").collect()[0]
    d = describe_islands(tree, variant="discrete").collect()[0]
    assert d["loss"] == g["loss"]  # discrete is the gaussian estimator
    assert t["log_z"] < 0
    W = float(g["mass"])
    assert abs(t["loss"] - (g["loss"] - W * t["log_z"])) < 1e-6
    assert t["loss"] > g["loss"]
    with _pytest.raises(ValueError):
        describe_islands(tree, variant="bogus")


def test_describe_islands_dtm_variant(spark):
    """DTM family (desc/dtmnorm.py:119-135 _single_optpara): per-cell
    Gaussian MASS over the cell's unit box, renormalized by
    max(8e-3, box mass). Checked against an independent numpy replay
    with exact erf (the engine's A&S polynomial is within 1.5e-7);
    a singular-axis island yields NULL loss."""
    import math

    import numpy as np

    from spartan2_spark.operators.histogram import describe_islands

    rng = np.random.default_rng(11)
    raw = {}
    for bx, by, c in zip(
        rng.integers(0, 8, 40), rng.integers(0, 8, 40), rng.integers(1, 50, 40)
    ):
        raw[(int(bx), int(by))] = raw.get((int(bx), int(by)), 0) + int(c)
    tree = spark.createDataFrame(
        [(0, 1, bx, by, cnt) for (bx, by), cnt in sorted(raw.items())],
        "level int, node int, bin_x int, bin_y int, cnt long",
    )
    row = describe_islands(tree, variant="dtm").collect()[0]

    # independent numpy replay of the objective at the moment estimate
    bx = np.array([k[0] for k in sorted(raw)], dtype=float)
    by = np.array([k[1] for k in sorted(raw)], dtype=float)
    w = np.array([raw[k] for k in sorted(raw)], dtype=float)
    W = w.sum()
    mux = (w * (bx + 0.5)).sum() / W
    muy = (w * (by + 0.5)).sum() / W
    sx = math.sqrt((w * (bx + 0.5) ** 2).sum() / W - mux * mux)
    sy = math.sqrt((w * (by + 0.5) ** 2).sum() / W - muy * muy)
    phi = lambda z: 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
    pm = lambda lo, hi, mu, s: phi((hi - mu) / s) - phi((lo - mu) / s)
    p_cell = np.array(
        [
            pm(x, x + 1.0, mux, sx) * pm(y, y + 1.0, muy, sy)
            for x, y in zip(bx, by)
        ]
    )
    z = max(
        8e-3,
        pm(bx.min(), bx.max() + 1.0, mux, sx) * pm(by.min(), by.max() + 1.0, muy, sy),
    )
    expected = float((w * np.log(p_cell)).sum() - W * math.log(z))
    assert abs(row["log_z"] - math.log(z)) < 1e-5
    assert abs(row["loss"] - expected) < 1e-3

    # a one-column island (cov_yy == 0) cannot carry the hypothesis
    flat = spark.createDataFrame(
        [(0, 1, i, 3, 5) for i in range(6)],
        "level int, node int, bin_x int, bin_y int, cnt long",
    )
    frow = describe_islands(flat, variant="dtm").collect()[0]
    assert frow["loss"] is None


def test_std_normal_cdf_matches_scipy_free_reference(spark):
    """The A&S 7.1.26 Phi approximation is within 1.5e-7 of the exact
    normal CDF (math.erf ground truth) across the working range."""
    import math as _math

    from spartan2_spark.operators.histogram import _std_normal_cdf

    zs = [-6.0, -3.2, -1.0, -0.1, 0.0, 0.1, 1.0, 2.5, 4.0, 7.5]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {r["z"]: r["phi"] for r in df.select("z", _std_normal_cdf(F.col("z")).alias("phi")).collect()}
    for z in zs:
        exact = 0.5 * (1 + _math.erf(z / _math.sqrt(2)))
        assert abs(got[z] - exact) < 1.5e-7, z


def test_histogram_quantile_interpolation(spark):
    from spartan2_spark.operators.histogram import histogram_quantile

    hist = spark.createDataFrame(
        [("k", 0, 10, 9), ("k", 10, 20, 1)],
        "key string, lo long, hi long, cnt long",
    )
    # p90: cumulative hits 9/10 exactly at bucket-1's upper edge
    r = histogram_quantile(hist, 9, 10).collect()[0]
    assert r.total == 10 and r.bucket_lo == 0 and r.quantile == 10.0
    # p50: interpolates 10/18 of the way through bucket 1
    r = histogram_quantile(hist, 1, 2).collect()[0]
    assert r.quantile == 0 + 10 * (10 / 18.0)
    # p99: lands in the last bucket, 8/10 of the way through
    r = histogram_quantile(hist, 99, 100).collect()[0]
    assert r.bucket_lo == 10 and r.quantile == 10 + 10 * ((99 * 10 - 100 * 9) / (100 * 1 * 1.0))


def test_histogram_quantile_skips_empty_total(spark):
    from spartan2_spark.operators.histogram import histogram_quantile

    hist = spark.createDataFrame(
        [("dead", 0, 10, 0), ("live", 0, 10, 4)],
        "key string, lo long, hi long, cnt long",
    )
    out = {r.key: r for r in histogram_quantile(hist, 9, 10).collect()}
    assert set(out) == {"live"}


def test_heavy_change_topk_planted_shift(spark):
    """Keys: 'grow' 2 events before, 10 after (delta +8); 'shrink' 9
    before, 1 after (delta -8); 'flat' 5/5 (delta 0). k=2 keeps the two
    movers; the +8 outranks the -8 via the delta DESC tie-break."""
    from datetime import datetime, timedelta

    from spartan2_spark.operators.anomaly import heavy_change_topk

    t0 = datetime(2024, 1, 1)
    span = timedelta(hours=10)
    rows = []
    for i in range(2):
        rows.append(("grow", t0 + timedelta(hours=i)))
    for i in range(10):
        rows.append(("grow", t0 + span - timedelta(minutes=i + 1)))
    for i in range(9):
        rows.append(("shrink", t0 + timedelta(minutes=i)))
    rows.append(("shrink", t0 + span - timedelta(minutes=30)))
    for i in range(5):
        rows.append(("flat", t0 + timedelta(hours=i)))
        rows.append(("flat", t0 + span - timedelta(hours=i + 1)))
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    out = heavy_change_topk(df, k=2).collect()
    assert [r.key for r in out] == ["grow", "shrink"]
    assert out[0].delta == 8 and out[1].delta == -8


def test_pow2_histogram_bucket_bounds_and_counts(spark):
    from spartan2_spark.operators.histogram import (
        histogram_quantile,
        pow2_histogram,
    )

    df = spark.createDataFrame(
        [("k", v) for v in [0, 1, 1, 2, 3, 4, 7, 8]] + [("k", -5)],
        "key string, v long",
    )
    hist = {
        (r["lo"], r["hi"]): r["cnt"]
        for r in pow2_histogram(df, "key", "v").collect()
    }
    # power-of-two bucket bounds; negatives excluded by contract
    assert hist == {(0, 0): 1, (1, 1): 2, (2, 3): 2, (4, 7): 2, (8, 15): 1}
    # composes with histogram_quantile: p50 of 8 values lands in [2,3]
    q = histogram_quantile(
        pow2_histogram(df, "key", "v"), q_num=1, q_den=2
    ).collect()[0]
    assert (q["bucket_lo"], q["bucket_hi"]) == (2, 3)
    assert q["total"] == 8


def test_pow2_histogram_boundary_values_exact(spark):
    from spartan2_spark.operators.histogram import pow2_histogram

    # powers of two sit at bucket LOWER bounds — the float-log2 trap
    df = spark.createDataFrame(
        [("k", 2**i) for i in range(0, 63)], "key string, v long"
    )
    rows = pow2_histogram(df, "key", "v").collect()
    assert sorted(r["lo"] for r in rows) == [2**i for i in range(0, 63)]
    assert all(r["hi"] == 2 * r["lo"] - 1 for r in rows)
    assert all(r["cnt"] == 1 for r in rows)


def test_sliding_hist_quantile_gap_correct(spark):
    """Hand-checkable sliding p90 from sketch state: window of 2
    hourly buckets; an EMPTY hour between samples contributes nothing
    (gap-correct epoch bounds), and a window covering both sample
    hours merges their histograms."""
    import pandas as pd

    from spartan2_spark.operators.histogram import sliding_hist_quantile

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # hour 0: values 1..8 (buckets 1..4); hour 1: EMPTY; hour 2: 16x8
    for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8]):
        rows.append(("k", t0 + pd.Timedelta(minutes=i), v))
    for i in range(16):
        rows.append(("k", t0 + pd.Timedelta(hours=2, minutes=i), 8))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "ts", "v"]))
    out = {r.t_s: r for r in sliding_hist_quantile(
        df, window_buckets=2, bucket_s=3600, q_num=1, q_den=2).collect()}
    h0 = int(t0.timestamp())
    # window ending hour 0: only hour 0's 8 values; p50 -> cum rule:
    # buckets: b0:{} b1:{1} b2:{2,3} b3:{4..7} b4:{8}; total 8, need
    # cum*2 >= 8 -> first bucket with cum >= 4 is [4,7] (cum 7)
    assert out[h0].bucket_lo == 4 and out[h0].total == 8
    # window ending hour 2 spans hours 1-2 -> ONLY hour 2 (hour 0 out
    # of range, hour 1 empty): all 16 values are 8 -> bucket [8,15]
    h2 = h0 + 7200
    assert out[h2].total == 16 and out[h2].bucket_lo == 8
    # no window row for the empty hour 1 (no samples ended there)
    assert h0 + 3600 not in out


def test_sliding_quantile_bucket_contains_true_quantile(spark):
    """Property: for random non-negative integer samples in one
    window, the selected pow2 bucket always CONTAINS the true
    nearest-rank p90 (the sketch's relative-error contract)."""
    import math

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spartan2_spark.operators.histogram import sliding_hist_quantile

    @given(st.lists(st.integers(0, 10_000), min_size=1, max_size=80))
    @settings(max_examples=5, deadline=None)
    def prop(vals):
        base = pd.Timestamp("2024-01-01 00:00:00")
        pdf = pd.DataFrame({
            "key": ["k"] * len(vals),
            "ts": [base + pd.Timedelta(seconds=i) for i in range(len(vals))],
            "v": vals,
        })
        df = spark.createDataFrame(pdf)
        rows = sliding_hist_quantile(
            df, window_buckets=1, bucket_s=3600, q_num=9, q_den=10
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        s = sorted(vals)
        true_q = s[math.ceil(0.9 * len(s)) - 1]  # nearest-rank lower
        assert r.bucket_lo <= true_q <= r.bucket_hi, (r, true_q)
        assert r.total == len(vals)

    prop()


def _ad_reference(cells):
    """Pure-numpy replay of the reference's hypothesis test
    (statistic_hypothesis_test.py apply/_gaussian_check): ceil-log2
    expansion, numpy eig of the wlog-weighted covariance, reference
    projection x.v/(v.v), population standardization, textbook A-D
    statistic with the TRUE erf (so the engine's A&S polynomial is
    checked against an independent Phi). Returns sorted [A2_1, A2_2]
    plus the size-adjusted strictness-4 critical and n."""
    import math

    import numpy as np

    cells = np.asarray(cells, dtype=np.float64)  # rows: (bin_x, bin_y, cnt)
    centers = cells[:, :2] + 0.5
    wv = np.round(np.log2(cells[:, 2] + 1.0) * 100.0)
    mu = (wv[:, None] * centers).sum(0) / wv.sum()
    d = centers - mu
    cov = (wv[:, None, None] * d[:, :, None] * d[:, None, :]).sum(0) / wv.sum()
    _, v = np.linalg.eig(cov)
    mult = np.ceil(wv / 100.0).astype(int)
    xs = np.repeat(centers, mult, axis=0)
    n = xs.shape[0]
    a2s = []
    for k in range(2):
        kv = v[:, k]
        p = xs.dot(kv) / kv.dot(kv)
        sd = p.std()  # population, sklearn-scale convention
        z = np.zeros_like(p) if sd <= 0 else (p - p.mean()) / sd
        z = np.sort(z)
        cdf = np.array([0.5 * (1 + math.erf(t / math.sqrt(2))) for t in z])
        i = np.arange(1, n + 1)
        a2 = -n - ((2 * i - 1) * (np.log(cdf) + np.log(1 - cdf[::-1]))).sum() / n
        a2s.append(a2)
    crit = round(1.092 / (1.0 + 4.0 / n - 25.0 / (n * n)), 3)
    return sorted(a2s), crit, n


def test_anderson_islands_matches_reference_formula(spark):
    """Engine A-D (grouped cumulative coefficients, closed-form eigen
    axes, A&S erf) vs the independent expanded-sample numpy replay."""
    import numpy as np

    from spartan2_spark.operators.histogram import anderson_islands

    rng = np.random.default_rng(7)
    # island 10: correlated blob (exercises the non-aligned eigen branch)
    pts = rng.multivariate_normal([0, 0], [[4.0, 2.4], [2.4, 3.0]], size=400)
    uniq, counts = np.unique(np.round(pts).astype(int), axis=0, return_counts=True)
    rows = [(1, 10, int(x), int(y), int(c)) for (x, y), c in zip(uniq, counts)]
    # island 20: parabola with mixed counts (ties in one projection)
    for x in range(12):
        rows.append((1, 20, x, (x * x) // 5, 3 + (x % 4) * 7))
    tree = spark.createDataFrame(
        rows, "level int, node int, bin_x long, bin_y long, cnt long"
    )
    out = {r.node: r for r in anderson_islands(tree, strictness=4).collect()}
    for node in (10, 20):
        cells = [(r[2], r[3], r[4]) for r in rows if r[1] == node]
        ref_a2, ref_crit, ref_n = _ad_reference(cells)
        got = sorted([out[node].a2_1, out[node].a2_2])
        assert out[node].n == ref_n
        assert abs(out[node].crit - ref_crit) < 1e-9
        for g, r in zip(got, ref_a2):
            # A&S erf |err| <= 1.5e-7 per point; the log-sum keeps the
            # statistic within ~1e-4 of the true-erf value
            assert abs(g - r) < 5e-4, (node, got, ref_a2)
        assert out[node].accepted == bool(
            out[node].a2_1 <= out[node].crit
            and out[node].a2_2 <= out[node].crit
        )


def test_anderson_islands_accept_and_reject_paths(spark):
    """A product grid of normal-quantile points is accepted (both
    eigen-axis projections are near-perfect normal samples); a uniform
    grid of the same shape is rejected at the same strictness; an
    invalid strictness raises."""
    import math

    import numpy as np
    import pytest

    from spartan2_spark.operators.histogram import anderson_islands

    def inv_phi(q):  # Beasley-Springer-Moro is overkill: bisection
        lo, hi = -8.0, 8.0
        for _ in range(80):
            mid = (lo + hi) / 2
            if 0.5 * (1 + math.erf(mid / math.sqrt(2))) < q:
                lo = mid
            else:
                hi = mid
        return (lo + hi) / 2

    k = 21
    qs = [inv_phi((i + 0.5) / k) for i in range(k)]
    norm_bins = sorted({int(round(q * 40)) for q in qs})
    rows = [(1, 1, x, y, 1) for x in norm_bins for y in norm_bins]
    rows += [(1, 2, x, y, 1) for x in range(k) for y in range(k)]
    tree = spark.createDataFrame(
        rows, "level int, node int, bin_x long, bin_y long, cnt long"
    )
    out = {r.node: r for r in anderson_islands(tree, strictness=4).collect()}
    assert out[1].accepted, (out[1].a2_1, out[1].a2_2, out[1].crit)
    assert not out[2].accepted, (out[2].a2_1, out[2].a2_2, out[2].crit)
    with pytest.raises(ValueError):
        anderson_islands(tree, strictness=5)


def test_anderson_islands_extreme_outlier_matches_duckdb_twin(spark):
    """One far outlier on a ~1,500-cell island standardizes to |z| ~ 39,
    where the A&S Phi is exactly 0. Phi's floor keeps ln(Phi) finite on
    both engines: Spark gives a finite A^2 and the DuckDB twin the same
    value (unfloored, Spark's log(0) is NULL and sum skips it, while
    DuckDB's ln(0) raises)."""
    import math

    import duckdb
    import pandas as pd

    import __spark_entry__ as E
    from spartan2_spark.operators.histogram import anderson_islands

    rows = [(1, 7, x, y, 1 + (x * y) % 3) for x in range(39) for y in range(39)]
    rows.append((1, 7, 10_000, 19, 1))
    tree = spark.createDataFrame(
        rows, "level int, node int, bin_x long, bin_y long, cnt long"
    )
    got = anderson_islands(tree, strictness=4).collect()
    assert len(got) == 1 and got[0].n > 1500
    a2 = (got[0].a2_1, got[0].a2_2)
    assert all(v is not None and math.isfinite(v) for v in a2), a2

    cells = pd.DataFrame(rows, columns=["level", "node", "bin_x", "bin_y", "cnt"])
    con = duckdb.connect()
    con.register("island", cells)
    want = con.sql("WITH " + E._anderson_sql("island")).fetchall()
    assert len(want) == 1
    assert (round(a2[0], 6), round(a2[1], 6)) == (want[0][4], want[0][5])
    assert (got[0].crit, got[0].accepted) == (want[0][6], want[0][7])
