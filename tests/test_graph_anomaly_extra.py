"""k-core peeling + burst-involvement unit tests on handcrafted inputs."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from spartan2_spark.operators.anomaly import burst_involvement
from spartan2_spark.operators.graph import kcore


def test_kcore_triangle_plus_tail(spark):
    # triangle a-b-c (each degree 2) with a pendant tail c-d (d degree 1)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["src", "dst"]
    )
    core2 = kcore(edges, k=2)
    got = {r.node: r.degree for r in core2.collect()}
    assert got == {"a": 2, "b": 2, "c": 2}  # d peeled, c's degree drops to 2
    core3 = kcore(edges, k=3)
    assert core3.count() == 0


def test_kcore_keeps_multi_edges(spark):
    # multigraph: 3 parallel edges a-b -> both nodes have degree 3
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "b")], ["src", "dst"]
    )
    got = {r.node: r.degree for r in kcore(edges, k=3).collect()}
    assert got == {"a": 3, "b": 3}


def test_burst_involvement_ratio(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # sink x: 3 of 4 events in hour 0 (the global peak); sink y: 1 of 2
    for m in (1, 2, 3):
        rows.append(("x", t0 + dt.timedelta(minutes=m)))
    rows.append(("x", t0 + dt.timedelta(hours=5)))
    rows.append(("y", t0 + dt.timedelta(minutes=30)))
    rows.append(("y", t0 + dt.timedelta(hours=7)))
    df = spark.createDataFrame(rows, ["sink", "ts"])
    out = {r.sink: r for r in burst_involvement(df, "sink", "ts", 3600).collect()}
    assert out["x"].n_burst == 3 and out["x"].n_total == 4
    assert abs(out["x"].involv - 0.75) < 1e-9
    assert out["y"].n_burst == 1 and out["y"].n_total == 2


def test_holoscope_greedy_shave_later_round_wins(spark):
    from spartan2_spark.operators.anomaly import holoscope_greedy_shave

    # 100 background users (credit 10) + 5 fraudsters (credit 1000):
    # round 0 obj = 6000/210 ~ 28.6; round 1 keeps the 5 above-mean
    # users, obj = 5000/110 ~ 45.5 -> the SHAVED set must win.
    rows = [(f"bg{i}", 10) for i in range(100)] + [
        (f"fraud{i}", 1000) for i in range(5)
    ]
    cred = spark.createDataFrame(rows, ["user_id", "credit"])
    res = holoscope_greedy_shave(cred, key="user_id", credit="credit", max_rounds=8)
    assert res["round"] == 1
    nodes = {r.user_id for r in res["nodes"].collect()}
    assert nodes == {f"fraud{i}" for i in range(5)}
    assert abs(res["objective"] - 5000 / 110) < 1e-12


def test_holoscope_greedy_shave_uniform_credits(spark):
    from spartan2_spark.operators.anomaly import holoscope_greedy_shave

    # all-equal credits: round 1 drops everyone (credit <= mean), so
    # round 0 is the only (and best) round
    cred = spark.createDataFrame([(f"u{i}", 7) for i in range(10)], ["user_id", "credit"])
    res = holoscope_greedy_shave(cred, max_rounds=5)
    assert res["round"] == 0 and res["nodes"].count() == 10


def test_holoscope_spectral_seed_recovers_camouflaged_block(spark):
    """The spectral level-set init (holoscopeFraudDect.py:395-626)
    finds a dense camouflaged block whose per-user activity counts sit
    in the MIDDLE of the count distribution — the count/IQR seed flags
    none of the fraud users, the singular-vector cut flags all of
    them."""
    from spartan2_spark.operators.anomaly import (
        holoscope_shave_spectral,
        holoscope_spectral_seed,
        suspicious_keys,
    )

    edges = []
    # 100 honest users, heavy-tailed counts 5..60, spread over 40 sinks
    for i in range(100):
        total = 5 + (i * 37) % 56
        w = max(1, total // 6)
        for j in range(6):
            edges.append((i, 1000 + (i + j * 13) % 40, w))
    # 20 fraud users x 3 fraud sinks, weight 15 each (total 45 per user
    # -> well inside the honest count distribution, NOT an IQR outlier;
    # block sigma ~ sqrt(60)*15 = 116 dominates the honest ~67)
    fraud_users = list(range(500, 520))
    for u in fraud_users:
        for sk in (2000, 2001, 2002):
            edges.append((u, sk, 15))
    df = spark.createDataFrame(edges, "user_id long, event_type long, w long")

    # count seed: IQR outliers on total activity — misses every fraud user
    counts = df.groupBy("user_id").agg(F.sum("w").alias("cnt"))
    iqr_flagged = {r.user_id for r in suspicious_keys(counts, "cnt").collect()}
    assert iqr_flagged.isdisjoint(fraud_users)

    seed = {
        r.user_id
        for r in holoscope_spectral_seed(
            df, src="user_id", dst="event_type", weight="w"
        ).collect()
    }
    assert set(fraud_users) <= seed
    # and the seed is the block, not the whole graph
    assert len(seed) < 60

    res = holoscope_shave_spectral(
        df, counts.withColumnRenamed("cnt", "credit"),
        src="user_id", dst="event_type", weight="w",
    )
    shaved = {r.user_id for r in res["nodes"].collect()}
    assert set(fraud_users) <= shaved and shaved <= seed


def test_triangle_counts_planted(spark):
    from spartan2_spark.operators.graph import triangle_counts

    # K4 on 1-4 (4 triangles, each node in 3), one pendant (5), one
    # disjoint triangle (10,11,12); duplicate + reversed edges ignored
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges += [(4, 5), (10, 11), (11, 12), (12, 10), (11, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 10: 1, 11: 1, 12: 1}


def test_pagerank_fixedpoint_ranking(spark):
    from spartan2_spark.operators.graph import pagerank_fixedpoint

    # star: hub 1 pointed at by 2-6 (and back-edges so nothing dangles)
    edges = [(i, 1) for i in range(2, 7)] + [(1, i) for i in range(2, 7)]
    edges += [(7, 8), (8, 7)]  # isolated pair
    df = spark.createDataFrame(edges, "src long, dst long")
    pr = {r.node: r.rank_mass for r in pagerank_fixedpoint(df, rounds=8).collect()}
    # the hub out-ranks every spoke; spokes are symmetric-identical
    assert pr[1] > pr[2] and len({pr[i] for i in range(2, 7)}) == 1
    # the isolated pair keeps the uniform mass (they trade it 1:1)
    assert pr[7] == pr[8]
    # parallelism invariance (bit-exact integer path)
    pr2 = {r.node: r.rank_mass
           for r in pagerank_fixedpoint(df.repartition(9), rounds=8).collect()}
    assert pr == pr2


def test_label_propagation_two_cliques(spark):
    from spartan2_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge: LPA must give each
    # clique one label (the min node id) and not merge across the bridge
    c1 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    c2 = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(4, 10)], "src long, dst long")
    out = {r.node: r.label for r in label_propagation(edges, rounds=4).collect()}
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert out[11] == out[12] == out[13] == 10
    # determinism across parallelism
    out2 = {r.node: r.label
            for r in label_propagation(edges.repartition(5), rounds=4).collect()}
    assert out == out2


def test_connected_components_long_chain_and_guard(spark):
    import pytest

    from spartan2_spark.operators.graph import connected_components

    # a 40-node path: diameter 39, converges well within max_rounds=64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    out = {r.node: r.component for r in connected_components(chain).collect()}
    assert set(out.values()) == {0} and len(out) == 41
    # the guard fires loudly instead of returning wrong labels
    with pytest.raises(Exception, match="did not converge"):
        connected_components(chain, max_rounds=2)


def test_seasonal_anomaly_diurnal_series(spark):
    import datetime as dt

    from spartan2_spark.operators.anomaly import seasonal_anomaly

    # strongly diurnal series: 100 by day, 10 by night, 4 days —
    # plus ONE 80.0 at 3am (an anomaly far below the global mean,
    # invisible to a raw sigma bound but huge vs its hour's profile)
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for d in range(4):
        for h in range(24):
            v = 100.0 if 8 <= h <= 17 else 10.0
            if d == 1 and h == 3:
                v = 80.0
            rows.append((1, t0 + dt.timedelta(days=d, hours=h), v))
    df = spark.createDataFrame(rows, "key long, ts timestamp, value double")
    r = seasonal_anomaly(df).collect()[0]
    assert r.n == 96 and r.n_anomalies == 1
    # flat series: zero sigma, zero anomalies
    df2 = spark.createDataFrame(
        [(2, t0 + dt.timedelta(hours=i), 5.0) for i in range(48)],
        "key long, ts timestamp, value double",
    )
    r2 = seasonal_anomaly(df2).collect()[0]
    assert r2.sigma == 0.0 and r2.n_anomalies == 0


def test_psi_drift_planted(spark):
    import datetime as dt

    from spartan2_spark.operators.anomaly import psi_drift

    t0 = dt.datetime(2026, 3, 1)
    # key "same": identical bin histograms in both halves -> PSI exactly 0
    rows = [("same", t0 + dt.timedelta(hours=h), v)
            for h in (0, 1, 2, 3) for v in (5.0, 15.0)]
    rows += [("same", t0 + dt.timedelta(hours=h), v)
             for h in (10, 11, 12, 13) for v in (5.0, 15.0)]
    # key "drift": first half all in bin 0, second half all in bin 9
    rows += [("drift", t0 + dt.timedelta(hours=h), 1.0) for h in (0, 1, 2, 3)]
    rows += [("drift", t0 + dt.timedelta(hours=h), 95.0) for h in (10, 11, 12, 13)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    got = {r.key: r for r in psi_drift(df).collect()}
    assert got["same"].psi == 0.0
    assert got["same"].n_first == 8 and got["same"].n_second == 8
    # +1/+n_bins smoothing damps tiny-n PSI; 0.92 here — far past the
    # 0.25 "drifted" rule of thumb, while the identical key reads 0.0
    assert got["drift"].psi > 0.5


def test_fano_burstiness_planted(spark):
    import datetime as dt

    from spartan2_spark.operators.anomaly import fano_burstiness

    t0 = dt.datetime(2026, 4, 1)
    # key "flat": 2 events in each of 3 minutes -> variance 0 -> fano 0
    rows = [("flat", t0 + dt.timedelta(minutes=m, seconds=s))
            for m in range(3) for s in (0, 30)]
    # key "burst": bucket counts [1, 1, 8] -> fano = 98/30
    rows += [("burst", t0), ("burst", t0 + dt.timedelta(minutes=1))]
    rows += [("burst", t0 + dt.timedelta(minutes=2, seconds=s))
             for s in range(8)]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    got = {r.key: r for r in fano_burstiness(df).collect()}
    assert got["flat"].fano == 0.0 and got["flat"].n_buckets == 3
    assert got["burst"].total == 10
    assert abs(got["burst"].fano - 98 / 30) < 1e-7


def test_clustering_coeff_planted(spark):
    from spartan2_spark.operators.graph import clustering_coeff

    # triangle a-b-c plus pendant c-d: a,b have cc=1; c has degree 3,
    # 1 triangle -> cc = 2/(3*2) = 1/3; d degree 1 -> 0
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["src", "dst"]
    )
    got = {r.node: r for r in clustering_coeff(edges).collect()}
    assert got["a"].clustering_coeff == 1.0 and got["b"].clustering_coeff == 1.0
    assert got["c"].clustering_coeff == round(1 / 3, 8)
    assert got["d"].clustering_coeff == 0.0 and got["d"].degree == 1


def test_burst_islands_planted(spark):
    import datetime as dt

    from spartan2_spark.operators.anomaly import burst_islands

    t0 = dt.datetime(2026, 5, 1)
    rows = []
    # burst 1: minutes 0-2 hot (3 events each); quiet minute 3 (1 event,
    # below threshold); burst 2: minute 4 hot (2 events)
    for m in (0, 1, 2):
        rows += [(1, t0 + dt.timedelta(minutes=m, seconds=s)) for s in (0, 10, 20)]
    rows.append((1, t0 + dt.timedelta(minutes=3)))
    rows += [(1, t0 + dt.timedelta(minutes=4, seconds=s)) for s in (0, 30)]
    df = spark.createDataFrame(rows, "key long, ts timestamp")
    r = burst_islands(df, grain_seconds=60, threshold=2).collect()[0]
    assert r.n_bursts == 2
    assert r.longest_burst == 3 and r.max_burst_events == 9


def test_ktruss_peels_bridge_and_tail(spark):
    from spartan2_spark.operators.graph import ktruss

    # K4 on {a,b,c,d} (every edge in 2 triangles) bridged to a
    # triangle {x,y,z} (every edge in 1 triangle) plus a pendant tail.
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    tri = [("x", "y"), ("x", "z"), ("y", "z")]
    extra = [("d", "x"), ("z", "t")]  # bridge + tail: support 0
    edges = spark.createDataFrame(k4 + tri + extra, ["src", "dst"])

    # 4-truss (support >= 2): only the K4 survives; the triangle's
    # edges have support 1 and peel, the bridge/tail peel first.
    got = {(r.u, r.v): r.support for r in ktruss(edges, k=4).collect()}
    assert got == {("a", "b"): 2, ("a", "c"): 2, ("a", "d"): 2,
                   ("b", "c"): 2, ("b", "d"): 2, ("c", "d"): 2}

    # 3-truss (support >= 1): K4 + triangle survive, bridge/tail peel.
    got3 = {(r.u, r.v) for r in ktruss(edges, k=3).collect()}
    assert got3 == set(k4) | set(tri)

    # 5-truss of K4 is empty (support 2 < 3), and the peel cascades
    # to a fixpoint rather than erroring.
    assert ktruss(edges, k=5).count() == 0


def test_ktruss_k2_keeps_triangle_free_edges(spark):
    from spartan2_spark.operators.graph import ktruss

    # k=2 demands support >= 0: nothing peels, support reported as 0.
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    got = {(r.u, r.v): r.support for r in ktruss(edges, k=2).collect()}
    assert got == {("a", "b"): 0, ("b", "c"): 0}


def test_adamic_adar_hand_graph(spark):
    import math

    from spartan2_spark.operators.graph import adamic_adar

    # path graph 1-2-3 plus hub 0 connected to 1,2,3:
    # non-edge (1,3): common neighbors {0 (deg 3), 2 (deg 3)}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    out = adamic_adar(edges, top_k=10).collect()
    best = out[0]
    assert (best.u, best.v) == (1, 3) and best.n_common == 2
    want = 2 * round(1e6 / math.log(3)) / 1e6
    assert abs(best.aa_score - want) < 1e-12
    # existing edges never appear
    got_pairs = {(r.u, r.v) for r in out}
    assert (1, 2) not in got_pairs and (0, 1) not in got_pairs


def test_ppr_mass_stays_in_seed_component(spark):
    from spartan2_spark.operators.graph import ppr_fixedpoint

    # two disconnected 3-cycles; seed in component A only: B must end
    # with zero mass (filtered out), A's seed must rank highest
    edges = []
    for a, b in [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
                 ("b1", "b2"), ("b2", "b3"), ("b3", "b1")]:
        edges += [(a, b), (b, a)]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a1",)], "node string")
    out = {r.node: r.rank_mass for r in ppr_fixedpoint(e, seeds, rounds=6).collect()}
    assert all(n.startswith("a") for n in out)
    assert max(out, key=out.get) == "a1"


def test_ppr_all_seeds_equals_pagerank(spark):
    from spartan2_spark.operators.graph import (
        pagerank_fixedpoint,
        ppr_fixedpoint,
    )

    # seeding EVERY node makes the PPR recurrence identical to global
    # PageRank — bit-exact, round for round
    edges = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x"), ("x", "z")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("x",), ("y",), ("z",)], "node string")
    pr = {r.node: r.rank_mass for r in pagerank_fixedpoint(edges, rounds=4).collect()}
    ppr = {r.node: r.rank_mass for r in ppr_fixedpoint(edges, seeds, rounds=4).collect()}
    assert pr == ppr


def test_adamic_adar_tolerates_degree_one_nodes(spark):
    from spartan2_spark.operators.graph import adamic_adar

    # pendant node p (degree 1) must not blow up the 1/ln(deg) weight
    # under ANSI mode; wedge centers are the deg>=2 nodes only
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 9)], "src long, dst long"
    )
    out = adamic_adar(edges, top_k=10).collect()
    pairs = {(r.u, r.v) for r in out}
    assert (1, 9) in pairs and (2, 9) in pairs


def test_neighbor_jaccard_hand_graph(spark):
    from spartan2_spark.operators.graph import neighbor_jaccard

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    rows = neighbor_jaccard(edges, top_k=10).collect()
    got = [(r["u"], r["v"], r["n_common"], r["n_union"]) for r in rows]
    # N1={2,3} N2={1,3} N3={1,2,4} N4={3}; total order (jac desc, u, v)
    assert got == [
        (1, 4, 1, 2),   # 0.5
        (2, 4, 1, 2),   # 0.5
        (1, 2, 1, 3),   # 1/3
        (1, 3, 1, 4),   # 0.25
        (2, 3, 1, 4),   # 0.25
    ]
    assert abs(rows[0]["jaccard"] - 0.5) == 0
    assert rows[2]["jaccard"] == 1 / 3


def test_degree_assortativity_star_and_path(spark):
    """Hand-checked shapes: a star is perfectly disassortative
    (r = -1); a 4-path's r is the exact hand-computed ratio."""
    import pandas as pd

    from spartan2_spark.operators.graph import degree_assortativity

    star = [(0, i) for i in range(1, 5)]  # hub deg 4, leaves deg 1
    df = spark.createDataFrame(pd.DataFrame(star, columns=["src", "dst"]))
    r = degree_assortativity(df).collect()[0]
    assert r.m == 8 and r.assortativity == -1.0
    assert r.r_num == -r.r_den

    # path 0-1-2-3: degrees 1,2,2,1; directed pairs (du,dv):
    # (1,2),(2,1),(2,2),(2,2),(2,1),(1,2) -> m=6, sx=10, sxy=16, sxx=18
    path = [(0, 1), (1, 2), (2, 3)]
    df2 = spark.createDataFrame(pd.DataFrame(path, columns=["src", "dst"]))
    r2 = degree_assortativity(df2).collect()[0]
    assert (r2.m, r2.sx, r2.sxy, r2.sxx) == (6, 10, 16, 18)
    assert r2.r_num == 6 * 16 - 100 == -4
    assert r2.r_den == 6 * 18 - 100 == 8
    assert r2.assortativity == -0.5


def test_graph_reciprocity_hand_graph(spark):
    """4 directed edges, one mutual pair, loop dropped: 2 of 4
    reciprocal."""
    import pandas as pd

    from spartan2_spark.operators.graph import graph_reciprocity

    rows = [(1, 2), (2, 1), (1, 3), (3, 4), (5, 5)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))
    r = graph_reciprocity(df).collect()[0]
    assert r.n_edges == 4 and r.n_reciprocal == 2
    assert r.reciprocity == 0.5


def test_hits_fixedpoint_matches_python_recurrence(spark):
    """The Spark HITS rounds reproduce a pure-Python integer
    reference of the same recurrence (sum -> max-rescale by integer
    div) exactly, and the authority ranking is the Kleinberg one:
    the node cited by more hubs wins."""
    import pandas as pd

    from spartan2_spark.operators.graph import hits_fixedpoint

    edges = [("x", "p"), ("x", "q"), ("y", "p"), ("z", "p"), ("z", "q"),
             ("q", "x")]  # q also points back: not purely bipartite
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    rounds, scale_bits = 3, 20
    scale = 1 << scale_bits

    nodes = sorted({n for e in edges for n in e})
    h = {n: scale for n in nodes}
    a = {}
    for _ in range(rounds):
        a = {n: sum(h[u] for u, v in edges if v == n) for n in nodes}
        mx = max(1, max(a.values()))
        a = {n: (a[n] * scale) // mx for n in nodes}
        h = {n: sum(a[v] for u, v in edges if u == n) for n in nodes}
        mx = max(1, max(h.values()))
        h = {n: (h[n] * scale) // mx for n in nodes}

    out = {r.node: r for r in hits_fixedpoint(df, rounds=rounds,
                                              scale_bits=scale_bits).collect()}
    assert len(out) == len(nodes)
    for n in nodes:
        assert out[n].auth_mass == a[n], (n, out[n].auth_mass, a[n])
        assert out[n].hub_mass == h[n], (n, out[n].hub_mass, h[n])
    # p is cited by 3 hubs, q by 2: p is the top authority at scale
    assert out["p"].auth_mass == scale
    assert out["q"].auth_mass < scale
    assert out["y"].auth_mass == 0  # never cited


def test_modularity_score_two_triangles(spark):
    """Two triangles + one bridge, labeled by triangle: hand-computed
    e_in/d_sum/num per community; global Q = sum(num)/(4m^2) =
    70/196. Exact integers everywhere."""
    import pandas as pd

    from spartan2_spark.operators.graph import modularity_score

    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")]
    labs = [("a", "X"), ("b", "X"), ("c", "X"),
            ("d", "Y"), ("e", "Y"), ("f", "Y")]
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    l = spark.createDataFrame(pd.DataFrame(labs, columns=["node", "label"]))
    out = {r.community: r for r in modularity_score(e, l).collect()}
    for c in ("X", "Y"):
        assert out[c].n_nodes == 3
        assert out[c].e_in == 3
        assert out[c].d_sum == 7
        assert out[c].m_edges == 7
        assert out[c].num == 4 * 7 * 3 - 49
    q = sum(r.num for r in out.values()) / (4 * 7 * 7)
    assert abs(q - 70 / 196) < 1e-15
    # sanity: a garbage split (X = {a, d} ...) scores lower
    labs2 = [("a", "P"), ("d", "P"), ("b", "Q"), ("c", "Q"),
             ("e", "Q"), ("f", "Q")]
    l2 = spark.createDataFrame(pd.DataFrame(labs2, columns=["node", "label"]))
    out2 = modularity_score(e, l2).collect()
    q2 = sum(r.num for r in out2) / (4 * 7 * 7)
    assert q2 < q


def test_rich_club_planted_core(spark):
    """A 4-clique core with pendant spokes: above cut k=2 only the
    clique nodes survive and phi = 1.0; above k=4 nobody survives
    (NULL phi); counts exact."""
    import pandas as pd

    from spartan2_spark.operators.graph import rich_club

    core = ["a", "b", "c", "d"]
    edges = [(x, y) for i, x in enumerate(core) for y in core[i + 1:]]
    # one pendant per core node: degree(core) = 4, degree(pendant) = 1
    edges += [(n, n + "p") for n in core]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    out = {r.k: r for r in rich_club(df, degree_cuts=(2, 4)).collect()}
    r2 = out[2]
    assert r2.n_k == 4 and r2.e_k == 6  # the clique, fully dense
    assert abs(r2.phi - 1.0) < 1e-15
    r4 = out[4]
    assert r4.n_k == 0 and r4.e_k == 0 and r4.phi is None


def test_connected_components_random_property(spark):
    """r5 frontier-CC rework safety net: on random graphs (mixed
    cliques, chains, stars, singetons-by-absence), labels must equal a
    union-find ground truth, for both dedup_edges modes."""
    import numpy as np

    from spartan2_spark.operators.graph import connected_components

    rng = np.random.default_rng(11)
    for trial in range(3):
        n = 60
        m = int(rng.integers(20, 120))
        edges = [
            (int(rng.integers(0, n)), int(rng.integers(0, n)))
            for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        # union-find ground truth with min-label normalization
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        truth = {x: find(x) for x in touched}

        df = spark.createDataFrame(edges, "src long, dst long")
        for dedup in (True, False):
            got = {
                r.node: r.component
                for r in connected_components(
                    df, dedup_edges=dedup
                ).collect()
            }
            assert got == truth, (trial, dedup)
