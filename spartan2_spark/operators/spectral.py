"""Distributed spectral ops on edge-list DataFrames.

Reference semantics being re-expressed (NOT ported — the reference runs
scipy on an in-memory sparse matrix, we run DataFrame joins/aggs):

- ``power_iteration``: leading singular triple (u, s, v) of the
  bipartite adjacency. The reference gets it from
  ``scipy.sparse.linalg.svds`` for HoloScope's fast init
  (/root/reference/spartan/model/holoscope/holoscopeFraudDect.py:395-626)
  and EigenSpokes' spoke plots
  (/root/reference/spartan/model/eigenspokes/EigenSpokes.py:8-38).
  One power step is two shuffles: ``y = A v`` is a join of edges with
  the v-vector on dst + groupBy(src); ``v' = A^T y`` symmetrically.
  O(log(1/eps)/log(s1/s2)) rounds; each round ends with an eager
  ``barrier()`` (reliable ``checkpoint()`` when a checkpoint dir is
  configured, ``localCheckpoint()`` otherwise) to truncate the
  iterative plan lineage.

- ``eigen_spokes_nodes``: EigenSpokes' node pick — entries of the
  leading singular vector with ``|u_i| >= 1/sqrt(m)``
  (/root/reference/spartan/model/eigenpulse/util.py:5-16 uses the same
  rule for EigenPulse submatrix selection).

- ``summarize_graph_lsh``: DPGS-style graph summarization
  (/root/reference/spartan/model/DPGS/DPGS.py:49-310 groups nodes by
  MinHash-LSH of neighbourhoods, then merges within groups by an MDL
  score). Our distributed analogue: one MinHash signature per node over
  its neighbour set (k independent polynomial min-hashes — one groupBy,
  no pairwise work), nodes sharing the full signature form a supernode,
  edges collapse to weighted superedges, and the MDL-ish score
  ``sum(c*ln(c))`` accounts for the encoding gain.

Determinism: all hashes are the portable polynomial family
(``_poly_node_hash``) with fixed coefficients; the power
iteration normalizes with a fixed reduction expression, so results are
identical at any parallelism.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from spartan2_spark.operators.barrier import barrier

__all__ = [
    "power_iteration",
    "power_iteration_fixedpoint",
    "eigen_spokes_nodes",
    "summarize_graph_lsh",
    "specgreedy_subgraph",
    "kgrass_summarize",
    "dpgs_merge_round",
    "dpgs_summarize",
    "kgrass_merge_round",
]


def power_iteration(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 8,
) -> dict:
    """Leading singular triple of the (src x dst) adjacency.

    Returns {'sigma1': float, 'u': DataFrame(node, score),
    'v': DataFrame(node, score)}. ``u`` spans src nodes, ``v`` dst
    nodes. Deterministic start vector: v = 1/sqrt(n_dst).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), w.alias("w")
    ).transform(barrier)

    v = (
        e.select(F.col("d").alias("node"))
        .distinct()
        .withColumn("score", F.lit(1.0))
    ).transform(barrier)
    # normalize start
    n_dst = v.count()
    if n_dst == 0:  # empty graph: sums below would collect as NULL
        empty = v.limit(0)
        return {"sigma1": 0.0, "u": empty, "v": empty}
    v = v.withColumn("score", F.col("score") / F.lit(math.sqrt(float(n_dst))))

    sigma = 0.0
    u = None
    for _ in range(n_iter):
        # y = A v  (join on dst, sum per src)
        y = (
            e.join(v.withColumnRenamed("node", "d"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum(F.col("w") * F.col("score")).alias("score"))
        )
        y_norm = y.agg(F.sqrt(F.sum(F.col("score") * F.col("score")))).collect()[0][0]
        u = y.withColumn("score", F.col("score") / F.lit(y_norm)).transform(barrier)
        # v' = A^T u (join on src, sum per dst)
        z = (
            e.join(u.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum(F.col("w") * F.col("score")).alias("score"))
        )
        sigma = z.agg(F.sqrt(F.sum(F.col("score") * F.col("score")))).collect()[0][0]
        v = z.withColumn("score", F.col("score") / F.lit(sigma)).transform(barrier)
    return {"sigma1": float(sigma), "u": u, "v": v}


def eigen_spokes_nodes(u: DataFrame, n_rows: int) -> DataFrame:
    """EigenSpokes pick: |u_i| >= 1/sqrt(m) (eigenpulse/util.py:5-16)."""
    thr = 1.0 / math.sqrt(float(n_rows))
    return u.filter(F.abs(F.col("score")) >= F.lit(thr))


_POLY_P = 2147483647


def _poly_node_hash(col, j: int):
    """Portable per-node hash h_j(x) = ((2j+1)*poly(x) + j^2+7) mod p —
    the universal family of dedup.minhash_lsh_pairs' signature slots;
    computable verbatim in the DuckDB oracle."""
    from spartan2_spark.operators.text import _poly_hash

    h = _poly_hash(F.col(col).cast("string"))
    return (F.lit(2 * j + 1) * h + F.lit(j * j + 7)) % _POLY_P


def summarize_graph_lsh(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_hashes: int = 4,
) -> dict:
    """DPGS-style summarization via MinHash of neighbour sets.

    Nodes with identical k-MinHash neighbourhood signatures merge into a
    supernode; edges collapse to (super_src, dst, multiplicity). Returns
    {'assign': DataFrame(node, supernode), 'superedges': DataFrame,
    'mdl_gain_bits': DataFrame(supernode, n_nodes, gain_bits)} where
    gain ~ (n_nodes-1) * log2(n_nodes) style grouping saving — the
    same xlogx shape as the reference's c_MDL code-length terms
    (model/DPGS/DPGS.py:38-47).
    """
    hcols = [
        F.min(_poly_node_hash(dst, i)).alias(f"h{i}") for i in range(k_hashes)
    ]
    sig = (
        edges.groupBy(F.col(src).alias("node"))
        .agg(*hcols)
        .withColumn(
            "supernode",
            F.concat_ws("_", *[F.col(f"h{i}") for i in range(k_hashes)]),
        )
        .select("node", "supernode")
    )
    superedges = (
        edges.join(sig.withColumnRenamed("node", src), src)
        .groupBy("supernode", F.col(dst).alias("dst"))
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )
    gain = (
        sig.groupBy("supernode")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .withColumn(
            "gain_bits",
            F.when(
                F.col("n_nodes") > 1,
                (F.col("n_nodes") - 1) * F.log2(F.col("n_nodes").cast("double")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return {"assign": sig, "superedges": superedges, "mdl_gain_bits": gain}


def specgreedy_subgraph(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 8,
    refine_rounds: int = 4,
) -> dict:
    """SpecGreedy-style densest-subgraph detection
    (/root/reference/spartan/model/specgreedy/SpecGreedy.py:19-257):
    seed the candidate block from the leading singular vectors
    (entries >= 1/sqrt(n), the spectral seeding step), then greedily
    refine toward higher average degree. The reference peels nodes one
    at a time with a MinTree; the distributed analogue drops, each
    round, EVERY node whose in-block degree is below the block's
    current average degree — the parallel (Charikar-style) peel that
    converges to the same 2-approximation of the densest block.

    Returns {'src_nodes': DataFrame(node), 'dst_nodes': DataFrame(node),
    'density': float, 'rounds': int}.
    """
    tri = power_iteration(edges, src, dst, n_iter=n_iter)
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).transform(barrier)
    su = eigen_spokes_nodes(tri["u"], tri["u"].count()).select(
        F.col("node").alias("s")
    ).transform(barrier)
    sv = eigen_spokes_nodes(tri["v"], tri["v"].count()).select(
        F.col("node").alias("d")
    ).transform(barrier)

    density = 0.0
    rounds = 0
    for rounds in range(1, refine_rounds + 1):
        blk = (
            e.join(F.broadcast(su), "s", "left_semi")
            .join(F.broadcast(sv), "d", "left_semi")
            .transform(barrier)
        )
        stats = blk.agg(
            F.count(F.lit(1)).alias("m"),
            F.countDistinct("s").alias("ns"),
            F.countDistinct("d").alias("nd"),
        ).collect()[0]
        if not stats.m:
            break
        density = 2.0 * stats.m / float(stats.ns + stats.nd)
        half = density / 2.0
        keep_s = (
            blk.groupBy("s").count().filter(F.col("count") >= half).select("s")
        ).transform(barrier)
        keep_d = (
            blk.groupBy("d").count().filter(F.col("count") >= half).select("d")
        ).transform(barrier)
        if keep_s.count() == su.count() and keep_d.count() == sv.count():
            break
        su, sv = keep_s, keep_d
    # report the density OF THE RETURNED SETS (the loop may end by
    # round exhaustion with su/sv peeled past the last measured block)
    blk = (
        e.join(F.broadcast(su), "s", "left_semi")
        .join(F.broadcast(sv), "d", "left_semi")
    )
    stats = blk.agg(
        F.count(F.lit(1)).alias("m"),
        F.countDistinct("s").alias("ns"),
        F.countDistinct("d").alias("nd"),
    ).collect()[0]
    density = (
        2.0 * stats.m / float(stats.ns + stats.nd) if stats.m else 0.0
    )
    return {
        "src_nodes": su.select(F.col("s").alias("node")),
        "dst_nodes": sv.select(F.col("d").alias("node")),
        "density": float(density),
        "rounds": rounds,
    }


def kgrass_summarize(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 8,
) -> dict:
    """kGrass-style summarization to at most ``k`` supernodes
    (/root/reference/spartan/model/kGS/kGrass.py:14-216): the reference
    greedily merges the node pair with minimal error increase until k
    groups remain. Sequential pairwise merging doesn't distribute; the
    scalable analogue groups nodes by neighbourhood similarity in ONE
    pass — each node's MinHash-of-neighbours signature is bucketed into
    k supernodes — then reports the same reconstruction-error metric
    the reference minimizes (sum over superedges of
    ``c*(1 - c/(|A|*|B|))``, the expected per-cell error of a uniform
    superedge density).

    Returns {'assign', 'superedges', 'error'} — assign: (node,
    supernode in [0,k)); superedges: (sn_src, sn_dst, multiplicity,
    size_src, size_dst, err_term); error: float.
    """
    # simple-graph semantics (the reference summarizes adjacency cells,
    # not multi-edges): deduplicate edge pairs first so the per-
    # superedge multiplicity counts DISTINCT cells and is bounded by
    # |A|*|B| — keeping err_term = c*(1 - c/(|A|*|B|)) in [0, c].
    e0 = edges.select(src, dst).dropDuplicates([src, dst]).transform(barrier)

    nbr_h = _poly_node_hash(dst, 0)
    self_h = _poly_node_hash("node", 0)
    # h0 < 2^31 so the affine re-mix stays in int64 under ANSI
    bucket = F.pmod((F.col("h0") * 31 + 17) % _POLY_P, F.lit(k))

    src_sig = e0.groupBy(F.col(src).alias("node")).agg(F.min(nbr_h).alias("h0"))
    all_nodes = (
        e0.select(F.col(src).alias("node"))
        .unionByName(e0.select(F.col(dst).alias("node")))
        .distinct()
    )
    # sink-only nodes have no out-neighbourhood; their signature falls
    # back to the hash of the node id itself (deterministic, portable)
    sinks = all_nodes.join(src_sig, "node", "left_anti").withColumn(
        "h0", self_h
    )
    sig = (
        src_sig.unionByName(sinks)
        .withColumn("supernode", bucket)
        .select("node", "supernode")
    )
    sizes = sig.groupBy("supernode").agg(F.count(F.lit(1)).alias("size"))
    e = e0.join(
        sig.withColumnRenamed("node", src).withColumnRenamed("supernode", "sn_src"),
        src,
    ).join(
        sig.withColumnRenamed("node", dst).withColumnRenamed("supernode", "sn_dst"),
        dst,
    )
    superedges = (
        e.groupBy("sn_src", "sn_dst")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .join(
            F.broadcast(sizes.withColumnRenamed("supernode", "sn_src")
                        .withColumnRenamed("size", "size_src")),
            "sn_src",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("supernode", "sn_dst")
                        .withColumnRenamed("size", "size_dst")),
            "sn_dst",
        )
        .withColumn(
            "err_term",
            F.col("multiplicity")
            * (
                1.0
                - F.col("multiplicity")
                / (F.col("size_src") * F.col("size_dst"))
            ),
        )
    )
    err = superedges.agg(F.sum("err_term")).collect()[0][0]
    return {"assign": sig, "superedges": superedges, "error": float(err or 0.0)}


def _xlogx(c):
    """x*ln(x) with xlogx(0)=0 (model/DPGS/DPGS.py:43-47)."""
    return F.when(c > 0, c.cast("double") * F.log(c.cast("double"))).otherwise(
        F.lit(0.0)
    )


def _ln_univ(c):
    """Rissanen's universal integer code length in bits
    (model/DPGS/c_MDL.pyx LN): log2(2.865064) + log2(n) + log2(log2(n))
    + ... while positive. The iterated-log chain has at most 5 positive
    terms for any int64, so it unrolls to a fixed expression both Spark
    and the DuckDB oracle evaluate identically."""
    n = c.cast("double")
    i1 = F.log2(n)
    i2 = F.log2(i1)
    i3 = F.log2(i2)
    i4 = F.log2(i3)
    i5 = F.log2(i4)
    term = lambda i: F.when(i > 0, i).otherwise(F.lit(0.0))  # noqa: E731
    chain = term(i1) + F.when(
        i1 > 0, term(i2) + F.when(
            i2 > 0, term(i3) + F.when(
                i3 > 0, term(i4) + F.when(i4 > 0, term(i5)).otherwise(F.lit(0.0))
            ).otherwise(F.lit(0.0))
        ).otherwise(F.lit(0.0))
    ).otherwise(F.lit(0.0))
    return F.when(c > 0, F.lit(math.log2(2.865064)) + chain).otherwise(F.lit(0.0))


def dpgs_merge_round(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_hashes: int = 4,
    max_group: int = 500,
    quant: float = 1000.0,
) -> dict:
    """One DPGS merge-refinement round: within-LSH-group agglomeration by
    MDL code-length gain (model/DPGS/DPGS.py:143-186 `_merge_gain`,
    187-226 `_merge_group`).

    The reference samples random pairs inside each LSH group and merges
    while the MDL gain is positive; a distributed engine needs a
    deterministic rule, so this round computes the gain for EVERY
    within-group pair with declarative joins, keeps pairs with positive
    quantized gain, lets each node pick its best partner (max gain, then
    min partner id), and collapses the chosen-partner graph per group
    with a union-find kernel (grouped `applyInPandas` over the bounded
    group relation). Gain keeps the reference's local terms —

      2*(xlogx(du) + xlogx(dv) - xlogx(du+dv))
      + sum over common neighbours n of
        [ 2*(xlogx(w_un + w_vn) - xlogx(w_un) - xlogx(w_vn))
          + LN(w_un) + LN(w_vn) - LN(w_un + w_vn) ]

    (DPGS.py:154-164; LN is Rissanen's universal integer code,
    c_MDL.pyx) — and drops the global model-size corrections (LN(cnt),
    LnU terms, DPGS.py:149-153,182-185), which couple every merge to a global
    sequential counter: a documented divergence that keeps rounds
    embarrassingly parallel. Gains are quantized to integers
    (round(gain*quant)) so the Spark plan and the DuckDB oracle make
    bit-identical merge decisions; exact structural ties fall to the
    partner-id tie-break.

    Groups larger than ``max_group`` are skipped this round (the
    reference hard-caps groups at C=500, DPGS.py:135-139; at scale you
    re-band the LSH instead of exploding a head group's pair count).

    Returns {'assign': (node, supernode) for every src node — supernode
    is the min node id of its merged set; 'gains': the chosen pairs
    (g, u, v, gq)}.
    """

    node_w = (
        edges.groupBy(F.col(src).alias("node"), F.col(dst).alias("nei"))
        .agg(F.count(F.lit(1)).alias("w"))
        .transform(barrier)
    )
    deg = node_w.groupBy("node").agg(F.sum("w").alias("d"))
    sig = summarize_graph_lsh(edges, src, dst, k_hashes)["assign"]
    sig = sig.select("node", F.col("supernode").alias("g"))
    ok = (
        sig.groupBy("g")
        .agg(F.count(F.lit(1)).alias("gsz"))
        .filter((F.col("gsz") >= 2) & (F.col("gsz") <= max_group))
        .select("g")
    )
    grp = sig.join(ok, "g").transform(barrier)
    nodes = grp.join(deg, "node")
    pairs = (
        nodes.alias("a")
        .join(nodes.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.node") < F.col("b.node")))
        .select(
            F.col("a.g").alias("g"),
            F.col("a.node").alias("u"),
            F.col("b.node").alias("v"),
            (
                2.0
                * (
                    _xlogx(F.col("a.d"))
                    + _xlogx(F.col("b.d"))
                    - _xlogx(F.col("a.d") + F.col("b.d"))
                )
            ).alias("degterm"),
        )
    )
    adjg = node_w.join(grp, "node")
    pn = (
        adjg.alias("a")
        .join(
            adjg.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.nei") == F.col("b.nei"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .select(
            F.col("a.node").alias("u"),
            F.col("b.node").alias("v"),
            (
                2.0
                * (
                    _xlogx(F.col("a.w") + F.col("b.w"))
                    - _xlogx(F.col("a.w"))
                    - _xlogx(F.col("b.w"))
                )
                + _ln_univ(F.col("a.w"))
                + _ln_univ(F.col("b.w"))
                - _ln_univ(F.col("a.w") + F.col("b.w"))
            ).alias("term"),
        )
    )
    common = pn.groupBy("u", "v").agg(F.sum("term").alias("commonterm"))
    gains = (
        pairs.join(common, ["u", "v"])
        .withColumn(
            "gq",
            F.round((F.col("degterm") + F.col("commonterm")) * F.lit(quant), 0).cast(
                "long"
            ),
        )
        .filter(F.col("gq") > 0)
        .select("g", "u", "v", "gq")
        .transform(barrier)
    )
    all_nodes = edges.select(F.col(src).alias("node")).distinct()
    assign = _match_and_collapse(gains, all_nodes)
    return {"assign": assign, "gains": gains}


def _match_and_collapse(gains: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """Shared merge-round tail: each node picks its best partner
    (max ``gq``, then min partner id) from the scored within-group pairs
    ``gains`` (g, u, v, gq), the chosen-partner graph collapses to
    components per group with a union-find kernel (grouped
    ``applyInPandas`` over the bounded group relation), and every node
    in ``all_nodes`` gets its component's min node id as supernode
    (itself if unmatched)."""
    import pandas as pd

    cand = gains.select("g", F.col("u").alias("node"), F.col("v").alias("partner"), "gq").unionByName(
        gains.select("g", F.col("v").alias("node"), F.col("u").alias("partner"), "gq")
    )
    win = W.partitionBy("node").orderBy(F.desc("gq"), F.asc("partner"))
    best = (
        cand.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "g",
            F.least("node", "partner").alias("cu"),
            F.greatest("node", "partner").alias("cv"),
        )
        .distinct()
    )

    def _uf_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for cu, cv in sorted(zip(pdf["cu"], pdf["cv"])):
            ru, rv = find(int(cu)), find(int(cv))
            if ru != rv:
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        members = set(pdf["cu"]) | set(pdf["cv"])
        return pd.DataFrame(
            {"node": sorted(members), "supernode": [find(int(n)) for n in sorted(members)]}
        )

    merged = best.groupBy("g").applyInPandas(_uf_kernel, "node long, supernode long")
    return all_nodes.join(merged, "node", "left").select(
        "node", F.coalesce("supernode", F.col("node")).alias("supernode")
    )


def kgrass_merge_round(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 8,
    max_group: int = 500,
) -> dict:
    """One kGrass merge-refinement round: within-bucket agglomeration by
    reconstruction-error loss (kGS/kGrass.py:124-168 `_merge_loss`,
    82-99 `_summarize` merge loop).

    The reference repeatedly merges the sampled pair with the smallest
    error increase until k supernodes remain. The deterministic
    distributed analogue scores EVERY pair inside each MinHash bucket
    (the same buckets :func:`kgrass_summarize` uses) with the unit-
    supernode reconstruction-error increase, which under the simple-
    graph semantics (0/1 cells) reduces EXACTLY to the neighbourhood
    symmetric difference:

      loss(u, v) = |N(u)| + |N(v)| - 2*|N(u) & N(v)|

    (the algebraic form of sum_n (w_un - w_vn)^2 — the error a uniform
    superedge density pays for every cell where u and v disagree; the
    reference's `_merge_loss` encodes the same quantity through its
    4*w^2/(s*s') bookkeeping). Pure integer arithmetic, so the DuckDB
    twin replays merge decisions bit-identically. Each node matches its
    min-loss partner (tie-break min partner id) and the chosen-partner
    graph collapses per bucket via union-find — the round analogue of
    "merge min-loss pairs until K", with the bucket count bounding the
    final supernode count. Only source nodes merge (neighbourhoods are
    out-neighbour sets; the reference's symmetric self-loop/uv-edge
    corrections vanish on the bipartite projection).

    Buckets above ``max_group`` are skipped this round. Returns
    {'assign': (node, supernode), 'losses': (g, u, v, loss)}.
    """
    e0 = edges.select(src, dst).dropDuplicates([src, dst]).transform(barrier)
    sig = kgrass_summarize(e0, src, dst, k=k)["assign"]
    srcs = e0.select(F.col(src).alias("node")).distinct()
    grp = (
        sig.withColumnRenamed("supernode", "g")
        .join(srcs, "node")
    )
    ok = (
        grp.groupBy("g")
        .agg(F.count(F.lit(1)).alias("gsz"))
        .filter((F.col("gsz") >= 2) & (F.col("gsz") <= max_group))
        .select("g")
    )
    grp = grp.join(ok, "g").transform(barrier)
    deg = e0.groupBy(F.col(src).alias("node")).agg(F.count(F.lit(1)).alias("d"))
    nodes = grp.join(deg, "node")
    pairs = (
        nodes.alias("a")
        .join(
            nodes.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.node") < F.col("b.node")),
        )
        .select(
            F.col("a.g").alias("g"),
            F.col("a.node").alias("u"),
            F.col("b.node").alias("v"),
            (F.col("a.d") + F.col("b.d")).alias("dsum"),
        )
    )
    adjg = e0.select(F.col(src).alias("node"), F.col(dst).alias("nei")).join(grp, "node")
    dots = (
        adjg.alias("a")
        .join(
            adjg.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.nei") == F.col("b.nei"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    losses = (
        pairs.join(dots, ["u", "v"], "left")
        .select(
            "g",
            "u",
            "v",
            (F.col("dsum") - 2 * F.coalesce("c", F.lit(0))).alias("loss"),
        )
        .transform(barrier)
    )
    gains = losses.select("g", "u", "v", (-F.col("loss")).alias("gq"))
    assign = _match_and_collapse(gains, srcs)
    return {"assign": assign, "losses": losses}


def dpgs_summarize(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_hashes: int = 4,
    max_group: int = 500,
    quant: float = 1000.0,
    max_rounds: int = 8,
) -> dict:
    """Iterated DPGS summarization: merge rounds to a fixpoint.

    The reference's outer loop (model/DPGS/DPGS.py:49-141 `summarize`)
    keeps merging positive-MDL-gain pairs until none remain; one
    distributed `dpgs_merge_round` only collapses each node's
    best-partner component, so pairs whose gain materializes only
    AFTER earlier merges (e.g. two merged supernodes whose combined
    neighbour weights now favour merging) need further rounds. This
    driver re-applies the round on the collapsed multigraph — edge
    multiplicities add, so merged weights are exact — until a round
    scores no positive pair or ``max_rounds``.

    Only scalars cross to the driver per round (positive-pair count);
    per-round relations go through ``barrier()`` to truncate lineage.
    Returns {'assign': (node, supernode) in ORIGINAL node ids,
    'history': [{'round', 'positive_pairs'} ...]}.
    """
    cur = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    total: DataFrame | None = None
    history: list[dict] = []
    for r in range(max_rounds):
        res = dpgs_merge_round(
            cur, "src", "dst", k_hashes, max_group, quant
        )
        n_pos = res["gains"].count()
        history.append({"round": r, "positive_pairs": n_pos})
        if n_pos == 0:
            break
        assign = res["assign"].transform(barrier)
        total = (
            assign
            if total is None
            else total.alias("t")
            .join(
                assign.alias("a"),
                F.col("t.supernode") == F.col("a.node"),
            )
            .select(F.col("t.node"), F.col("a.supernode"))
            .transform(barrier)
        )
        cur = (
            cur.join(assign, cur["src"] == assign["node"])
            .select(F.col("supernode").alias("src"), "dst")
            .transform(barrier)
        )
    if total is None:
        total = edges.select(F.col(src).alias("node")).distinct().select(
            "node", F.col("node").alias("supernode")
        )
    return {"assign": total, "history": history}


def power_iteration_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    half_steps: int = 5,
    target_bits: int = 28,
) -> DataFrame:
    """Leading-singular-direction scores by UNNORMALIZED power
    iteration in pure BIGINT arithmetic — the engine-portable twin of
    :func:`power_iteration` (same A v / A^T u alternation,
    holoscopeFraudDect.py:395-626 fast-init family), trading the float
    2-norm for adaptive right-shift rescaling.

    Each half-step is one matvec x <- M y (equi-join + hash agg)
    followed by x >>= max(bit_width(max x) - target_bits, 0), which
    pins magnitudes below 2^target_bits; the next matvec then stays
    under nnz * max_w * 2^target_bits << 2^63, so BIGINT never
    overflows under ANSI mode and any SQL engine reproduces the scores
    bit-exactly (integer bit-width and >> are portable, unlike float
    log2/norms). Rankings converge to the leading direction: a uniform
    2^-k scale commutes with the linear map; floor() perturbs entries
    at <= 2^-target_bits relative resolution per step. Size
    ``target_bits <= 62 - log2(nnz * max_w)`` for the corpus —
    28 covers ~2^33 weighted edges; at a 100 TB edge count drop it
    accordingly (resolution degrades gracefully).

    Returns the src-side score vector (node, score) after an odd
    number of half-steps, starting from v0 = all-ones over dst. One
    scalar collect per half-step (the max), same iterative-plan
    discipline as the peels.
    """
    w = (F.col(weight).cast("long") if weight else F.lit(1).cast("long"))
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), w.alias("w")
    ).transform(barrier)
    x = (
        e.select(F.col("d").alias("node")).distinct()
        .withColumn("score", F.lit(1).cast("long"))
        .transform(barrier)
    )
    on_dst_side = True  # x currently spans dst nodes
    for _ in range(half_steps):
        join_key, group_key = ("d", "s") if on_dst_side else ("s", "d")
        nxt = (
            e.join(x.withColumnRenamed("node", join_key), join_key)
            .groupBy(F.col(group_key).alias("node"))
            .agg(F.sum(F.col("w") * F.col("score")).alias("score"))
        ).transform(barrier)
        mx = nxt.agg(F.max("score")).collect()[0][0] or 0
        shift = max(int(mx).bit_length() - target_bits, 0)
        if shift:
            nxt = nxt.withColumn(
                "score", F.shiftright(F.col("score"), shift)
            ).transform(barrier)
        x = nxt
        on_dst_side = not on_dst_side
    return x
