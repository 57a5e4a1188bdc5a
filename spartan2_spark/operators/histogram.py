"""Histogram operators (SURVEY.md 2.4).

Reference semantics:
- 1-D equal-width histogram with last-bin clamp
  (/root/reference/spartan/tensor/tensor.py:106-109 binning rule;
  model/holoscope/edgepropertyAnalysis.py:304-320 burst histograms)
- 2-D log-binned histogram + peak-bin search + points-in-bin retrieval
  (/root/reference/spartan/util/rect_histogram.py:38-198)
- heuristic log bucketizers
  (model/eaglemine/tools/histogram_heuristic_generator.py:50-107)
- EagleMine histogram clustering (model/eaglemine/, 5260 LoC): the
  reference fits a tree of "islands" of connected non-empty histogram
  cells (its WaterLoo/tree stages grow clusters from dense cells
  outward through adjacent non-empty cells). The distributed analogue
  here is connected-component labeling of the non-empty cells under
  4-adjacency — min-label propagation, a loop of self-joins over the
  (tiny, post-aggregation) cell relation, converging in
  O(component diameter) rounds.

All single-pass groupBy aggregations; the peak search is an
orderBy/limit over the (tiny) histogram relation, with deterministic
tie-breaks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spartan2_spark.operators.barrier import barrier

__all__ = [
    "hist1d",
    "hist2d_log",
    "find_peak",
    "points_in_peak_bin",
    "log_bucketize",
    "cluster_histogram_cells",
    "smooth_open_2x2",
    "water_level_tree",
    "describe_islands",
    "stitch_islands",
    "gof_islands",
    "anderson_islands",
    "gof_accept_tree",
    "JB_CHI2_4DOF_5PCT",
    "histogram_quantile",
    "pow2_histogram",
]

# chi-square critical value, 4 dof at alpha=0.05 — the acceptance bar
# for the summed two-axis Jarque-Bera statistic (each axis ~ chi2(2))
JB_CHI2_4DOF_5PCT = 9.4877


def hist1d(
    df: DataFrame, col: str, nbins: int, weight: str | None = None
) -> DataFrame:
    """Equal-width histogram with the reference's last-bin clamp."""
    bounds = df.agg(F.min(col).alias("__mn"), F.max(col).alias("__mx"))
    b = df.crossJoin(F.broadcast(bounds))
    # constant column: min == max -> zero width; np.histogram widens the
    # range to (v-0.5, v+0.5), so the constant value lands in the MIDDLE
    # bin (floor(0.5*nbins)) of nbins bins each 1/nbins wide — reproduce
    # that by shifting the range start and shrinking the width.
    const = F.col("__mx") <= F.col("__mn")
    lo = F.when(const, F.col("__mn") - 0.5).otherwise(F.col("__mn"))
    width = F.when(const, F.lit(1.0) / F.lit(nbins)).otherwise(
        (F.col("__mx") - F.col("__mn")) / F.lit(nbins)
    )
    idx = F.least(
        F.floor((F.col(col) - lo) / width).cast("long"),
        F.lit(nbins - 1),
    )
    agg = F.sum(weight) if weight else F.count(F.lit(1))
    return (
        b.withColumn("bin_idx", idx)
        .withColumn("__lo", lo)
        .withColumn("__w", width)
        .groupBy("bin_idx")
        .agg(
            agg.alias("cnt"),
            F.first(F.col("__lo") + F.col("bin_idx") * F.col("__w")).alias(
                "bin_start"
            ),
        )
    )


def hist2d_log(
    df: DataFrame, x: str, y: str, bins_per_decade: int = 4
) -> DataFrame:
    """2-D log10-binned histogram; non-positive points dropped first
    (the reference's positivity guard, rect_histogram.py:45-56)."""
    k = bins_per_decade
    pos = df.filter((F.col(x) > 0) & (F.col(y) > 0))
    bx = F.floor(F.log10(x) * k).cast("long")
    by = F.floor(F.log10(y) * k).cast("long")
    return pos.groupBy(bx.alias("bin_x"), by.alias("bin_y")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def find_peak(hist: DataFrame) -> DataFrame:
    """Max-count bin with deterministic tie-break (count desc, bins asc)
    — rect_histogram.py:111-179 peak search collapsed to a top-1."""
    order = [F.desc("cnt")] + [F.asc(c) for c in hist.columns if c != "cnt"]
    return hist.orderBy(*order).limit(1)


def points_in_peak_bin(
    df: DataFrame, x: str, y: str, bins_per_decade: int = 4
) -> DataFrame:
    """Rows that fall in the 2-D histogram's peak bin
    (rect_histogram.py:183-198 find_peak_rect)."""
    k = bins_per_decade
    hist = hist2d_log(df, x, y, k)
    peak = find_peak(hist).select("bin_x", "bin_y")
    pos = df.filter((F.col(x) > 0) & (F.col(y) > 0))
    keyed = pos.withColumn("bin_x", F.floor(F.log10(x) * k).cast("long")).withColumn(
        "bin_y", F.floor(F.log10(y) * k).cast("long")
    )
    return keyed.join(F.broadcast(peak), ["bin_x", "bin_y"], "left_semi")


def cluster_histogram_cells(
    hist: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """EagleMine-style clustering: connected components of non-empty
    cells under 4-adjacency (|dx|+|dy| = 1), labeled by the minimum
    cell id in the component.

    ``hist`` is (bin_x, bin_y, cnt) as produced by :func:`hist2d_log`.
    Returns (bin_x, bin_y, cnt, cluster). Deterministic: the label is
    ``min(bin_x*100000 + bin_y)`` over the component, independent of
    partitioning and join order.

    The cell relation is post-aggregation (thousands of rows at most,
    regardless of input scale), so the propagation loop's self-joins
    are broadcast-sized; each round ends in barrier() to truncate
    the iterative lineage.
    """
    cid = (F.col("bin_x") * 100000 + F.col("bin_y")).alias("cid")
    cells = hist.select(cid, "bin_x", "bin_y", "cnt").transform(barrier)
    edges = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (
                F.abs(F.col("a.bin_x") - F.col("b.bin_x"))
                + F.abs(F.col("a.bin_y") - F.col("b.bin_y"))
            )
            == 1,
        )
        .select(F.col("a.cid").alias("u"), F.col("b.cid").alias("v"))
        .transform(barrier)
    )
    labels = cells.select("cid", F.col("cid").alias("cluster"))
    converged = False
    for _ in range(max_rounds):
        prop = (
            edges.join(labels.withColumnRenamed("cid", "v"), "v")
            .groupBy(F.col("u").alias("cid"))
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        new_labels = (
            labels.join(prop, "cid", "left")
            .select(
                "cid",
                F.least(
                    F.col("cluster"), F.coalesce("nbr_cluster", "cluster")
                ).alias("cluster"),
            )
            .transform(barrier)
        )
        changed = (
            new_labels.withColumnRenamed("cluster", "new_cluster")
            .join(labels, "cid")
            .filter(F.col("new_cluster") != F.col("cluster"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"cluster_histogram_cells did not converge in {max_rounds} "
            "rounds (component diameter exceeds max_rounds); raise it"
        )
    return cells.join(labels, "cid").select("bin_x", "bin_y", "cnt", "cluster")


def log_bucketize(col, n_buckets: int = 10, base: float = 10.0):
    """Heuristic log bucketizer: floor(log_base(x) * n) for x>0, else 0
    (histogram_heuristic_generator.py:50-107 family)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c > 0, F.floor(F.log(float(base), c) * n_buckets).cast("long")).otherwise(
        F.lit(0).cast("long")
    )


def smooth_open_2x2(hist: DataFrame) -> DataFrame:
    """Morphological binary opening of the non-empty-cell mask with a
    2x2 structuring element, the level-tree's smoothing step
    (model/eaglemine/core/leveltree.py:85-92 `_search_components_`
    morphology branch, `snm.binary_opening(..., np.ones((2,2)))`).

    Opening is origin-independent: a cell survives iff some fully-set
    2x2 block covers it. Expressed as equi-joins on the (tiny,
    post-aggregation) cell relation: anchors = cells whose (x+1,y),
    (x,y+1), (x+1,y+1) neighbours all exist; a cell survives iff it is
    one of the four cells covered by some anchor. Surviving cells keep
    their original counts.
    """
    c = hist.select("bin_x", "bin_y").transform(barrier)

    def shifted(dx: int, dy: int) -> DataFrame:
        return c.select(
            (F.col("bin_x") - dx).alias("bin_x"), (F.col("bin_y") - dy).alias("bin_y")
        )

    anchors = (
        c.join(shifted(1, 0), ["bin_x", "bin_y"], "left_semi")
        .join(shifted(0, 1), ["bin_x", "bin_y"], "left_semi")
        .join(shifted(1, 1), ["bin_x", "bin_y"], "left_semi")
    )
    covered = (
        anchors.select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("dx"), "bin_x", "bin_y"
        )
        .select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("dy"), "dx", "bin_x", "bin_y"
        )
        .select(
            (F.col("bin_x") + F.col("dx")).alias("bin_x"),
            (F.col("bin_y") + F.col("dy")).alias("bin_y"),
        )
        .distinct()
    )
    return hist.join(covered, ["bin_x", "bin_y"], "left_semi")


def water_level_tree(
    hist: DataFrame,
    min_hcubes: int = 4,
    smooth: bool = True,
    max_rounds: int = 96,
) -> DataFrame:
    """EagleMine water-level tree over a 2-D histogram: the hierarchy of
    density "islands" the reference's LevelTree reports
    (model/eaglemine/core/leveltree.py:155-228 `build_level_tree`,
    eaglemine_model.py level-tree stage).

    Reference semantics re-expressed with pure-integer thresholds so the
    Spark plan and the DuckDB oracle agree bit-for-bit (the reference
    sweeps float water levels over log2(count+1) cell values; level l in
    [1, 2, ...] includes exactly the cells with ``cnt >= 2**l - 1``):

    - optional 2x2 binary-opening smoothing of the cell mask
      (:func:`smooth_open_2x2`; the reference applies it inside every
      level search with identical results, so it is hoisted upfront —
      the level-emission rule below then uses smoothed cells, a
      documented divergence from the reference's use of the unsmoothed
      value set).
    - integer levels l = 1 .. while ``2**l <= max(cnt)`` (the arange
      exclusive upper bound, leveltree.py:167); a level l > 1 is emitted
      only if some cell count falls in ``[2**(l-1), 2**l - 1]`` (the
      `inter_npts` skip rule, leveltree.py:176-179) — otherwise its
      island set would duplicate the previous level's.
    - per level, connected components of alive cells under 8-adjacency
      (leveltree.py:110-121 neighbours are the full unit hypercube
      product, diagonals included), labeled by min cell id; components
      with <= ``min_hcubes`` cells are tiny blobs, dropped
      (leveltree.py:190-213).
    - parent linkage: alive sets are nested across levels, so each
      island at level l lies inside exactly one island at the previous
      emitted level — ``parent`` is that island's label (-1 at the
      first level). This resolves the reference's max-overlap argmax
      (leveltree.py:206-210) exactly.

    Returns (level, bin_x, bin_y, cnt, node, parent): one row per alive
    cell per emitted level. All joins run over the bounded
    post-aggregation cell relation (at most bins_x x bins_y rows
    regardless of input scale); the single min-label propagation loop
    handles every level at once, converging in O(max island diameter)
    rounds with two scalar actions per round.
    """
    cells = smooth_open_2x2(hist) if smooth else hist
    cells = cells.select(
        (F.col("bin_x") * 100000 + F.col("bin_y")).alias("cid"),
        "bin_x",
        "bin_y",
        "cnt",
    ).transform(barrier)
    spark = cells.sparkSession
    max_cnt = cells.agg(F.max("cnt")).first()[0]
    if max_cnt is None:
        return spark.createDataFrame(
            [], "level long, bin_x long, bin_y long, cnt long, node long, parent long"
        )
    pows = []
    l = 1
    while (1 << l) <= int(max_cnt):
        pows.append((l, (1 << l) - 1, 1 << (l - 1)))
        l += 1
    if not pows:
        # max water level is log2(max_cnt+1) <= 1: the reference's
        # arange(min_level, max_level) sweep is empty -> empty tree.
        return spark.createDataFrame(
            [], "level long, bin_x long, bin_y long, cnt long, node long, parent long"
        )
    lv = spark.createDataFrame(pows, "l long, thresh long, half long")
    # inter_npts emission rule: keep l==1, else some cnt in [2^(l-1), 2^l - 1]
    kept = lv.filter(F.col("l") == 1).unionByName(
        lv.filter(F.col("l") > 1).join(
            cells,
            (F.col("cnt") >= F.col("half")) & (F.col("cnt") <= F.col("thresh")),
            "left_semi",
        )
    )
    kept = kept.transform(barrier)
    alive = (
        kept.join(cells, F.col("cnt") >= F.col("thresh"))
        .select("l", "cid", "bin_x", "bin_y", "cnt")
        .transform(barrier)
    )
    edges = (
        alive.alias("a")
        .join(
            alive.alias("b"),
            (F.col("a.l") == F.col("b.l"))
            & (F.abs(F.col("a.bin_x") - F.col("b.bin_x")) <= 1)
            & (F.abs(F.col("a.bin_y") - F.col("b.bin_y")) <= 1)
            & (F.col("a.cid") != F.col("b.cid")),
        )
        .select(F.col("a.l").alias("l"), F.col("a.cid").alias("u"), F.col("b.cid").alias("v"))
        .transform(barrier)
    )
    labels = alive.select("l", "cid", F.col("cid").alias("node"))
    converged = False
    for _ in range(max_rounds):
        prop = (
            edges.join(
                labels.select(F.col("l"), F.col("cid").alias("v"), "node"), ["l", "v"]
            )
            .groupBy(F.col("l"), F.col("u").alias("cid"))
            .agg(F.min("node").alias("nbr_node"))
        )
        new_labels = (
            labels.join(prop, ["l", "cid"], "left")
            .select(
                "l",
                "cid",
                F.least(F.col("node"), F.coalesce("nbr_node", "node")).alias("node"),
            )
            .transform(barrier)
        )
        changed = (
            new_labels.withColumnRenamed("node", "new_node")
            .join(labels, ["l", "cid"])
            .filter(F.col("new_node") != F.col("node"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"water_level_tree did not converge in {max_rounds} rounds "
            "(island diameter exceeds max_rounds); raise it"
        )
    big = (
        labels.groupBy("l", "node")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > min_hcubes)
        .select("l", "node")
    )
    surviving = labels.join(big, ["l", "node"])
    # previous emitted level per level (over kept levels only)
    kl = kept.select("l").distinct()
    prev = (
        kl.alias("x")
        .join(kl.alias("y"), F.col("y.l") < F.col("x.l"))
        .groupBy(F.col("x.l").alias("l"))
        .agg(F.max(F.col("y.l")).alias("pl"))
    )
    parents = labels.select(
        F.col("l").alias("pl"), "cid", F.col("node").alias("parent")
    )
    out = (
        surviving.join(prev, "l", "left")
        .join(parents, ["pl", "cid"], "left")
        .select(
            F.col("l").alias("level"),
            "cid",
            "node",
            F.coalesce("parent", F.lit(-1)).alias("parent"),
        )
    )
    return out.join(cells, "cid").select(
        "level", "bin_x", "bin_y", "cnt", "node", "parent"
    )


# --- shared weighted-Gaussian cell math (describe + stitch stages) ---
# One definition of the MLE formulas and the det<=1e-12 singularity
# guard: describe_islands fits per island, stitch_islands re-fits the
# pooled pair from SUMMED raw moments — both must stay bit-identical to
# the DuckDB oracle twins, so the expressions live here exactly once.

def _cx():
    return F.col("bin_x").cast("double") + 0.5


def _cy():
    return F.col("bin_y").cast("double") + 0.5


def _w():
    return F.col("cnt").cast("double")


def _gauss_moment_aggs() -> list:
    cx, cy, w = _cx(), _cy(), _w()
    return [
        F.sum("cnt").alias("mass"),
        F.sum(w).alias("W"),
        F.sum(w * cx).alias("sx"),
        F.sum(w * cy).alias("sy"),
        F.sum(w * cx * cx).alias("sxx"),
        F.sum(w * cx * cy).alias("sxy"),
        F.sum(w * cy * cy).alias("syy"),
    ]


def _gauss_params(df: DataFrame) -> DataFrame:
    """Append (mu_x, mu_y, cov_xx, cov_xy, cov_yy) derived from the raw
    weighted moments (sx..syy, W) already on ``df``."""
    return df.select(
        *df.columns,
        (F.col("sx") / F.col("W")).alias("mu_x"),
        (F.col("sy") / F.col("W")).alias("mu_y"),
        (F.col("sxx") / F.col("W") - (F.col("sx") / F.col("W")) * (F.col("sx") / F.col("W"))).alias("cov_xx"),
        (F.col("sxy") / F.col("W") - (F.col("sx") / F.col("W")) * (F.col("sy") / F.col("W"))).alias("cov_xy"),
        (F.col("syy") / F.col("W") - (F.col("sy") / F.col("W")) * (F.col("sy") / F.col("W"))).alias("cov_yy"),
    )


def _gauss_loss(cells: DataFrame, prm: DataFrame, keys: list) -> DataFrame:
    """Weighted log-likelihood sum(cnt * logpdf(center)) per ``keys``
    group; singular covariance (det <= 1e-12) yields NULL loss."""
    det = F.col("cov_xx") * F.col("cov_yy") - F.col("cov_xy") * F.col("cov_xy")
    dx = _cx() - F.col("mu_x")
    dy = _cy() - F.col("mu_y")
    quad = (
        F.col("cov_yy") * dx * dx
        - 2.0 * F.col("cov_xy") * dx * dy
        + F.col("cov_xx") * dy * dy
    ) / det
    logpdf = -F.log(F.lit(2.0) * F.lit(math.pi)) - 0.5 * F.log(det) - 0.5 * quad
    return (
        cells.join(
            prm.select(*keys, "mu_x", "mu_y", "cov_xx", "cov_xy", "cov_yy"), keys
        )
        .withColumn("__det", det)
        .groupBy(*keys)
        .agg(
            F.sum(
                F.when(F.col("__det") > 1e-12, _w() * logpdf).otherwise(F.lit(None))
            ).alias("loss")
        )
    )


# erf rational approximation (Abramowitz & Stegun 7.1.26, |err| <=
# 1.5e-7): pure +,*,exp arithmetic so BOTH engines (Spark, DuckDB)
# evaluate the identical expression — neither ships a built-in erf on
# every version, and the twin must be value-exact under round(6).
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


# Phi's floor on both engines. 0.5*(1 - erf_abs) cancels to exactly 0
# for z below about -8.5, and Spark's log(0) is NULL (skipped by sum)
# while DuckDB's ln(0) raises. Every nonzero Phi is >= 2^-54, so the
# floor changes only Phi == 0 and leaves differences of Phi exact.
_PHI_FLOOR = 1e-300


def _std_normal_cdf(z):
    """Phi(z) = 0.5*(1 + erf(z/sqrt(2))) as a column expression, via the
    A&S 7.1.26 polynomial (same Horner order as the SQL twin), floored
    at ``_PHI_FLOOR`` so its log is finite."""
    x = F.abs(z) / math.sqrt(2.0)
    t = 1.0 / (1.0 + _ERF_P * x)
    a1, a2, a3, a4, a5 = _ERF_A
    poly = ((((a5 * t + a4) * t + a3) * t + a2) * t + a1) * t
    erf_abs = 1.0 - poly * F.exp(-x * x)
    erf = F.when(z < 0, -erf_abs).otherwise(erf_abs)
    return F.greatest(0.5 * (1.0 + erf), F.lit(_PHI_FLOOR))


def _dtm_loss(cells: DataFrame, prm: DataFrame) -> DataFrame:
    """DTM objective numerator per island: sum(cnt * ln P_cell) where
    P_cell is the axis-aligned Gaussian mass over the cell's unit box
    [bin, bin+1) (dtmnorm.py:119-135 `_single_optpara`, 'left'
    hypercube convention). Singular marginals (cov <= 1e-12) or any
    cell mass underflowing to <= 0 yield NULL loss (the reference
    accumulates NaN there)."""
    keys = ["level", "node"]
    sx = F.sqrt(F.col("cov_xx"))
    sy = F.sqrt(F.col("cov_yy"))
    px = _std_normal_cdf(
        (F.col("bin_x").cast("double") + 1.0 - F.col("mu_x")) / sx
    ) - _std_normal_cdf((F.col("bin_x").cast("double") - F.col("mu_x")) / sx)
    py = _std_normal_cdf(
        (F.col("bin_y").cast("double") + 1.0 - F.col("mu_y")) / sy
    ) - _std_normal_cdf((F.col("bin_y").cast("double") - F.col("mu_y")) / sy)
    ok = (F.col("cov_xx") > 1e-12) & (F.col("cov_yy") > 1e-12)
    p_cell = px * py
    return (
        cells.join(prm.select(*keys, "mu_x", "mu_y", "cov_xx", "cov_yy"), keys)
        .withColumn("__p", F.when(ok, p_cell))
        .groupBy(*keys)
        .agg(
            F.sum(F.when(F.col("__p") > 0, _w() * F.log("__p"))).alias("__s"),
            F.max(
                F.when(F.col("__p").isNull() | (F.col("__p") <= 0), 1).otherwise(0)
            ).alias("__bad"),
        )
        .select(
            *keys,
            F.when(F.col("__bad") == 0, F.col("__s")).alias("loss"),
        )
    )


def describe_islands(tree: DataFrame, variant: str = "gaussian") -> DataFrame:
    """EagleMine's describe stage: a count-weighted Gaussian fit per
    water-level-tree island (model/eaglemine/desc/gaussian_describe.py
    fit/`fit_single`, desc/discrete_gaussian.py:36-44 — weighted MLE
    mean + covariance of cell CENTERS (bin + 0.5), and the weighted
    log-likelihood `loss = sum(cnt * logpdf(center))`).

    ``variant`` selects the describe hypothesis family
    (desc/__init__ exposes the same choice of describe classes):

    * ``"gaussian"`` (default; the reference's DiscreteGaussian /
      GaussianDescribe point-mass-at-center estimator — gaussian_
      describe.py delegates straight to discrete_gaussian.py, so
      'discrete' is accepted as an alias): plain weighted log-pdf loss.
    * ``"truncated"`` (desc/truncated_gaussian.py:59-68 `_psi_` /
      dtmnorm.py): the density is renormalized over the island's
      hypercube bounding box [min bin, max bin + 1] per axis (the
      'left' hypercube convention), i.e. loss = sum(cnt * (logpdf -
      log Z)) with Z the Gaussian mass inside the box. The reference
      integrates the correlated bivariate normal with scipy's
      mvnormcdf; the engine uses the axis-aligned product of normal
      CDFs (documented divergence — deterministic and replayable in
      any SQL engine via the shared A&S erf polynomial). Adds a
      ``log_z`` column; Z <= 0 or a singular axis yields NULL loss.
    * ``"dtm"`` (desc/dtmnorm.py:119-135 `_single_optpara`): the full
      Discrete-Truncate-Multivariate hypothesis — each CELL contributes
      its Gaussian MASS over its own unit hypercube [bin, bin+1) (not a
      point logpdf at the center), renormalized by the island box mass
      with the reference's smoothed-normalizer floor
      ``Z = max(8e-3, boxmass)`` (dtmnorm.py:126); loss =
      sum(cnt * (ln P_cell - ln Z)). Cell and box masses use the same
      axis-aligned CDF-product divergence as ``"truncated"``. Any cell
      whose mass underflows to <= 0 NULLs the island's loss (the
      reference adds NaN there, dtmnorm.py:132). Adds ``log_z``;
      parameters stay the weighted-moment fit (the reference's
      scipy.optimize MLE refinement is the documented divergence —
      the engine evaluates the DTM objective at the moment estimate).

    ``tree`` is :func:`water_level_tree` output. Two hash aggregations
    over the bounded island relation: raw weighted moments, then a
    re-join for the per-cell log-pdf sum (identical raw-moment formulas
    in the DuckDB twin keep the doubles bit-comparable under the
    round(6) discipline). Singular covariances (det <= 1e-12, e.g.
    collinear cells — scipy's allow_singular path) yield NULL loss.

    Returns (level, node, n_cells, mass, mu_x, mu_y, cov_xx, cov_xy,
    cov_yy[, log_z], loss).
    """
    if variant in ("gaussian", "discrete"):
        truncated = dtm = False
    elif variant == "truncated":
        truncated, dtm = True, False
    elif variant == "dtm":
        truncated, dtm = False, True
    else:
        raise ValueError(f"unknown describe variant {variant!r}")
    boxed = truncated or dtm
    extra = (
        [
            F.min("bin_x").cast("double").alias("lo_x"),
            (F.max("bin_x").cast("double") + 1.0).alias("hi_x"),
            F.min("bin_y").cast("double").alias("lo_y"),
            (F.max("bin_y").cast("double") + 1.0).alias("hi_y"),
        ]
        if boxed
        else []
    )
    m = tree.groupBy("level", "node").agg(
        F.count(F.lit(1)).alias("n_cells"), *_gauss_moment_aggs(), *extra
    )
    params = _gauss_params(m).transform(barrier)
    if dtm:
        loss = _dtm_loss(tree, params)
    else:
        loss = _gauss_loss(tree, params, ["level", "node"])
    out = params.join(loss, ["level", "node"])
    if boxed:
        sx = F.sqrt(F.col("cov_xx"))
        sy = F.sqrt(F.col("cov_yy"))
        z = (
            _std_normal_cdf((F.col("hi_x") - F.col("mu_x")) / sx)
            - _std_normal_cdf((F.col("lo_x") - F.col("mu_x")) / sx)
        ) * (
            _std_normal_cdf((F.col("hi_y") - F.col("mu_y")) / sy)
            - _std_normal_cdf((F.col("lo_y") - F.col("mu_y")) / sy)
        )
        if dtm:
            # smoothed normalizer floor (dtmnorm.py:126): Z is never 0,
            # so log_z only requires non-singular marginals.
            z = F.greatest(F.lit(8.0e-3), z)
            log_z = F.when(
                (F.col("cov_xx") > 1e-12) & (F.col("cov_yy") > 1e-12), F.log(z)
            )
        else:
            log_z = F.when(
                (F.col("cov_xx") > 1e-12) & (F.col("cov_yy") > 1e-12) & (z > 0),
                F.log(z),
            )
        out = out.withColumn("log_z", log_z).withColumn(
            "loss", F.col("loss") - F.col("W") * F.col("log_z")
        )
    return out.select(
        "level",
        "node",
        "n_cells",
        "mass",
        "mu_x",
        "mu_y",
        "cov_xx",
        "cov_xy",
        "cov_yy",
        *(["log_z"] if boxed else []),
        "loss",
    )


def stitch_islands(
    tree: DataFrame,
    stitch_threshold: float = 0.2,
    gof_threshold: float | None = None,
) -> DataFrame:
    """EagleMine post-stitch (eaglemine_model.py:377-460 `post_stitch`,
    340-351 `_close_check`, 353-376 `_greedy_select`): merge same-level
    islands whose fitted Gaussians are close and whose pooled fit costs
    little likelihood.

    Engine semantics (deterministic, both-engine replayable):
    - candidates: island pairs at the SAME level; closeness is the
      reference's rule — center distance < 2 * max(1, sigma_x(u)+
      sigma_x(v), sigma_y(u)+sigma_y(v)).
    - the scipy-based hypothesis test is replaced by the likelihood-
      ratio criterion the reference's greedy selector ranks on: score =
      (loss_u + loss_v - pooled_loss) / pooled_mass, the per-point
      log-likelihood decrease of fitting one pooled Gaussian; merge
      when score <= ``stitch_threshold`` (documented divergence — a
      threshold test instead of a p-value).
    - each island matches its best partner (min score, then min partner
      id); the chosen-partner graph collapses per level via union-find
      (grouped kernel over the bounded island relation). ONE stitch
      round (the reference loops with re-fits; further rounds would
      re-fit merged clusters).
    - ``gof_threshold``: when set, a candidate pair must ALSO have its
      POOLED moments pass the Jarque-Bera normality gate (<= threshold,
      two-axis sum; NULL = degenerate axis accepts) — the reference's
      post_stitch accepts a merge only when the pooled fit passes its
      hypothesis test (eaglemine_model.py:446-457 stat_tester.apply on
      the merged cells). The gate weighs samples by log2 cell values
      (same calibration as :func:`gof_islands` and the reference's
      ``weights = log(count+1)``) so the statistic stays in a stable
      O(100) range at any mass — raw-count weighting grows linearly
      with island mass and no fixed bar discriminates shape. Default
      None keeps the likelihood-ratio-only behavior.

    ``tree`` is :func:`water_level_tree` output. Returns (level, bin_x,
    bin_y, cnt, node, stitched) — stitched = min node id of the
    island's stitched group.
    """
    import pandas as pd

    # cnt-weighted moments drive the pooled Gaussian fit and the
    # likelihood score; the OPTIONAL JB gate needs its own log2-value
    # weighted moments (gof_islands calibration — raw-count weights
    # make the statistic scale with island mass and reject every big
    # merge at the chi2 threshold)
    wl = _wlog()
    cx, cy = _cx(), _cy()
    gof_aggs = [
        F.sum(wl).alias("gW"),
        F.sum(wl * cx).alias("gsx"),
        F.sum(wl * cx * cx).alias("gsxx"),
        F.sum(wl * cy).alias("gsy"),
        F.sum(wl * cy * cy).alias("gsyy"),
    ]
    m = (
        tree.groupBy("level", "node")
        .agg(
            *_gauss_moment_aggs(),
            *_axis_moment_aggs(),
            *gof_aggs,
            F.sum(wl * cx * cx * cx).alias("gsxxx"),
            F.sum(wl * cx * cx * cx * cx).alias("gsx4"),
            F.sum(wl * cy * cy * cy).alias("gsyyy"),
            F.sum(wl * cy * cy * cy * cy).alias("gsy4"),
        )
        .transform(barrier)
    )
    params = _gauss_params(m)

    own_loss = _gauss_loss(tree, params, ["level", "node"])
    isl = params.join(own_loss, ["level", "node"]).transform(barrier)

    dist = F.sqrt(
        (F.col("a.mu_x") - F.col("b.mu_x")) * (F.col("a.mu_x") - F.col("b.mu_x"))
        + (F.col("a.mu_y") - F.col("b.mu_y")) * (F.col("a.mu_y") - F.col("b.mu_y"))
    )
    cov_dist = F.greatest(
        F.lit(1.0),
        F.sqrt(F.col("a.cov_xx")) + F.sqrt(F.col("b.cov_xx")),
        F.sqrt(F.col("a.cov_yy")) + F.sqrt(F.col("b.cov_yy")),
    )
    pairs = (
        isl.alias("a")
        .join(
            isl.alias("b"),
            (F.col("a.level") == F.col("b.level")) & (F.col("a.node") < F.col("b.node")),
        )
        .filter(dist < 2.0 * cov_dist)
        .select(
            F.col("a.level").alias("level"),
            F.col("a.node").alias("u"),
            F.col("b.node").alias("v"),
            (F.col("a.loss") + F.col("b.loss")).alias("sep_loss"),
            (F.col("a.mass") + F.col("b.mass")).alias("pmass"),
            (F.col("a.W") + F.col("b.W")).alias("W"),
            (F.col("a.sx") + F.col("b.sx")).alias("sx"),
            (F.col("a.sy") + F.col("b.sy")).alias("sy"),
            (F.col("a.sxx") + F.col("b.sxx")).alias("sxx"),
            (F.col("a.sxy") + F.col("b.sxy")).alias("sxy"),
            (F.col("a.syy") + F.col("b.syy")).alias("syy"),
            (F.col("a.sxxx") + F.col("b.sxxx")).alias("sxxx"),
            (F.col("a.sx4") + F.col("b.sx4")).alias("sx4"),
            (F.col("a.syyy") + F.col("b.syyy")).alias("syyy"),
            (F.col("a.sy4") + F.col("b.sy4")).alias("sy4"),
            *[
                (F.col(f"a.{c}") + F.col(f"b.{c}")).alias(c)
                for c in ("gW", "gsx", "gsxx", "gsy", "gsyy",
                          "gsxxx", "gsx4", "gsyyy", "gsy4")
            ],
        )
    )
    ppar = _gauss_params(pairs)
    if gof_threshold is not None:
        # pooled-fit normality gate (reference post_stitch's hypothesis
        # test on merged cells): reject the candidate pair outright when
        # the pooled Jarque-Bera statistic exceeds the threshold.
        # Weighted like gof_islands — log2-value weights, /100 rescale
        # (eaglemine_model.py:316-318) — NOT raw counts, whose JB
        # statistic grows linearly with mass and would reject every
        # large-island merge at the chi2 threshold regardless of shape.
        gmu_x = F.col("gsx") / F.col("gW")
        gmu_y = F.col("gsy") / F.col("gW")
        jb_x, m2x = _jb_axis(
            gmu_x, F.col("gsxx"), F.col("gsxxx"), F.col("gsx4"),
            F.col("gW"), 100.0,
        )
        jb_y, m2y = _jb_axis(
            gmu_y, F.col("gsyy"), F.col("gsyyy"), F.col("gsy4"),
            F.col("gW"), 100.0,
        )
        pooled_stat = F.when((m2x > 1e-12) & (m2y > 1e-12), jb_x + jb_y)
        ppar = ppar.filter(
            pooled_stat.isNull() | (pooled_stat <= F.lit(gof_threshold))
        )
    # cells of u or v only
    pcells = (
        tree.alias("t")
        .join(
            ppar.select("level", "u", "v").alias("p"),
            (F.col("t.level") == F.col("p.level"))
            & ((F.col("t.node") == F.col("p.u")) | (F.col("t.node") == F.col("p.v"))),
        )
        .select(
            F.col("t.level").alias("level"),
            "u",
            "v",
            "bin_x",
            "bin_y",
            "cnt",
        )
    )
    pooled_loss = _gauss_loss(pcells, ppar, ["level", "u", "v"]).withColumnRenamed(
        "loss", "pooled_loss"
    )
    scored = (
        ppar.select("level", "u", "v", "sep_loss", "pmass")
        .join(pooled_loss, ["level", "u", "v"])
        .withColumn(
            "score", (F.col("sep_loss") - F.col("pooled_loss")) / F.col("pmass")
        )
        .filter(F.col("score") <= F.lit(stitch_threshold))
        .select(
            "level",
            "u",
            "v",
            F.round(-F.col("score") * 1e6, 0).cast("long").alias("gq"),
        )
        .transform(barrier)
    )
    cand = scored.select("level", F.col("u").alias("node"), F.col("v").alias("partner"), "gq").unionByName(
        scored.select("level", F.col("v").alias("node"), F.col("u").alias("partner"), "gq")
    )
    from pyspark.sql.window import Window as W

    win = W.partitionBy("level", "node").orderBy(F.desc("gq"), F.asc("partner"))
    best = (
        cand.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "level",
            F.least("node", "partner").alias("cu"),
            F.greatest("node", "partner").alias("cv"),
        )
        .distinct()
    )

    # Level-scoped union-find over stitch pairs. Intentionally NOT
    # spectral._match_and_collapse: that kernel emits a full node->
    # supernode map over an all-nodes closure per group, while stitch
    # labels only pair members per level — keep the tie-break rules in
    # sync with spectral.py if either changes.
    def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
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
        members = sorted(set(pdf["cu"]) | set(pdf["cv"]))
        lvl = int(pdf["level"].iloc[0])
        return pd.DataFrame(
            {
                "level": [lvl] * len(members),
                "node": members,
                "stitched": [find(int(n)) for n in members],
            }
        )

    merged = best.groupBy("level").applyInPandas(
        _uf, "level long, node long, stitched long"
    )
    return (
        tree.join(merged, ["level", "node"], "left")
        .select(
            "level",
            "bin_x",
            "bin_y",
            "cnt",
            "node",
            F.coalesce("stitched", F.col("node")).alias("stitched"),
        )
    )


def _axis_moment_aggs(w=None) -> list:
    """1st-4th-order raw weighted axis moments (GOF statistics).

    ``w`` defaults to the cnt weight; :func:`gof_islands` passes the
    centi-quantized log2 value weight instead.
    """
    cx, cy = _cx(), _cy()
    w = _w() if w is None else w
    return [
        F.sum(w * cx * cx * cx).alias("sxxx"),
        F.sum(w * cx * cx * cx * cx).alias("sx4"),
        F.sum(w * cy * cy * cy).alias("syyy"),
        F.sum(w * cy * cy * cy * cy).alias("sy4"),
    ]


def _wlog():
    """EagleMine's value weight, centi-quantized: the reference weighs
    GOF samples by the log-transformed cell value
    (eaglemine_model.py:296-318 ``values = log(count+1)/log(base)``,
    ``weights = values``; power_base 2 to match the water levels).
    round(.*100) makes the weight an integer-valued double, so
    distributed moment sums stay order-independent (exact in IEEE
    doubles) and the DuckDB twin is value-exact; the JB prefactor
    divides the 100 back out.
    """
    return F.round(F.log2(F.col("cnt").cast("double") + 1.0) * 100.0, 0)


def _jb_axis(mu, s2, s3, s4, w, w_scale: float = 1.0):
    """Weighted Jarque-Bera statistic for one axis from raw moments
    (mu = s1/W precomputed). ``w_scale`` divides the weight sum back to
    effective-sample units (100.0 for centi-log2 weights). NULL-safe
    via the caller's m2 guard."""
    m2 = s2 / w - mu * mu
    m3 = s3 / w - 3.0 * mu * (s2 / w) + 2.0 * mu * mu * mu
    m4 = (
        s4 / w
        - 4.0 * mu * (s3 / w)
        + 6.0 * mu * mu * (s2 / w)
        - 3.0 * mu * mu * mu * mu
    )
    skew2 = (m3 * m3) / (m2 * m2 * m2)
    exk = m4 / (m2 * m2) - 3.0
    return w / w_scale / 6.0 * (skew2 + exk * exk / 4.0), m2


def gof_islands(tree: DataFrame, threshold: float = JB_CHI2_4DOF_5PCT) -> DataFrame:
    """Per-island goodness-of-fit statistic for the Gaussian describe.

    The reference gates island acceptance on a truncated-normal
    Anderson-Darling test with Monte-Carlo p-values
    (model/eaglemine/desc/truncate_norm_gof.py:42-134 AD statistics,
    eaglemine_model.py:296-336 accept/descend BFS). Monte-Carlo
    simulation per island is driver-hostile and non-deterministic, so
    the engine re-expresses the acceptance rule with the moment-based
    Jarque-Bera normality statistic per axis (log2-value-weighted, over
    cell centers): JB = W/6 * (skew^2 + excess_kurtosis^2 / 4), summed
    over the two axes, accepted when <= chi-square(4 dof) critical
    value — raw-moment arithmetic only, value-exact against a DuckDB
    twin (documented divergence: JB replaces AD + simulation; the
    decision structure — accept or descend — is the reference's).

    Degenerate axes (variance ~ 0, e.g. a single row/column of cells)
    yield NULL gof_stat and accept by convention (a point mass has
    nothing to refine into).

    Weights are the reference's log-transformed cell values
    (:func:`_wlog`), NOT raw counts — the reference passes
    ``weights = values`` into its island hypothesis test
    (eaglemine_model.py:316-318), which keeps the effective sample
    size at log scale so the test discriminates shape rather than
    rejecting every massive island.

    Returns (level, node, parent, n_cells, mass, gof_stat, accepted).
    """
    w = _wlog()
    cx, cy = _cx(), _cy()
    m = tree.groupBy("level", "node").agg(
        F.min("parent").alias("parent"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cnt").alias("mass"),
        F.sum(w).alias("W"),
        F.sum(w * cx).alias("sx"),
        F.sum(w * cx * cx).alias("sxx"),
        F.sum(w * cy).alias("sy"),
        F.sum(w * cy * cy).alias("syy"),
        *_axis_moment_aggs(w),
    )
    mu = m.select(
        "level",
        "node",
        "parent",
        "n_cells",
        "mass",
        "W",
        "sxx",
        "sxxx",
        "sx4",
        "syy",
        "syyy",
        "sy4",
        (F.col("sx") / F.col("W")).alias("mu_x"),
        (F.col("sy") / F.col("W")).alias("mu_y"),
    )
    jb_x, m2x = _jb_axis(
        F.col("mu_x"), F.col("sxx"), F.col("sxxx"), F.col("sx4"), F.col("W"), 100.0
    )
    jb_y, m2y = _jb_axis(
        F.col("mu_y"), F.col("syy"), F.col("syyy"), F.col("sy4"), F.col("W"), 100.0
    )
    stat = F.when((m2x > 1e-12) & (m2y > 1e-12), jb_x + jb_y)
    return mu.select(
        "level",
        "node",
        "parent",
        "n_cells",
        "mass",
        stat.alias("gof_stat"),
        F.when(stat.isNull(), F.lit(True))
        .otherwise(stat <= F.lit(threshold))
        .alias("accepted"),
    )


# Anderson-Darling critical values for the normal family with estimated
# parameters (scipy.stats.anderson `_Avals_norm`), significance levels
# 15 / 10 / 5 / 2.5 / 1 % — strictness 0..4 indexes them, 4 = strictest
AD_CRIT_NORM = (0.576, 0.656, 0.787, 0.918, 1.092)


def anderson_islands(tree: DataFrame, strictness: int = 4) -> DataFrame:
    """EagleMine's Anderson-Darling island normality check
    (desc/statistic_hypothesis_test.py:45-80 ``_gaussian_anderson_`` /
    ``_gaussian_check``): per water-level-tree island, project the cell
    sample onto the fitted covariance's eigen-axes, standardize each
    projection, and run the A-D normality test per axis; the island is
    ``accepted`` iff EVERY axis passes at the chosen ``strictness``
    (0..4 indexing the 15/10/5/2.5/1% critical values, reference
    default 4 = very strict) — completing the desc/ hypothesis family
    next to the JB-based :func:`gof_islands`.

    Reference semantics reproduced, re-expressed without materializing
    the expanded sample:

    * weights: the reference fits desc parameters with ``values =
      log2(count+1)`` and expands each cell ``ceil(values)`` times
      before testing (eaglemine_model.py:296-318 + ``_expand_``). Here
      the covariance uses the same centi-quantized log2 weights as
      :func:`gof_islands` (:func:`_wlog`) and the expansion multiplicity
      is ``c = ceil(wlog/100)`` — an integer per cell, never a
      materialized row explosion;
    * eigen-axes: closed-form 2x2 eigenvectors ``(b, lambda - a)``
      ordered by eigenvalue descending (|cov_xy| <= 1e-12 falls back to
      the aligned axes, larger-variance first) — deterministic where
      numpy's ``eig`` order is not; the reference's projection
      ``x.v/(v.v)`` is kept verbatim (its scale cancels in the
      standardization, as does the reference's +min_float shift);
    * standardization: population mean/std over the expanded
      multiplicities (sklearn ``scale`` ddof=0); a zero-variance axis
      standardizes to all-zeros exactly like sklearn's guard;
    * the A-D statistic over the expanded sorted sample
      ``A^2 = -n - (1/n) sum_i (2i-1)(ln Phi(z_i) + ln Phi(-z_{n+1-i}))``
      collapses over equal-value groups to exact closed-form
      coefficients: a group with multiplicity ``c`` ending at cumulative
      position ``e`` contributes ``c(2e-c) ln Phi(z) +
      c(2(n-e)+c) ln Phi(-z)`` — one window cumsum per (island, axis),
      no expansion;
    * decision: ``A^2 <= round(crit / (1 + 4/n - 25/n^2), 3)`` — the
      same size-adjusted, 3-decimal-rounded critical scipy's
      ``anderson`` returns.

    Phi is the shared A&S 7.1.26 polynomial (:func:`_std_normal_cdf`),
    so the DuckDB twin evaluates the identical doubles; A^2 is a
    multi-op float chain and follows the round(6) emission discipline.

    Plan shape: all relations are island- or cell-sized (bounded by the
    histogram, not the corpus): one moment aggregate, a 2-row axis
    explode, one cell x axis join, one window cumsum partitioned by
    (island, axis), one final aggregate.

    Returns (level, node, mass, n, a2_1, a2_2, crit, accepted) — a2_1
    the major (larger-eigenvalue) axis.
    """
    if not 0 <= int(strictness) <= 4:
        raise ValueError("strictness must be in 0..4 (reference contract)")
    keys = ["level", "node"]
    wl = _wlog()
    cx, cy = _cx(), _cy()
    m = tree.groupBy(*keys).agg(
        F.sum("cnt").alias("mass"),
        F.sum(wl).alias("W"),
        F.sum(wl * cx).alias("sx"),
        F.sum(wl * cy).alias("sy"),
        F.sum(wl * cx * cx).alias("sxx"),
        F.sum(wl * cx * cy).alias("sxy"),
        F.sum(wl * cy * cy).alias("syy"),
    )
    params = _gauss_params(m)
    a, b, c = F.col("cov_xx"), F.col("cov_xy"), F.col("cov_yy")
    disc = F.sqrt((a - c) * (a - c) + 4.0 * b * b)
    l1 = ((a + c) + disc) / 2.0
    l2 = ((a + c) - disc) / 2.0
    aligned = F.abs(b) <= F.lit(1e-12)

    def _axis(vx, vy):
        return F.struct(vx.alias("vx"), vy.alias("vy"))

    ax1 = F.when(
        aligned,
        F.when(a >= c, _axis(F.lit(1.0), F.lit(0.0))).otherwise(
            _axis(F.lit(0.0), F.lit(1.0))
        ),
    ).otherwise(_axis(b, l1 - a))
    ax2 = F.when(
        aligned,
        F.when(a >= c, _axis(F.lit(0.0), F.lit(1.0))).otherwise(
            _axis(F.lit(1.0), F.lit(0.0))
        ),
    ).otherwise(_axis(b, l2 - a))
    axes = params.select(
        *keys, "mass", F.posexplode(F.array(ax1, ax2))
    ).select(
        *keys,
        "mass",
        (F.col("pos") + 1).cast("int").alias("axis"),
        F.col("col.vx").alias("vx"),
        F.col("col.vy").alias("vy"),
    ).transform(barrier)
    cells = tree.select(
        *keys,
        cx.alias("cx"),
        cy.alias("cy"),
        F.ceil(wl / 100.0).cast("long").alias("c"),
    )
    proj = cells.join(axes, keys).select(
        *keys,
        "axis",
        "c",
        (
            (F.col("cx") * F.col("vx") + F.col("cy") * F.col("vy"))
            / (F.col("vx") * F.col("vx") + F.col("vy") * F.col("vy"))
        ).alias("p"),
    )
    grp = proj.groupBy(*keys, "axis", "p").agg(F.sum("c").alias("c"))
    st = grp.groupBy(*keys, "axis").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("p")).alias("sp"),
        F.sum(F.col("c") * F.col("p") * F.col("p")).alias("spp"),
    )
    mean = F.col("sp") / F.col("n")
    var = F.col("spp") / F.col("n") - mean * mean
    zed = grp.join(st, [*keys, "axis"]).select(
        *keys,
        "axis",
        "p",
        "c",
        "n",
        F.when(var > 0, (F.col("p") - mean) / F.sqrt(var))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    w = (
        W.partitionBy(*keys, "axis")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    zc = zed.withColumn("e", F.sum("c").over(w))
    cD, eD, nD = (
        F.col("c").cast("double"),
        F.col("e").cast("double"),
        F.col("n").cast("double"),
    )
    term = cD * (2.0 * eD - cD) * F.log(_std_normal_cdf(F.col("z"))) + cD * (
        2.0 * (nD - eD) + cD
    ) * F.log(_std_normal_cdf(-F.col("z")))
    per_axis = zc.groupBy(*keys, "axis", "n").agg(F.sum(term).alias("s"))
    crit = F.round(
        F.lit(float(AD_CRIT_NORM[int(strictness)]))
        / (1.0 + 4.0 / nD - 25.0 / (nD * nD)),
        3,
    )
    scored = per_axis.select(
        *keys,
        "axis",
        "n",
        (-nD - F.col("s") / nD).alias("a2"),
        crit.alias("crit"),
    )
    out = scored.groupBy(*keys).agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("axis") == 1, F.col("a2"))).alias("a2_1"),
        F.max(F.when(F.col("axis") == 2, F.col("a2"))).alias("a2_2"),
        F.max("crit").alias("crit"),
        F.min((F.col("a2") <= F.col("crit")).cast("int")).alias("__ok"),
    )
    mass = m.select(*keys, "mass")
    return out.join(mass, keys).select(
        *keys,
        "mass",
        "n",
        "a2_1",
        "a2_2",
        "crit",
        (F.col("__ok") == 1).alias("accepted"),
    )


def gof_accept_tree(
    tree: DataFrame, threshold: float = JB_CHI2_4DOF_5PCT
) -> DataFrame:
    """EagleMine's accept-or-descend BFS over the water-level tree
    (eaglemine_model.py:280-336): visit roots; an island whose fit
    passes the GOF test is SELECTED and its subtree pruned; a rejected
    island descends to its children; a rejected leaf is pseudo-accepted
    (selected). Islands never visited (an ancestor was accepted) are
    reported with visited = selected = false.

    The per-island statistics aggregate distributed
    (:func:`gof_islands`); the BFS itself runs driver-side over the
    bounded island relation (one row per island — metadata scale, the
    same split as the reference's Python BFS over tree nodes).

    Returns (level, node, mass, gof_stat, accepted, visited, selected).
    """
    st = gof_islands(tree, threshold).transform(barrier)
    rows = st.select("level", "node", "parent", "accepted").collect()
    levels = sorted({r["level"] for r in rows})
    prev_of = {levels[i + 1]: l for i, l in enumerate(levels[:-1])}
    children: dict = {}
    for r in rows:
        prev = prev_of.get(r["level"])
        if prev is not None:
            # parent linkage points at the PREVIOUS emitted level
            children.setdefault((prev, r["parent"]), []).append(
                (r["level"], r["node"])
            )
    acc = {(r["level"], r["node"]): bool(r["accepted"]) for r in rows}
    roots = [(levels[0], r["node"]) for r in rows if r["level"] == levels[0]]
    visited, selected = set(), set()
    queue = list(roots)
    while queue:
        key = queue.pop(0)
        visited.add(key)
        kids = children.get(key, [])
        if acc[key] or not kids:
            selected.add(key)  # accept, or pseudo-accept a leaf
        else:
            queue.extend(kids)
    spark = tree.sparkSession
    flags = spark.createDataFrame(
        [
            (lv, nd, (lv, nd) in visited, (lv, nd) in selected)
            for (lv, nd) in ((r["level"], r["node"]) for r in rows)
        ],
        "level long, node long, visited boolean, selected boolean",
    )
    return st.join(flags, ["level", "node"]).select(
        "level", "node", "mass", "gof_stat", "accepted", "visited", "selected"
    )


def histogram_quantile(
    hist: DataFrame,
    q_num: int = 9,
    q_den: int = 10,
    key_col: str = "key",
    lo_col: str = "lo",
    hi_col: str = "hi",
    cnt_col: str = "cnt",
) -> DataFrame:
    """PromQL-style ``histogram_quantile(q, ...)`` over pre-bucketed
    counts: per key, walk the buckets in ``lo`` order, find the first
    bucket whose cumulative count reaches q * total, and linearly
    interpolate within it — quantiles served FROM the aggregated tier
    (the sparse value histogram the rollup ladder already stores)
    without touching raw points. Requires 0 < q_num/q_den <= 1.

    Exactness: the selection predicate is kept in INTEGERS —
    ``q_den * cum >= q_num * total`` — so which bucket wins never
    depends on float rounding; only the closing interpolation
    ``lo + (hi - lo) * (q_num*total - q_den*cum_before) / (q_den*cnt)``
    performs IEEE ops, each on exact sub-2^53 integers and in a fixed
    order, hence bit-identical cross-engine.

    Plan shape: two window passes over the per-key bucket list (bucket
    count per key is fixed by the binning, not by data volume) + one
    filter; a single shuffle on the key.
    """
    if not (0 < q_num <= q_den):
        raise ValueError("need 0 < q_num/q_den <= 1")
    w_ord = W.partitionBy(key_col).orderBy(lo_col)
    w_all = W.partitionBy(key_col)
    c = (
        hist.withColumn(
            "__cum",
            F.sum(cnt_col).over(w_ord.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn("__total", F.sum(cnt_col).over(w_all))
        .filter(F.col("__total") > 0)
    )
    hit = c.filter(
        F.lit(q_den) * F.col("__cum") >= F.lit(q_num) * F.col("__total")
    ).withColumn("__rn", F.row_number().over(w_ord))
    sel = hit.filter(F.col("__rn") == 1)
    tn = F.lit(q_num) * F.col("__total")
    cum_before = F.col("__cum") - F.col(cnt_col)
    frac = (tn - F.lit(q_den) * cum_before).cast("double") / (
        F.lit(q_den) * F.col(cnt_col)
    ).cast("double")
    return sel.select(
        F.col(key_col).alias("key"),
        F.col("__total").cast("long").alias("total"),
        F.col(lo_col).alias("bucket_lo"),
        F.col(hi_col).alias("bucket_hi"),
        (
            F.col(lo_col)
            + (F.col(hi_col) - F.col(lo_col)) * frac
        ).alias("quantile"),
    )


def pow2_histogram(
    df: DataFrame,
    key_col: str = "key",
    value_col: str = "v",
) -> DataFrame:
    """DDSketch/HdrHistogram-style power-of-two bucket histogram over
    NON-NEGATIVE integer values (latency micros, byte sizes — quantize
    upstream with ``rollup.bin_col``): bucket ``b`` holds values in
    ``[2^(b-1), 2^b - 1]`` (``b = 0`` holds exactly 0), so per-key
    state is <= 64 buckets REGARDLESS of value range and a served
    quantile's relative error is bounded by the bucket ratio (gamma=2;
    long-tail p99s come out within 2x, which is what capacity alarms
    need — the fixed-bin ``hist1d`` can't bound relative error on a
    heavy tail without data-dependent bounds).

    Feed the result straight into :func:`histogram_quantile` — the
    output schema is its input contract (key, lo, hi, cnt).

    Exactness: the bucket index is ``length(bin(v))`` — string length
    of the minimal binary rendering, identical in Spark and DuckDB
    (same discipline as ``compaction.dict_encoding_plan``); bounds are
    integer shifts. Never a float ``log2`` whose last-ulp rounding
    could flip a power-of-two boundary value into the wrong bucket.

    Plan shape: one hash aggregate on (key, bucket) with map-side
    combine — the shuffle carries <= 64 rows per key. Negative values
    are a contract violation and raise via an ANSI-checked filter
    count upstream of the caller; here they are excluded explicitly so
    the sketch stays well-defined.
    """
    b = F.when(F.col("__v") == 0, F.lit(0)).otherwise(
        F.length(F.bin(F.col("__v")))
    )
    return (
        df.select(
            F.col(key_col).alias("key"),
            F.col(value_col).cast("long").alias("__v"),
        )
        .filter(F.col("__v") >= 0)
        .withColumn("bucket", b.cast("int"))
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "key",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.expr("shiftleft(1L, bucket - 1)"))
            .cast("long")
            .alias("lo"),
            # hi = 2^b - 1 computed as lo + (lo - 1): shiftleft(1L, 64)
            # would wrap and 2^63 - 1 via shiftleft(1L, 63) - 1 trips
            # ANSI overflow at bucket 63 (the top long bucket).
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "shiftleft(1L, bucket - 1) + (shiftleft(1L, bucket - 1)"
                    " - 1L)"
                )
            )
            .cast("long")
            .alias("hi"),
            "cnt",
        )
    )


def sliding_hist_quantile(
    df: DataFrame,
    key_col: str = "key",
    time_col: str = "ts",
    value_col: str = "v",
    window_buckets: int = 24,
    bucket_s: int = 3600,
    q_num: int = 9,
    q_den: int = 10,
) -> DataFrame:
    """Trailing-window quantile served FROM MERGEABLE SKETCH STATE —
    the dashboard's "p90 over the last 24 h, updated hourly" without
    ever re-reading raw points: the per-(key, hour) power-of-two
    histogram (:func:`pow2_histogram` binning) is range-joined over
    the trailing ``window_buckets`` buckets (gap-correct: the join is
    on exact epoch bounds, so a silent empty hour contributes nothing
    instead of stretching the window), bucket counts sum (the
    histogram merge IS addition), and the PromQL-style quantile walk
    runs per (key, window-end).

    Exactness: bucket index is ``length(bin(v))`` (never float log2);
    merge is BIGINT addition; the selection predicate is the integer
    cross-multiplication ``q_den*cum >= q_num*total``; only the
    closing interpolation is IEEE, fixed order — bit-identical
    cross-engine (:func:`histogram_quantile` discipline).

    Plan shape: ONE (key, hour, bucket) hash aggregate (<= 64 rows per
    key-hour), a bounded range join (x window_buckets expansion over
    SKETCH rows, never raw rows), one merge aggregate, two window
    passes partitioned by (key, window-end). Raw data is touched once.
    """
    if not (0 < q_num <= q_den):
        raise ValueError("need 0 < q_num/q_den <= 1")
    if window_buckets < 1 or bucket_s <= 0:
        raise ValueError("need window_buckets >= 1 and bucket_s > 0")
    v = F.col(value_col).cast("long")
    b = F.when(F.col("__v") == 0, F.lit(0)).otherwise(
        F.length(F.bin(F.col("__v")))
    )
    hist = (
        df.select(
            F.col(key_col).alias("key"),
            # epoch-floored bucket start: exact for any bucket_s (the
            # calendar date_trunc would silently disagree with a
            # non-hour bucket_s)
            (
                F.floor(
                    F.unix_timestamp(F.col(time_col)).cast("double")
                    / F.lit(float(bucket_s))
                ).cast("long")
                * F.lit(int(bucket_s))
            ).alias("t_s"),
            v.alias("__v"),
        )
        .filter(F.col("__v") >= 0)
        .withColumn("bucket", b.cast("int"))
        .groupBy("key", "t_s", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # the window-end axis and the join source BOTH read the sketch:
        # without a barrier Spark re-computes the whole raw aggregation
        # per consumer (two raw scans — fatal at 10^12 rows); the
        # checkpointed state is sketch-sized (<= 64 rows per key-hour)
        .transform(barrier)
    )
    span = (int(window_buckets) - 1) * int(bucket_s)
    ends = hist.select("key", "t_s").distinct()
    src = hist.select(
        F.col("key"), F.col("t_s").alias("s_s"), "bucket", "cnt"
    )
    merged = (
        ends.join(src, on="key")
        .where(
            (F.col("s_s") >= F.col("t_s") - F.lit(span))
            & (F.col("s_s") <= F.col("t_s"))
        )
        .groupBy("key", "t_s", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .select(
            "key",
            "t_s",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.expr("shiftleft(1L, bucket - 1)"))
            .cast("long")
            .alias("lo"),
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "shiftleft(1L, bucket - 1) + (shiftleft(1L, bucket - 1)"
                    " - 1L)"
                )
            )
            .cast("long")
            .alias("hi"),
            "cnt",
        )
    )
    w_ord = W.partitionBy("key", "t_s").orderBy("lo")
    w_all = W.partitionBy("key", "t_s")
    c = merged.withColumn(
        "__cum", F.sum("cnt").over(w_ord.rowsBetween(W.unboundedPreceding, 0))
    ).withColumn("__total", F.sum("cnt").over(w_all))
    hit = c.filter(
        F.lit(q_den) * F.col("__cum") >= F.lit(q_num) * F.col("__total")
    ).withColumn("__rn", F.row_number().over(w_ord))
    sel = hit.filter(F.col("__rn") == 1)
    tn = F.lit(q_num) * F.col("__total")
    cum_before = F.col("__cum") - F.col("cnt")
    frac = (tn - F.lit(q_den) * cum_before).cast("double") / (
        F.lit(q_den) * F.col("cnt")
    ).cast("double")
    return sel.select(
        "key",
        "t_s",
        F.col("__total").cast("long").alias("total"),
        F.col("lo").alias("bucket_lo"),
        F.col("hi").alias("bucket_hi"),
        (F.col("lo") + (F.col("hi") - F.col("lo")) * frac).alias("quantile"),
    )
