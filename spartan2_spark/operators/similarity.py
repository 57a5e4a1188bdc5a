"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small)
  query set, JVM-side zip_with/aggregate dot products, window top-k.
  The correctness baseline and the right plan when queries are few:
  one scan of the corpus, no shuffle of the corpus itself.
- ``ann_topk``: the scale path — sign-LSH (random hyperplane) bucket
  index with multi-probe; candidates only from the query's bucket
  (plus Hamming<=1 probes), then exact cosine rerank. Recall/efficiency
  trade is tunable via n_planes/probes.

Scores are computed over integer-quantized components (round(x*1000))
so dot products are exact integers -> results identical at any
parallelism and comparable bit-for-bit against an external oracle.
(Quantization noise is ~1e-4 relative — irrelevant for neighbor
ranking; pass quantize=False for raw float scores.)
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spartan2_spark.operators.barrier import barrier

__all__ = ["cosine_topk", "ann_topk", "ivf_topk", "lsh_label_purity"]


def _vec(col, quantize: bool):
    v = F.transform(col if not isinstance(col, str) else F.col(col), lambda x: x.cast("double"))
    if quantize:
        v = F.transform(v, lambda x: F.round(x * 1000))
    return v


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query. Plan: broadcast queries x scan
    corpus -> per-row dot -> window row_number <= k (tie-break by id)."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _vec(vec_col, quantize).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _vec(vec_col, quantize).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cosine", _dot("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "rank", F.round("cosine", 8).alias("cosine"))
    )


def _assign_nearest(vecs: DataFrame, cents: DataFrame, vcol: str, out: str) -> DataFrame:
    """Assign each vector to the centroid maximizing the INNER PRODUCT
    (an IVF-IP coarse quantizer — centroids are raw means, not unit
    vectors, so with strongly heterogeneous corpus norms cell shapes
    skew toward large-norm centroids; the final rerank is exact cosine
    either way). Broadcast the centroid table, argmin via one
    groupBy(min(struct))."""
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "__d", -_dot(vcol, "centroid")
    )
    keys = [c for c in vecs.columns]
    return (
        scored.groupBy(*keys)
        .agg(F.min(F.struct(F.col("__d"), F.col("centroid_id"))).alias("__m"))
        .withColumn(out, F.col("__m.centroid_id"))
        .drop("__m")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    nprobe: int = 2,
    lloyd_rounds: int = 2,
    quantize: bool = True,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into ``nlist``
    Voronoi cells around centroids, probe the ``nprobe`` nearest cells
    per query, exact cosine rerank inside.

    Centroid seeding is deterministic — the ``nlist`` corpus vectors
    with the smallest portable polynomial hash of the id — then
    ``lloyd_rounds`` distributed Lloyd iterations refine them (assign =
    broadcast-join argmin; update = posexplode + per-(cell, pos) mean —
    all JVM column ops, no Python kernels).

    At 100 TB the assignment is computed once and persisted as a layout
    (repartition by cell); per-query work touches nprobe cells only.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _vec(vec_col, quantize).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))

    from spartan2_spark.operators.text import _poly_hash

    seed_h = _poly_hash(F.col("corpus_id").cast("string"))
    # Seed = the nlist vectors with smallest hash. The frame is bounded
    # by limit(nlist), so enumerate it driver-side: numbering ≤nlist
    # collected rows beats row_number() over an unpartitioned window
    # (single-partition WindowExec, WARN noise in every bench log).
    seed_rows = (
        c.withColumn("__h", seed_h)
        .orderBy("__h", "corpus_id")
        .limit(nlist)
        .select("cv")
        .collect()
    )
    cents = corpus.sparkSession.createDataFrame(
        [(i + 1, r["cv"]) for i, r in enumerate(seed_rows)],
        schema="centroid_id int, centroid array<double>",
    ).transform(barrier)
    for _ in range(lloyd_rounds):
        assigned = _assign_nearest(c, cents, "cv", "cell")
        cents = (
            assigned.select("cell", F.posexplode("cv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy(F.col("cell").alias("centroid_id"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                    lambda s: s["mx"],
                ).alias("centroid")
            )
            .transform(barrier)
        )

    cells = _assign_nearest(c, cents, "cv", "cell")

    q = queries.select(
        F.col(id_col).alias("query_id"), _vec(vec_col, quantize).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    qscored = q.crossJoin(F.broadcast(cents)).withColumn(
        "qd", -_dot("qv", "centroid")
    )
    wq = W.partitionBy("query_id").orderBy(F.asc("qd"), F.asc("centroid_id"))
    qprobe = (
        qscored.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("centroid_id").alias("cell"))
    )

    scored = (
        cells.join(F.broadcast(qprobe), "cell")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cosine", _dot("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "rank", F.round("cosine", 8).alias("cosine"))
    )


def _bucket_expr(v, planes: np.ndarray):
    bits = []
    for p in range(len(planes)):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        bits.append(
            F.when(_dot(v, plane) >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**p)
        )
    return sum(bits[1:], bits[0])


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    probes: int = 1,
    seed: int = 42,
    quantize: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: join on LSH bucket (+ Hamming<=probes
    neighbouring buckets for the query side), exact rerank inside.

    At 100TB the corpus is hash-partitioned by bucket once (a layout,
    not a per-query shuffle) and each query touches
    ``C(n_planes, <=probes)`` buckets.

    With ``quantize=True`` the hyperplanes are quantized to integers
    too (round(p*1000)), so every bucket sign is an exact integer dot —
    bit-identical at any parallelism and reproducible by the DuckDB
    oracle twin.

    Pass ``dim`` (embedding width) explicitly at scale — the fallback
    probes the corpus with a driver-side ``first()`` action."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    if quantize:
        planes = np.round(planes * 1000)

    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _vec(vec_col, quantize).alias("cv")
    ).withColumn("cn", _norm(F.col("cv"))).withColumn(
        "bucket", _bucket_expr(F.col("cv"), planes)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _vec(vec_col, quantize).alias("qv")
    ).withColumn("qn", _norm(F.col("qv"))).withColumn(
        "qbucket", _bucket_expr(F.col("qv"), planes)
    )
    # multi-probe: query probes its own bucket + every bucket within
    # Hamming distance <= probes (all bit-subset flips up to that size)
    from itertools import combinations

    masks = [0] + [
        sum(1 << b for b in combo)
        for r in range(1, min(probes, n_planes) + 1)
        for combo in combinations(range(n_planes), r)
    ]
    probe_buckets = [F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks]
    q = q.withColumn("bucket", F.explode(F.array(*probe_buckets)))

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "corpus_id"])
        .withColumn("cosine", _dot("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "rank", F.round("cosine", 8).alias("cosine"))
    )


def lsh_label_purity(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    n_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Embedding-space quality scalar: weighted majority-label purity
    of the sign-LSH buckets. If labels cluster in embedding space,
    random-hyperplane buckets are label-pure (purity -> 1); purity near
    the label prior means the embeddings carry no label signal — the
    cheap pre-flight check before trusting ANN search or
    embedding-cosine dedup on a new embedding column.

    Uses the same portable integer hyperplanes + centi-quantized
    components as embedding_lsh_pairs' oracle mode, so every bucket
    bit is an exact integer comparison; purity is integer counts and
    one division. Two hash aggregations; nothing leaves the JVM.
    """
    planes = [
        [((2 * p + 3) * (i + 1) * 40503 + p * p * 7) % 65536 - 32768
         for i in range(dim)]
        for p in range(n_planes)
    ]
    v = _vec(vec_col, quantize=True)
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x * y), F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2 ** p))
    bucket = sum(bits[1:], bits[0])
    cnt = (
        df.select(bucket.cast("long").alias("bucket"), F.col(label_col).alias("lbl"))
        .groupBy("bucket", "lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_bucket = cnt.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("n_b"),
        F.max("c").cast("long").alias("maj"),
    )
    return per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n_b").cast("long").alias("n_vecs"),
        (F.sum("maj") / F.sum("n_b")).alias("purity"),
    )


def kmeans_fixedpoint(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10_000,
) -> DataFrame:
    """Lloyd's k-means in pure integer arithmetic — the clustering
    stage of an embedding-dedup / IVF-routing pipeline, engineered for
    cross-engine bit-exactness the way pagerank/HITS are: vectors are
    quantized to BIGINT basis points (round(v * quant) — exact, float32
    mantissas fit a double product), distances are exact integer
    squared sums, the argmin breaks distance ties on the LOWEST
    cluster id, and centroid updates are floor(sum/cnt) (explicit
    floor, not engine-dependent integer division, so negative sums
    floor identically everywhere). Seeds are the k lowest-id vectors.
    Returns the final (vec_id, cluster, dist_sq) assignment.

    Empty clusters drop out (both engines identically) — standard
    Lloyd behavior; re-seed externally if k must be preserved.

    Plan shape per round: pts x centroids equi-join ON THE DIMENSION
    (the k-fold expansion is over the exploded dim relation, so the
    shuffle is rows*k, never rows^2), two aggregates for the
    tie-broken argmin, one (cluster, dim) update aggregate; barrier()
    truncates lineage between rounds. At web scale pts is
    hash-partitioned once on vec_id and reused by every round's
    assignment join.
    """
    if k <= 0 or rounds < 1:
        raise ValueError("need k > 0 and rounds >= 1")
    pts = emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("_v").cast("double") * quant).cast("long").alias("q"),
    ).transform(barrier)
    seed_ids = (
        pts.select("vec_id").distinct().orderBy("vec_id").limit(int(k))
    )
    cent = (
        pts.join(F.broadcast(seed_ids), "vec_id")
        .select(F.col("vec_id").alias("cluster"), "dim", F.col("q").alias("c"))
        .transform(barrier)
    )

    def assign(c):
        d = (
            pts.join(c, "dim")
            .groupBy("vec_id", "cluster")
            .agg(F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("dist"))
        )
        best = d.groupBy("vec_id").agg(F.min("dist").alias("md"))
        return (
            d.join(best, "vec_id")
            .filter(F.col("dist") == F.col("md"))
            .groupBy("vec_id")
            .agg(
                F.min("cluster").alias("cluster"),
                F.min("md").cast("long").alias("dist_sq"),
            )
        )

    for _ in range(rounds):
        asg = assign(cent).transform(barrier)
        cent = (
            pts.join(asg.select("vec_id", "cluster"), "vec_id")
            .groupBy("cluster", "dim")
            .agg(
                F.floor(
                    F.sum("q").cast("double") / F.count(F.lit(1)).cast("double")
                ).cast("long").alias("c")
            )
            .transform(barrier)
        )
    return assign(cent).select("vec_id", "cluster", "dist_sq")
