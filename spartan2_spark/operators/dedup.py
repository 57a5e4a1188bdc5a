"""Deduplication operators for training-data pipelines.

Five dedup families, all engineered for the 100TB shape (candidate
generation is always a bucket equi-join — never an all-pairs cross):

- exact:     content-hash groupBy (one shuffle on the digest)
- minhash:   char-shingles -> k minhashes -> banded LSH buckets ->
             candidate pairs -> exact shingle-Jaccard verify
- simhash:   64-bit sign fingerprint of token hashes -> (max_hamming+1)-
             band blocking (pigeonhole-lossless at any radius) ->
             Hamming verify via bit_count(xor)
- ngram:     exact word-n-gram Jaccard on LSH candidates
- embedding: sign-LSH (random hyperplanes) buckets -> exact cosine

Everything is built-in column expressions + higher-order array
functions, except minhash's signature and verify kernels (one
vectorized ``mapInArrow`` pass each); no row-at-a-time Python UDFs
anywhere. Verification joins are self-joins on bucket keys; at scale
the bucket key is the shuffle key and skewed mega-buckets are bounded
by ``max_bucket`` (drop pathological buckets, standard LSH practice) —
default-on for minhash, opt-in for simhash/embedding where dropping a
bucket would break the lossless-recall guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spartan2_spark.operators.barrier import barrier

__all__ = [
    "exact_dedup",
    "char_shingles_expr",
    "word_ngrams_expr",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_keep_best",
    "dup_rate_by_source",
    "ngram_jaccard_join",
    "ngram_containment_join",
    "word_ngrams_from_tokens",
    "simhash64",
    "simhash_pairs",
    "embedding_lsh_pairs",
    "edit_distance_pairs",
    "paragraph_dedup",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical row per exact content duplicate group (min id wins)."""
    return df.groupBy(F.md5(F.col(text_col)).alias("content_md5")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(id_col).alias("canonical_doc"),
    )


def char_shingles_expr(text_col: str, n: int = 5):
    """Distinct character n-gram shingles, JVM-side: substring over a
    generated position sequence (higher-order transform, no UDF)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
        f" i -> substring({text_col}, i, {n})))"
    )


def word_ngrams_expr(text_col: str, n: int = 3):
    """Distinct word n-grams (space-tokenized), JVM-side.

    Prefer word_ngrams_from_tokens over this: the inline split() here
    is re-evaluated by the transform lambda PER GRAM — O(tokens^2)
    splitting per doc (measured 8x on the sf0.1 inverted-index joins).
    Kept for expression-level call sites that cannot bind a column.
    """
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(split(trim({text_col}), ' +')) - {n - 1}, 1)),"
        f" i -> array_join(slice(split(trim({text_col}), ' +'), i, {n}), ' ')))"
    )


def word_ngrams_from_tokens(tok_col: str, n: int = 3):
    """Distinct word n-grams from a BOUND token-array column (select
    ``split(trim(text), ' +')`` into a column first). Identical output
    to word_ngrams_expr — including the short-doc convention of one
    whole-text gram when size < n — but each gram slices the
    materialized array instead of re-splitting the text."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({tok_col}) - {n - 1}, 1)),"
        f" i -> array_join(slice({tok_col}, i, {n}), ' ')))"
    )


_POLY_P = 2147483647  # 2^31 - 1

# minhash verify: the doc->hash-set map is broadcast up to this many
# estimated bytes; past it the candidate pairs shuffle-join the sets
_VERIFY_BROADCAST_BYTES = 256 << 20


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    k: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by MinHash + banded LSH + exact verify.

    bands of r = k/bands rows each: P(candidate) = 1-(1-J^r)^bands.
    Returns (id_a, id_b, jaccard) with id_a < id_b. Every shingle is
    hashed up front with the portable polynomial family (slot j:
    ``min(((2j+1)*poly(s) + j^2 + 7) mod (2^31-1))``), and the verify
    uses hash-resolution Jaccard on the hashed sets — a within-doc
    collision (p ~ |sh|^2/2^32 per doc) perturbs the score identically
    on every engine and at every cluster size, so the DuckDB oracle
    twin reproduces every value, cross-parallelism determinism holds,
    the pair-heavy verify compares longs instead of strings (~4x), and
    the shingle strings are never persisted or shuffled at all.

    The shingle-hash set and all k signature slots come from ONE
    ``mapInArrow`` numpy pass (functions/minhash_arrow.py). The same
    values as nested higher-order-function expressions run on
    Catalyst's interpreted path, >10x slower on the signature stage at
    sf0.1; a slot-level parity test holds the kernel to them.

    Scale envelope of the verify stage: under the
    ``_VERIFY_BROADCAST_BYTES`` (256 MiB) hash-set budget the doc->set
    map is broadcast and pairs ship as bare ids; past it, the shuffle
    join's volume is sum over candidate pairs of both docs' set bytes —
    measured 58+ GB for 820k x ~1.1 KB docs with 410k planted near-dup
    pairs. That volume is inherent to exact per-pair verification; the
    knobs that bound it are band precision (bands/r vs the threshold),
    max_bucket, and verifying per corpus PARTITION (dedup within
    url-domain or crawl-snapshot shards) rather than globally.
    """
    if k % bands:
        raise ValueError(
            f"bands={bands} must divide k={k}: trailing signature slots "
            "would be silently ignored and the documented "
            "P(candidate)=1-(1-J^r)^bands would not hold"
        )
    r = k // bands
    # Hash every shingle to a LONG immediately and materialize ONLY
    # (id, hv, sig): shingle strings are never persisted, shuffled, or
    # re-built. The checkpoint stores ~8 B/shingle (partition-local,
    # spillable), and every later stage — the band keys and the
    # candidate verify — reads the materialized attributes (an
    # un-checkpointed expression would be RE-COMPUTED per consumer:
    # measured 10x of the whole join before this structure).
    from spartan2_spark.functions.minhash_arrow import minhash_batches

    id_type = df.schema[id_col].dataType.simpleString()

    def _kernel(batches):
        return minhash_batches(batches, n=shingle_n, k=k)

    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .mapInArrow(
            _kernel, schema=f"id {id_type}, hv array<bigint>, sig array<bigint>"
        )
        .transform(barrier)
    )

    def band_key(b):
        return F.concat_ws(
            ",", *[F.element_at("sig", b * r + i + 1) for i in range(r)]
        )

    # Shuffle diet: band rows carry ONLY (id, band, bh) through the
    # bucket self-join; the hashed shingle sets are re-joined on id for
    # the (candidate pairs only) verify stage.
    banded = sh.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    # Candidate generation, two-phase for web scale:
    #   1) per-bucket COUNT (partial-aggregatable — a mega-bucket ships
    #      counts, not members) keeps only 2 <= n <= max_bucket: drops
    #      pathological buckets (LSH standard practice) AND singleton
    #      buckets, which are the vast majority, BEFORE any member rows
    #      move;
    #   2) one groupBy collect_list over the surviving members emits
    #      each bucket's sorted id list, and the i<j pairs come from a
    #      nested-transform expansion — one member shuffle total,
    #      versus the two of a bucket self-join (measured 4.5s -> 2.0s
    #      on the sf0.1 band/bucket/candidate stages). List size is
    #      bounded by max_bucket by construction.
    sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n"))
    ok = sizes.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket)).select(
        "band", "bh"
    )
    members = banded.join(ok, ["band", "bh"])
    buckets = members.groupBy("band", "bh").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    # Verify shape: every doc's hashed shingle array would otherwise be
    # DUPLICATED into each of its candidate pairs and shuffled (hundreds
    # of copies per doc on a near-dup-heavy corpus — measured ~50% of
    # the operator at sf0.1). Broadcasting the doc->hashes side ships
    # each array once per executor instead, guarded by an
    # estimated-bytes cap; past it (true web scale) the shuffle join
    # stands, with max_bucket bounding pair counts.
    n_elems = sh.agg(F.sum(F.size("hv"))).collect()[0][0] or 0
    if n_elems * 8 <= _VERIFY_BROADCAST_BYTES:
        # Vectorized expand+verify: the doc->sorted-hash-set map is
        # broadcast ONCE and ONE mapInArrow pass over the bucket
        # id-lists expands each bucket's i<j pairs and scores them with
        # a numpy searchsorted merge (~2 us/pair).
        # This removes three interpreted/shuffle stages at once: the
        # flatten(transform(...)) pair expansion (no codegen for
        # higher-order lambdas), the pre-verify dropDuplicates of every
        # raw candidate, and the pair-side array_intersect join —
        # dedup happens after the threshold filter on the far smaller
        # survivor set (duplicate pairs score identically). Jaccard
        # stays a JVM double division over the returned integers,
        # bit-identical to the join path. Measured 14.5s -> ~5s warm on
        # the sf0.1 gate query (5k docs -> 1.05M candidates).
        import numpy as np

        from spartan2_spark.functions.minhash_arrow import (
            bucket_pairs_verify_batches,
        )

        pdf = sh.select("id", "hv").toPandas()
        hv_map = {
            i: np.sort(np.asarray(h, dtype=np.int64))
            for i, h in zip(pdf["id"], pdf["hv"])
        }
        bc = df.sparkSession.sparkContext.broadcast(hv_map)

        def _expand_verify(batches):
            return bucket_pairs_verify_batches(batches, bc.value)

        # The bucket relation is tiny in ROWS (one per bucket) so AQE
        # coalesces it to a single partition — but the kernel's work is
        # QUADRATIC in bucket size (sum of n_i^2 pair scorings), which
        # would then run serially in one task. Round-robin repartition
        # by the session's parallelism: the shuffled rows are just id
        # lists (bounded by max_bucket), the rebalanced work is the
        # whole point. Measured 10.8s -> 0.9s on the sf0.1 verify stage.
        par = df.sparkSession.sparkContext.defaultParallelism
        verified = buckets.select("ids").repartition(par).mapInArrow(
            _expand_verify,
            schema=(
                f"id_a {id_type}, id_b {id_type}, inter bigint, "
                "nv_a bigint, nv_b bigint"
            ),
        )
        jac = F.col("inter") / (
            F.col("nv_a") + F.col("nv_b") - F.col("inter")
        )
        return (
            verified.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", F.round("jaccard", 8).alias("jaccard"))
            .dropDuplicates(["id_a", "id_b"])
        )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # |A u B| = |A| + |B| - |A n B| with per-doc distinct sizes computed
    # ONCE (5k docs) instead of array_union per candidate pair (1M+
    # pairs): halves the pair-side set-op work — measured 6.8s -> 3.5s
    # on the sf0.1 verify stage. The kernel's hv is already a set, so
    # its size is the distinct count.
    shg = sh.select("id", F.col("hv").alias("vs"), F.size("hv").alias("nv"))
    cand = cand.join(
        shg.select(
            F.col("id").alias("id_a"),
            F.col("vs").alias("sh_a"),
            F.col("nv").alias("nv_a"),
        ),
        "id_a",
    ).join(
        shg.select(
            F.col("id").alias("id_b"),
            F.col("vs").alias("sh_b"),
            F.col("nv").alias("nv_b"),
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("nv_a") + F.col("nv_b") - inter)
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 8).alias("jaccard"))
    )


def ngram_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_token_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join WITHOUT an all-pairs cross
    join: inverted-index self-join (explode n-grams, equi-join on the
    gram, count common grams per pair, derive Jaccard from
    |A∩B| / (|A| + |B| - |A∩B|)).

    Lossless for any threshold > 0 — a pair with positive Jaccard
    shares at least one n-gram, so every qualifying pair appears in the
    gram join. The shuffle key is the n-gram; super-common grams create
    skewed groups, so at web scale pass ``max_token_df`` to df-prune
    grams appearing in more than that many docs (standard prefix/df
    filtering; lossy only for pairs whose ENTIRE overlap is stopword-
    grade grams — sized so threshold*min_size exceeds it in practice).
    """
    d = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), " +").alias("__t"),
    ).select("id", word_ngrams_from_tokens("__t", n).alias("ng"))
    # materialize the gram relation ONCE: it feeds the size agg and BOTH
    # sides of the self-join (3-4 consumers), and Spark re-derives an
    # un-checkpointed subtree per consumer — the n-gram build was the
    # dominant cost of the whole join (triangle_counts applies the same
    # pattern). Volume is the same gram relation the join shuffles anyway.
    tok = d.select("id", F.explode("ng").alias("g")).transform(barrier)
    sz = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n_sz"))
    if max_token_df is not None:
        dfreq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        tok = tok.join(
            dfreq.filter(F.col("df") <= max_token_df).select("g"), "g"
        )
    a = tok.select(F.col("id").alias("id_a"), "g")
    b = tok.select(F.col("id").alias("id_b"), "g")
    common = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # jaccard is ONE IEEE divide of exact integer counts — emitted RAW
    # and filtered RAW per the float-oracle discipline (rounding before
    # the threshold also let a 0.19999999999999998 pass as 0.2 on this
    # side while the raw-filtering twin dropped it — r5 lint find)
    jac = F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    return (
        common.join(
            sz.select(F.col("id").alias("id_a"), F.col("n_sz").alias("n_a")), "id_a"
        )
        .join(sz.select(F.col("id").alias("id_b"), F.col("n_sz").alias("n_b")), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_token_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram containment join — Broder's asymmetric companion to
    resemblance: |A∩B|/|A| and |A∩B|/|B| per candidate pair. Catches
    near-supersets (quote inclusion, boilerplate-wrapped reposts) that
    symmetric Jaccard under-scores: a 100-gram article embedded in a
    10,000-gram page has Jaccard ~0.01 but containment 1.0.

    Same inverted-index plan as ngram_jaccard_join (explode distinct
    grams, equi-join on gram, count common per pair) — lossless for any
    threshold > 0, no all-pairs cross join; ``max_token_df`` df-prunes
    stopword-grade grams at web scale. A pair is kept when EITHER
    direction's containment clears the threshold.
    """
    d = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), " +").alias("__t"),
    ).select("id", word_ngrams_from_tokens("__t", n).alias("ng"))
    # materialize the gram relation ONCE: it feeds the size agg and BOTH
    # sides of the self-join (3-4 consumers), and Spark re-derives an
    # un-checkpointed subtree per consumer — the n-gram build was the
    # dominant cost of the whole join (triangle_counts applies the same
    # pattern). Volume is the same gram relation the join shuffles anyway.
    tok = d.select("id", F.explode("ng").alias("g")).transform(barrier)
    sz = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n_sz"))
    if max_token_df is not None:
        dfreq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        tok = tok.join(
            dfreq.filter(F.col("df") <= max_token_df).select("g"), "g"
        )
    a = tok.select(F.col("id").alias("id_a"), "g")
    b = tok.select(F.col("id").alias("id_b"), "g")
    common = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = F.col("c") / F.col("n_a")
    cb = F.col("c") / F.col("n_b")
    return (
        common.join(
            sz.select(F.col("id").alias("id_a"), F.col("n_sz").alias("n_a")), "id_a"
        )
        .join(sz.select(F.col("id").alias("id_b"), F.col("n_sz").alias("n_b")), "id_b")
        .filter(F.greatest(ca, cb) >= threshold)
        .select(
            "id_a",
            "id_b",
            # single integer divides, RAW per the float-oracle discipline
            ca.alias("cont_a"),
            cb.alias("cont_b"),
        )
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash: per bit, sign of sum over token hashes of
    (2*bit-1); assembled JVM-side from 64 one-pass aggregates.

    Bit b is the parity of the b-th polynomial universal hash
    g_b(t) = ((2b+1)*poly(t) + b^2 + 7) mod (2^31-1) — engine-portable
    (the DuckDB oracle twin computes identical bits)."""
    from spartan2_spark.operators.text import _poly_hash

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), " +")).alias("t"),
    )
    tok = tok.select("id", _poly_hash(F.col("t")).alias("th"))
    # Barrier before the 64-way aggregate: CollapseProject folds the
    # hash projection into EVERY one of the 64 aggregate expressions
    # (64 re-hashes per token — the dominant cost of the whole
    # operator); materializing (id, hash) once makes each token hash
    # exactly once.
    tok = tok.transform(barrier)
    aggs = [
        F.sum(
            F.when(
                ((F.lit(2 * b + 1) * F.col("th") + F.lit(b * b + 7)) % _POLY_P)
                % 2
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    per_doc = tok.groupBy("id").agg(*aggs)
    sim = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b) if b < 63 else F.when(bit == 1, F.lit(-(2**63))).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select("id", sim.alias("simhash"))


def simhash_band_layout(max_hamming: int) -> list[tuple[int, int]]:
    """(start_bit, width) per band: ``max_hamming + 1`` contiguous
    chunks covering all 64 bits. Pigeonhole: a pair within Hamming
    distance ``max_hamming`` has at most ``max_hamming`` differing
    bits, so at least one of the ``max_hamming + 1`` bands matches
    exactly — blocking is lossless for ANY radius. The SQL oracle twin
    (``__spark_entry__._simhash_sql``) derives the same layout."""
    n_bands = min(max(max_hamming, 0) + 1, 64)
    base, rem = divmod(64, n_bands)
    layout, start = [], 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        layout.append((start, w))
        start += w
    return layout


def simhash_pairs(
    sims: DataFrame, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Near-dup pairs by band blocking + Hamming verify.

    ``max_hamming + 1`` bands make the blocking pigeonhole-lossless at
    any radius (see :func:`simhash_band_layout`) — but a wider radius
    means narrower band keys and bigger buckets, so at corpus scale
    pass ``max_bucket`` to drop degenerate buckets (e.g. boilerplate
    pages collapsing to one fingerprint): candidate generation then
    trades the lossless guarantee for a bounded join, the same
    ``max_bucket`` contract as :func:`minhash_lsh_pairs`."""
    layout = simhash_band_layout(max_hamming)
    banded = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", start)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("key"),
                    )
                    for i, (start, w) in enumerate(layout)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.key")
    if max_bucket is not None:
        sizes = banded.groupBy("band", "key").count().filter(
            F.col("count") <= max_bucket
        )
        banded = banded.join(sizes.select("band", "key"), ["band", "key"])
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b"), "band", "key")
    # Hamming verify BEFORE the pair dedup: the bit_count filter is a
    # per-row codegen op on the band-match stream, while dropDuplicates
    # is a shuffle — filtering first shrinks that shuffle from every
    # band collision (huge on boilerplate-heavy corpora) to just the
    # verified pairs. A pair's hamming is band-independent, so the
    # reorder is semantics-preserving.
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    cosine_threshold: float = 0.9,
    seed: int = 42,
    dim: int | None = None,
    plane_mode: str = "gaussian",
    quantize: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup embedding pairs: sign-LSH bucket join + exact cosine.

    ``max_bucket`` bounds degenerate buckets (e.g. many zero or
    boilerplate embeddings collapsing to one sign pattern) before the
    self-join — the O(bucket^2) cap minhash_lsh_pairs applies; None
    keeps every bucket (exact within-bucket recall).

    Hyperplanes are deterministic pseudo-random unit directions derived
    from a seeded generator — built as literal arrays, so the
    projection is a JVM-side higher-order aggregate (no UDF).

    ``plane_mode='portable'`` draws INTEGER plane weights from a
    congruential formula (((2p+3)(i+1)*40503 + p^2*7) mod 65536 −
    32768) the DuckDB oracle reproduces verbatim, and
    ``quantize=q`` rounds components to round(x*q) — integer-valued
    doubles, so every dot product/norm is an exact integer sum
    (order-independent) and bucket bits + cosines match bit-for-bit
    across engines. Gaussian planes stay the production default."""
    import numpy as np

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if plane_mode == "portable":
        planes = [
            [((2 * p + 3) * (i + 1) * 40503 + p * p * 7) % 65536 - 32768 for i in range(dim)]
            for p in range(n_planes)
        ]
    else:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_planes, dim))

    if quantize:
        v = F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(quantize)), 0),
        )
    else:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    proj_bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        proj_bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**p))
    bucket = sum(proj_bits[1:], proj_bits[0])

    base = df.select(
        F.col(id_col).alias("id"), v.alias("v"), norm.alias("nrm"), bucket.alias("bucket")
    )
    if max_bucket is not None:
        ok = base.groupBy("bucket").count().filter(F.col("count") <= max_bucket)
        base = base.join(ok.select("bucket"), "bucket")
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"), "bucket"
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"), "bucket"
    )
    dot_ab = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot_ab / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", F.round("cosine", 8).alias("cosine"))
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    k: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Keep-one-per-cluster deduplication: the step a training-data
    pipeline actually runs AFTER pair finding. Near-dup pairs
    (:func:`minhash_lsh_pairs`) become an undirected graph; connected
    components group transitive duplicates; each cluster keeps its
    canonical document.

    Canonical = MIN doc id in the cluster — deterministic and
    engine-replayable (a production pipeline may prefer longest doc or
    highest quality score; swap the pick by joining the component
    table against that score and taking arg_max).

    Returns one row per input document: (id, cluster, keep) with
    keep = (id == cluster). At 100 TB the component loop runs on the
    PAIR graph only (near-dup clusters are tiny and shallow), never on
    the corpus; the final join is one left join of docs against the
    bounded component table.
    """
    from spartan2_spark.operators.graph import connected_components

    pairs = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        shingle_n=shingle_n,
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    )
    # minhash pairs are unique (id_a < id_b) by construction - skip
    # the symmetrized-edge distinct shuffle
    comp = connected_components(
        pairs, src="id_a", dst="id_b", dedup_edges=False
    )
    docs = df.select(F.col(id_col).alias("id")).distinct()
    return (
        docs.join(comp.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("cluster"),
        )
        .withColumn("keep", F.col("id") == F.col("cluster"))
    )


def dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality=None,
    shingle_n: int = 5,
    k: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Quality-aware keep-one-per-cluster dedup: the canonical pick a
    production training-data pipeline actually wants. Where
    :func:`dedup_clusters` keeps the MIN id per near-dup cluster, this
    keeps the HIGHEST-quality member (tie-break min id, so the pick is
    total-ordered and engine-deterministic). ``quality`` is any exact
    integer Column (default: ``length(text_col)`` — keep the longest
    member, the C4/RefinedWeb convention); swap in a quantized quality
    score for model-scored corpora.

    Returns one row per input document: (id, cluster, quality, keep)
    with keep = 1 exactly once per cluster. Singletons keep themselves.

    Exactness: clusters come from the value-exact minhash->CC pipeline;
    the pick is a row_number over (quality DESC, id ASC) — all-integer,
    replayable verbatim by a SQL window.

    Plan shape: pair graph -> bounded component table (same as
    dedup_clusters), one left join of docs against it, then ONE window
    partitioned by cluster. Near-dup clusters are tiny (bounded by
    ``max_bucket`` upstream), so the window partitions are bounded at
    any corpus size; the dominant cost stays the LSH pair join.
    """
    from pyspark.sql import Window as W

    from spartan2_spark.operators.graph import connected_components

    q = quality if quality is not None else F.length(F.col(text_col))
    pairs = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        shingle_n=shingle_n,
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    )
    # minhash pairs are unique (id_a < id_b) by construction - skip
    # the symmetrized-edge distinct shuffle
    comp = connected_components(
        pairs, src="id_a", dst="id_b", dedup_edges=False
    )
    docs = (
        df.select(F.col(id_col).alias("id"), q.cast("long").alias("quality"))
        .groupBy("id")
        .agg(F.max("quality").alias("quality"))
    )
    labelled = docs.join(comp.withColumnRenamed("node", "id"), "id", "left").select(
        "id",
        F.coalesce("component", F.col("id")).alias("cluster"),
        "quality",
    )
    w = W.partitionBy("cluster").orderBy(F.col("quality").desc(), F.col("id").asc())
    return labelled.select(
        "id",
        "cluster",
        "quality",
        (F.row_number().over(w) == 1).cast("long").alias("keep"),
    )


def dup_rate_by_source(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-duplicate-rate audit per corpus slice: for each group
    (source / domain / snapshot), how many documents are members of a
    cross-corpus exact-duplicate cluster (content md5 shared by >= 2
    docs ANYWHERE, not just within the group), how many are the
    cluster canonical (min id), and the redundant fraction — the
    corpus-QA table that decides which source needs
    :func:`exact_dedup` run hardest. ``dup_ratio`` = duplicated
    member docs / group docs, one IEEE divide of exact BIGINTs.

    Plan shape: one (md5) hash aggregate over the corpus (the same
    exchange exact_dedup runs), an equi-join of the doc->md5
    projection against that O(distinct-content) relation, then one
    group aggregate. No windows; everything map-side combinable.
    """
    keyed = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("h"),
    )
    clusters = keyed.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("id").alias("canonical"),
    )
    j = keyed.join(clusters, "h")
    return j.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_copies") > 1).cast("long")).cast("long").alias("n_dup_docs"),
        F.sum(
            ((F.col("n_copies") > 1) & (F.col("id") == F.col("canonical"))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("n_dup_canonicals"),
        (
            F.sum((F.col("n_copies") > 1).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_ratio"),
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_chars: int = 24,
    max_dist: int = 10,
    block_expr=None,
) -> DataFrame:
    """Edit-distance near-dup pairs under key blocking: docs sharing a
    block key (default: first whitespace token — cheap, prefix-stable)
    are candidate pairs; emit (id_a, id_b, dist) where dist is the
    Levenshtein distance of the first ``probe_chars`` chars and
    dist <= max_dist.

    The blocked self-join is an equi-join on the block key — shuffles
    once on the key, never a crossJoin; levenshtein() is a JVM builtin
    (unit-cost DP, identical across engines). Block sizes bound the
    quadratic term: at web scale pair blocking with a length bucket or
    a shingle prefilter for head blocks (pass ``block_expr``).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    block = (
        block_expr
        if block_expr is not None
        else F.split(F.trim(t), " +")[0]
    )
    side = df.select(
        F.col(id_col).alias("id"),
        block.alias("blk"),
        F.substring(t, 1, probe_chars).alias("probe"),
    )
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.probe", "b.probe").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 5,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination — the eval-set leakage scan every
    training-data pipeline runs before a model sees the corpus (the
    n-gram overlap rule popularized by the GPT-2/GPT-3 and C4 dataset
    reports): flag a corpus doc when at least ``min_overlap`` of its
    distinct word n-grams also appear anywhere in the benchmark set.

    Plan: the benchmark's distinct gram set is tiny next to the corpus
    (eval suites are MBs against TBs), so it broadcasts and the scan is
    one semi-join per corpus gram + one per-doc count — the corpus is
    read once, never self-joined. Set ``broadcast_bench=False`` if the
    benchmark gram set outgrows executor memory (falls back to a
    shuffle semi-join, same result). Returns one row per corpus doc:
    (id, n_grams, n_hit, contaminated) — clean docs included with
    n_hit = 0, so the verdict column is directly filterable either way.
    """

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), " +").alias("__t"),
        ).select("id", word_ngrams_from_tokens("__t", n).alias("ng"))

    c = grams(corpus)
    bench_grams = grams(benchmark).select(F.explode("ng").alias("g")).distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        c.select("id", F.explode("ng").alias("g"))
        .join(bench_grams, "g", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    return (
        c.select("id", F.size("ng").cast("long").alias("n_grams"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list,
    id_col: str = "doc_id",
    window: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): order the
    corpus by a blocking key and emit each row paired with its next
    ``window - 1`` neighbours in that order — the classic record-linkage
    candidate generator that complements hash blocking (MinHash/SimHash
    bands): key-adjacent near-dups land in the same window even when
    their hashes differ everywhere.

    ``sort_cols`` must end in a unique tie-break (pass the id) so the
    global order — and therefore the pair set — is deterministic on any
    engine. Scale shape: ONE distributed global ranking
    (partitioning.global_row_numbers — range-repartition + local
    row_number + broadcast offsets, never a single-partition window),
    then the neighbour pairing is an integer equi-join of the ranked
    relation against itself shifted by j = 1..window-1 (explode of a
    ``window-1``-element array, shuffle on the rank integer) — no sort
    of the full corpus into one task, no cross join. Output:
    (id_a, id_b, rank_gap), id_a the earlier row in block order.
    """
    from spartan2_spark.operators.partitioning import global_row_numbers

    ranked = global_row_numbers(
        df.select(F.col(id_col).alias("id"), *sort_cols), list(sort_cols), "rn"
    ).select("id", "rn")
    a = ranked.select(
        F.col("id").alias("id_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(*[F.lit(j) for j in range(1, window)])).alias("__j"),
    ).select("id_a", "rn_a", (F.col("rn_a") + F.col("__j")).alias("rn_b"))
    b = ranked.select(F.col("id").alias("id_b"), F.col("rn").alias("rn_b"))
    return a.join(b, "rn_b").select(
        "id_a", "id_b", (F.col("rn_b") - F.col("rn_a")).cast("long").alias("rank_gap")
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    l: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicate spans — the suffix-array dedup rule of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed as a distributed positional-gram plan: a span
    of >= ``l`` consecutive tokens is flagged when it occurs at
    ``min_count`` or more (doc, position) sites corpus-wide (within-doc
    repeats count, exactly as a suffix array would find them).

    Reference scope: spartan2 has no corpus dedup; this is a
    training-data-pipeline extension (builder brief). Plan, and why it
    replaces the sequential suffix array: (1) positional token
    ``l``-grams via transform/slice over the bound token array — NO
    array_distinct, positions matter, and the short-doc convention
    (one whole-text gram when tokens < l) matches word_ngrams_expr;
    (2) ONE shuffle groups grams by value to find duplicated grams
    (partial count pushes map-side, the gram relation is checkpointed
    once for its two consumers); (3) a semi-join keeps duplicated gram
    sites; (4) per-doc gaps-and-islands (pos - row_number over the doc)
    merges runs of overlapping duplicated grams into MAXIMAL spans —
    a shared substring of T tokens is exactly the island of its
    T - l + 1 gram starts. The per-doc window is bounded by doc length;
    nothing sorts the corpus globally. At 10^12 docs the gram shuffle
    is the cost, and it is one pass over the corpus — the suffix array
    it replaces is super-linear memory on a single node. Hot grams
    (boilerplate) make big count groups but never big JOIN fan-out:
    the semi-join returns each site once regardless of gram frequency.

    Returns (id_col, span_start, span_end, span_tokens), token
    positions 1-based inclusive; span_tokens = span_end - span_start + 1
    >= l. Deterministic on any engine — value-exact DuckDB twin.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), " +").alias("t")
    )
    grams = toks.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {l - 1}, 1)),"
                f" i -> array_join(slice(t, i, {l}), ' '))"
            )
        ).alias("off", "g"),
    ).select("id", (F.col("off") + 1).cast("long").alias("pos"), "g")
    grams = barrier(grams)  # two consumers: the dup-count agg and the site scan
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("g")
    )
    hits = grams.join(dup, "g", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    islands = hits.withColumn("__isl", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("id", "__isl")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("__maxpos"))
        .select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            (F.col("__maxpos") + (l - 1)).cast("long").alias("span_end"),
            (F.col("__maxpos") - F.col("span_start") + l).cast("long").alias("span_tokens"),
        )
    )


def exact_substring_dedup_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    l: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring REMOVAL — the full Lee et al. 2022 ExactSubstr
    rule: every duplicated >= ``l``-token span keeps its first
    occurrence in (doc, position) order and is cut from every other
    site; the cleaned text is rebuilt in token order.

    Keep-first is computed WITHOUT a per-gram sort window: the first
    site of each gram is ``min(struct(id, pos))`` in one partial-agg
    groupBy — a boilerplate gram occurring 10^9 times at corpus scale
    is a single combine-reduced group, never a 10^9-row window
    partition. Removal sites (any duplicated-gram site that is not the
    gram's first) merge into maximal spans per doc via gaps-and-islands,
    spans collect to one bounded array per doc (docs are bounded; span
    count <= tokens), and the rebuild is a single array ``filter`` by
    token index — the corpus is read once, the only shuffles are the
    gram groupBy, the keep-first join, and the per-doc span collect.

    Returns (id_col, text_clean, n_removed_tokens) for EVERY input doc
    (clean docs pass through with 0 removed). Deterministic — the
    DuckDB twin reproduces it value-exact (twin uses an equivalent
    row_number formulation; fine at oracle scale).
    """
    from pyspark.sql import Window

    toks = barrier(
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), " +").alias("t"),
        )
    )  # consumers: gram generation and the final rebuild join
    grams = toks.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {l - 1}, 1)),"
                f" i -> array_join(slice(t, i, {l}), ' '))"
            )
        ).alias("off", "g"),
    ).select("id", (F.col("off") + 1).cast("long").alias("pos"), "g")
    grams = barrier(grams)
    firsts = grams.groupBy("g").agg(
        F.min(F.struct("id", "pos")).alias("__first"),
        F.count(F.lit(1)).alias("__n"),
    )
    rem = (
        grams.join(firsts, "g")
        .filter(
            (F.col("__n") >= min_count)
            & ~((F.col("id") == F.col("__first.id")) & (F.col("pos") == F.col("__first.pos")))
        )
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    spans = (
        rem.withColumn("__isl", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "__isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (l - 1)).alias("e"))
        .groupBy("id")
        .agg(F.collect_list(F.struct("s", "e")).alias("__spans"))
    )
    kept = F.expr(
        "filter(t, (tok, i) -> __spans IS NULL"
        " OR NOT exists(__spans, sp -> i + 1 >= sp.s AND i + 1 <= sp.e))"
    )
    return (
        toks.join(spans, "id", "left")
        .withColumn("__kept", kept)
        .select(
            F.col("id").alias(id_col),
            F.array_join("__kept", " ").alias("text_clean"),
            (F.size("t") - F.size("__kept")).cast("long").alias("n_removed_tokens"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """CCNet-style corpus-wide duplicated-PARAGRAPH removal (Wenzek et
    al. 2020: hash each paragraph, drop repeats across the whole
    corpus): every paragraph whose trimmed form already appeared at an
    earlier (doc, position) site is cut; the first occurrence stays.
    Complements the repo's other text-dedup axes — ``exact_dedup``
    (whole doc), ``exact_substring_dedup_text`` (token l-grams),
    ``boilerplate_strip`` (site-frequent lines regardless of order):
    paragraph granularity is what catches syndicated article bodies
    and quoted reposts that differ in header/footer.

    Paragraphs shorter than ``min_chars`` after trimming (blank lines,
    bare punctuation) are structure, not content — always kept, never
    hashed (the CCNet convention), so formatting survives byte-
    identically.

    Keep-first discipline matches ``exact_substring_dedup_text``: the
    global first site per paragraph hash is ``min(struct(id, pos))``
    in ONE partial-agg groupBy — a boilerplate paragraph occurring
    10^9 times corpus-wide is a single combine-reduced group, never a
    window partition. The join back is md5-keyed with a 1-row build
    side per key, so head-paragraph skew cannot amplify rows.

    Plan: one posexplode -> one (hash) groupBy with map-side combine
    (the shuffle carries one row per DISTINCT paragraph) -> one
    md5-keyed join -> one per-doc rebuild aggregate. The rebuild sorts
    surviving (pos, raw) pairs by the explode ordinal, so output bytes
    are independent of partitioning (same discipline as
    ``boilerplate_strip``). Docs reduced to nothing (every paragraph a
    later duplicate) drop out of the result.

    Returns (id_col, text_clean, n_paras, n_kept) — n_paras counts the
    doc's original paragraphs, n_kept the survivors.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "raw"),
    ).withColumn("norm", F.trim(F.col("raw")))
    scored = lines.withColumn(
        "h",
        F.when(F.length("norm") >= min_chars, F.md5(F.col("norm"))),
    )
    firsts = (
        scored.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("__first"))
    )
    kept = (
        scored.join(firsts, "h", "left")
        .filter(
            F.col("h").isNull()
            | (
                (F.col("id") == F.col("__first.id"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
    )
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "raw"))),
                    lambda x: x["raw"],
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
        .join(
            lines.groupBy("id").agg(
                F.count(F.lit(1)).cast("long").alias("n_paras")
            ),
            "id",
        )
        .select(
            F.col("id").alias(id_col), "text_clean", "n_paras", "n_kept"
        )
    )


def bloom_fpr_audit(
    member_keys: DataFrame,
    probe_keys: DataFrame,
    m_bits: int = 512,
    k_hashes: int = 3,
    key_col: str = "key",
) -> DataFrame:
    """MEASURED Bloom-filter false-positive rate, exactly — the
    empirical check on :func:`bloom_filter_plan`'s sizing math and on
    the native ``bloom_semi_join``'s advisory filter: the bitset is
    materialized RELATIONALLY (the distinct set of k double-hashed bit
    positions over the member keys, portable poly-hash so any engine
    reproduces it bit-for-bit), every probe key outside the member
    set is tested against it, and a probe is a false positive iff ALL
    its distinct positions are set. One summary row: bits set, load,
    false positives, exact floor-ppm FPR.

    Exactness: positions are pure BIGINT arithmetic
    ``(h*(2i+1) + 97i) mod m``; the all-positions-set test compares
    exact distinct counts; ratios are integer floor ppm.

    Plan shape: member positions collapse to <= m_bits rows (the
    bitset relation BROADCASTS); probes explode to k rows each, one
    broadcast semi-ish join + per-probe count + one final 1-row
    aggregate. Linear in probes, never probes x members.
    """
    if m_bits <= 0 or k_hashes <= 0:
        raise ValueError("need positive m_bits and k_hashes")
    from spartan2_spark.operators.spectral import _POLY_P
    from spartan2_spark.operators.text import _poly_hash

    def mixed(col):
        h = _poly_hash(col.cast("string"))
        h = (h * 48271) % _POLY_P
        return (h * 48271) % _POLY_P

    def positions(df):
        h = mixed(F.col(key_col))
        pos = F.array(
            *[
                ((h * (2 * i + 1) + 97 * i) % m_bits).cast("long")
                for i in range(k_hashes)
            ]
        )
        return df.select(F.col(key_col).alias("key"), pos.alias("pos"))

    from spartan2_spark.operators.barrier import barrier

    # barrier the probe positions (and keep the bitset/member census
    # single-pass): member_keys is referenced by the bitset, the member
    # count, and the anti-join; probe positions feed the hit join —
    # unbarriered this re-scanned both inputs 5x (PLAN_AUDIT)
    member_keys = member_keys.select(
        F.col(key_col).alias(key_col)
    ).distinct().transform(barrier)
    bitset = (
        positions(member_keys)
        .select(F.explode("pos").alias("bit"))
        .distinct()
    )
    n_mem = member_keys.agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    probes = (
        positions(probe_keys)
        .join(member_keys.select(F.col(key_col).alias("key")), "key", "left_anti")
        .select("key", F.explode(F.array_distinct("pos")).alias("bit"))
    )
    per_probe = (
        probes.join(F.broadcast(bitset.withColumn("_hit", F.lit(1))), "bit", "left")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pos"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    summary = per_probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        # coalesce: zero probe rows (probes subset of members) must read
        # as 0 false positives, not NULL
        F.coalesce(
            F.sum((F.col("n_hit") == F.col("n_pos")).cast("int")), F.lit(0)
        )
        .cast("long")
        .alias("n_fp"),
    )
    bits = bitset.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    return (
        summary.crossJoin(F.broadcast(bits))
        .crossJoin(F.broadcast(n_mem))
        .select(
            F.lit(int(m_bits)).cast("long").alias("m_bits"),
            F.lit(int(k_hashes)).cast("long").alias("k_hashes"),
            "n_members",
            "bits_set",
            F.floor(
                (F.col("bits_set") * F.lit(1_000_000)).cast("double")
                / F.lit(float(m_bits))
            ).cast("long").alias("load_ppm"),
            "n_probes",
            "n_fp",
            F.when(
                F.col("n_probes") > 0,
                F.floor(
                    (F.col("n_fp") * F.lit(1_000_000)).cast("double")
                    / F.col("n_probes").cast("double")
                ),
            ).otherwise(0).cast("long").alias("fpr_ppm"),
        )
    )
