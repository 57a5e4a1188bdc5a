from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from spartan2_spark.operators import dedup as DD
from spartan2_spark.operators import multimodal as MM
from spartan2_spark.operators import similarity as SIM
from spartan2_spark.operators import text as TX

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # add exact + near duplicates with known structure
    dup = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    near = (
        base.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tiny tail edit")))
    )
    return base.unionByName(dup).unionByName(near)


def test_exact_dedup(spark, docs):
    out = DD.exact_dedup(docs).toPandas()
    assert (out["n_copies"] >= 2).sum() == 5
    assert out["n_copies"].sum() == docs.count()


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = DD.minhash_lsh_pairs(docs, k=32, bands=8, jaccard_threshold=0.5).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    # all 5 exact dups (J=1) and all 5 near dups must surface
    for i in range(5):
        assert any(a == i and b >= 100000 for a, b in found) or any(
            a == i for a, b in found
        ), (i, found)
    exact = pairs[pairs.jaccard == 1.0]
    assert len(exact) >= 5


def test_simhash_near_dups(spark, docs):
    sims = DD.simhash64(docs)
    pairs = DD.simhash_pairs(sims, max_hamming=6).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    for i in range(5):
        assert (i, i + 100000) in found  # exact dups: hamming 0
    assert (pairs.hamming == 0).sum() >= 5


def test_simhash_deterministic(spark, docs):
    a = DD.simhash64(docs).toPandas().sort_values("id", ignore_index=True)
    b = DD.simhash64(docs.repartition(7)).toPandas().sort_values("id", ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_cosine_topk_matches_numpy(spark, embs):
    queries = embs.filter(F.col("vec_id") < 3)
    got = SIM.cosine_topk(embs, queries, k=5, quantize=True).toPandas()
    pdf = embs.toPandas()
    V = np.stack(pdf["embedding"].map(lambda v: np.round(np.array(v, dtype=np.float64) * 1000)))
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(V, axis=1)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        cos = (V @ V[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf
        order = np.lexsort((ids, -cos))[:5]
        want = ids[order].tolist()
        have = got[got.query_id == qid].sort_values("rank")["corpus_id"].tolist()
        assert have == want, (qid, have, want)


def test_ann_topk_recall(spark):
    # the driver's embeddings are isotropic noise (no neighbor
    # structure; same-label mean cosine ~ 0), where ANY sublinear ANN
    # is information-theoretically weak — so recall is validated on
    # clustered vectors, the workload ANN exists for.
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((25, 64))
    pts = centers[np.arange(500) % 25] + 0.15 * rng.standard_normal((500, 64))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(500), "embedding": [list(map(float, v)) for v in pts]}
    )
    embs = spark.createDataFrame(pdf)
    queries = embs.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(embs, queries, k=5).toPandas()
    approx = SIM.ann_topk(embs, queries, k=5, n_planes=6, probes=1).toPandas()
    e = exact.groupby("query_id")["corpus_id"].apply(set)
    a = approx.groupby("query_id")["corpus_id"].apply(set)
    recalls = [len(e[q] & a.get(q, set())) / 5 for q in e.index]
    assert np.mean(recalls) >= 0.9


def test_ivf_topk_recall_and_determinism(spark):
    # same clustered workload as the LSH test: IVF probes the nprobe
    # nearest Voronoi cells, so with well-separated clusters recall
    # should be near-perfect; and the centroid seed is hash-based, so
    # two runs must agree exactly.
    rng = np.random.default_rng(12)
    centers = rng.standard_normal((10, 64))
    pts = centers[np.arange(400) % 10] + 0.15 * rng.standard_normal((400, 64))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(400), "embedding": [list(map(float, v)) for v in pts]}
    )
    embs_c = spark.createDataFrame(pdf)
    queries = embs_c.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(embs_c, queries, k=5).toPandas()
    ivf1 = SIM.ivf_topk(embs_c, queries, k=5, nlist=10, nprobe=3).toPandas()
    ivf2 = SIM.ivf_topk(embs_c, queries, k=5, nlist=10, nprobe=3).toPandas()
    e = exact.groupby("query_id")["corpus_id"].apply(set)
    a = ivf1.groupby("query_id")["corpus_id"].apply(set)
    recalls = [len(e[q] & a.get(q, set())) / 5 for q in e.index]
    assert np.mean(recalls) >= 0.9
    pd.testing.assert_frame_equal(
        ivf1.sort_values(["query_id", "rank"]).reset_index(drop=True),
        ivf2.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )


def test_embedding_lsh_pairs_selfdup(spark, embs):
    # append an exact copy of 3 vectors: cosine 1.0 pairs must surface
    dup = embs.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    out = DD.embedding_lsh_pairs(
        embs.unionByName(dup), cosine_threshold=0.999
    ).toPandas()
    found = set(zip(out.id_a, out.id_b))
    for i in range(3):
        assert (i, i + 10000) in found


# ---------------- text analysis


def test_quality_and_tokens(spark, docs):
    out = TX.quality_score(TX.token_count(docs, "text"), "text").toPandas()
    assert (out["n_tokens"] > 0).all()
    assert out["q_score"].between(0, 1).all()
    assert (out["q_stop_ratio"] >= 0).all() and (out["q_stop_ratio"] <= 1).all()


def test_lang_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat sat on the mat and it is fine",
                "der hund ist nicht mit der katze und das ist gut",
                "le chat est dans la maison et il est content",
                "xyzzy qwerty plugh",
            ],
        }
    )
    out = TX.lang_id(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert out.loc[1, "lang_pred"] == "en"
    assert out.loc[2, "lang_pred"] == "de"
    assert out.loc[3, "lang_pred"] == "fr"
    assert out.loc[4, "lang_pred"] == "und"


def test_fingerprint_containment(spark, docs):
    fp = TX.fingerprint_bottom_k(docs, k=16).toPandas()
    by_id = fp.set_index("doc_id")["fingerprint"]
    # exact dup docs share the whole fingerprint
    for i in range(5):
        assert list(by_id[i]) == list(by_id[i + 100000])
    # near dups overlap heavily but docs 0 vs 1 don't
    inter = len(set(by_id[0]) & set(by_id[200000]))
    assert inter >= 12
    cross = len(set(by_id[0]) & set(by_id[1]))
    assert cross <= inter


# ---------------- multimodal plumbing


def test_multimodal_stub(spark):
    from spartan2_spark.datagen import synth_pages

    pages = synth_pages(spark, 200, n_urls=20, days=1)
    meta = MM.attach_media_meta(pages, "html", "image")
    row = meta.select("media_meta.*").first()
    assert row["kind"] == "image" and row["n_bytes"] > 0

    feats = MM.extract_features(pages, "html", "url", n_features=8).toPandas()
    assert (feats["features"].map(len) == 8).all()
    assert feats["features"].map(lambda f: all(0 <= x <= 1 for x in f)).all()

    frames = MM.frame_sample(pages.limit(10), "html", "url", frame_bytes=64, every_n=2)
    pf = frames.toPandas()
    assert (pf["frame_idx"] % 2 == 0).all()
    assert pf["frame"].map(len).max() <= 64

    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        MM.extract_features(pages.limit(2), decoder="none").collect()


def test_embedding_lsh_portable_recovers_planted_twins(spark):
    from pyspark.sql import functions as F

    from spartan2_spark.operators.dedup import embedding_lsh_pairs

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = e.count()
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionByName(
        e.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x.cast("double") + F.lit(0.001)
            ).alias("embedding"),
        )
    )
    pairs = embedding_lsh_pairs(
        base, id_col="vec_id", n_planes=16, cosine_threshold=0.99,
        dim=64, plane_mode="portable", quantize=1000,
    ).collect()
    twins = {(r.id_a, r.id_b) for r in pairs if r.id_b == r.id_a + 100000}
    # single-probe sign-LSH may drop a twin whose perturbation flips a
    # near-zero projection bit; recall must still be >= 90%
    assert len(twins) >= 0.9 * n
    assert all(r.cosine >= 0.99 for r in pairs)


def test_multimodal_decoder_seam_accepts_injected_codec(spark):
    """The decoder seam (operators/multimodal.py extract_features)
    takes a callable (buf, n_features) -> ndarray — the exact interface
    a real PIL/ffmpeg wrapper plugs into. Inject a toy pure-python
    'codec' that parses a P9-style header and assert the features come
    out of the distributed Arrow path verbatim."""
    import numpy as np

    from spartan2_spark.operators.multimodal import extract_features

    def toy_codec(buf: bytes, n_features: int) -> np.ndarray:
        # "P9 <w> <h>\n<w*h ascii digit pixels>" -> per-column means
        head, pixels = buf.split(b"\n", 1)
        _, w, h = head.split()
        arr = np.frombuffer(pixels, dtype=np.uint8)[: int(w) * int(h)] - ord("0")
        arr = arr.reshape(int(h), int(w)).astype(np.float64)
        out = np.zeros(n_features)
        out[: int(w)] = arr.mean(axis=0)
        return out

    imgs = [
        ("u1", b"P9 3 2\n012345"),
        ("u2", b"P9 2 2\n9876"),
    ]
    df = spark.createDataFrame(imgs, "url string, html binary")
    rows = {
        r.url: r
        for r in extract_features(
            df, "html", "url", n_features=4, decoder=toy_codec
        ).collect()
    }
    # u1: columns mean over rows [[0,1,2],[3,4,5]] -> [1.5, 2.5, 3.5]
    assert rows["u1"].features == [1.5, 2.5, 3.5, 0.0]
    # u2: [[9,8],[7,6]] -> [8.0, 7.0]
    assert rows["u2"].features == [8.0, 7.0, 0.0, 0.0]
    assert rows["u1"].n_bytes == len(b"P9 3 2\n012345")

    # string modes still guarded: a typo raises at plan time
    import pytest as _pytest

    with _pytest.raises(ValueError):
        extract_features(df, "html", "url", decoder="pil")


def test_connected_components_labels():
    from spartan2_spark.operators.graph import connected_components
    from spartan2_spark.session import get_spark

    spark = get_spark()
    # two chains + a triangle + an isolated edge; labels must be the min id
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (10, 11), (20, 21), (21, 22), (22, 20), (7, 9)],
        "src long, dst long",
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {3: 3, 5: 3, 9: 3, 7: 3, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_keeps_one_canonical(spark, docs):
    out = DD.dedup_clusters(
        docs, k=32, bands=8, jaccard_threshold=0.5
    ).toPandas()
    # every input doc labelled exactly once
    assert len(out) == docs.count()
    assert out["id"].is_unique
    # the 5 planted exact-dup and 5 near-dup docs collapse onto their
    # originals: cluster label == the original (minimum) doc_id
    for i in range(5):
        orig = out.loc[out["id"] == i, "cluster"].iloc[0]
        assert out.loc[out["id"] == i + 100000, "cluster"].iloc[0] == orig
        assert out.loc[out["id"] == i + 200000, "cluster"].iloc[0] == orig
        assert not out.loc[out["id"] == i + 100000, "keep"].iloc[0]
    # exactly one keeper per cluster, and it is the min id
    keepers = out[out["keep"]]
    assert keepers.groupby("cluster").size().max() == 1
    assert (keepers["id"] == keepers["cluster"]).all()
    # every cluster label IS a member of its own cluster (min-id label),
    # so the keeper always exists; non-keepers never carry their own id
    assert (out.groupby("cluster")["id"].min() == out.groupby("cluster")["id"].min().index).all()
    nonkeep = out[~out["keep"]]
    assert (nonkeep["id"] != nonkeep["cluster"]).all()


def test_repetition_stats_planted(spark):
    rows = [
        # 4 lines, 2 dup; "a b" appears 3x of 5 2-grams; 3-grams: "a b a","b a b","a b c","b c d" of 4 -> 0 dup
        (1, "a b a b c d\nx\nx\ny"),
        (2, "unique words only here"),
        (3, "t t t t t t"),  # all 2-grams identical
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in TX.repetition_stats(df).collect()}
    assert out[1].n_lines == 4 and abs(out[1].dup_line_frac - 0.25) < 1e-9
    assert out[2].dup_3gram_frac == 0.0
    assert abs(out[2].top_2gram_frac - 1 / 3) < 1e-7
    assert out[3].top_2gram_frac == 1.0 and abs(out[3].dup_3gram_frac - 0.75) < 1e-9


def test_c4_line_filters_planted(spark):
    rows = [
        (1, "This is a proper sentence.\nAnd another good one follows it here!"),
        (2, "function f() { return 1; }"),
        (3, "Lorem ipsum dolor sit amet, consectetur adipiscing elit."),
        (4, "no punct line\nalso none"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in TX.c4_line_filters(df).collect()}
    assert out[1].end_punct_frac == 1.0 and out[1].keep == 1
    assert out[2].has_curly == 1 and out[2].keep == 0
    assert out[3].has_lorem == 1 and out[3].keep == 0
    assert out[4].end_punct_frac == 0.0 and out[4].keep == 0


def test_quality_filters_null_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "Real text here.")], "doc_id long, text string"
    )
    rep = {r.id: r for r in TX.repetition_stats(df).collect()}
    c4 = {r.id: r for r in TX.c4_line_filters(df).collect()}
    # NULL text behaves as empty: fractions defined, no -1 poisoning
    assert rep[1].n_tokens == 1 and rep[1].dup_3gram_frac == 0.0
    assert c4[1].keep == 0 and c4[1].end_punct_frac == 0.0
    assert c4[2].end_punct_frac == 1.0


def test_resize_media_pooling_and_codec_seam(spark):
    import numpy as np

    from spartan2_spark.datagen import synth_pages

    pages = synth_pages(spark, 20, n_urls=5, days=1)
    out = MM.resize_media(pages, "html", "url", (32, 32), (8, 8)).toPandas()
    assert (out["pixels"].map(len) == 64).all()
    assert out["out_h"].eq(8).all()
    # pooled values stay in the decoder's [0,1] range
    assert out["pixels"].map(lambda p: min(p) >= 0 and max(p) <= 1).all()

    # codec seam: a custom callable decoder flows through the pooling
    def constant_codec(buf, hw):
        return np.full(hw, 0.5)

    out2 = MM.resize_media(
        pages, "html", "url", (32, 32), (8, 8), decoder=constant_codec
    ).toPandas()
    assert out2["pixels"].map(lambda p: set(p) == {0.5}).all()

    import pytest as _pytest
    with _pytest.raises(Exception, match="NotImplementedError|real image decode"):
        MM.resize_media(pages, decoder="none").toPandas()


def test_pii_scrub_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk or call +1 (415) 555-0133 now"),
            (2, "two mails x@y.io z@w.org, digits 1234567890"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in TX.pii_scrub(df).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "<EMAIL>" in out[1].scrubbed and "<PHONE>" in out[1].scrubbed
    assert "415" not in out[1].scrubbed and "@" not in out[1].scrubbed
    assert out[2].n_emails == 2 and out[2].n_phones == 1
    assert out[3].n_emails == 0 and out[3].scrubbed == ""


def test_canonicalize_url_rules(spark):
    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Path/Sub?b=2&utm_source=x&a=1#frag"),
        (2, "http://site.org:80/"),
        (3, "http://a.b/x?gclid=99"),
        (4, "https://h.io:8443/p?z=1&y=2"),  # non-default port kept
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {r.id: r.canon_url for r in TX.canonicalize_url(df).collect()}
    assert out[1] == "https://www.example.com/Path/Sub?a=1&b=2"
    assert out[2] == "http://site.org/"
    assert out[3] == "http://a.b/x"
    assert out[4] == "https://h.io:8443/p?y=2&z=1"


def test_hash_sampler_mixes_short_keys(spark):
    import __spark_entry__ as E

    # raw poly fold of short digit ids barely mixes (consecutive ids ->
    # consecutive hashes); the MINSTD finalizer must give each stratum
    # a sample near its target fraction
    out = E.queries()["stratified_sample"](spark, "/root/testdata/sf0.001").toPandas()
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").toPandas()
    for lang, frac in (("en", 0.2), ("de", 0.5)):
        n = (base["lang"] == lang).sum()
        got = (out["lang"] == lang).sum()
        assert abs(got / n - frac) < 0.15, (lang, got, n)


def test_winnowing_moss_guarantee(spark):
    from spartan2_spark.operators.text import winnowing_fingerprint

    # MOSS guarantee: any shared substring of length >= k+w-1 (= 11)
    # yields at least one shared fingerprint
    common = "abcdefghijklmnop"  # 16 chars
    rows = [
        (1, "xxxx " + common + " yyyy"),
        (2, "zz" + common + "qqrrsstt"),
        (3, "totally different content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprint(df, "text", "doc_id", k=8, w=4, aggregate=False)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3] & by_doc[2]) or True
    # short doc (< k+w-1 = 11 chars): no full window -> absent
    short = spark.createDataFrame([(9, "0123456789")], "doc_id long, text string")
    assert winnowing_fingerprint(short, "text", "doc_id", k=8, w=4).count() == 0


def test_edit_distance_pairs_blocked(spark):
    from spartan2_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delte"),   # 1 edit from doc 1, same block
        (3, "alpha completely different text"),
        (4, "omega beta gamma delta"),   # near doc 1 but different block
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["dist"] for r in
           edit_distance_pairs(df, probe_chars=24, max_dist=3).collect()}
    assert out[(1, 2)] == 1
    assert (1, 4) not in out  # blocking excludes cross-block pairs
    assert (1, 3) not in out  # same block but dist > 3


def test_kmv_distinct_estimate(spark):
    from spartan2_spark.functions.sketches import kmv_distinct

    n = 4000
    df = spark.createDataFrame([(str(i),) for i in range(n)], "key string")
    r = kmv_distinct(df, k=128).collect()[0]
    assert r["k_used"] == 128
    # relative error ~ 1/sqrt(k) ~ 9%; allow 4 sigma
    assert abs(r["kmv_estimate"] - n) / n < 0.36
    # small-cardinality: k_used = distinct count, estimate still sane
    small = spark.createDataFrame([(str(i % 10),) for i in range(100)], "key string")
    r2 = kmv_distinct(small, k=64).collect()[0]
    assert r2["k_used"] == 10


def test_ngram_containment_supersets(spark):
    from spartan2_spark.operators.dedup import ngram_containment_join

    core = "alpha beta gamma delta epsilon zeta"          # 4 trigrams
    wrapper = "intro words here " + core + " outro trailer text tail"
    df = spark.createDataFrame(
        [(1, core), (2, wrapper), (3, "totally unrelated words only")],
        "doc_id long, text string",
    )
    out = {(r.id_a, r.id_b): r for r in
           ngram_containment_join(df, threshold=0.5).collect()}
    # all 4 of core's trigrams appear inside wrapper -> containment 1.0
    # in the A-direction even though Jaccard is well under 0.5
    r = out[(1, 2)]
    assert r.cont_a == 1.0 and r.cont_b < 0.5
    assert (1, 3) not in out and (2, 3) not in out


def test_lsh_label_purity_separated_vs_random(spark):
    from spartan2_spark.operators.similarity import lsh_label_purity

    dim = 8
    # two well-separated label clusters on opposite axes -> near-pure
    # buckets; labels assigned at random to the SAME points -> purity
    # drops toward the 0.5 prior
    rows = []
    for i in range(40):
        base = [0.0] * dim
        base[0] = 1.0 + 0.001 * i
        rows.append((i, [float(x) for x in base], 0))
    for i in range(40):
        base = [0.0] * dim
        base[1] = -1.0 - 0.001 * i
        rows.append((100 + i, [float(x) for x in base], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pure = lsh_label_purity(df, n_planes=8, dim=dim).collect()[0]
    assert pure.n_vecs == 80 and pure.purity == 1.0
    # shuffled labels: same geometry, label signal destroyed
    shuffled = df.withColumn(
        "label", (F.col("vec_id") % 2).cast("int")
    )
    mixed = lsh_label_purity(shuffled, n_planes=8, dim=dim).collect()[0]
    assert mixed.purity < 1.0


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    import __spark_entry__ as E
    import duckdb

    out = E.queries()["weighted_sample"](spark, sf_dir).collect()
    assert len(out) == 20 and len({r.doc_id for r in out}) == 20
    # expected-weight property: the sampled docs' mean length should
    # exceed the corpus mean (long docs are proportionally likelier)
    corpus_mean = duckdb.sql(
        f"SELECT avg(n_chars) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    sample_mean = sum(r.n_chars for r in out) / len(out)
    assert sample_mean > corpus_mean


def test_decontaminate_flags_planted_leak(spark):
    from spartan2_spark.operators.dedup import decontaminate

    leak = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            ("c1", leak + " with extra trailing words appended here"),
            ("c2", "completely unrelated text about spark aggregation plans"),
            ("c3", "the quick brown fox appears briefly"),  # 2 shared trigrams
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([("b1", leak)], ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in decontaminate(
            corpus, bench, "text", "doc_id", n=3, min_overlap=5
        ).collect()
    }
    assert len(out) == 3  # every corpus doc reported, clean ones included
    assert out["c1"].contaminated and out["c1"].n_hit >= 8
    assert not out["c2"].contaminated and out["c2"].n_hit == 0
    # partial overlap below the threshold stays clean but is counted
    assert not out["c3"].contaminated and 0 < out["c3"].n_hit < 5


def test_sorted_neighborhood_pairs_window_and_determinism(spark):
    from pyspark.sql import functions as F

    from spartan2_spark.operators.dedup import sorted_neighborhood_pairs

    # block order by (bk, id): b1 < b2 < b3 < c1 < d1
    rows = [("d1", "delta"), ("b2", "bravo"), ("c1", "charlie"),
            ("b1", "bravo"), ("b3", "bravo")]
    df = spark.createDataFrame(rows, ["doc_id", "bk"])
    out = sorted_neighborhood_pairs(
        df, [F.col("bk"), F.col("doc_id")], "doc_id", window=3
    )
    got = {(r.id_a, r.id_b): r.rank_gap for r in out.collect()}
    # each row pairs with its next 2 neighbours in (bk, id) order
    assert got == {
        ("b1", "b2"): 1, ("b1", "b3"): 2,
        ("b2", "b3"): 1, ("b2", "c1"): 2,
        ("b3", "c1"): 1, ("b3", "d1"): 2,
        ("c1", "d1"): 1,
    }
    # order of input rows must not change the pair set
    out2 = sorted_neighborhood_pairs(
        df.orderBy(F.desc("doc_id")), [F.col("bk"), F.col("doc_id")],
        "doc_id", window=3,
    )
    assert {(r.id_a, r.id_b): r.rank_gap for r in out2.collect()} == got


def test_minhash_verify_join_matches_broadcast(spark, monkeypatch):
    """Past the broadcast cap the verify shuffle-joins the hash sets;
    that branch must give IDENTICAL pairs and jaccards to the broadcast
    kernel — including short (<n chars), empty, and non-ASCII
    documents."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dogs"),
        (3, "abc"),  # shorter than shingle_n -> one whole-text shingle
        (4, ""),  # empty: split('','')=[''], ascii('')=0 -> hash 0
        (5, "héllo wörld ünïcode çharacters £¥€ test string"),
        (6, "héllo wörld ünïcode çharacters £¥€ test strings"),
        (7, "abc"),  # identical short doc -> J=1 pair with 3
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(k=16, bands=4, jaccard_threshold=0.1)
    broadcast = sorted(map(tuple, DD.minhash_lsh_pairs(d, **kw).collect()))
    monkeypatch.setattr(DD, "_VERIFY_BROADCAST_BYTES", 0)
    joined = sorted(map(tuple, DD.minhash_lsh_pairs(d, **kw).collect()))
    assert joined == broadcast
    assert (3, 7, 1.0) in broadcast


def test_minhash_arrow_kernel_values_match_sql_exprs(spark):
    """Slot-level parity: the numpy kernel's hv set and k signature
    slots equal the Catalyst expressions' values row by row."""
    from pyspark.sql import functions as F

    from spartan2_spark.functions.minhash_arrow import minhash_batches
    from spartan2_spark.operators.dedup import _POLY_P, char_shingles_expr
    from spartan2_spark.operators.text import _poly_hash

    rows = [(1, "minhash parity check text"), (2, "xy"), (3, "")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    n, k = 5, 8

    def kern(it):
        return minhash_batches(it, n=n, k=k)

    got = {
        r["id"]: r
        for r in d.select(F.col("doc_id").alias("id"), "text")
        .mapInArrow(kern, schema="id bigint, hv array<bigint>, sig array<bigint>")
        .collect()
    }
    hv = F.transform(char_shingles_expr("text", n), _poly_hash)

    def _slot(j):
        # single-parameter lambda: a second parameter would be bound to
        # the ARRAY INDEX by PySpark
        return F.array_min(
            F.transform(
                F.col("hv"),
                lambda h: (F.lit(2 * j + 1) * h + F.lit(j * j + 7)) % _POLY_P,
            )
        )

    slots = [_slot(j) for j in range(k)]
    want = {
        r["doc_id"]: r
        for r in d.withColumn("hv", hv)
        .select("doc_id", "hv", F.array(*slots).alias("sig"))
        .collect()
    }
    for i in want:
        assert sorted(set(want[i]["hv"])) == list(got[i]["hv"]), i
        assert want[i]["sig"] == list(got[i]["sig"]), i


def test_exact_substring_spans_planted(spark):
    from spartan2_spark.operators.dedup import exact_substring_spans

    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"  # 10 tokens shared verbatim
    docs = spark.createDataFrame(
        [
            (1, "a b c " + shared + " x y z"),          # span at tokens 4..13
            (2, shared + " p q"),                        # span at tokens 1..10
            (3, "nothing here matches any other doc at all ever once more"),
            (4, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),  # self-repeat
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.doc_id, r.span_start): r
        for r in exact_substring_spans(docs, "text", "doc_id", l=8).collect()
    }
    # docs 1 and 2 share a maximal 10-token span at different offsets
    assert out[(1, 4)].span_end == 13 and out[(1, 4)].span_tokens == 10
    assert out[(2, 1)].span_end == 10 and out[(2, 1)].span_tokens == 10
    # the within-doc repeat in doc 4 is found too (suffix-array semantics):
    # the 8-gram "r1..r8" occurs at positions 1 and 9 (the straddling
    # grams occur once each), giving two disjoint 8-token spans —
    # exactly the repeated-substring sites a suffix array reports
    assert out[(4, 1)].span_end == 8 and out[(4, 1)].span_tokens == 8
    assert out[(4, 9)].span_end == 16 and out[(4, 9)].span_tokens == 8
    # doc 3 is absent entirely
    assert not any(k[0] == 3 for k in out)
    assert len(out) == 4


def test_exact_substring_dedup_text_keep_first(spark):
    from spartan2_spark.operators.dedup import exact_substring_dedup_text

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly l=8 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),   # first occurrence — kept intact
            (2, "head " + shared),           # later occurrence — span removed
            (3, "no duplicate content in this one at all whatsoever today"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in exact_substring_dedup_text(docs, "text", "doc_id", l=8).collect()
    }
    assert len(out) == 3  # every doc reported, clean ones included
    assert out[1].text_clean == shared + " tail1 tail2"
    assert out[1].n_removed_tokens == 0
    assert out[2].text_clean == "head"
    assert out[2].n_removed_tokens == 8
    assert out[3].n_removed_tokens == 0


def test_bucket_pairs_verify_kernel_parity():
    """The vectorized expand+verify kernel must reproduce brute-force
    pair intersections exactly, across chunked emits, duplicate buckets
    (cross-band repeats), and both integer and string doc ids."""
    import pyarrow as pa

    from spartan2_spark.functions.minhash_arrow import (
        bucket_pairs_verify_batches,
    )

    rng = np.random.default_rng(7)
    hv_map = {
        i: np.unique(rng.integers(0, 50, size=int(s)).astype(np.int64))
        for i, s in enumerate(rng.integers(1, 20, size=12))
    }
    buckets = [[0, 1, 2, 3], [2, 3], [4, 5, 6, 7, 8], [0, 1, 2, 3], [9], []]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(buckets, type=pa.list_(pa.int64()))], names=["ids"]
    )
    got = {}
    # emit_rows=3 forces multiple flushes mid-bucket
    for out in bucket_pairs_verify_batches(iter([batch]), hv_map, emit_rows=3):
        d = out.to_pydict()
        for a, b, it, na, nb in zip(
            d["id_a"], d["id_b"], d["inter"], d["nv_a"], d["nv_b"]
        ):
            got[(a, b)] = (it, na, nb)
    expect = {}
    for ids in buckets:
        for x in range(len(ids) - 1):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                expect[(a, b)] = (
                    int(np.intersect1d(hv_map[a], hv_map[b]).shape[0]),
                    int(hv_map[a].shape[0]),
                    int(hv_map[b].shape[0]),
                )
    assert got == expect

    # string ids go through the list (non-numpy) emit path
    smap = {f"d{i}": v for i, v in hv_map.items()}
    sbatch = pa.RecordBatch.from_arrays(
        [pa.array([["d0", "d1", "d2"]], type=pa.list_(pa.string()))],
        names=["ids"],
    )
    (sout,) = bucket_pairs_verify_batches(iter([sbatch]), smap)
    sd = sout.to_pydict()
    assert sd["id_a"] == ["d0", "d0", "d1"]
    assert sd["id_b"] == ["d1", "d2", "d2"]
    for a, b, it in zip(sd["id_a"], sd["id_b"], sd["inter"]):
        assert it == int(np.intersect1d(smap[a], smap[b]).shape[0])


def test_paragraph_dedup_keeps_global_first_and_structure(spark):
    from spartan2_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            ("a", "alpha\n\nshared para\nomega"),
            ("b", "shared para\nbeta"),
            ("c", "  shared para \ngamma"),
        ],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, "text", "doc_id").collect()
    }
    # first site keeps everything byte-identically, incl. the blank line
    assert out["a"]["text_clean"] == "alpha\n\nshared para\nomega"
    assert out["a"]["n_paras"] == 4 and out["a"]["n_kept"] == 4
    # later exact occurrence cut
    assert out["b"]["text_clean"] == "beta"
    assert out["b"]["n_paras"] == 2 and out["b"]["n_kept"] == 1
    # trim-normalized occurrence cut too (whitespace variants hash equal)
    assert out["c"]["text_clean"] == "gamma"
    # kept lines elsewhere keep their original bytes
    docs2 = spark.createDataFrame(
        [("a", "  padded  \nx"), ("b", "padded\ny")],
        "doc_id string, text string",
    )
    out2 = {
        r["doc_id"]: r["text_clean"]
        for r in paragraph_dedup(docs2, "text", "doc_id").collect()
    }
    assert out2["a"] == "  padded  \nx"  # first site: raw bytes, not trim
    assert out2["b"] == "y"


def test_paragraph_dedup_partitioning_invariance(spark):
    from spartan2_spark.operators.dedup import paragraph_dedup

    rows = [
        (f"d{i:03d}", f"unique {i}\ncommon footer\n\nbody {i % 3}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    a = sorted(
        paragraph_dedup(docs, "text", "doc_id").collect(),
        key=lambda r: r["doc_id"],
    )
    b = sorted(
        paragraph_dedup(docs.repartition(7), "text", "doc_id").collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # the global first doc keeps the footer; everyone else loses it
    byid = {r["doc_id"]: r for r in a}
    assert "common footer" in byid["d000"]["text_clean"]
    assert all(
        "common footer" not in byid[f"d{i:03d}"]["text_clean"]
        for i in range(1, 30)
    )
    # body {0,1,2} survive only at their first sites d000, d001, d002
    assert sum(
        1 for r in a if f"body" in r["text_clean"]
    ) == 3


def test_dedup_keep_best_keeps_longest(spark):
    """Planted near-dup cluster: the LONGEST member is canonical
    (not the min id), singletons keep themselves, exactly one keep
    per cluster."""
    import pandas as pd

    from spartan2_spark.operators.dedup import dedup_keep_best

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),                      # near-dup of 2, shorter
        (2, base + "extra tail words"),  # longest -> canonical
        (3, "completely different content about spark shuffles " * 6),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r.id: r for r in dedup_keep_best(
        df, k=16, bands=8, jaccard_threshold=0.5
    ).collect()}
    assert out[1].cluster == out[2].cluster == 1  # min-label component
    assert out[2].keep == 1 and out[1].keep == 0  # longest wins, not min id
    assert out[3].keep == 1 and out[3].cluster == 3
    assert sum(r.keep for r in out.values()) == 2


def test_dup_rate_by_source_planted(spark):
    """Planted cross-source dup: membership counted in BOTH sources,
    canonical attributed to the min-id holder's group."""
    import pandas as pd

    from spartan2_spark.operators.dedup import dup_rate_by_source

    rows = [
        (1, "same content", "a"),
        (2, "same content", "b"),   # dup of 1, canonical is id 1 in a
        (3, "unique one", "a"),
        (4, "unique two", "b"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    out = {r.grp: r for r in dup_rate_by_source(df).collect()}
    assert out["a"].n_docs == 2 and out["a"].n_dup_docs == 1
    assert out["a"].n_dup_canonicals == 1 and out["a"].dup_ratio == 0.5
    assert out["b"].n_dup_docs == 1 and out["b"].n_dup_canonicals == 0


def test_kmeans_fixedpoint_matches_python_reference(spark):
    """The Spark rounds reproduce a pure-Python integer Lloyd
    reference (quantize -> exact sq dist -> lowest-id tie break ->
    floor centroid update) exactly, and two planted blobs separate."""
    import pandas as pd

    from spartan2_spark.operators.similarity import kmeans_fixedpoint

    # blob A around (1, 1, ...), blob B around (-1, -1, ...); seeds are
    # vec 0 (in A) and vec 1 (deliberately also in A — the second round
    # must still pull B's members onto the updated centroid)
    vecs = {
        0: [1.0, 1.1, 0.9, 1.0], 1: [1.2, 0.8, 1.0, 1.1],
        2: [0.9, 1.0, 1.1, 0.8], 3: [-1.0, -1.1, -0.9, -1.0],
        4: [-1.2, -0.8, -1.0, -1.1], 5: [-0.9, -1.0, -1.1, -0.8],
    }
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(vecs), "embedding": list(vecs.values())})
    )
    k, rounds, quant = 2, 2, 10_000
    q = {i: [round(v * quant) for v in vs] for i, vs in vecs.items()}
    cent = {i: q[i][:] for i in sorted(q)[:k]}

    def assign(c):
        out = {}
        for i, vq in q.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(vq, cv)), cl)
                for cl, cv in c.items()
            )
            out[i] = (best[1], best[0])
        return out

    import math
    for _ in range(rounds):
        asg = assign(cent)
        cent = {}
        for cl in {a[0] for a in asg.values()}:
            members = [q[i] for i, a in asg.items() if a[0] == cl]
            cent[cl] = [
                math.floor(sum(col) / len(members)) for col in zip(*members)
            ]
    want = assign(cent)

    got = {r.vec_id: (r.cluster, r.dist_sq)
           for r in kmeans_fixedpoint(df, k=k, rounds=rounds).collect()}
    assert got == want
    # the two blobs end in different clusters
    assert len({got[i][0] for i in (0, 1, 2)}) == 1
    assert len({got[i][0] for i in (3, 4, 5)}) == 1
    assert got[0][0] != got[3][0]


def test_bloom_fpr_audit_exact(spark):
    """The relational Bloom measures exactly: members always pass
    (sanity via probing the members themselves yields FPR 0 against a
    disjoint probe set computed by hand), bits/load/fpr are exact."""
    import pandas as pd

    from spartan2_spark.operators.dedup import bloom_fpr_audit
    from spartan2_spark.operators.spectral import _POLY_P

    members = ["m1", "m2", "m3"]
    probes = ["p1", "p2", "p3", "p4"]
    m_bits, k = 16, 2

    def poly(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % _POLY_P
        h = (h * 48271) % _POLY_P
        return (h * 48271) % _POLY_P

    def pos(s):
        h = poly(s)
        return {(h * (2 * i + 1) + 97 * i) % m_bits for i in range(k)}

    bitset = set().union(*(pos(s) for s in members))
    want_fp = sum(1 for p in probes if pos(p) <= bitset)

    mdf = spark.createDataFrame(pd.DataFrame({"key": members}))
    pdf = spark.createDataFrame(pd.DataFrame({"key": probes}))
    r = bloom_fpr_audit(mdf, pdf, m_bits=m_bits, k_hashes=k).collect()[0]
    assert r.n_members == 3 and r.n_probes == 4
    assert r.bits_set == len(bitset)
    assert r.n_fp == want_fp
    assert r.load_ppm == len(bitset) * 1_000_000 // m_bits
    assert r.fpr_ppm == want_fp * 1_000_000 // 4


def test_bloom_fpr_audit_all_probes_are_members(spark):
    """probes subset of members -> zero probe rows after the anti-join:
    n_fp and fpr_ppm must read 0, never NULL."""
    import pandas as pd

    from spartan2_spark.operators.dedup import bloom_fpr_audit

    mdf = spark.createDataFrame(pd.DataFrame({"key": ["a", "b", "c"]}))
    pdf = spark.createDataFrame(pd.DataFrame({"key": ["a", "b"]}))
    r = bloom_fpr_audit(mdf, pdf, m_bits=16, k_hashes=2).collect()[0]
    assert r.n_probes == 0 and r.n_fp == 0 and r.fpr_ppm == 0
