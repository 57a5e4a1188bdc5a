"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All JVM-side column expressions (split/regexp/higher-order array fns);
the stopword tables are literal arrays (broadcast by constant folding),
so every op is a single codegen'd projection over the documents scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = [
    "extract_text",
    "tokens_expr",
    "token_count",
    "char_lm_counts",
    "lm_perplexity",
    "quality_score",
    "lang_id",
    "fingerprint_bottom_k",
    "word_ngrams",
    "repetition_stats",
    "c4_line_filters",
    "pii_scrub",
    "canonicalize_url",
    "winnowing_fingerprint",
    "corpus_cross_entropy",
    "tfidf_top_terms",
    "zipf_slope",
    "vocab_hapax",
    "pmi_collocations",
    "doc_entropy",
    "phrase_match",
    "ngram_novelty",
    "bm25_scores",
    "url_template_stats",
    "boilerplate_lines",
    "boilerplate_strip",
    "outlink_domain_graph",
]

# tiny per-language function-word lists for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "en", "que"],
    "pt": ["o", "a", "os", "e", "de", "um", "uma", "em", "que", "para"],
}


def tokens_expr(text_col: str = "text") -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), " +")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (chars/4 heuristic
    blended with word count, the common pretraining-corpus yardstick)."""
    toks = F.size(tokens_expr(text_col))
    return df.withColumn("n_tokens", toks.cast("long")).withColumn(
        "n_subwords_est",
        F.ceil(F.length(text_col) / 4.0).cast("long"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length
    features + a composite [0,1] score (C4/Gopher-style heuristics)."""
    toks = tokens_expr(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[^.,;:!?]", ""))
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    mean_wlen = n_chars / F.greatest(n_tok, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    score = (
        F.when(n_tok < 5, 0.0)
        .otherwise(
            F.least(n_tok / 200.0, F.lit(1.0)) * 0.25
            + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.25
            + alpha_ratio * 0.25
            + F.when((mean_wlen >= 3) & (mean_wlen <= 12), 0.25).otherwise(0.0)
        )
    )
    return df.select(
        "*",
        n_tok.cast("long").alias("q_n_tokens"),
        # the three ratios are SINGLE divides of exact integer counts —
        # emitted RAW per the float-oracle discipline; only the
        # composite score is a multi-op chain and keeps its round(8)
        punct_ratio.alias("q_punct_ratio"),
        stop_ratio.alias("q_stop_ratio"),
        mean_wlen.alias("q_mean_word_len"),
        F.round(score, 8).alias("q_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language heuristic: argmax over per-language
    function-word hit counts; 'und' (undetermined) when no hits."""
    toks = tokens_expr(text_col)

    def _contains(arr):
        # NB: the lambda must be unary — pyspark derives the SQL lambda
        # arity from the Python signature, so no default-arg closures
        return lambda t: F.array_contains(arr, t)

    scores = [
        F.struct(
            F.size(
                F.filter(toks, _contains(F.array(*[F.lit(w) for w in ws])))
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(LANG_STOPWORDS.items())
    ]
    best = F.array_max(F.array(*scores))
    return df.select(
        "*",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["hits"].alias("lang_hits"),
    )


_POLY_P = 2147483647  # 2^31 - 1; products stay < 2^62 (ANSI-safe)
_POLY_M = 1000003


def _poly_hash(col):
    """Engine-portable polynomial string hash: fold (h*31 + code) mod p
    over the characters — bit-identical in any SQL engine with BIGINT
    arithmetic, so the DuckDB oracle twins reproduce it."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda h, c: (h * 31 + F.ascii(c)) % _POLY_P,
    )


def fingerprint_bottom_k(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 8,
    k: int = 16,
) -> DataFrame:
    """Document fingerprint: bottom-k of rolling char-shingle hashes
    (a winnowing-family content sketch; two docs' fingerprint overlap
    estimates their containment).

    Shingles hash with the portable polynomial hash, so the DuckDB
    oracle twin computes the same values."""
    from spartan2_spark.operators.dedup import char_shingles_expr

    hashes = F.transform(char_shingles_expr(text_col, shingle_n), _poly_hash)
    fp_hash = F.aggregate(
        F.col("fingerprint"),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * _POLY_M + h) % _POLY_P,
    )
    bottom_k = F.slice(F.sort_array(hashes), 1, k)
    return df.withColumn("fingerprint", bottom_k).withColumn("fp_hash", fp_hash)


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings, built from array ops only
    (no explode): element i pairs with the following n-1 tokens via the
    (element, index) two-arg lambda form.

    Pass ``toks`` as a BOUND COLUMN (select/alias the array first), not
    an inline split() expression: element_at inside the lambda would
    re-evaluate an inline expression per element — O(n^2) per doc."""
    if n < 2:
        return toks
    head = F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    # two-arg lambda: i is the 0-based index, so head[i] == toks[i+1]
    # (1-based) and the gram spans toks[i+1 .. i+n]
    return F.transform(
        head,
        lambda t, i: F.concat_ws(
            " ", t, *[F.element_at(toks, i + j + 1) for j in range(1, n)]
        ),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, table A1):
    duplicate-line fraction, duplicate word-3-gram fraction, and the
    fraction of the doc covered by its single most frequent word
    2-gram. High values flag boilerplate / spam / scraped nav bars.

    Entirely one codegen projection per doc — NO shuffle: the
    top-2-gram mode is the longest equal-run of the SORTED gram array
    (equal grams are adjacent after array_sort), found with a
    transform + aggregate fold instead of the explode -> groupBy(doc,
    gram) -> max plan, which shuffled every gram of the corpus twice
    (~n_tokens rows per doc; the dominant cost at any scale). All
    outputs are single divisions of exact integers -> value-exact
    across engines. NULL text is treated as empty (Spark's
    size(NULL) = -1 would otherwise silently poison the fractions).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # materialize the token/line arrays as columns BEFORE the n-gram
    # lambdas: element_at inside transform() would otherwise re-evaluate
    # the split() expression per element — O(n^2) splits per doc
    # (measured 7x on the sf0.001 bench)
    arr = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.lower(txt)), " +").alias("tok"),
        F.split(txt, "\n").alias("lines"),
    )
    toks = F.col("tok")
    lines = F.col("lines")
    n_lines = F.size(lines)
    g3 = word_ngrams(toks, 3)
    # g2s must be a BOUND column before the run-fold below references
    # it with element_at (inline it and the sort re-runs per element)
    arr = arr.select(
        "id", "tok", "lines", F.array_sort(word_ngrams(toks, 2)).alias("g2s")
    )
    # mode count == longest equal-run of the sorted gram array; the
    # fold walks adjacent-equality flags once, O(n) per doc, JVM-side.
    # size <= 1 short-circuits: sequence(2, 1) would count DOWN, and
    # ANSI element_at would then throw on the out-of-range index.
    top2_cnt = F.expr(
        """
        CASE WHEN size(g2s) <= 1 THEN CAST(size(g2s) AS BIGINT) ELSE
          aggregate(
            transform(sequence(2, size(g2s)),
                      i -> IF(element_at(g2s, i) = element_at(g2s, i - 1), 1, 0)),
            named_struct('run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
            (acc, e) -> named_struct(
              'run', IF(e = 1, acc.run + 1, CAST(0 AS BIGINT)),
              'best', greatest(acc.best,
                               IF(e = 1, acc.run + 1, CAST(0 AS BIGINT)))),
            acc -> acc.best) + 1
        END
        """
    )
    return arr.select(
        "id",
        F.size(toks).cast("long").alias("n_tokens"),
        n_lines.cast("long").alias("n_lines"),
        # each fraction is ONE IEEE divide (numerator/denominator stay
        # in exact integer arithmetic) — emitted RAW per the
        # float-oracle discipline
        (
            (n_lines - F.size(F.array_distinct(lines)))
            / F.greatest(n_lines, F.lit(1))
        ).alias("dup_line_frac"),
        (
            (F.size(g3) - F.size(F.array_distinct(g3)))
            / F.greatest(F.size(g3), F.lit(1))
        ).alias("dup_3gram_frac"),
        (
            top2_cnt / F.greatest(F.size(toks) - 1, F.lit(1))
        ).alias("top_2gram_frac"),
    )


def c4_line_filters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style line/document heuristics (Raffel et al. 2020 §2.2):
    fraction of lines ending in terminal punctuation, short-line
    fraction, curly-brace / 'javascript' / 'lorem ipsum' flags, and a
    keep/drop verdict. One codegen projection per doc — no shuffle.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))  # NULL text == empty
    lines = F.split(txt, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    def _frac(pred):
        return F.size(F.filter(lines, pred)) / n_lines
    end_punct = _frac(
        lambda l: F.substring(F.rtrim(l), -1, 1).isin(".", "!", "?", '"')
    )
    short_lines = _frac(lambda l: F.length(F.trim(l)) < 30)
    low = F.lower(txt)
    has_curly = F.contains(low, F.lit("{")).cast("long")
    has_js = F.contains(low, F.lit("javascript")).cast("long")
    has_lorem = F.contains(low, F.lit("lorem ipsum")).cast("long")
    n_tok = F.size(F.split(F.trim(F.lower(txt)), " +"))
    keep = (
        (F.round(end_punct, 8) >= 0.2)
        & (n_tok >= 5)
        & (has_curly + has_lorem == 0)
    ).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.round(end_punct, 8).alias("end_punct_frac"),
        F.round(short_lines, 8).alias("short_line_frac"),
        has_curly.alias("has_curly"),
        has_js.alias("has_javascript"),
        has_lorem.alias("has_lorem"),
        keep.alias("keep"),
    )


def extract_text(
    pages: DataFrame, html_col: str = "html", out_col: str = "extracted_text"
) -> DataFrame:
    """Derive page text from raw ``html`` bytes, entirely JVM-side.

    The crawl input carries both html and (pre-extracted) text; this is
    the extraction step a pipeline runs when only the html bytes exist:
    decode UTF-8 -> drop <script>/<style>/comment blocks -> strip tags
    -> decode the common entities. Pure regexp_replace/replace chains
    (whole-stage codegen, no UDF), restricted to RE2-compatible
    patterns (non-greedy, no backreferences) so the DuckDB oracle twin
    evaluates the identical pipeline — the html_extract_text driver
    query cross-checks the two engines value-exact.

    Deliberately byte-conservative: no whitespace collapsing, so
    extraction of ``<body>TEXT</body>`` returns TEXT byte-identically
    (the north-rule invariant, proven on the synthetic pages in
    tests/test_text_extract.py).
    """
    s = F.decode(F.col(html_col), "UTF-8")
    s = F.regexp_replace(s, r"(?s)<script[^>]*>.*?</script>", "")
    s = F.regexp_replace(s, r"(?s)<style[^>]*>.*?</style>", "")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", "")
    s = F.regexp_replace(s, r"<[^>]*>", "")
    # &amp; LAST so "&amp;lt;" decodes to the literal "&lt;", not "<"
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return pages.withColumn(out_col, s)


PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9()\-\. ]{6,}[0-9]"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask emails and phone-number-shaped spans with fixed
    placeholders and count what was masked — the pre-training privacy
    scrub pass. Pure regexp_replace/regexp_count chains (whole-stage
    codegen, no UDF), patterns restricted to RE2-compatible syntax (no
    backreferences/lookaround) so any engine applies the identical
    rule. Emails are masked before phones so digits inside an already
    masked address can't double-count.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_email = F.regexp_count(txt, F.lit(PII_EMAIL_RE))
    masked1 = F.regexp_replace(txt, PII_EMAIL_RE, "<EMAIL>")
    n_phone = F.regexp_count(masked1, F.lit(PII_PHONE_RE))
    masked = F.regexp_replace(masked1, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("id"),
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
        masked.alias("scrubbed"),
    )


def canonicalize_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canon_url"
) -> DataFrame:
    """Canonical URL form for crawl dedup/grouping: lowercase scheme +
    host, strip the default port (:80 http / :443 https), drop the
    fragment, drop tracking params (utm_*, gclid, fbclid), sort the
    surviving query params. Pure string/array expressions (split /
    substring_index / filter / sort — no regex captures), so the exact
    same rule runs on any engine.
    """
    u = F.substring_index(F.coalesce(F.col(url_col), F.lit("")), "#", 1)
    scheme = F.lower(F.substring_index(u, "://", 1))
    after = F.substring_index(u, "://", -1)
    hostport = F.substring_index(after, "/", 1)
    # path+query = everything from the first '/' after the authority
    # (instr-based: substring_index can't express "rest after host"
    # when the path itself contains '/')
    pathq = F.expr(
        f"CASE WHEN instr(substring_index(substring_index(coalesce({url_col}, ''), '#', 1), '://', -1), '/') = 0 THEN '' "
        f"ELSE substring(substring_index(substring_index(coalesce({url_col}, ''), '#', 1), '://', -1), "
        f"instr(substring_index(substring_index(coalesce({url_col}, ''), '#', 1), '://', -1), '/')) END"
    )
    path = F.substring_index(pathq, "?", 1)
    query = F.when(
        F.length(pathq) > F.length(path),
        F.substring_index(pathq, "?", -1),
    ).otherwise(F.lit(""))
    host = F.lower(hostport)
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring_index(host, ":", 1),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring_index(host, ":", 1),
    ).otherwise(host)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.startswith("utm_")
        & ~p.startswith("gclid=")
        & ~p.startswith("fbclid="),
    )
    qcanon = F.array_join(F.sort_array(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.length(qcanon) > 0, F.concat(F.lit("?"), qcanon)).otherwise(
            F.lit("")
        ),
    )
    return df.withColumn(out_col, canon)


def winnowing_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    aggregate: bool = True,
) -> DataFrame:
    """Winnowing document fingerprint (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char k-gram, slide a
    w-window over the hash sequence, keep each window's minimum; the
    distinct kept hashes are the fingerprint. Guarantees any match of
    length >= w+k-1 between two docs shares a fingerprint — the
    position-robust near-dup/containment sketch (bottom-k fingerprints
    miss localized overlap; winnowing cannot).

    Plan: positions exploded JVM-side, ONE partitioned rolling-min
    window (doc-bounded), then a per-doc re-aggregate — scale-safe at
    any corpus size since no state crosses a document.

    Returns (id, n_fp, min_fp, max_fp, fp_sum): the distinct-set
    cardinality + extremes + exact BIGINT checksum (portable poly
    hashes, value-exact on any engine). Docs shorter than k+w-1 chars
    have no full window and are absent.
    """
    from pyspark.sql import Window as W

    t = F.coalesce(F.col(text_col), F.lit(""))
    n_sh = F.length(t) - (k - 1)
    positions = F.when(
        n_sh >= w, F.sequence(F.lit(1), n_sh)
    ).otherwise(F.array().cast("array<int>"))
    sh = df.select(
        F.col(id_col).alias("id"), t.alias("_t"),
        F.explode(positions).alias("i"),
    ).select(
        "id", "i",
        _poly_hash(F.expr(f"substring(_t, i, {k})")).alias("h"),
    )
    win = (
        W.partitionBy("id").orderBy("i").rowsBetween(-(w - 1), 0)
    )
    fps = (
        sh.withColumn("fp", F.min("h").over(win))
        .filter(F.col("i") >= w)
        .select("id", "fp")
        .distinct()
    )
    if not aggregate:
        return fps
    return fps.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
        F.sum("fp").alias("fp_sum"),
    )


def corpus_cross_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram cross-entropy of each doc against the corpus LM — the
    CCNet/C4-style perplexity proxy (docs far from the corpus
    distribution are boilerplate or noise):

        H(d) = -(1/n_d) sum_t log2(tf(t)/N) = log2(N) - sum log2(tf)/n_d

    Corpus term frequencies are one hash aggregation; the per-doc pass
    re-joins exploded tokens on the term (shuffle equi-join — the
    standard inverted-index shape). log2 over exact BIGINT counts plus
    round(8) is the cross-engine-proven xlogx convention.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("t")
    )
    tf = toks.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").cast("long").alias("N"))
    per_doc = (
        toks.join(tf, "t")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log2(F.col("tf").cast("double"))).alias("_slog"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col("id").alias(id_col),
        F.col("n_tokens"),
        F.round(
            F.log2(F.col("N").cast("double"))
            - F.col("_slog") / F.col("n_tokens"),
            8,
        ).alias("cross_entropy_bits"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-k distinctive terms per doc by the tf/df ratio (the
    rare-across-corpus, frequent-in-doc score — idf without the log so
    the ranking stays a single exact division). Ties break on token
    asc. Partitioned row_number window; df counts are one aggregation
    re-joined on the term.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("t")
    )
    tf = toks.groupBy("id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "t").withColumn(
        "score", F.col("tf") / F.col("df")
    )
    w = W.partitionBy("id").orderBy(
        F.desc("score"), F.asc("t")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col), "rank", F.col("t").alias("token"),
            "tf", "df", F.round("score", 8).alias("score"),
        )
    )


def zipf_slope(df: DataFrame, text_col: str = "text", top_n: int = 200) -> DataFrame:
    """Zipf rank-frequency slope of the corpus vocabulary: OLS of
    ln(freq) on ln(rank) over the top_n tokens — natural text sits
    near -1; far-off slopes flag templated/spammy or synthetic
    corpora (a standard pretraining-data QA probe).

    Exactness: per-term ln values are quantized to 1e-5 integers
    BEFORE the moment sums (a raw double Σxy is reduction-order-
    dependent), so the normal-equation numerator/denominator are exact
    BIGINTs; rank comes from a triangular broadcast self-join on the
    bounded top_n frame (ties broken by token), not a global window.
    """
    counts = (
        df.select(F.explode(tokens_expr(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(top_n)
    b = top.select(F.col("token").alias("btok"), F.col("cnt").alias("bcnt"))
    ranked = (
        top.join(
            F.broadcast(b),
            (F.col("bcnt") > F.col("cnt"))
            | ((F.col("bcnt") == F.col("cnt")) & (F.col("btok") <= F.col("token"))),
        )
        .groupBy("token", "cnt")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    q = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 1e5).cast("long").alias("xq"),
        F.round(F.log(F.col("cnt").cast("double")) * 1e5).cast("long").alias("yq"),
    )
    agg = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        F.col("n").alias("n_terms"),
        F.round(F.when(den != 0, num / den), 8).alias("slope"),
    )


def vocab_hapax(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus lexical-diversity scalars: vocabulary size, token count,
    hapax-legomenon count (words seen once) and their ratios. High
    hapax fraction + high TTR = diverse natural text; both collapsing
    = boilerplate or dedup failure. One explode + two combinable
    aggregations; exact integers + single divisions.
    """
    counts = (
        df.select(F.explode(tokens_expr(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.round(F.count(F.lit(1)) / F.sum("cnt"), 8).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            8,
        ).alias("hapax_frac"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
    min_count: int = 5,
) -> DataFrame:
    """Top word-bigram collocations by pointwise mutual information
    PMI = ln( p(xy) / (p(x)p(y)) ) — the classic collocation miner
    (Church & Hanks 1990) used for tokenizer-vocab seeding and
    multiword-expression detection over a pretraining corpus.

    Counts are exact integers; each bigram's PMI is one deterministic
    double expression (division chain + ln) so the top_n cut (PMI
    desc, gram tie-break) lands identically on any engine.
    ``min_count`` drops noise pairs whose PMI is inflated by tiny
    denominators. Plan: one explode per arity, two broadcast-scalar
    joins, two keyed equi-joins against the unigram counts, then
    TakeOrderedAndProject — no windows.
    """
    arr = df.select(tokens_expr(text_col).alias("tok"))
    uni = (
        arr.select(F.explode("tok").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_tok = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    big = (
        arr.select(F.explode(word_ngrams(F.col("tok"), 2)).alias("gram"))
        .select(
            "gram",
            F.split("gram", " ").getItem(0).alias("w1"),
            F.split("gram", " ").getItem(1).alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("gram", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    n_big = big.agg(F.sum("c_xy").cast("long").alias("n_big"))
    j = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
    )
    pmi = F.log(
        (F.col("c_xy") / F.col("n_big"))
        / ((F.col("c_x") / F.col("n_uni")) * (F.col("c_y") / F.col("n_uni")))
    )
    return (
        j.select("gram", "c_xy", F.round(pmi, 8).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "gram")
        .limit(top_n)
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1_centi: int = 120,
    b_centi: int = 75,
    top_k: int = 100,
) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a bag of query terms —
    the scoring complement of :func:`phrase_match`'s boolean retrieval
    and the consumer of the index ``postings_plan`` sizes. Classic
    formula (Robertson & Spärck Jones), k1/b passed as exact centi
    integers (defaults 1.2 / 0.75).

    Exactness discipline (same as ``adamic_adar``): each (doc, term)
    partial score is one deterministic double expression, quantized to
    ``round(1e6 * s)`` BIGINT BEFORE the per-doc sum — the reduction is
    an order-independent integer sum, so the ranking and every emitted
    score are engine-exact. IDF uses the standard
    ``ln((N - df + 0.5) / (df + 0.5) + 1)`` (always positive).

    Plan shape: one explode -> (doc, term) tf aggregate filtered to
    the query's own terms INSIDE the aggregate's input (postings-sized
    relations only), a broadcast of the O(|query|) df relation and the
    2-scalar corpus stats, one per-doc sum, TakeOrdered top-k. At 10^12
    docs the only data-sized exchange is the (doc, term) tf aggregate
    over query-term postings.
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = df.select(
        F.col(id_col).alias("id"), tokens_expr(text_col).alias("tok")
    )
    dl = toks.select("id", F.size("tok").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        toks.select("id", F.explode("tok").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    k1 = F.lit(k1_centi).cast("double") / F.lit(100.0)
    b = F.lit(b_centi).cast("double") / F.lit(100.0)
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        (
            (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        + F.lit(1.0)
    )
    tfn = (
        F.col("tf").cast("double") * (k1 + F.lit(1.0))
    ) / (
        F.col("tf").cast("double")
        + k1 * (F.lit(1.0) - b + b * F.col("dl").cast("double") / avgdl)
    )
    part = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            F.round(F.lit(1e6) * idf * tfn).cast("long").alias("score_q"),
        )
    )
    scored = part.groupBy("id").agg(
        F.sum("score_q").cast("long").alias("score_q"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    return (
        scored.orderBy(F.desc("score_q"), F.asc("id"))
        .limit(top_k)
        .select(
            "id", "n_terms_hit", "score_q",
            (F.col("score_q") / 1e6).alias("bm25"),
        )
    )


def url_template_stats(
    df: DataFrame,
    url_col: str = "url",
    min_urls: int = 2,
) -> DataFrame:
    """Crawler-trap / template census: collapse every digit run in the
    url to ``N`` and aggregate per template — a calendar trap or
    session-id explosion shows as one template with a huge distinct-url
    count (the input ``recrawl_plan``'s budget should never be spent
    on). Returns per template (>= min_urls distinct urls): fetches,
    distinct urls, max path depth, and the lexicographically smallest
    example url — all exact.

    Plan shape: the template is one regexp_replace in the scan
    projection; ONE hash aggregate on the template (count + distinct
    via two-phase expansion + min example). Template cardinality is
    site-structure-sized, not fetch-sized.
    """
    tpl = F.regexp_replace(F.col(url_col), "[0-9]+", "N")
    base = df.select(
        tpl.alias("template"),
        F.col(url_col).alias("url"),
        F.size(F.split(F.col(url_col), "/")).cast("long").alias("depth"),
    )
    return (
        base.groupBy("template")
        .agg(
            F.count(F.lit(1)).cast("long").alias("fetches"),
            F.count_distinct("url").cast("long").alias("distinct_urls"),
            F.max("depth").cast("long").alias("max_depth"),
            F.min("url").alias("example_url"),
        )
        .filter(F.col("distinct_urls") >= min_urls)
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    day_col: str = "day",
) -> DataFrame:
    """Vocabulary-growth curve: per day, distinct word n-grams observed
    vs n-grams GLOBALLY first seen that day, and their ratio — the
    n-gram-space analogue of ``first_seen_rate``'s url novelty. A
    pretraining corpus whose gram novelty decays to ~0 has stopped
    adding information regardless of how many new documents arrive —
    the dataset-growth stopping signal next to ``vocab_hapax``'s
    static tail view.

    Exactness: day is whatever exact integer/date key the caller
    binds; counts BIGINT; ratio one IEEE divide.

    Plan shape: one explode of per-doc DISTINCT grams (bounded by doc
    length), one (gram, day) dedup aggregate, then a gram-keyed
    first-seen aggregate and two O(days) day aggregates joined
    broadcast — the only gram-sized exchanges are the dedup and
    first-seen aggs; nothing joins at corpus row scale.
    """
    from spartan2_spark.operators.dedup import word_ngrams_from_tokens

    # bind the token array BEFORE gram construction: word_ngrams over an
    # inline split() re-evaluates the split per gram (O(tokens^2)/doc)
    grams = (
        df.select(
            F.col(day_col).alias("day"), tokens_expr(text_col).alias("tok")
        )
        .select("day", F.explode(word_ngrams_from_tokens("tok", n)).alias("gram"))
        .filter(F.col("gram") != "")
    )
    gd = grams.groupBy("gram", "day").agg(F.lit(1).alias("__one"))
    per_day = gd.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_grams")
    )
    first = (
        gd.groupBy("gram")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("novel_grams"))
    )
    return (
        per_day.join(F.broadcast(first), "day", "left")
        .select(
            "day",
            "distinct_grams",
            F.coalesce("novel_grams", F.lit(0)).cast("long").alias("novel_grams"),
            (
                F.coalesce("novel_grams", F.lit(0)).cast("double")
                / F.col("distinct_grams").cast("double")
            ).alias("novelty_ratio"),
        )
    )


def phrase_match(
    df: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search via positional-postings intersection — the
    query-side primitive of the inverted index ``postings_plan`` sizes.
    Tokenize (same whitespace discipline as the rest of the text
    family), posexplode into (doc, pos, term) postings, keep ONLY the
    phrase's terms, and equi-join the k aligned streams on
    (doc, pos - i): a surviving row is a contiguous occurrence.
    Returns (id, n_hits, first_pos) per matching document, 1-based
    positions — all-integer, engine-deterministic.

    Plan shape: the term filter lands INSIDE the explode projection,
    so the postings relation entering the joins holds only the
    phrase's own (rare) terms — at 100 TB this is the standard
    "rarest-term-first" search plan: each join is an equi-join on
    (doc, aligned pos) between relations already down to posting-list
    size, never a scan-wide shuffle. k-1 joins for a k-token phrase.
    """
    if not phrase:
        raise ValueError("phrase must have at least one token")
    toks = [t.lower() for t in phrase]
    postings = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(tokens_expr(text_col)).alias("i", "term"),
        )
        .filter(F.col("term").isin(toks))
        .select("id", (F.col("i") + 1).alias("pos"), "term")
    )
    out = postings.filter(F.col("term") == toks[0]).select("id", F.col("pos").alias("p0"))
    for i, t in enumerate(toks[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            "id", (F.col("pos") - i).alias("p0")
        )
        out = out.join(nxt, ["id", "p0"])
    return out.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("p0").cast("long").alias("first_pos"),
    )


def doc_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits of
    lexical spread): near-zero = one token repeated (spam/boilerplate),
    high = diverse vocabulary. The per-doc companion to the corpus
    cross-entropy filter above.

    Each token's -(c/n)ln(c/n) contribution is deterministic per
    (doc, token) group and quantized to 1e-8 BEFORE the per-doc sum,
    so the final aggregation is an order-independent integer sum —
    engine plans can differ, values cannot. One explode + two
    map-side-combinable aggregations.
    """
    cnt = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.groupBy("id").agg(F.sum("c").cast("long").alias("n"))
    term_q = F.round(
        (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n")) * 1e8
    ).cast("long")
    return (
        cnt.join(tot, "id")
        .select("id", "n", term_q.alias("tq"))
        .groupBy("id")
        .agg(
            F.first("n").alias("n_tokens"),
            (-F.sum("tq").cast("long") / 1e8).alias("entropy_nats"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_permille: int = 500,
    min_docs: int = 2,
) -> DataFrame:
    """Per-group boilerplate line detection (the CCNet/jusText family
    of web-corpus cleaners): a trimmed nonempty line is boilerplate
    for its group (site / source) when it appears in at least
    ``min_permille``/1000 of the group's documents and the group has
    at least ``min_docs`` documents — nav bars, cookie banners and
    copyright footers repeat across a site's pages while content lines
    don't. Emits every distinct (group, line) with its document
    frequency and the verdict; :func:`boilerplate_strip` applies it.

    Exactness: document frequencies and group sizes are BIGINT; the
    threshold is the integer cross-multiplication
    ``doc_freq * 1000 >= min_permille * n_docs`` (never a float
    compare); ``df_ratio`` is the one reporting-only IEEE divide.

    Plan shape: explode lines -> (group, line, doc) group-dedup with
    map-side combine -> (group, line) count -> broadcast join of the
    one-row-per-group doc counts. The exploded relation shuffles once
    on (group, line, doc) and once on (group, line); the group-count
    side is metadata-sized.
    """
    lines = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("raw"),
    ).select("grp", "id", F.trim(F.col("raw")).alias("line")).filter(
        F.col("line") != ""
    )
    doc_freq = (
        lines.groupBy("grp", "line", "id")
        .agg(F.lit(1))
        .groupBy("grp", "line")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )
    n_docs = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.countDistinct(id_col).cast("long").alias("n_docs")
    )
    return doc_freq.join(F.broadcast(n_docs), "grp").select(
        "grp",
        "line",
        "doc_freq",
        "n_docs",
        (
            F.col("doc_freq").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("df_ratio"),
        (
            (F.col("doc_freq") * 1000 >= F.lit(int(min_permille)) * F.col("n_docs"))
            & (F.col("n_docs") >= F.lit(int(min_docs)))
        )
        .cast("int")
        .alias("is_boiler"),
    )


def boilerplate_strip(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_permille: int = 500,
    min_docs: int = 2,
) -> DataFrame:
    """Apply :func:`boilerplate_lines`: rebuild each document's text
    with its group's boilerplate lines removed, preserving original
    line order byte-identically (the north rule's byte-identical-text
    discipline applied to cleaning). Documents whose every line is
    boilerplate drop out of the result (a fully-boilerplate page has
    no content to keep).

    Determinism: reconstruction sorts the surviving (pos, line) pairs
    by the explode ordinal, so output bytes are independent of
    partitioning or join order.

    Plan shape: the detection subplan from :func:`boilerplate_lines`,
    filtered to flagged lines (small by definition — lines repeating
    across half a site) and broadcast into a left-anti join against
    the posexploded corpus; one final (group, doc) aggregate rebuilds
    the text. At 100 TB the broadcast is per-group-bounded; if a
    pathological group floods it, the same anti-join runs as a shuffle
    join by dropping the broadcast hint.
    """
    boiler = (
        boilerplate_lines(
            df, group_col, id_col, text_col, min_permille, min_docs
        )
        .filter(F.col("is_boiler") == 1)
        .select("grp", "line")
    )
    pos_lines = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "raw"),
    ).withColumn("line", F.trim(F.col("raw")))
    kept = pos_lines.join(
        F.broadcast(boiler), ["grp", "line"], "left_anti"
    )
    return (
        kept.groupBy("grp", "id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "raw"))
                    ),
                    lambda x: x["raw"],
                ),
            ).alias("text_clean")
        )
        .select("grp", "id", "text_clean")
    )


def outlink_domain_graph(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Outlink extraction + domain-graph aggregation — the bridge from
    the webtext tables to the graph operator family (pagerank / CC /
    neighbor similarity over the crawl's domain graph): pull every
    absolute ``href`` out of the page markup, reduce both endpoints to
    their hosts, and return (src_domain, dst_domain, n_links) edges
    with multiplicities. Relative links (no scheme/host) carry no
    cross-domain signal and are dropped.

    Host extraction uses ONE regexp — ``^https?://([^/?#]+)`` — on
    both the page url and each href, rather than ``parse_url``, so an
    oracle twin reproduces it exactly (RE2-portable pattern:
    alternation/classes only, no backrefs or lookaround).

    Plan shape: JVM ``regexp_extract_all`` per page (one pass over the
    markup, no per-row Python), one explode bounded by the page's
    actual link count, one (src, dst) hash aggregate with map-side
    combine — link multiplicities collapse at the mappers, the shuffle
    carries one row per distinct edge. Self-loops (site-internal
    absolute links) are kept: they are real crawl-frontier signal;
    filter downstream if a simple graph is needed.
    """
    host = lambda c: F.regexp_extract(c, r"^https?://([^/?#]+)", 1)
    hrefs = df.select(
        host(F.col(url_col)).alias("src_domain"),
        F.explode(
            F.expr(f'regexp_extract_all({html_col}, \'href="([^"]+)"\', 1)')
        ).alias("href"),
    )
    return (
        hrefs.select("src_domain", host(F.col("href")).alias("dst_domain"))
        .filter((F.col("src_domain") != "") & (F.col("dst_domain") != ""))
        .groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch readability per document — the grade-level signal a
    training-data quality pipeline files next to stopword/length
    ratios (reference scope: spartan2 has no text ops; this extends
    the engine's C4-style quality family): word, sentence and
    vowel-group-syllable counts feed Flesch Reading Ease

        206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)

    and the Flesch-Kincaid grade ``0.39*(w/s) + 11.8*(syl/w) - 15.59``.
    Syllables use the standard [aeiouy]+ vowel-run heuristic (exact
    per-word syllabification needs a dictionary; the run count is the
    accepted corpus-scale stand-in and is what matters for RANKING
    docs). Sentence count is clamped to >= 1 so fragment-only docs
    (no terminal punctuation) still score.

    Exactness: the three counts are exact BIGINT regexp-run counts on
    ASCII classes (identical across regex engines); both scores are
    fixed-order IEEE expressions over the exact counts. Docs with zero
    words emit NULL scores.

    Plan shape: pure per-row projection — no shuffle, no UDF; the
    regexp_extract_all + size pipeline stays inside whole-stage
    codegen and scales linearly with corpus bytes.
    """
    words = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z]+"), 0)).cast("long")
    syls = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)).cast("long"),
    )
    d = df.select(
        F.col(id_col).alias("doc_id"),
        words.alias("words"),
        sents.alias("sentences"),
        syls.alias("syllables"),
    )
    wps = F.col("words").cast("double") / F.col("sentences").cast("double")
    spw = F.col("syllables").cast("double") / F.col("words").cast("double")
    return d.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.when(
            F.col("words") > 0,
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
        ).alias("flesch"),
        F.when(
            F.col("words") > 0,
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
        ).alias("fk_grade"),
    )


def source_vocab_overlap(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_shared: int = 1,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus slices — the corpus
    comparison behind "is src7 just a mirror of src3?" and "which
    source actually adds new vocabulary?": per source the distinct
    lowercase token set; per source pair (a < b) the exact
    |A∩B| / |A∪B|.

    Exactness: all set sizes are exact BIGINT distinct counts; the
    union size is the inclusion-exclusion ``n_a + n_b - inter`` (never
    a second distinct pass that could disagree); Jaccard is ONE IEEE
    divide.

    Plan shape: one explode + (source, token) dedup aggregate
    (vocab-sized, not corpus-sized), a self-join ON THE TOKEN for the
    intersection (each token contributes its source-pair combinations
    — bounded by sources^2 per token, and sources is a handful), one
    pair aggregate + a broadcast join back to the per-source sizes.
    """
    toks = (
        docs.select(
            F.col(source_col).alias("src"),
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, on="tok")
        .where(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .filter(F.col("inter") >= int(min_shared))
    )
    out = (
        inter.join(
            F.broadcast(sizes.withColumnsRenamed({"src": "src_a", "n": "n_a"})),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"src": "src_b", "n": "n_b"})),
            "src_b",
        )
    )
    return out.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "inter",
        (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("union_n"),
        (
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


def oov_rate(
    docs: DataFrame,
    vocab_k: int = 200,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-vocabulary coverage per corpus slice: with the
    corpus-global top-``vocab_k`` tokens as the vocabulary (the
    :func:`vocab_topk` ranking — document frequency, then total count,
    then token), what exact fraction of each source's token
    OCCURRENCES would be out-of-vocabulary? The go/no-go number for
    sizing a tokenizer against a new corpus slice before training.

    Exactness: counts are exact BIGINTs; ranking ties break on the
    token string; the rate is integer floor ppm.

    Plan shape: one explode + (token) census aggregate for the vocab
    (rank via one global window over the census, top-k slice
    broadcasts), one (source, token) occurrence aggregate, a broadcast
    left-anti-style join (left + null-flag), one source aggregate.
    Corpus bytes are read once per aggregate family, never joined
    row-to-row.
    """
    toks = docs.select(
        F.col(source_col).alias("src"),
        F.col(id_col).alias("__did"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), " +")
        ).alias("token"),
    ).filter(F.col("token") != "")
    census = toks.groupBy("token").agg(
        F.countDistinct("__did").cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("tf"),
    )
    w = W.orderBy(F.col("df").desc(), F.col("tf").desc(), F.col("token").asc())
    vocab = (
        census.select("token", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= int(vocab_k))
        .select("token")
    )
    per = toks.groupBy("src", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    flagged = per.join(
        F.broadcast(vocab.withColumn("_inv", F.lit(1))), "token", "left"
    )
    g = flagged.groupBy(F.col("src").alias("source")).agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_inv").isNull(), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    return g.select(
        "source",
        "n_tokens",
        "n_oov",
        F.floor(
            (F.col("n_oov") * F.lit(1_000_000)).cast("double")
            / F.col("n_tokens").cast("double")
        ).cast("long").alias("oov_ppm"),
    )


def packing_plan(
    docs: DataFrame,
    ctx_len: int,
    len_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence-packing feasibility for LLM-training batch assembly:
    given per-document lengths and a context length, the pow2
    length-bucket census plus, replicated on every row, the exact
    bin-packing LOWER BOUND ``max(ceil(total/ctx), n_over_half)`` —
    any packer (first-fit-decreasing included) needs at least that
    many context windows, because two documents longer than ctx/2
    can never share one. Docs longer than ctx are counted as
    ``n_truncated`` (they must be split upstream). A greedy packer's
    exact bin count is order-dependent and sequential — the bound is
    the deterministic, engine-exact planning number.

    Exactness: buckets via ``length(bin(len))`` (never float log2),
    bounds via integer ceil cross-multiplication.

    Plan shape: one bucket hash aggregate + the global totals from one
    unpartitioned window over the <= 64-row bucket census.
    """
    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    ln = F.col(len_col).cast("long")
    d = docs.select(F.col(id_col).alias("id"), ln.alias("len")).filter(
        F.col("len") > 0
    )
    b = F.length(F.bin(F.col("len")))
    per = d.groupBy(b.cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("len").cast("long").alias("tokens"),
        F.sum((F.col("len") * 2 > F.lit(int(ctx_len))).cast("int"))
        .cast("long")
        .alias("over_half"),
        F.sum((F.col("len") > F.lit(int(ctx_len))).cast("int"))
        .cast("long")
        .alias("truncated"),
    )
    glob = W.partitionBy()
    tot = per.select(
        "bucket",
        "docs",
        "tokens",
        F.sum("tokens").over(glob).cast("long").alias("total_tokens"),
        F.sum("over_half").over(glob).cast("long").alias("n_over_half"),
        F.sum("truncated").over(glob).cast("long").alias("n_truncated"),
    )
    ceil_bins = F.floor(
        (F.col("total_tokens") + F.lit(int(ctx_len) - 1)).cast("double")
        / F.lit(float(ctx_len))
    ).cast("long")
    return tot.select(
        "bucket",
        F.expr("shiftleft(1L, bucket - 1)").cast("long").alias("bucket_lo"),
        "docs",
        "tokens",
        "total_tokens",
        "n_truncated",
        F.lit(int(ctx_len)).cast("long").alias("ctx_len"),
        F.greatest(ceil_bins, F.col("n_over_half")).alias("bins_lower_bound"),
    )


def filter_funnel(
    flags: DataFrame,
    stages: "list[tuple[str, Column]]",
) -> DataFrame:
    """Sequential-filter survival funnel — the per-stage accounting a
    cleaning pipeline publishes ("end-punct killed 12%, the curly
    filter another 3% of what remained"): stages are evaluated IN
    ORDER, a document charges its loss to the FIRST stage it fails
    (the same document must not be double-counted downstream), and
    each stage reports entered / failed / surviving plus the exact
    floor-ppm local fail rate.

    Exactness: the first-failing-stage index is one ordered CASE; all
    counts are exact BIGINT conditional sums out of a SINGLE global
    aggregate; the ppm is integer floor.

    Plan shape: one codegen projection (the CASE), ONE 1-row global
    aggregate carrying 2 sums per stage, then a stages-sized stack —
    no shuffle beyond the scalar aggregate, regardless of corpus
    size.
    """
    if not stages:
        raise ValueError("need at least one stage")
    import re as _re

    for name, _ in stages:
        # names are interpolated into a stack() SQL literal — keep them
        # to a safe charset rather than invent quoting rules
        if not _re.fullmatch(r"[A-Za-z0-9_ .:/-]+", name):
            raise ValueError(f"stage name {name!r} must match [A-Za-z0-9_ .:/-]+")
    expr = None
    for i, (_, cond) in enumerate(stages, 1):
        expr = (expr.when(cond, i) if expr is not None else F.when(cond, i))
    ff = expr.otherwise(0)
    d = flags.select(ff.cast("int").alias("ff"))
    aggs = []
    for i, (name, _) in enumerate(stages, 1):
        aggs.append(
            F.sum(((F.col("ff") == 0) | (F.col("ff") >= i)).cast("int"))
            .cast("long")
            .alias(f"e{i}")
        )
        aggs.append(
            F.sum((F.col("ff") == i).cast("int")).cast("long").alias(f"f{i}")
        )
    one = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', {i}, e{i}, f{i}" for i, (name, _) in enumerate(stages, 1)
    )
    rows = one.select(
        F.expr(
            f"stack({len(stages)}, {stack_args}) AS (stage, rank, entered, failed)"
        )
    )
    return rows.select(
        "stage",
        F.col("rank").cast("int").alias("rank"),
        "entered",
        "failed",
        (F.col("entered") - F.col("failed")).cast("long").alias("surviving"),
        F.when(
            F.col("entered") > 0,
            F.floor(
                (F.col("failed") * F.lit(1_000_000)).cast("double")
                / F.col("entered").cast("double")
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("fail_ppm"),
    )


def _char_ngrams_all(text_col: str, n: int):
    """EVERY char n-gram with multiplicity (positions 1..len-n+1) —
    the LM counting form of :func:`dedup.char_shingles_expr` (which
    dedups). Callers filter length(text) >= n."""
    return F.expr(
        f"transform(sequence(1, length({text_col}) - {n - 1}),"
        f" i -> substring({text_col}, i, {n}))"
    )


def char_lm_counts(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Character n-gram language model from a REFERENCE corpus slice —
    the model half of CCNet/RedPajama-style perplexity filtering
    (Wenzek et al. 2020 train a small LM on clean text and bucket the
    crawl by perplexity; a char n-gram model keeps the whole pipeline
    closed-form and engine-exact where KenLM would be a binary dep).

    Returns the model as a RELATION: one row per (ctx, ch) with its
    count, where ctx is the (n-1)-char context and ch the next char.
    Counting is one map-side-combinable aggregation over the exploded
    grams; docs shorter than ``n`` chars contribute nothing. Contexts
    and totals stay exact integers — smoothing happens at score time.

    At web scale the REFERENCE slice is small by design (CCNet trains
    on Wikipedia, not the crawl), so the model relation broadcast-joins
    onto the corpus in :func:`lm_perplexity`.
    """
    if n < 2:
        raise ValueError("char LM needs n >= 2 (a context and a next char)")
    return (
        df.filter(F.length(text_col) >= n)
        .select(F.explode(_char_ngrams_all(text_col, n)).alias("g"))
        .select(
            F.substring("g", 1, n - 1).alias("ctx"),
            F.substring("g", n, 1).alias("ch"),
        )
        .groupBy("ctx", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def lm_perplexity(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document perplexity under a :func:`char_lm_counts` model —
    the scoring half of CCNet-style quality bucketing: low perplexity =
    looks like the reference corpus, high = noise/boilerplate/ other
    language.

    Add-one (Laplace) smoothing over the model's character vocabulary:
    ``p(ch | ctx) = (c + 1) / (ctx_total + V)`` with ``V`` the model's
    distinct next-char count and ``ctx_total = 0`` for unseen contexts
    (so every gram has mass and the score is total).

    Exactness: each gram's ``ln p`` is a deterministic function of the
    exact integers ``(c, ctx_total, V)``, quantized to 1e-8 BEFORE the
    per-doc sum (the :func:`doc_entropy` discipline) so the aggregation
    is an order-independent integer sum — engine plans can differ,
    values cannot. ``nll_q`` (the negated quantized sum) and
    ``n_grams`` are exact BIGINTs; ``ppl`` is the one multi-op float
    (exp of the mean NLL) and is emitted through round(6).

    Plan shape: the model + its context totals broadcast (reference
    slices are small by contract); the corpus is read ONCE, grams
    exploded, scored against the broadcast map, and reduced by one
    map-side-combinable per-doc aggregation — a single shuffle on the
    doc id, linear in corpus characters. Docs shorter than ``n`` chars
    emit NULL ppl with n_grams = 0.
    """
    from spartan2_spark.operators.barrier import barrier

    if n < 2:
        raise ValueError("char LM needs n >= 2")
    m = model.transform(barrier)
    totals = m.groupBy("ctx").agg(F.sum("c").cast("long").alias("ctx_total"))
    vocab = m.agg(F.countDistinct("ch").cast("long").alias("V"))
    grams = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .filter(F.length("__t") >= n)
        .select("id", F.explode(_char_ngrams_all("__t", n)).alias("g"))
        .select(
            "id",
            F.substring("g", 1, n - 1).alias("ctx"),
            F.substring("g", n, 1).alias("ch"),
        )
    )
    scored = (
        grams.join(F.broadcast(m), ["ctx", "ch"], "left")
        .join(F.broadcast(totals), "ctx", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
                    / (
                        F.coalesce(F.col("ctx_total"), F.lit(0)) + F.col("V")
                    ).cast("double")
                )
                * F.lit(1e8)
            )
            .cast("long")
            .alias("lq"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        (-F.sum("lq")).cast("long").alias("nll_q"),
    )
    docs = df.select(F.col(id_col).alias("id")).distinct()
    return (
        docs.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.col("nll_q"),
            F.round(
                F.exp(
                    F.col("nll_q").cast("double")
                    / F.lit(1e8)
                    / F.col("n_grams").cast("double")
                ),
                6,
            ).alias("ppl"),
        )
    )
