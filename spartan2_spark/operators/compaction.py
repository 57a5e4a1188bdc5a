"""Tier-table compaction: the Iceberg rewrite_data_files analogue.

Every pipeline run appends/overwrites dt partitions with however many
files its task layout produced; a long-lived tier accumulates small
files and scan-planning cost grows with file count, not data size. The
maintenance job rewrites chosen dt partitions into a target file count
with rows range-laid-out on (dt, url, bucket_ts) — the serving scan
order — WITHOUT changing content.

Content preservation is not assumed, it is enforced: the job recomputes
the per-dt order-independent value crcs (the same
``manifest.partition_lineage`` checksum the resume contract uses) after
the rewrite and raises if any dt's crc moved — the signal that the
rewritten table must be repaired by re-running the pipeline stage from
its (manifest-pinned) upstream. Because lineage is content-addressed
(crc, not file list), the stage manifest needs NO update: downstream
stages see
unchanged upstream crcs and a resumed pipeline run reports zero new
partitions — compaction is invisible to the dataflow, exactly like an
Iceberg data-file rewrite under an unchanged snapshot schema.

Crash safety: the rewrite itself uses Spark's dynamic partition
overwrite (per-dt staged directory swap). A rerun after a crash simply
compacts again — content is idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spartan2_spark.operators import manifest as M

__all__ = [
    "compact_tier",
    "compaction_plan",
    "url_frontcode_plan",
    "roaring_container_plan",
    "dict_encoding_plan",
    "postings_plan",
    "bloom_filter_plan",
]


def _total_files(table_dir: str) -> int:
    return sum(m["files"] for m in M.partition_sizes(table_dir).values())


def compact_tier(
    spark: SparkSession,
    out_root: str,
    stage: str,
    target_rows_per_file: int = 1_000_000,
    sort_cols: tuple[str, ...] = ("url", "bucket_ts"),
) -> dict:
    """Rewrite ``<out_root>/<stage>``'s dt partitions into ~``rows/
    target_rows_per_file`` files each, sorted by ``sort_cols`` within
    files. Returns {'files_before', 'files_after', 'dts', 'verified'}.

    Raises ``ValueError`` if the rewritten content's per-dt crcs differ
    from the pre-rewrite crcs (never expected: the rewrite is a pure
    repartition+sort of the same rows).
    """
    table_dir = os.path.join(out_root, stage)
    df = spark.read.parquet(table_dir)
    sort_cols = tuple(c for c in sort_cols if c in df.columns)

    files_before = _total_files(table_dir)
    before = {e["dt"]: (e["rows"], e["value_crc"]) for e in M.partition_lineage(df)}
    total_rows = sum(r for r, _ in before.values())
    n_parts = max(1, -(-total_rows // target_rows_per_file))

    compacted = df.repartitionByRange(
        n_parts, F.col("dt"), *[F.col(c) for c in sort_cols]
    ).sortWithinPartitions("dt", *sort_cols)

    compacted.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("dt").parquet(table_dir)

    after_df = spark.read.schema(df.schema).parquet(table_dir)
    after = {
        e["dt"]: (e["rows"], e["value_crc"]) for e in M.partition_lineage(after_df)
    }
    if after != before:
        moved = sorted(
            d for d in set(before) | set(after) if before.get(d) != after.get(d)
        )
        raise ValueError(
            f"compaction of {stage} changed content for dts {moved}; "
            "lineage crcs no longer match the stage manifest"
        )
    M.bump_table_version(table_dir)
    return {
        "stage": stage,
        "files_before": files_before,
        "files_after": _total_files(table_dir),
        "dts": len(after),
        "verified": True,
    }


def compaction_plan(
    df: DataFrame,
    bytes_col: str = "bytes",
    target_bytes: int = 64 * 1024 * 1024,
    part_cols: tuple[str, ...] = ("tier",),
    order_cols: tuple[str, ...] = ("url", "start_ts"),
) -> DataFrame:
    """Plan compaction groups WITHOUT rewriting anything: the
    `rewrite_data_files(strategy => binpack)` planning half. Within
    each ``part_cols`` partition, walk the blocks in ``order_cols``
    order and cut a new group whenever the running byte total crosses
    ``target_bytes`` (group id = floor((cumsum - bytes)/target) — the
    order-preserving greedy bin: locality-friendly, since neighbors in
    (url, start_ts) order land in the same rewritten file). Returns one
    row per planned group: n_blocks, total_bytes. `compact_tier` above
    is the executor of such a plan; this operator makes the plan itself
    a queryable, manifest-recordable artifact.

    Exactness: pure integer cumsum + floor division — value-exact on
    any engine.

    Scale: the cumsum is NOT a per-partition-key window (a single tier
    at 10^12 rows would serialize onto one reducer); it is the
    distributed ``partitioning.ordered_prefix_sum`` over (part, order)
    — one range shuffle + one broadcast join.
    """
    from spartan2_spark.operators.partitioning import ordered_prefix_sum

    cum = ordered_prefix_sum(
        df, order_cols, part_cols, weight_col=bytes_col, out_col="__cum"
    ).withColumn(
        "__grp",
        F.floor((F.col("__cum") - F.col(bytes_col)) / F.lit(target_bytes)),
    )
    return (
        cum.groupBy(*part_cols, F.col("__grp").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(bytes_col).cast("long").alias("total_bytes"),
        )
    )


def url_frontcode_plan(
    df: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """Front-coding savings plan for sorted URL key columns — the
    Iceberg/Parquet DELTA_BYTE_ARRAY encoding decision, computed per
    domain: with distinct urls sorted within their domain, each url
    stores only its suffix after the longest common prefix with its
    predecessor. Reports per domain ``n_urls``, ``raw_bytes``,
    ``saved_bytes`` (sum of shared-prefix lengths), ``coded_bytes``
    and the ``saved_ratio`` — the planner input for "which domains'
    key columns are worth front-coding in the tier files".

    Exactness: prefix length is computed as the count of i in
    [1, min(len)] where the two 1..i prefixes compare equal — the
    prefix property is monotone, so the count IS the longest-common-
    prefix length; all byte counts are exact BIGINT over ASCII urls
    (``length`` counts codepoints; canonicalized urls are ASCII).

    Plan shape: a distinct on (domain, url), one per-domain lag window
    ordered by url, one hash aggregate on domain — the window's
    hash(domain) partitioning satisfies the final grouping, so a
    single shuffle after the distinct. Per-domain url counts are
    web-graph sized (bounded by a site's page count), not corpus
    sized; domain count parallelizes.
    """
    w = W.partitionBy("domain").orderBy("url")
    prev = F.lag("url").over(w)
    minlen = F.least(F.length("url"), F.length(prev))
    lcp = F.when(prev.isNull() | (minlen < 1), F.lit(0)).otherwise(
        F.expr(
            "size(filter(sequence(1, int(least(length(url), "
            "length(prev_url)))), "
            "i -> substring(url, 1, i) = substring(prev_url, 1, i)))"
        )
    )
    return (
        df.select(
            F.col(domain_col).alias("domain"), F.col(url_col).alias("url")
        )
        .distinct()
        .select("domain", "url", prev.alias("prev_url"))
        .select(
            "domain",
            F.length("url").cast("long").alias("len"),
            lcp.cast("long").alias("lcp"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.sum("len").cast("long").alias("raw_bytes"),
            F.sum("lcp").cast("long").alias("saved_bytes"),
            (F.sum("len") - F.sum("lcp")).cast("long").alias("coded_bytes"),
        )
        .select(
            "*",
            (
                F.col("saved_bytes").cast("double")
                / F.col("raw_bytes").cast("double")
            ).alias("saved_ratio"),
        )
    )


def roaring_container_plan(
    df: DataFrame,
    group_col: str = "table_name",
    id_col: str = "pos",
) -> DataFrame:
    """Roaring-bitmap container sizing for position-delete vectors and
    bitmap posting lists — the Iceberg v3 deletion-vector storage
    decision, computed per table/partition group: the id set is split
    into 2^16-value chunks (container key = id >> 16) and each
    container is costed under the three Roaring container layouts
    (RoaringBitmap format spec, public):

    - array container: sorted 16-bit shorts, ``2*n`` bytes (used when
      n <= 4096);
    - bitmap container: fixed 8192 bytes;
    - run container: ``2 + 4*n_runs`` bytes, chosen by runOptimize
      only when STRICTLY smaller than the array/bitmap choice.

    Reports per group the container count, value count, how many
    containers land on each layout, total bytes without/with run
    encoding, and bytes/value — the planner input for "is this delete
    vector dense enough that compacting the data file beats carrying
    the vector".

    Exactness: container keys, run breaks (``low != lag(low)+1``),
    per-layout byte formulas and the strict runOptimize comparison are
    pure BIGINT; ``bytes_per_value`` is the single IEEE divide.

    Plan shape: a (group, container, low) group-dedup, one
    per-(group, container) lag window ordered by low, a per-container
    hash aggregate that reuses the window's partitioning, then a final
    per-group hash aggregate over the container relation — the only
    relation that crosses that last exchange is one row per 65536-id
    chunk, 1/65536th of the input at worst.
    """
    ids = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).cast("long").alias("id"),
        )
        .groupBy(
            "grp",
            F.shiftright(F.col("id"), 16).alias("cont"),
            (F.col("id") % 65536).alias("low"),
        )
        .agg(F.lit(1))
        .select("grp", "cont", "low")
    )
    w = W.partitionBy("grp", "cont").orderBy("low")
    brk = F.when(
        F.lag("low").over(w).isNull()
        | (F.col("low") != F.lag("low").over(w) + 1),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_cont = (
        ids.select("grp", "cont", "low", brk.alias("brk"))
        .groupBy("grp", "cont")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("brk").cast("long").alias("n_runs"),
        )
        .select(
            "grp",
            "n",
            "n_runs",
            F.when(F.col("n") <= 4096, F.col("n") * 2)
            .otherwise(F.lit(8192))
            .alias("bytes_ab"),
            (F.lit(2) + F.col("n_runs") * 4).alias("bytes_run"),
        )
        .select(
            "grp",
            "n",
            "bytes_ab",
            F.when(
                F.col("bytes_run") < F.col("bytes_ab"), F.col("bytes_run")
            )
            .otherwise(F.col("bytes_ab"))
            .alias("bytes_best"),
            F.when(F.col("bytes_run") < F.col("bytes_ab"), F.lit("run"))
            .when(F.col("n") <= 4096, F.lit("array"))
            .otherwise(F.lit("bitmap"))
            .alias("layout"),
        )
    )
    return (
        per_cont.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_containers"),
            F.sum("n").cast("long").alias("n_values"),
            F.sum(F.when(F.col("layout") == "array", 1).otherwise(0))
            .cast("long")
            .alias("n_array"),
            F.sum(F.when(F.col("layout") == "bitmap", 1).otherwise(0))
            .cast("long")
            .alias("n_bitmap"),
            F.sum(F.when(F.col("layout") == "run", 1).otherwise(0))
            .cast("long")
            .alias("n_run"),
            F.sum("bytes_ab").cast("long").alias("bytes_no_run"),
            F.sum("bytes_best").cast("long").alias("bytes_best"),
        )
        .select(
            "*",
            (
                F.col("bytes_best").cast("double")
                / F.col("n_values").cast("double")
            ).alias("bytes_per_value"),
        )
    )


def dict_encoding_plan(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "url",
) -> DataFrame:
    """Parquet dictionary-encoding decision input — the fourth leg of
    the per-tier codec audit next to ``url_frontcode_plan`` /
    ``gorilla.rle_plan`` / ``dod/xor_bitwidth_stats``: per group (row
    group / partition stand-in), the exact byte cost of storing a
    string column PLAIN (4-byte length prefix + bytes per value — the
    Parquet BYTE_ARRAY wire format) vs RLE_DICTIONARY (dictionary page
    of the distinct values + bit-packed indices at width
    ``ceil(log2(d))``), and the integer-compare verdict. Writers
    default dictionary ON and fall back when the dict page overflows;
    this plan finds the columns where that default is WRONG in either
    direction (near-unique urls bloating dict pages; low-cardinality
    langs that must never fall back) before paying a rewrite.

    Exactness: every size is BIGINT arithmetic on ``octet_length``
    counts. The index bit width is ``length(bin(d - 1))`` — the
    minimal w with 2^w >= d — string-length of the binary rendering,
    identical in Spark and DuckDB, never a float ``log2`` whose
    last-ulp rounding could flip a ceil at a power of two (d = 1
    reports width 1: one conservative bit, avoiding the engine-trap of
    width-0 runs). Index bytes round up once per group, not per page:
    ``(n * w + 7) DIV 8``.

    Plan shape: first aggregate on (group, value) with map-side
    combine — the heavy strings die at the mappers, the shuffle
    carries one row per DISTINCT value; the second aggregate's
    exchange moves only that distinct relation. NULLs store no bytes
    in either encoding (Parquet definition levels carry them) — they
    are counted (``n_null``) but excluded from both costs.

    Returns one row per group: (grp, n_values, n_null, n_distinct,
    plain_bytes, dict_bytes, index_bits, use_dict, savings_bytes).
    """
    per_value = (
        df.select(
            F.col(group_col).alias("grp"), F.col(value_col).alias("v")
        )
        .groupBy("grp", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        per_value.groupBy("grp")
        .agg(
            F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_values"),
            F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.count(F.col("v")).cast("long").alias("n_distinct"),
            F.sum(
                F.when(
                    F.col("v").isNotNull(),
                    (F.octet_length("v") + F.lit(4)).cast("long")
                    * F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("plain_bytes"),
            F.sum(
                F.when(
                    F.col("v").isNotNull(),
                    (F.octet_length("v") + F.lit(4)).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("dict_page_bytes"),
        )
        .withColumn(
            "index_bits",
            F.when(F.col("n_distinct") <= 1, F.lit(1)).otherwise(
                F.length(F.bin(F.col("n_distinct") - 1))
            ).cast("long"),
        )
        .withColumn(
            "dict_bytes",
            F.col("dict_page_bytes")
            + F.expr("(n_values * index_bits + 7) DIV 8"),
        )
        .withColumn("use_dict", F.col("dict_bytes") < F.col("plain_bytes"))
        .withColumn(
            "savings_bytes", F.col("plain_bytes") - F.col("dict_bytes")
        )
        .select(
            "grp",
            "n_values",
            "n_null",
            "n_distinct",
            "plain_bytes",
            "dict_bytes",
            "index_bits",
            "use_dict",
            "savings_bytes",
        )
    )


def postings_plan(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Inverted-index posting-list sizing: for every term with document
    frequency >= ``min_df``, cost its sorted-doc-id posting list under
    delta + LEB128-varint coding vs plain fixed 8-byte ids — the
    Lucene/Parquet-style storage decision for the corpus search index
    the webtext side serves next to the tier tables (fourth leg of the
    per-column codec family: ``dod_bitwidth_stats`` times,
    ``xor_bitwidth_stats`` values, ``rle_plan`` runs, this one the
    text index).

    Exactness: the first posting stores its absolute id, every later
    one the gap to its predecessor (distinct ids ⇒ gaps >= 1); varint
    bytes for n >= 1 are ``(length(bin(n)) + 6) DIV 7`` — the
    meaningful-bit width from the binary rendering, never a float
    log whose last ulp could flip a ceil at a 2^(7k) boundary; id 0
    costs 1 byte. All byte accounting BIGINT; the verdict
    ``varint_wins`` is an integer compare.

    Plan shape: tokenize in the scan project (explode bounded by real
    token count), one (term, doc) dedup aggregate with map-side
    combine — the 10^9-hit stopword collapses at the mappers — then a
    term-keyed lag window and a term aggregate that both reuse the
    dedup's hash(term) partitioning: ONE extra exchange beyond the
    dedup, and only one-row-per-term crosses the last one.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), " +")
    td = (
        docs.select(
            F.col(doc_col).alias("doc"), F.explode(toks).alias("term")
        )
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    wt = W.partitionBy("term").orderBy("doc")
    delta = F.coalesce(
        F.col("doc") - F.lag("doc").over(wt), F.col("doc")
    )
    # bin(0) renders '0' (1 bit), so id 0 and gaps alike cost
    # (bits + 6) DIV 7 bytes with no special case
    g = td.select("term", "hits", delta.alias("delta")).select(
        "term",
        "hits",
        F.expr("(length(bin(delta)) + 6) DIV 7").cast("long").alias("vb"),
    )
    return (
        g.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("hits").cast("long").alias("tf"),
            F.sum("vb").cast("long").alias("varint_bytes"),
            (F.count(F.lit(1)) * 8).cast("long").alias("plain_bytes"),
        )
        .filter(F.col("df") >= int(min_df))
        .select(
            "term",
            "df",
            "tf",
            "varint_bytes",
            "plain_bytes",
            (F.col("varint_bytes") < F.col("plain_bytes"))
            .cast("int")
            .alias("varint_wins"),
        )
    )


def bloom_filter_plan(
    df: DataFrame,
    group_col: str,
    key_col: str,
    bits_per_key: int = 10,
) -> DataFrame:
    """Bloom-filter sizing per partition/group: the Parquet/Iceberg
    `bloom_filter_enabled` decision input next to the codec family
    (``dict_encoding_plan``, ``postings_plan``). For each group, count
    distinct keys n and size the filter the way the writers actually
    do: m = next power of two >= n * bits_per_key (pow2 so the hash
    masks are bit-ands, and so two engines can't disagree), k = the
    integer-rounded ln2 * bits_per_key hash count.

    Exactness: next-pow2 comes from the binary rendering —
    ``x`` a power of two keeps m = x, else m = 1 << length(bin(x)) —
    never a float log2 whose ulp could flip a boundary; k is
    ``max(1, (bits_per_key * 693 + 500) DIV 1000)`` (693/1000 is the
    fixed rational stand-in for ln2, identical in both engines); the
    only float is the closing actual-bits-per-key ratio.

    Plan shape: one (group, key) dedup aggregate with map-side combine
    then one group aggregate reusing its hash(group) partitioning —
    the sizing arithmetic runs on one-row-per-group.
    """
    b = int(bits_per_key)
    if b < 1:
        raise ValueError("bloom_filter_plan wants bits_per_key >= 1")
    k = max(1, (b * 693 + 500) // 1000)
    g = (
        df.select(
            F.col(group_col).alias("grp"), F.col(key_col).alias("key")
        )
        .groupBy("grp")
        .agg(F.count_distinct("key").cast("long").alias("n_keys"))
    )
    raw = f"n_keys * {b}"
    m = (
        f"CASE WHEN ({raw}) <= 64 THEN 64 "
        f"WHEN (({raw}) & (({raw}) - 1)) = 0 THEN ({raw}) "
        f"ELSE shiftleft(CAST(1 AS BIGINT), length(bin({raw}))) END"
    )
    return g.select(
        "grp",
        "n_keys",
        F.expr(m).cast("long").alias("m_bits"),
        F.lit(k).cast("long").alias("k_hashes"),
        (F.expr(m).cast("long") / F.lit(8)).cast("long").alias("bloom_bytes"),
        (
            F.expr(m).cast("double") / F.col("n_keys").cast("double")
        ).alias("actual_bits_per_key"),
    )
