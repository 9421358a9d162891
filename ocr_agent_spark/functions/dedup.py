"""Deduplication operators for web-scale corpora.

Four tiers, cheapest first; all declarative DataFrame plans (shuffle
pattern documented per function):

- exact:        1 shuffle on the md5 fingerprint (map-side combine).
- ngram-jaccard: shingle explode → self-join on shingle → pair agg.
                 Exact but O(pairs-sharing-a-shingle); for candidate
                 *verification*, not all-pairs at 100 TB.
- minhash-LSH:  shingle → k min-hashes → band buckets → candidates only
                 join within buckets. The scale path: cost is linear in
                 docs + bucket collisions, never all-pairs.
- simhash:      per-token hash bit-vote → 64-bit signature; near-dup if
                 small Hamming distance. One aggregation, no join for
                 signature; banding for candidate pairs.

Hash portability: exact/jaccard use md5 (oracle-parity with DuckDB);
minhash/simhash use xxhash64 (JVM-side, fastest) and are verified in
tests against the exact jaccard instead of a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_agent_spark.functions.text import doc_fingerprint


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs, keeper = min id.

    One hash-partition shuffle on the fingerprint; partial aggregation
    runs map-side. Returns (fingerprint, keeper_id, dup_count) for
    groups with >1 member.
    """
    return (
        docs.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one row per normalized-content group (min id wins).

    Window over the fingerprint partition — same single shuffle as the
    groupBy formulation but keeps all original columns.
    """
    w = Window.partitionBy(doc_fingerprint(text_col)).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingle_table(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  widen: bool = True) -> DataFrame:
    """(id, shingle) exploded table — input to jaccard and minhash.

    Two-step plan on purpose: tokens are PROJECTED to a real column
    first, and the shingle expression references that attribute. An
    inline formulation (tokenize inside the shingle expression)
    re-evaluates the split for every reference inside the higher-order
    lambdas — Catalyst inlines the subexpression rather than CSE-ing it
    across lambda scopes — measured 7× slower on the sf0.1 corpus
    (3.6 s → 0.5 s for the same 260k shingles).

    ``widen=False`` skips the scan-widening guard — for callers
    shingling a slice already known to be tiny (the candidate-scoped
    verify pass), where the round-robin exchange would be a pure extra
    stage boundary. Placement-only either way.
    """
    from ocr_agent_spark.partitioning import widen_if_narrow

    # Slim projection BEFORE the exchange (§2.3), widen-if-narrow AFTER
    # the projection and BEFORE the tokenize/explode: a single-row-group
    # parquet input otherwise serializes the whole shingle+hash head of
    # every dedup pipeline into one scan task (§2.5 input skew). No-op
    # on already-parallel inputs.
    slim = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("_text"))
    if widen:
        slim = widen_if_narrow(slim)
    toks_df = slim.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("_text"))), r"\s+").alias("_toks"),
    )
    toks = F.col("_toks")
    count = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(count - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    shingles = F.when(count <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(grams)
    )
    return toks_df.select("doc_id", F.explode(shingles).alias("shingle"))


def corpus_shingle_overlap(a: DataFrame, b: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3) -> DataFrame:
    """EXACT corpus-level shingle-set overlap — one row.

    The snapshot-comparison operator: before merging two crawls (or
    deciding whether a re-crawl is worth processing), measure how much
    of corpus B's content corpus A already has. Columns: ``n_a``,
    ``n_b`` (distinct shingles), ``n_inter``, ``n_union``, ``jaccard``,
    ``containment_a`` (share of A's shingles also in B),
    ``containment_b``.

    Shape: two distinct-aggregations + one full-outer join on shingle
    + a single-row aggregate. Exact and engine-replayable (counts +
    single divisions), but the join shuffles both corpora's distinct
    shingle sets — at 100 TB use :func:`corpus_overlap_estimate`
    (constant-size corpus signatures) and reserve this for the
    verification pass on a sample.
    """
    sa = shingle_table(a, id_col, text_col, n).select("shingle").distinct()
    sb = shingle_table(b, id_col, text_col, n).select("shingle").distinct()
    joined = sa.withColumn("_in_a", F.lit(1)).join(
        sb.withColumn("_in_b", F.lit(1)), "shingle", "full_outer"
    )
    agg = joined.agg(
        F.count("_in_a").alias("n_a"),
        F.count("_in_b").alias("n_b"),
        F.sum(
            (F.col("_in_a").isNotNull() & F.col("_in_b").isNotNull())
            .cast("long")
        ).alias("n_inter"),
        F.count(F.lit(1)).alias("n_union"),
    )
    return agg.select(
        "n_a", "n_b", "n_inter", "n_union",
        (F.col("n_inter") / F.col("n_union")).alias("jaccard"),
        (F.col("n_inter") / F.col("n_a")).alias("containment_a"),
        (F.col("n_inter") / F.col("n_b")).alias("containment_b"),
    )


def corpus_overlap_estimate(a: DataFrame, b: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            num_hashes: int = 128) -> DataFrame:
    """Minhash ESTIMATE of corpus-level shingle Jaccard — one row.

    Each corpus collapses to a constant-size signature (per-seed min
    of xxhash64 over ALL its shingles — an all-docs aggregate with
    map-side partials, so the shuffle carries ``num_hashes`` longs per
    mapper regardless of corpus size). ``P(min_a == min_b) = J``, so
    the match fraction estimates Jaccard with std ``sqrt(J(1-J)/k)``
    (k=128 → ±0.04 at J=0.5). The 100 TB path; accuracy pinned against
    :func:`corpus_shingle_overlap` in tests.
    """
    def sig(d: DataFrame):
        sh = shingle_table(d, id_col, text_col, n)
        return sh.agg(*[
            F.min(F.xxhash64("shingle", F.lit(s))).alias(f"h{s}")
            for s in range(num_hashes)
        ])

    pa_ = sig(a)
    pb = sig(b).select(
        *[F.col(f"h{s}").alias(f"g{s}") for s in range(num_hashes)]
    )
    matches = None
    for s in range(num_hashes):
        m = (F.col(f"h{s}") == F.col(f"g{s}")).cast("int")
        matches = m if matches is None else matches + m
    return pa_.crossJoin(pb).select(
        matches.alias("n_matches"),
        F.lit(num_hashes).alias("num_hashes"),
        (matches / F.lit(float(num_hashes))).alias("jaccard_est"),
    )


def hot_shingles(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Shingles whose document frequency exceeds ``max_shingle_df``.

    The shingle table is per-doc distinct (``shingle_table`` applies
    ``array_distinct``), so ``count(*)`` per shingle IS the document
    frequency. Heavy hitters are by definition few (≤ |rows| / max_df
    of them), so the result always broadcasts.
    """
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_shingle_df)
    )


def shingle_df_stats(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """No-silent-caps report for the hot-shingle document-frequency cap
    (mirrors ``embedding_lsh_bucket_stats`` on the embedding path).

    One row: how many distinct shingles exist, how many exceed the cap
    (and would be dropped from the verify join), the worst df, and how
    many (doc, shingle) rows the cap removes. Surfacing this next to
    any capped ``dedup_near`` run is what keeps the cap honest: a run
    that silently drops 40% of its shingle mass is a different
    computation, and this row says so.
    """
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return df_tbl.agg(
        F.count(F.lit(1)).alias("n_shingles_distinct"),
        F.sum("df").cast("long").alias("n_rows_total"),
        F.max("df").cast("long").alias("max_df"),
        F.sum(F.when(F.col("df") > max_shingle_df, 1).otherwise(0))
        .cast("long").alias("n_shingles_hot"),
        F.sum(F.when(F.col("df") > max_shingle_df, F.col("df")).otherwise(0))
        .cast("long").alias("n_rows_dropped"),
    )


def _drop_hot_shingles(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Remove heavy-hitter shingles before a pair self-join.

    A shingle shared by d candidate docs contributes d² rows to the
    verify join under ONE key — at 100 TB a stopword 3-gram shared by
    10⁶ docs is ~10¹² rows in a single partition. Shingles that common
    carry near-zero Jaccard discrimination, so they are dropped from
    BOTH the intersection count and the per-doc sizes (Jaccard over the
    filtered shingle universe): identical docs still score 1.0 while
    their df stays at or under the cap, and planted near-dups keep
    their score up to the (tiny) removed mass. CAVEAT (code-review r5):
    a text mass-duplicated past the cap has ALL its shingles dropped —
    its copies then verify as nothing. Collapse exact duplicates before
    any capped verify (``dedup_near`` does this); the cap is only safe
    over a table where each distinct text appears once. The hot set is
    a broadcast anti-join probe.
    """
    return sh.join(
        F.broadcast(hot_shingles(sh, max_shingle_df).select("shingle")),
        "shingle",
        "left_anti",
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Plan: explode → self-equi-join on shingle (hash join, AQE may pick
    broadcast for the distinct-shingle side) → pair-count aggregate →
    jaccard = |∩| / (|A|+|B|−|∩|). The (a<b) predicate halves the pair
    space. At 100 TB this runs per-LSH-bucket, not globally.

    ``max_shingle_df`` (default off — exact semantics) drops shingles
    with document frequency above the cap before the join; see
    ``_drop_hot_shingles`` for why and ``shingle_df_stats`` for the
    accompanying report.
    """
    return ngram_jaccard_from_shingles(
        shingle_table(docs, id_col, text_col, n), threshold, max_shingle_df
    )


def ngram_jaccard_from_shingles(sh: DataFrame,
                                threshold: float = 0.8,
                                max_shingle_df: int | None = None) -> DataFrame:
    """Jaccard pairs from a pre-built (doc_id, shingle) table — lets the
    MinHash pipeline reuse one shingle pass for signatures AND verify.

    With ``max_shingle_df`` set, heavy-hitter shingles are removed from
    the join AND the sizes (Jaccard over the filtered universe) — the
    skew guard for the verify stage; pair with ``shingle_df_stats`` so
    the cap is never silent.
    """
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("n_shingles", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n_shingles", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard_for_pairs(pairs: DataFrame, sh: DataFrame,
                       threshold: float = 0.8,
                       max_shingle_df: int | None = None) -> DataFrame:
    """Exact Jaccard RESTRICTED to the given (id_a, id_b) pairs.

    The verify-scope pushdown (r8, guide §8): the generic
    ``ngram_jaccard_from_shingles`` self-joins the shingle table and
    aggregates a row for EVERY pair of docs sharing a shingle — at
    sf1.0 that is ~1.0M co-shingle pairs ground down to the 2.6k LSH
    candidate pairs by the caller's closing semi-join (~400× wasted
    aggregate work). Here each candidate doc's shingles collapse to ONE
    set row, and the pair's intersection/sizes are in-row
    ``array_intersect``/``size`` over two id-keyed joins, so cost is
    O(candidate-doc shingles), never O(co-shingle pairs). Semantics are
    identical for pairs drawn from ``sh``'s doc universe: same
    filtered-universe hot-shingle drop, same sizes, same
    ``common / (|A|+|B|−common)`` — a pair with zero surviving common
    shingles yields no row in either formulation (explicit
    ``common >= 1`` filter here).
    """
    from ocr_agent_spark.cache import persist_tracked

    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df)
    # Per-doc shingle SETS (r8b): ONE groupBy over the scoped table
    # replaces the row-level formulation's three references to it
    # (sizes aggregate + both sides of an (id, shingle) intersection
    # join) — two exchanges and a 250k-row persist fewer at sf1.0. The
    # rows are already distinct per (doc_id, shingle) (``shingle_table``
    # applies array_distinct), so ``collect_set`` is exact:
    # ``size(_set)`` IS the old ``count(*)`` size, and
    # ``size(array_intersect(a, b))`` IS the old per-pair intersection
    # count — set results don't depend on collect order. Payload is the
    # same shingle strings the row form shuffled; keys are ids, so AQE
    # skew-split applies and per-row size is bounded by doc length.
    sets = persist_tracked(
        sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("_set"))
    )
    ab = (
        pairs.select("id_a", "id_b")
        .join(sets.select(F.col("doc_id").alias("id_a"),
                          F.col("_set").alias("_sa")), "id_a")
        .join(sets.select(F.col("doc_id").alias("id_b"),
                          F.col("_set").alias("_sb")), "id_b")
    )
    common = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (
        ab.select(
            "id_a", "id_b",
            common.alias("common"),
            F.size(F.col("_sa")).alias("size_a"),
            F.size(F.col("_sb")).alias("size_b"),
        )
        # the row formulation emits NO row for a zero-intersection pair
        # (nothing to aggregate); keep that contract for threshold <= 0
        .filter(F.col("common") >= 1)
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 32) -> DataFrame:
    """k min-hash values per doc: min over shingles of xxhash64(shingle, seed).

    All JVM-side: explode + k min() aggregations in ONE groupBy pass.
    Partial (map-side) aggregation means the shuffle carries only
    |docs|·k longs per mapper, not the exploded shingle rows — this IS
    the scalable formulation. (An array-only variant —
    ``array_min(transform(shingles, xxhash64))`` per seed, no shuffle —
    looks cheaper but Catalyst inlines the shingle-array construction
    into all k signature expressions, re-tokenizing every row k times:
    measured 50x slower. Keep the explode.)
    Output: (doc_id, minhash: array<long>[k]).
    """
    return minhash_signatures_from_shingles(
        shingle_table(docs, id_col, text_col, n), num_hashes
    )


def minhash_signatures_from_shingles(sh: DataFrame,
                                     num_hashes: int = 32) -> DataFrame:
    """Signatures from a pre-built (doc_id, shingle) table."""
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[f"h{s}" for s in range(num_hashes)]).alias("minhash")
    )


def _banded_from_shingles(sh: DataFrame, num_hashes: int,
                          bands: int) -> DataFrame:
    """(doc_id, shingle) → (doc_id, band, bucket) in ONE aggregation +
    ONE projection (r8b).

    Fuses ``minhash_signatures_from_shingles`` + ``_minhash_banded_
    table``: the band hashes are built directly from the ``h<seed>``
    aggregate columns (``xxhash64(concat_ws(",", cast ...))``), which
    is expression-for-expression the value the array form computes —
    ``array_join(transform(slice(array(h0..h31), b·r+1, r), cast),
    ",")`` over non-null longs IS ``concat_ws`` of the same casts — so
    bucket values are bit-identical (pinned by
    ``test_fused_banding_matches_array_form``). Skips materializing
    the signature array and the per-row sequence/slice/transform
    lambda tree, which both bloated analysis time (the pipeline's
    plans embed this subtree 4+ times) and per-row work.
    """
    r = num_hashes // bands
    # SQL-string expressions, ONE py4j parse each (r8b): the
    # Column-builder form crossed the Python/JVM gateway ~5× per
    # subexpression — ~0.6 s of socket latency per pipeline
    # CONSTRUCTION at 32 hashes — while `expr` ships the whole tree in
    # one call. The parsed literals/casts are the same Catalyst nodes.
    aggs = [
        F.expr(f"min(xxhash64(shingle, {seed})) AS h{seed}")
        for seed in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    bucket_sql = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {cols})))"
        .format(
            b=b,
            cols=", ".join(
                f"cast(h{b * r + i} as string)" for i in range(r)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({bucket_sql}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           num_hashes: int = 32, bands: int = 8,
                           max_bucket_size: int = 10_000) -> DataFrame:
    """LSH banding: docs agreeing on any full band are candidate pairs.

    rows-per-band r = num_hashes/bands; collision prob ≈ 1-(1-s^r)^b.
    Plan: signatures → explode band slices → hash band → self-join per
    (band_idx, band_hash) bucket — the all-pairs join never happens.
    ``max_bucket_size``: see ``_lsh_band_pairs``.
    """
    return _lsh_band_pairs(
        minhash_signatures(docs, id_col, text_col, n, num_hashes),
        num_hashes, bands, max_bucket_size,
    )


def _minhash_banded_table(sig: DataFrame, num_hashes: int,
                          bands: int) -> DataFrame:
    """(doc_id, minhash) → (doc_id, band, bucket) — ids only; shared by
    candidate generation and the bucket-stats report so both see the
    exact same bucketing."""
    r = num_hashes // bands
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("minhash"), b * r + 1, r),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def _hot_band_buckets(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """(band, bucket, sz) for buckets over the cap. Partial (map-side)
    aggregation collapses even a degenerate mega-bucket to one row per
    mapper before the shuffle, and the result is tiny by definition
    (≤ |banded| / max_bucket_size rows) — always broadcastable."""
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > max_bucket_size)
    )


def _lsh_band_pairs_from_banded(banded: DataFrame,
                                max_bucket_size: int = 10_000) -> DataFrame:
    """(doc_id, band, bucket) table → distinct candidate id pairs.

    ``max_bucket_size`` is the banding-join skew backstop (mirrors
    ``embedding_lsh_candidates``, code-review symmetry pass r5): a
    degenerate (band, bucket) shared by d docs makes d² join rows
    under one key — near-identical template pages at crawl scale can
    share full bands by the million even after exact-dup collapse.
    Oversized buckets are dropped from candidate generation (hard cost
    ceiling; recall inside pathological clusters traded away) — NOT
    silent: ``minhash_band_bucket_stats`` reports what a corpus drops,
    and ``minhash_near_duplicates``/``dedup_near`` hand the same report
    back through ``cap_report``.

    The cap is a broadcast anti-join against the (tiny) over-cap bucket
    set, NOT a count-window (r6 redesign): the window formulation had
    to shuffle every mega-bucket row into ONE partition and sort it
    just to count-and-drop it — the exact skew it exists to prevent,
    and AQE cannot split a window partition. Here the hot set comes
    from a partial aggregation (map-side collapse, no skewed reduce
    task) and over-cap rows die BEFORE the bucket-grouping exchange, so
    a pathological bucket never concentrates anywhere. sf0.1 A/B: also
    removes a full-width sort per join side (BENCH/BASELINE.md r6).

    Pair generation is a groupBy + in-row expansion, not a self-join
    (r8b): the capped rows group once per (band, bucket) into a sorted
    member array and every (i, j>i) combination is emitted by a
    two-level explode — identical pairs to the a<b self-join over the
    same rows, from ONE exchange of the banded table instead of a
    persisted self-join reading it twice. The aggregation state is
    bounded by the cap applied upstream (≤ max_bucket_size ids per
    group), and the explode streams pairs without materializing a
    bucket's full pair set.
    """
    ok = (
        banded.join(
            F.broadcast(_hot_band_buckets(banded, max_bucket_size)
                        .select("band", "bucket")),
            ["band", "bucket"],
            "left_anti",
        )
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    return (
        ok.select(F.posexplode("_m").alias("_i", "id_a"), "_m")
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("_m"), F.col("_i") + 2, F.size("_m"))
            ).alias("id_b"),
        )
        .distinct()
    )


def _lsh_band_pairs(sig: DataFrame, num_hashes: int, bands: int,
                    max_bucket_size: int = 10_000) -> DataFrame:
    """(doc_id, minhash) signatures → distinct candidate id pairs.
    See ``_lsh_band_pairs_from_banded`` for the cap semantics."""
    return _lsh_band_pairs_from_banded(
        _minhash_banded_table(sig, num_hashes, bands), max_bucket_size
    )


def _band_bucket_stats_from_banded(banded: DataFrame,
                                   max_bucket_size: int) -> DataFrame:
    """Per-band cap report from a pre-built (doc_id, band, bucket)
    table — lets ``minhash_near_duplicates`` report on the exact
    banding it generated candidates from, without re-tokenizing."""
    per = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    return per.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > max_bucket_size, F.col("sz")).otherwise(0))
        .cast("long").alias("n_rows_dropped"),
    )


def minhash_band_bucket_stats(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text", n: int = 3,
                              num_hashes: int = 32, bands: int = 8,
                              max_bucket_size: int = 10_000) -> DataFrame:
    """No-silent-caps report for the banding-join bucket cap: per band,
    how many buckets exist, the largest, and how many (doc, band) rows
    the cap would drop from candidate generation."""
    banded = _minhash_banded_table(
        minhash_signatures(docs, id_col, text_col, n, num_hashes),
        num_hashes, bands,
    )
    return _band_bucket_stats_from_banded(banded, max_bucket_size)


def minhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            num_hashes: int = 32, bands: int = 8,
                            threshold: float = 0.8,
                            reuse_shingles: bool = False,
                            max_shingle_df: int | None = 1000,
                            max_bucket_size: int = 10_000,
                            cap_report: dict | None = None) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates → exact-verify.

    The verification jaccard runs only on LSH candidates (semi-join
    pushdown onto the shingle table), so total cost stays near-linear.

    ``max_shingle_df`` (default 1000) is the verify-join skew guard: a
    shingle shared by d candidate docs makes d² join rows under one
    key, so a stopword shingle across 10⁶ candidates would be ~10¹²
    rows in one partition. Shingles above the cap are dropped from both
    the intersection and the sizes (Jaccard over the filtered
    universe) — near-zero discrimination loss, bounded worst key
    (≤ 10⁶ rows at the default). Run ``shingle_df_stats`` on the same
    shingle table to report what the cap removed (no silent caps);
    ``None`` disables for exact-parity verification runs.

    ``reuse_shingles=True`` persists the exploded shingle table so ONE
    tokenize+shingle pass feeds both the signature aggregation and the
    verify jaccard, instead of re-shingling the pruned docs from
    scratch (a second doc scan + tokenization). The default is FALSE
    (r8b): the verify scope is the candidate docs only — re-tokenizing
    that small slice is cheaper than writing |docs|·shingles rows into
    cache and semi-joining them back out (A/B'd at sf1.0: 0.3-0.5 s
    faster, identical output), and at 100 TB a corpus-sized executor
    cache is exactly what the pipeline must NOT hold. Pass ``True``
    when the caller keeps the shingle table for other uses (the
    cap_report's ``shingle_df_stats`` re-tokenizes the corpus when the
    table was not kept).

    ``max_bucket_size`` is the BANDING-join counterpart (see
    ``_lsh_band_pairs``): it bounds the candidate-generation self-join
    the same way ``max_shingle_df`` bounds the verify join. Report with
    ``minhash_band_bucket_stats``.

    The candidate pairs are persisted either way: they feed three
    consumers (id pruning, the final semi-join, the verify scope) and
    are id pairs only — tiny at any scale.

    ``cap_report`` (ADVICE r5, no-silent-caps): pass a dict and it is
    filled with two small UNEXECUTED report DataFrames over the exact
    intermediates this run banded/verified —
    ``"shingle_df_stats"`` (one row; ``None`` when ``max_shingle_df``
    is off) and ``"band_bucket_stats"`` (one row per band). Trigger
    them after (or instead of) the main action; they reuse the
    persisted shingle/signature tables, so the marginal cost is two
    small aggregations, not a re-tokenize. ``dedup_cap_summary``
    collects both and warns when any cap actually dropped rows.
    """
    from ocr_agent_spark.cache import persist_tracked

    if reuse_shingles:
        sh = persist_tracked(shingle_table(docs, id_col, text_col, n))
    else:
        sh = None
    # banded comes from the FUSED agg+banding projection (r8b) — bucket
    # values bit-identical to the signatures→array→slice composition,
    # minus one projection layer and the lambda expression tree (see
    # _banded_from_shingles). The signature table is never
    # materialized: since the r8 pair-scoped verify, banding is its
    # only consumer.
    # banded IS persisted: referenced by the hot-bucket aggregate,
    # the capped anti-join stream side, and (when requested) the
    # cap_report — one cheap materialization instead of three (r8).
    banded = persist_tracked(_banded_from_shingles(
        sh if sh is not None else shingle_table(docs, id_col, text_col, n),
        num_hashes, bands,
    ))
    candidates = persist_tracked(
        _lsh_band_pairs_from_banded(banded, max_bucket_size)
    )
    if cap_report is not None:
        cap_report["shingle_df_stats"] = (
            None if max_shingle_df is None else shingle_df_stats(
                sh if sh is not None
                else shingle_table(docs, id_col, text_col, n),
                max_shingle_df,
            )
        )
        cap_report["band_bucket_stats"] = _band_bucket_stats_from_banded(
            banded, max_bucket_size
        )
        # (doc_id) members of over-cap buckets — the docs whose
        # candidate generation the cap suppressed. Feeds dedup_near's
        # overcap_fallback; slim id column, unexecuted until used.
        cap_report["overcap_doc_ids"] = (
            banded.join(
                F.broadcast(_hot_band_buckets(banded, max_bucket_size)
                            .select("band", "bucket")),
                ["band", "bucket"], "semi",
            ).select("doc_id").distinct()
        )
    # No distinct: cand_ids only ever feeds left_semi probes below,
    # where right-side multiplicity is irrelevant — the distinct was a
    # whole extra aggregate exchange on the critical path (r8b).
    cand_ids = (
        candidates.select(F.col("id_a").alias("doc_id"))
        .union(candidates.select(F.col("id_b").alias("doc_id")))
    )
    # Pair-scoped verify (r8, guide §8): jaccard is computed for the
    # LSH candidate pairs ONLY, over the same candidate-doc-scoped
    # filtered shingle universe the previous formulation used. The old
    # closing ``semi`` join is gone because the verify output is a
    # subset of ``candidates`` by construction.
    if reuse_shingles:
        sh_scope = sh.join(cand_ids, "doc_id", "left_semi")
    else:
        pruned = docs.join(cand_ids, docs[id_col] == cand_ids["doc_id"], "left_semi")
        # widen=False: the pruned slice is candidate docs only; the
        # scan-widen guard would add an exchange for a tiny table.
        sh_scope = shingle_table(pruned, id_col, text_col, n, widen=False)
    return _jaccard_for_pairs(candidates, sh_scope, threshold, max_shingle_df)


def connected_components(pairs: DataFrame, max_iterations: int = 20,
                         strict: bool = True,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Components of the (id_a, id_b) pair graph via label propagation.

    The iterative min-label algorithm (GraphX-free connected
    components) with POINTER JUMPING: every vertex starts labeled with
    itself; each round every vertex takes the min label over itself and
    its neighbors (one join + one aggregation), then labels are
    re-pointed through their own labels (label := label[label], one
    self-join) — the path-halving step that makes convergence
    O(log diameter) instead of O(diameter). Near-dup clusters are
    shallow (stars/cliques → 2-3 rounds), but a 1000-hop chain now
    needs ~10 rounds, not 1000.

    Lineage is CUT (``itercut.make_cutter``) by the rule every loop
    here follows: cut loop-invariant inputs once, before the loop, and
    cut each round. The edge table is read by every round, and the
    caller's ``pairs`` usually carry a deep plan (``dedup_near``: exact
    dedup, MinHash banding, verify join); merely persisted, that whole
    lineage would be re-planned for each of a round's joins, so the
    edges are cut once up front and every round plans against leaves
    only. Each round's labels are cut too: the jump step references the
    round's intermediate twice, so without a true cut the analyzed plan
    doubles per round (cache substitution happens at planning time but
    the logical tree keeps the full history) — measured as analyzer OOM
    by round ~10. The cut is ``localCheckpoint`` by default
    (executor-memory blocks — fine on local mode, but a lost executor
    loses the blocks with NO lineage to recompute them, killing the
    job). Pass ``checkpoint_dir`` (an HDFS/S3 path on a cluster) to use
    reliable ``checkpoint()`` instead: same cuts, they survive executor
    loss. At 100 TB always set it. Superseded rounds' checkpoint files
    are deleted as the loop advances and the edge cut once it ends
    (Spark itself never cleans reliable checkpoints); the FINAL round's
    files back the returned DataFrame, so delete ``checkpoint_dir``
    only after consuming or persisting the result.

    If the loop exhausts ``max_iterations`` before converging (a chain
    longer than the budget), the labels are WRONG for the unconverged
    vertices — with ``strict`` (default) this raises rather than let a
    dedup keep/drop the wrong documents silently; ``strict=False``
    downgrades to a warning for exploratory runs.

    Returns (doc_id, component) where component = min doc_id reachable.
    Genuinely non-SQL-expressible (driver-side convergence loop) —
    exactly the class the driver records rows-only checks for.
    """
    from ocr_agent_spark.functions.itercut import make_cutter

    spark = pairs.sparkSession
    # gc_superseded is called AFTER the convergence join consumed the
    # previous round and `labels` was reassigned — only then are older
    # rounds' checkpoint files truly unreferenced.
    cut, gc_superseded = make_cutter(spark, checkpoint_dir)

    # Both directions from ONE pass over `pairs` (an explode, not a
    # union of two selects, which would evaluate the caller's pair
    # lineage twice in the cut's job).
    edges = cut(
        pairs.select(F.explode(F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        )).alias("_e"))
        .select("_e.src", "_e.dst")
        .distinct(),
        invariant=True,
    )
    labels = cut(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )

    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        stepped = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.col("component").alias("_prev"),
                F.least(
                    F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        # Pointer jumping: component := component's component. Labels
        # always point at real vertex ids (initialized to self), so the
        # self-join hits every row; coalesce guards the theoretical miss.
        jump = stepped.select(
            F.col("doc_id").alias("component"), F.col("component").alias("_cc")
        )
        # Lineage cut (see docstring): eager checkpoint materializes
        # the round AND truncates the plan to the checkpointed blocks.
        # The previous round's label rides along as ``_prev`` so the
        # convergence check below is an aggregate scan over the
        # already-materialized checkpoint blocks — NOT a separate
        # full-table join against the old labels (one fewer join +
        # exchange per round; _prev costs one long column in the
        # checkpoint files).
        new_labels = cut(
            stepped.join(jump, "component", "left")
            .select(
                "doc_id",
                "_prev",
                F.least(
                    F.col("component"), F.coalesce(F.col("_cc"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = new_labels.filter(F.col("component") != F.col("_prev")).count()
        labels = new_labels
        gc_superseded()
        if changed == 0:
            break
    gc_superseded(loop_done=True)
    labels = labels.drop("_prev")
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing) — raise "
            "max_iterations (components deeper than the budget exist)"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    return labels


def dedup_cap_summary(cap_report: dict, warn: bool = True) -> dict:
    """Collect a ``cap_report`` (see ``minhash_near_duplicates``) into a
    plain dict and, by default, ``warnings.warn`` when either skew cap
    actually dropped rows — the ADVICE-r5 contract that a capped dedup
    run is never silently a different computation.

    Returns ``{"n_shingles_hot", "shingle_rows_dropped", "max_df",
    "n_buckets_hot_rows_dropped", "max_bucket"}`` (shingle keys are
    ``None`` when the verify cap was off). Triggers the two small
    report aggregations; call after the main action so the persisted
    intermediates are already hot.
    """
    out: dict = {"n_shingles_hot": None, "shingle_rows_dropped": None,
                 "max_df": None}
    srep = cap_report.get("shingle_df_stats")
    if srep is not None:
        row = srep.collect()[0]
        out.update(
            n_shingles_hot=row["n_shingles_hot"],
            shingle_rows_dropped=row["n_rows_dropped"],
            max_df=row["max_df"],
        )
    brows = cap_report["band_bucket_stats"].collect()
    out["n_buckets_hot_rows_dropped"] = int(
        sum(r["n_rows_dropped"] for r in brows)
    )
    out["max_bucket"] = max((r["max_bucket"] for r in brows), default=0)
    dropped = (out["n_buckets_hot_rows_dropped"] or 0) + (
        out["shingle_rows_dropped"] or 0
    )
    out["overcap_fallback"] = bool(cap_report.get("overcap_fallback"))
    if warn and dropped > 0:
        import warnings

        tail_msg = (
            "over-cap bucket members were routed through the "
            "exact-simhash (hamming-0) fallback collapse"
            if out["overcap_fallback"] else
            "over-cap clusters are NOT deduped; raise the caps or "
            "enable overcap_fallback"
        )
        warnings.warn(
            f"dedup skew caps dropped rows: {out['shingle_rows_dropped']} "
            f"(doc,shingle) rows over max_shingle_df (max df "
            f"{out['max_df']}), {out['n_buckets_hot_rows_dropped']} "
            f"(doc,band) rows over max_bucket_size (max bucket "
            f"{out['max_bucket']}) — {tail_msg}",
            stacklevel=2,
        )
    return out


def simhash_exact_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        hash_fn: str = "xxhash64") -> DataFrame:
    """(id_a=keeper, id_b=loser) pairs for docs sharing an IDENTICAL
    64-bit simhash (hamming-0 collapse).

    This is the skew-proof fuzzy-dedup form: the keeper per signature
    comes from ``groupBy(simhash).agg(min(id))`` — partial (map-side)
    aggregation collapses even a 10⁸-doc template cluster to one row
    per mapper BEFORE the shuffle, and no self-join ever happens, so
    the mega-cluster that overflows a banding bucket cap cannot hurt
    this pass. Recall is narrower than banded simhash (only exact
    signature matches pair up), which is exactly the regime of the
    over-cap clusters it serves: near-identical template pages whose
    huge shared token mass gives every copy the same sign votes.
    The join-back keys on simhash with a ONE-row keeper side per
    signature — the AQE skew-split shape (enabled in session.py).
    """
    sig = simhash_signatures(docs, id_col, text_col, hash_fn)
    keeper = sig.groupBy("simhash").agg(F.min("doc_id").alias("id_a"))
    return (
        sig.join(keeper, "simhash")
        .filter(F.col("doc_id") != F.col("id_a"))
        .select("id_a", F.col("doc_id").alias("id_b"))
    )


def simhash_exact_collapse(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           hash_fn: str = "xxhash64") -> DataFrame:
    """Keep one document per identical-simhash group (min id), all
    columns preserved. See ``simhash_exact_pairs`` for the scale
    argument; the md5 ``hash_fn`` form is engine-portable and carries
    the ``simhash_collapse_keep`` DuckDB oracle."""
    losers = simhash_exact_pairs(docs, id_col, text_col, hash_fn) \
        .select(F.col("id_b").alias("__loser"))
    return docs.join(
        losers, docs[id_col] == losers["__loser"], "left_anti"
    )


def dedup_near(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               n: int = 3, num_hashes: int = 32, bands: int = 8,
               threshold: float = 0.8,
               checkpoint_dir: str | None = None,
               max_shingle_df: int | None = 1000,
               max_bucket_size: int = 10_000,
               cap_report: dict | None = None,
               overcap_fallback: bool = True) -> DataFrame:
    """Remove near-duplicates: MinHash+LSH pairs → connected components
    → keep the min-id document per component (plus all untouched docs).

    The full fuzzy-dedup keep-policy of a training-data pipeline: two
    docs that never share an LSH band stay independent; clusters formed
    by transitive near-duplication collapse to one representative.
    ``max_shingle_df``: see ``minhash_near_duplicates`` (verify-join
    skew guard; report with ``shingle_df_stats``).

    Exact duplicates collapse FIRST (one fingerprint-window shuffle):
    a boilerplate page copied 100k times would otherwise push every
    one of its shingles past ``max_shingle_df``, emptying its shingle
    set in the capped verify stage and silently keeping every copy
    (code-review r5). After the collapse each distinct text enters the
    MinHash stage once, so the cap only ever drops genuinely
    cross-document stopword shingles. The final keep set is identical
    to the uncollapsed formulation: an exact-dup group's keeper is its
    min id — exactly what the near-dup cluster keeper would select —
    and a group's near-dup relations are text-determined, so they
    survive intact on the representative.

    ``overcap_fallback`` (default on, ADVICE r5): docs whose banding
    bucket overflowed ``max_bucket_size`` — the one place the LSH path
    deliberately drops candidates — are routed through
    ``simhash_exact_pairs`` (hamming-0 collapse, groupBy-shaped, no
    self-join) so a >cap template cluster still collapses instead of
    being silently retained. Inert when no cap trips (the over-cap id
    set is empty); the fallback pairs join the same connected-
    components pass, so transitivity across the two pair sources
    holds.
    """
    uniques = dedup_exact(docs, id_col, text_col)
    exact_losers = docs.select(F.col(id_col).alias("doc_id")).join(
        uniques.select(F.col(id_col).alias("doc_id")), "doc_id", "left_anti"
    )
    rep = cap_report if cap_report is not None else (
        {} if overcap_fallback else None
    )
    pairs = minhash_near_duplicates(uniques, id_col, text_col, n, num_hashes,
                                    bands, threshold,
                                    max_shingle_df=max_shingle_df,
                                    max_bucket_size=max_bucket_size,
                                    cap_report=rep)
    pairs = pairs.select("id_a", "id_b")
    if overcap_fallback:
        oc = rep["overcap_doc_ids"]
        oc_docs = uniques.join(
            oc, uniques[id_col] == oc["doc_id"], "semi"
        )
        pairs = pairs.union(
            simhash_exact_pairs(oc_docs, id_col, text_col)
        )
        if cap_report is not None:
            cap_report["overcap_fallback"] = True
    components = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    near_losers = components.filter(
        F.col("doc_id") != F.col("component")
    ).select("doc_id")
    losers = exact_losers.union(near_losers)
    return docs.join(
        losers, docs[id_col] == losers["doc_id"], "left_anti"
    )


def dedup_paragraphs(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Cross-document exact paragraph dedup (the C4-style span rule):
    each distinct paragraph survives only at its FIRST occurrence
    (min (doc_id, para_idx)); later repeats — nav footers, cookie
    banners, license blocks — are cut out of their documents, and the
    remaining paragraphs are reassembled in order. Documents left empty
    are dropped.

    Skew-safe by construction: the keeper per fingerprint comes from a
    ``groupBy(fp).agg(min(struct(doc_id, para_idx)))`` — partial
    (map-side) aggregation collapses even a boilerplate paragraph
    shared by 10⁹ documents before the shuffle, where the obvious
    ``row_number() over (partition by fp)`` formulation would pour all
    10⁹ rows into ONE window partition. Cost: one agg shuffle on fp +
    one join back + one groupBy(doc) reassembly, all on slim
    (id, idx, para) rows. The join-back still keys on fp, so a hot
    boilerplate key concentrates there — but its keeper side is ONE
    row per fp, exactly the shape AQE's skew-join split handles
    (enabled in session.py), and every non-keeper row dies in the
    filter immediately after.

    Fingerprint is exact md5 of the trimmed paragraph (engine-portable
    — the ``paragraph_dedup`` query replays this verbatim in DuckDB).
    """
    arr = F.split(F.col(text_col), r"(?:\r?\n){2,}")
    paras = (
        docs.select(F.col(id_col), F.posexplode(arr).alias("para_idx", "_raw"))
        .withColumn("para", F.trim(F.col("_raw")))
        .filter(F.col("para") != "")
        .drop("_raw")
        .withColumn("fp", F.md5(F.col("para")))
    )
    keepers = paras.groupBy("fp").agg(
        F.min(F.struct(F.col(id_col).alias("kid"),
                       F.col("para_idx").alias("kidx"))).alias("k")
    )
    kept = (
        paras.join(keepers, "fp")
        .filter((F.col(id_col) == F.col("k.kid"))
                & (F.col("para_idx") == F.col("k.kidx")))
        .drop("fp", "k")
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias(text_col)
    )


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per doc, fully JVM-side.

    Per token: 64-bit hash → per bit position, vote +1/−1; signature
    bit i = sign of vote sum. Implemented as explode(tokens) → one
    groupBy with 64 conditional sums → bit reassembly.

    ``hash_fn``: ``"xxhash64"`` (default — fastest JVM primitive) or
    ``"md5"`` (the first 16 hex chars of md5 as the 64-bit token hash,
    extracted nibble-wise). The md5 form exists for engine portability:
    DuckDB computes the identical signature, giving the simhash
    ALGORITHM (votes, sign, bit assembly) a full value-hash oracle —
    the hash primitive is the only swappable part.
    """
    from ocr_agent_spark.partitioning import widen_if_narrow

    slim = widen_if_narrow(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_text"))
    )
    toks = slim.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("_text"))), r"\s+", " "), " ")
        ).alias("tok"),
    )
    if hash_fn == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))
        bit = [
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1)
            for i in range(64)
        ]
    elif hash_fn == "md5":
        # 64-bit value = first 16 hex nibbles of md5, big-endian; bit i
        # (LSB=0) lives in nibble 15 - i//4 at in-nibble position i%4.
        toks = toks.withColumn("hx", F.md5("tok"))
        nib = [
            F.conv(F.substring("hx", k + 1, 1), 16, 10).cast("int")
            for k in range(16)
        ]
        bit = [
            (F.shiftright(nib[15 - i // 4], i % 4).bitwiseAND(F.lit(1)) == 1)
            for i in range(64)
        ]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(bit[i], 1).otherwise(-1)).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig + F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_hamming: int = 3,
                            max_bucket_size: int = 10_000) -> DataFrame:
    """Near-dups by SimHash Hamming distance ≤ max_hamming.

    Candidate generation by 4-band banding of the 64-bit signature
    (pigeonhole: distance ≤3 ⇒ at least one 16-bit band equal), then
    exact popcount verification on candidates only.

    ``max_bucket_size`` is the banding-join skew backstop (same class
    as ``_lsh_band_pairs``'s, r5 symmetry pass): a degenerate 16-bit
    band value shared by d docs makes d² join rows under one key;
    oversized buckets are dropped from candidate generation. Collapse
    exact duplicates upstream so identical texts can't fill a bucket.
    """
    sig = simhash_signatures(docs, id_col, text_col)
    banded = sig.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("simhash"), i * 16)
                    .bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
                )
                for i in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    # Same broadcast anti-join cap as `_lsh_band_pairs_from_banded`
    # (r6 redesign): the old count-window formulation shuffled every
    # mega-bucket row into one partition just to count-and-drop it.
    banded = banded.join(
        F.broadcast(_hot_band_buckets(banded, max_bucket_size)
                    .select("band", "bucket")),
        ["band", "bucket"],
        "left_anti",
    )
    # Hamming popcount + threshold are evaluated INSIDE the bucket
    # expansion (map-side of the dedup), so the distinct's exchange
    # carries only (id_a, id_b, hamming) for SURVIVING pairs — not two
    # 64-bit signatures for every candidate. Pair generation is the
    # grouped in-row expansion (r8b, mirrors _lsh_band_pairs_from_
    # banded): each surviving bucket groups once into an id-sorted
    # (doc_id, simhash) struct array and every (i, j>i) combination is
    # exploded in-row — identical pairs to the a<b self-join from ONE
    # exchange, with aggregation state bounded by the upstream cap.
    ok = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(
            F.collect_list(F.struct("doc_id", "simhash"))
        ).alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    pairs = (
        ok.select(F.posexplode("_m").alias("_i", "_a"), "_m")
        .select(
            "_a",
            F.explode(
                F.slice(F.col("_m"), F.col("_i") + 2, F.size("_m"))
            ).alias("_b"),
        )
    )
    return (
        pairs.select(
            F.col("_a.doc_id").alias("id_a"),
            F.col("_b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("_a.simhash").bitwiseXOR(F.col("_b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
