"""Approximate-nearest-neighbor search over embedding columns.

Two paths over ``embeddings(vec_id bigint, embedding array<float>, ...)``:

- ``cosine_topk``      — brute-force exact baseline: one JVM-side
                          higher-order-function expression per row
                          (zip_with dot product), TakeOrderedAndProject
                          for the top-k. O(N) per query, no Python.
- ``lsh_cosine_topk``  — scale path: random-hyperplane LSH. Signatures
                          are seeded deterministic projections computed
                          once (linear scan), queries probe only their
                          bucket (+ multiprobe neighbors at Hamming
                          distance 1). Candidate set ≪ N, then exact
                          re-rank.

Norms/dots use double accumulation regardless of input float width so
results are stable across engines (oracle: DuckDB list_cosine_similarity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two array columns; NULL when either norm is zero.

    ``try_divide``, not ``/``: under ANSI mode a zero-norm (degenerate)
    vector would abort the whole job with DIVIDE_BY_ZERO, and under
    non-ANSI it yields NaN — which Spark orders ABOVE every number, so
    ``cosine >= threshold`` would be TRUE and the degenerate vector
    would pair with everything. NULL propagates as false through
    threshold predicates and sorts last in ``desc`` top-k — the
    semantics every caller wants."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query is a broadcast literal array; the scan is one stage with
    the score expression inside codegen, finished by a global top-k
    (TakeOrderedAndProject — no full sort). Score rounded to 6 dp so
    float accumulation noise never flips cross-engine comparisons.
    """
    from ocr_agent_spark.partitioning import widen_if_narrow

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    # Widen-if-narrow after the slim projection: a single-row-group
    # embeddings file otherwise evaluates every dot product in one scan
    # task (guide §2.5). Top-k order is deterministic (id tie-break),
    # so placement cannot change the result.
    slim = widen_if_narrow(embeddings.select(id_col, vec_col))
    return (
        slim.select(
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy RNG state)."""
    import random

    planes = []
    for p in range(n_planes):
        rng = random.Random(f"{seed}:{p}")
        planes.append([rng.uniform(-1.0, 1.0) for _ in range(dim)])
    return planes


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bit signature as an int (JVM-side)."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        sig = sig + F.when(
            _dot(vec_col, p) >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_planes: int = 8, seed: int = 42) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket (+Hamming-1 neighbors),
    exact re-rank inside the candidate set.

    At 100 TB the signature column is precomputed & partitioned-by, so a
    query touches ~N/2^b rows × (1+b) buckets instead of N.
    """
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)

    # Query signature computed driver-side (tiny, pure python).
    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    qsig = sum(
        (1 << i) for i, pl in enumerate(planes) if dot(query_vec, pl) >= 0
    )
    probe_sigs = [qsig] + [qsig ^ (1 << i) for i in range(n_planes)]

    signed = embeddings.withColumn("_sig", lsh_signature(F.col(vec_col), planes))
    candidates = signed.filter(F.col("_sig").isin(probe_sigs))
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def _kmeans_centroids(vectors: list[list[float]], n_clusters: int,
                      iters: int = 5, seed: int = 42) -> list[list[float]]:
    """Deterministic Lloyd k-means on a driver-side sample (pure python).

    The coarse quantizer for IVF. Sample sizes are a few thousand
    vectors — driver-side is the right place; the expensive part
    (assigning the full table) stays distributed.
    """
    import random

    rng = random.Random(f"ivf:{seed}")
    dim = len(vectors[0])
    centroids = [list(vectors[i]) for i in
                 sorted(rng.sample(range(len(vectors)), min(n_clusters, len(vectors))))]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for _ in range(iters):
        sums = [[0.0] * dim for _ in centroids]
        counts = [0] * len(centroids)
        for v in vectors:
            j = min(range(len(centroids)), key=lambda i: d2(v, centroids[i]))
            counts[j] += 1
            for d in range(dim):
                sums[j][d] += v[d]
        for j in range(len(centroids)):
            if counts[j]:
                centroids[j] = [s / counts[j] for s in sums[j]]
    return centroids


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Add ``_cluster``: index of the nearest centroid (JVM-side).

    |centroids| independent dot-product expressions collected into ONE
    array column, argmax via array_position(scores, array_max(scores)).
    NB: an iterative ``best = when(score > best, ...)`` chain embeds
    ``best`` twice per step — an exponentially-sized expression tree
    that hangs analysis/codegen at 16 centroids. Flat array + argmax
    keeps the tree linear.
    """
    scores = F.array(
        *[
            _dot(F.col(vec_col), F.array(*[F.lit(v) for v in c]))
            for c in centroids
        ]
    )
    cluster = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return embeddings.withColumn("_cluster", cluster)


def _quantizer_centroids(embeddings: DataFrame, id_col: str, vec_col: str,
                         n_clusters: int, sample_size: int,
                         seed: int) -> list[list[float]]:
    """Driver k-means over a deterministic unbiased sample.

    Quantizer sample: hash-ordered top-N — a deterministic *random*
    sample (one TakeOrdered pass, no full sort). orderBy(id).limit(N)
    would take the first N rows by id, which on crawl-ordered
    (topic-correlated) embeddings is a biased sample that silently
    degrades probe recall.
    """
    sample = [
        list(r[vec_col])
        for r in embeddings.select(vec_col, F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample_size)
        .collect()
    ]
    return _kmeans_centroids(sample, n_clusters, seed=seed)


def _probe_clusters(centroids: list[list[float]], query_vec: list[float],
                    n_probe: int) -> list[int]:
    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    return sorted(
        range(len(centroids)), key=lambda i: -dot(query_vec, centroids[i])
    )[:n_probe]


def ivf_cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_clusters: int = 16, n_probe: int = 4,
                    sample_size: int = 2048, seed: int = 42) -> DataFrame:
    """IVF ANN: coarse k-means quantizer → probe the query's n_probe
    nearest clusters → exact re-rank inside the probed subset.

    Inline form: the index is built per call (sample → driver k-means →
    broadcast centroids as literals) and the probe filter is evaluated
    against every row. For the build-once/query-many production shape,
    use ``build_ivf_index`` + ``ivf_index_topk``, where the vectors are
    PARTITIONED by cluster id and a query's scan prunes to
    ~n_probe/n_clusters of the files.
    """
    centroids = _quantizer_centroids(
        embeddings, id_col, vec_col, n_clusters, sample_size, seed
    )
    probe = _probe_clusters(centroids, query_vec, n_probe)
    assigned = ivf_assign(embeddings, centroids, vec_col)
    candidates = assigned.filter(F.col("_cluster").isin(probe)).drop("_cluster")
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def build_ivf_index(embeddings: DataFrame, path: str,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_clusters: int = 16, sample_size: int = 2048,
                    seed: int = 42) -> list[list[float]]:
    """Materialize an IVF index: build once, query many.

    Layout::

        <path>/current                       # pointer: active version id
        <path>/<ver>/centroids.json          # tiny: n_clusters × dim floats
        <path>/<ver>/vectors/cluster_id=<j>/ # PARTITIONED by cluster

    The expensive parts — the quantizer sample, the k-means, and the
    one full assignment pass over the vectors — are paid exactly once;
    every subsequent ``ivf_index_topk`` reads ONLY the probed clusters'
    partition directories (PartitionFilters prune the scan before any
    file is opened — plan-asserted in tests). At 10^9+ vectors this is
    the difference between a query scanning n_probe/n_clusters of the
    table and re-scanning (and re-assigning) everything per query, and
    the same layout serves any query vector. Returns the centroids.
    """
    import json
    import os
    import uuid

    centroids = _quantizer_centroids(
        embeddings, id_col, vec_col, n_clusters, sample_size, seed
    )
    # Versioned build + atomic pointer flip: centroids and assignments
    # land together under a fresh version dir, and readers only follow
    # the `current` pointer once both are fully written — a rebuild
    # that dies midway can never pair new cluster assignments with
    # stale centroids (which would silently probe wrong partitions).
    version = uuid.uuid4().hex[:12]
    vdir = os.path.join(path, version)
    assigned = (
        ivf_assign(embeddings, centroids, vec_col)
        .withColumnRenamed("_cluster", "cluster_id")
    )
    assigned.write.mode("errorifexists").partitionBy("cluster_id").parquet(
        os.path.join(vdir, "vectors")
    )
    with open(os.path.join(vdir, "centroids.json"), "w") as fh:
        json.dump(centroids, fh)
        fh.flush()
        os.fsync(fh.fileno())
    tmp = os.path.join(path, f".current-{version}")
    with open(tmp, "w") as fh:
        fh.write(version)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, "current"))
    return centroids


def append_ivf_index(embeddings: DataFrame, path: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[list[float]]:
    """Incrementally add vectors to the CURRENT index version.

    The append path of the build-once/query-many shape (VERDICT r4 item
    7): new vectors are assigned to the EXISTING centroids (no k-means,
    no re-assignment of old vectors — one scan over just the new rows)
    into their own ``cluster_id=<j>``-partitioned delta directory, so
    every subsequent ``ivf_index_topk`` sees them with unchanged probe
    semantics. The quantizer does NOT move; as appended data drifts
    away from the build-time distribution, recall decays — run
    ``ivf_drift_report`` after appends and rebuild when it says so.

    Crash atomicity mirrors the build's pointer flip (code-review r5):
    each append lands under ``<version>/appends/<uuid>/`` and becomes
    visible only when its ``_COMMITTED`` marker is atomically renamed
    into place AFTER the write finishes. A job that dies mid-append
    leaves an uncommitted directory that no reader ever lists — never
    partial rows inside the live index (``mode("append")`` into the
    base dir would expose exactly that during the commit window).

    Returns the (unchanged) centroids.
    """
    import json
    import os
    import uuid

    vdir = _ivf_index_dir(path)
    with open(os.path.join(vdir, "centroids.json")) as fh:
        centroids = json.load(fh)
    assigned = (
        ivf_assign(embeddings, centroids, vec_col)
        .withColumnRenamed("_cluster", "cluster_id")
    )
    adir = os.path.join(vdir, "appends", uuid.uuid4().hex[:12])
    assigned.write.mode("errorifexists").partitionBy("cluster_id").parquet(adir)
    tmp = os.path.join(vdir, "appends", f".commit-{os.path.basename(adir)}")
    with open(tmp, "w") as fh:
        fh.write("committed")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(adir, "_COMMITTED"))
    return centroids


def _ivf_vector_frames(spark, vdir: str):
    """Base vectors + every COMMITTED append delta, as separate
    DataFrames (separate roots keep per-root partition discovery and
    pruning intact — a multi-root read would refuse the layout)."""
    import os

    frames = [spark.read.parquet(os.path.join(vdir, "vectors"))]
    adir = os.path.join(vdir, "appends")
    if os.path.isdir(adir):
        for name in sorted(os.listdir(adir)):
            d = os.path.join(adir, name)
            if os.path.isdir(d) and os.path.exists(os.path.join(d, "_COMMITTED")):
                frames.append(spark.read.parquet(d))
    return frames


def ivf_drift_report(spark, path: str, vec_col: str = "embedding",
                     alignment_threshold: float = 0.9) -> DataFrame:
    """Per-cluster quantizer health: has appended data drifted away
    from the build-time centroids?

    For each cluster: member count and ``alignment`` = cosine between
    the centroid and the MEAN of the vectors currently assigned to it.
    Right after a build, means coincide with centroids (alignment ≈ 1
    up to the k-means convergence gap); appends pull the mean away —
    ``rebuild_recommended`` flags clusters below
    ``alignment_threshold``. Rebuild when any cluster flags (or when
    the appended fraction is large): probing is against the OLD
    centroids, so a drifted cluster's members are increasingly found
    in probes that skip them.

    Plan: posexplode (rows × dim) → per-(cluster, pos) avg (map-side
    combine) → per-cluster ordered reassembly → join the tiny centroid
    table (both join sides are ≤ n_clusters rows by then — the heavy
    shuffle is the |N|·dim aggregation, a maintenance scan, not a
    query-path cost). Sees base vectors plus committed appends.
    """
    import json
    import os

    vdir = _ivf_index_dir(path)
    with open(os.path.join(vdir, "centroids.json")) as fh:
        centroids = json.load(fh)
    frames = _ivf_vector_frames(spark, vdir)
    vectors = frames[0].select("cluster_id", vec_col)
    for f in frames[1:]:
        vectors = vectors.unionByName(f.select("cluster_id", vec_col))
    ve = vectors.select("cluster_id", F.posexplode(F.col(vec_col)))
    means = (
        ve.groupBy("cluster_id", "pos")
        .agg(F.avg("col").alias("m"), F.count(F.lit(1)).alias("n"))
    )
    mv = means.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("mean_vec"),
        F.max("n").alias("n_vectors"),
    )
    cent = spark.createDataFrame(
        [(j, [float(v) for v in c]) for j, c in enumerate(centroids)],
        "cluster_id int, centroid array<double>",
    )
    # no broadcast hint: Spark cannot build a full-outer join from a
    # broadcast side (the hint would be silently dropped), and both
    # inputs are ≤ n_clusters rows here anyway (code-review r5)
    out = mv.join(cent, "cluster_id", "full_outer").select(
        "cluster_id",
        F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
        F.round(
            cosine_similarity(F.col("mean_vec"), F.col("centroid")), 6
        ).alias("alignment"),
    )
    return out.withColumn(
        "rebuild_recommended",
        F.coalesce(F.col("alignment") < alignment_threshold, F.lit(False)),
    )


def _ivf_index_dir(path: str) -> str:
    import os

    pointer = os.path.join(path, "current")
    if not os.path.exists(pointer):
        raise FileNotFoundError(f"no IVF index at {path!r} (missing 'current')")
    with open(pointer) as fh:
        return os.path.join(path, fh.read().strip())


def ivf_index_topk(spark, path: str, query_vec: list[float], k: int = 10,
                   n_probe: int = 4, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Query a persisted IVF index (see ``build_ivf_index``).

    The probe-cluster filter is on the PARTITION column, so the scan
    opens only the n_probe chosen ``cluster_id=<j>`` directories; the
    exact cosine re-rank runs inside that slice only.
    """
    import json
    import os

    vdir = _ivf_index_dir(path)
    with open(os.path.join(vdir, "centroids.json")) as fh:
        centroids = json.load(fh)
    probe = _probe_clusters(centroids, query_vec, n_probe)
    frames = [
        f.filter(F.col("cluster_id").isin(probe)).drop("cluster_id")
        for f in _ivf_vector_frames(spark, vdir)
    ]
    vectors = frames[0]
    for f in frames[1:]:
        vectors = vectors.unionByName(f)
    return cosine_topk(vectors, query_vec, k, id_col, vec_col)


def embedding_near_duplicates_exact(embeddings: DataFrame, threshold: float = 0.95,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding") -> DataFrame:
    """Exact all-pairs cosine near-dups (the verification baseline).

    O(N²) — only for oracles/tests and for verifying the LSH variant's
    recall; the scale path is ``embedding_near_duplicates``.
    """
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    raw = cosine_similarity(F.col("va"), F.col("vb"))
    # Filter on the RAW cosine, round only for output — keeps the
    # predicate semantics identical to a SQL oracle that also filters
    # unrounded. Zero-norm vectors make the cosine NaN, and Spark
    # orders NaN ABOVE every number, so `raw >= threshold` would be
    # true — a degenerate vector would pair with everything and fuse
    # unrelated clusters; drop NaN pairs explicitly.
    return (
        pairs.filter((~F.isnan(raw)) & (raw >= threshold))
        .select("id_a", "id_b", F.round(raw, 6).alias("cosine"))
    )


def _banded_signature_table(embeddings: DataFrame, id_col: str, vec_col: str,
                            bands: int, rows_per_band: int,
                            seed: int) -> DataFrame:
    """(doc_id, band, bucket) exploded banded-signature table — the ONE
    bucketing definition shared by candidate generation and the
    bucket-stats report, so the stats always describe the bucketing
    actually applied."""
    dim_row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    planes = _hyperplanes(dim_row["d"], bands * rows_per_band, seed)
    band_sigs = [
        lsh_signature(F.col(vec_col),
                      planes[b * rows_per_band:(b + 1) * rows_per_band])
        for b in range(bands)
    ]
    return embeddings.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), sig.alias("bucket"))
                for b, sig in enumerate(band_sigs)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def embedding_lsh_candidates(embeddings: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding", bands: int = 12,
                             rows_per_band: int = 12, seed: int = 42,
                             max_bucket_size: int = 10_000) -> DataFrame:
    """Banded random-hyperplane LSH candidate pairs (ids only).

    b bands × r bits each: a pair is a candidate iff it agrees on ALL r
    sign bits of AT LEAST one band — P(candidate) = 1−(1−p^r)^b with
    p = 1 − θ/π. The round-1 single-table 8-plane design capped at 256
    buckets globally, so at 10⁹+ vectors every bucket held millions of
    rows and the within-bucket self-join re-exploded to ~N²/256; the
    banded form keeps 2^r buckets PER band (4096 at the default r=12)
    and recovers recall by unioning the per-band candidate sets — same
    shape as ``dedup.minhash_lsh_candidates``.

    ``max_bucket_size`` bounds the quadratic blowup of any single
    bucket (a degenerate direction shared by millions of vectors):
    oversized buckets are dropped from candidate generation, trading
    recall inside pathological clusters for a hard cost ceiling. NOT
    silent: use ``embedding_lsh_bucket_stats`` to see what a corpus
    would drop. At 100 TB, raise ``rows_per_band`` so expected bucket
    size stays ≪ the cap, and keep the cap as the skew backstop.

    Plan: one signature pass (b·r JVM dot products/row) → explode to
    (doc_id, band, bucket) — ids only, the vector never enters the
    shuffle — → broadcast anti-join against the (tiny) over-cap bucket
    set → per-(band,bucket) grouped pair expansion → distinct id pairs.
    The cap is an anti-join, not a count-window (r6, mirrors
    ``dedup._lsh_band_pairs_from_banded``): a window would shuffle
    every mega-bucket row into ONE partition and sort it just to
    count-and-drop it — the exact skew it exists to prevent. Pair
    generation groups each surviving bucket into a sorted member array
    and explodes every (i, j>i) combination in-row (r8b, mirrors the
    minhash path): identical pairs to the a<b self-join, from ONE
    exchange of the banded table instead of a persisted double read;
    aggregation state is bounded by the cap applied upstream.
    """
    banded = _banded_signature_table(embeddings, id_col, vec_col, bands,
                                     rows_per_band, seed)

    hot = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > max_bucket_size)
        .select("band", "bucket")
    )
    ok = (
        banded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
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


def embedding_lsh_bucket_stats(embeddings: DataFrame, id_col: str = "vec_id",
                               vec_col: str = "embedding", bands: int = 12,
                               rows_per_band: int = 12, seed: int = 42,
                               max_bucket_size: int = 10_000) -> DataFrame:
    """Per-band bucket-size distribution + how many rows the cap drops.

    The no-silent-caps companion to ``embedding_lsh_candidates``: run it
    before a big job to see whether ``max_bucket_size`` bites. Shares
    the exact bucketing construction with candidate generation.
    """
    banded = _banded_signature_table(embeddings, id_col, vec_col, bands,
                                     rows_per_band, seed)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bucket_size").alias("max_bucket"),
            F.sum(
                F.when(F.col("bucket_size") > max_bucket_size,
                       F.col("bucket_size")).otherwise(0)
            ).alias("rows_dropped_by_cap"),
        )
    )


def embedding_near_duplicates(embeddings: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id", vec_col: str = "embedding",
                              bands: int = 12, rows_per_band: int = 12,
                              seed: int = 42,
                              max_bucket_size: int = 10_000) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded LSH candidates → exact
    cosine verify on the candidate ids only.

    Candidate generation moves ids, never vectors; the verify stage
    joins the (small) candidate pair set back to the embedding table
    twice to fetch the two vectors — at 100 TB those are two hash joins
    keyed on id against a candidate set that is ≪ N.
    """
    cand = embedding_lsh_candidates(embeddings, id_col, vec_col, bands,
                                    rows_per_band, seed, max_bucket_size)
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    raw = cosine_similarity(F.col("_va"), F.col("_vb"))
    # NaN guard mirrors embedding_near_duplicates_exact: Spark sorts
    # NaN above all numbers, so an unguarded `>= threshold` would pass
    # every pair touching a zero-norm vector.
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter((~F.isnan(raw)) & (raw >= threshold))
        .select("id_a", "id_b", F.round(raw, 6).alias("cosine"))
    )


def semantic_dedup_keep(embeddings: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        bands: int = 12, rows_per_band: int = 12,
                        seed: int = 42, max_bucket_size: int = 10_000,
                        max_iterations: int = 20,
                        checkpoint_dir: str | None = None,
                        exact: bool = False) -> DataFrame:
    """SemDeDup-style semantic keep-set: one survivor per cosine cluster.

    SemDeDup (Abbas et al. 2023, arXiv:2303.09540) prunes semantic
    duplicates — paraphrases, templated rewrites, near-translations —
    that string-level MinHash misses, by thresholding embedding cosine
    inside clusters. This variant builds the duplicate graph from
    verified cosine pairs (banded-LSH candidates → exact verify, the
    ``embedding_near_duplicates`` scale path) instead of the paper's
    k-means partition, then keeps exactly one representative (min id)
    per connected component — the same keep policy as the MinHash arc's
    ``dedup_near``, so string-level and semantic-level dedup compose.

    Scale shape: LSH candidates move ids only; the component loop is
    the pointer-jumping ``connected_components`` (O(log diameter)
    rounds, lineage-cut per round — pass ``checkpoint_dir`` on a real
    cluster). Nothing touches all pairs: O(N²) exists only behind
    ``exact=True`` (oracles/recall tests).

    Returns the kept ids (one column, ``id_col``).
    """
    from ocr_agent_spark.functions.dedup import connected_components

    if exact:
        pairs = embedding_near_duplicates_exact(
            embeddings, threshold, id_col, vec_col)
    else:
        pairs = embedding_near_duplicates(
            embeddings, threshold, id_col, vec_col, bands, rows_per_band,
            seed, max_bucket_size)
    # read once, by connected_components' edge cut: no persist needed
    comps = connected_components(
        pairs.select("id_a", "id_b"), max_iterations,
        checkpoint_dir=checkpoint_dir)
    drop = comps.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col))
    return embeddings.select(id_col).join(drop, id_col, "left_anti")
