"""Embedding similarity search (SURVEY.md §2.4 #37-39).

Vector math is built from zip_with/aggregate over array<double> —
JVM-side, sequential left-to-right accumulation, so the DuckDB oracle
reproduces results bit-for-bit before rounding. The brute-force path
broadcasts the (small) query set against the full corpus; the LSH
path buckets by deterministic Rademacher hyperplanes so candidate
generation stays linear at 100 TB.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.operators.dedup import (banded_self_join,
                                                       band_keys,
                                                       first_band_match)
from immoeliza_pipeline_spark.operators.window_ops import topk_per_group


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast the query set, rank
    per query on (rounded sim desc, id asc). Ranking on the ROUNDED
    score keeps the result stable across engines' fp low bits."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      as_double(F.col(vec_col)).alias("cvec"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id", "neighbor_id",
        (F.floor((cosine(F.col("qvec"), F.col("cvec"))) * 10000 + 0.5) / 10000).alias("cos_sim"))
    return topk_per_group(scored, "query_id", "cos_sim", k, "neighbor_id")


def near_dup_pairs(corpus: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.45) -> DataFrame:
    """All pairs with cosine ≥ threshold. QUADRATIC BY DESIGN — this
    is the ground-truth baseline for recall measurement at oracle
    scale ONLY; never run it on a full corpus. The scale path is
    near_dup_pairs_bucketed (hyperplane-LSH blocked)."""
    a = corpus.select(F.col(id_col).alias("id1"), as_double(F.col(vec_col)).alias("v1"))
    b = corpus.select(F.col(id_col).alias("id2"), as_double(F.col(vec_col)).alias("v2"))
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    return (pairs.select("id1", "id2",
                         (F.floor((cosine(F.col("v1"), F.col("v2"))) * 10000 + 0.5) / 10000).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


LSH_TARGET_BUCKET_LOAD = 512  # expected vectors per band bucket


def auto_rows_per_band(n: int, target: int = LSH_TARGET_BUCKET_LOAD,
                       r_min: int = 3, r_max: int = 8) -> int:
    """Band width from corpus size: the smallest r in [r_min, r_max]
    with target · 2^r ≥ n, i.e. ⌈log2(n/target)⌉ clamped — expected
    bucket load n/2^r stays ≤ target, so candidate volume per band
    (Σ over buckets of load²) grows ~linearly with n instead of
    quadratically at fixed width: r=3 at 2k vectors, r=6 at 20k, r=8
    at 200k. INTEGER comparisons only — a float log2 could round
    across the boundary differently per engine; the DuckDB oracle
    mirrors the same ladder as a CASE over count(*). Recall retention
    per +1 of r follows 1-(1-p^r)^b (see near_dup_pairs_bucketed);
    raise `bands` if the retention math demands it at your threshold."""
    r = r_min
    while r < r_max and n > target * (1 << r):
        r += 1
    return r


def near_dup_pairs_bucketed(corpus: DataFrame, id_col: str, vec_col: str,
                            dim: int, threshold: float = 0.45,
                            bands: int = 4,
                            rows_per_band: int | None = None) -> DataFrame:
    """Near-dup pairs via banded hyperplane-LSH (the standard
    OR-construction) — the 100 TB path: candidates are pairs agreeing
    on ANY band's bucket (b bucket-equality joins over 2^r buckets
    each), never an all-pairs product. Per-pair recall is
    1 - (1 - p^r)^b with p = 1 - θ/π; tune r up for cheaper candidate
    generation at high thresholds, b up for recall. The planes are
    deterministic (md5 Rademacher signs), so any engine reproduces
    the same pair set exactly — band i uses planes [i*r, (i+1)*r).

    ``rows_per_band=None`` (default) derives r from the corpus row
    count via auto_rows_per_band. The count() is one metadata-cheap
    job at plan-build time."""
    r = (auto_rows_per_band(corpus.count())
         if rows_per_band is None else rows_per_band)
    # persisted: feeds the key table and both payload sides of the join
    c = hyperplane_bands(corpus, id_col, vec_col, dim, bands, r).persist()

    def pair_select(a, b):
        sim = (F.floor((dot(F.col(f"{a}.v"), F.col(f"{b}.v"))
                        / (F.col(f"{a}.nv") * F.col(f"{b}.nv"))) * 10000 + 0.5)
               / 10000)
        return [F.col(f"{a}.vid").alias("id1"), F.col(f"{b}.vid").alias("id2"),
                sim.alias("cos_sim")]

    candidates = banded_self_join(
        c, [f"band{i}" for i in range(bands)], "vid", pair_select)
    return candidates.filter(F.col("cos_sim") >= threshold)


def _centers(frame: DataFrame) -> DataFrame:
    """A (cid, c) centre frame as ONE broadcast row holding the array
    of its (cid, c) structs. collect_list order is nondeterministic,
    but every consumer reduces the array with an order-independent
    total order (array_min / array_sort over (distance, cid)
    structs), so results are exact."""
    return F.broadcast(frame.agg(F.collect_list(F.struct("cid", "c")).alias("__cs")))


def _distances(vec: str, dist) -> Column:
    """Per row, the (d, cid) struct of every centre in ``__cs``."""
    return F.transform(F.col("__cs"), lambda t: F.struct(
        dist(F.col(vec), t["c"]).alias("d"), t["cid"].alias("cid")))


def nearest(frame: DataFrame, vec: str, centers: DataFrame,
            dist) -> DataFrame:
    """``frame`` plus ``cid``/``d``: each row's nearest centre of the
    (cid, c) frame ``centers`` under ``dist(vec, c)``. ``dist`` must
    be quantized (ties then break on cid), so any engine picks the
    same centre.

    The centre frame is broadcast as one array row and the argmin runs
    per row via array_min, so assignment never shuffles ``frame``.
    An empty centre set gives array_min(empty) = NULL, and the row is
    dropped, as an inner cross join with no centres would drop it."""
    best = F.array_min(_distances(vec, dist))
    return (frame.crossJoin(_centers(centers))
            .select(*frame.columns, best["cid"].alias("cid"),
                    best["d"].alias("d"))
            .filter(F.col("cid").isNotNull()))


def nearest_n(frame: DataFrame, vec: str, centers: DataFrame, dist,
              n: int) -> DataFrame:
    """One (frame columns, cid) row for each of a row's ``n`` nearest
    centres, in the (d, cid) order of ``nearest`` — slot 1 is its
    argmin. Same broadcast, shuffle-free shape: the per-row distance
    array is sorted and its first ``n`` slots explode."""
    ranked = F.slice(F.array_sort(_distances(vec, dist)), 1, n)
    return (frame.crossJoin(_centers(centers))
            .select(*frame.columns, F.explode(ranked).alias("__cand"))
            .select(*frame.columns, F.col("__cand.cid").alias("cid")))


def _negcos_q(v: Column, c: Column) -> Column:
    """Negated cosine quantized to integer millionths."""
    return F.floor((-cosine(v, c)) * 1000000 + 0.5) / 1000000


def ivf_topk(corpus: DataFrame, queries: DataFrame, seeds: DataFrame,
             id_col: str, vec_col: str, k: int = 5,
             nprobe: int = 1) -> DataFrame:
    """IVF search: every corpus vector goes to its nearest seed cell
    (a deterministic seed set stands in for k-means — same plan
    shape; swap in trained centroids without changing the query), and
    candidates are ranked only within the query's ``nprobe`` nearest
    cells. At 100 TB the corpus is written partitioned by cell, so a
    query scans nprobe/cells of the data — nprobe is the recall knob
    (measured at sf0.01 vs brute force: recall@5 = 0.40 / 0.68 / 0.88
    at nprobe 1/2/3 on near-uniform synthetic vectors). Each corpus
    vector lives in exactly ONE cell, so a (query, neighbor) pair
    appears at most once — no dedup shuffle needed."""
    s = seeds.select(F.col(id_col).alias("cid"),
                     as_double(F.col(vec_col)).alias("c"))
    cells = nearest(
        corpus.select(F.col(id_col).alias("vid"),
                      as_double(F.col(vec_col)).alias("v")),
        "v", s, _negcos_q)
    qcells = nearest_n(
        queries.select(F.col(id_col).alias("query_id"),
                       as_double(F.col(vec_col)).alias("qv")),
        "qv", s, _negcos_q, nprobe)
    pairs = cells.join(F.broadcast(qcells), "cid").filter(
        F.col("vid") != F.col("query_id"))
    scored = pairs.select(
        "query_id", F.col("vid").alias("neighbor_id"), F.col("cid").alias("cell"),
        (F.floor((cosine(F.col("qv"), F.col("v"))) * 10000 + 0.5) / 10000).alias("cos_sim"))
    return topk_per_group(scored, "query_id", "cos_sim", k, "neighbor_id")


def sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _sq_dist_q(v: Column, c: Column) -> Column:
    """Squared euclidean distance quantized to integer millionths."""
    return F.floor(sq_dist(v, c) * 1000000 + 0.5) / 1000000


def kmeans_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd assignment step: each (vid, v) row gets its nearest
    centroid from the (cid, c) frame by squared euclidean distance,
    as (vid, v, cid, sq_dist). Distances are quantized to integer
    millionths BEFORE the argmin (ties then break on cid), so any
    engine picks the same cell; the argmin is ``nearest``'s
    broadcast, so the corpus is assigned in a single map-only pass."""
    return (nearest(vectors, "v", centroids, _sq_dist_q)
            .withColumnRenamed("d", "sq_dist"))


def kmeans_update(assigned: DataFrame) -> DataFrame:
    """One Lloyd update step: per-cluster element-wise mean vector.
    posexplode → groupBy (cid, dim) — the same long-format shape as
    label_centroids, one shuffle, any dimension count — then the
    array is reassembled in dim order (array_sort on (dim, mean)
    structs: dim is unique per group, so the order is total).
    Component means are quantized to integer millionths so the NEXT
    assignment step sees bit-identical centroids on every engine (the
    float mean itself is accumulation-ordered; the quantum is ~10⁶×
    the worst-case reorder error at these scales)."""
    exploded = assigned.select(
        "cid", F.posexplode(F.col("v")).alias("dim", "val"))
    means = exploded.groupBy("cid", "dim").agg(
        (F.floor(F.avg("val") * 1000000 + 0.5) / 1000000).alias("m"))
    return (means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                 .alias("dm"))
            .select("cid", F.transform(F.col("dm"),
                                       lambda s: s["m"]).alias("c")))


def md5_bucket16(id_col: Column) -> Column:
    """Deterministic 16-bit bucket from md5(id) — the same systematic
    sampler plans.corpus.temperature_sample uses; DuckDB mirror:
    CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 4)) AS INT)."""
    return F.conv(F.substring(
        F.md5(id_col.cast("string").cast("binary")), 1, 4), 16, 10).cast("int")


def kmeans_iterations(corpus: DataFrame, id_col: str, vec_col: str,
                      seed_modulus: int, n_iter: int = 2,
                      sample_threshold: int | None = None) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the
    trainer that upgrades ivf_topk's seed cells into real centroids
    (swap the seeds frame for kmeans_update output; the query plan
    does not change). Init = every seed_modulus-th vec_id as a
    centroid; ``n_iter`` assignment+update rounds, then a final
    assignment. Everything is quantized (distances and centroid
    components to integer millionths) so the full trajectory — not
    just the last step — is reproducible cross-engine; the DuckDB
    oracle unrolls the same rounds as a CTE chain.

    ``sample_threshold`` (a 16-bit md5-bucket cutoff, 65536 = keep
    all) is the SCALE lever: the Lloyd rounds assign only the
    deterministic sample (rows with md5_bucket16(id) < threshold)
    while the final assignment still covers the full corpus. With the
    plans-layer target of 256·k sample rows and k ∝ √n, per-round
    training cost is 256·k² ≈ 16·n — LINEAR — and the one full n·k
    assignment pass is the only super-linear term left (the
    structural IVF cost). None = train on everything (at oracle scale
    the threshold computes to 65536 anyway, so both paths coincide
    exactly).

    Per round: one broadcast of K centroids + one (cid, dim) shuffle —
    at 100 TB the update runs on the assignment output without
    rescanning the corpus (callers should persist ``corpus`` upstream
    if the source scan is expensive, as plans.similarity does)."""
    vectors = corpus.select(F.col(id_col).alias("vid"),
                            as_double(F.col(vec_col)).alias("v"))
    centroids = vectors.filter(F.col("vid") % seed_modulus == 0).select(
        F.col("vid").alias("cid"), F.col("v").alias("c"))
    training = vectors
    if sample_threshold is not None and sample_threshold < 65536:
        training = vectors.filter(
            md5_bucket16(F.col("vid")) < sample_threshold)
    for _ in range(n_iter):
        assigned = kmeans_assign(training, centroids)
        centroids = kmeans_update(assigned)
    # No per-round checkpoint: the trained centroids have ONE consumer
    # (the final assignment), so the Lloyd chain runs once either way
    # and a checkpoint only adds a job per round (measured 2.5s → 3.4s
    # at sf0.1). ivf_kmeans_topk, whose centroids feed two broadcasts,
    # does checkpoint.
    return kmeans_assign(vectors, centroids)


def unit_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, v) with v unit-normalized — squared euclidean over unit
    vectors is 2−2·cos, so euclidean k-means cells align with cosine
    ranking. The norm is staged as its own column (no CSE inside
    transform lambdas), and each component division is one correctly-
    rounded IEEE op, so any engine produces the same doubles."""
    staged = df.select(F.col(id_col).alias("vid"),
                       as_double(F.col(vec_col)).alias("__raw"))
    staged = staged.select("vid", "__raw", norm(F.col("__raw")).alias("__nv"))
    return staged.select(
        "vid", F.transform(F.col("__raw"),
                           lambda x: x / F.col("__nv")).alias("v"))


def ivf_kmeans_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                    vec_col: str, seed_modulus: int, k: int = 5,
                    nprobe: int = 2, n_iter: int = 2,
                    sample_threshold: int | None = None) -> DataFrame:
    """IVF search over TRAINED cells: unit-normalize, run
    kmeans_iterations for the centroids, assign the corpus to its
    nearest trained centroid, probe each query's ``nprobe`` nearest
    centroids, rank candidates by exact cosine (= dot of unit
    vectors, quantized like every other ranking in this module).
    The full trajectory stays deterministic (quantized distances and
    centroid components), so the DuckDB oracle reproduces cells,
    probes, and ranking exactly. At 100 TB: training runs on the
    deterministic md5-bucket sample (``sample_threshold``, see
    kmeans_iterations — linear per Lloyd round at the plans-layer
    256·k target), the corpus is assigned ONCE and written
    partitioned by cell, and each query scans ~nprobe/k of the
    data."""
    # the unit-normalized corpus feeds the seed init, the training
    # sample, AND the final cell assignment — persist so the scan +
    # normalize pipeline runs once (released at the harness
    # clearCache boundary)
    c = unit_vectors(corpus, id_col, vec_col).persist()
    centroids = c.filter(F.col("vid") % seed_modulus == 0).select(
        F.col("vid").alias("cid"), F.col("v").alias("c"))
    training = c
    if sample_threshold is not None and sample_threshold < 65536:
        training = c.filter(md5_bucket16(F.col("vid")) < sample_threshold)
    for _ in range(n_iter):
        # K-row round checkpoint: every later broadcast of the trained
        # centroids (corpus assignment AND query probing) otherwise
        # re-executes the whole nested Lloyd chain — see
        # kmeans_iterations. Quantized values, bit-identical.
        centroids = kmeans_update(
            kmeans_assign(training, centroids)).localCheckpoint(eager=True)
    cells = nearest(c, "v", centroids, _sq_dist_q).select("vid", "v", "cid")
    q = unit_vectors(queries, id_col, vec_col).select(
        F.col("vid").alias("query_id"), F.col("v").alias("qv"))
    qcells = nearest_n(q, "qv", centroids, _sq_dist_q, nprobe)
    pairs = cells.join(F.broadcast(qcells), "cid").filter(
        F.col("vid") != F.col("query_id"))
    scored = pairs.select(
        "query_id", F.col("vid").alias("neighbor_id"), F.col("cid").alias("cell"),
        (F.floor(dot(F.col("qv"), F.col("v")) * 10000 + 0.5) / 10000)
        .alias("cos_sim"))
    return topk_per_group(scored, "query_id", "cos_sim", k, "neighbor_id")


def _rademacher(j: int, d: int) -> int:
    """Deterministic ±1 from md5(j, d) — reproducible anywhere."""
    h = hashlib.md5(f"{j}_{d}".encode()).hexdigest()
    return 1 if int(h[0], 16) >= 8 else -1


def hyperplane_projections(vec_col: Column, dim: int, n_planes: int) -> Column:
    """All n_planes Rademacher projections in ONE vector traversal:
    the vector is zipped with a dim×n_planes sign-matrix literal
    (element d holds the n_planes signs for dimension d, every sign a
    foldable ±1.0 — constant-folded by Catalyst, never an unrolled
    per-element expression chain) and an n_planes running-sum vector
    accumulates left-to-right. Per plane j the accumulation order is
    d = 0..dim-1 — exactly the order of a standalone
    zip_with+aggregate over that plane — so results stay bit-identical
    to the oracle's per-plane list_sum(list_transform(list_zip))
    mirror. Callers MUST materialize the returned array as its own
    projection before reading elements (no CSE across the aggregate:
    inlining it under k element_at's would run the traversal k×)."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    # ONE nested-list literal (a single pre-folded Literal node), not
    # dim×n_planes CreateArray/lit children — the unrolled form costs
    # a py4j roundtrip per element at plan build and bloats analysis
    signs_t = F.lit([[float(_rademacher(j, d)) for j in range(n_planes)]
                     for d in range(dim)])
    init = F.lit([0.0] * n_planes)
    return F.aggregate(
        F.zip_with(v, signs_t,
                   lambda x, srow: F.transform(srow, lambda s: x * s)),
        init, lambda acc, xr: F.zip_with(acc, xr, lambda a, x: a + x))


def bucket_from_projections(projs_col: Column, start: int = 0,
                            n_planes: int = 8) -> Column:
    """LSH bucket id from a MATERIALIZED projections array (the
    random-hyperplane family for cosine similarity): the sign pattern
    of projections [start, start+n_planes) as an int — bit j set when
    projection start+j is positive."""
    bucket = F.lit(0)
    for j in range(n_planes):
        bucket = bucket + F.when(
            F.element_at(projs_col, start + j + 1) > 0,
            F.lit(2 ** j)).otherwise(0)
    return bucket


def hyperplane_bands(df: DataFrame, id_col: str, vec_col: str, dim: int,
                     bands: int, r: int) -> DataFrame:
    """(vid, v, nv, band0..band{bands-1}): the double vector, its norm
    and ``bands`` hyperplane-LSH buckets of ``r`` planes each (band i
    uses planes [i*r, (i+1)*r)). All bands*r projections run in ONE
    vector traversal staged as its own column, which the bands then
    read (measured ~12% faster end-to-end than bands*r separate
    zip_with+aggregate chains); the norm is computed once per vector,
    not once per candidate pair. Callers persist the result when it
    feeds several join sides."""
    c0 = df.select(F.col(id_col).alias("vid"),
                   as_double(F.col(vec_col)).alias("v"))
    c1 = c0.select("vid", "v", hyperplane_projections(
        F.col("v"), dim, bands * r).alias("__projs"))
    return c1.select(
        "vid", "v", norm(F.col("v")).alias("nv"),
        *[bucket_from_projections(F.col("__projs"), i * r, r)
          .alias(f"band{i}") for i in range(bands)])


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str, dim: int, k: int = 5, bands: int = 6,
                 rows_per_band: int = 3) -> DataFrame:
    """Approximate top-k via banded (multi-probe) hyperplane LSH:
    candidates are corpus vectors agreeing with the query on ANY of
    ``bands`` buckets of ``rows_per_band`` planes each, ranked exactly
    within the candidate set. A single AND-only bucket has per-plane
    miss-rate compounding — with 8 planes a true neighbor at cosine
    ~0.4 (θ ≈ 66°, per-plane agreement ~0.63) survives with
    probability 0.63⁸ ≈ 2.5%, i.e. recall ~0 (MEASURED: 0/25 at
    sf0.01 before this OR-construction; 0.88 recall@5 after, with
    candidates ~47% of all-pairs on these near-uniform synthetic
    embeddings — real embedding corpora cluster far more and prune
    far harder). Tune rows_per_band up for fewer candidates, bands up
    for recall. At 100 TB the corpus is written bucketed by the band
    keys once; each query probes ``bands`` buckets.

    Join shape: a broadcast probe, not banded_self_join's symmetric
    self-join — a small query set against a corpus. The corpus band
    keys (carrying the vector payload) explode narrowly from the
    cache, the query keys broadcast, and first_band_match keeps each
    agreeing pair exactly once, so the corpus is never shuffled. The
    self-join shape won on a corpus against itself at sf0.1 but lost
    at 10× (8.83s vs 6.44s) on this query-vs-corpus input."""
    # both banded frames feed the key explode and the scoring payload —
    # persist so the projection runs once per vector (released at the
    # harness clearCache boundary)
    c = hyperplane_bands(corpus, id_col, vec_col, dim, bands,
                         rows_per_band).persist()
    q = hyperplane_bands(queries, id_col, vec_col, dim, bands,
                         rows_per_band).persist()
    band_cols = [f"band{i}" for i in range(bands)]
    ck = band_keys(c, "vid", band_cols, "v", "nv").alias("a")
    qk = band_keys(q, "vid", band_cols, "v", "nv").alias("b")
    pairs = ck.join(F.broadcast(qk),
                    (F.col("a.__id") != F.col("b.__id"))
                    & first_band_match("a", "b", bands))
    # dot/(nq·nc) with the PRE-COMPUTED norms — identical doubles to
    # cosine()'s dot/(norm·norm), minus two array folds per candidate
    scored = pairs.select(
        F.col("b.__id").alias("query_id"), F.col("a.__id").alias("neighbor_id"),
        (F.floor((dot(F.col("b.v"), F.col("a.v"))
                  / (F.col("b.nv") * F.col("a.nv"))) * 10000 + 0.5) / 10000)
        .alias("cos_sim"))
    return topk_per_group(scored, "query_id", "cos_sim", k, "neighbor_id")
