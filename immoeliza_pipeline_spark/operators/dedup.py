"""Near-duplicate detection operators (SURVEY.md §2.4).

Four families, all shuffle-architected for 100 TB:

- exact: hash groupBy / window keep-first (see plans.prep).
- n-gram Jaccard: shingle-explode → inverted-index self-join. The
  join key is the shingle, so candidate generation is proportional to
  sum over shingles of df(s)², not n² — word n-grams (n≥3) keep df
  small. ``max_df`` drops stop-shingles, the standard scale guard.
- MinHash+LSH: fixed-size signatures (one shuffle: explode → groupBy
  doc with H min-aggregates), banded bucket join → candidates ~
  linear in corpus size. Hashing is md5-based so any engine (and the
  DuckDB oracle) reproduces it bit-for-bit; min over hex strings is
  plain lexicographic min.
- SimHash: token-hash bit votes → one fingerprint per doc; duplicates
  collide exactly, near-duplicates within small Hamming distance.

No UDFs anywhere — md5/explode/min/CASE are all codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.text import tokens, word_shingles

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4
# default stop-shingle cap as a fraction of corpus size: a shingle in
# more than 2% of docs is boilerplate, not dedup signal, and generates
# O(df²) candidate pairs in the inverted-index join
DEFAULT_MAX_DF_FRAC = 0.02


from immoeliza_pipeline_spark.sources.readers import spread as _spread  # noqa: E402


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  max_df: int | float | None = None) -> DataFrame:
    """(id, shingle) pairs, distinct per doc. ``max_df`` (scale knob)
    drops shingles present in more than max_df docs — they generate
    O(df²) candidate pairs while carrying no dedup signal. An int is
    an absolute cap; a float in (0, 1) is a fraction of the input doc
    count (cap = ceil(frac * n_docs)), which keeps the guard
    proportional as the corpus grows.

    The token array is MATERIALIZED as its own projection before the
    n-gram transform: expressions inside higher-order-function
    lambdas are re-evaluated per element (no CSE), so inlining
    tokens() would re-run the regex split 3× per gram.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
    sh = toks.select(
        "id",
        F.explode(F.array_distinct(
            word_shingles(F.col("__toks"), n))).alias("shingle"),
    )
    if max_df is not None:
        doc_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        if isinstance(max_df, float):
            # fractional cap: scalar corpus count broadcast to every
            # doc_freq row — stays lazy and distributed, no collect
            cap = df.agg(F.ceil(F.count(F.lit(1)) * max_df).alias("__cap"))
            doc_freq = (doc_freq.crossJoin(F.broadcast(cap))
                        .filter(F.col("__df") <= F.col("__cap")))
        else:
            doc_freq = doc_freq.filter(F.col("__df") <= max_df)
        sh = sh.join(doc_freq, "shingle", "left_semi")
    return sh


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  threshold: float = 0.8,
                  max_df: int | float | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for all candidate pairs
    sharing ≥1 shingle; returns pairs ≥ threshold.

    The shingle table feeds three consumers (both join sides + the
    per-doc sizes); persist it so the explode/md5 stage runs once.

    Candidate prefilter (pure plan optimization — the result set is
    identical): a shingle with document frequency 1 can never produce
    a pair, yet it still pays two shuffles and a hash probe in the
    self-join. In a real corpus MOST shingles are unique, so both join
    sides are semi-joined down to df ≥ 2 shingles first — one extra
    map-side-combined agg buys a several-fold smaller self-join input
    (measured 76→44s on the 100× corpus-build probe). Sizes keep
    counting the FULL shingle table: the Jaccard denominator includes
    a doc's unique shingles.

    The persist sits on the RAW shingle table, below every df filter,
    so the doc-frequency aggregation reads the cache instead of
    re-running the parquet→tokenize→explode pipeline. Only the
    REPEATED shingles' doc-frequencies (df ≥ 2) are kept and
    persisted, because both df-filter branches live inside them:
    ``df > cap`` is the stop set the sizes universe anti-joins away,
    ``2 ≤ df ≤ cap`` is the candidate keep set. The per-doc sizes stay
    persisted too (they feed the n1 and n2 joins, and runtime exchange
    reuse does not fire across those branches). Results are
    identical: the cap filter only drops rows — it never changes a
    surviving shingle's df — and df ≤ cap ≡ NOT (df > cap) over a
    total doc-freq table.
    """
    sh_raw = shingle_table(df, id_col, text_col, n).persist()
    doc_freq = sh_raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # Keep only the REPEATED shingles' doc-frequencies: most shingles
    # in a real corpus are unique, and every df-filter branch only
    # needs df ≥ 2 rows — the candidate keep set is 2 ≤ df ≤ cap by
    # definition, and the sizes universe (df ≤ cap) is the COMPLEMENT
    # of the stop set (df > cap ⟹ df ≥ 2 because cap ≥ 1), so it is a
    # broadcast ANTI-join against the tiny stop set. The cache and
    # every join build side stay repeated-shingles-sized instead of
    # vocab-sized.
    rep = doc_freq.filter(F.col("__df") >= 2)
    if isinstance(max_df, float):
        cap = df.agg(F.ceil(F.count(F.lit(1)) * max_df).alias("__cap"))
        rep = rep.crossJoin(F.broadcast(cap))
        stop_cond = F.col("__df") > F.col("__cap")
    elif max_df is not None:
        stop_cond = F.col("__df") > max_df
    else:
        stop_cond = F.lit(False)
    # one small cache feeds every probe: stop = rep[stop_cond],
    # candidate keep set = rep[~stop_cond]
    rep = rep.persist()
    if max_df is None:
        sh = sh_raw
    else:
        sh = sh_raw.join(rep.filter(stop_cond).select("shingle"),
                         "shingle", "left_anti")
    # doc-count-sized; feeds BOTH the n1 and n2 joins below
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh")).persist()
    sh_c = sh_raw.join(rep.filter(~stop_cond).select("shingle"),
                       "shingle", "left_semi")
    a = sh_c.alias("a")
    b = sh_c.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2"))
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.join(sa, "id1").join(sb, "id2")
        .withColumn("jaccard", (F.floor((jac) * 10000 + 0.5) / 10000))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def band_keys(frame: DataFrame, id_col: str, band_cols: list[str],
              *payload: str) -> DataFrame:
    """The LIGHT key table of a banded-LSH join: one row per (row,
    band) with the row id as ``__id``, the ``payload`` columns, the
    earlier band values ``__b0..__b{B-2}`` that first_band_match
    reads, and the band index and value as ``__bi``/``__bv``."""
    return frame.select(
        F.col(id_col).alias("__id"), *payload,
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(band_cols[:-1])],
        F.posexplode(F.array(*[F.col(c) for c in band_cols]))
        .alias("__bi", "__bv"))


def first_band_match(a: str, b: str, n_bands: int) -> Column:
    """Join condition between two band_keys frames aliased ``a`` and
    ``b``: the rows agree on the key row's band, and on NO earlier
    band — so a pair agreeing on several bands is emitted once, by
    its first matching band (the OR-construction of Leskovec,
    Rajaraman & Ullman, *Mining of Massive Datasets* ch. 3, without a
    distinct over the candidate set). Earlier-band comparisons use
    NULL→no-match semantics (~coalesce(=, false)): NULL bands neither
    match nor suppress later matches."""
    cond = ((F.col(f"{a}.__bi") == F.col(f"{b}.__bi"))
            & (F.col(f"{a}.__bv") == F.col(f"{b}.__bv")))
    for p in range(n_bands - 1):
        cond &= F.when(F.col(f"{a}.__bi") <= p, F.lit(True)).otherwise(
            ~F.coalesce(F.col(f"{a}.__b{p}") == F.col(f"{b}.__b{p}"),
                        F.lit(False)))
    return cond


def banded_self_join(frame: DataFrame, band_cols: list[str], id_col: str,
                     pair_select) -> DataFrame:
    """OR-construction candidate generation over one frame (SimHash
    Hamming, MinHash, embedding near-dup): the pairs agreeing on ANY
    band, each exactly once, projected through
    ``pair_select(a_prefix, b_prefix) -> list[Column]`` (the "a."/"b."
    prefixes address the two frame sides). NULL band values never
    match (SQL equality), matching the property tests.

    Shape: ONE self-join of the light band_keys table on (band_idx,
    band_val) under first_band_match; the frame then joins back once
    per side to feed pair_select. ``frame`` should be persisted by the
    caller — it feeds the key table and both payload sides. The key
    rows carry only ids, not the payload: the pair count after banding
    is tiny relative to the frame, so two payload joins cost less than
    dragging a 64-double vector through the candidate join, and far
    less than a union of per-band join branches (2.7–3.7× slower at
    10× docs on all three callers) or a distinct over the candidate
    multiset."""
    keys = band_keys(frame, id_col, band_cols)
    cond = ((F.col("ka.__id") < F.col("kb.__id"))
            & first_band_match("ka", "kb", len(band_cols)))
    pairs = (keys.alias("ka").join(keys.alias("kb"), cond)
        .select(F.col("ka.__id").alias("__id1"),
                F.col("kb.__id").alias("__id2")))
    return (pairs
            .join(frame.alias("a"),
                  F.col("__id1") == F.col(f"a.{id_col}"))
            .join(frame.alias("b"),
                  F.col("__id2") == F.col(f"b.{id_col}"))
            .select(*pair_select("a", "b")))


def contamination_overlap(df: DataFrame, id_col: str, text_col: str,
                          bench_filter, n: int = 5) -> DataFrame:
    """Benchmark decontamination: for every non-benchmark doc, the
    number of distinct word n-grams it shares with the benchmark set
    (docs matching ``bench_filter``). The standard pre-training
    hygiene op: drop/flag training docs that leak eval data.

    Scale shape: benchmark sets are small (eval suites), so their
    distinct-shingle table broadcasts; candidate generation is a
    broadcast semi-join keyed on the shingle — corpus-side work is
    one shingle scan, no self-join. The shingle table feeds both the
    benchmark side and the corpus side, so it is persisted to keep
    the tokenize/explode pass single."""
    sh = shingle_table(df, id_col, text_col, n).persist()
    # no .distinct() on the benchmark probe side: the left-semi
    # join's broadcast hash build dedups keys itself (the broadcast
    # grows by the benchmark's internal repeats, which a fixed-size
    # eval suite keeps bounded)
    bench_shingles = (sh.filter(bench_filter(F.col("id")))
                      .select("shingle"))
    return (sh.filter(~bench_filter(F.col("id")))
            .join(F.broadcast(bench_shingles), "shingle", "left_semi")
            .groupBy("id").agg(F.count(F.lit(1)).alias("n_overlap"))
            .select(F.col("id").alias("doc_id"), "n_overlap"))


def jaccard_pairs_between(new_df: DataFrame, old_df: DataFrame,
                          id_col: str, text_col: str, n: int = 3,
                          threshold: float = 0.8,
                          max_df: int | float | None = None) -> DataFrame:
    """Incremental near-dup detection: Jaccard ≥ threshold pairs of a
    NEW batch against an EXISTING corpus — the ingestion-time shape at
    100 TB, where re-shingling the whole corpus per batch is the thing
    you must never do. The existing side's shingle table is what a
    production pipeline persists between batches (id, shingle) —
    candidate generation is a new-side shingle scan joined against
    that index, so per-batch cost is proportional to the BATCH, not
    the corpus. ``max_df`` (fractional = share of the existing corpus)
    drops STOP-shingles (existing-corpus doc freq above the cap) from
    BOTH sides — sizes must count the same shingle universe as the
    intersection, or a boilerplate-heavy exact duplicate scores 0.7
    instead of 1.0 and escapes the filter. The filter is an ANTI-join
    against the stop set, NOT a semi-join against the kept set: a
    shingle that only appears in the NEW batch has existing-corpus
    df = 0 (it is absent from the index's doc-freq table entirely),
    and a semi-join would silently drop it from n_new — a new doc
    that merely CONTAINS a small old doc plus novel text would then
    score jaccard 1.0 and be falsely flagged as a near-dup."""
    idx = shingle_table(old_df, id_col, text_col, n)
    cap_frame = (old_df.agg(F.ceil(F.count(F.lit(1)) * max_df).alias("__cap"))
                 if isinstance(max_df, float) else None)
    return jaccard_pairs_against_index(
        new_df, idx, id_col, text_col, n=n, threshold=threshold,
        max_df=max_df, cap_frame=cap_frame)


def jaccard_pairs_against_index(new_df: DataFrame, index: DataFrame,
                                id_col: str, text_col: str, n: int = 3,
                                threshold: float = 0.8,
                                max_df: int | float | None = None,
                                cap_frame: DataFrame | None = None) -> DataFrame:
    """jaccard_pairs_between with the existing corpus already in
    shingle-index form — ``index`` is an (id, shingle) frame, e.g.
    read back from the parquet a production pipeline persists between
    ingestion batches. The corpus is never re-shingled here; every
    per-batch cost is driven by the batch and the index join.

    ``cap_frame`` (1-row ``__cap``) fixes the fractional stop-shingle
    cap; when omitted with a float ``max_df``, the cap falls back to
    ``ceil(max_df × countDistinct(index.id))`` — the doc count as the
    INDEX sees it (docs too short to produce any shingle are invisible
    to it, which is also the only corpus-size signal a pure index
    carries).

    Persist scope: the returned plan depends on persisted
    intermediates (stop/index/batch shingles), which therefore cannot
    be unpersisted here. Callers looping over ingestion batches MUST
    release them once the batch's result is materialized —
    ``spark.catalog.clearCache()`` per batch (what the registry's
    _pinned boundary and the multi-batch test do), or executor
    storage grows by ~3 frames per batch."""
    # Persist the RAW shingle tables, below the stop-shingle
    # anti-joins: the stop set derives from idx, so a cache above the
    # anti-join would re-run the (corpus-sized) index pipeline once
    # more for the stop set's doc-frequency agg. The cheap broadcast
    # anti-join against the tiny stop set is re-evaluated per
    # consumer from the cache.
    sh_new = shingle_table(new_df, id_col, text_col, n).persist()
    idx = index.select(F.col("id"), F.col("shingle")).persist()
    if max_df is not None:
        doc_freq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        if isinstance(max_df, float):
            if cap_frame is None:
                cap_frame = idx.agg(
                    F.ceil(F.countDistinct("id") * max_df).alias("__cap"))
            stop = (doc_freq.crossJoin(F.broadcast(cap_frame))
                    .filter(F.col("__df") > F.col("__cap")))
        else:
            stop = doc_freq.filter(F.col("__df") > max_df)
        # stop sets are tiny by construction (boilerplate only) —
        # persist so the existing-corpus doc-freq agg runs once for
        # the anti-join consumers
        stop = stop.select("shingle").persist()
        idx = idx.join(stop, "shingle", "left_anti")
        sh_new = sh_new.join(stop, "shingle", "left_anti")
    sizes_new = sh_new.groupBy("id").agg(F.count(F.lit(1)).alias("n_new"))
    sizes_old = idx.groupBy("id").agg(F.count(F.lit(1)).alias("n_old"))
    # candidate prefilter (result-identical): only index shingles that
    # also occur in the BATCH can produce a pair, so the (corpus-sized)
    # index join side is semi-joined down to the batch's shingle set —
    # batch-sized, so AQE turns this into a broadcast semi-join and the
    # candidate join's corpus-side input shrinks to the overlap.
    # No .distinct() on the probe side: a semi-join ignores
    # right-side multiplicity — its hash build dedups keys anyway.
    idx_c = idx.join(sh_new.select("shingle"), "shingle", "left_semi")
    common = (
        sh_new.alias("a").join(idx_c.alias("b"), "shingle")
        .groupBy(F.col("a.id").alias("new_id"), F.col("b.id").alias("old_id"))
        .agg(F.count(F.lit(1)).alias("common")))
    jac = F.col("common") / (F.col("n_new") + F.col("n_old") - F.col("common"))
    return (common
            .join(sizes_new.select(F.col("id").alias("new_id"), "n_new"), "new_id")
            .join(sizes_old.select(F.col("id").alias("old_id"), "n_old"), "old_id")
            .withColumn("jaccard", (F.floor((jac) * 10000 + 0.5) / 10000))
            .filter(F.col("jaccard") >= threshold)
            .select("new_id", "old_id", "jaccard"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = DEFAULT_NUM_HASHES, n: int = 3) -> DataFrame:
    """One row per doc with columns h0..h{H-1}: h_i = min over the
    doc's shingles of md5(i || '|' || shingle). A single groupBy with
    H min-aggregates — map-side partials make this one cheap shuffle
    regardless of corpus size."""
    sh = shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")).cast("binary"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def lsh_candidates(signatures: DataFrame,
                   num_hashes: int = DEFAULT_NUM_HASHES,
                   bands: int = DEFAULT_BANDS,
                   est_threshold: float = 0.5) -> DataFrame:
    """Band the signature, bucket-join on (band_idx, band_hash), then
    estimate similarity as the matching-component fraction. Candidate
    volume is ~linear: only docs agreeing on a full band ever meet."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}); trailing hashes would silently drop from "
            f"every band and lower recall")
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts).cast("binary")).alias(f"band{b}"))
    # the banded signature frame feeds 2×bands join branches — persist
    # so the shingle→signature pipeline runs once, not 8 times
    banded = signatures.select(
        "id", *[F.col(f"h{i}") for i in range(num_hashes)], *band_cols).persist()

    def pair_select(a, b):
        matches = sum((F.col(f"{a}.h{i}") == F.col(f"{b}.h{i}")).cast("int")
                      for i in range(num_hashes))
        return [F.col(f"{a}.id").alias("id1"), F.col(f"{b}.id").alias("id2"),
                (matches / num_hashes).alias("est_sim")]

    candidates = banded_self_join(
        banded, [f"band{b}" for b in range(bands)], "id", pair_select)
    return (candidates
            .filter(F.col("est_sim") >= est_threshold)
            .select("id1", "id2",
                    (F.floor((F.col("est_sim")) * 10000 + 0.5) / 10000).alias("est_sim")))


def connected_components(pairs: DataFrame, id1: str = "id1",
                         id2: str = "id2", max_iter: int = 20) -> DataFrame:
    """Cluster near-dup candidate pairs into connected components and
    assign each member the component's minimum id as representative
    (the 'keep one canonical doc per dup cluster' step).

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; stop when no
    label changes. Rounds needed = graph diameter — near-dup clusters
    are small, so this converges in 2-4 rounds; each round is one
    shuffle on the edge key, no driver-side graph.
    """
    # Symmetrize via ONE explode, not a self-union: ``pairs`` may
    # carry an arbitrarily deep upstream plan (the corpus builds feed
    # a full jaccard(+semantic LSH) pipeline here), and a union
    # referencing it twice embeds that whole subtree TWICE in the edge
    # job — the un-persisted tails execute twice and the doubled plan
    # is re-optimized per CC call.
    # NO .distinct(): duplicate edges cannot change a min-label
    # propagation — the per-round groupBy(src).min(label) absorbs
    # them — so deduping would be an extra shuffle of the edge set.
    # The one union caller (lexical ∪ semantic corpus edges) has
    # multiplicity ≤ 2 on the overlap.
    # pre-partition on the per-round join key and CHECKPOINT the
    # SHUFFLED form: every round's edges.dst = labels.id join then
    # reuses this partitioning and only the (small) label frame
    # moves. localCheckpoint (not persist) also TRUNCATES the edge
    # lineage — without truncation every round re-plans the whole
    # upstream lineage.
    both_dirs = F.explode(F.array(
        F.struct(F.col(id1).alias("src"), F.col(id2).alias("dst")),
        F.struct(F.col(id2).alias("src"), F.col(id1).alias("dst"))))
    edges = (
        pairs.select(both_dirs.alias("__e")).select("__e.src", "__e.dst")
        .repartition(F.col("dst"))
        .localCheckpoint(eager=True)
    )
    # Round 1 folded into the label INITIALIZATION: with identity
    # starting labels, round 1's result for node s is exactly
    # least(s, min over incident edges of dst) — one groupBy over the
    # checkpointed edges instead of an id-distinct shuffle plus a
    # propagate round. Symmetrized edges put every node in src.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(F.col("src").alias("id"),
                F.least(F.col("src"), F.col("nmin")).alias("label"))
        .localCheckpoint(eager=True)
    )
    def propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.dst == lbl.id)
            .groupBy("src").agg(F.min("label").alias("nmin"))
        )
        new_label = F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label")))
        return (
            lbl.join(neighbor_min, lbl.id == neighbor_min.src, "left")
            .select(F.col("id"), new_label.alias("label"),
                    # labels only ever decrease, so "changed" is known
                    # right here — no extra old-vs-new join per round
                    (new_label < F.col("label")).alias("changed"))
        )

    from pyspark.sql import Observation
    changed = 0
    # the init above already performed propagation round 1 (and round
    # 1 needs no convergence count — it always changes a label when
    # any edge exists), so the loop starts at round 2
    for _ in range(1, max_iter):
        # one hop per round, lineage TRUNCATED each round: propagate()
        # references `labels` twice, so without truncation the logical
        # plan doubles per iteration — a diameter-30 graph OOMs the
        # optimizer before any data moves. localCheckpoint both
        # materializes the round (shared by the convergence check and
        # the next round) and resets the plan to a leaf. (On a real
        # cluster use checkpoint() to reliable storage.)
        # The convergence count RIDES the checkpoint job: observe()
        # attaches a CollectMetrics accumulator to the plan the eager
        # checkpoint executes, so each round is ONE job instead of
        # checkpoint + count. Sum over zero rows is NULL → treated as
        # converged (no rows = no labels = nothing can change).
        obs = Observation()
        updated = (propagate(labels)
                   .observe(obs, F.sum(F.col("changed").cast("long"))
                            .alias("n_changed"))
                   .localCheckpoint(eager=True))
        changed = int(obs.get["n_changed"] or 0)
        labels = updated  # prior checkpoints are GC-reclaimed
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); the graph "
            f"diameter exceeds max_iter — raise it")
    # labels is checkpointed; the edge list is no longer reachable
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_rep"))


SIMHASH_BITS = 64
SIMHASH_BANDS = 4          # 16 bits per band
_BAND_WIDTH = SIMHASH_BITS // SIMHASH_BANDS


def token_hashes(col: Column) -> Column:
    """md5 hex of each distinct token — materialize this as its own
    projection before the vote aggregate (lambda bodies are
    re-evaluated per use: inlining would tokenize+hash per bit)."""
    return F.transform(F.array_distinct(tokens(col)),
                       lambda t: F.md5(t.cast("binary")))


def token_nibbles(hashes: Column) -> Column:
    """First 16 hex nibbles of each token hash as an int array —
    staged so conv() runs 16× per token, not 64× (bit b reads nibble
    b//4, and there is no CSE inside lambda bodies)."""
    return F.transform(hashes, lambda h: F.array(*[
        F.conv(F.substring(h, j + 1, 1), 16, 10).cast("int")
        for j in range(16)]))


def simhash_votes(nibbles: Column) -> Column:
    """Struct of 64 vote counters in ONE array traversal: bit b
    (nibble j = b//4, bit k = b%4) votes +1 when bit k of the j-th
    nibble of the token's hash is set, else -1."""
    init = F.struct(*[F.lit(0).alias(f"c{b}") for b in range(SIMHASH_BITS)])

    def step(acc, x):
        return F.struct(*[
            (acc[f"c{b}"]
             + F.when(F.element_at(x, b // 4 + 1)
                      .bitwiseAND(F.lit(1 << (b % 4))) != 0, 1)
             .otherwise(-1)).alias(f"c{b}")
            for b in range(SIMHASH_BITS)
        ])

    return F.aggregate(nibbles, init, step)


def simhash_bands(votes: Column) -> list[Column]:
    """The 64-bit fingerprint as 4 × 16-bit band ints (band i covers
    bits 16i..16i+15). Bands ARE the fingerprint — and the LSH probe
    key: two fingerprints within Hamming distance 3 must agree
    exactly on at least one band (pigeonhole: 3 flipped bits touch at
    most 3 of the 4 bands)."""
    out = []
    for i in range(SIMHASH_BANDS):
        band = F.lit(0)
        for k in range(_BAND_WIDTH):
            b = i * _BAND_WIDTH + k
            band = band + F.when(votes[f"c{b}"] > 0, F.lit(1 << k)).otherwise(0)
        out.append(band.alias(f"band{i}"))
    return out


def simhash_fingerprint_hex(*bands: Column) -> Column:
    """Render the 4 band ints as the canonical 16-hex-char
    fingerprint (band0 first). DuckDB printf('%04x') mirrors it."""
    return F.format_string("%04x" * SIMHASH_BANDS, *bands)


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, band0..band3, simhash) — one 64-bit SimHash per doc.
    Each stage is materialized as its own projection (no CSE inside
    higher-order-function lambdas)."""
    hashed = _spread(df).select(
        F.col(id_col).alias("id"), token_hashes(F.col(text_col)).alias("__hs"))
    nibs = hashed.select("id", token_nibbles(F.col("__hs")).alias("__nibs"))
    voted = nibs.select("id", simhash_votes(F.col("__nibs")).alias("__votes"))
    banded = voted.select("id", *simhash_bands(F.col("__votes")))
    return banded.withColumn(
        "simhash", simhash_fingerprint_hex(
            *[F.col(f"band{i}") for i in range(SIMHASH_BANDS)]))


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs within Hamming ≤ max_hamming over the 64-bit
    fingerprint. Candidate generation is a banded bucket join (any of
    the 4 band values equal), NOT all pairs: sound for max_hamming ≤ 3
    by pigeonhole, and candidate volume stays proportional to bucket
    occupancy at 100 TB. Exact Hamming distance (popcount of XOR per
    band) filters the candidates."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"banded probe is only sound for max_hamming < {SIMHASH_BANDS} "
            f"(got {max_hamming}): more flipped bits than spare bands "
            "means a true pair can differ in every band")
    fp = simhash_table(df, id_col, text_col).persist()

    def pair_select(a, b):
        hamming = sum(
            F.bit_count(F.col(f"{a}.band{i}").bitwiseXOR(F.col(f"{b}.band{i}")))
            for i in range(SIMHASH_BANDS))
        return [F.col(f"{a}.id").alias("id1"), F.col(f"{b}.id").alias("id2"),
                hamming.cast("int").alias("hamming")]

    candidates = banded_self_join(
        fp, [f"band{i}" for i in range(SIMHASH_BANDS)], "id", pair_select)
    return candidates.filter(F.col("hamming") <= max_hamming)


def blank_line_paragraphs(df: DataFrame, id_col: str,
                          text_col: str) -> DataFrame:
    """(doc_id, idx, para): documents split on blank lines — the
    production paragraphizer for real web/corpus text (headers,
    footers, and nav boilerplate repeat as whole paragraphs).
    Empty/whitespace-only segments are dropped; idx is the paragraph's
    position in the ORIGINAL document, so reassembly preserves order."""
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), r"\n\s*\n"))
        .alias("idx", "para"))
    return paras.filter(F.trim(F.col("para")) != "")


def word_block_paragraphs(df: DataFrame, id_col: str, text_col: str,
                          block: int = 32) -> DataFrame:
    """(doc_id, idx, para): fixed ``block``-word segments — the
    paragraphizer for text without layout structure (the synthetic
    testdata has no newlines). Same non-overlapping slice shape as
    plans.text.doc_chunks: one narrow transform per doc, no shuffle."""
    toks = _spread(df).select(F.col(id_col).alias("doc_id"),
                              tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    n_blocks = F.when(n <= block, F.lit(1)).otherwise(
        F.floor((n + block - 1) / F.lit(float(block))).cast("int"))
    exploded = toks.select(
        "doc_id", "__toks",
        F.posexplode(F.sequence(F.lit(0), n_blocks - 1)).alias("idx", "_i"))
    piece = F.slice(F.col("__toks"), F.col("idx") * block + 1, block)
    return exploded.select("doc_id", "idx",
                           F.concat_ws(" ", piece).alias("para"))


def keep_first_paragraph() -> Column:
    """True on the first occurrence — smallest (doc_id, idx) — of each
    distinct paragraph text (md5 of ``para``) in a (doc_id, idx, para)
    frame, anywhere in the corpus including repeats inside one
    document. ONE hash-keyed window: linear at 100 TB, no joins, no
    candidate pairs."""
    from pyspark.sql import Window
    w = Window.partitionBy(F.md5(F.col("para").cast("binary"))) \
        .orderBy("doc_id", "idx")
    return F.row_number().over(w) == 1


def dedup_paragraphs(paras: DataFrame) -> DataFrame:
    """Cross-document paragraph-level EXACT dedup, keep-first: only
    the keep_first_paragraph occurrence of each identical paragraph
    survives. This removes the repeated boilerplate
    (headers/footers/nav) that document-level Jaccard misses because
    each containing document is otherwise unique — the standard
    corpus-hygiene stage between exact-doc and near-dup passes.
    Input is the (doc_id, idx, para) frame of blank_line_paragraphs /
    word_block_paragraphs; output is the kept subset."""
    return (paras.withColumn("__keep", keep_first_paragraph())
            .filter(F.col("__keep")).select("doc_id", "idx", "para"))
