"""Deduplication operators for large-scale training-data pipelines.

All four families, Spark-first (pure DataFrame ops, no UDFs — everything
stays in whole-stage codegen):

- exact dedup:        hash-groupBy on the text hash
- n-gram Jaccard:     char-shingle explode + self-join (exact baseline;
                      quadratic in shingle frequency — the scale path is LSH)
- MinHash + LSH:      shingle -> k independent min-hashes -> banded keys ->
                      bucket self-join -> verify candidates with exact Jaccard
- SimHash:            per-bit majority vote over shingle hashes

Portability note: hash functions are md5 (identical in Spark and DuckDB), so
every stage is oracle-checkable. min() over md5 hex strings is a valid
min-hash (uniform permutation of the shingle space per seed).

At 100 TB: shingle sets and minhash signatures compute narrow (in-row);
banding is one self-join on the band key; candidate verification touches
only bucket collisions — the standard linear-scan-free near-dup pipeline
(cf. Broder 1997 resemblance sketches). dedup_clusters turns the verified
pairs into canonical keep-sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SHINGLE = 4
DEFAULT_HASHES = 16
DEFAULT_BANDS = 4

# Byte cap for the near-dup joins' forced broadcasts (LSH band frame,
# verification set frame, embedding vectors). Aggregated frames carry no
# stats, so Catalyst cannot price these joins; left to AQE, the band join
# turns broadcast only after shuffling both sides. Each pipeline entry
# prices its frames against this one cap; past it, plain shuffle joins —
# also the right plan at 10^9 docs.
BROADCAST_BYTES = 128 << 20


def _band_bytes(rows: int, n_hashes: int, n_bands: int) -> int:
    """Estimated size of the band-keyed frame of ``rows`` docs: one
    exploded row per (doc, band), each carrying all ``n_hashes`` 8-hex
    signature pieces at ~16 B apiece in UnsafeRow form (offset/length
    slot + aligned data)."""
    return rows * n_bands * (n_hashes * 16 + 48)


def _set_bytes(rows: int, sum_n: int) -> int:
    """Estimated size of the shingle-set frame as verify_candidates
    broadcasts it: TWICE (two keys, no exchange reuse), each copy ~16 B
    per shingle plus ~64 B per row. Priced in bytes, not rows — a
    row-count cap melts down exactly when documents grow."""
    return 2 * (sum_n * 16 + rows * 64)


def _sig_stats(sigs: DataFrame) -> tuple[int, int]:
    """``(rows, sum(n))`` of a persisted signature frame: the one eager
    job a near-dup pipeline spends on pricing. It also materializes the
    persist that every later branch reads."""
    st = sigs.agg(
        F.count("*").alias("c"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("s"),
    ).collect()[0]
    return int(st.c), int(st.s)


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 group + per-doc duplicate flag (keep = min doc_id)."""
    from pyspark.sql import Window

    h = F.md5(F.col(text_col))
    w = Window.partitionBy("text_hash")
    return (
        docs.withColumn("text_hash", h)
        .withColumn("dup_count", F.count("*").over(w))
        .withColumn("keep_doc_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("dup_count") > 1)
        .select("doc_id", "text_hash", "dup_count", "keep_doc_id", "is_dup")
    )


def _spread(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Explicit-count hash repartition by ``key`` (default doc_id) — the
    shared guard (dedup/text/similarity import THIS one, r12 ADVICE)
    against the single-input-partition trap: a byte-small scan plans one
    partition and AQE won't widen byte-small exchanges, which serializes
    every CPU-dense shingle/hash/dot-product stage downstream (see
    shingle_sets; guide §2.5 input skew). Hash on the id column keeps
    placement deterministic (no keyless round-robin sort) and every
    downstream consumer is per-row math, a rank window (which
    re-exchanges by its own key), or an exact count/min/max — value-safe
    under any regrouping. The explicit count follows
    spark.sql.shuffle.partitions (conf-derived, never a local constant);
    at 100 TB a many-file scan already parallelizes and the spread then
    costs one narrow (id, payload) exchange that guarantees the
    CPU-dense stage's parallelism never degenerates to the file count
    (a coalesced or single-file index shard)."""
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return docs.repartition(nparts, key)


def char_shingles(docs: DataFrame, n: int = DEFAULT_SHINGLE,
                  text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct char n-grams. flatMap — no shuffle until
    the consumer aggregates."""
    sh = F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, length({text_col}) - {n - 1}), "
        f"i -> substring({text_col}, i, {n}))) ELSE array() END"
    )
    return _spread(docs).select("doc_id", F.explode(sh).alias("shingle"))


def word_shingles(docs: DataFrame, n: int = 3,
                  text_col: str = "text") -> DataFrame:
    """(doc_id, shingle): DISTINCT word n-grams per doc — the standard text
    near-dup unit (char shingles catch edits; word shingles catch passage
    reuse). Narrow after the spread: split + in-row transform."""
    grams = F.expr(
        f"transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {n})))"
    )
    return (
        _spread(docs)
        .where(F.size(F.split(F.col(text_col), " ")) >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def decontaminate(train_docs: DataFrame, eval_docs: DataFrame, *,
                  n: int = 3, text_col: str = "text",
                  max_gram_df: int | None = None) -> DataFrame:
    """Eval-set decontamination: flag every training doc sharing at least
    one word ``n``-gram with any held-out eval doc — the overlap gate run
    before training so benchmark text can't leak into the corpus.

    Output per train doc: ``n_shared_grams`` (Σ over eval docs of distinct
    shared grams — pair-counted, so one gram hit by 3 eval docs counts 3),
    ``n_eval_docs`` (distinct eval docs hit), ``contaminated``.

    Scale shape: both sides flatMap to DISTINCT per-doc grams (narrow), one
    shuffled join on the gram string, one partial+final agg on train
    doc_id, and a left join back to keep clean docs with zero counts. The
    eval side is benchmark-sized (thousands of docs), so AQE converts its
    post-shuffle side to a broadcast at runtime; the train corpus never
    collapses to the driver.

    Gram-frequency skew (stop-phrase grams hitting everything) is the
    classic hazard: a gram in t train docs and e eval docs emits t*e join
    rows, so one boilerplate phrase can dominate the whole shuffle while
    signalling nothing. ``max_gram_df`` drops grams whose document
    frequency across train+eval exceeds the cap BEFORE the join (the
    standard stop-gram filter). Dropping them from the train side alone is
    sufficient — a gram absent from one side produces no hits — and the
    hot-gram set is by construction tiny (only grams above the cap), so
    the anti-join broadcasts."""
    tr = word_shingles(train_docs, n=n, text_col=text_col)
    ev = (
        word_shingles(eval_docs, n=n, text_col=text_col)
        .withColumnRenamed("doc_id", "eval_doc_id")
    )
    if max_gram_df is not None:
        hot = (
            tr.select("shingle")
            .unionAll(ev.select("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_gram_df)
            .select("shingle")
        )
        tr = tr.join(F.broadcast(hot), "shingle", "left_anti")
    hits = (
        tr.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_grams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )
    return (
        train_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.coalesce("n_eval_docs", F.lit(0)).alias("n_eval_docs"),
            (F.coalesce("n_eval_docs", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def shingle_sizes(shingles: DataFrame) -> DataFrame:
    return shingles.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))


def pairwise_jaccard(shingles: DataFrame, min_jaccard: float) -> DataFrame:
    """Exact pairwise Jaccard via shingle self-join. Quadratic in per-shingle
    frequency — correct baseline; use minhash_lsh_dedup at scale."""
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    sz = shingle_sizes(shingles)
    j = F.col("inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("inter")
    ).cast("double")
    return (
        inter.join(sz.selectExpr("doc_id AS d1", "n_shingles AS n1"), "d1")
        .join(sz.selectExpr("doc_id AS d2", "n_shingles AS n2"), "d2")
        .withColumn("jaccard", j)
        .where(F.col("jaccard") >= min_jaccard)
        .select("d1", "d2", "jaccard")
    )


def pairwise_containment(shingles: DataFrame, min_containment: float) -> DataFrame:
    """Asymmetric near-dup: containment = |A∩B| / min(|A|, |B|) — catches a
    short doc embedded inside a long one, which Jaccard misses (the union
    dilutes it). Same shingle self-join shape as pairwise_jaccard; at scale
    the LSH candidate pass feeds it instead of the full self-join."""
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    sz = shingle_sizes(shingles)
    c = F.col("inter").cast("double") / F.least("n1", "n2").cast("double")
    return (
        inter.join(sz.selectExpr("doc_id AS d1", "n_shingles AS n1"), "d1")
        .join(sz.selectExpr("doc_id AS d2", "n_shingles AS n2"), "d2")
        .withColumn("containment", c)
        .where(F.col("containment") >= min_containment)
        .select("d1", "d2", "containment")
    )


def shingle_sets(docs: DataFrame, n: int = DEFAULT_SHINGLE,
                 text_col: str = "text") -> DataFrame:
    """(doc_id, sset, n): per-doc DISTINCT shingle array + size, computed
    narrow (no shuffle — array_distinct inside the row). The single
    materialization every downstream LSH stage derives from."""
    sh = F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, length({text_col}) - {n - 1}), "
        f"i -> substring({text_col}, i, {n}))) ELSE array() END"
    )
    # The raw text scan is tiny in bytes but every downstream stage is
    # CPU-bound (per-shingle md5s), so file-size-based split planning
    # under-parallelizes badly — a 5 MB corpus arrives as ONE partition and
    # signature hashing runs on one core. Redistribute by doc_id first; the
    # shuffle moves only raw text, orders of magnitude cheaper than the
    # hashing it parallelizes.
    return _spread(docs).select(
        "doc_id", sh.alias("sset")
    ).withColumn("n", F.size("sset")).where(F.col("n") > 0)


def minhash_signatures_wide(sets: DataFrame,
                            n_hashes: int = DEFAULT_HASHES) -> DataFrame:
    """One row per doc with n_hashes signature columns s0..s{n-1}, computed
    from the per-doc shingle set via higher-order array functions — fully
    narrow, zero shuffles.

    Each md5 yields 128 bits = four independent 32-bit (8-hex-char) hash
    values, so n_hashes signatures need only ceil(n/4) md5 evaluations per
    shingle — ~16x less hashing than a long-form seed explosion at the same
    statistical quality."""
    # NB: HOF lambdas must take exactly one parameter — a second (even
    # defaulted) parameter makes PySpark bind it to the array INDEX.
    def _seed_mins(seed: int):
        """ONE traversal of the shingle set per seed: md5 each shingle and
        fold the four 8-hex-char pieces into four running mins ('g' sorts
        above every hex digit, so it is a safe +inf sentinel)."""
        prefix = f"{seed}:"
        init = F.struct(*[F.lit("g").alias(f"m{p}") for p in range(4)])

        def step(acc, s):
            h = F.md5(F.concat(F.lit(prefix), s))
            return F.struct(
                *[
                    F.least(acc[f"m{p}"], F.substring(h, p * 8 + 1, 8)).alias(f"m{p}")
                    for p in range(4)
                ]
            )

        return F.aggregate(F.col("sset"), init, step)

    out = sets
    n_seeds = (n_hashes + 3) // 4
    for seed in range(n_seeds):
        out = out.withColumn(f"_m{seed}", _seed_mins(seed))
    for j in range(n_hashes):
        seed, piece = divmod(j, 4)
        out = out.withColumn(f"s{j}", F.col(f"_m{seed}")[f"m{piece}"])
    return out.drop(*[f"_m{s}" for s in range(n_seeds)])


def minhash_wide(docs: DataFrame, *, n: int = DEFAULT_SHINGLE,
                 n_hashes: int = DEFAULT_HASHES,
                 text_col: str = "text",
                 with_sets: bool = True) -> DataFrame:
    """Fused shingle+minhash pass: (doc_id, s0..s{n_hashes-1}, sset, n)
    in ONE codegen pipeline + ONE aggregate — the r12 replacement for
    ``minhash_signatures_wide(shingle_sets(docs))`` on the query paths
    (measured 3.7 s -> 1.1 s at sf0.1 for the signature stage).

    Why it is faster: the in-row form pays ``array_distinct`` over every
    per-doc shingle array (~70% of the whole stage — the expression is
    interpreted for string elements) plus an interpreted
    ``F.aggregate`` fold per md5 seed. Here the raw (non-distinct)
    shingle array explodes to (doc_id, shingle) rows, dedups through a
    CODEGEN hash aggregate (`.distinct()`), computes the per-seed md5s
    as plain codegen expressions on the distinct postings, and one
    groupBy(doc_id) produces all signature minima, the shingle-set
    array, and the distinct count together. The two shuffles this adds
    (distinct + final agg) carry (doc_id, 4-char shingle) rows — small,
    and at 100 TB exactly the map-side-combining aggregate shape that
    scales; the removed interpreted CPU dominates at every size.

    Semantics: identical to the two-step form. Signature minima are
    order-free; ``n`` counts distinct shingles; ``sset`` holds the same
    distinct-shingle SET (collect_list over the deduped postings — the
    element ORDER differs from the positional in-row form, which no
    consumer observes: verification uses array_intersect/size only).
    Docs with no shingle (length < n) drop, as before.

    ``with_sets=False`` omits the sset/n columns (and their
    collect_list cost) for signature-only consumers
    (lsh_bucket_profile)."""
    raw = F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"transform(sequence(1, length({text_col}) - {n - 1}), "
        f"i -> substring({text_col}, i, {n})) ELSE array() END"
    )
    posts = (
        _spread(docs)
        .select("doc_id", F.explode(raw).alias("_sh"))
        .distinct()
    )
    ex = posts
    n_seeds = (n_hashes + 3) // 4
    for seed in range(n_seeds):
        ex = ex.withColumn(
            f"_h{seed}", F.md5(F.concat(F.lit(f"{seed}:"), F.col("_sh")))
        )
    aggs = []
    for j in range(n_hashes):
        seed, piece = divmod(j, 4)
        aggs.append(
            F.min(F.substring(F.col(f"_h{seed}"), piece * 8 + 1, 8))
            .alias(f"s{j}")
        )
    if with_sets:
        aggs.append(F.collect_list("_sh").alias("sset"))
        aggs.append(F.count(F.lit(1)).cast("int").alias("n"))
    return ex.groupBy("doc_id").agg(*aggs)


def verify_candidates(candidates: DataFrame, sets: DataFrame,
                      min_jaccard: float,
                      stats: tuple[int, int] | None = None) -> DataFrame:
    """Exact Jaccard on candidate pairs only (the cheap post-LSH pass).

    Computes intersections via array_intersect over per-doc shingle SETS
    (one row per doc, from shingle_sets()), not an explode-join — each pair
    costs one JVM set intersection instead of |shingles| join rows, which is
    what keeps verification linear in candidates on shingle-dense corpora.

    ``stats`` — the set frame's ``(n_rows, sum_n)``, as the caller's
    ``_sig_stats`` returned it. When ``_set_bytes`` of it fits
    ``BROADCAST_BYTES`` both set sides broadcast; without ``stats`` or
    above the cap the plan joins by shuffling on doc_id. Never runs a
    job."""
    small = stats is not None and _set_bytes(*stats) <= BROADCAST_BYTES
    s1 = sets.select(F.col("doc_id").alias("d1"), F.col("sset").alias("set1"),
                     F.col("n").alias("n1"))
    s2 = sets.select(F.col("doc_id").alias("d2"), F.col("sset").alias("set2"),
                     F.col("n").alias("n2"))
    if small:
        s1, s2 = F.broadcast(s1), F.broadcast(s2)
        # with both set sides broadcast the plan is narrow end-to-end, so it
        # inherits the candidate frame's partitioning — which AQE will have
        # coalesced to a handful of partitions (candidate rows are small in
        # BYTES but each costs an array_intersect over the full shingle
        # sets). Spread the CPU work back out — explicit count, or AQE
        # re-coalesces the exchange.
        nparts = int(sets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        candidates = candidates.repartition(nparts, "d1")
    j = F.col("inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("inter")
    ).cast("double")
    return (
        candidates.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("inter", F.size(F.array_intersect("set1", "set2")))
        .withColumn("jaccard", j)
        .where(F.col("jaccard") >= min_jaccard)
        .select("d1", "d2", "jaccard")
    )


def band_keyed(sigs: DataFrame, n_hashes: int = DEFAULT_HASHES,
               n_bands: int = DEFAULT_BANDS) -> DataFrame:
    """One row per (doc, band) with the band's bucket key, signatures
    carried along — the shared exploded form every LSH consumer (self-join,
    incremental probe, bucket profile) joins or aggregates on. The band
    index is baked into the key input so buckets of different bands can
    never merge; a SINGLE join on bkey then replaces n_bands separate
    joins (one broadcast + one probe pass instead of four). Narrow:
    in-row md5s + an explode, no shuffle."""
    rows = n_hashes // n_bands
    band_keys = F.array(*[
        F.md5(F.concat_ws(
            ",", F.lit(str(b)),
            *[F.col(f"s{j}") for j in range(b * rows, (b + 1) * rows)],
        ))
        for b in range(n_bands)
    ])
    return sigs.select(
        "doc_id", *[f"s{j}" for j in range(n_hashes)],
        F.explode(band_keys).alias("bkey"),
    )


def lsh_candidates_wide(sigs: DataFrame, n_hashes: int = DEFAULT_HASHES,
                        n_bands: int = DEFAULT_BANDS,
                        min_est: float = 0.4,
                        broadcast: bool = False) -> DataFrame:
    """Candidate pairs from wide signatures: per-band key self-joins, then a
    minhash-ESTIMATE prefilter (fraction of agreeing signatures) so only
    plausibly-similar pairs reach exact verification.

    The estimate costs O(candidates) column compares — it's what keeps the
    expensive exact-Jaccard join linear in true near-dups rather than in
    band collisions (critical on self-similar corpora where band buckets
    are crowded).

    ``broadcast=True`` hints the band-keyed side for a zero-shuffle
    hash-broadcast join (minhash_lsh_dedup passes ``_band_bytes`` <=
    ``BROADCAST_BYTES``); the default is the shuffle join on the band
    key. Never runs a job."""
    keyed = band_keyed(sigs, n_hashes, n_bands)
    left = keyed.select(F.col("doc_id").alias("d1"), "bkey",
                        *[F.col(f"s{j}").alias(f"l{j}") for j in range(n_hashes)])
    right = keyed.select(F.col("doc_id").alias("d2"), "bkey",
                         *[F.col(f"s{j}").alias(f"r{j}") for j in range(n_hashes)])
    if broadcast:
        right = F.broadcast(right)
    cand = left.join(right, ["bkey"]).where(F.col("d1") < F.col("d2"))

    est = sum(
        F.when(F.col(f"l{j}") == F.col(f"r{j}"), 1).otherwise(0)
        for j in range(n_hashes)
    ) / F.lit(float(n_hashes))
    return (
        cand.select("d1", "d2", est.alias("est"))
        .where(F.col("est") >= min_est)
        .groupBy("d1", "d2")
        .agg(F.first("est").alias("est"))
        .select("d1", "d2")
    )


def minhash_lsh_dedup(docs: DataFrame, *, n: int = DEFAULT_SHINGLE,
                      n_hashes: int = DEFAULT_HASHES,
                      n_bands: int = DEFAULT_BANDS,
                      min_est: float = 0.4,
                      min_jaccard: float = 0.35) -> DataFrame:
    """Full near-dup pipeline: shingle sets -> wide minhash (narrow) -> LSH
    buckets -> estimate prefilter -> verified pairs with exact Jaccard >=
    min_jaccard. Shuffle count: band self-joins + the two verify joins —
    the shingle/signature computation itself never shuffles."""
    # one materialization feeds the band joins, the estimate prefilter AND
    # the exact verification — without it every branch would re-derive the
    # shingle/md5 arrays from the raw text
    sigs = minhash_wide(docs, n=n, n_hashes=n_hashes).persist()
    # one eager job prices both broadcasts (band frame + the two verify
    # set sides) and materializes the persist
    stats = _sig_stats(sigs)
    bc = _band_bytes(stats[0], n_hashes, n_bands) <= BROADCAST_BYTES
    cands = lsh_candidates_wide(sigs, n_hashes, n_bands, min_est,
                                broadcast=bc)
    return verify_candidates(cands, sigs.select("doc_id", "sset", "n"),
                             min_jaccard, stats=stats)


def lsh_recall(docs: DataFrame, *, n: int = DEFAULT_SHINGLE,
               n_hashes: int = DEFAULT_HASHES, n_bands: int = DEFAULT_BANDS,
               min_est: float = 0.4,
               min_jaccard: float = 0.35,
               max_truth_df: int | None = None) -> DataFrame:
    """LSH calibration audit — the measurement that justifies running the
    banded pipeline instead of the quadratic baseline: recall of the
    MinHash+LSH verified pairs against the EXACT pairwise-Jaccard truth at
    the same threshold (pairs lost = bands never collided or the estimate
    prefilter dropped them; post-verification precision is 1 by
    construction, so recall is the whole story). One row:
    (n_truth, n_lsh, n_hit, recall).

    Run it on a SAMPLE: the truth side is the quadratic baseline, which is
    the thing being avoided at corpus scale — the operator exists to pick
    (n_hashes, n_bands, min_est) on 10^5 sampled docs before the banded
    pipeline runs on 10^9. The comparison itself is one outer join on the
    pair key plus a count aggregate.

    ``max_truth_df`` (optional) applies the standard stop-shingle cap to
    the TRUTH side: shingles held by more than that many sample docs are
    dropped (df aggregate + broadcast anti-join, same shape as winnow's
    _WINNOW_MAX_DF) before the quadratic self-join, so the truth becomes
    "exact Jaccard over non-ubiquitous shingles". Each ubiquitous shingle
    contributes df^2 self-join rows while carrying near-zero
    discriminative weight (it inflates every pair's union equally), so
    the cap cuts the dominant quadratic term without moving the
    calibration decision; callers that set it must mirror the identical
    cap in any cross-engine oracle."""
    sh = char_shingles(docs, n)
    if max_truth_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_truth_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    truth = pairwise_jaccard(sh, min_jaccard).select("d1", "d2")
    lsh = minhash_lsh_dedup(
        docs, n=n, n_hashes=n_hashes, n_bands=n_bands,
        min_est=min_est, min_jaccard=min_jaccard,
    ).select("d1", "d2")
    both = truth.withColumn("_t", F.lit(1)).join(
        lsh.withColumn("_l", F.lit(1)), ["d1", "d2"], "full"
    )
    return both.agg(
        F.count("_t").alias("n_truth"),
        F.count("_l").alias("n_lsh"),
        F.count(F.when(F.col("_t").isNotNull() & F.col("_l").isNotNull(), 1))
        .alias("n_hit"),
    ).select(
        "n_truth", "n_lsh", "n_hit",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_hit").cast("double") / F.col("n_truth"), 6),
        ).alias("recall"),
    )


def incremental_lsh_pairs(new_docs: DataFrame, corpus_docs: DataFrame, *,
                          n: int = DEFAULT_SHINGLE,
                          n_hashes: int = DEFAULT_HASHES,
                          n_bands: int = DEFAULT_BANDS,
                          min_est: float = 0.4,
                          min_jaccard: float = 0.35,
                          return_persisted: bool = False):
    """Incremental near-dup probe: verified MinHash pairs between an
    ARRIVING batch and the EXISTING corpus — the continuous-ingest shape
    where the full corpus self-join is never re-run. Each batch only
    hashes its own documents and probes the corpus's band buckets; cost is
    linear in batch size (times bucket collisions), independent of how
    many batches came before.

    Output: (d_new, d_old, jaccard) for every batch doc whose exact
    Jaccard against some existing doc clears ``min_jaccard`` — the rows an
    ingest gate drops (or routes to keep-best) before appending the batch.

    100 TB shape: the batch side is small by construction, so its keyed
    signatures and shingle sets BROADCAST (explicitly, while their
    ``_band_bytes`` fits ``BROADCAST_BYTES``) and the corpus side never
    shuffles: band probe, estimate prefilter, and exact verification are
    all broadcast joins streamed over the corpus scan. In a deployed
    pipeline the corpus band index is a bucketed table written once
    (engine.persist_bucketed) and appended per batch; this operator is
    the per-batch probe against it.

    The returned plan reads the batch signatures persisted here (they feed
    the band probe, the estimate AND the verification); as with
    minhash_lsh_dedup, the caller owns that frame's lifetime — pass
    ``return_persisted=True`` to receive ``(pairs, signatures)`` and
    unpersist the signature frame after materializing the result.
    Construction runs one job: the batch's ``_sig_stats``."""
    # one corpus hashing pass feeds BOTH the band probe and the exact
    # verification (r12: previously each side re-derived the corpus
    # shingles from raw text) — same persist discipline as
    # minhash_lsh_dedup's sigs
    sigs_old = minhash_wide(corpus_docs, n=n, n_hashes=n_hashes).persist()
    keyed_old = band_keyed(sigs_old, n_hashes, n_bands)
    sets_old = sigs_old.select("doc_id", "sset", "n")
    out, sigs_new = _probe_lsh(keyed_old, sets_old, new_docs, n=n,
                               n_hashes=n_hashes, n_bands=n_bands,
                               min_est=min_est, min_jaccard=min_jaccard)
    return (out, sigs_new) if return_persisted else out


def _probe_lsh(keyed_old: DataFrame, sets_old: DataFrame,
               new_docs: DataFrame, *, n: int, n_hashes: int, n_bands: int,
               min_est: float, min_jaccard: float) -> DataFrame:
    """Shared probe core: batch docs vs a corpus given as its band-keyed
    signature frame (doc_id, bkey, s0..s{n-1}) + shingle-set frame
    (doc_id, sset, n) — either derived on the fly (incremental_lsh_pairs)
    or read back from the persisted bucketed index (probe_lsh_index)."""
    sigs_new = minhash_wide(new_docs, n=n, n_hashes=n_hashes).persist()
    rows, _ = _sig_stats(sigs_new)
    small = _band_bytes(rows, n_hashes, n_bands) <= BROADCAST_BYTES

    keyed_new = band_keyed(sigs_new, n_hashes, n_bands).select(
        F.col("doc_id").alias("d_new"), "bkey",
        *[F.col(f"s{j}").alias(f"l{j}") for j in range(n_hashes)],
    )
    keyed_old = keyed_old.select(
        F.col("doc_id").alias("d_old"), "bkey",
        *[F.col(f"s{j}").alias(f"r{j}") for j in range(n_hashes)],
    )
    if small:
        keyed_new = F.broadcast(keyed_new)
    est = sum(
        F.when(F.col(f"l{j}") == F.col(f"r{j}"), 1).otherwise(0)
        for j in range(n_hashes)
    ) / F.lit(float(n_hashes))
    cand = (
        keyed_old.join(keyed_new, ["bkey"])
        .select("d_new", "d_old", est.alias("est"))
        .where(F.col("est") >= min_est)
        .groupBy("d_new", "d_old")
        .agg(F.first("est").alias("est"))
        .select("d_new", "d_old")
    )

    s_new = sigs_new.select(F.col("doc_id").alias("d_new"),
                            F.col("sset").alias("set1"), F.col("n").alias("n1"))
    s_old = sets_old.select(F.col("doc_id").alias("d_old"),
                            F.col("sset").alias("set2"), F.col("n").alias("n2"))
    # candidates + the batch's shingle sets are batch-sized: broadcast that
    # side so the corpus set frame joins without an exchange
    withnew = cand.join(s_new, "d_new")
    if small:
        withnew = F.broadcast(withnew)
    j = F.col("inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("inter")
    ).cast("double")
    out = (
        s_old.join(withnew, "d_old")
        .withColumn("inter", F.size(F.array_intersect("set1", "set2")))
        .withColumn("jaccard", j)
        .where(F.col("jaccard") >= min_jaccard)
        .select("d_new", "d_old", "jaccard")
    )
    return out, sigs_new


def save_lsh_index(docs: DataFrame, path: str, *, table: str = "lsh_index",
                   n: int = DEFAULT_SHINGLE, n_hashes: int = DEFAULT_HASHES,
                   n_bands: int = DEFAULT_BANDS, buckets: int = 8) -> None:
    """Persist the corpus's LSH band index for build-once/probe-many
    ingest — the companion to incremental_lsh_pairs that makes per-batch
    cost truly independent of corpus size: without it every batch re-hashes
    the corpus; with it the corpus is shingled and minhashed ONCE and each
    batch only reads the index.

    Two tables (the IVF precedent, save_ann_index): ``<table>_bands`` —
    one row per (doc, band) with bkey + the full signature, written
    BUCKETED on bkey so every probe join arrives pre-partitioned with no
    corpus-side Exchange — and ``<table>_sets`` — one row per doc with
    the shingle set, bucketed on doc_id for the verification join. An
    arriving batch that passes the gate is appended to both tables
    (saveAsTable append preserves bucket layout), which is what keeps the
    standing corpus current without rebuilds."""
    sigs = minhash_wide(docs, n=n, n_hashes=n_hashes)
    keyed = band_keyed(sigs, n_hashes, n_bands)
    sets = sigs.select("doc_id", "sset", "n")
    (
        keyed.write.mode("overwrite")
        .option("path", f"{path}/bands")
        .bucketBy(buckets, "bkey")
        .saveAsTable(f"{table}_bands")
    )
    (
        sets.write.mode("overwrite")
        .option("path", f"{path}/sets")
        .bucketBy(buckets, "doc_id")
        .saveAsTable(f"{table}_sets")
    )


def load_lsh_index(spark, table: str = "lsh_index"):
    """(bands, sets) back from the metastore, bucket layouts intact."""
    return spark.table(f"{table}_bands"), spark.table(f"{table}_sets")


def append_lsh_index(docs: DataFrame, *, table: str = "lsh_index",
                     n: int = DEFAULT_SHINGLE, n_hashes: int = DEFAULT_HASHES,
                     n_bands: int = DEFAULT_BANDS) -> None:
    """Fold an accepted batch into the standing index — the write half of
    the ingest loop (probe_lsh_index is the read half): shingle + minhash
    the batch only and APPEND to both index tables via insertInto, which
    routes rows through the tables' existing bucket spec so the layout
    (and therefore every future probe's no-Exchange plan) survives
    arbitrarily many appends. Per-batch cost: hash the batch, write
    batch-sized files — the standing corpus is never rewritten."""
    sigs = minhash_wide(docs, n=n, n_hashes=n_hashes)
    keyed = band_keyed(sigs, n_hashes, n_bands)
    sets = sigs.select("doc_id", "sset", "n")
    keyed.write.mode("append").insertInto(f"{table}_bands")
    sets.write.mode("append").insertInto(f"{table}_sets")


def compact_lsh_index(spark, path: str, *, table: str = "lsh_index",
                      buckets: int | None = None) -> dict:
    """Fold the standing index's append debris back into one file per
    bucket — the maintenance half of the build-once/probe-many lifecycle.

    ``append_lsh_index`` routes each batch through ``insertInto``, which
    writes roughly one file per (writer task x bucket) per batch; after
    10^4 appended batches every bucket is 10^4 small files and each probe
    pays 10^4 opens + footer reads — the classic small-files
    death-by-metadata. Compaction rewrites each table ONCE through the
    same bucket spec into a fresh versioned location
    (``<path>/<suffix>__c{k}``), then swaps the metastore entry
    (create-as-new + DROP + RENAME — a metadata-only cut-over; a reader
    that resolved the old table keeps its old file list and finishes
    unharmed). ``repartition(buckets, key)`` before the bucketed write
    uses the same Murmur3 hash partitioning as the bucket spec, so each
    writer task holds exactly one bucket and emits exactly one file — no
    second shuffle, one file per bucket after the fold.

    The superseded location is NOT deleted — it is returned in the report
    for deferred removal once in-flight readers drain; at 100 TB you never
    unlink under a live reader. ``buckets`` defaults to the table's own
    bucket spec (read from the catalog), so a maintenance caller can't
    accidentally re-bucket the index away from its save-time layout.
    Returns
    ``{suffix: {files_before, files_after, old_location, new_location}}``.
    """
    report = {}
    for suffix, key in (("bands", "bkey"), ("sets", "doc_id")):
        name = f"{table}_{suffix}"
        files_before = len(spark.table(name).inputFiles())
        desc = spark.sql(f"DESCRIBE FORMATTED {name}").collect()
        loc = [r.data_type for r in desc if r.col_name == "Location"][0]
        n_buckets = buckets or int(
            [r.data_type for r in desc if r.col_name == "Num Buckets"][0]
        )
        base = loc.rsplit("__c", 1)
        version = int(base[1]) + 1 if len(base) == 2 and base[1].isdigit() else 1
        new_loc = f"{path}/{suffix}__c{version}"
        tmp = f"{name}__compact"
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        # Read the FILES, not the table: the table scan carries bucketing
        # metadata, which lets Catalyst elide the repartition exchange as
        # redundant while DisableUnnecessaryBucketedScan independently
        # reverts the scan to raw file splits — tasks then hold mixed
        # bucket ids and the writer emits one file per (task x bucket),
        # defeating the fold. A plain parquet read has no claimed
        # partitioning, so the shuffle survives and lines up 1:1 with the
        # writer's bucket hash (same Murmur3-pmod expression).
        (
            spark.read.parquet(loc)
            .repartition(n_buckets, key)
            .write.mode("overwrite")
            .option("path", new_loc)
            .bucketBy(n_buckets, key)
            .saveAsTable(tmp)
        )
        spark.sql(f"DROP TABLE {name}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
        report[suffix] = {
            "files_before": files_before,
            "files_after": len(spark.table(name).inputFiles()),
            "old_location": loc,
            "new_location": new_loc,
        }
    return report


def probe_lsh_index(bands: DataFrame, sets: DataFrame, batch_docs: DataFrame,
                    *, n: int = DEFAULT_SHINGLE,
                    n_hashes: int = DEFAULT_HASHES,
                    n_bands: int = DEFAULT_BANDS,
                    min_est: float = 0.4, min_jaccard: float = 0.35,
                    return_persisted: bool = False):
    """Probe an arriving batch against a PERSISTED corpus index (from
    save_lsh_index / load_lsh_index): identical contract and output to
    incremental_lsh_pairs — (d_new, d_old, jaccard) — but the corpus side
    is the pre-hashed bucketed tables, so the per-batch plan touches only
    batch-sized frames plus bucket-pruned index reads. This is the body a
    streaming ingest gate runs per micro-batch under foreachBatch; such
    long-lived callers pass ``return_persisted=True`` and unpersist the
    returned signature frame each batch. Construction runs one job: the
    batch's ``_sig_stats``."""
    out, sigs_new = _probe_lsh(bands, sets, batch_docs, n=n,
                               n_hashes=n_hashes, n_bands=n_bands,
                               min_est=min_est, min_jaccard=min_jaccard)
    return (out, sigs_new) if return_persisted else out


def lsh_bucket_profile(docs: DataFrame, *, n: int = DEFAULT_SHINGLE,
                       n_hashes: int = DEFAULT_HASHES,
                       n_bands: int = DEFAULT_BANDS) -> DataFrame:
    """LSH pre-flight skew diagnostic: the band-bucket size histogram, with
    each size's contribution to the candidate-pair join priced as
    c*(c-1)/2. THE check to run before launching the bucket self-join on a
    new corpus — a single crowded bucket of 10^5 docs costs 5*10^9
    candidate rows, and this report surfaces it for the price of one
    aggregate (two partial+final shuffles on byte-small keys, no joins,
    nothing quadratic — safe at any corpus size).

    Output: (bucket_size, n_buckets, cand_pairs) sorted nowhere — a
    handful of rows however big the corpus."""
    keyed = band_keyed(
        minhash_wide(docs, n=n, n_hashes=n_hashes, with_sets=False),
        n_hashes, n_bands)
    sizes = keyed.groupBy("bkey").agg(F.count("*").alias("c"))
    return (
        sizes.groupBy(F.col("c").alias("bucket_size"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long")
            .alias("cand_pairs"),
        )
    )


def simhash(docs: DataFrame, *, n: int = DEFAULT_SHINGLE,
            bits: int = 16) -> DataFrame:
    """Per-doc SimHash: bit_j = majority over shingles of bit (j mod 4)
    of hex digit (j div 4) of md5(shingle), emitted as a '0'/'1' string
    (portable bit extraction: md5 + ascii + integer shifts work
    identically on any engine). Using all FOUR bits of each hex digit —
    not just its parity — means one md5 yields 128 independent bits, so
    a 64-bit crawl-scale signature costs ONE hash and 16 digit
    extractions per shingle instead of two hashes and 64 (the hot cost
    of the vote aggregate; measured ~3× on simhash_pairs_wide).
    Supports bits <= 128."""
    if bits > 128:
        raise ValueError("simhash supports at most 128 bits")
    sh = char_shingles(docs, n)
    # materialize the hash ONCE per shingle row, then the digit values
    # once each, as explicit projections: Spark does not eliminate
    # common subexpressions ACROSS aggregate expressions, so folding
    # md5 into each of the `bits` vote sums re-hashes per vote — the
    # difference between 1 and `bits` md5 evaluations per row
    hashed = sh.select("doc_id", F.md5("shingle").alias("_h"))
    n_digits = (bits + 3) // 4
    digits = hashed.select(
        "doc_id",
        *[
            # lowercase-hex digit value in [0,15] without re-reading the
            # char: ('0'..'9' -> 0..9, 'a'..'f' -> 10..15)
            ((F.ascii(F.substring("_h", i + 1, 1)) % 32 + 9) % 25)
            .alias(f"_d{i}")
            for i in range(n_digits)
        ],
    )
    votes = [
        F.sum(
            F.shiftright(F.col(f"_d{j // 4}"), j % 4)
            .bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = digits.groupBy("doc_id").agg(*votes)
    sig = F.concat(
        *[F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise("0") for j in range(bits)]
    )
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, *, n: int = DEFAULT_SHINGLE,
                  bits: int = 16, n_bands: int = 4,
                  max_hamming: int = 3,
                  return_persisted: bool = False):
    """SimHash near-dup pairs via Hamming banding (the web-crawl dedup
    shape of Manku et al. 2007): split each ``bits``-bit signature into
    ``n_bands`` bands; by pigeonhole any pair within ``max_hamming`` <
    ``n_bands`` bit flips agrees on at least one WHOLE band, so a
    band-key self-join finds every such pair with recall 1 — no all-pairs
    stage — and the exact Hamming distance verifies only the collisions.

    Complements minhash_lsh_dedup: simhash candidates come from ONE
    16-bit fingerprint per doc (the cheapest signature in the library —
    no per-seed hashing), at the cost of a coarser similarity notion
    (bit flips, not Jaccard). Output: (d1, d2, hamming).

    Scale shape: signature aggregate is a doc_id rollup; the band join
    shuffles (doc, 4-char key) rows only; the signature strings rejoin
    onto DEDUPED candidate pairs — the same carry-nothing-through-the-
    band-join discipline as embedding_neardup."""
    width = bits // n_bands
    # the signature frame feeds THREE scans (the band self-join counts as
    # one — its exchange is reused — plus the two verification joins);
    # unpersisted, the vote aggregate re-runs per scan and dominates the
    # query (measured ~3x at sf0.1). Narrow frame: doc_id + a bits-char
    # string. Caller releases via clearCache or return_persisted=True
    # (the probe-lsh convention).
    sigs = simhash(docs, n=n, bits=bits).persist()
    keyed = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.concat(F.lit(f"{b}:"),
                     F.substring("simhash", b * width + 1, width))
            for b in range(n_bands)
        ])).alias("bkey"),
    )
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), ["bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # verify with XOR+popcount over the signature packed into 32-bit
    # long chunks, not per-character comparison: a uniformly self-similar
    # corpus pushes MILLIONS of candidates through this join, and one
    # xor+bit_count per 32 bits beats 32 substring/CASE pairs by an
    # order of magnitude — and the join payload shrinks from a bits-char
    # string to bits/32 longs (the shuffle rows, too)
    chunks = list(range(0, bits, 32))
    def _packed(alias: str):
        return [
            F.conv(F.substring("simhash", start + 1, min(32, bits - start)),
                   2, 10).cast("long").alias(f"{alias}{i}")
            for i, start in enumerate(chunks)
        ]
    s1 = sigs.select(F.col("doc_id").alias("d1"), *_packed("_x"))
    s2 = sigs.select(F.col("doc_id").alias("d2"), *_packed("_y"))
    ham = sum(
        F.bit_count(F.col(f"_x{i}").bitwiseXOR(F.col(f"_y{i}")))
        for i in range(len(chunks))
    )
    out = (
        cand.join(s1, "d1").join(s2, "d2")
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )
    return (out, sigs) if return_persisted else out


def dedup_clusters(pairs: DataFrame, iterations: int = 4) -> DataFrame:
    """Near-dup pairs -> clusters with a canonical keeper: ``iterations``
    rounds of min-label propagation over the pair graph (connected
    components, bounded form).

    Each round: label(v) = min(label(v), min over neighbors' labels) — one
    self-join + aggregate per round, so K rounds resolve components of
    diameter <= K. Near-dup clusters are overwhelmingly small (pairs and
    triples); K=4 covers them, and the BOUNDED form keeps the operator a
    pure deterministic dataflow any engine reproduces — no driver-side
    convergence loop in the correctness path. (At 10^9 docs run the same
    rounds until a round changes nothing; each round is one shuffle on
    doc_id.)

    Output: (doc_id, cluster, keep) for every doc appearing in a pair;
    cluster = min doc_id reachable, keep = doc is its cluster's canonical
    representative.
    """
    # materialize the edge list once and every round's labels: without this
    # each round's join re-derives the (expensive) upstream pair pipeline,
    # and the lineage tree grows multiplicatively with iterations — the
    # classic iterative-dataflow trap
    from .web import _lazy_rounds

    edges, labels, nparts = _cluster_graph(pairs)
    # lazy-localCheckpoint every round (r12 job-collapse, the
    # _lazy_rounds discipline): each round's frame truncates to a flat
    # LogicalRDD (no doubling lineage — labels feeds both the neighbor
    # join and the carry-through) and is shared inside the caller's
    # single materializing job; the former per-2-rounds persist+count()
    # barrier cost two synchronous jobs per call for no extra dedup
    with _lazy_rounds(pairs, nparts=nparts):
        for i in range(iterations):
            labels = _propagate_round(edges, labels).localCheckpoint(
                eager=False)
    return _cluster_output(labels)


def keep_best(scored: DataFrame, clusters: DataFrame, *,
              quality_col: str = "quality",
              id_col: str = "doc_id") -> DataFrame:
    """Cluster-representative selection — the step a production dedup
    pipeline actually ships: given per-doc quality scores and near-dup
    cluster assignments, keep the highest-quality member of each cluster
    (tie-break: lowest id) and mark everything else a drop.

    Docs absent from ``clusters`` (never matched any pair — the
    overwhelming majority of a real corpus) are their own singleton
    cluster and always kept.

    Scale shape: the argmax is two AGGREGATES (partial+final) — max
    quality per cluster, then min id among the maximizers — never a
    per-cluster sort window: a pathological mega-cluster (the classic
    boilerplate blob) reduces map-side instead of funnelling every member
    through a single task's sort, and the two-step form works for ids of
    ANY orderable type (a single struct-max would need an arithmetic
    negation trick that only numeric ids survive). Shuffles on cluster
    only; the cluster frame is graph-sized, orders of magnitude under
    the corpus."""
    base = (
        scored.join(clusters.select(id_col, "cluster"), id_col, "left")
        .withColumn("cluster", F.coalesce("cluster", F.col(id_col)))
    )
    best_q = base.groupBy("cluster").agg(F.max(quality_col).alias("_bq"))
    # eqNullSafe, not ==: a cluster whose members ALL have NULL quality has
    # _bq = NULL, and a bare equality filter would drop every candidate —
    # the whole cluster then vanishes from the inner join below, violating
    # the no-silent-drop contract. Null-safe equality keeps such clusters
    # (every member matches) and the min-id tie-break picks the survivor;
    # mixed NULL/non-NULL clusters are unaffected (NULL <=> value is false).
    best_id = (
        base.join(best_q, "cluster")
        .where(F.col(quality_col).eqNullSafe(F.col("_bq")))
        .groupBy("cluster")
        .agg(F.min(id_col).alias("_bid"))
    )
    return base.join(best_id, "cluster").select(
        id_col, "cluster", quality_col,
        (F.col(id_col) == F.col("_bid")).alias("keep"),
    )


def _cluster_graph(pairs: DataFrame):
    """Shared prologue of both clustering forms: symmetric deduped edge
    list (persisted — both loops re-read it every round) + identity label
    frame, with per-round shuffles sized to the near-dup GRAPH, not the
    session default (the graph is normally orders of magnitude smaller
    than the corpus; default-sized rounds pay hundreds of near-empty
    tasks)."""
    # both orientations from ONE scan of the (expensive, unpersisted)
    # upstream pair pipeline — the former two-sided union evaluated it
    # twice per cache fill (the host_components explode discipline, r12)
    base = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("d1").alias("src"), F.col("d2").alias("dst")),
            F.struct(F.col("d2").alias("src"), F.col("d1").alias("dst")),
        )).alias("_e"))
        .select("_e.src", "_e.dst")
        .distinct()
        .persist()
    )
    nparts = max(1, base.count() // 100_000)
    # partition AND sort by the round join key INSIDE the persisted frame
    # (the k_core/host_components discipline): every round's sort-merge
    # join then reuses the cached layout and only the doc-sized label
    # frame moves — persisting the pre-repartition frame instead made
    # each round re-exchange + re-sort the whole edge cache
    edges = (
        base.repartition(nparts, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    return edges, labels, nparts


def _propagate_round(edges: DataFrame, labels: DataFrame,
                     with_changed: bool = False) -> DataFrame:
    """One min-label propagation round: label(v) = min(label(v),
    min(label(neighbors))). With ``with_changed``, adds a ``_changed``
    flag for the fixpoint convergence probe."""
    neighbor_min = (
        edges.join(labels, edges.dst == labels.doc_id)
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("label").alias("nmin"))
    )
    cols = [
        "doc_id",
        F.least(
            F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
        ).alias("label"),
    ]
    if with_changed:
        cols.append(
            (F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")).alias(
                "_changed"
            )
        )
    return labels.join(neighbor_min, "doc_id", "left").select(*cols)


def _cluster_output(labels: DataFrame) -> DataFrame:
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster"),
        (F.col("doc_id") == F.col("label")).alias("keep"),
    )


def dedup_clusters_fixpoint(pairs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Connected components run to CONVERGENCE — the unbounded form of
    ``dedup_clusters`` for graphs whose diameter isn't known in advance
    (chained near-dups: A~B~C~...~Z collapses to one cluster however long
    the chain).

    Plain label propagation advances one hop per round (O(diameter), not
    O(log n) — pointer-jumping would be the log form); the loop stops at
    the first round that changes NOTHING, detected with a 1-row existence
    probe (``limit(1)`` on the changed-set — a cheap action, no full
    count), and RAISES if ``max_rounds`` is exhausted first — returning
    silently-unconverged clusters would let duplicates survive dedup with
    no signal. Every round materializes via localCheckpoint: the frame
    feeds two operators per round, so an uncut logical plan doubles each
    iteration and planning itself OOMs long before data does (on a real
    cluster, checkpoint() to reliable storage if executor loss mid-loop
    must be survivable). Nothing rides the driver but the loop condition.

    Oracle-checkable: the result equals DuckDB's ``WITH RECURSIVE``
    transitive min-label closure on the same edges.
    """
    edges, labels, _nparts = _cluster_graph(pairs)
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nxt = _propagate_round(edges, labels, with_changed=True).localCheckpoint(
            eager=True
        )
        converged = nxt.where("_changed").limit(1).count() == 0
        labels = nxt.drop("_changed")
        if converged:
            return _cluster_output(labels)
    raise RuntimeError(
        f"label propagation did not converge within {max_rounds} rounds — "
        "the near-dup graph has a longer chain than expected; raise "
        "max_rounds (cost is one join+agg shuffle per round)"
    )


def prefix_jaccard_pairs(docs: DataFrame, *, threshold_num: int = 3,
                         threshold_den: int = 5, gram: int = 1,
                         text_col: str = "text") -> DataFrame:
    """EXACT-threshold word-set Jaccard join via prefix filtering — the
    PPJoin family (Xiao et al. 2008), the deterministic complement to
    the MinHash+LSH path: LSH finds near-dups probabilistically with
    banding misses; prefix filtering finds EVERY pair at or above the
    threshold, no false negatives, by exploiting one fact — two sets
    with Jaccard >= t MUST share a token inside each other's first
    ``m - ceil(t*m) + 1`` tokens once both are sorted in the SAME
    global order. Sorting rarest-first makes those prefixes the least
    common tokens, so the candidate join fans out on rare postings
    instead of stopwords.

    The threshold is a RATIONAL (``threshold_num/threshold_den``,
    default 3/5 = 0.6) so every boundary decision is integer
    arithmetic: prefix length uses ceil(n*m/d) = (n*m + d - 1) DIV d,
    the length filter is n*m1 <= d*m2 (and symmetric), and the final
    verify is d*|∩| >= n*(m1 + m2 - |∩|) — no float ever decides
    membership (a float t*m rounds differently across engines exactly
    at the integer boundaries the algorithm lives on). The emitted
    jaccard is one exact-integer division, unrounded.

    Plan shape: token explode -> global-frequency rank (a
    VOCABULARY-bounded window) -> per-doc sorted rank array (in-row
    array_sort fixes collect_list's nondeterminism) -> prefix explode
    -> candidate self equi-join on the prefix token with doc_id and
    length filters -> in-row array_intersect verify. The omitted
    PPJoin positional filter is a constant-factor candidate reduction
    on the same plan; at 100 TB the rank table broadcasts
    (vocabulary-sized) and candidates are bounded by rare-token
    postings-list squares, never corpus^2.

    ``gram=2`` switches the set elements to word BIGRAMS: far more
    selective postings (the prefix filter's benefit REQUIRES rare
    tokens — on a pathologically homogeneous vocabulary where every
    word is frequent, word-level prefixes degenerate toward all-pairs,
    measured ~10 s vs ~3 s on the local corpus), and the right unit
    for passage-reuse detection anyway.

    Output: (d1, d2, m1, m2, inter, jaccard), d1 < d2, every pair with
    jaccard >= threshold exactly once.
    """
    n, d = threshold_num, threshold_den
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    # project the split ONCE: referencing the filter(split(...)) inside
    # the transform lambda re-evaluates it per element — O(words^2)
    # splits per doc, measured 5.3 s vs 1.4 s for the token explode
    base = (
        docs.select("doc_id", ws.alias("_ws"))
        .filter(F.size("_ws") >= gram)
    )
    if gram == 1:
        elems = F.array_distinct(F.col("_ws"))
    else:
        # element_at + concat instead of slice + concat_ws: no 2-element
        # array allocation per gram (measured ~20% off the whole set
        # stage at sf0.1, identical strings — words are non-empty after
        # the filter, so concat never sees a null)
        parts = " , ' ', ".join(
            f"element_at(_ws, i - {int(gram) - 1 - k})"
            for k in range(int(gram))
        )
        elems = F.array_distinct(F.expr(
            f"transform(sequence({int(gram)}, size(_ws)), "
            f"i -> concat({parts}))"
        ))
    it = base.select(F.col("doc_id"), F.explode(elems).alias("w"))
    freq = it.groupBy("w").agg(F.count(F.lit(1)).alias("_f"))
    rank = freq.select(
        "w",
        F.row_number().over(
            Window.orderBy(F.asc("_f"), F.asc("w"))).alias("r"),
    )
    ranked = it.join(F.broadcast(rank), "w").select("doc_id", "r")
    sets = (
        ranked.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("r")).alias("rs"))
        .select(
            "doc_id", "rs", F.size("rs").alias("m"),
            # prefix_len = m - ceil(n*m/d) + 1, all integer
            (F.size("rs")
             - F.floor((F.size("rs") * n + d - 1) / d).cast("int")
             + 1).alias("plen"),
        )
        .filter(F.col("m") > 0)
    )
    # sets is referenced three times (prefix explode + two array
    # re-joins): persist it and return an EAGER localCheckpointed
    # result so the persist can be dropped before returning (the
    # host_pagerank discipline — a lazy return could never unpersist)
    sets = sets.persist()
    pref = sets.select(
        "doc_id", "m",
        F.explode(F.slice(F.col("rs"), 1, F.col("plen"))).alias("tok"),
    )
    left = pref.select(F.col("doc_id").alias("d1"),
                       F.col("m").alias("m1"), "tok")
    right = pref.select(F.col("doc_id").alias("d2"),
                        F.col("m").alias("m2"), "tok")
    # dedupe candidate IDs first — a pair can match on several shared
    # prefix tokens, and running distinct over the full rank ARRAYS
    # drags every array copy through the shuffle (measured 10 s vs
    # ~4 s on the local corpus); the arrays re-join once per side
    # from the persisted doc-cardinality sets frame afterwards
    cand_ids = (
        left.join(right, "tok")
        .filter(
            (F.col("d1") < F.col("d2"))
            & (F.col("m1") * n <= F.col("m2") * d)
            & (F.col("m2") * n <= F.col("m1") * d)
        )
        .select("d1", "d2", "m1", "m2")
        .distinct()
    )
    cand = (
        cand_ids
        .join(sets.select(F.col("doc_id").alias("d1"),
                          F.col("rs").alias("rs1")), "d1")
        .join(sets.select(F.col("doc_id").alias("d2"),
                          F.col("rs").alias("rs2")), "d2")
    )
    inter = F.size(F.array_intersect(F.col("rs1"), F.col("rs2")))
    out = (
        cand.withColumn("inter", inter)
        .filter(F.col("inter") * d
                >= (F.col("m1") + F.col("m2") - F.col("inter")) * n)
        .select(
            "d1", "d2", "m1", "m2", "inter",
            (F.col("inter").cast("double")
             / (F.col("m1") + F.col("m2") - F.col("inter")))
            .alias("jaccard"),
        )
        .localCheckpoint()
    )
    sets.unpersist()
    return out
