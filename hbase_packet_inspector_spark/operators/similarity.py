"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — broadcast the query set,
  JVM-side dot products via zip_with/aggregate (no Python in the hot path)
- IVF-style partitioned search: restrict candidates to the query's cell
  (here the ``label`` column stands in for a coarse-quantizer assignment) —
  the candidate set shrinks by ~#cells, the standard ANN scale path
- norm statistics as the sanity/diagnostic aggregate

At 100 TB the base side stays partitioned; only the query set is broadcast.
Scores use double precision; outputs round to 6 decimals because summation
order across engines/partitions differs in the final bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


# Shared single-input-partition guard — one definition for the whole
# operator library (r12 ADVICE: the former local twin drifted from
# dedup._spread). See dedup._spread for the full rationale: without it a
# byte-small embeddings scan plans ONE partition and every broadcast-join
# scoring stage downstream — O(#base x #queries x dim) dot products —
# runs on a single core (guide §2.5 input skew).
from .dedup import BROADCAST_BYTES, _spread  # noqa: E402


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    same_cell_col: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for each query vector.

    ``queries`` must have columns (q_id, q_emb). If ``same_cell_col`` is set,
    both sides must carry it and candidates are restricted to the query's
    cell (IVF-style pruning).
    """
    # norms are per-VECTOR, so hoist them out of the pair loop: computing
    # them inside the join would redo an O(dim) aggregate per PAIR — at
    # n_base x n_query pairs that triples the hot-loop work for nothing.
    # _spread the corpus side first or the whole n_base x n_query dot
    # stage runs on the scan's single input partition (r12).
    base = _spread(emb, id_col).withColumn(
        "_v", _as_double(F.col(vec_col))
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    qs = queries.withColumn("_qv", _as_double(F.col("q_emb"))).withColumn(
        "_qn", F.sqrt(sq_norm(F.col("_qv")))
    )

    cond = F.col("q_id") != F.col(id_col)
    if same_cell_col is not None:
        # IVF-style cell pruning: queries carry q_<cell>, base carries <cell>
        cond = (F.col(f"q_{same_cell_col}") == F.col(same_cell_col)) & cond
    pairs = base.join(F.broadcast(qs), cond)

    cos = dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    scored = pairs.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cos", "rnk")
    )


def hard_negatives(emb: DataFrame, anchors: DataFrame, k: int = 5, *,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-similar vectors whose ``label_col`` DIFFERS from the
    anchor's — the near-miss negatives that make an embedding model's
    loss informative (random negatives are trivially far; the hard ones
    sit just across the decision boundary). ``anchors`` must carry
    (q_id, q_emb, q_label).

    Scale shape: identical to cosine_topk — anchor sets are bounded
    (a training batch / audit sample) however big the corpus, so the
    anchor side broadcasts and the corpus streams through one narrow
    pass; norms hoisted per-vector, JVM HOF dot products, per-anchor
    rank with the house total order (cos desc, neighbor_id asc). The
    cross-label predicate prunes BEFORE the O(dim) dot product, so
    same-label rows cost one int compare. Output: (q_id, q_label,
    neighbor_id, neighbor_label, cos, rnk)."""
    base = _spread(emb, id_col).withColumn(
        "_v", _as_double(F.col(vec_col))
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    qs = anchors.withColumn("_qv", _as_double(F.col("q_emb"))).withColumn(
        "_qn", F.sqrt(sq_norm(F.col("_qv")))
    )
    pairs = base.join(F.broadcast(qs), F.col(label_col) != F.col("q_label"))
    cos = dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    scored = pairs.select(
        "q_id",
        "q_label",
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "q_label", "neighbor_id", "neighbor_label",
                "cos", "rnk")
    )


def mine_triplets(emb: DataFrame, anchors: DataFrame, *,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  label_col: str = "label") -> DataFrame:
    """Triplet mining for metric learning: per anchor, the hardest
    positive (most-similar SAME-label vector, self excluded) and the
    hardest negative (most-similar cross-label vector), plus the margin
    pos_cos - neg_cos — the quantity triplet losses train on and
    semi-hard mining filters by (margin near zero = the informative
    triplets; large positive = easy, negative = label noise suspects).

    One broadcast-anchors corpus pass scores every candidate ONCE; the
    same scored frame feeds both selections (a (q_id, is_pos) window
    keeps rank 1 of each polarity), then a conditional-aggregate pivot
    folds the two rows per anchor into one triplet row. An anchor whose
    label has no second member keeps its row with null pos columns —
    nothing silently drops. Output: (q_id, q_label, pos_id, pos_cos,
    neg_id, neg_cos, margin)."""
    base = _spread(emb, id_col).withColumn(
        "_v", _as_double(F.col(vec_col))
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    qs = anchors.withColumn("_qv", _as_double(F.col("q_emb"))).withColumn(
        "_qn", F.sqrt(sq_norm(F.col("_qv")))
    )
    pairs = base.join(F.broadcast(qs), F.col(id_col) != F.col("q_id"))
    cos = dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    scored = pairs.select(
        "q_id",
        "q_label",
        F.col(id_col).alias("cand_id"),
        (F.col(label_col) == F.col("q_label")).alias("is_pos"),
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("q_id", "is_pos").orderBy(
        F.desc("cos"), F.asc("cand_id")
    )
    top = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    pos_if = lambda c: F.when(F.col("is_pos"), F.col(c))  # noqa: E731
    neg_if = lambda c: F.when(~F.col("is_pos"), F.col(c))  # noqa: E731
    return (
        top.groupBy("q_id", "q_label")
        .agg(
            F.max(pos_if("cand_id")).alias("pos_id"),
            F.max(pos_if("cos")).alias("pos_cos"),
            F.max(neg_if("cand_id")).alias("neg_id"),
            F.max(neg_if("cos")).alias("neg_cos"),
        )
        .withColumn(
            "margin", F.round(F.col("pos_cos") - F.col("neg_cos"), 6)
        )
    )


def decontaminate_embeddings(train: DataFrame, eval_set: DataFrame, *,
                             min_cos: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Semantic decontamination — the embedding-space sibling of the
    n-gram ``dedup.decontaminate``: a train vector is ``contaminated``
    when its cosine to ANY eval-suite vector reaches ``min_cos``
    (paraphrased eval leakage that exact n-gram overlap misses). Every
    train row survives to the output with its max eval cosine
    (``max_eval_cos`` is null iff the eval side is empty), so the caller
    decides drop-vs-audit; nothing is silently removed.

    Scale shape: eval suites are thousands of vectors however big the
    train corpus, so the eval side is broadcast and the train side
    streams through ONE narrow pass — the per-train max collapses
    map-side (partial aggregate on the already-colocated train
    partitioning; the groupBy shuffles only train-row-count rows of
    (id, cos)). Broadcast-NL against a bounded eval set is by design —
    same contract as bm25's stats frame, not a corpus x corpus join."""
    tr = _spread(train, id_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    ev = eval_set.select(
        _as_double(F.col(vec_col)).alias("_ev")
    ).withColumn("_en", F.sqrt(sq_norm(F.col("_ev"))))
    cos = dot(F.col("_v"), F.col("_ev")) / (F.col("_n") * F.col("_en"))
    hits = (
        tr.crossJoin(F.broadcast(ev))
        .select(F.col(id_col), F.round(cos, 6).alias("_cos"))
        .groupBy(id_col)
        .agg(F.max("_cos").alias("max_eval_cos"))
    )
    return (
        tr.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            "max_eval_cos",
            F.coalesce(
                F.col("max_eval_cos") >= min_cos, F.lit(False)
            ).alias("contaminated"),
        )
    )


def _sign_band_keys(vec_col: str, bits: int, n_bands: int):
    """Array of ``n_bands`` banded sign-bit LSH keys (band index baked in):
    bit j of band b = sign of vector component b*band_bits+j — axis-aligned
    sign-random-projection (Charikar 2002 SRP: P[bit match] = 1 - angle/pi),
    deterministic so any engine computes the identical signature."""
    band_bits = bits // n_bands
    return F.array(*[
        F.concat_ws(
            "",
            F.lit(str(b)), F.lit(":"),
            *[
                F.when(
                    F.element_at(F.col(vec_col), b * band_bits + j + 1) > 0,
                    F.lit("1"),
                ).otherwise(F.lit("0"))
                for j in range(band_bits)
            ],
        )
        for b in range(n_bands)
    ])


def srp_topk(emb: DataFrame, queries: DataFrame, k: int = 5, *,
             bits: int = 16, n_bands: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """LSH-bucketed approximate top-k cosine search — the third ANN scale
    path next to IVF (cell-pruned) and PQ (code-compressed): candidates
    are base vectors sharing at least one whole sign-bit band with the
    query; only those pay the exact cosine, then a per-query rank keeps
    the top k.

    Scale shape: the band join touches (id, short key) rows only — the
    vectors never ride through the candidate stage (the embedding_neardup
    lesson); the query key set is query-sized and broadcast, so the
    candidate pass is one narrow scan + broadcast hash join over the
    corpus at any scale, with exact scoring proportional to collisions,
    not corpus x queries. Recall/cost tunes like any LSH: more bands =
    more candidates = higher recall (measure with ann_recall against
    cosine_topk).

    ``queries`` must have columns (q_id, q_emb)."""
    keys = _sign_band_keys(vec_col, bits, n_bands)
    qkeys = _sign_band_keys("q_emb", bits, n_bands)
    base_keys = _spread(emb, id_col).select(
        F.col(id_col), F.explode(keys).alias("bkey"))
    q_keys = queries.select("q_id", F.explode(qkeys).alias("bkey"))
    cand = (
        base_keys.join(F.broadcast(q_keys), "bkey")
        .where(F.col("q_id") != F.col(id_col))
        .dropDuplicates(["q_id", id_col])
    )
    base = emb.withColumn("_v", _as_double(F.col(vec_col))).withColumn(
        "_n", F.sqrt(sq_norm(F.col("_v")))
    ).select(id_col, "_v", "_n")
    qs = queries.withColumn("_qv", _as_double(F.col("q_emb"))).withColumn(
        "_qn", F.sqrt(sq_norm(F.col("_qv")))
    ).select("q_id", "_qv", "_qn")
    cos = dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    scored = (
        cand.join(base, id_col)
        .join(F.broadcast(qs), "q_id")
        .select(
            "q_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cos, 6).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cos", "rnk")
    )


def embedding_neardup(emb: DataFrame, *, bits: int = 16, n_bands: int = 4,
                      min_cos: float = 0.45, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs via banded sign-bit LSH.

    Signature = sign bits of the first ``bits`` vector components
    (axis-aligned sign-random-projection: P[bit match] = 1 - angle/pi, the
    SRP/SimHash guarantee — Charikar 2002), split into ``n_bands`` bands;
    candidate pairs agree on at least one whole band; candidates are then
    verified with the exact cosine and kept at >= ``min_cos``.

    Scale shape: the band self-joins shuffle on short string keys (bucket
    sizes ~ n / 2^band_bits per band), and exact cosine touches only
    colliding pairs — never the O(n^2) cross join. Deterministic (no RNG):
    the hyperplanes are the coordinate axes, so the same signature is
    computable by any engine.
    """
    # one row per (vector, band) with the band index BAKED into the key so
    # buckets of different bands can never merge — a SINGLE self-join on
    # bkey replaces n_bands separate joins (each of which would shuffle the
    # whole frame again on the non-broadcast path: 2*n_bands full-frame
    # shuffles vs one), the same shape as dedup.lsh_candidates_wide
    band_keys = _sign_band_keys(vec_col, bits, n_bands)
    keyed = emb.select(F.col(id_col), F.explode(band_keys).alias("bkey"))

    # band joins carry ONLY (id, band key): at 2^band_bits buckets the raw
    # collision set can be orders of magnitude larger than the verified
    # output, and dragging the vectors through those joins + the dedup
    # shuffle would dominate the whole operator. Vectors (with norms
    # precomputed once per vector) are joined back onto the deduped pairs.
    # Broadcast decisions are BYTE-aware but must cost ZERO Spark jobs at
    # plan-construction time: the size comes from Catalyst's driver-side
    # statistics (file-size metadata for scans), never a count()/first()
    # probe — building this frame and then not executing it must launch
    # nothing. Parquet float arrays compress ~1:1 and UnsafeRow adds
    # per-row overhead (and the vector frame broadcasts TWICE), so the
    # stat gets 4x headroom against dedup's BROADCAST_BYTES; the exploded
    # band frame (n_bands short keys per vector) is bounded by the same
    # budget. Unknown stats (no file source under the plan) =>
    # conservative shuffle path, the plan that's also correct at 10^9
    # vectors.
    try:
        size_b = int(
            emb._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        size_b = 1 << 62
    vec_small = band_small = 4 * size_b <= BROADCAST_BYTES

    left = keyed.select(F.col(id_col).alias("d1"), "bkey")
    right = keyed.select(F.col(id_col).alias("d2"), "bkey")
    if band_small:
        right = F.broadcast(right)
    cand = (
        left.join(right, "bkey")
        .where(F.col("d1") < F.col("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    nparts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = cand.repartition(nparts, "d1")  # spread the cosine CPU work

    vv = emb.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    v1 = vv.select(F.col("_id").alias("d1"), F.col("_v").alias("v1"),
                   F.col("_n").alias("n1"))
    v2 = vv.select(F.col("_id").alias("d2"), F.col("_v").alias("v2"),
                   F.col("_n").alias("n2"))
    if vec_small:
        v1, v2 = F.broadcast(v1), F.broadcast(v2)
    cos = dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    return (
        cand.join(v1, "d1").join(v2, "d2")
        .withColumn("cos", F.round(cos, 6))
        .where(F.col("cos") >= min_cos)
        .select("d1", "d2", "cos")
    )


def sq8_quantize(emb: DataFrame, *, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Scalar quantization to uint8 (SQ8): each dimension affinely mapped
    to a 0..255 code using the corpus's per-dimension min/max — the
    memory-bandwidth ANN path next to PQ (4x smaller than float32, no
    codebook training, exact affine reconstruction error bounds). The
    per-dim stats are a dim-sized collect (the PCA/kmeans sufficient-
    statistics discipline: only 2*dim doubles ride the driver, re-entering
    as literals), then codes are one in-row transform over a narrow scan.

    Returns the input frame with ``vec_col`` REPLACED by the
    reconstructed vector x̂ (min_j + c_j*span_j/255) and a ``codes``
    column (array<int>) — x̂ is what search ranks against (asymmetric:
    queries stay full-precision), codes are what a deployment stores.
    Constant dimensions (span 0) code to 0 and reconstruct exactly."""
    x = _as_double(F.col(vec_col))
    dims = (
        emb.select(F.posexplode(x).alias("j", "v"))
        .groupBy("j")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    mins = [0.0] * len(dims)
    spans = [1.0] * len(dims)
    for r in dims:
        mins[r.j] = float(r.mn)
        spans[r.j] = float(r.mx - r.mn) or 1.0
    mins_a = F.array(*[F.lit(v) for v in mins])
    spans_a = F.array(*[F.lit(v) for v in spans])
    codes = F.transform(
        x,
        lambda v, j: F.round(
            F.lit(255.0) * (v - F.element_at(mins_a, j + 1))
            / F.element_at(spans_a, j + 1)
        ).cast("int"),
    )
    xhat = F.transform(
        F.col("codes"),
        lambda c, j: F.element_at(mins_a, j + 1)
        + c.cast("double") * F.element_at(spans_a, j + 1) / F.lit(255.0),
    )
    return (
        emb.withColumn("codes", codes)
        .withColumn(vec_col, xhat)
    )


def sq8_topk(emb: DataFrame, queries: DataFrame, k: int = 5, *,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """SQ8 approximate top-k: full-precision queries ranked against the
    scalar-quantized corpus reconstruction (the standard asymmetric
    search). One dim-sized stats collect + in-row quantize + the
    cosine_topk broadcast-query scan — same plan shape as the exact
    baseline, 4x less vector payload in a deployment that stores codes.
    Audit the quantization's ranking damage with sq8_recall."""
    quant = sq8_quantize(emb, id_col=id_col, vec_col=vec_col).drop("codes")
    return cosine_topk(quant, queries, k, id_col=id_col, vec_col=vec_col)


def knn_graph(emb: DataFrame, k: int = 3, *, bits: int = 16,
              n_bands: int = 4, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus via banded SRP
    buckets: every vector gets its top-k cosine neighbors among its LSH
    collisions — (src, neighbor_id, cos, rnk). This is the input frame
    for graph-based corpus tools: connected-component clustering, SemDeDup
    beyond cell boundaries, label propagation, kNN-density outlier scores.

    Reuses embedding_neardup's collision machinery with the verification
    threshold OPEN (min_cos=-1): the band self-join prices candidates at
    bucket-collision count, each undirected pair pays the exact cosine
    once, then the pair list is SYMMETRIZED (both endpoints list each
    other) and cut per node by the house-deterministic (cos desc,
    neighbor asc) rank. Scale shape: candidate volume ~ n x E[bucket
    size] per band — linear in collisions, never the O(n^2) cross join;
    the only per-node state is the top-k window over each node's own
    collision list (shuffle on src id). Recall tunes with bands like any
    LSH — nodes whose true neighbors never share a band miss them; audit
    with ann_recall/srp_recall before trusting the graph downstream."""
    pairs = embedding_neardup(emb, bits=bits, n_bands=n_bands,
                              min_cos=-1.0, id_col=id_col, vec_col=vec_col)
    # both orientations from ONE scan of the banded-LSH pair pipeline —
    # the former two-sided union evaluated the whole detector twice
    # (the host_components explode discipline, r12)
    sym = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("d1").alias("src"),
                     F.col("d2").alias("neighbor_id"), F.col("cos")),
            F.struct(F.col("d2").alias("src"),
                     F.col("d1").alias("neighbor_id"), F.col("cos")),
        )).alias("_e"))
        .select("_e.src", "_e.neighbor_id", "_e.cos")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        sym.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("src", "neighbor_id", "cos", "rnk")
    )


def knn_outliers(emb: DataFrame, k: int = 3, n: int = 20, *,
                 bits: int = 16, n_bands: int = 4, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """kNN-density outlier sweep over the knn_graph: each node's mean
    cosine to its top-k neighbors, lowest-``n`` first — the
    semantic-noise report (mislabeled, off-distribution, or corrupt
    embeddings sit far from everything, so their best neighbors are
    still distant). Complements label_outliers (which needs labels and a
    centroid model): this one is label-free, driven purely by local
    neighborhood density.

    A node with NO bucket collisions is absent from the graph and from
    this report — at scale that isolation is itself outlier evidence;
    anti-join against the corpus for the "no neighbors at all" list.

    Scale shape: knn_graph's collision-bounded build + one grouped
    average + TakeOrdered bottom-n (no global sort). The mean is rounded
    to 6 BEFORE the ordering cut (house rule), ties break on id, so the
    bottom-n frontier is engine-exact."""
    g = knn_graph(emb, k, bits=bits, n_bands=n_bands,
                  id_col=id_col, vec_col=vec_col)
    agg = g.groupBy(F.col("src").alias(id_col)).agg(
        F.round(F.avg("cos"), 6).alias("mean_knn_cos"),
        F.count("*").alias("n_neighbors"),
    )
    return agg.orderBy(F.asc("mean_knn_cos"), F.asc(id_col)).limit(n)


def knn_label_prop(emb: DataFrame, *, seed_mod: int = 5, rounds: int = 2,
                   k: int = 3, bits: int = 16, n_bands: int = 4,
                   id_col: str = "vec_id", label_col: str = "label",
                   vec_col: str = "embedding") -> DataFrame:
    """Semi-supervised label propagation over the knn_graph: labels known
    only for a seed subset (``id % seed_mod == 0`` — the audited docs in
    a curation run) spread to unlabeled nodes by majority vote of their
    already-labeled neighbors, ``rounds`` times. The production shape of
    'we hand-audited 2% of the corpus, label the rest by proximity' —
    the cheap alternative to corpus-wide classifier training when a kNN
    graph already exists.

    Per round: one graph-to-labels equi-join + a (node, label) count +
    a per-node argmax window — all bounded by edge count (k per node),
    never corpus-quadratic. The vote is engine-exact: count desc then
    label asc, the house total order. A node with no labeled neighbor
    stays unlabeled that round and may resolve in a later one; rounds is
    a small constant, so the lazy plan stays Catalyst-sized (the
    dedup_clusters precedent — cut lineage at the loop boundary if
    rounds ever grows past a handful).

    Output: (id, label, assigned_round) — 0 for seeds, r >= 1 for
    propagated nodes; unreached nodes are absent.

    The edge frame is PERSISTED (it feeds every round's vote join —
    without the pin each round re-runs the whole collision build); as
    with bpe_token_counts, the caller owns its lifetime: unpersist /
    clearCache after materializing the result."""
    g = knn_graph(emb, k, bits=bits, n_bands=n_bands,
                  id_col=id_col, vec_col=vec_col).persist()
    labels = emb.where(F.col(id_col) % seed_mod == 0).select(
        F.col(id_col), F.col(label_col).alias("label"),
        F.lit(0).alias("assigned_round"),
    )
    for r in range(1, rounds + 1):
        nbr = labels.select(
            F.col(id_col).alias("neighbor_id"), F.col("label").alias("_nl")
        )
        votes = (
            g.join(nbr, "neighbor_id")
            .join(
                labels.select(F.col(id_col).alias("src")),
                "src", "left_anti",
            )
            .groupBy(F.col("src"), F.col("_nl"))
            .agg(F.count("*").alias("_c"))
        )
        w = Window.partitionBy("src").orderBy(F.desc("_c"), F.asc("_nl"))
        new = (
            votes.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(
                F.col("src").alias(id_col), F.col("_nl").alias("label"),
                F.lit(r).alias("assigned_round"),
            )
        )
        labels = labels.unionByName(new)
    return labels


def assign_cells(emb: DataFrame, centroids: DataFrame, *,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cell): IVF coarse-quantizer assignment — each vector goes to its
    max-cosine centroid (``centroids``: (cell, c_emb), always broadcast;
    #cells ≪ #vectors by construction). Cosines are rounded to 6 decimals
    BEFORE ranking so the argmax tie-break (lowest cell id) is
    engine-independent — double summation order must never pick the cell.

    One broadcast nested-loop of #vectors × #cells rows and one window over
    vec_id — at 10^9 vectors × 2^12 cells this is the standard IVF build
    cost, embarrassingly parallel, no shuffle on the big side until the
    per-vector argmax (which AQE plans as a partial top-1)."""
    # the embeddings scan is byte-small (one partition) but the assignment
    # is #vectors x #cells dot products — spread it before the broadcast
    # join or the whole quantizer runs on one core (same trap as
    # dedup._spread; explicit count so AQE can't re-coalesce)
    nparts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = emb.repartition(nparts, id_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    cents = F.broadcast(
        centroids.select(
            F.col("cell"), _as_double(F.col("c_emb")).alias("_c")
        ).withColumn("_cn", F.sqrt(sq_norm(F.col("_c"))))
    )
    cos = F.round(
        dot(F.col("_v"), F.col("_c")) / (F.col("_n") * F.col("_cn")), 6
    )
    scored = base.join(cents).select(id_col, "cell", cos.alias("_cos"))
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos"), F.asc("cell"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(id_col, "cell")
    )


def norm_stats(emb: DataFrame, by: str = "label",
               vec_col: str = "embedding") -> DataFrame:
    norm = F.sqrt(sq_norm(_as_double(F.col(vec_col))))
    return (
        emb.withColumn("_norm", norm)
        .groupBy(by)
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("_norm"), 4).alias("avg_norm"),
            F.round(F.min("_norm"), 6).alias("min_norm"),
            F.round(F.max("_norm"), 6).alias("max_norm"),
        )
    )


def label_centroids(emb: DataFrame, *, by: str = "label",
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(label, n_vecs, centroid): per-group mean vector, computed as ONE
    posexplode + (group, dim) partial+final average and re-assembled into
    an array ordered by dimension. Shuffle key cardinality is
    #groups × dim — bounded by the model, not the corpus — so the
    aggregate is safe at any scale; the result frame is dim-rows-small
    and broadcasts into every consumer."""
    ex = emb.select(
        F.col(by), F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v")
    )
    per_dim = ex.groupBy(by, "pos").agg(
        F.avg("v").alias("c"), F.count("*").alias("n")
    )
    return (
        per_dim.groupBy(by)
        .agg(
            F.first("n").alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct("pos", "c"))
            ).alias("_pc"),
        )
        .select(
            by, "n_vecs",
            F.transform(F.col("_pc"), lambda s: s["c"]).alias("centroid"),
        )
    )


def label_centroid_sim(emb: DataFrame, *, by: str = "label",
                       vec_col: str = "embedding") -> DataFrame:
    """Pairwise cosine between group centroids — the topic-proximity
    matrix that tells a corpus owner which labels/clusters are
    semantically adjacent (merge candidates, mixture-balance inputs)
    before any per-document work. The centroid frame is #groups rows, so
    the pair join is a broadcast self-join over a model-bounded frame;
    the corpus is touched exactly once by the centroid aggregate."""
    cents = label_centroids(emb, by=by, vec_col=vec_col).select(
        F.col(by), F.col("centroid")
    )
    a = cents.select(F.col(by).alias("l1"), F.col("centroid").alias("_ca"))
    b = cents.select(F.col(by).alias("l2"), F.col("centroid").alias("_cb"))
    cos = dot(F.col("_ca"), F.col("_cb")) / (
        F.sqrt(sq_norm(F.col("_ca"))) * F.sqrt(sq_norm(F.col("_cb")))
    )
    return (
        a.join(F.broadcast(b), F.col("l1") < F.col("l2"))
        .select("l1", "l2", F.round(cos, 6).alias("cos"))
    )


def label_outliers(emb: DataFrame, *, k: int = 3, by: str = "label",
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Per-group farthest-from-centroid report: the top-``k`` vectors by
    L2 distance to their own group's mean — the mislabeled/noisy-example
    sweep a curation pipeline runs before training on labeled embeddings.
    Distance is ROUNDED to 6 before ranking (house rule: round before any
    rank/argmax so the cut is engine-exact), ties break on id. The
    centroid frame broadcasts; the corpus side is one narrow scan plus
    the per-group top-k window."""
    cents = label_centroids(emb, by=by, vec_col=vec_col).select(
        F.col(by), F.col("centroid")
    )
    dist = F.round(
        F.sqrt(_sq_l2(_as_double(F.col(vec_col)), F.col("centroid"))), 6
    )
    w = Window.partitionBy(by).orderBy(F.desc("dist"), F.asc(id_col))
    return (
        emb.join(F.broadcast(cents), by)
        .withColumn("dist", dist)
        .withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select(by, id_col, "dist", "rnk")
    )


def ann_recall(emb: DataFrame, queries: DataFrame, k: int = 3,
               cell_col: str = "label") -> DataFrame:
    """Recall@k of cell-pruned (IVF-style) search against the exact
    brute-force ranking — the evaluation loop every ANN deployment needs
    before trusting pruning at scale.

    Both rankings share the deterministic tie-break (cos rounded to 6 desc,
    neighbor_id asc), so recall is itself deterministic. Output: one row per
    query with recall = |pruned_topk ∩ exact_topk| / k.

    Scale shape: two broadcast-query passes over the base vectors (the
    pruned one touches only the query's cell) + one tiny join on the top-k
    frames; nothing shuffles the corpus.
    """
    exact = cosine_topk(emb, queries.drop(f"q_{cell_col}"), k=k)
    pruned = cosine_topk(emb, queries, k=k, same_cell_col=cell_col)
    hits = (
        exact.join(pruned, ["q_id", "neighbor_id"], "leftsemi")
        .groupBy("q_id")
        .agg(F.count("*").alias("_hits"))
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            (F.coalesce(F.col("_hits"), F.lit(0)).cast("double") / k).alias("recall"),
        )
    )


def matryoshka_recall(emb: DataFrame, queries: DataFrame, *, k: int = 3,
                      dims: int = 16, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Recall@k of DIM-TRUNCATED cosine search against the full-dimension
    exact ranking — the audit behind Matryoshka-style embedding serving
    (store the full vector once, search on a prefix): before routing
    queries through a ``dims``-wide prefix you measure what that prefix
    costs in recall, exactly the ann_recall/pq_recall/sq8_recall loop
    applied to the cheapest compression of all (taking a prefix is free —
    no codebooks, no re-encode; MRL-trained embedders order information
    so prefixes stay usable, and THIS query tells you whether yours did).

    Both rankings share the deterministic tie-break (cos rounded to 6
    desc, neighbor_id asc). Output: one row per query with recall =
    |prefix_topk ∩ full_topk| / k.

    Scale shape: two broadcast-query passes over the base vectors (the
    prefix pass does dims/D of the arithmetic and at real scale reads a
    dims-wide materialized column, pruning the scan) + one top-k-frame
    join; the corpus never shuffles."""
    exact = cosine_topk(emb, queries, k=k, id_col=id_col, vec_col=vec_col)
    t_emb = emb.withColumn(vec_col, F.slice(F.col(vec_col), 1, dims))
    t_q = queries.withColumn("q_emb", F.slice(F.col("q_emb"), 1, dims))
    prefix = cosine_topk(t_emb, t_q, k=k, id_col=id_col, vec_col=vec_col)
    hits = (
        exact.join(prefix, ["q_id", "neighbor_id"], "leftsemi")
        .groupBy("q_id")
        .agg(F.count("*").alias("_hits"))
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            (F.coalesce(F.col("_hits"), F.lit(0)).cast("double") / k)
            .alias("recall"),
        )
    )


def rrf_fuse(rankings: list[DataFrame], *, k: int = 5,
             k_const: int = 60) -> DataFrame:
    """Reciprocal-rank fusion over N ranking frames (q_id, neighbor_id,
    rnk) — the standard hybrid-retrieval combiner (Cormack et al.):
    score(d) = Σ_rankers 1/(k_const + rnk_d), which needs no score
    calibration between rankers (BM25 logs vs cosine in [-1,1] fuse
    without normalization because only RANKS enter). The fused score is
    rounded to 6 BEFORE the final rank and ties break on neighbor_id, so
    the output is engine-exact (registry determinism rules).

    Scale shape: the inputs are already top-k frames (queries × k rows —
    retrieval-sized, not corpus-sized), so the fusion is a union + one
    tiny groupBy + a per-query window over ≤ N·k rows. At 100 TB the
    cost lives in the upstream rankers; fusion is free."""
    u = None
    for r in rankings:
        c = r.select(
            "q_id", "neighbor_id",
            (F.lit(1.0) / (F.lit(k_const) + F.col("rnk"))).alias("_c"),
        )
        u = c if u is None else u.unionByName(c)
    fused = (
        u.groupBy("q_id", "neighbor_id")
        .agg(F.round(F.sum("_c"), 6).alias("rrf"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        fused.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "rrf", "rnk")
    )


def centroids_from_cells(emb: DataFrame, cells: DataFrame, *,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Per-cell elementwise mean vectors (the Lloyd update step), components
    rounded to 6 so cross-engine summation order can't leak into the next
    assignment's argmax. One shuffle on (cell, pos), sized by
    #cells x dim — independent of corpus size after the partial agg."""
    return (
        emb.join(cells, id_col)
        .select("cell", F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("val"), 6).alias("v"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("cell", F.expr("transform(pv, s -> s.v)").alias("c_emb"))
    )


def kmeans_refine(emb: DataFrame, seed_centroids: DataFrame,
                  iterations: int = 1, *,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  materialize: bool = False) -> DataFrame:
    """``iterations`` rounds of Lloyd's algorithm, fully declarative:
    assign -> per-cell mean -> reassign. Returns the final (id, cell)
    assignment.

    Each round costs one broadcast-assignment pass over the vectors plus
    one #cells x dim aggregate — linear per round at 10^9 vectors. Pass
    ``materialize=True`` for many iterations: it persists each round's
    assignment so the lineage (and recomputation) doesn't grow
    multiplicatively — the same iterative-dataflow trap as
    dedup.dedup_clusters. The bounded deterministic form keeps every round
    oracle-checkable; a production run loops until an assignment round
    changes nothing.

    The RETURNED frame is persisted with no unpersist hook (it's (id,
    cell) — vectors never ride along). In a long-lived session, drop it
    with ``spark.catalog.clearCache()`` between pipelines; the bench and
    parity harnesses do exactly that between queries, and executor
    storage stays flat across a full 96-query rotation."""
    cells = assign_cells(emb, seed_centroids, id_col=id_col, vec_col=vec_col)
    prev = None
    for _ in range(iterations):
        if materialize:
            cells = cells.persist()
            cells.count()
            if prev is not None:
                # drop the previous round's cache once this round is
                # materialized — otherwise a long refinement loop pins one
                # full assignment per iteration in executor storage
                prev.unpersist()
            prev = cells
        cents = centroids_from_cells(emb, cells, id_col=id_col, vec_col=vec_col)
        cells = assign_cells(emb, cents, id_col=id_col, vec_col=vec_col)
    # The RETURNED assignment is always cut, independent of `materialize`
    # (which governs the per-round barriers of long loops): every IVF
    # consumer reads it at least twice (base-side join + query-side
    # derivation), and without a persist each consumer re-runs the whole
    # refine lineage — one broadcast corpus pass per round per consumer
    # (measured 3.3x on ivf_kmeans_topk). The frame is (id, cell), tiny.
    return cells.persist()


def save_ann_index(emb: DataFrame, path: str, *, table: str = "ann_index",
                   n_cells: int = 10, iterations: int = 1, buckets: int = 8,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> None:
    """Persist an IVF index for build-once/search-many deployment: the
    vectors table written BUCKETED on the coarse-quantizer cell (so every
    later cell-pruned search join scans it pre-partitioned — no Exchange
    on the corpus side, ever) plus the centroids table. The Spark analog
    of writing an IVF index file: bucket layout replaces the index's
    inverted lists, and the metastore entry (``<table>_vectors`` /
    ``<table>_centroids``) is the handle.

    At 10^9 vectors the index build (assign + bucketed write) is the
    one-time cost; every search afterwards shuffles only the query
    batch."""
    seed = emb.where(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("c_emb")
    )
    cells = kmeans_refine(emb, seed, iterations=iterations,
                          id_col=id_col, vec_col=vec_col)
    cents = centroids_from_cells(emb, cells, id_col=id_col, vec_col=vec_col)
    (
        emb.join(cells, id_col)
        .write.mode("overwrite")
        .option("path", f"{path}/vectors")
        .bucketBy(buckets, "cell")
        .sortBy("cell", id_col)
        .saveAsTable(f"{table}_vectors")
    )
    (
        cents.write.mode("overwrite")
        .option("path", f"{path}/centroids")
        .saveAsTable(f"{table}_centroids")
    )
    cells.unpersist()


def load_ann_index(spark, table: str = "ann_index"):
    """(vectors, centroids) back from the metastore — the vectors frame
    carries its bucket layout, so joins on ``cell`` skip the corpus-side
    Exchange."""
    return spark.table(f"{table}_vectors"), spark.table(f"{table}_centroids")


def search_ann_index(vectors: DataFrame, centroids: DataFrame,
                     queries: DataFrame, k: int = 5, *,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Cell-pruned search over a persisted index: queries assign to their
    nearest centroid (broadcast — #cells is tiny), then an EQUI join on
    ``cell`` against the bucketed vectors table. Because the index was
    written bucketed on cell, the corpus side arrives pre-partitioned —
    the only Exchange in the plan is the query batch's (verified by
    ``tests/test_dataprep.py::test_ann_index_roundtrip_and_bucketed_search``).
    This is the large-query-batch path; for a handful of ad-hoc queries
    ``cosine_topk(..., same_cell_col=...)`` (broadcast queries) is the
    cheaper plan."""
    qa = assign_cells(queries, centroids, id_col=id_col, vec_col=vec_col)
    qside = (
        queries.select(
            F.col(id_col).alias("q_id"),
            _as_double(F.col(vec_col)).alias("_qv"),
        )
        .withColumn("_qn", F.sqrt(sq_norm(F.col("_qv"))))
        .join(
            qa.select(F.col(id_col).alias("q_id"), "cell"), "q_id"
        )
    )
    base = vectors.select(
        F.col(id_col), F.col("cell"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    cos = dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    scored = (
        base.join(qside, "cell")
        .where(F.col("q_id") != F.col(id_col))
        .select(
            "q_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cos, 6).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cos", "rnk")
    )


def semdedup_keep(emb: DataFrame, cells: DataFrame, *, min_cos: float = 0.45,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic dedup (cluster-then-prune, the embedding
    analog of keep_best): within each k-means cell, any vector whose
    cosine to a LOWER-id cell-mate reaches ``min_cos`` is marked a drop;
    cell representatives and isolated vectors keep — including vectors
    ABSENT from ``cells`` (a partial assignment must not silently erase
    docs from the keep/drop decision; they surface with a null cell and
    keep=true, the keep_best singleton rule). Deterministic — the keep
    decision depends only on (rounded cosine, id order), no greedy
    traversal order.

    Scale shape: the pair enumeration is WITHIN-CELL only (that is the
    point of clustering first — at 10^9 vectors a cell holds ~n/#cells
    vectors and the quadratic term is per-cell, never corpus-wide), one
    shuffle on cell for the self-join, one broadcast-sized distinct drop
    list joined back. Norms hoisted per vector, dot products JVM-side."""
    vv = emb.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", F.sqrt(sq_norm(F.col("_v"))))
    base = vv.join(cells.select(id_col, "cell"), id_col)
    a = base.select(
        F.col(id_col).alias("v1"), "cell",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = base.select(
        F.col(id_col).alias("v2"), "cell",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    cos = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    drops = (
        a.join(b, "cell")
        .where(F.col("v1") < F.col("v2"))
        .where(cos >= min_cos)
        .select(F.col("v2").alias(id_col))
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    return (
        emb.select(id_col)
        .join(cells.select(id_col, "cell"), id_col, "left")
        .join(drops, id_col, "left")
        .select(id_col, "cell", F.col("_d").isNull().alias("keep"))
    )


def _round6_half_away(x: float) -> float:
    """round(x, 6) with HALF-AWAY-FROM-ZERO ties — Spark's round() and
    DuckDB's round() both round half away, Python's built-in rounds half
    to even; the driver-side carrier of an iterative loop must snap
    exactly like the engines or schedules diverge at tie values."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _cov_product_outer(vv: DataFrame) -> DataFrame:
    """Second-moment matrix E[x x^T] by PER-PARTITION numpy accumulation:
    ``mapInPandas`` folds every Arrow batch of a partition into one dim x
    dim ``X.T @ X`` partial (plus its row count), then emits the partial
    as dim^2 rows — so the shuffle carries ``#partitions x dim^2`` rows
    instead of the in-row explode's ``n x dim^2`` product terms. At
    dim=1024 that is the difference between 1 M structs PER VECTOR and
    1 M doubles PER PARTITION. One groupBy(i, j) finalizes: e1 =
    sum(partials) / sum(counts). Returns (i, j, e1) — the same frame the
    declarative in-row pass produces."""

    def acc(batches):
        import numpy as np
        import pandas as pd

        s = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            s = x.T @ x if s is None else s + x.T @ x
            n += x.shape[0]
        if s is None:
            return
        dim = s.shape[0]
        ii, jj = np.indices((dim, dim))
        yield pd.DataFrame(
            {
                "i": ii.ravel().astype("int32"),
                "j": jj.ravel().astype("int32"),
                "sxy": s.ravel(),
                "n": np.full(dim * dim, n, dtype="int64"),
            }
        )

    return (
        vv.mapInPandas(acc, "i int, j int, sxy double, n long")
        .groupBy("i", "j")
        .agg((F.sum("sxy") / F.sum("n")).alias("e1"))
    )


def pca_top_component(emb: DataFrame, *, iterations: int = 3,
                      vec_col: str = "embedding",
                      covariance: str = "auto",
                      wide_dim_threshold: int = 64) -> DataFrame:
    """Top principal direction of the embedding cloud: exact covariance in
    one pass over the corpus (E[xx^T] - mm^T), followed by ``iterations``
    bounded power-iteration rounds whose only driver-side state is the
    dim-length direction vector (the logreg_fit/kmeans_refine
    iterative-dataflow shape). Components round to 6 per round so the
    schedule is engine-exact; returns (i, component, eigenvalue) with the
    Rayleigh-style ||C v|| estimate as the eigenvalue.

    Two covariance strategies, selected by ``covariance``:

    - ``"inrow"``: per-vector outer products flattened IN-ROW (pure
      column expressions, whole-stage codegen), then a partial+final
      elementwise mean. Ideal at modest dim, but the explode emits dim^2
      structs PER VECTOR — at dim=1024 that is 1 M terms each, dwarfing
      the data itself.
    - ``"outer"``: per-partition numpy ``X.T @ X`` accumulation via
      ``mapInPandas`` (``_cov_product_outer``) — one dim^2 partial per
      partition crosses the shuffle, corpus-size-independent. The Arrow
      batch transfer is the only Python cost; use it when dim^2 per-row
      expansion would dominate.
    - ``"auto"`` (default): ``"outer"`` when the vector length >=
      ``wide_dim_threshold``, else ``"inrow"``. Both produce the
      identical (i, j, e1) frame and share the same oracle. The
      threshold default is 64: measured at dim=64 on 2k vectors the
      in-row dim^2 explode (8M rows) is already 2.2x slower than one
      Arrow batch per partition, and the gap only widens with dim.

    Scale shape: after the covariance pass everything is dim^2-sized;
    each power round is one join of the persisted dim^2 frame against a
    LITERAL direction vector, so nothing but the direction ever reaches
    the driver. The cov frame stays persisted after return (dim^2 rows —
    tiny); call ``spark.catalog.clearCache()`` to drop it in long-lived
    sessions. The bounded deterministic form stays oracle-checkable;
    production loops until the direction is a fixpoint."""
    import math

    vv = emb.select(_as_double(F.col(vec_col)).alias("_v"))
    first = vv.select(F.size("_v").alias("d")).first()
    if first is None:
        raise ValueError("pca_top_component: empty input")
    dim = first["d"]
    if covariance == "auto":
        covariance = "outer" if dim >= wide_dim_threshold else "inrow"
    m = (
        vv.select(F.posexplode("_v").alias("i", "x"))
        .groupBy("i").agg(F.avg("x").alias("m"))
    )
    if covariance == "outer":
        e1 = _cov_product_outer(vv)
    else:
        # the explode IS the inrow branch's cost: emit a FLAT double
        # array and posexplode it (one primitive row per term, keyed by
        # a single int) instead of per-term (i, j, xy) structs — measured
        # 2x on the covariance pass; (i, j) is recovered arithmetically
        # from the position once the dim^2 cells exist
        pairs = F.expr("flatten(transform(_v, x -> transform(_v, y -> x * y)))")
        e1 = (
            vv.select(F.posexplode(pairs).alias("pos", "xy"))
            .groupBy("pos")
            .agg(F.avg("xy").alias("e1"))
            .select(
                (F.col("pos") / dim).cast("int").alias("i"),
                (F.col("pos") % dim).cast("int").alias("j"),
                "e1",
            )
        )
    cov = (
        e1.join(m.selectExpr("i", "m AS mi"), "i")
        .join(m.selectExpr("i AS j", "m AS mj"), "j")
        .select("i", "j", (F.col("e1") - F.col("mi") * F.col("mj")).alias("c"))
        .persist()  # one dim^2 frame consumed every round
    )
    v = [_round6_half_away(1.0 / math.sqrt(dim))] * dim
    lam = 0.0
    for _ in range(iterations):
        lit_v = F.array(*[F.lit(float(x)) for x in v])
        rows = (
            cov.withColumn(
                "_w", F.col("c") * F.element_at(lit_v, F.col("j") + 1)
            )
            .groupBy("i").agg(F.sum("_w").alias("w"))
            .collect()
        )
        w = [0.0] * dim
        for r in rows:
            w[r["i"]] = r["w"]
        nrm = math.sqrt(sum(x * x for x in w))
        v = [_round6_half_away(x / nrm) for x in w]
        lam = _round6_half_away(nrm)
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i, v[i], lam) for i in range(dim)],
        "i int, component double, eigenvalue double",
    )


def _sub_slices(vec: Column, m: int, sub_dim: int) -> Column:
    """Array of m structs (j, sub): the vector cut into m contiguous
    double-cast subvectors — the PQ subspace decomposition, in-row."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                _as_double(F.slice(vec, j * sub_dim + 1, sub_dim)).alias("sub"),
            )
            for j in range(m)
        ]
    )


def _sq_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebook(emb: DataFrame, *, m: int = 4, sub_dim: int = 16,
                n_codes: int = 8, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Seeded PQ codebook: the first ``n_codes`` vectors' subvectors become
    each subspace's centroids — (j, code, csub), m x n_codes rows. A real
    deployment k-means-refines each subspace codebook with the same
    ``kmeans_refine`` loop; the seeded form keeps the oracle exact."""
    return (
        emb.where(F.col(id_col) < n_codes)
        .select(
            F.col(id_col).alias("code"),
            F.explode(_sub_slices(F.col(vec_col), m, sub_dim)).alias("s"),
        )
        .select("code", "s.j", F.col("s.sub").alias("csub"))
    )


def pq_codes(emb: DataFrame, codebook: DataFrame, *, m: int = 4,
             sub_dim: int = 16, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Encode every vector: per subspace, the nearest centroid's code
    (squared-L2 rounded to 6 before the argmin, ties to the lowest code —
    engine-independent). One broadcast join against the (tiny) codebook +
    a per-(vector, subspace) argmin; the encoded corpus is m small ints
    per vector — the ~100x compression that lets a 10^9-vector index fit
    a fraction of the raw storage."""
    subs = _spread(emb, id_col).select(
        F.col(id_col).alias("vec_id"),
        F.explode(_sub_slices(F.col(vec_col), m, sub_dim)).alias("s"),
    ).select("vec_id", "s.j", F.col("s.sub").alias("sub"))
    d2 = subs.join(F.broadcast(codebook), "j").select(
        "vec_id", "j", "code",
        F.round(_sq_l2(F.col("sub"), F.col("csub")), 6).alias("d2"),
    )
    w = Window.partitionBy("vec_id", "j").orderBy(F.col("d2").asc(),
                                                  F.col("code").asc())
    return (
        d2.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("vec_id", "j", "code")
    )


def pq_adc_topk(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
                *, m: int = 4, sub_dim: int = 16, k: int = 3,
                vec_col: str = "q_emb", id_col: str = "q_id",
                base_cells: DataFrame | None = None,
                query_cells: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query precomputes its
    distance TABLE (query subvector -> every centroid, m x n_codes rounded
    entries), then every encoded base vector's approximate distance is the
    SUM of m table lookups — no base vector is ever decoded.

    Scale shape: the distance tables are queries x m x n_codes rows
    (broadcastable for any realistic query batch); the join against the
    encoded corpus is on (j, code) — tiny key space, perfectly balanced —
    followed by a partial+final sum and a per-query top-k window. The
    raw-vector scan happens ONCE (at encode time), which is the entire
    point of PQ at 10^9+ vectors.

    Pass ``base_cells``/``query_cells`` ((vec_id, cell) / (q_id, cell))
    to restrict candidates to the query's IVF cell — the IVF-PQ
    composite: the coarse quantizer prunes ~#cells-fold, the fine
    quantizer scans the survivors as codes."""
    qsubs = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(_sub_slices(F.col(vec_col), m, sub_dim)).alias("s"),
    ).select("q_id", "s.j", F.col("s.sub").alias("qsub"))
    qtable = qsubs.join(F.broadcast(codebook), "j").select(
        "q_id", "j", "code",
        F.round(_sq_l2(F.col("qsub"), F.col("csub")), 6).alias("qd2"),
    )
    if (base_cells is None) != (query_cells is None):
        raise ValueError(
            "cell pruning needs BOTH base_cells and query_cells — one side "
            "alone can't define the cell restriction"
        )
    base = codes
    if base_cells is not None:
        base = base.join(base_cells.select("vec_id", "cell"), "vec_id")
        qtable = qtable.join(
            F.broadcast(
                query_cells.select("q_id", F.col("cell").alias("_qcell"))
            ),
            "q_id",
        )
    pairs = base.join(F.broadcast(qtable), ["j", "code"])
    if base_cells is not None:
        pairs = pairs.where(F.col("cell") == F.col("_qcell"))
    adc = (
        pairs.where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("qd2"), 6).alias("adist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(),
                                           F.col("neighbor_id").asc())
    return (
        adc.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "adist", "rnk")
    )


def l2_topk(emb: DataFrame, queries: DataFrame, k: int = 3, *,
            id_col: str = "vec_id", vec_col: str = "embedding",
            q_id: str = "q_id", q_vec: str = "q_emb") -> DataFrame:
    """Exact squared-L2 top-k (the metric PQ approximates — the right
    baseline for PQ recall, where cosine_topk is the baseline for the
    cosine-pruned paths). Same broadcast-queries shape as cosine_topk."""
    base = _spread(emb, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("_b"),
    )
    qs = F.broadcast(
        queries.select(F.col(q_id), _as_double(F.col(q_vec)).alias("_q"))
    )
    d = (
        base.join(qs)
        .where(F.col("neighbor_id") != F.col(q_id))
        .select(
            q_id, "neighbor_id",
            F.round(_sq_l2(F.col("_q"), F.col("_b")), 6).alias("d2"),
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.col("d2").asc(),
                                         F.col("neighbor_id").asc())
    return (
        d.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select(q_id, "neighbor_id", "d2", "rnk")
    )


def pq_recall(emb: DataFrame, queries: DataFrame, *, k: int = 3, m: int = 4,
              sub_dim: int = 16, n_codes: int = 8) -> DataFrame:
    """Recall@k of PQ/ADC ranking against the exact squared-L2 ranking —
    the codebook-quality measurement that gates any PQ rollout (too few
    codes per subspace => recall collapses; this query IS that dial).

    Both rankings use round-6 + neighbor-id tie-breaks, so recall is
    deterministic. One exact broadcast pass + one codes-only ADC pass +
    a tiny top-k join; the corpus is never shuffled."""
    cb = pq_codebook(emb, m=m, sub_dim=sub_dim, n_codes=n_codes)
    codes = pq_codes(emb, cb, m=m, sub_dim=sub_dim)
    approx = pq_adc_topk(codes, cb, queries, m=m, sub_dim=sub_dim, k=k)
    exact = l2_topk(emb, queries, k=k)
    hits = (
        exact.join(approx, ["q_id", "neighbor_id"], "leftsemi")
        .groupBy("q_id")
        .agg(F.count("*").alias("_hits"))
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            (F.coalesce(F.col("_hits"), F.lit(0)).cast("double") / k).alias("recall"),
        )
    )


def pq_rerank_topk(emb: DataFrame, queries: DataFrame, *, m: int = 4,
                   sub_dim: int = 16, n_codes: int = 8, shortlist: int = 10,
                   k: int = 3, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Two-stage retrieval — ADC shortlist, exact re-rank — the canonical
    production ANN serving pattern: PQ codes rank the WHOLE corpus cheaply
    (pq_adc_topk, ~100x-compressed scan), the top ``shortlist`` candidates
    per query are then re-scored with EXACT squared L2 against their raw
    vectors, and the final top ``k`` comes from the exact scores. Re-rank
    recovers most of the recall PQ loses to quantization while touching
    raw floats for only queries x shortlist rows.

    Scale shape: stage 1 never decodes a vector; stage 2's candidate set
    (queries x shortlist ids) is broadcast against the corpus, so raw
    vectors are fetched by a broadcast semi-join — one narrow corpus scan,
    no shuffle of the embedding column. Exact distances round to 6 with
    neighbor-id tie-break, the library's determinism discipline.

    Ref parity note: the reference delegates all ranking SQL to H2
    (sink/db.clj:101-113); this operator is part of the LLM-data-pipeline
    surface, not HPI parity."""
    cb = pq_codebook(emb, m=m, sub_dim=sub_dim, n_codes=n_codes,
                     vec_col=vec_col, id_col=id_col)
    codes = pq_codes(emb, cb, m=m, sub_dim=sub_dim,
                     vec_col=vec_col, id_col=id_col)
    cand = pq_adc_topk(codes, cb, queries, m=m, sub_dim=sub_dim, k=shortlist)
    base = emb.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("_b"),
    )
    qs = queries.select("q_id", _as_double(F.col("q_emb")).alias("_q"))
    exact = (
        base.join(F.broadcast(cand.select("q_id", "neighbor_id")),
                  "neighbor_id")
        .join(F.broadcast(qs), "q_id")
        .select(
            "q_id", "neighbor_id",
            F.round(_sq_l2(F.col("_q"), F.col("_b")), 6).alias("d2"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d2").asc(),
                                           F.col("neighbor_id").asc())
    return (
        exact.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "d2", "rnk")
    )


def rbo_overlap(rank_a: DataFrame, rank_b: DataFrame, *, k: int = 5,
                p: float = 0.9) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between two
    top-k rankings per query — the ranker-agreement metric that, unlike
    Kendall/Spearman, handles TOP-WEIGHTED, INDEFINITE, non-conjoint lists
    (each ranker may surface documents the other never saw). Truncated
    (depth-k, unextrapolated) form:

        RBO@k = (1 - p) * Σ_{d=1..k} p^(d-1) * |A_d ∩ B_d| / d

    A document appearing at rank ra in A and rb in B is a member of both
    prefixes from depth m = max(ra, rb) on, so its total contribution is
    Σ_{d=m..k} p^(d-1)/d — evaluated per matched pair with one
    ``aggregate(sequence(m, k))`` higher-order function (JVM-side, no
    depth explode). Complements the relevance-based metrics
    (retrieval_ndcg/mrr): RBO needs no labels — it audits ranker DRIFT,
    e.g. cheap-ANN vs exact or old-index vs rebuilt, before a corpus swap.

    Inputs are (q_id, neighbor_id, rnk) top-k frames. Output: one row per
    query in either frame — n_overlap (|A_k ∩ B_k|) and rbo, rounded 6.

    Scale shape: both inputs are queries × k frames (retrieval-sized, not
    corpus-sized), the match is one equi join on (q_id, neighbor_id), and
    the per-match weight is a ≤ k-term fold — the metric costs less than
    either ranker at any corpus size."""
    a = rank_a.select("q_id", "neighbor_id", F.col("rnk").alias("_ra"))
    b = rank_b.select("q_id", "neighbor_id", F.col("rnk").alias("_rb"))
    m = a.join(b, ["q_id", "neighbor_id"]).select(
        "q_id",
        F.greatest("_ra", "_rb").alias("_m"),
    )
    contrib = F.aggregate(
        F.sequence(F.col("_m"), F.lit(k)),
        F.lit(0.0),
        lambda acc, d: acc
        + F.pow(F.lit(p), d.cast("double") - 1) / d.cast("double"),
    )
    per_q = (
        m.select("q_id", contrib.alias("_c"))
        .groupBy("q_id")
        .agg(
            F.count("*").alias("n_overlap"),
            F.round(F.lit(1.0 - p) * F.sum("_c"), 6).alias("rbo"),
        )
    )
    qs = (
        rank_a.select("q_id")
        .unionByName(rank_b.select("q_id"))
        .distinct()
    )
    return qs.join(per_q, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint")
        .alias("n_overlap"),
        F.coalesce(F.col("rbo"), F.lit(0.0)).alias("rbo"),
    )
