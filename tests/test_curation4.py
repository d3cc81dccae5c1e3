"""Unit tests for the round-4 curation operators: cross-document
duplicated-span fraction, DSIR importance weights, classifier inference,
two-stage PQ re-rank, and the cross-source overlap rollup."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from hbase_packet_inspector_spark.operators import dedup as D
from hbase_packet_inspector_spark.operators import learn as L
from hbase_packet_inspector_spark.operators import similarity as S
from hbase_packet_inspector_spark.operators import text as X


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_duplicate_gram_fraction_cross_doc_only(spark):
    docs = _docs(spark, [
        (0, "a b c d e", "en", "s", 9),        # grams: abc bcd cde
        (1, "x a b c y", "en", "s", 9),        # grams: xab abc bcy
        (2, "u v w", "en", "s", 5),            # one unique gram
        (3, "p q r p q r p q", "en", "s", 15), # within-doc repeats only
        (4, "too short", "en", "s", 9),        # < 3 words -> excluded
    ])
    out = {r.doc_id: r for r in X.duplicate_gram_fraction(docs, n=3).collect()}
    assert set(out) == {0, 1, 2, 3}
    # docs 0 and 1 share exactly the "a b c" trigram
    assert out[0].n_grams == 3 and out[0].dup_grams == 1
    assert out[0].dup_gram_frac == round(1 / 3, 6)
    assert out[1].dup_grams == 1 and out[1].max_gram_df == 2
    assert out[2].dup_grams == 0 and out[2].dup_gram_frac == 0.0
    # WITHIN-doc repetition has doc-frequency 1: not a duplicated span
    assert out[3].dup_grams == 0 and out[3].max_gram_df == 1


def test_duplicate_gram_fraction_full_copy(spark):
    docs = _docs(spark, [
        (0, "one two three four five", "en", "s", 23),
        (1, "one two three four five", "en", "s", 23),
    ])
    out = {r.doc_id: r for r in X.duplicate_gram_fraction(docs, n=3).collect()}
    assert out[0].dup_gram_frac == 1.0 and out[1].dup_gram_frac == 1.0


def _bucket(w: str, buckets: int = 64) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % buckets


def test_dsir_logweights_match_hand_rolled(spark):
    rows = [
        (0, "good good text", "en", "s", 14),
        (1, "bad bad junk", "fr", "s", 12),
    ]
    docs = _docs(spark, rows)
    out = {r.doc_id: r for r in
           X.dsir_logweights(docs, F.col("lang") == "en", buckets=64).collect()}
    # replicate: target = doc 0's tokens, raw = all tokens
    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    for doc_id, text, lang, _, _n in rows:
        for w in text.split(" "):
            b = _bucket(w)
            raw[b] = raw.get(b, 0) + 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
    nr, nt = sum(raw.values()), sum(tgt.values())
    for doc_id, text, _lang, _, _n in rows:
        per_bucket: dict[int, int] = {}
        for w in text.split(" "):
            b = _bucket(w)
            per_bucket[b] = per_bucket.get(b, 0) + 1
        exp = sum(
            k * (math.log((tgt.get(b, 0) + 1) * (nr + 64))
                 - math.log((raw[b] + 1) * (nt + 64)))
            for b, k in per_bucket.items()
        )
        assert out[doc_id].dsir_logweight == round(exp, 6)
        assert out[doc_id].n_tokens == len(text.split(" "))
    # the target-like doc must score higher than the off-target doc
    assert out[0].dsir_logweight > out[1].dsir_logweight


def test_logreg_predict_scores_and_ranking(spark):
    feats = spark.createDataFrame(
        [(i, float(i), 1 if i >= 5 else 0) for i in range(10)],
        "doc_id long, x double, y int",
    )
    weights, _ = L.logreg_fit(feats, ["x"], "y", rounds=3)
    scored = {r.doc_id: r.score for r in
              L.logreg_predict(feats, weights, ["x"]).collect()}
    assert all(0.0 <= s <= 1.0 for s in scored.values())
    # a positive-slope fit must score monotonically in the feature
    assert weights[1] > 0
    ordered = [scored[i] for i in range(10)]
    assert ordered == sorted(ordered)


def _emb_rows(n=40, dim=64, seed=7):
    import random

    rng = random.Random(seed)
    return [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)], i % 3)
        for i in range(n)
    ]


def test_pq_rerank_exact_distances_and_subset(spark):
    emb = spark.createDataFrame(
        _emb_rows(), "vec_id long, embedding array<double>, label int"
    )
    qs = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    rer = S.pq_rerank_topk(emb, qs, m=4, sub_dim=16, n_codes=8,
                           shortlist=10, k=3)
    exact = S.l2_topk(emb, qs, k=39)  # full exact ranking for reference
    ex = {(r.q_id, r.neighbor_id): r.d2 for r in exact.collect()}
    got = rer.collect()
    assert {r.q_id for r in got} == {0, 10, 20, 30}
    for r in got:
        # re-ranked distances are the EXACT squared-L2 values
        assert ex[(r.q_id, r.neighbor_id)] == r.d2
        assert r.rnk <= 3
    # shortlist containment: every reranked hit came from the ADC top-10
    cb = S.pq_codebook(emb, m=4, sub_dim=16, n_codes=8)
    codes = S.pq_codes(emb, cb, m=4, sub_dim=16)
    short = {(r.q_id, r.neighbor_id) for r in
             S.pq_adc_topk(codes, cb, qs, m=4, sub_dim=16, k=10).collect()}
    assert all((r.q_id, r.neighbor_id) in short for r in got)


def test_source_overlap_rollup_orders_sources(spark):
    docs = _docs(spark, [
        (0, "alpha beta gamma delta epsilon zeta", "en", "feedB", 35),
        (1, "alpha beta gamma delta epsilon zeta", "en", "feedA", 35),
        (2, "alpha beta gamma delta epsilon zeta", "en", "feedA", 35),
        (3, "totally unrelated words live here now", "en", "feedC", 37),
    ])
    pairs = D.minhash_lsh_dedup(docs, min_est=0.5, min_jaccard=0.9)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(src.selectExpr("doc_id AS d1", "source AS sa"), "d1")
        .join(src.selectExpr("doc_id AS d2", "source AS sb"), "d2")
        .groupBy(F.least("sa", "sb").alias("s1"),
                 F.greatest("sa", "sb").alias("s2"))
        .agg(F.count("*").alias("n_pairs"))
    )
    out = {(r.s1, r.s2): r.n_pairs for r in lab.collect()}
    # (0,1) and (0,2) cross feedA/feedB; (1,2) is within feedA — labels
    # always ordered least-first so the matrix has one row per unordered pair
    assert out[("feedA", "feedB")] == 2
    assert out[("feedA", "feedA")] == 1
    assert ("feedB", "feedA") not in out
    assert all(s1 <= s2 for (s1, s2) in out)


def test_remove_duplicate_spans_cuts_cross_doc_only(spark):
    docs = _docs(spark, [
        (0, "a b c d e", "en", "s", 9),
        (1, "x a b c y", "en", "s", 9),         # shares "a b c" with doc 0
        (2, "p q r p q r p q", "en", "s", 15),  # within-doc repeats only
        (3, "one two", "en", "s", 7),           # < 3 words: untouched
    ])
    out = {r.doc_id: r for r in X.remove_duplicate_spans(docs, n=3).collect()}
    assert set(out) == {0, 1, 2, 3}
    # "a b c" (positions 1-3 in doc 0, 2-4 in doc 1) is cut; the rest stays
    assert out[0].clean_text == "d e" and out[0].n_removed == 3
    assert out[1].clean_text == "x y" and out[1].n_removed == 3
    # within-doc repetition is NOT cross-document duplication
    assert out[2].n_removed == 0 and out[2].clean_text == "p q r p q r p q"
    assert out[3].n_removed == 0 and out[3].clean_text == "one two"


def test_remove_duplicate_spans_full_copy_empties(spark):
    docs = _docs(spark, [
        (0, "one two three four", "en", "s", 18),
        (1, "one two three four", "en", "s", 18),
    ])
    out = {r.doc_id: r for r in X.remove_duplicate_spans(docs, n=3).collect()}
    assert out[0].clean_text == "" and out[0].n_removed == 4
    assert out[1].clean_text == "" and out[1].n_removed == 4


def test_bpe_merge_table_hand_checked(spark):
    # freq-weighted: "ab" x3 + "abc" x1 => pair (a,b) count 4 wins round 1;
    # round 2 then merges ('ab','c') from "abc" (count 1, lexicographic
    # tie-break against other count-1 pairs)
    docs = _docs(spark, [
        (0, "ab ab ab abc", "en", "s", 12),
    ])
    out = X.bpe_merge_table(docs, rounds=2).collect()
    assert [(r.round, r.lhs, r.rhs, r.merged, r.cnt) for r in out] == [
        (1, "a", "b", "ab", 4),
        (2, "ab", "c", "abc", 1),
    ]


def test_bpe_merge_greedy_overlap(spark):
    # "aaa": pairs (a,a) x2 -> merge round 1 = ('a','a') cnt 2; greedy
    # left-to-right resegmentation gives [aa, a], so round 2 sees (aa, a)
    docs = _docs(spark, [(0, "aaa", "en", "s", 3)])
    out = X.bpe_merge_table(docs, rounds=2).collect()
    assert (out[0].lhs, out[0].rhs, out[0].cnt) == ("a", "a", 2)
    assert (out[1].lhs, out[1].rhs, out[1].cnt) == ("aa", "a", 1)


def test_bpe_token_counts_hand_checked(spark):
    # vocab: "ab" x3, "abc" x1 -> merges: (a,b) then (ab,c); under them
    # "ab" segments to [ab] (1 token) and "abc" to [abc] (1 token)
    docs = _docs(spark, [
        (0, "ab ab ab abc", "en", "s", 12),
        (1, "ab abc", "en", "s", 6),
    ])
    out = {r.doc_id: r for r in X.bpe_token_counts(docs, rounds=2).collect()}
    assert out[0].n_words == 4 and out[0].n_bpe_tokens == 4
    assert out[1].n_words == 2 and out[1].n_bpe_tokens == 2
    # with zero merges every char is a token
    out0 = {r.doc_id: r for r in X.bpe_token_counts(docs, rounds=0).collect()}
    assert out0[0].n_bpe_tokens == 2 * 3 + 3
    assert out0[1].n_bpe_tokens == 2 + 3


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_bpe_merge_table_unpersists_everything(spark):
    # the r4-verdict persist-leak class: bpe_merge_table must leave
    # executor storage at baseline (vocab + per-round folds all released,
    # final fold skipped entirely)
    docs = _docs(spark, [(0, "ab ab ab abc", "en", "s", 12)])
    base = _n_persisted(spark)
    X.bpe_merge_table(docs, rounds=3).collect()
    assert _n_persisted(spark) == base


def test_bpe_token_counts_single_persisted_frame(spark):
    # documented contract: exactly ONE frame (the final segmentation the
    # returned plan joins) stays persisted; caller-owned lifetime
    docs = _docs(spark, [(0, "ab ab ab abc", "en", "s", 12)])
    base = _n_persisted(spark)
    X.bpe_token_counts(docs, rounds=2).collect()
    assert _n_persisted(spark) == base + 1
    spark.catalog.clearCache()
    assert _n_persisted(spark) <= base


def test_bpe_more_rounds_than_merges(spark):
    # single-char words: no adjacent pairs ever -> zero merges; the loop
    # breaks and token counts still come back for every doc (the oracle
    # mirrors this with LEFT JOIN merge CTEs)
    docs = _docs(spark, [(0, "a b a", "en", "s", 5)])
    assert X.bpe_merge_table(docs, rounds=3).count() == 0
    out = X.bpe_token_counts(docs, rounds=3).collect()
    assert len(out) == 1 and out[0].n_words == 3 and out[0].n_bpe_tokens == 3


def test_lsh_candidates_broadcast_hint_job_free(spark):
    """Every form — the default shuffle join, broadcast=False and
    broadcast=True — builds the candidate plan WITHOUT running any Spark
    job (pricing belongs to the pipeline entry, never to this building
    block), and all three produce the same pairs."""
    docs = _docs(spark, [
        (0, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 40),
        (1, "alpha beta gamma delta epsilon zeta eta theta x", "en", "s", 40),
        (2, "totally different words live over here now ok", "en", "s", 40),
    ])
    sets = D.shingle_sets(docs, D.DEFAULT_SHINGLE)
    sigs = D.minhash_signatures_wide(sets, D.DEFAULT_HASHES)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    plan_default = D.lsh_candidates_wide(sigs)
    plan_off = D.lsh_candidates_wide(sigs, broadcast=False)
    plan_on = D.lsh_candidates_wide(sigs, broadcast=True)
    assert set(tracker.getJobIdsForGroup()) == before  # zero jobs run
    # the hint actually lands: only the forced-broadcast plan broadcasts
    # the band-keyed side
    assert "broadcast" in plan_on._jdf.queryExecution().optimizedPlan() \
        .toString().lower()
    assert "broadcast" not in plan_default._jdf.queryExecution() \
        .optimizedPlan().toString().lower()

    auto = {(r.d1, r.d2) for r in plan_default.collect()}
    assert {(r.d1, r.d2) for r in plan_off.collect()} == auto
    assert {(r.d1, r.d2) for r in plan_on.collect()} == auto
    assert (0, 1) in auto and (0, 2) not in auto


def test_verify_candidates_precomputed_stats_job_free(spark):
    """verify_candidates never runs a job: with stats=(n_rows, sum_n)
    (minhash_lsh_dedup prices both broadcasts from ONE aggregate and
    hands the scalars down) it builds the broadcast plan, without stats
    the shuffle plan — and both emit the identical verified pairs."""
    docs = _docs(spark, [
        (0, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 40),
        (1, "alpha beta gamma delta epsilon zeta eta theta x", "en", "s", 40),
        (2, "totally different words live over here now ok", "en", "s", 40),
    ])
    sets = D.shingle_sets(docs, D.DEFAULT_SHINGLE).select("doc_id", "sset", "n")
    cands = D.lsh_candidates_wide(
        D.minhash_signatures_wide(D.shingle_sets(docs, D.DEFAULT_SHINGLE),
                                  D.DEFAULT_HASHES),
        broadcast=True,
    )
    st = sets.agg(F.count("*"), F.sum("n")).collect()[0]

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    plan = D.verify_candidates(cands, sets, 0.35,
                               stats=(int(st[0]), int(st[1])))
    plan_shuffle = D.verify_candidates(cands, sets, 0.35)
    assert set(tracker.getJobIdsForGroup()) == before  # zero jobs run
    got = {(r.d1, r.d2, round(r.jaccard, 6)) for r in plan.collect()}
    want = {(r.d1, r.d2, round(r.jaccard, 6))
            for r in plan_shuffle.collect()}
    assert got == want and any(p[:2] == (0, 1) for p in got)


def _sql_executions(spark, build):
    """Number of SQL executions (one per action, however many AQE stage
    jobs it spans) that ``build()`` submits."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    before = store.executionsCount()
    build()
    bus.waitUntilEmpty()
    return store.executionsCount() - before


def test_lsh_pipelines_price_with_one_job(spark):
    """minhash_lsh_dedup and incremental_lsh_pairs each spend exactly ONE
    action at construction — the (count, sum(n)) aggregate that prices
    their broadcasts and materializes the signature persist."""
    docs = _docs(spark, [
        (0, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 40),
        (1, "alpha beta gamma delta epsilon zeta eta theta x", "en", "s", 40),
        (2, "totally different words live over here now ok", "en", "s", 40),
    ])
    assert _sql_executions(spark, lambda: D.minhash_lsh_dedup(docs)) == 1
    batch, corpus = docs.where("doc_id = 1"), docs.where("doc_id != 1")
    assert _sql_executions(
        spark, lambda: D.incremental_lsh_pairs(batch, corpus)) == 1
    spark.catalog.clearCache()
