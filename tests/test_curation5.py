"""Unit tests for the round-5 curation operators: incremental ingest-gate
near-dup probing and the LSH bucket-size pre-flight profile."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hbase_packet_inspector_spark.operators import dedup as D


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = "the quick brown fox jumps over the lazy dog near the river bank"
_NEAR = "the quick brown fox jumps over the lazy dog near the river bend"
_OTHER = "entirely different content about spark partitions and shuffles"
_THIRD = "nothing shares any four gram with anything else in this corpus!!"


def test_incremental_finds_batch_vs_corpus_pair(spark):
    batch = _docs(spark, [(10, _NEAR), (11, _THIRD)])
    corpus = _docs(spark, [(0, _BASE), (1, _OTHER)])
    out = D.incremental_lsh_pairs(
        batch, corpus, min_est=0.3, min_jaccard=0.3
    ).collect()
    assert [(r.d_new, r.d_old) for r in out] == [(10, 0)]
    # jaccard is the exact set ratio, not the minhash estimate
    assert 0.5 < out[0].jaccard < 1.0


def test_incremental_never_pairs_within_a_side(spark):
    """Two identical docs in the SAME side must not be reported — the
    operator's contract is batch-vs-corpus only (within-corpus dedup
    already ran; within-batch dedup is a separate self-join pass)."""
    batch = _docs(spark, [(10, _BASE), (11, _BASE)])
    corpus = _docs(spark, [(0, _OTHER), (1, _OTHER)])
    out = D.incremental_lsh_pairs(
        batch, corpus, min_est=0.3, min_jaccard=0.3
    ).collect()
    assert out == []


def test_incremental_matches_self_join_restricted_to_straddling_pairs(spark):
    """On any corpus, the incremental probe over a (batch, rest) partition
    must return EXACTLY the full self-join's verified pairs that straddle
    the partition — the invariant that makes per-batch gating equivalent
    to re-running global dedup after every append."""
    rows = [
        (0, _BASE), (1, _NEAR), (2, _OTHER), (3, _THIRD),
        (4, _BASE + " again"), (5, _OTHER + " too"),
    ]
    docs = _docs(spark, rows)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    incr = {
        (r.d_new, r.d_old, r.jaccard)
        for r in D.incremental_lsh_pairs(
            batch, corpus, min_est=0.3, min_jaccard=0.3
        ).collect()
    }
    full = D.minhash_lsh_dedup(docs, min_est=0.3, min_jaccard=0.3).collect()
    straddling = {
        (r.d1, r.d2, r.jaccard) if r.d1 % 3 == 0 else (r.d2, r.d1, r.jaccard)
        for r in full
        if (r.d1 % 3 == 0) != (r.d2 % 3 == 0)
    }
    assert incr == straddling and len(incr) > 0


def test_bucket_profile_counts_identical_docs(spark):
    """3 identical docs + 2 unrelated docs, 4 bands: the identical docs
    share all four band buckets, so the histogram must price exactly
    4 buckets of size 3 at 3 candidate pairs each."""
    docs = _docs(spark, [
        (0, _BASE), (1, _BASE), (2, _BASE), (3, _OTHER), (4, _THIRD),
    ])
    out = {r.bucket_size: r for r in D.lsh_bucket_profile(docs).collect()}
    assert out[3].n_buckets == 4
    assert out[3].cand_pairs == 4 * 3
    # every (doc, band) row lands in exactly one bucket
    total_rows = sum(sz * r.n_buckets for sz, r in out.items())
    assert total_rows == 5 * 4


def test_bucket_profile_all_unique_is_all_singletons(spark):
    docs = _docs(spark, [(0, _BASE), (1, _OTHER), (2, _THIRD)])
    out = D.lsh_bucket_profile(docs).collect()
    assert len(out) == 1
    assert out[0].bucket_size == 1
    assert out[0].n_buckets == 3 * 4 and out[0].cand_pairs == 0


def test_lsh_index_roundtrip_probe_matches_incremental(spark, tmp_path):
    """save_lsh_index -> load -> probe: identical rows to the on-the-fly
    incremental probe, and the probe's band join plans with NO corpus-side
    Exchange (the bucketed index IS the corpus's hash layout; only the
    broadcast batch moves)."""
    corpus = _docs(spark, [(0, _BASE), (1, _OTHER), (2, _BASE + " again")])
    batch = _docs(spark, [(10, _NEAR), (11, _THIRD)])
    D.save_lsh_index(corpus, str(tmp_path / "idx"), table="t_lsh", buckets=4)
    bands, sets = D.load_lsh_index(spark, "t_lsh")
    assert bands.count() == 3 * 4 and sets.count() == 3

    got = D.probe_lsh_index(bands, sets, batch, min_est=0.3, min_jaccard=0.3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    rows = {(r.d_new, r.d_old, r.jaccard) for r in got.collect()}
    want = {
        (r.d_new, r.d_old, r.jaccard)
        for r in D.incremental_lsh_pairs(
            batch, corpus, min_est=0.3, min_jaccard=0.3
        ).collect()
    }
    assert rows == want and len(rows) > 0
    assert "Bucketed: true" in plan, plan
    # the batch side broadcasts, so NOTHING hash-partitions on the band
    # key — a bkey Exchange would mean the persisted layout is being
    # reshuffled and the index write was wasted
    assert "Exchange hashpartitioning(bkey" not in plan, plan


def test_streaming_ingest_gate_foreachbatch(spark, tmp_path):
    """The streaming ingest gate: micro-batches of arriving docs probed
    against the persisted corpus index under foreachBatch — flagged rows
    across all batches equal the one-shot incremental probe over the same
    arrivals. This is the deployment shape: build the index once, gate
    the firehose forever."""
    corpus = _docs(spark, [(0, _BASE), (1, _OTHER)])
    D.save_lsh_index(corpus, str(tmp_path / "idx2"), table="t_lsh2", buckets=4)
    bands, sets = D.load_lsh_index(spark, "t_lsh2")

    arrivals = _docs(spark, [(10, _NEAR), (11, _THIRD), (12, _OTHER + " !!")])
    src = str(tmp_path / "arrivals")
    # one file per row + maxFilesPerTrigger=1 forces one micro-batch per
    # doc — the gate must behave identically however arrivals are batched
    arrivals.repartition(3, "doc_id").write.parquet(src)

    flagged: list = []
    q = (
        spark.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.foreachBatch(
            lambda b, _i: flagged.extend(
                D.probe_lsh_index(
                    bands, sets, b, min_est=0.3, min_jaccard=0.3
                ).collect()
            )
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()

    got = {(r.d_new, r.d_old, r.jaccard) for r in flagged}
    want = {
        (r.d_new, r.d_old, r.jaccard)
        for r in D.incremental_lsh_pairs(
            arrivals, corpus, min_est=0.3, min_jaccard=0.3
        ).collect()
    }
    assert got == want and len(got) > 0


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_label_centroid_sim_hand_rolled(spark):
    from hbase_packet_inspector_spark.operators import similarity as S

    emb = _emb(spark, [
        (0, [0.0, 0.0], 0), (1, [2.0, 0.0], 0), (2, [7.0, 0.0], 0),
        (3, [0.0, 2.0], 1),
        (4, [3.0, 4.0], 2),
    ])
    # centroids: l0=[3,0], l1=[0,2], l2=[3,4]
    out = {(r.l1, r.l2): r.cos for r in S.label_centroid_sim(emb).collect()}
    assert out == {
        (0, 1): 0.0,
        (0, 2): round(9 / (3 * 5), 6),
        (1, 2): round(8 / (2 * 5), 6),
    }


def test_knn_graph_symmetry_ranks_and_ties(spark):
    """Hand-rolled 4-node graph: with all tail components zero the SRP
    bands beyond the first are all-zero keys, so every node collides
    (bucket recall 1 for this fixture) and the output is the exact k-NN
    graph — symmetrized pairs, cos to 6 decimals, and the house rank
    order (cos desc, neighbor asc: the id is PART of the ordering, so
    equal cosines get distinct ranks deterministically)."""
    from hbase_packet_inspector_spark.operators import similarity as S

    pad = [0.0] * 12  # element_at is ANSI-strict: vectors must cover bits
    emb = _emb(spark, [
        (0, [1.0, 0.0, 0.0, 0.0] + pad, 0),
        (1, [1.0, 1.0, 0.0, 0.0] + pad, 0),
        (2, [0.0, 1.0, 0.0, 0.0] + pad, 0),
        (3, [-1.0, 0.0, 0.0, 0.0] + pad, 0),
    ])
    got = {(r.src, r.neighbor_id): (r.cos, r.rnk)
           for r in S.knn_graph(emb, k=2).collect()}
    c = round(1 / math.sqrt(2), 6)
    assert got == {
        (0, 1): (c, 1), (0, 2): (0.0, 2),
        (1, 0): (c, 1), (1, 2): (c, 2),   # cos tie -> lower id ranks first
        (2, 1): (c, 1), (2, 0): (0.0, 2),  # (2,3) also cos 0 -> rnk 3, cut
        (3, 2): (0.0, 1), (3, 1): (-c, 2),
    }


def test_knn_outliers_bottom_n_order(spark):
    """Same 4-node fixture: node 3 points away from everyone (lowest mean
    neighbor cosine), then the src-id tie between nodes 0 and 2 breaks
    ascending — and node 1 (two strong neighbors) never makes bottom-2."""
    from hbase_packet_inspector_spark.operators import similarity as S

    pad = [0.0] * 12
    emb = _emb(spark, [
        (0, [1.0, 0.0, 0.0, 0.0] + pad, 0),
        (1, [1.0, 1.0, 0.0, 0.0] + pad, 0),
        (2, [0.0, 1.0, 0.0, 0.0] + pad, 0),
        (3, [-1.0, 0.0, 0.0, 0.0] + pad, 0),
    ])
    out = S.knn_outliers(emb, k=2, n=2).collect()
    assert [(r.vec_id, r.n_neighbors) for r in out] == [(3, 2), (0, 2)]
    assert out[0].mean_knn_cos < out[1].mean_knn_cos


def test_gate_cutoffs_monotone_and_keep_counts(spark):
    """4 docs with strictly increasing surprise: interpolated cutoffs are
    nondecreasing in keep-rate and keeping score <= cutoff keeps exactly
    floor(1 + (n-1)p) docs — 2 at p=.5, 3 at p=.75 and p=.9."""
    from hbase_packet_inspector_spark.operators import text as X

    docs = spark.createDataFrame(
        [(0, "the the the the"),       # most-common words -> lowest nll
         (1, "the the alpha beta"),
         (2, "alpha beta gamma delta"),
         (3, "unique words only here")],
        "doc_id long, text string",
    )
    ms = sorted(r.mean_surprise
                for r in X.unigram_surprise(docs).collect())
    assert ms == sorted(set(ms))  # strictly increasing fixture
    out = {r.keep_rate: r for r in X.gate_cutoffs(docs).collect()}
    assert all(r.n_docs == 4 for r in out.values())
    cuts = [out[p].surprise_cutoff for p in (0.5, 0.75, 0.9)]
    assert cuts == sorted(cuts)
    kept = {p: sum(1 for s in ms if s <= out[p].surprise_cutoff)
            for p in (0.5, 0.75, 0.9)}
    assert kept == {0.5: 2, 0.75: 3, 0.9: 3}


def test_gate_cutoffs_binned_brackets_exact(spark):
    """The histogram path must land within one bin width of the exact
    interpolated cutoff, report achieved_keep_frac >= keep_rate, and
    actually keep that fraction when applied."""
    from hbase_packet_inspector_spark.operators import text as X

    words = ["w%d" % i for i in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[j % 40] for j in range(i, i + 6)) +
          (" common common" if i % 3 == 0 else ""))
         for i in range(30)],
        "doc_id long, text string",
    )
    ms = sorted(r.mean_surprise
                for r in X.unigram_surprise(docs).collect())
    span = ms[-1] - ms[0]
    out = {r.keep_rate: r for r in X.gate_cutoffs_binned(docs).collect()}
    assert set(out) == {0.5, 0.75, 0.9}
    for p, r in out.items():
        # the guarantee: applying the cutoff keeps >= the target rate,
        # and the reported achieved rate is the exact applied rate
        assert r.achieved_keep_frac >= p
        kept = sum(1 for s in ms if s <= r.surprise_cutoff) / len(ms)
        assert abs(kept - r.achieved_keep_frac) < 1e-6
        # tightness: the bin edge sits at most one bin width above the
        # last score it keeps (no over-keeping beyond quantization)
        last_kept = max(s for s in ms if s <= r.surprise_cutoff)
        assert r.surprise_cutoff - last_kept <= span / 256 + 1e-4


def test_sq8_quantize_codes_and_reconstruction(spark):
    """Hand-checked affine codes: per-dim range [0,10] maps 0->0, 10->255,
    5->128 (255*0.5 = 127.5 rounds HALF_UP); reconstruction is the exact
    affine inverse of the code."""
    from hbase_packet_inspector_spark.operators import similarity as S

    emb = _emb(spark, [
        (0, [0.0, 10.0], 0), (1, [10.0, 0.0], 0), (2, [5.0, 5.0], 0),
    ])
    out = {r.vec_id: r for r in S.sq8_quantize(emb).collect()}
    assert out[0].codes == [0, 255] and out[1].codes == [255, 0]
    assert out[2].codes == [128, 128]
    got = round(out[2].embedding[0], 6)
    assert got == round(128 * 10 / 255, 6)
    # endpoints reconstruct exactly
    assert out[0].embedding == [0.0, 10.0]


def test_knn_label_prop_chain_two_rounds(spark):
    """k=1 chain topology (each node's sole neighbor is the next one
    toward the seed): the seed's label walks one hop per round, so node 1
    resolves in round 1, node 2 in round 2, and node 3 — three hops out —
    stays absent at rounds=2."""
    from hbase_packet_inspector_spark.operators import similarity as S

    pad = [0.0] * 12

    def v(deg):
        return [math.cos(math.radians(deg)),
                math.sin(math.radians(deg)), 0.0, 0.0] + pad

    emb = _emb(spark, [
        (0, v(0), 7),    # seed (0 % 5 == 0), label 7
        (1, v(10), 99),  # non-seed labels must be ignored
        (2, v(25), 99),
        (3, v(45), 99),
    ])
    out = {r.vec_id: (r.label, r.assigned_round)
           for r in S.knn_label_prop(emb, seed_mod=5, rounds=2, k=1).collect()}
    assert out == {0: (7, 0), 1: (7, 1), 2: (7, 2)}


def test_label_outliers_rank_and_tiebreak(spark):
    from hbase_packet_inspector_spark.operators import similarity as S

    emb = _emb(spark, [
        (0, [0.0, 0.0], 0), (1, [2.0, 0.0], 0), (2, [7.0, 0.0], 0),
        (3, [0.0, 2.0], 1),
    ])
    out = [(r.label, r.vec_id, r.dist, r.rnk)
           for r in sorted(S.label_outliers(emb, k=2).collect(),
                           key=lambda r: (r.label, r.rnk))]
    # l0 centroid [3,0]: dists 3, 1, 4 -> top-2 = vec 2 (4.0), vec 0 (3.0);
    # l1 singleton: dist 0, rnk 1
    assert out == [(0, 2, 4.0, 1), (0, 0, 3.0, 2), (1, 3, 0.0, 1)]


def test_lsh_index_append_then_probe(spark, tmp_path):
    """The write half of the ingest loop: append a batch to the standing
    index, then probe a later batch — results equal the on-the-fly probe
    against the grown corpus, and the probe plan still reads the bucketed
    layout (appends route through the table's bucket spec)."""
    corpus0 = _docs(spark, [(0, _BASE), (1, _OTHER)])
    grown = _docs(spark, [(0, _BASE), (1, _OTHER), (2, _THIRD)])
    D.save_lsh_index(corpus0, str(tmp_path / "idx3"), table="t_lsh3",
                     buckets=4)
    D.append_lsh_index(_docs(spark, [(2, _THIRD)]), table="t_lsh3")
    bands, sets = D.load_lsh_index(spark, "t_lsh3")
    assert bands.count() == 3 * 4 and sets.count() == 3

    batch = _docs(spark, [(10, _NEAR), (11, _THIRD + " x")])
    got = D.probe_lsh_index(bands, sets, batch, min_est=0.3, min_jaccard=0.3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    rows = {(r.d_new, r.d_old, r.jaccard) for r in got.collect()}
    want = {
        (r.d_new, r.d_old, r.jaccard)
        for r in D.incremental_lsh_pairs(
            batch, grown, min_est=0.3, min_jaccard=0.3
        ).collect()
    }
    # doc 10 matches the pre-existing doc 0; doc 11 matches the APPENDED
    # doc 2 — the index saw both generations
    assert rows == want
    assert {(dn, do) for dn, do, _ in rows} == {(10, 0), (11, 2)}
    assert "Bucketed: true" in plan, plan
    assert "Exchange hashpartitioning(bkey" not in plan, plan


def test_compact_lsh_index_folds_files_and_preserves_probe(spark, tmp_path):
    """Index lifecycle maintenance: after several insertInto appends the
    bucket dirs hold one file set per batch; compact_lsh_index must fold
    each table to at most one file per bucket, keep probe results
    byte-identical, and keep the no-corpus-Exchange bucketed plan (the
    whole point of the rewrite is to preserve the layout, cheaper)."""
    corpus0 = _docs(spark, [(0, _BASE), (1, _OTHER)])
    D.save_lsh_index(corpus0, str(tmp_path / "idx4"), table="t_lsh4",
                     buckets=4)
    for i, txt in ((2, _THIRD), (3, _BASE + " again"), (4, _OTHER + " too")):
        D.append_lsh_index(_docs(spark, [(i, txt)]), table="t_lsh4")

    batch = _docs(spark, [(10, _NEAR), (11, _THIRD + " x")])
    bands, sets = D.load_lsh_index(spark, "t_lsh4")
    before = {
        (r.d_new, r.d_old, r.jaccard)
        for r in D.probe_lsh_index(
            bands, sets, batch, min_est=0.3, min_jaccard=0.3
        ).collect()
    }
    assert len(before) > 0

    report = D.compact_lsh_index(spark, str(tmp_path / "idx4"),
                                 table="t_lsh4", buckets=4)
    # the bands table really did accrete append debris before the fold
    assert report["bands"]["files_before"] > 4, report
    for suffix in ("bands", "sets"):
        r = report[suffix]
        assert r["files_after"] <= 4, r  # at most one file per bucket
        assert r["files_after"] <= r["files_before"], r
        assert r["old_location"] != r["new_location"]

    bands, sets = D.load_lsh_index(spark, "t_lsh4")
    assert bands.count() == 5 * 4 and sets.count() == 5
    got = D.probe_lsh_index(bands, sets, batch, min_est=0.3, min_jaccard=0.3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert {(r.d_new, r.d_old, r.jaccard) for r in got.collect()} == before
    assert "Bucketed: true" in plan, plan
    assert "Exchange hashpartitioning(bkey" not in plan, plan

    # a second compaction bumps the version again (idempotent lifecycle)
    report2 = D.compact_lsh_index(spark, str(tmp_path / "idx4"),
                                  table="t_lsh4", buckets=4)
    assert report2["bands"]["new_location"].endswith("__c2")


def test_probe_lsh_explicit_persist_handle(spark):
    """return_persisted=True hands back (pairs, signatures) structurally —
    the lifetime contract the streaming gate relies on."""
    corpus = _docs(spark, [(0, _BASE), (1, _OTHER)])
    batch = _docs(spark, [(10, _NEAR)])
    pairs, sigs = D.incremental_lsh_pairs(
        batch, corpus, min_est=0.3, min_jaccard=0.3, return_persisted=True
    )
    assert pairs.count() > 0
    assert sigs.storageLevel.useMemory  # pinned for the probe's three scans
    sigs.unpersist()
    assert not sigs.storageLevel.useMemory


def test_compact_lsh_index_derives_bucket_spec(spark, tmp_path):
    """buckets=None (the maintenance-caller default) reads the table's own
    bucket count from the catalog, so a fold can never re-bucket the
    index away from its save-time layout."""
    corpus = _docs(spark, [(0, _BASE), (1, _OTHER), (2, _THIRD)])
    D.save_lsh_index(corpus, str(tmp_path / "idx5"), table="t_lsh5",
                     buckets=3)
    D.append_lsh_index(_docs(spark, [(3, _GOOD)]), table="t_lsh5")
    report = D.compact_lsh_index(spark, str(tmp_path / "idx5"),
                                 table="t_lsh5")
    for suffix in ("bands", "sets"):
        assert report[suffix]["files_after"] <= 3, report
    desc = spark.sql("DESCRIBE FORMATTED t_lsh5_bands").collect()
    n = [r.data_type for r in desc if r.col_name == "Num Buckets"][0]
    assert int(n) == 3  # the save-time spec survived the fold


# 25 words, zero stopwords -> quality_score == 2 (the gate's keep bar)
_GOOD = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
         "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega zero")
_GOOD2 = ("uno dos tres cuatro cinco seis siete ocho nueve diez once doce "
          "trece catorce quince dieciseis diecisiete dieciocho diecinueve "
          "veinte veintiuno veintidos veintitres veinticuatro veinticinco")


def _arrivals(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("n_chars", F.length("text"))


def test_ingest_gate_stream_matches_one_shot(spark, tmp_path):
    """Deployment recipe: the streaming gate (probe persisted index +
    quality verdict per micro-batch, append_accepted=False) must emit
    across all batches EXACTLY the one-shot gate over the same arrivals,
    and the kept/ partitions must hold exactly the keep=true docs."""
    from hbase_packet_inspector_spark.operators import text as X
    from hbase_packet_inspector_spark.streaming.ingest import (
        run_ingest_gate_stream,
    )

    corpus = _docs(spark, [(0, _BASE), (1, _GOOD)])
    D.save_lsh_index(corpus, str(tmp_path / "gidx"), table="t_gate1",
                     buckets=4)

    # 10: near-dup of kept corpus doc -> rejected on dedup evidence;
    # 11: clean + high quality -> kept; 12: novel but low quality -> drop
    arrivals = _arrivals(spark, [
        (10, _GOOD.replace("zero", "one")),
        (11, _GOOD2),
        (12, _THIRD),
    ])
    src, out = str(tmp_path / "arr1"), str(tmp_path / "out1")
    arrivals.repartition(3, "doc_id").write.parquet(src)

    run_ingest_gate_stream(
        spark, src, out, table="t_gate1", min_est=0.3, min_jaccard=0.3,
        max_files_per_trigger=1, append_accepted=False,
    )

    def key(rows):
        return sorted(tuple(str(x) for x in r) for r in rows)

    got = spark.read.parquet(out + "/decisions").drop("batch_id")
    bands, sets = D.load_lsh_index(spark, "t_gate1")
    want = X.gate_decisions(
        arrivals,
        D.probe_lsh_index(bands, sets, arrivals,
                          min_est=0.3, min_jaccard=0.3),
    )
    assert key(got.collect()) == key(want.collect())
    by_id = {r.doc_id: r for r in got.collect()}
    assert by_id[10].keep is False and by_id[10].n_matches > 0
    assert by_id[11].keep is True
    assert by_id[12].keep is False and by_id[12].quality_score < 2

    kept = spark.read.parquet(out + "/kept")
    assert sorted(r.doc_id for r in kept.select("doc_id").collect()) == [11]

    # the decisions sink is batch_id-partitioned, so the generic
    # small-files maintenance job folds it without racing the stream
    from hbase_packet_inspector_spark.streaming.pipeline import compact_batches

    folded_to = str(tmp_path / "dec_compact")
    max_id = compact_batches(spark, out + "/decisions", folded_to)
    assert max_id == 2  # three one-doc micro-batches: ids 0, 1, 2
    compacted = spark.read.parquet(folded_to).collect()
    assert key(compacted) == key(got.collect())


def test_ingest_gate_stream_grows_index_and_checkpoints(spark, tmp_path):
    """append_accepted=True: a doc kept in run 1 must reject its own
    near-dup arriving in run 2 (the index grew mid-stream), and a third
    run with no new files must process nothing (checkpoint resume)."""
    from hbase_packet_inspector_spark.streaming.ingest import (
        run_ingest_gate_stream,
    )

    corpus = _docs(spark, [(0, _BASE)])
    D.save_lsh_index(corpus, str(tmp_path / "gidx2"), table="t_gate2",
                     buckets=4)

    src, out = str(tmp_path / "arr2"), str(tmp_path / "out2")
    _arrivals(spark, [(20, _GOOD)]).coalesce(1).write.mode(
        "append").parquet(src)
    run_ingest_gate_stream(spark, src, out, table="t_gate2",
                           min_est=0.3, min_jaccard=0.3)
    dec1 = {r.doc_id: r for r in
            spark.read.parquet(out + "/decisions").collect()}
    assert dec1[20].keep is True

    # run 2: near-dup of the doc run 1 accepted + one fresh keeper
    _arrivals(spark, [
        (21, _GOOD.replace("zero", "one")), (22, _GOOD2),
    ]).coalesce(1).write.mode("append").parquet(src)
    run_ingest_gate_stream(spark, src, out, table="t_gate2",
                           min_est=0.3, min_jaccard=0.3)
    dec2 = {r.doc_id: r for r in
            spark.read.parquet(out + "/decisions").collect()}
    assert set(dec2) == {20, 21, 22}
    assert dec2[21].keep is False and dec2[21].n_matches > 0
    assert dec2[22].keep is True

    # run 3: nothing new -> checkpoint resume emits nothing new
    run_ingest_gate_stream(spark, src, out, table="t_gate2",
                           min_est=0.3, min_jaccard=0.3)
    dec3 = spark.read.parquet(out + "/decisions").collect()
    assert {r.doc_id for r in dec3} == {20, 21, 22} and len(dec3) == 3

    # the standing index now holds corpus + both kept docs
    _, sets = D.load_lsh_index(spark, "t_gate2")
    assert sorted(r.doc_id for r in sets.select("doc_id").collect()) \
        == [0, 20, 22]


def test_ingest_gate_stream_compacts_on_cadence(spark, tmp_path):
    """compact_every=2 over a 4-micro-batch run: the stream ends with the
    index folded to at most one file per bucket despite one insertInto
    file set per batch, every kept doc is still in the standing index,
    and a second run's near-dups are rejected against the COMPACTED
    incarnation (the gate re-resolved the swapped tables mid-stream)."""
    from hbase_packet_inspector_spark.streaming.ingest import (
        run_ingest_gate_stream,
    )

    corpus = _docs(spark, [(0, _BASE)])
    D.save_lsh_index(corpus, str(tmp_path / "gidx3"), table="t_gate3",
                     buckets=4)

    def doc(p):  # 25 unique words per doc; docs mutually dissimilar
        return " ".join(p + w for w in _GOOD.split())

    src, out = str(tmp_path / "arr3"), str(tmp_path / "out3")
    texts = {30: doc("k"), 31: doc("m"), 32: doc("r"), 33: doc("v")}
    for i in sorted(texts):
        _arrivals(spark, [(i, texts[i])]).coalesce(1).write.mode(
            "append").parquet(src)

    run_ingest_gate_stream(spark, src, out, table="t_gate3",
                           min_est=0.3, min_jaccard=0.3,
                           max_files_per_trigger=1, compact_every=2)
    dec = {r.doc_id: r.keep for r in
           spark.read.parquet(out + "/decisions").collect()}
    assert dec == {30: True, 31: True, 32: True, 33: True}

    # batch ids 0..3, folds after ids 1 and 3 -> the run ended compacted
    bands, sets = D.load_lsh_index(spark, "t_gate3")
    assert len(bands.inputFiles()) <= 4 and len(sets.inputFiles()) <= 4
    assert sorted(r.doc_id for r in sets.select("doc_id").collect()) \
        == [0, 30, 31, 32, 33]

    # run 2: near-dups of a pre-fold and a post-fold keeper — both must
    # be rejected by probes against the compacted tables
    _arrivals(spark, [
        (40, texts[30].replace("kzero", "kxq")),
        (41, texts[33].replace("vzero", "vxq")),
    ]).coalesce(1).write.mode("append").parquet(src)
    run_ingest_gate_stream(spark, src, out, table="t_gate3",
                           min_est=0.3, min_jaccard=0.3, compact_every=2)
    dec2 = {r.doc_id: (r.keep, r.n_matches) for r in
            spark.read.parquet(out + "/decisions").collect()
            if r.doc_id >= 40}
    assert dec2[40][0] is False and dec2[40][1] > 0
    assert dec2[41][0] is False and dec2[41][1] > 0


def test_source_diversity_template_farm_vs_short(spark):
    """Template-farm source: 3 identical 4-word docs -> TTR 1/12 and
    trigram dup ratio 5/6; a source whose only doc is shorter than the
    gram width reports zero grams and a NULL dup ratio, never a crash."""
    from hbase_packet_inspector_spark.operators import text as X

    docs = spark.createDataFrame(
        [(0, "spam spam spam spam", "farm"),
         (1, "spam spam spam spam", "farm"),
         (2, "spam spam spam spam", "farm"),
         (3, "one two", "tiny")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in X.source_diversity(docs, n=3).collect()}
    farm = out["farm"]
    assert (farm.n_docs, farm.n_words, farm.distinct_words) == (3, 12, 1)
    assert farm.ttr == round(1 / 12, 6)
    assert (farm.n_grams, farm.distinct_grams) == (6, 1)
    assert farm.dup_gram_ratio == round(1 - 1 / 6, 6)
    tiny = out["tiny"]
    assert (tiny.n_docs, tiny.n_words, tiny.distinct_words) == (1, 2, 2)
    assert tiny.ttr == 1.0
    assert (tiny.n_grams, tiny.distinct_grams) == (0, 0)
    assert tiny.dup_gram_ratio is None


def test_corpus_diff_statuses_and_normalization(spark):
    """All four statuses from a hand-built pair of snapshots — and a
    whitespace/case-only edit must count as UNCHANGED (the fingerprint
    normalizes before hashing)."""
    from hbase_packet_inspector_spark.operators import text as X

    old = spark.createDataFrame(
        [(1, "Hello   world"), (2, "stable doc"), (3, "gone soon")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "hello world"),       # cosmetic edit -> unchanged
         (2, "stable doc edited"),  # changed
         (4, "brand new doc")],     # added; 3 removed
        "doc_id long, text string",
    )
    out = {r.status: r.n_docs for r in X.corpus_diff(old, new).collect()}
    assert out == {"added": 1, "removed": 1, "changed": 1, "unchanged": 1}


def test_bpe_source_fit_hand_rolled(spark):
    """rounds=1 on a two-source corpus: the only merge is (a,a) -> 'aa'
    (corpus-weighted count 4), so 'aaab' segments to [aa, a, b] (greedy
    left-to-right: the second overlapping (a,a) does NOT merge) and the
    per-source fertility/compression ratios are exact."""
    from hbase_packet_inspector_spark.operators import text as X

    docs = spark.createDataFrame(
        [(0, "aaab aaab", "s1"), (1, "xy", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in X.bpe_source_fit(docs, rounds=1).collect()}
    assert (out["s1"].n_words, out["s1"].n_bpe_tokens) == (2, 6)
    assert out["s1"].bpe_per_word == 3.0
    assert out["s1"].chars_per_bpe_token == round(8 / 6, 6)
    assert (out["s2"].n_words, out["s2"].n_bpe_tokens) == (1, 2)
    assert out["s2"].bpe_per_word == 2.0
    assert out["s2"].chars_per_bpe_token == 1.0


def test_dsir_sample_deterministic_and_enriched(spark):
    """Gumbel-top-k resampling: exactly k rows, rerun-identical (the
    noise is hash-derived, not rng), and enriched toward the target
    distribution (sample mean logweight must beat the corpus mean —
    that's the whole point of importance resampling)."""
    from hbase_packet_inspector_spark.operators import text as X

    rows = []
    for i in range(40):
        good = i % 2 == 0
        rows.append((
            i,
            ("alpha beta gamma delta " * 4).strip() if good
            else ("omega psi chi phi " * 4).strip(),
            "en" if good else "xx", "s", 80,
        ))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tgt = F.col("lang") == "en"
    a = X.dsir_sample(docs, tgt, k=10).collect()
    b = X.dsir_sample(docs, tgt, k=10).collect()
    assert len(a) == 10
    assert [(r.doc_id, r.skey) for r in a] == [(r.doc_id, r.skey) for r in b]
    corpus_mean = (
        X.dsir_logweights(docs, tgt).agg(F.avg("dsir_logweight")).first()[0]
    )
    sample_mean = sum(r.dsir_logweight for r in a) / len(a)
    assert sample_mean > corpus_mean


def test_simhash_pairs_copies_and_unrelated(spark):
    """Identical docs -> hamming 0 pair; unrelated docs -> no pair. The
    banding guarantee (recall 1 for hamming <= max_hamming) is structural
    — pigeonhole over 4 bands — so identical copies can never be missed."""
    docs = _docs(spark, [
        (0, _BASE), (1, _BASE),          # exact copies
        (2, _OTHER), (3, _THIRD),        # unrelated to everything
    ])
    out = D.simhash_pairs(docs, bits=32).collect()
    assert [(r.d1, r.d2, r.hamming) for r in out] == [(0, 1, 0)]


def test_simhash_pairs_near_miss_within_bands(spark):
    """A lightly edited copy lands within the hamming budget and is
    found; the reported distance is the exact signature distance.
    n_bands=8 so the pigeonhole guarantee (recall 1 for hamming <
    n_bands) actually covers the max_hamming=6 budget — with the default
    4 bands a 5-flip pair may touch every band and recall is luck."""
    docs = _docs(spark, [(0, _BASE), (1, _NEAR), (2, _OTHER)])
    out = {(r.d1, r.d2): r.hamming
           for r in D.simhash_pairs(docs, bits=32, n_bands=8,
                                    max_hamming=6).collect()}
    assert set(out) == {(0, 1)}
    assert 0 <= out[(0, 1)] <= 6


def test_corpus_card_hand_rolled(spark):
    from hbase_packet_inspector_spark.operators import text as X

    long_text = ("the cat sat on the mat near the big red door and then "
                 "slept for a while under it")  # >= 20 words, stop-heavy
    docs = spark.createDataFrame(
        [
            (0, long_text, "en", "s", len(long_text)),
            (1, long_text, "en", "s", len(long_text)),   # exact dup
            (2, "tiny doc", "fr", "s", 8),
            (3, "another tiny doc", "fr", "s", 16),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    card = {r.metric: r.value for r in X.corpus_card(docs).collect()}
    assert card["n_docs"] == 4.0
    assert card["exact_dup_rate"] == round(1 - 3 / 4, 6)
    assert card["docs_lang_en"] == 2.0 and card["docs_lang_fr"] == 2.0
    assert card["total_chars"] == float(len(long_text) * 2 + 8 + 16)
    # long_text: 19 words (< 20 -> 0) and 4/19 stopwords (> 0.2 -> 0)
    # -> score 0; tiny docs: < 20 words (0), no stopwords (1) -> score 1
    assert card["avg_quality_score"] == 0.5
    assert card["median_chars"] == (16 + len(long_text)) / 2
