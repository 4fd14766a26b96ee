"""Text-analysis + dedup/similarity operator tests (training-data surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.functions import text as TX
from commerce_logs_pipeline_spark.functions.similarity import (
    cosine,
    hamming64,
    jaccard,
    with_simhash,
)
from commerce_logs_pipeline_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "THE  Quick   brown fox jumps over the lazy dog"),  # exact after norm
        (3, "completely different content about spark engines and joins"),
        (4, "el perro come la comida que le gusta de la casa"),
        (5, "der hund und die katze sind nicht da"),
        (6, ""),
        (7, "le chat et le chien est dans les maisons"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    got = {r.doc_id: r.n for r in docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n")).collect()}
    assert got[0] == 9
    assert got[2] == 9  # multi-space collapsed
    assert got[6] == 0  # empty -> 0


def test_lang_id(spark, docs):
    got = {r.doc_id: r.lang for r in docs.select(
        "doc_id", TX.lang_id(F.col("text")).alias("lang")).collect()}
    assert got[0] == "en"
    assert got[4] == "es"
    assert got[5] == "de"
    assert got[7] == "fr"
    assert got[6] == "und"


def test_fingerprint_normalization(spark, docs):
    fp = {r.doc_id: r.h for r in docs.select(
        "doc_id", TX.content_md5(F.col("text")).alias("h")).collect()}
    assert fp[0] == fp[2]  # case/whitespace-insensitive
    assert fp[0] != fp[1]


def test_exact_dedup(spark, docs):
    kept = dedup.exact_dedup(docs)
    assert kept.count() == docs.count() - 1  # doc 2 collapses into doc 0
    assert kept.filter("doc_id = 2").count() == 0
    groups = dedup.exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0].n_dups == 2 and groups[0].keep_id == 0


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 2) in got  # identical after normalization -> jaccard 1.0
    assert (0, 1) in got  # near-dup
    for r in pairs:
        if (r.id_a, r.id_b) == (0, 2):
            assert r.jaccard == 1.0


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, k=3, verify_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 2) in got  # identical docs always share all bands
    # LSH candidates must be a subset of true-jaccard pairs (verify step)
    truth = {(r.id_a, r.id_b)
             for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert got <= truth


def test_released_after_unpersists_intermediates(spark, docs):
    """The scoped-cache contract: inside released_after() the operators'
    persisted intermediates are live; on exit nothing new stays registered
    in the session (the r3 long-lived-session footgun)."""
    jsc = spark.sparkContext._jsc

    def rdd_ids() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    # a plan DISTINCT from every other test's (the CacheManager dedupes
    # identical cached plans, which would mask the new persists).
    # Compared as ID SETS, not counts: other operators' localCheckpoint
    # blocks (e.g. tfidf's tf materialization) are reclaimed by the
    # ContextCleaner on GC at arbitrary times, so a raw size() can shrink
    # mid-test; the contract under test is only that THIS scope leaves no
    # NEW registration behind.
    d2 = docs.withColumn("text", F.concat(F.col("text"), F.lit(" scoped")))
    before = rdd_ids()
    with dedup.released_after():
        pairs = dedup.minhash_lsh_pairs(d2, k=3, verify_threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (0, 2) in got
        assert rdd_ids() - before  # cache in use
        # nested scope releases only its own persists
        with dedup.released_after():
            dedup.simhash_dups(d2, max_hamming=3).collect()
        assert rdd_ids() - before  # outer still live
    assert rdd_ids() - before == set()


def test_simhash_identical_and_hamming(spark, docs):
    fp = with_simhash(
        docs.withColumn("_t", TX.tokens(F.lower(F.col("text")))),
        F.col("_t"),
        out="fp",
    ).select("doc_id", "fp")
    vals = {r.doc_id: r.fp for r in fp.collect()}
    assert vals[0] == vals[2]  # identical after normalization
    pairs = dedup.simhash_dups(docs, max_hamming=10).collect()
    assert (0, 2) in {(r.id_a, r.id_b) for r in pairs}
    # portable and fast fingerprints agree on identity (not on bit values)
    pfp = with_simhash(
        docs.withColumn("_t", TX.tokens(F.lower(F.col("text")))),
        F.col("_t"),
        out="fp",
        portable=True,
    ).select("doc_id", "fp")
    pvals = {r.doc_id: r.fp for r in pfp.collect()}
    assert pvals[0] == pvals[2]
    assert pvals[0] >> 60 == 0  # md5 family: top 4 bits always clear


def test_cosine_and_jaccard_columns(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0], ["a", "b"], ["b", "c"])],
        "a array<double>, b array<double>, s1 array<string>, s2 array<string>",
    )
    r = df.select(
        F.round(cosine(F.col("a"), F.col("b")), 6).alias("cos"),
        F.round(jaccard(F.col("s1"), F.col("s2")), 4).alias("j"),
    ).collect()[0]
    assert r.cos == 1.0
    assert r.j == round(1 / 3, 4)


def test_brute_force_topk_correctness(spark):
    import math

    # vectors on a circle: nearest neighbors are adjacent angles
    rows = [
        (i, [math.cos(i * 0.3), math.sin(i * 0.3)]) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    topk = ann.brute_force_topk(df, df.filter("vec_id = 5"), k=2)
    got = {r.neighbor_id for r in topk.collect()}
    assert got == {4, 6}


def test_lsh_topk_subset_of_bruteforce_scores(spark):
    import math

    rows = [(i, [math.cos(i * 0.17), math.sin(i * 0.17), 0.1 * (i % 3), 0.05 * i])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 3")
    exact = ann.brute_force_topk(df, q, k=3)
    approx = ann.lsh_topk(df, q, k=3, n_planes=4, dim=4)
    # approximate results are valid (query, neighbor, cos) triples drawn
    # from the same scored space: every approx cos must be <= exact best
    emax: dict[int, float] = {}
    for r in exact.collect():
        emax[r.query_id] = max(emax.get(r.query_id, -2.0), r.cos)
    for r in approx.collect():
        assert r.cos <= emax[r.query_id] + 1e-9


def test_pii_counts_and_redaction(spark):
    rows = [
        (0, "reach me at a.b+c@corp.io or admin@x.co thanks"),
        (1, "server 192.168.1.250 and 10.0.0.1 rebooted"),
        (2, "call +1 555 0199 now"),
        (3, "clean text, no pii at all"),
        (4, "mix bob@x.io at 10.1.2.3 call +44 20 7946 0958"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r
        for r in df.select(
            "id",
            TX.pii_counts(F.col("text")).alias("p"),
            TX.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (got[0].p.n_email, got[0].p.n_ip, got[0].p.n_phone) == (2, 0, 0)
    assert (got[1].p.n_email, got[1].p.n_ip, got[1].p.n_phone) == (0, 2, 0)
    assert got[2].p.n_phone == 1
    assert (got[3].p.n_email, got[3].p.n_ip, got[3].p.n_phone) == (0, 0, 0)
    assert got[0].red == "reach me at <EMAIL> or <EMAIL> thanks"
    assert got[1].red == "server <IP> and <IP> rebooted"
    assert got[2].red == "call <PHONE> now"
    assert got[4].red == "mix <EMAIL> at <IP> call <PHONE>"


def test_dup_clusters_connected_components(spark):
    """Chain, clique, disjoint pair, and singletons must resolve to
    min-member cluster ids; chain tests multi-round propagation."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3), clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]], "doc_id long"
    )
    with dedup.released_after():
        got = {
            r.id: r.cluster_id
            for r in dedup.dup_clusters(pairs, all_ids=ids).collect()
        }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20, 99: 99}


def test_dup_clusters_long_chain_converges(spark):
    """A 30-node chain needs ~log-diameter label rounds under min
    propagation; the operator must still converge inside its bound (the
    fixpoint check, not the iteration cap, should stop it)."""
    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    with dedup.released_after():
        got = dedup.dup_clusters(pairs, max_iterations=n + 2).collect()
    assert {r.cluster_id for r in got} == {0}
    assert len(got) == n + 1


def test_dup_clusters_auto_escalates_past_small_budget(spark, caplog):
    """VERDICT r5 #5: exhausting max_iterations must not discard the
    completed (checkpointed) rounds — the round budget doubles with a
    RuntimeWarning up to a 4x hard cap and the run converges without a
    manual retry. A 64-vertex path with jumps_per_round=1 needs ~7
    rounds; max_iterations=2 forces two escalations (2 -> 4 -> 8). Each
    escalation is also a WARNING record of the module's logger, so it
    reaches driver logs."""
    import logging

    n = 63
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    with dedup.released_after(), caplog.at_level(
        logging.WARNING, logger=dedup.__name__
    ):
        with pytest.warns(RuntimeWarning, match="escalating round budget"):
            got = dedup.dup_clusters(
                pairs, max_iterations=2, jumps_per_round=1
            ).collect()
    assert {r.cluster_id for r in got} == {0}
    assert len(got) == n + 1
    logged = [r.getMessage() for r in caplog.records
              if r.name == dedup.__name__ and r.levelno == logging.WARNING]
    assert [m.split("escalating round budget to ")[1].split()[0]
            for m in logged] == ["4", "8"]


def test_dup_clusters_still_raises_past_hard_cap(spark):
    """Past the 4x escalation cap the operator must still raise rather
    than return silently split clusters: max_iterations=1 caps at 4
    rounds (coverage 2^4 = 16 < 63)."""
    n = 63
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    with dedup.released_after():
        with pytest.raises(RuntimeError, match="auto-escalated"):
            with pytest.warns(RuntimeWarning):
                dedup.dup_clusters(
                    pairs, max_iterations=1, jumps_per_round=1
                ).collect()


def test_lsh_multiprobe_lifts_recall(spark):
    """Multiprobe (flip weakest plane bits) must never lower recall and
    must strictly lift it on a corpus where single-bucket probing misses
    neighbors across a plane boundary; full-probe (probes = n_planes)
    recovers every same-halfspace candidate its buckets can reach."""
    import math

    rows = [
        (i, [math.cos(i * 0.11), math.sin(i * 0.11),
             0.3 * math.cos(i * 0.7), 0.3 * math.sin(i * 0.7)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 10")
    exact = ann.brute_force_topk(df, q, k=5)

    def avg_recall(probes: int) -> float:
        approx = ann.lsh_topk(df, q, k=5, n_planes=4, dim=4, probes=probes)
        rec = ann.recall_at_k(approx, exact).collect()
        return sum(r.recall for r in rec) / len(rec)

    r0, r1, r2 = avg_recall(0), avg_recall(1), avg_recall(2)
    assert r0 <= r1 <= r2  # monotone in probe count
    assert r2 > r0  # and strictly better somewhere on this corpus
    assert r2 <= 1.0


def test_ivf_topk_valid_and_probe_monotone(spark):
    """IVF results are valid scored pairs (cos <= exact best per query)
    and recall is monotone in nprobe; nprobe = n_cells reaches exact
    recall (every cell probed = brute force)."""
    import math

    rows = [
        (i, [math.cos(i * 0.13), math.sin(i * 0.13),
             0.2 * math.cos(i * 0.9), 0.2 * math.sin(i * 0.9)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 8")
    exact = ann.brute_force_topk(df, q, k=4)

    def avg_recall(nprobe: int) -> float:
        approx = ann.ivf_topk(df, q, k=4, n_cells=8, nprobe=nprobe)
        rec = ann.recall_at_k(approx, exact).collect()
        return sum(r.recall for r in rec) / len(rec)

    r1, r3, r_all = avg_recall(1), avg_recall(3), avg_recall(8)
    assert r1 <= r3 <= r_all
    assert r_all == 1.0  # all cells probed == exhaustive search


def test_ivf_numpy_path_matches_column_path(spark):
    """The production (Arrow numpy matmul) assignment and the
    oracle-portable Column assignment pick identical cells and results on
    a tie-free corpus."""
    import math

    rows = [
        (i, [math.cos(i * 0.21), math.sin(i * 0.21),
             0.4 * math.cos(i * 1.3), 0.4 * math.sin(i * 1.3)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 6")
    a = ann.ivf_topk(df, q, k=3, n_cells=6, nprobe=2, use_numpy=False)
    b = ann.ivf_topk(df, q, k=3, n_cells=6, nprobe=2, use_numpy=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hamming64_column(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], "a long, b long")
    assert df.select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0].h == 2


def test_quality_score_range(spark, parsed_10k):
    # quality over transcript text column: always within [0, 1]
    q = parsed_10k.select(TX.quality_score(F.col("text")).alias("q"))
    bad = q.filter((F.col("q") < 0) | (F.col("q") > 1)).count()
    assert bad == 0


def test_ivf_trained_centroids_improve_recall(spark):
    """Distributed Lloyd training (train_ivf_centroids) beats the
    deterministic smallest-id sampled quantizer at equal nprobe on a
    corpus built so every true cluster STRADDLES two sampled cells:
    the 4 smallest-id vectors sit at angles 10/100/190/280 (cell
    boundaries at 55/145/235/325) while the 4 true clusters center on
    45/135/225/315 and span +-34 degrees — each cluster's tail crosses a
    boundary, and queries placed right at the cut see only one side with
    untrained nprobe=1; trained centroids migrate onto the cluster
    centers and recover the whole cluster per cell."""
    import math

    rows = [
        (c, [math.cos(math.radians(10.0 + c * 90.0)),
             math.sin(math.radians(10.0 + c * 90.0))])
        for c in range(4)
    ]
    i = 4
    qids = []
    for c in range(4):
        for j in range(18):
            ang = math.radians(45.0 + 90.0 * c + (j - 8.5) * 4.0)
            rows.append((i, [math.cos(ang), math.sin(ang)]))
            if j == 11:  # ~55°+90c: right at the untrained cell boundary
                qids.append(i)
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin(qids))
    exact = ann.brute_force_topk(df, q, k=5)

    def avg_recall(centroids) -> float:
        approx = ann.ivf_topk(
            df, q, k=5, n_cells=4, nprobe=1, centroids=centroids
        )
        rec = ann.recall_at_k(approx, exact).collect()
        return sum(r.recall for r in rec) / len(rec)

    trained = ann.train_ivf_centroids(df, n_cells=4, iterations=4)
    r_sampled = avg_recall(None)  # default smallest-id quantizer
    r_trained = avg_recall(trained)
    assert r_trained > r_sampled
    assert r_trained >= 0.9


# --- curation: repetition metrics + decontamination ------------------------
def test_repetition_scores_known_counts(spark):
    from commerce_logs_pipeline_spark.operators import curation

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in curation.repetition_scores(docs, n=2).collect()
    }
    # doc 1 bigram slots: ab ba ab ba ab -> total 5, top "a b" x3, all dup
    assert rows[1].total_ngrams == 5
    assert rows[1].top_ngram_count == 3
    assert rows[1].dup_ngram_occurrences == 5
    assert rows[1].top_ngram_frac == 0.6
    assert rows[1].dup_ngram_frac == 1.0
    # doc 2: 5 distinct bigrams, no repetition
    assert rows[2].total_ngrams == 5
    assert rows[2].top_ngram_count == 1
    assert rows[2].dup_ngram_occurrences == 0
    # doc 3: shorter than n -> kept with zeros (explode_outer path)
    assert rows[3].total_ngrams == 0
    assert rows[3].top_ngram_frac == 0.0


def test_repetition_hashed_matches_string_path(spark):
    from commerce_logs_pipeline_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} x y w{i % 3} x y z{i}") for i in range(20)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, curation.repetition_scores(docs, n=3, hashed=True).collect()))
    b = sorted(map(tuple, curation.repetition_scores(docs, n=3, hashed=False).collect()))
    assert a == b


def test_decontaminate_flags_benchmark_overlap(spark):
    from commerce_logs_pipeline_spark.operators import curation

    t13 = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13"
    docs = spark.createDataFrame(
        [
            (1, t13 + " t14"),        # shares both of its 13-grams w/ bench
            (2, "other words " + t13),  # contains the benchmark run mid-doc
            (3, "clean doc with none of those tokens repeated here at all "
                "padded padded padded padded padded"),
            (4, "short"),             # < 13 tokens -> no grams, kept clean
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(t13 + " t14",)], "text string")
    rows = {r.doc_id: r for r in curation.decontaminate(docs, bench).collect()}
    assert rows[1].contaminated and rows[1].matched_ngrams == 2
    assert rows[2].contaminated and rows[2].matched_ngrams == 1
    assert not rows[3].contaminated and rows[3].matched_ngrams == 0
    assert not rows[4].contaminated
