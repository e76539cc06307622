"""Unit tests for the LLM-pipeline operators (dedup/similarity/text)."""

import pyspark.sql.functions as F

from pipeline_etl_website_visits_spark.operators import dedup as D
from pipeline_etl_website_visits_spark.operators import similarity as S
from pipeline_etl_website_visits_spark.operators import text as T
from pipeline_etl_website_visits_spark.tables import load_table
from tests.conftest import SF_DIR


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
            (3, "completely different words entirely here now"),
            (4, "The  Quick   Brown fox jumps over the lazy dog"),  # exact dup of 1 after normalize
        ],
        "doc_id long, text string",
    )


def test_dedup_exact_normalized(spark):
    out = D.dedup_exact(_docs(spark), "text", "doc_id").collect()
    groups = {r["fp"]: (r["keeper_doc_id"], r["copies"]) for r in out}
    assert len(groups) == 3  # 1&4 collapse
    assert (1, 2) in groups.values()


def test_shingle_jaccard_detects_near_dups(spark):
    pairs = D.shingle_jaccard_pairs(_docs(spark), "text", "doc_id", n=3, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert (1, 4) in got and got[(1, 4)] == 1.0   # identical shingle sets
    assert (1, 2) in got and 0.5 <= got[(1, 2)] < 1.0
    assert (2, 4) in got
    assert all(a != 3 and b != 3 for a, b in got)


def test_minhash_lsh_finds_exact_pairs(spark):
    pairs = D.minhash_lsh_pairs(_docs(spark), "text", "doc_id", verify_threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 4) in got  # identical signatures always collide


def test_simhash_closeness(spark):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(_docs(spark), "text", "doc_id").collect()}
    assert out[1] == out[4]  # identical token multisets
    ham_12 = bin(out[1] ^ out[2]).count("1")
    ham_13 = bin(out[1] ^ out[3]).count("1")
    assert ham_12 < ham_13  # near-dup closer than unrelated


def test_cosine_topk_self_similarity(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.cosine_topk(queries, emb, k=5)
    rows = out.collect()
    assert len(rows) == 15
    assert all(-1.0001 <= r["sim"] <= 1.0001 for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_ann_lsh_is_subset_quality(spark):
    """ANN results come from the query's bucket; every reported neighbor's
    similarity must match the exact computation (no fabricated scores)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in S.cosine_topk(queries, emb, k=500).collect()
    }
    ann = S.ann_lsh_topk(queries, emb, k=5, num_planes=6).collect()
    assert len(ann) > 0
    for r in ann:
        assert abs(exact[(r["query_id"], r["neighbor_id"])] - r["sim"]) < 1e-9


def test_token_count_edges(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "one"), (4, " a  b\tc ")], "id long, t string")
    out = {r["id"]: r["n"] for r in df.select("id", T.token_count(F.col("t")).alias("n")).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 3}


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el gato y la casa de madrid"),
            (3, "le chat et les maisons"),
            (4, "der hund und die katze"),
            (5, "xyzzy plugh"),
        ],
        "id long, t string",
    )
    out = {r["id"]: r["lang"] for r in df.select("id", T.lang_id(F.col("t")).alias("lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "unknown"}


def test_quality_features_bounds(spark):
    docs = load_table(spark, SF_DIR, "documents")
    feats = T.quality_features(docs, "text", "doc_id").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in feats)
    assert all(0.0 <= r["alnum_ratio"] <= 1.0 for r in feats)
    assert all(r["n_tokens"] > 0 for r in feats)


def test_dedup_clusters_connected_components(spark):
    # two components: {1,2,4} (chain 1-2, 2-4) and {7,9}
    pairs = spark.createDataFrame([(1, 2), (2, 4), (7, 9)], "doc_a long, doc_b long")
    from pipeline_etl_website_visits_spark.operators.dedup import dedup_clusters, dedup_keep_set

    labels = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 4: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame([(i, f"t{i}") for i in [1, 2, 4, 7, 9, 100]], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_keep_set(docs, pairs, "doc_id").collect())
    assert kept == [1, 7, 100]


def test_dedup_clusters_probe_materializes_checkpoint(spark):
    """Pins the r14 probe-is-the-materialization fusion (ADVICE r14): in
    local mode each label-propagation iteration's convergence probe is
    the action that materializes its localCheckpoint — no job is ever
    launched by a checkpoint call itself — and the returned labels'
    localCheckpoint blocks are FULLY persisted when the call returns, so
    downstream actions can never recompute lineage past the unpersisted
    edge cache. If the probe is ever reordered, made conditional, or
    removed, this test is the tripwire."""
    from pipeline_etl_website_visits_spark.operators.dedup import dedup_clusters

    assert spark.sparkContext.getCheckpointDir() is None  # local mode path
    pairs = spark.createDataFrame([(1, 2), (2, 4), (7, 9)], "doc_a long, doc_b long")
    jsc = spark.sparkContext._jsc.sc()
    tracker = spark.sparkContext.statusTracker()
    # AQE submits each shuffle stage as a job of its own, named after the
    # call that built the plan (here: localCheckpoint); the static planner
    # names every job after the action that launched it
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = jsc.dagScheduler().nextJobId()
        labels = dedup_clusters(pairs)  # converges in 3 iterations here
        mid = jsc.dagScheduler().nextJobId()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # a job's call site is its result stage's name (the newest stage id)
    call_sites = [
        tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds)).name
        for j in range(before, mid)
    ]
    # a reintroduced eager checkpoint shows up as a job of its own
    checkpoint_jobs = [
        c for c in call_sites if c.split(" ")[0] in ("checkpoint", "localCheckpoint")
    ]
    assert not checkpoint_jobs, call_sites
    # one convergence probe per iteration, each materializing the labels
    assert sum(c.startswith("count at") for c in call_sites) >= 3, call_sites
    # the newest persisted RDD is the final labels' checkpoint — every
    # partition must already be materialized (probe + backfill covered it)
    infos = sorted(jsc.getRDDStorageInfo(), key=lambda i: i.id())
    assert infos, "no persisted blocks after dedup_clusters returned"
    last = infos[-1]
    assert last.numCachedPartitions() == last.numPartitions(), (
        f"final labels checkpoint only {last.numCachedPartitions()}/"
        f"{last.numPartitions()} partitions persisted"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert out == {1: 1, 2: 1, 4: 1, 7: 7, 9: 7}


def test_pagerank_reliable_mode_returns_checkpointed_ranks(spark, tmp_path):
    """ADVICE r14: reliable mode's contract includes a DURABLY
    checkpointed final state — recovery must not replay the tail rounds'
    lineage, so the trailing eager checkpoint stays in that mode (local
    mode documents the single-downstream-action assumption instead)."""
    from pipeline_etl_website_visits_spark.operators.graph import pagerank

    jsc = spark.sparkContext._jsc.sc()
    assert spark.sparkContext.getCheckpointDir() is None
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        ranks = pagerank(edges, iters=3)
        # the returned plan is the checkpointed relation itself — no
        # join/agg lineage tail left to replay on recovery
        plan = ranks._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in plan, f"final ranks not checkpointed:\n{plan}"
        assert len(ranks.collect()) == 3
    finally:
        jsc.setCheckpointDir(None)  # restore local mode for later tests
    assert spark.sparkContext.getCheckpointDir() is None


def test_scoped_cache_evicts_previous_slot(spark):
    """ADVICE r14 cache lifecycle: a long-lived session calling a
    scoped_cache-ing operator repeatedly holds at most ONE cached fold
    per slot — the next call evicts the previous call's relation."""
    from pipeline_etl_website_visits_spark.operators.text import scoped_cache

    a = scoped_cache(spark.range(5).selectExpr("id AS x"), "test_slot")
    a.count()
    assert a.storageLevel.useMemory
    b = scoped_cache(spark.range(7).selectExpr("id AS y"), "test_slot")
    assert not a.storageLevel.useMemory, "previous slot holder not evicted"
    b.count()
    assert b.storageLevel.useMemory
    spark.catalog.clearCache()


def test_fingerprint_memo_never_memoizes_unstatable_sources(tmp_path):
    """ADVICE r14: when os.stat can't see the source table, the memo must
    rebuild every call — a (None, None) key would never invalidate and
    could serve stale inputs after a regeneration."""
    from pipeline_etl_website_visits_spark.queries.llmops import fingerprint_memo

    calls = []

    def build():
        calls.append(1)
        return len(calls)

    missing = str(tmp_path / "no_such_dir")
    assert fingerprint_memo(missing, "documents", "t_memo", build) == 1
    assert fingerprint_memo(missing, "documents", "t_memo", build) == 2


def test_dedup_end_to_end_pipeline(spark):
    """documents -> jaccard pairs -> clusters -> keep set, full chain."""
    from pipeline_etl_website_visits_spark.operators.dedup import dedup_keep_set, shingle_jaccard_pairs

    docs = _docs(spark)
    pairs = shingle_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    kept = sorted(r["doc_id"] for r in dedup_keep_set(docs, pairs, "doc_id").collect())
    assert kept == [1, 3]  # 2 and 4 near-dup into 1's cluster; 3 unique


def test_ivf_topk_recall_and_consistency(spark):
    """IVF must (a) never fabricate scores — every reported sim equals the
    exact cosine; (b) reach reasonable recall vs brute force at nprobe=4/16."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in S.cosine_topk(queries, emb, k=500).collect()
    }
    exact_top5 = {}
    for (qid, nid), sim in exact_all.items():
        exact_top5.setdefault(qid, []).append((sim, nid))
    truth = {q: {nid for _, nid in sorted(v, reverse=True)[:5]} for q, v in exact_top5.items()}

    ivf = S.ivf_topk(queries, emb, k=5, num_centroids=16, nprobe=4).collect()
    assert len(ivf) > 0
    for r in ivf:
        assert abs(exact_all[(r["query_id"], r["neighbor_id"])] - r["sim"]) < 1e-9
    got = {}
    for r in ivf:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(got.get(q, set()) & truth[q]) for q in truth) / sum(len(truth[q]) for q in truth)
    assert recall >= 0.3, f"IVF recall too low: {recall}"


def test_cosine_topk_arrow_matches_fold(spark):
    """The Arrow partial-top-k path must produce bit-identical 4-dp output
    to the sequential-fold path (the oracle-parity reference) — numpy's
    summation-order delta is O(1e-16) and the rounding absorbs it."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    arrow = sorted(map(tuple, S.cosine_topk(q, emb, k=5, use_arrow=True).collect()))
    fold = sorted(map(tuple, S.cosine_topk(q, emb, k=5, use_arrow=False).collect()))
    assert arrow == fold
    assert len(arrow) > 0


def test_jaccard_doc_freq_cap_is_sound(spark):
    """max_doc_freq (the quadratic-hot-key lever) may only *lose* pairs,
    never invent them, and surviving pairs keep their shingle overlap."""
    docs = load_table(spark, SF_DIR, "documents")
    full = {
        (r["doc_a"], r["doc_b"]) for r in D.shingle_jaccard_pairs(docs, "text", "doc_id", threshold=0.2).collect()
    }
    capped_rows = D.shingle_jaccard_pairs(docs, "text", "doc_id", threshold=0.2, max_doc_freq=50).collect()
    capped = {(r["doc_a"], r["doc_b"]) for r in capped_rows}
    assert capped <= full or len(full) == 0


def test_dedup_embed_cosine_exact_verification(spark):
    """Every reported near-dup pair's cosine must be truly >= threshold
    (exact-fold verified, no false positives), and the known closest pair
    in the corpus must be recalled."""
    emb = load_table(spark, SF_DIR, "embeddings")
    out = S.dedup_embed_cosine(emb, threshold=0.4, num_planes=4).collect()
    assert len(out) > 0
    assert all(r["sim"] >= 0.4 for r in out)
    assert all(r["id_a"] < r["id_b"] for r in out)

    # Oracle-grade subset check (VERDICT r1 finding #1): every emitted pair
    # must exist in the numpy-exact cosine pair set with matching similarity
    # — a broken operator that invents pairs or mis-scores them fails here
    # even though the driver's rows-only check cannot see it.
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    m = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    idx = {v: i for i, v in enumerate(ids)}
    exact = {
        (a, b): sims[idx[a], idx[b]]
        for a in ids
        for b in ids
        if a < b and sims[idx[a], idx[b]] >= 0.4
    }
    for r in out:
        key = (r["id_a"], r["id_b"])
        assert key in exact, f"LSH emitted a pair below threshold: {key}"
        assert abs(r["sim"] - round(exact[key], 4)) <= 1e-9, key


def test_x42_query_nonempty_and_deterministic(spark):
    """The registered x42 query (driver rows-only check) must return a
    non-empty, run-stable set at every test SF — guards the vacuous-check
    regression flagged in round 1."""
    from pipeline_etl_website_visits_spark.queries.registry import REGISTRY

    fn = REGISTRY["x42_dedup_embed_cosine"].spark
    first = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    second = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    assert len(first) > 0
    assert first == second


def test_kmeans_recovers_planted_clusters(spark):
    """Three well-separated planted clusters: every point must land in the
    same cluster as its plant-mates, and the purity summary must report each
    cluster's size and unanimous label."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = np.eye(3)  # orthogonal unit centers — maximally separated in cosine
    rows = []
    for label, c in enumerate(centers):
        for i in range(20):
            v = c + 0.05 * rng.randn(3)
            rows.append((label * 100 + i, [float(x) for x in v], label))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    out = S.kmeans_summary(df, k=3, iters=5).collect()
    assert len(out) == 3
    assert sorted(r["n_members"] for r in out) == [20, 20, 20]
    for r in out:
        assert r["top_label_n"] == 20, "each recovered cluster must be label-pure"
    assert sorted(r["top_label"] for r in out) == [0, 1, 2]

    assigned = {r["id"]: r["cluster_id"] for r in S.kmeans_assign(df, k=3, iters=5).collect()}
    for label in range(3):
        plant = {assigned[label * 100 + i] for i in range(20)}
        assert len(plant) == 1, f"planted cluster {label} split across {plant}"


def test_tfidf_ubiquitous_term_scores_zero(spark):
    """A token present in every document has idf = ln(1) = 0, so its score
    must be exactly 0 regardless of tf; a token unique to one document must
    outrank everything shared."""
    df = spark.createDataFrame(
        [
            (1, "common common common unique alpha"),
            (2, "common alpha beta"),
            (3, "common beta gamma"),
        ],
        "doc_id long, text string",
    )
    out = T.tfidf_top_terms(df, "text", "doc_id", k=5).collect()
    by_doc_tok = {(r["doc_id"], r["token"]): r for r in out}
    assert by_doc_tok[(1, "common")]["score_micro"] == 0  # df == N
    top1 = {r["doc_id"]: r["token"] for r in out if r["rank"] == 1}
    assert top1[1] == "unique"
    assert by_doc_tok[(1, "unique")]["doc_freq"] == 1


def test_bigram_rarity_exact_counts(spark):
    """Hand-checkable corpus: doc 1 repeats a bigram that doc 2 shares
    (corpus count 3 > rare_max 2 → common); every other bigram appears
    once (rare)."""
    df = spark.createDataFrame(
        [
            (1, "a b a b c"),   # bigrams: 'a b' x2, 'b a', 'b c'
            (2, "a b z"),       # bigrams: 'a b', 'b z'  -> 'a b' corpus count 3
            (3, "q"),           # no bigram -> dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.bigram_rarity(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 4 and out[1]["n_rare_bigrams"] == 2
    assert out[2]["n_bigrams"] == 2 and out[2]["n_rare_bigrams"] == 1
    assert out[2]["rare_pct"] == 50.0
    # the fused single-exchange form (what x59 opts into) must be
    # value-identical to the default compact-before-shuffle form —
    # compact_first=False is the OTHER branch, not the default again
    fused = {
        r["doc_id"]: r
        for r in T.bigram_rarity(df, "text", "doc_id", compact_first=False).collect()
    }
    assert {d: tuple(r) for d, r in out.items()} == {
        d: tuple(r) for d, r in fused.items()
    }


def test_interval_overlap_pairs_matches_brute_force(spark):
    """Bucketed interval-overlap join == the O(n^2) reference on random
    intervals, including spans much longer than the bucket width and exact
    touch-at-endpoint overlaps."""
    import random

    from pipeline_etl_website_visits_spark.operators.rangejoin import interval_overlap_pairs

    rng = random.Random(11)
    rows = []
    for i in range(120):
        k = rng.randint(0, 3)
        s = rng.randint(0, 50_000)
        dur = rng.choice([0, 10, 500, 5000, 20_000])  # zero-length + >>bucket
        rows.append((k, i, s, s + dur))
    df = spark.createDataFrame(rows, "k int, id int, s long, e long").select(
        "k", "id",
        F.col("s").cast("timestamp").alias("start_ts"),
        F.col("e").cast("timestamp").alias("end_ts"),
    )
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in interval_overlap_pairs(df, "k", "start_ts", "end_ts", "id", bucket_seconds=1000).collect()
    )
    expect = sorted(
        (a[1], b[1])
        for i, a in enumerate(rows)
        for b in rows[i + 1 :]
        if a[0] == b[0] and a[2] <= b[3] and b[2] <= a[3] and a[1] < b[1]
    )
    assert got == expect


def test_pq_encode_codebook_self_zero_error(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = S.pq_encode(emb).collect()
    n_vecs = emb.count()
    assert len(out) == n_vecs * 8  # one code per (vector, subspace)
    by_vec = {}
    for r in out:
        assert 0 <= r["code"] < 16
        assert r["qerr"] >= 0
        by_vec.setdefault(r["vec_id"], []).append(r)
    # codebook = first 16 vectors by id: each must quantize to ITSELF exactly
    for vid in range(16):
        for r in by_vec[vid]:
            assert r["code"] == vid, (vid, r)
            assert r["qerr"] == 0, (vid, r)
    # every vector yields all 8 subspaces
    assert all(sorted(r["sub"] for r in rows) == list(range(8)) for rows in by_vec.values())


def test_pq_encode_is_map_only(spark):
    # the 100 TB contract: codebook rides in the closure — encoding is one
    # mapInPandas over the scan, with NO join and NO shuffle of any kind
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = S.pq_encode(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_ngram_novelty_known_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # grams: "a b c d e", "b c d e f" — shared with doc 2
            (2, "a b c d e f"),       # exact dup of 1 → novelty 0
            (3, "p q r s t u v"),     # all grams unique → novelty 1
            (4, "x y"),               # too short for 5-grams → absent from output
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.ngram_novelty(docs, "text", "doc_id", n=5).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_grams"] == 2 and rows[1]["n_unique"] == 0 and rows[1]["novelty"] == 0.0
    assert rows[2]["novelty"] == 0.0
    assert rows[3]["n_grams"] == 3 and rows[3]["n_unique"] == 3 and rows[3]["novelty"] == 1.0


def test_pq_adc_topk_self_hit_and_partition_invariance(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    out = S.pq_adc_topk(queries, emb, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["adc_dist"], r["vec_id"]))
    assert set(by_q) == {0, 1, 2, 3}
    for qid, rows in by_q.items():
        assert len(rows) == 3
        # codebook queries (id < 16) encode to themselves → ADC(self) = 0 → top hit
        assert min(rows) == (0, qid)
    # result must not depend on input partitioning (partial-top-k soundness)
    out2 = S.pq_adc_topk(queries, emb.repartition(7), k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_incremental_containment_dedup_decisions(spark):
    corpus = spark.createDataFrame(
        [
            (2, "the quick brown fox jumps over the lazy dog"),
            (4, "a completely unrelated corpus document lives here"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 2 → dropped
            (3, "the quick brown fox jumps over it"),            # partial overlap
            (5, "nothing shared with anything at all zzz"),      # no overlap → absent
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.incremental_containment_dedup(
        corpus, incoming, "text", "doc_id", n=3, threshold=0.5).collect()}
    assert set(out) == {1, 3}
    assert out[1]["best_match"] == 2 and out[1]["containment"] == 1.0 and out[1]["dropped"]
    assert out[3]["best_match"] == 2 and 0.0 < out[3]["containment"] < 1.0
    # subset-direction check: a new doc fully contained in an old one drops
    subset = spark.createDataFrame(
        [(7, "quick brown fox jumps over")], "doc_id long, text string")
    out7 = D.incremental_containment_dedup(corpus, subset, "text", "doc_id", n=3, threshold=0.5).collect()
    assert len(out7) == 1 and out7[0]["dropped"] and out7[0]["containment"] == 1.0


def test_hll_union_rollup_estimates_within_tolerance(spark):
    """Region-level estimates from UNIONED per-nation sketches must sit
    within HLL's error envelope of the exact distinct counts (c_custkey is
    unique, so exact distinct == row count per region)."""
    from pipeline_etl_website_visits_spark.queries.registry import REGISTRY

    rows = REGISTRY["x91_hll_union_rollup"].spark(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        exact = r["exact_rows"]
        assert abs(r["approx_customers"] - exact) <= max(3, 0.05 * exact), r


def test_zorder_value_matches_python_interleave(spark):
    from pipeline_etl_website_visits_spark.operators.layout import zorder_value
    import pyspark.sql.functions as F

    def py_z(a, b, bits=8):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = [(a, b) for a in (0, 1, 5, 63, 200, 255) for b in (0, 2, 7, 100, 255)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = df.select("a", "b", zorder_value(F.col("a"), F.col("b")).alias("z")).collect()
    for r in got:
        assert r["z"] == py_z(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_zone_map_buckets_are_tight_rectangles(spark):
    """A zone (6-bit z prefix of two 6-bit dims) covers exactly an 8x8
    rectangle in (a, b) space — the zone-map envelope must stay inside it."""
    from pipeline_etl_website_visits_spark.operators.layout import zorder_zone_map
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(a, b) for a in range(64) for b in range(64)], "a int, b int")
    zones = zorder_zone_map(df, F.col("a"), F.col("b"), bits=6, prefix_shift=6).collect()
    assert len(zones) == 64  # 4096 cells / 64 rows per zone
    for z in zones:
        assert z["n_rows"] == 64
        assert z["a_max"] - z["a_min"] == 7 and z["b_max"] - z["b_min"] == 7


def test_skyline_matches_bruteforce_with_ties(spark):
    import random

    from pipeline_etl_website_visits_spark.operators.skyline import skyline_2d

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 20), float(rng.randint(0, 30))) for i in range(300)]
    rows += [(1000, 20, 0.0), (1001, 20, 0.0)]  # identical optimum twice: both kept
    df = spark.createDataFrame(rows, "id long, x int, y double").repartition(16)

    got = sorted(r["id"] for r in skyline_2d(df, "x", "y").collect())
    want = sorted(
        i for i, x, y in rows
        if not any(
            (bx >= x and by <= y and (bx > x or by < y)) for _, bx, by in rows
        )
    )
    assert got == want
    assert 1000 in got and 1001 in got


def test_skyline_anticorrelated_frontier_survives_global_pass(spark):
    """Fully anti-correlated input: EVERY row is on the frontier — the
    global pass must keep them all (stress of the survivor-union path)."""
    from pipeline_etl_website_visits_spark.operators.skyline import skyline_2d

    rows = [(i, i, float(i)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x int, y double").repartition(8)
    assert skyline_2d(df, "x", "y").count() == 500


def test_semantic_dedup_prunes_planted_groups_exactly(spark):
    """Two planted near-duplicate groups + isolated points: within each
    cluster only the lowest-id member of a >threshold cosine group may
    survive, and every isolated point must survive."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import (
        kmeans_assign,
        semantic_dedup,
    )

    rng = np.random.default_rng(3)
    base_a = rng.normal(size=16)
    base_b = rng.normal(size=16)
    rows = []
    for i in range(4):  # group A: near-identical copies of base_a
        rows.append((i, (base_a + rng.normal(scale=1e-3, size=16)).tolist()))
    for i in range(4, 7):  # group B: near-identical copies of base_b
        rows.append((i, (base_b + rng.normal(scale=1e-3, size=16)).tolist()))
    for i in range(7, 27):  # isolated random points
        rows.append((i, rng.normal(size=16).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kept = {r["id"] for r in semantic_dedup(df, k=4, iters=3, threshold=0.95).collect()}

    # replicate the rule in numpy over the SAME clustering
    clusters = {
        r["id"]: r["cluster_id"] for r in kmeans_assign(df, k=4, iters=3).collect()
    }
    vecs = {i: np.asarray(v) / np.linalg.norm(v) for i, v in rows}
    want = set()
    for i, v in sorted(vecs.items()):
        dup = any(
            j < i and clusters[j] == clusters[i] and j in want
            and float(vecs[j] @ v) > 0.95
            for j in vecs
        )
        if not dup:
            want.add(i)
    assert kept == want
    assert 0 in kept and 4 in kept  # group representatives
    assert len(kept & {1, 2, 3, 5, 6}) == 0  # planted dups pruned


def test_pagerank_matches_numpy_power_iteration(spark):
    """5 rounds on a small directed graph == the same variant in numpy
    (init 1.0, dangling mass leaks, 9-dp rounding per round)."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (4, 3), (5, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=5).collect()}

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    r = np.ones(len(nodes))
    for _ in range(5):
        new = np.full(len(nodes), 0.15)
        for s, d in edges:
            new[idx[d]] += 0.85 * r[idx[s]] / deg[s]
        r = np.round(new, 9)
    want = {n: r[idx[n]] for n in nodes}
    assert got.keys() == want.keys()
    for n in nodes:
        assert abs(got[n] - want[n]) < 1e-9, (n, got[n], want[n])
    # structural sanity: 3 (two in-edges incl. from hub 1's cycle) outranks 5 (no in-edges)
    assert got[3] > got[5]


def test_semantic_decontam_hits_planted_leak(spark):
    """A corpus vector planted near an eval vector must be flagged with
    that eval id; orthogonal vectors must not. Full replica check in numpy."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import semantic_decontam_hits

    rng = np.random.default_rng(5)
    ev = [(1000 + i, rng.normal(size=32).tolist()) for i in range(5)]
    corpus = [(i, rng.normal(size=32).tolist()) for i in range(40)]
    # plant: corpus 50 = eval 1002 + tiny noise (sim ~1.0)
    corpus.append((50, (np.asarray(ev[2][1]) + rng.normal(scale=1e-3, size=32)).tolist()))
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>").repartition(4)
    edf = spark.createDataFrame(ev, "vec_id long, embedding array<double>")

    got = {
        (r["corpus_id"], r["eval_id"], r["sim"])
        for r in semantic_decontam_hits(cdf, edf, threshold=0.5).collect()
    }

    en = {i: np.asarray(v) / np.linalg.norm(v) for i, v in ev}
    want = set()
    for cid, v in corpus:
        vn = np.asarray(v) / np.linalg.norm(v)
        sims = sorted(((float(vn @ en[e]), -e) for e in en), reverse=True)
        best, neg_e = sims[0]
        if round(best, 4) >= 0.5:
            want.add((cid, -neg_e, round(best, 4)))
    assert got == want
    assert any(c == 50 and e == 1002 for c, e, _ in got)


def test_new_operators_tolerate_empty_inputs(spark):
    """Empty corpus / empty edge list / empty eval set must yield empty
    results, not crashes — the first thing a scheduled pipeline hits on a
    quiet day."""
    from pipeline_etl_website_visits_spark.operators.graph import pagerank
    from pipeline_etl_website_visits_spark.operators.similarity import (
        semantic_decontam_hits,
    )
    from pipeline_etl_website_visits_spark.operators.skyline import skyline_2d

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert T.heavy_hitters(empty_docs, "text").count() == 0

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty_edges, iters=2).count() == 0

    empty_pts = spark.createDataFrame([], "id long, x int, y double")
    assert skyline_2d(empty_pts, "x", "y").count() == 0

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    empty_ev = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_decontam_hits(vecs, empty_ev).count() == 0


def test_constraint_audit_counts_and_single_scan(spark):
    """x113 operator: violation counting per kind (NULL conventions: range
    and domain checks ignore NULLs, completeness counts them; uniqueness
    counts each extra key copy), and the whole suite runs as ONE scan."""
    from pipeline_etl_website_visits_spark.operators import constraints as C

    df = spark.createDataFrame(
        [
            (1, "A", 10),
            (1, "B", -5),      # dup key, below range
            (2, None, 200),    # null status (ignored by domain), above range
            (3, "X", None),    # bad status, null value (ignored by range)
            (None, "A", 50),   # null key (ignored by unique count)
        ],
        "k int, status string, v int",
    )
    out = {r["check_name"]: r for r in C.audit(
        df,
        [
            C.not_null("k"),
            C.unique("k"),
            C.accepted_values("status", ["A", "B"]),
            C.between("v", 0, 100),
        ],
    ).collect()}
    assert all(r["n_rows"] == 5 for r in out.values())
    assert out["not_null(k)"]["n_violations"] == 1
    assert out["unique(k)"]["n_violations"] == 1          # 4 non-null keys, 3 distinct
    assert out["accepted_values(status:A,B)"]["n_violations"] == 1
    assert out["between(v:0..100)"]["n_violations"] == 2
    assert out["between(v:0..100)"]["passed"] is False
    assert out["unique(k)"]["passed"] is False

    plan = C.audit(df, [C.not_null("k"), C.between("v", 0, 100), C.unique("k")])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") <= 1  # the source appears once: one scan


def test_constraint_audit_all_pass_on_clean_table(spark):
    from pipeline_etl_website_visits_spark.operators import constraints as C

    df = spark.createDataFrame([(1, "A"), (2, "B")], "k int, status string")
    rows = C.audit(df, [C.not_null("k"), C.unique("k"), C.accepted_values("status", ["A", "B"])]).collect()
    assert all(r["passed"] and r["n_violations"] == 0 for r in rows)


def test_triangle_count_known_graph(spark):
    """Exact triangles on a hand-checkable graph: K4 has 4 triangles, a
    square has 0, and attaching a pendant edge changes nothing."""
    from pipeline_etl_website_visits_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    square = [(10, 11), (11, 12), (10, 13), (12, 13)]  # 4-cycle, no chord
    pendant = [(3, 20)]
    edges = spark.createDataFrame(k4 + square + pendant, "a int, b int")
    row = triangle_count(edges).first()
    assert row["n_triangles"] == 4
    assert row["n_edges"] == len(k4) + len(square) + len(pendant)
    assert row["n_nodes"] == 4 + 4 + 1


def test_constraint_audit_empty_table_passes_all(spark):
    """An empty table violates nothing: every check (row-kind AND
    uniqueness) must report 0 violations and a real passed=True, never
    NULL from a zero-row SUM."""
    from pipeline_etl_website_visits_spark.operators import constraints as C

    df = spark.createDataFrame([], "k int, status string, v int")
    rows = C.audit(
        df,
        [C.not_null("k"), C.unique("k"), C.accepted_values("status", ["A"]), C.between("v", 0, 1)],
    ).collect()
    assert len(rows) == 4
    assert all(r["n_violations"] == 0 and r["passed"] is True and r["n_rows"] == 0 for r in rows)


def test_zipf_slope_exact_hand_computed(spark):
    """Three tokens with counts 4/2/1 → hand-computable integer-quantized
    OLS slope; the operator must reproduce it digit-for-digit."""
    import math

    df = spark.createDataFrame(
        [(1, "a a a a b b c")], "doc_id long, text string"
    )
    out = T.zipf_slope(df, "text").collect()[0]
    assert out["n_points"] == 3
    xs = [math.floor(math.log(r) * 1e6) for r in (1, 2, 3)]
    ys = [math.floor(math.log(c) * 1e6) for c in (4, 2, 1)]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    want = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    assert out["zipf_slope"] == want


def test_source_overlap_matrix_hand_computed(spark):
    """Three sources; s1/s2 share one trigram, s3 shares none."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "s1"),
            (2, "a quick brown fox sleeps", "s2"),
            (3, "entirely different words here now", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r["shared_grams"]
        for r in D.source_overlap_matrix(df, "text", "doc_id", "source").collect()
    }
    # shared trigram: 'quick brown fox' only
    assert out == {("s1", "s2"): 1}


def test_pca_matches_numpy(spark):
    """pca_fit/pca_project vs a full numpy PCA on the same matrix: the
    distributed moment pass + driver eigh must recover the same basis
    (up to the shared sign canonicalization), projections, and variance
    ratios."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import pca_fit, pca_project

    rng = np.random.RandomState(11)
    # planted 2-factor structure in 8 dims so the top eigenpairs are well separated
    base = rng.standard_normal((200, 2)) @ rng.standard_normal((2, 8)) * 3.0
    m = base + rng.standard_normal((200, 8)) * 0.1
    df = spark.createDataFrame(
        [(i, m[i].tolist()) for i in range(m.shape[0])], "vec_id long, embedding array<double>"
    ).repartition(4)

    comps, mean, ratio = pca_fit(df, k=2)

    mu = m.mean(axis=0)
    cov = (m.T @ m) / m.shape[0] - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:2]
    want = evecs[:, order].T.copy()
    top = np.abs(want).argmax(axis=1)
    sg = np.sign(want[np.arange(2), top])
    want *= sg[:, None]

    assert np.allclose(mean, mu, atol=1e-9)
    assert np.allclose(comps, want, atol=1e-6), (comps, want)
    want_ratio = np.clip(evals[order], 0, None) / evals.sum()
    assert np.allclose(ratio, want_ratio, atol=1e-9)

    got = {r["vec_id"]: np.array(r["pca"]) for r in pca_project(df, comps, mean).collect()}
    expect = (m - mu) @ want.T
    for i in range(m.shape[0]):
        assert np.allclose(got[i], expect[i], atol=1e-6)


def test_pca_fit_guards(spark):
    import pytest as _pytest

    from pipeline_etl_website_visits_spark.operators.similarity import pca_fit

    df = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="out of range"):
        pca_fit(df, k=5)
    with _pytest.raises(ValueError, match="empty"):
        pca_fit(df.where("vec_id < 0"), k=1)


def test_bm25_matches_pure_python(spark):
    """bm25_topk vs a row-at-a-time replica of the SAME integer-quantized
    scheme, plus the semantic sanity that matching more query terms with
    shorter docs ranks higher."""
    import math

    from pipeline_etl_website_visits_spark.operators.text import bm25_topk

    corpus = {
        1: "fast hash join beats sort merge join",
        2: "hash table scan",
        3: "the slow full table scan reads every row of the table",
        4: "fast fast hash hash join",
        5: "window functions and aggregation",
    }
    queries = {"qa": "fast hash join", "qb": "table scan"}
    df = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "doc_id long, text string"
    )

    toks = {d: t.split() for d, t in corpus.items()}
    n_docs = len(toks)
    total_len = sum(len(t) for t in toks.values())
    df_t: dict[str, int] = {}
    for t in toks.values():
        for term in set(t):
            df_t[term] = df_t.get(term, 0) + 1

    def score(qtext, did):
        s, matched = 0, 0
        for term in sorted(set(qtext.split())):
            tf = toks[did].count(term)
            if tf == 0:
                continue
            matched += 1
            idf = math.floor(math.log(2.0 * (n_docs + 1) / (2 * df_t[term] + 1)) * 1e6)
            num = tf * 2200 * 1000 * total_len
            den = 1000000 * total_len * tf + 1200 * 250 * total_len + 1200 * 750 * len(toks[did]) * n_docs
            s += math.floor(float(idf) * float(num) / float(den))
        return s, matched

    rows = bm25_topk(df, "text", "doc_id", queries, k=5).collect()
    got = {(r["query_id"], r["doc_id"]): (r["score_micro"], r["n_terms_matched"], r["rank"]) for r in rows}
    for qid, qtext in queries.items():
        expect = []
        for did in corpus:
            s, mt = score(qtext, did)
            if mt:
                expect.append((-s, did, mt))
        expect.sort()
        for rank, (negs, did, mt) in enumerate(expect, start=1):
            assert got[(qid, did)] == (-negs, mt, rank), (qid, did, got.get((qid, did)), (-negs, mt, rank))
    # doc 1 matches all three qa terms; doc 3 is long and matches qb terms diluted
    qa = sorted(((r["rank"], r["doc_id"]) for r in rows if r["query_id"] == "qa"))
    assert qa[0][1] in (1, 4)  # full-match docs lead
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        bm25_topk(df, "text", "doc_id", {}, k=5)


def test_reciprocal_rank_fusion_integer_semantics(spark):
    """RRF: integer contributions 1e6 div (c+rank), absent-leg docs just
    lose that leg's mass, ties break by doc_id, top-k enforced."""
    from pipeline_etl_website_visits_spark.operators.similarity import reciprocal_rank_fusion

    lex = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)], "query_id string, doc_id long, rank int"
    )
    dense = spark.createDataFrame(
        [("q", 3, 1), ("q", 4, 2)], "query_id string, doc_id long, rank int"
    )
    rows = {r["doc_id"]: r for r in reciprocal_rank_fusion([lex, dense], k=10, c=60).collect()}
    c = 60
    assert rows[3]["rrf_micro"] == 1000000 // (c + 3) + 1000000 // (c + 1)
    assert rows[3]["n_legs"] == 2 and rows[3]["rank"] == 1
    assert rows[1]["rrf_micro"] == 1000000 // (c + 1) and rows[1]["n_legs"] == 1
    assert rows[4]["rrf_micro"] == 1000000 // (c + 2)
    # doc1 (16393) > doc4 (16129) > doc2 (16129)? no: doc4 rank2 dense = doc2 rank2 lex
    # -> equal mass, tie broken by doc_id: doc2 before doc4
    assert rows[1]["rank"] == 2 and rows[2]["rank"] == 3 and rows[4]["rank"] == 4

    top1 = reciprocal_rank_fusion([lex, dense], k=1).collect()
    assert len(top1) == 1 and top1[0]["doc_id"] == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one leg"):
        reciprocal_rank_fusion([], k=5)
    with _pytest.raises(ValueError, match="bad parameters"):
        reciprocal_rank_fusion([lex], k=0)


def test_cosine_topk_with_rank_contract(spark):
    """with_rank=True appends the 1-based dense rank consistent with the
    (sim desc, neighbor_id) order of the rows themselves."""
    from pipeline_etl_website_visits_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i == j) + 0.1 * j for j in range(4)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = cosine_topk(emb.where("vec_id = 0"), emb, k=3, with_rank=True).collect()
    assert [r["rank"] for r in sorted(out, key=lambda r: -r["sim"])] == [1, 2, 3]
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in out)


def test_semantic_dedup_pca_space_matches_full_space(spark):
    """pca_k clusters in reduced space but prunes on ORIGINAL vectors: on
    well-separated planted clusters the kept set is identical to the
    full-space run, and planted near-duplicates are dropped."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(5)
    centers = rng.standard_normal((4, 16)) * 5
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(10):
            v = centers[c] + rng.standard_normal(16) * 0.05
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)

    full = {r["id"] for r in semantic_dedup(df, k=4, iters=4, threshold=0.999).collect()}
    reduced = {r["id"] for r in semantic_dedup(df, k=4, iters=4, threshold=0.999, pca_k=3).collect()}
    assert full == reduced
    # members of one tight cluster are >0.999 cosine to each other ->
    # exactly one survivor per planted cluster at this threshold
    assert len(reduced) == 4


def test_reciprocal_rank_fusion_rejects_zero_rank(spark):
    import pytest as _pytest

    from pipeline_etl_website_visits_spark.operators.similarity import reciprocal_rank_fusion

    bad = spark.createDataFrame([("q", 1, 0)], "query_id string, doc_id long, rank int")
    with _pytest.raises(Exception, match="rank must be >= 1"):
        reciprocal_rank_fusion([bad], k=5).collect()


def test_kmeans_integer_matches_pure_python(spark):
    """kmeans_integer_summary vs a numpy replica of the SAME integer Lloyd
    run (micro-quantization, exact int distances, floor-division centroid
    means, first-min ties) — every count, label and centroid fingerprint
    agrees exactly."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import (
        kmeans_integer_summary,
    )

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((3, 8)) * 2
    rows = []
    for i in range(60):
        c = i % 3
        rows.append(
            (i, (centers[c] + rng.standard_normal(8) * 0.05).tolist(), int(c))
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    k, iters = 3, 4
    q = np.floor(np.asarray([r[1] for r in rows]) * 1e6).astype(np.int64)
    cents = q[:k].copy()
    for _ in range(iters):
        d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        new = cents.copy()
        for j in range(k):
            mask = a == j
            if mask.any():
                new[j] = q[mask].sum(axis=0) // mask.sum()
        cents = new
    d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    expect = {}
    for j in range(k):
        mask = a == j
        if mask.any():
            labs = np.asarray([rows[i][2] for i in np.flatnonzero(mask)])
            vals, cnts = np.unique(labs, return_counts=True)
            top_i = np.lexsort((vals, -cnts))[0]
            expect[j] = (
                int(mask.sum()),
                int(vals[top_i]),
                int(cnts[top_i]),
                int(np.abs(cents[j]).sum()),
            )

    got = {
        r["cluster_id"]: (
            r["n_members"], r["top_label"], r["top_label_n"], r["centroid_l1_micro"]
        )
        for r in kmeans_integer_summary(df, k=k, iters=iters).collect()
    }
    assert got == expect
    # planted structure recovered: each cluster is label-pure
    assert all(v[0] == v[2] for v in got.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="codebook contract"):
        kmeans_integer_summary(df.filter(F.col("vec_id") >= 2), k=3)


def test_semantic_dedup_codebook_matches_pure_python(spark):
    """The codebook + rounded-threshold SemDeDup path (x96's certified
    form) vs a numpy replica: codebook assignment (cosine argmax, ties to
    the lowest centroid id) and within-cluster lower-id pruning on the
    4-dp-rounded cosine."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(11)
    base = rng.standard_normal((20, 6))
    vecs = base.copy()
    vecs[7] = vecs[3] * 1.7          # exact duplicate direction of 3
    vecs[15] = vecs[3] * 0.9 + 1e-4  # near-duplicate of 3
    rows = [(i, vecs[i].tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    k, thr = 4, 0.95
    m = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    c = m[:k]
    a = (m @ c.T).argmax(axis=1)
    expect_kept = set()
    for j in range(k):
        ids = np.flatnonzero(a == j)
        mm = m[ids]
        sims = np.round(mm @ mm.T, 4)
        dup = (np.triu(sims, 1) > thr).any(axis=0)
        expect_kept |= set(ids[~dup].tolist())

    got = {
        r["id"] for r in semantic_dedup(
            df, k=k, threshold=thr, centroids="codebook", round_dp=4
        ).collect()
    }
    assert got == expect_kept
    assert 7 not in got or 3 not in got  # the planted dup pair collapsed

    import pytest as _pytest

    with _pytest.raises(ValueError, match="centroids must be"):
        semantic_dedup(df, centroids="nope")
    with _pytest.raises(ValueError, match="pca_k only applies"):
        semantic_dedup(df, centroids="codebook", pca_k=2)


def test_ivf_topk_codebook_matches_pure_python(spark):
    """The codebook-centroid IVF path (x41's certified form): assignment
    and probe sets from cosine argmax against rows id<k, candidates only
    from probed lists, exact cosine ranking — vs a numpy replica."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((40, 8))
    rows = [(i, vecs[i].tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3)

    k, nc, nprobe, topk = 3, 4, 2, 5
    m = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    c = m[:nc]
    asg = (m @ c.T).argmax(axis=1)
    expect = {}
    for qid in range(3):
        probes = np.argsort(-(m[qid] @ c.T), kind="stable")[:nprobe]
        cand = [i for i in range(40) if asg[i] in probes and i != qid]
        sims = [(float(m[qid] @ m[i]), i) for i in cand]
        sims.sort(key=lambda t: (-t[0], t[1]))
        expect[qid] = [(i, round(s, 4)) for s, i in sims[:topk]]
    got = {}
    for r in ivf_topk(queries, df, k=topk, num_centroids=nc, nprobe=nprobe, centroids="codebook").collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["sim"]))
    for qid in got:
        got[qid].sort(key=lambda t: (-t[1], t[0]))
    assert got == expect

    import pytest as _pytest

    with _pytest.raises(ValueError, match="codebook contract"):
        ivf_topk(queries, df.filter(F.col("vec_id") >= 2), k=2, num_centroids=4, centroids="codebook")
    with _pytest.raises(ValueError, match="centroids must be"):
        ivf_topk(queries, df, centroids="nope")


def test_pagerank_integer_matches_pure_python(spark):
    """pagerank_integer vs a dict-based replica of the same integer
    iteration (floor-division contributions, milli damping) — every rank
    agrees exactly, including a dangling-receiver topology."""
    from pipeline_etl_website_visits_spark.operators.graph import pagerank_integer

    raw = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (4, 1)]  # 4 -> 1 one-way
    df = spark.createDataFrame(raw, "src long, dst long")

    nodes = {n for e in raw for n in e}
    deg = {}
    for s, _ in raw:
        deg[s] = deg.get(s, 0) + 1
    r = {n: 1_000_000 for n in nodes}
    for _ in range(5):
        im = {n: 0 for n in nodes}
        for s, d in raw:
            im[d] += r[s] // deg[s]
        r = {n: 150_000 + (850 * im[n]) // 1000 for n in nodes}

    got = {row["node"]: row["rank_micro"] for row in pagerank_integer(df, iters=5).collect()}
    assert got == r
    # hub 1 outranks the one-way source 4
    assert got[1] > got[4]


def test_quantized_lsh_bucket_matches_pure_python(spark):
    """quantized=True buckets on exact integer-micro dots: replicate with
    numpy int64 and assert identical bucket ids (x26's certificate
    geometry), and that ann_lsh_topk emits only same-bucket neighbors."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import (
        ann_lsh_topk,
        hyperplanes,
    )

    rng = np.random.RandomState(5)
    vecs = rng.standard_normal((30, 8))
    rows = [(i, vecs[i].tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    planes = np.floor(np.asarray(hyperplanes(8, 4, 42)) * 1e6).astype(np.int64)
    q = np.floor(vecs * 1e6).astype(np.int64)
    buckets = ((q @ planes.T > 0) @ (1 << np.arange(4))).astype(int)

    out = ann_lsh_topk(
        df.filter(F.col("vec_id") < 3), df, k=5, num_planes=4, quantized=True
    ).collect()
    assert out, "bucketed ANN should find same-bucket neighbors"
    for r in out:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]


def test_cosine_topk_widths_matches_per_width_topk(spark):
    """The fused multi-width kernel (one corpus pass for the whole MRL
    eval) must be bit-identical, per width, to independent cosine_topk
    runs over sliced columns — including the full-dimension leg."""
    import numpy as np

    from pipeline_etl_website_visits_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_widths,
    )

    rng = np.random.RandomState(11)
    vecs = rng.rand(40, 16)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(40)], "vec_id long, embedding array<double>"
    )
    q = df.filter(F.col("vec_id") < 3)
    q_rows = [(r["vec_id"], r["embedding"]) for r in q.collect()]

    multi = cosine_topk_widths(df, [16, 4, 8], q_rows, k=5).collect()
    by_w = {}
    for r in multi:
        by_w.setdefault(r["trunc_dim"], []).append(
            (r["query_id"], r["neighbor_id"], r["sim"])
        )
    for w in (16, 4, 8):
        tq = [(i, v[:w]) for i, v in q_rows]
        tc = df.select("vec_id", F.slice("embedding", 1, w).alias("embedding"))
        solo = [
            (r["query_id"], r["neighbor_id"], r["sim"])
            for r in cosine_topk(tc, tc, k=5, precollected_queries=tq).collect()
        ]
        assert sorted(by_w[w]) == sorted(solo), w

    # empty query set contract
    assert cosine_topk_widths(df, [4], [], k=5).count() == 0


def test_cosine_topk_widths_zero_prefix_no_nan(spark):
    """ADVICE r13: a vector whose first w dims are all zero must score
    0.0 (clamped norm), not NaN — NaN would rank LAST under numpy lexsort
    but FIRST under SQL ORDER BY, a silent oracle divergence."""
    import math

    from pipeline_etl_website_visits_spark.operators.similarity import (
        cosine_topk_widths,
    )

    rows = [
        (0, [0.0, 0.0, 1.0, 2.0]),  # zero 2-prefix
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [1.0, 2.0, 0.0, 0.0]),
        (3, [2.0, 1.0, 3.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [(0, rows[0][1]), (2, rows[2][1])]
    out = cosine_topk_widths(df, [2, 4], q, k=3).collect()
    assert all(not math.isnan(r["sim"]) for r in out)
    by_key = {}
    for r in out:
        by_key.setdefault((r["trunc_dim"], r["query_id"]), []).append(r)
    # zero-prefix query 0 at w=2: every sim exactly 0, ranked by id asc
    z = sorted(by_key[(2, 0)], key=lambda r: r["neighbor_id"])
    assert [r["sim"] for r in z] == [0.0, 0.0, 0.0]
    assert [r["neighbor_id"] for r in z] == [1, 2, 3]
    # zero-prefix CANDIDATE 0 under query 2 at w=2 scores 0 — ranked last
    ranked = by_key[(2, 2)]
    assert {r["neighbor_id"]: r["sim"] for r in ranked}[0] == 0.0
