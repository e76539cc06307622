"""Unit tests for the second curation wave: repetition metrics, quota caps,
sliding-window chunking, document frequency, containment near-dup."""

import pyspark.sql.functions as F

from pipeline_etl_website_visits_spark.operators import dedup as D
from pipeline_etl_website_visits_spark.operators import text as T


def test_repetition_features_counts_and_tie_rule(spark):
    df = spark.createDataFrame(
        [(1, "a a a b c"), (2, "x y"), (3, "t t u u")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_features(df, "text", "doc_id").collect()}
    assert out[1]["n_tokens"] == 5 and out[1]["n_distinct_tokens"] == 3
    assert out[1]["top_token"] == "a" and out[1]["top_token_frac"] == 0.6
    assert out[1]["dup_token_ratio"] == 0.4
    assert out[2]["dup_token_ratio"] == 0.0
    # tie (t:2, u:2) -> lexicographically greatest token wins
    assert out[3]["top_token"] == "u" and out[3]["top_token_frac"] == 0.5


def test_chunk_documents_boundaries(spark):
    doc = " ".join(f"w{i}" for i in range(100))  # n=100, w=50, s=40 -> 3 chunks
    short = "a b c"  # n=3 -> 1 chunk of 3
    df = spark.createDataFrame([(1, doc), (2, short)], "doc_id int, text string")
    rows = T.chunk_documents(df, "text", "doc_id", window=50, stride=40).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_chunk_tokens"] for r in c1] == [50, 50, 20]  # tail covered
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 3
    # overlap: chunk 1 starts at token 40 -> shares tokens 40..49 with chunk 0
    assert c1[0]["chunk_md5"] != c1[1]["chunk_md5"]


def test_quota_per_key_caps_and_orders(spark):
    rows = [(i, "srcA", 100 - i) for i in range(20)] + [(100, "srcB", 5)]
    df = spark.createDataFrame(rows, "doc_id int, source string, n_chars int")
    out = T.quota_per_key(df, "source", "n_chars", "doc_id", quota=3).collect()
    a = sorted(r["doc_id"] for r in out if r["source"] == "srcA")
    assert a == [0, 1, 2]  # highest n_chars kept
    assert [r["doc_id"] for r in out if r["source"] == "srcB"] == [100]


def test_doc_frequency_is_per_document(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a c"), (3, "c c")], "doc_id int, text string"
    )
    out = {r["token"]: r["doc_freq"] for r in T.doc_frequency(df, "text", "doc_id").collect()}
    # df counts documents, not occurrences
    assert out == {"a": 2, "c": 2, "b": 1}


def test_containment_catches_subset_jaccard_misses(spark):
    short = "one two three four five six"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame([(1, short), (2, long), (3, "x y z w v u")], "doc_id int, text string")
    cont = D.shingle_containment_pairs(df, "text", "doc_id", n=3, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in cont] == [(1, 2, 1.0)]
    # Jaccard at the same bar misses the pair entirely
    jac = D.shingle_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.9).collect()
    assert jac == []


def test_shared_gram_index_composes_identically(spark):
    """One gram_index feeding Jaccard + containment + MinHash produces
    bit-identical results to three independent scans (the composed-pipeline
    scan-sharing path)."""
    from pipeline_etl_website_visits_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    idx = D.gram_index(docs, "text", "doc_id", n=3)
    try:
        for fn, kw in (
            (D.shingle_jaccard_pairs, dict(threshold=0.2)),
            (D.shingle_containment_pairs, dict(threshold=0.5)),
            (D.minhash_lsh_pairs, dict(verify_threshold=0.2)),
        ):
            shared = sorted(map(tuple, fn(docs, "text", "doc_id", grams=idx, **kw).collect()))
            solo = sorted(map(tuple, fn(docs, "text", "doc_id", **kw).collect()))
            assert shared == solo, fn.__name__
        # the skew cap composes with a shared (uncapped) index
        capped_shared = sorted(
            map(tuple, D.shingle_jaccard_pairs(docs, "text", "doc_id", grams=idx, threshold=0.2, max_doc_freq=50).collect())
        )
        capped_solo = sorted(
            map(tuple, D.shingle_jaccard_pairs(docs, "text", "doc_id", threshold=0.2, max_doc_freq=50).collect())
        )
        assert capped_shared == capped_solo
    finally:
        idx.unpersist()
        spark.catalog.clearCache()


def test_precomputed_overlap_composes_identically(spark, tmp_path):
    """A stored pair_overlap relation feeding Jaccard + containment is
    bit-identical to the inline derivation — through a parquet round-trip,
    the shape the family-shared artifact actually serves (r12)."""
    import pytest

    from pipeline_etl_website_visits_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    loc = str(tmp_path / "pairovl")
    D.pair_overlap(docs, "text", "doc_id", n=3).write.parquet(loc)
    ovl = spark.read.schema(D.PAIR_OVERLAP_SCHEMA).parquet(loc)
    for fn, kw in (
        (D.shingle_jaccard_pairs, dict(threshold=0.2)),
        (D.shingle_containment_pairs, dict(threshold=0.5)),
    ):
        served = sorted(map(tuple, fn(docs, "text", "doc_id", overlap=ovl, **kw).collect()))
        inline = sorted(map(tuple, fn(docs, "text", "doc_id", **kw).collect()))
        assert served == inline, fn.__name__
    # derivation-shaping knobs cannot compose with a precomputed relation
    with pytest.raises(ValueError):
        D.shingle_jaccard_pairs(docs, "text", "doc_id", overlap=ovl, max_doc_freq=5)
    with pytest.raises(ValueError):
        D.shingle_jaccard_pairs(docs, "text", "doc_id", overlap=ovl, prefix_filter=True)
    with pytest.raises(ValueError):
        D.shingle_containment_pairs(docs, "text", "doc_id", overlap=ovl, grams=ovl)


def test_shared_pair_overlap_floor_guard(spark):
    """The stored family artifact is floored (j≥0.2 OR c≥0.5); a consumer
    filtering below a floor must fail loudly, and one declaring nothing
    must be rejected — silent pair loss is the failure mode the guard
    exists for."""
    import pytest

    from pipeline_etl_website_visits_spark.queries.llmops import shared_pair_overlap
    from tests.conftest import SF_DIR

    with pytest.raises(ValueError, match="below the stored floor"):
        shared_pair_overlap(spark, SF_DIR, min_jaccard=0.1)
    with pytest.raises(ValueError, match="below the stored floor"):
        shared_pair_overlap(spark, SF_DIR, min_containment=0.3)
    with pytest.raises(ValueError, match="declare"):
        shared_pair_overlap(spark, SF_DIR)


def test_winnowing_guarantees_shared_fingerprint(spark):
    """The winnowing guarantee: two documents sharing a token run of
    >= window + n - 1 tokens (here 4 + 3 - 1 = 6) must share at least one
    fingerprint; disjoint documents share none; the sketch is sparser than
    the full gram set."""
    from pyspark.sql import Row

    from pipeline_etl_website_visits_spark.operators.dedup import (
        winnowing_fingerprint_sets,
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six seven"),
            (2, f"red green blue {shared} cyan magenta yellow"),
            (3, "totally different words with no overlap at all here"),
        ],
        "doc_id int, text string",
    )
    sets: dict[int, set] = {1: set(), 2: set(), 3: set()}
    for r in winnowing_fingerprint_sets(df, "text", "doc_id").collect():
        sets[r["doc_id"]].add(r["fp"])
    assert sets[1] & sets[2], "shared 6-token run must yield a common fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])
    # summary agrees with the sets, and the sketch is sparser than the
    # 13-token documents' 11 grams
    out = {r["doc_id"]: r for r in winnowing_fingerprints(df, "text", "doc_id").collect()}
    for doc_id, fps in sets.items():
        assert out[doc_id]["n_fingerprints"] == len(fps) <= 11
        assert out[doc_id]["min_fp"] == min(fps) and out[doc_id]["max_fp"] == max(fps)


def test_bpe_merges_match_reference(spark):
    """Distributed BPE merge learning == the classic single-machine
    algorithm (word-type counts, lexicographic tie-break) on a small
    corpus."""
    from collections import Counter

    from pipeline_etl_website_visits_spark.operators.text import learn_bpe_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")

    # reference implementation
    words = Counter(w for t in texts for w in t.split())
    vocab = {tuple(list(w[:-1]) + [w[-1] + "</w>"]): c for w, c in words.items()}
    expect = []
    for rank in range(6):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, l, r, l + r, c))
        new_vocab = {}
        for syms, cnt in vocab.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + cnt
        vocab = new_vocab

    got = [
        (r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in learn_bpe_merges(df, "text", num_merges=6).collect()
    ]
    assert got == expect


def test_bpe_token_counts_match_classic_encode(spark):
    """Train merges distributed, apply them distributed, and compare per-doc
    token counts against a classic single-machine encode."""
    from pipeline_etl_website_visits_spark.operators.text import bpe_token_counts, learn_bpe_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    merges = [
        (r["left"], r["right"])
        for r in learn_bpe_merges(df, "text", num_merges=6).collect()
    ]

    def classic_encode(w):
        syms = list(w[:-1]) + [w[-1] + "</w>"]
        for l, r in merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return len(syms)

    expect = {
        i: (len(t.split()), sum(classic_encode(w) for w in t.split()))
        for i, t in enumerate(texts)
    }
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(df, "text", "doc_id", merges).collect()
    }
    assert got == expect
    # merges actually compress: every doc's BPE count < its char count
    for i, t in enumerate(texts):
        assert got[i][1] < sum(len(w) + 1 for w in t.split())


def test_heavy_hitters_exact_on_zipf_corpus(spark):
    """Sketch-then-verify must EQUAL the brute-force count — including a
    heavy token whose occurrences are spread thinly across partitions
    (each partition alone would not rank it top-capacity)."""
    import collections
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    docs = []
    for d in range(64):
        toks = ["hot"] * 4 + [vocab[min(int(rng.expovariate(0.02)), 399)] for _ in range(60)]
        rng.shuffle(toks)
        docs.append((d, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(16)

    got = T.heavy_hitters(df, "text", denom=64, capacity=80).collect()

    exact = collections.Counter(t for _, txt in docs for t in txt.split(" "))
    n = sum(exact.values())
    want = sorted(
        ((t, c) for t, c in exact.items() if c * 64 >= n),
        key=lambda tc: (-tc[1], tc[0]),
    )
    assert [(r["token"], r["cnt"]) for r in got] == want
    assert any(r["token"] == "hot" for r in got)


def test_heavy_hitters_tree_merge_equals_driver_merge(spark):
    """tree_merge=True (the >=10k-partition route: distributed single-task
    fold of the partition sketches) must return EXACTLY the driver-merge
    result. Regression for the r12 bug where the merge task's re-formed
    Arrow batch concatenated many partition sketches and the index-aligned
    Series.add double-added duplicate token labels, so the truncation
    over-subtracted split-count hitters (false negatives) and duplicate
    candidates inflated the recount."""
    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    for d in range(64):
        # "hot" spread thinly: per-partition it never dominates, so its
        # count only survives the merge if duplicate labels fold correctly
        toks = ["hot"] * 3 + [vocab[min(int(rng.expovariate(0.03)), 299)] for _ in range(50)]
        rng.shuffle(toks)
        docs.append((d, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(16)

    driver = [(r["token"], r["cnt"]) for r in T.heavy_hitters(df, "text", denom=64, capacity=80).collect()]
    tree = [(r["token"], r["cnt"]) for r in T.heavy_hitters(df, "text", denom=64, capacity=80, tree_merge=True).collect()]
    assert tree == driver
    assert any(t == "hot" for t, _ in tree)


def test_heavy_hitters_rejects_unsound_capacity(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        T.heavy_hitters(df, "text", denom=256, capacity=100)


def test_cms_estimates_never_underestimate_and_hit_exact_when_wide(spark):
    """Count-min guarantees est >= exact always; with eps far below 1/n the
    sketch is collision-free on this corpus, so est == exact."""
    docs = spark.createDataFrame(
        [(i, ("alpha " * (i + 1)) + "beta gamma") for i in range(20)],
        "doc_id long, text string",
    )
    probes = ["alpha", "beta", "gamma", "absent-token"]
    out = {r["token"]: r for r in T.cms_token_estimates(docs, "text", probes).collect()}
    assert out["alpha"]["exact_count"] == sum(i + 1 for i in range(20))
    assert out["absent-token"]["exact_count"] == 0
    for r in out.values():
        assert r["overestimate"] >= 0
        assert r["cms_estimate"] >= r["exact_count"]
    # eps=1e-4 => width 2719*..; corpus has ~4 distinct tokens: no collisions
    assert all(r["overestimate"] == 0 for r in out.values())


def test_heavy_hitters_ignores_null_text(spark):
    """Null text rows contribute zero tokens (SQL string_split(NULL)
    semantics) — and must not crash the Arrow sketch pass."""
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, None), (3, "b")], "doc_id long, text string"
    )
    got = {(r["token"], r["cnt"]) for r in T.heavy_hitters(df, "text", denom=4, capacity=16).collect()}
    assert got == {("a", 4)}  # 4/5 >= 1/4; b is 1/5 < 1/4


def test_scrub_duplicate_spans_keep_first_semantics(spark):
    """x112 operator: a 5-gram shared across docs is kept only in the
    earliest doc; intra-doc repeats and short docs are untouched; token
    order of survivors is preserved."""
    span = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, f"{span} tail1"),            # earliest owner: keeps the span
            (2, f"head2 {span} tail2"),      # later doc: span removed
            (3, f"{span} {span}"),           # later doc: both occurrences removed
            (4, "solo only short"),           # <5 tokens: never grammed
            (5, "p q r s t p q r s t"),      # intra-doc repeat only: untouched
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.scrub_duplicate_spans(df, "text", "doc_id", n=5).collect()}
    assert out[1]["n_removed"] == 0 and out[1]["text_clean"] == f"{span} tail1"
    assert out[2]["n_removed"] == 5 and out[2]["text_clean"] == "head2 tail2"
    # doc 3: positions 1..10 all covered (two occurrences + bridging grams)
    assert out[3]["n_removed"] == 10 and out[3]["text_clean"] == ""
    assert out[4]["n_removed"] == 0 and out[4]["text_clean"] == "solo only short"
    assert out[5]["n_removed"] == 0 and out[5]["text_clean"] == "p q r s t p q r s t"


def test_scrub_duplicate_spans_partial_overlap(spark):
    """Only the positions covered by a duplicated window go; the doc's
    unique remainder survives in order."""
    df = spark.createDataFrame(
        [
            (10, "a b c d e unique1 unique2"),
            (20, "x a b c d e y z w v"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.scrub_duplicate_spans(df, "text", "doc_id", n=5).collect()}
    assert out[10]["n_removed"] == 0
    assert out[20]["n_removed"] == 5
    assert out[20]["text_clean"] == "x y z w v"


def test_scrub_duplicate_spans_null_text(spark):
    """NULL text passes through as an empty clean text with nothing
    removed (the SQL COALESCE convention), and never poisons grams."""
    df = spark.createDataFrame(
        [(1, None), (2, "a b c d e f"), (3, "z a b c d e f")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.scrub_duplicate_spans(df, "text", "doc_id", n=5).collect()}
    assert out[1]["n_removed"] == 0 and out[1]["text_clean"] == ""
    assert out[2]["n_removed"] == 0
    assert out[3]["n_removed"] == 6 and out[3]["text_clean"] == "z"



def test_scrub_repeated_spans_semantics_and_map_only(spark):
    """x115: intra-doc repeats removed keep-first; cross-doc repeats NOT
    touched (that is x112's job); and the only exchange in the plan is
    the final orderBy's range partitioning — the rewrite itself is
    map-only."""
    import re

    df = spark.createDataFrame(
        [
            (1, "a b c a b c"),    # 3-gram "a b c" repeats at 4 -> drop 4..6
            (2, "a a a a a"),      # "a a a" repeats at 2,3 -> drop 2..5
            (3, "x y z"),          # no repeat
            (4, "x y z w x y z"),  # "x y z" repeats at 5 -> drop 5..7
            (5, "a b c d e"),      # doc 1 has the same grams; must not matter
        ],
        "doc_id int, text string",
    )
    result = T.scrub_repeated_spans(df, "text", "doc_id", n=3)
    out = {r["doc_id"]: r for r in result.collect()}
    assert out[1]["text_clean"] == "a b c" and out[1]["n_removed"] == 3
    assert out[2]["text_clean"] == "a" and out[2]["n_removed"] == 4
    assert out[3]["text_clean"] == "x y z" and out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "x y z w" and out[4]["n_removed"] == 3
    assert out[5]["text_clean"] == "a b c d e"  # cross-doc sameness ignored

    plan = result._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e.startswith("rangepartitioning") for e in exchanges), exchanges


def test_sequence_pack_chunks_matches_naive_global_window(spark):
    """The distributed prefix sum (stripe offsets + partitioned window)
    must be bit-identical to the naive single-partition global window it
    replaces — on an id domain that is SPARSE and irregular, so stripe
    boundaries land mid-stream and several stripes are empty."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pipeline_etl_website_visits_spark.operators.text import (
        sequence_pack_chunks,
        token_count,
    )

    rng = random.Random(42)
    rows = []
    ids = rng.sample(range(0, 100_000), 400)  # sparse, shuffled domain
    for i in ids:
        n = rng.randint(0, 30)  # include zero-token docs
        rows.append((i, " ".join(f"w{j}" for j in range(n)) if n else ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = sequence_pack_chunks(df, "text", "doc_id", budget=37, n_stripes=16)

    counts = (
        df.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = counts.withColumn("cum", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "n_tokens",
        F.expr("(cum - n_tokens) DIV 37").alias("chunk_first"),
        F.expr("(cum - 1) DIV 37").alias("chunk_last"),
        (F.expr("(cum - 1) DIV 37") - F.expr("(cum - n_tokens) DIV 37") + F.lit(1))
        .cast("long")
        .alias("n_chunks"),
        F.expr("(cum - n_tokens) % 37").alias("offset_in_chunk"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))
    # chunk spans tile the stream: consecutive docs meet at chunk borders
    recs = sorted(map(tuple, got.collect()))
    total = sum(r[1] for r in recs)
    assert recs[-1][3] == (total - 1) // 37  # last doc ends in the last chunk


def test_sequence_pack_chunks_edges(spark):
    from pipeline_etl_website_visits_spark.operators.text import sequence_pack_chunks

    import pytest

    with pytest.raises(ValueError, match="budget"):
        sequence_pack_chunks(
            spark.createDataFrame([(1, "a")], "doc_id long, text string"),
            "text", "doc_id", budget=0,
        )
    # all-empty corpus -> empty result with the full schema
    empty = sequence_pack_chunks(
        spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string"),
        "text", "doc_id", budget=8,
    )
    assert empty.count() == 0 and len(empty.columns) == 6
    # one doc longer than the budget spans ceil(n/B) chunks from offset 0
    one = sequence_pack_chunks(
        spark.createDataFrame([(5, " ".join(["t"] * 20))], "doc_id long, text string"),
        "text", "doc_id", budget=8,
    ).collect()[0]
    assert (one["chunk_first"], one["chunk_last"], one["n_chunks"],
            one["offset_in_chunk"]) == (0, 2, 3, 0)


def test_sequence_pack_plan_has_no_single_partition_exchange(spark):
    """The whole point of the striped prefix sum: the naive global-window
    spelling serializes the corpus through ONE task. Pin the distributed
    plan — zero Exchange SinglePartition, the within-stripe window hash-
    partitioned, the stripe offsets broadcast."""
    from pipeline_etl_website_visits_spark.operators.text import sequence_pack_chunks

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        sequence_pack_chunks(docs, "text", "doc_id", budget=256)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(stripe" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_greedy_pack_bins_matches_reference_fold(spark):
    """Whole-doc greedy packing vs a plain Python reference fold on random
    multi-group data — exercising exact-fit boundaries (fill + n == budget
    stays in the bin; strictly greater opens a new one), oversize docs
    (own bin), zero-token exclusion, and group independence."""
    import random

    from pipeline_etl_website_visits_spark.operators.text import greedy_pack_bins

    rng = random.Random(7)
    rows, budget = [], 50
    for i in range(300):
        grp = f"s{rng.randint(0, 4)}"
        n = rng.choice([0, 1, 5, 10, 25, 49, 50, 51, 80])  # includes > budget
        rows.append((grp, i, " ".join(f"w{j}" for j in range(n)) if n else ""))
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = sorted(
        map(tuple, greedy_pack_bins(df, "text", "doc_id", "source", budget=budget).collect())
    )

    want = []
    for grp in sorted({r[0] for r in rows}):
        fill, bin_ix = 0, 0
        for _, did, txt in sorted(r for r in rows if r[0] == grp):
            n = len(txt.split()) if txt.strip() else 0
            if n == 0:
                continue
            if fill > 0 and fill + n > budget:
                bin_ix += 1
                fill = 0
            want.append((grp, did, n, bin_ix, fill))
            fill += n
    assert got == sorted(want) and len(got) > 0
    # every bin respects the budget unless it holds a single oversize doc
    by_bin = {}
    for grp, did, n, b, off in got:
        by_bin.setdefault((grp, b), []).append(n)
    for (grp, b), ns in by_bin.items():
        assert sum(ns) <= budget or len(ns) == 1, ((grp, b), ns)

    import pytest

    with pytest.raises(ValueError, match="budget"):
        greedy_pack_bins(df, "text", "doc_id", "source", budget=0)


def test_greedy_pack_bins_int_group_key(spark):
    """The grp output field carries the CALLER's group type (ADVICE r8):
    the docstring recommends fine grouping keys like an int shard id,
    which the old hardcoded 'grp string' schema rejected with an Arrow
    mismatch at runtime."""
    from pipeline_etl_website_visits_spark.operators.text import greedy_pack_bins

    df = spark.createDataFrame(
        [(7, 1, "a b c"), (7, 2, "d e"), (9, 3, "f g h i")],
        "shard int, doc_id long, text string",
    )
    out = greedy_pack_bins(df, "text", "doc_id", "shard", budget=4)
    assert out.schema["grp"].dataType.simpleString() == "int"
    got = sorted(map(tuple, out.collect()))
    assert got == [(7, 1, 3, 0, 0), (7, 2, 2, 1, 0), (9, 3, 4, 0, 0)]


def test_leakage_free_split_is_deterministic_and_leak_free(spark):
    """Exact copies of a document get the SAME split (the leakage-free
    contract), assignment is rerun-stable, fractions are roughly honored,
    and a cluster key moves whole groups together."""
    import pyspark.sql.functions as F

    from pipeline_etl_website_visits_spark.operators.text import (
        leakage_free_split,
        split_bounds,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant exact copies under new ids
    copies = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(copies)
    out = leakage_free_split(both, "text", "doc_id").collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    orig = {r["doc_id"]: r["text"] for r in docs.limit(10).collect()}
    for did in orig:
        assert by_id[did] == by_id[did + 1_000_000], "copy crossed the split"
    # rerun-stable
    again = {r["doc_id"]: r["split"] for r in leakage_free_split(both, "text", "doc_id").collect()}
    assert by_id == again
    # all three splits appear and train dominates on a 500-doc corpus
    from collections import Counter

    c = Counter(by_id.values())
    assert set(c) == {"train", "val", "test"} and c["train"] > c["val"] + c["test"]
    # cluster key: every member of a group gets the group's split
    grouped = leakage_free_split(
        docs, "text", "doc_id", key=F.col("doc_id") % 7
    ).collect()
    docs_rows = {r["doc_id"]: r["doc_id"] % 7 for r in docs.collect()}
    by_cluster = {}
    for r in grouped:
        by_cluster.setdefault(docs_rows[r["doc_id"]], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # bounds validation
    import pytest

    with pytest.raises(ValueError, match="train"):
        split_bounds(0.9, 0.2)


def test_oov_counts_exact_and_bounded(spark):
    import pyspark.sql.functions as F
    import pytest

    from pipeline_etl_website_visits_spark.operators.text import oov_counts

    df = spark.createDataFrame(
        [
            ("a", 1, "x y z"),
            ("a", 2, "x q"),        # q is OOV
            ("b", 3, "Q  X"),       # normalizes to 'q x': one OOV
            ("b", 4, ""),           # '' token: OOV (both engines agree)
        ],
        "source string, doc_id long, text string",
    )
    got = {r["source"]: (r["n_tokens"], r["n_oov"]) for r in
           oov_counts(df, ["x", "y", "z"], "text", "doc_id", "source").collect()}
    assert got == {"a": (5, 1), "b": (3, 2)}
    with pytest.raises(ValueError, match="vocab"):
        oov_counts(df, ["t"] * 200_001, "text", "doc_id", "source")
    # ADVICE r9 (low): empty vocab = clear error, not an opaque zero-arg
    # F.array() analysis failure
    with pytest.raises(ValueError, match="non-empty vocab"):
        oov_counts(df, [], "text", "doc_id", "source")


def test_epoch_shuffle_is_deterministic_distinct_and_complete(spark):
    """Each epoch is a permutation of the corpus (complete, no dup
    positions within a bucket), different epochs order differently, and
    reruns are bit-identical (the resume-safety contract)."""
    import pytest

    from pipeline_etl_website_visits_spark.operators.text import epoch_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    out = epoch_shuffle(docs, "doc_id", epochs=2, n_buckets=16).collect()
    assert len(out) == 2 * n
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append(r)
    for e, rows in by_epoch.items():
        assert len(rows) == n and len({r["doc_id"] for r in rows}) == n
        # positions within a bucket are 1..len(bucket), no gaps/dups
        buckets = {}
        for r in rows:
            buckets.setdefault(r["bucket"], []).append(r["pos_in_bucket"])
        for b, ps in buckets.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), (e, b)
    # epochs disagree on order (salt:epoch in the key)
    o0 = sorted((r["bucket"], r["pos_in_bucket"], r["doc_id"]) for r in by_epoch[0])
    o1 = sorted((r["bucket"], r["pos_in_bucket"], r["doc_id"]) for r in by_epoch[1])
    assert [t[2] for t in o0] != [t[2] for t in o1]
    # rerun-stable
    again = epoch_shuffle(docs, "doc_id", epochs=2, n_buckets=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError, match="hex-prefix"):
        epoch_shuffle(docs, "doc_id", n_buckets=100)
    with pytest.raises(ValueError, match="epochs"):
        epoch_shuffle(docs, "doc_id", epochs=0)


def test_dup_gram_stats_counts(spark):
    from pipeline_etl_website_visits_spark.operators.text import dup_gram_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),     # grams: aba,bab,aba,bab -> 4 total, 2 dups
            (2, "x y z"),           # exactly one gram, no dups
            (3, "q r"),             # shorter than n -> 0 grams
            (4, ""),                # empty -> 0 grams
            (5, "t t t t"),         # ttt,ttt -> 2 total, 1 dup
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
           for r in dup_gram_stats(df, "text", "doc_id", n=3).collect()}
    assert got == {1: (4, 2), 2: (1, 0), 3: (0, 0), 4: (0, 0), 5: (2, 1)}


def test_length_histogram_buckets(spark):
    from pipeline_etl_website_visits_spark.operators.text import length_histogram

    rows = [
        ("a", 1, "w"),                               # 1 token  -> bucket 0
        ("a", 2, "w w"),                             # 2 tokens -> bucket 1
        ("a", 3, "w w w"),                           # 3 tokens -> bucket 1
        ("a", 4, " ".join(["w"] * 4)),               # 4 tokens -> bucket 2
        ("b", 5, ""),                                # empty    -> bucket -1
        ("b", 6, " ".join(["w"] * 1024)),            # 1024     -> bucket 10
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {(r["source"], r["len_bucket"]): (r["n_docs"], r["total_tokens"])
           for r in length_histogram(df, "text", "doc_id", "source").collect()}
    assert got == {
        ("a", 0): (1, 1), ("a", 1): (2, 5), ("a", 2): (1, 4),
        ("b", -1): (1, 0), ("b", 10): (1, 1024),
    }


def test_stratified_top_fraction_boundary_and_ties(spark):
    """Integer boundary: 700 per-mille of 10 rows keeps exactly rank<=7;
    score ties break by id (deterministic set); tiny groups keep
    ceil-consistent counts (1 row at 700permille -> 0 kept: 1*1000>700)."""
    import pyspark.sql.functions as F
    from pipeline_etl_website_visits_spark.operators.text import stratified_top_fraction

    rows = [("a", i, 100 - (i // 2)) for i in range(10)]  # ties in pairs
    rows += [("b", 100, 5)]  # singleton group
    df = spark.createDataFrame(rows, "grp string, id long, score long")
    kept = stratified_top_fraction(df, F.col("score"), "grp", "id", 700)
    got = sorted((r["grp"], r["id"]) for r in kept.collect())
    # group a: ranks 1..7 by (score desc, id) = ids 0..6
    assert got == [("a", i) for i in range(7)]
    # keep everything / keep nothing
    assert stratified_top_fraction(df, F.col("score"), "grp", "id", 1000).count() == 11
    assert stratified_top_fraction(df, F.col("score"), "grp", "id", 0).count() == 0
    import pytest

    with pytest.raises(ValueError, match="keep_per_mille"):
        stratified_top_fraction(df, F.col("score"), "grp", "id", 1001)


def test_gram_diversity_exact_counts(spark):
    """Hand-counted: instances include repeats, distinct dedups ACROSS
    docs in a group; docs shorter than n contribute nothing; empty
    groups absent."""
    from pipeline_etl_website_visits_spark.operators.text import gram_diversity

    df = spark.createDataFrame(
        [
            ("s1", 1, "a b c a b c"),   # grams: abc bca cab abc -> 4 inst, 3 distinct
            ("s1", 2, "a b c"),         # abc -> dup of s1's type
            ("s2", 3, "x y"),           # too short: 0 grams
            ("s2", 4, "p q r"),         # pqr
        ],
        "source string, doc_id long, text string",
    )
    got = {
        r["source"]: (r["n_gram_instances"], r["n_distinct_grams"], r["ttr_permille"])
        for r in gram_diversity(df, "text", "doc_id", "source").collect()
    }
    assert got == {"s1": (5, 3, 600), "s2": (1, 1, 1000)}


def test_boilerplate_prefixes_ranks_and_thresholds(spark):
    """min_docs filters singletons; rank orders by (count desc, prefix);
    normalization folds case/whitespace; short docs excluded."""
    from pipeline_etl_website_visits_spark.operators.text import boilerplate_prefixes

    df = spark.createDataFrame(
        [
            ("s", 1, "Terms of service apply here"),
            ("s", 2, "terms OF  service differ completely"),
            ("s", 3, "terms of service again"),
            ("s", 4, "all rights reserved footer text"),
            ("s", 5, "all rights reserved"),
            ("s", 6, "unique document body"),
            ("s", 7, "ab cd"),  # too short
        ],
        "source string, doc_id long, text string",
    )
    got = [
        (r["prefix"], r["n_docs"], r["rank"])
        for r in boilerplate_prefixes(df, "text", "source", n=3, min_docs=2, top=5)
        .orderBy("rank")
        .collect()
    ]
    assert got == [
        ("terms of service", 3, 1),
        ("all rights reserved", 2, 2),
    ]


def test_token_budget_mixture_branches_and_dict_api(spark):
    """Cap-bound vs target-bound vs zero-available; dict weights map to
    the same plan (missing group -> weight 0)."""
    import pyspark.sql.functions as F
    import pytest
    from pipeline_etl_website_visits_spark.operators.text import token_budget_mixture

    df = spark.createDataFrame(
        [
            ("rich", "a b c d e f g h i j"),   # 10 tokens
            ("rich", "a b c d e f g h i j"),   # 20 total
            ("poor", "a b"),                   # 2 tokens
            ("empty", "   "),                  # 0 tokens
        ],
        "source string, text string",
    )
    out = {
        r["source"]: r
        for r in token_budget_mixture(
            df, "text", "source",
            {"rich": 500, "poor": 500},  # "empty" absent -> 0
            budget_tokens=40, cap_per_mille=3000,
        ).collect()
    }
    # rich: target 20, ceiling 60 -> target-bound; exactly 1.0 epochs
    assert (out["rich"]["target_tokens"], out["rich"]["granted_tokens"]) == (20, 20)
    assert out["rich"]["epochs_permille"] == 1000 and out["rich"]["unmet_tokens"] == 0
    # poor: target 20, ceiling 2*3 = 6 -> cap-bound at 3 epochs
    assert (out["poor"]["granted_tokens"], out["poor"]["epochs_permille"]) == (6, 3000)
    assert out["poor"]["unmet_tokens"] == 14
    # empty: no tokens, nothing granted, no division blow-up
    assert (out["empty"]["available_tokens"], out["empty"]["granted_tokens"],
            out["empty"]["epochs_permille"]) == (0, 0, 0)
    with pytest.raises(ValueError, match="budget_tokens"):
        token_budget_mixture(df, "text", "source", {"rich": 1}, budget_tokens=-1)


def test_ohlc_resample_bars(spark):
    """Hand-built bars: open = earliest (tiebreak by id), close = latest,
    high/low exact in integer cents; buckets split on the hour."""
    import datetime as dt

    from pipeline_etl_website_visits_spark.operators.timeseries import ohlc_resample

    T0 = dt.datetime(2026, 3, 1, 10, 0, 0)
    rows = [
        (1, T0, "m", 1.50),
        (2, T0, "m", 9.99),                         # same ts as 1: id breaks tie
        (3, T0 + dt.timedelta(minutes=30), "m", 0.25),
        (4, T0 + dt.timedelta(minutes=59), "m", 4.00),
        (5, T0 + dt.timedelta(hours=1), "m", 7.77),  # next bar
        (6, T0, "k", 2.00),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    got = {
        (r["event_type"], r["bucket_ts"]): (
            r["open_c"], r["high_c"], r["low_c"], r["close_c"], r["n_events"]
        )
        for r in ohlc_resample(df, "ts", "value", "event_type", "event_id").collect()
    }
    assert got[("m", "2026-03-01 10:00:00")] == (150, 999, 25, 400, 4)
    assert got[("m", "2026-03-01 11:00:00")] == (777, 777, 777, 777, 1)
    assert got[("k", "2026-03-01 10:00:00")] == (200, 200, 200, 200, 1)


def test_substring_decontam_automaton_matches_literal(spark):
    """The Aho-Corasick engine is bit-identical to the plan-literal
    contains scan — including overlapping needles, needles nested in
    needles, repeated occurrences (distinct-needle counting), and NULL
    text — and engine='auto' flips on needle count."""
    from pipeline_etl_website_visits_spark.operators.text import (
        substring_decontam_hits,
    )

    docs = spark.createDataFrame(
        [
            (1, "ababa banana and cocoa"),       # 'aba' twice (overlap), 'ana' twice
            (2, "the cocoa coconut"),
            (3, None),
            (4, "nothing relevant"),
            (5, "aba"),
        ],
        "doc_id long, text string",
    )
    needles = ["aba", "ana", "coco", "cocoa", "banana"]
    lit = substring_decontam_hits(docs, needles, engine="literal").collect()
    ac = substring_decontam_hits(docs, needles, engine="automaton").collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, ac))
    got = {r["doc_id"]: r["n_hits"] for r in ac}
    # doc 1: aba, ana, coco, cocoa, banana -> 5 distinct needles
    # (overlapping and repeated occurrences count once)
    assert got == {1: 5, 2: 2, 5: 1}

    # auto: past 256 needles the automaton path engages and still agrees
    import random

    rng = random.Random(7)
    big = needles + ["".join(rng.choices("xyz", k=6)) for _ in range(300)]
    a = substring_decontam_hits(docs, big, engine="literal").collect()
    b = substring_decontam_hits(docs, big, engine="auto").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    import pytest

    with pytest.raises(ValueError, match="engine"):
        substring_decontam_hits(docs, needles, engine="grep")


def test_stratified_top_fraction_histogram_equals_window(spark):
    """The mega-group histogram two-pass returns the IDENTICAL kept set
    as the window formulation — across tie-heavy seeded data and every
    boundary-shaped keep fraction, including 0 and 1000."""
    import random

    import pyspark.sql.functions as F
    from pipeline_etl_website_visits_spark.operators.text import stratified_top_fraction

    rng = random.Random(42)
    rows = [
        (f"g{rng.randrange(3)}", i, rng.randrange(8))  # 8 score values: heavy ties
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, score long")
    for pm in (0, 137, 500, 700, 999, 1000):
        a = sorted(
            map(tuple, stratified_top_fraction(df, F.col("score"), "grp", "id", pm).collect())
        )
        b = sorted(
            map(
                tuple,
                stratified_top_fraction(
                    df, F.col("score"), "grp", "id", pm, method="histogram"
                ).collect(),
            )
        )
        assert a == b, pm
    # schema preserved, helper columns gone
    out = stratified_top_fraction(df, F.col("score"), "grp", "id", 500, method="histogram")
    assert out.columns == df.columns


def test_stratified_top_fraction_big_group_no_int_overflow(spark):
    """Review r10 finding: row_number() is 32-bit; rank*1000 must happen
    in LONG or groups past ~2.1M rows wrap negative and keep tail rows.
    2.2M-row single group at 500 per-mille keeps exactly 1.1M."""
    import pyspark.sql.functions as F
    from pipeline_etl_website_visits_spark.operators.text import stratified_top_fraction

    df = spark.range(2_200_000).select(
        F.lit("g").alias("grp"), F.col("id"), (F.col("id") % 97).alias("score")
    )
    kept = stratified_top_fraction(df, F.col("score"), "grp", "id", 500)
    assert kept.count() == 1_100_000


def test_stratified_top_fraction_null_scores_method_equality(spark):
    """Review r10 finding: NULL scores (and NULL groups) are regular keys
    in both formulations — the histogram join must be null-safe or those
    rows silently vanish from one method only."""
    import pyspark.sql.functions as F
    from pipeline_etl_website_visits_spark.operators.text import stratified_top_fraction

    df = spark.createDataFrame(
        [("g", 1, 5), ("g", 2, None), ("g", 3, 7), ("g", 4, None), (None, 5, 1)],
        "grp string, id long, score long",
    )
    for pm in (400, 800, 1000):
        a = {tuple(r) for r in stratified_top_fraction(df, F.col("score"), "grp", "id", pm).collect()}
        b = {
            tuple(r)
            for r in stratified_top_fraction(
                df, F.col("score"), "grp", "id", pm, method="histogram"
            ).collect()
        }
        assert a == b, pm
    # at 1000 per-mille nothing is dropped, NULLs included
    assert (
        stratified_top_fraction(df, F.col("score"), "grp", "id", 1000, method="histogram").count()
        == 5
    )


def test_compression_ratio_matches_direct_zlib(spark):
    """The distributed pass == zlib.compress(utf8, 6) computed directly;
    empty and unicode text handled."""
    import zlib

    from pipeline_etl_website_visits_spark.operators.text import compression_ratio

    texts = {
        1: "spam spam spam spam spam spam spam spam",   # highly compressible
        2: "q7#xK!9z@pW$2mN&vB*4cJ^8hL%3dF",           # junk: incompressible
        3: "",                                          # empty
        4: "naïve café — über 文档",                    # multibyte utf-8
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in compression_ratio(df, "text", "doc_id").collect()}
    for i, t in texts.items():
        b = t.encode("utf-8")
        cl = len(zlib.compress(b, 6)) if b else 0
        assert got[i]["raw_len"] == len(b)
        assert got[i]["compressed_len"] == cl
        assert got[i]["ratio_permille"] == ((cl * 1000) // len(b) if b else 0)
    # the signal separates the tails
    assert got[1]["ratio_permille"] < got[2]["ratio_permille"]


def test_jaccard_prefix_filter_is_exact(spark):
    """PPJoin-style prefix filtering returns the IDENTICAL pair set as
    the full inverted-index join — across thresholds including exact
    integer boundaries (t*|A| whole) where a float prefix length would
    silently lose pairs — and rejects the non-composable knobs."""
    import pytest
    from pipeline_etl_website_visits_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    for t in (0.2, 0.25, 0.5, 0.8):
        base = sorted(
            map(tuple, D.shingle_jaccard_pairs(docs, "text", "doc_id", threshold=t).collect())
        )
        pf = sorted(
            map(
                tuple,
                D.shingle_jaccard_pairs(
                    docs, "text", "doc_id", threshold=t, prefix_filter=True
                ).collect(),
            )
        )
        assert base == pf, t
    assert len(base) >= 0  # smoke: at t=0.8 the set may legitimately be tiny
    # boundary-exact on a crafted integer case: |A|=4, t=0.5 -> prefix 3
    tiny = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # grams: abc bcd cde def (4)
            (2, "c d e f g h"),       # cde def efg fgh (4); inter=2, J=2/6=0.333
            (3, "a b c d e g"),       # abc bcd cde deg; inter with 1 = 3, J=3/5=0.6
        ],
        "doc_id long, text string",
    )
    for t in (0.333, 0.5, 0.6):
        base = sorted(map(tuple, D.shingle_jaccard_pairs(tiny, "text", "doc_id", threshold=t).collect()))
        pf = sorted(
            map(tuple, D.shingle_jaccard_pairs(tiny, "text", "doc_id", threshold=t, prefix_filter=True).collect())
        )
        assert base == pf, t
    with pytest.raises(ValueError, match="standalone"):
        D.shingle_jaccard_pairs(tiny, "text", "doc_id", prefix_filter=True, max_doc_freq=5)


def test_dsir_scores_match_pure_python(spark):
    """dsir_scores vs a row-at-a-time replica of the same hashed-bigram
    log-ratio scheme, plus the semantic check that target-domain docs
    outscore off-domain ones."""
    import hashlib
    import math

    from pipeline_etl_website_visits_spark.operators.text import dsir_scores

    corpus = {
        1: ("tgt", "spark shuffle spark shuffle spark shuffle"),
        2: ("tgt", "spark shuffle broadcast join"),
        3: ("web", "cats and dogs and cats and dogs"),
        4: ("web", "weather is nice today"),
        5: ("web", "spark shuffle cats and dogs"),
        6: ("web", "x"),  # single token: no bigrams -> omitted
    }
    B = 64
    df = spark.createDataFrame(
        [(k, src, txt) for k, (src, txt) in corpus.items()],
        "doc_id long, source string, text string",
    )

    def bucket(gram):
        return int(hashlib.md5(gram.encode()).hexdigest()[:12], 16) % B

    def bigrams(txt):
        t = txt.split()
        return [f"{a} {b}" for a, b in zip(t, t[1:])]

    raw, tgt = {}, {}
    for did, (src, txt) in corpus.items():
        for g in bigrams(txt):
            b = bucket(g)
            raw[b] = raw.get(b, 0) + 1
            if src == "tgt":
                tgt[b] = tgt.get(b, 0) + 1
    R, T = sum(raw.values()), sum(tgt.values())
    w = {
        b: math.floor(math.log(float((tgt.get(b, 0) + 1) * (R + B)) / float((r + 1) * (T + B))) * 1e6)
        for b, r in raw.items()
    }
    expect = {}
    for did, (src, txt) in corpus.items():
        gs = bigrams(txt)
        if gs:
            expect[did] = (len(gs), sum(w[bucket(g)] for g in gs))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["score_micro"])
        for r in dsir_scores(
            df, df.where("source = 'tgt'"), "text", "doc_id", buckets=B, portable_hash=True
        ).collect()
    }
    assert got == expect
    # semantic: the pure-target docs outscore the pure-web docs per bigram
    per = {d: got[d][1] / got[d][0] for d in got}
    assert min(per[1], per[2]) > max(per[3], per[4])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="buckets"):
        dsir_scores(df, df, buckets=0)


def test_bm25_precomputed_stats_match_in_query_stats(spark):
    """Serving path: passing corpus_stats=(N, TL) yields bit-identical
    results to the in-query computation (and skips the second corpus
    scan)."""
    from pipeline_etl_website_visits_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [(1, "fast hash join wins"), (2, "slow table scan"), (3, "hash hash join")],
        "doc_id long, text string",
    )
    queries = {"q": "hash join"}
    base = bm25_topk(df, "text", "doc_id", queries, k=3).collect()
    n_docs = 3
    total_len = sum(len(t.split()) for _, t in [(1, "fast hash join wins"), (2, "slow table scan"), (3, "hash hash join")])
    pre = bm25_topk(df, "text", "doc_id", queries, k=3, corpus_stats=(n_docs, total_len)).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, pre))


def test_stored_bm25_serving_handles_degenerate_docs(spark, tmp_path):
    """_stats must fold from the same pre-filter relation bm25_topk uses:
    empty/whitespace-only texts split to [''] (dl=1, doc counted), so
    n_docs/total_len include them — the bit-identical serving claim has
    to hold on corpora containing degenerate docs."""
    from pipeline_etl_website_visits_spark.operators.text import (
        bm25_index_topk,
        bm25_topk,
        save_bm25_index,
    )

    df = spark.createDataFrame(
        [
            (1, "fast hash join wins"),
            (2, "slow table scan"),
            (3, "hash hash join"),
            (4, ""),  # empty: split -> [''], dl=1
            (5, "   "),  # whitespace-only: same
        ],
        "doc_id long, text string",
    )
    queries = {"q": "hash join", "q2": "table"}
    direct = sorted(map(tuple, bm25_topk(df, "text", "doc_id", queries, k=5).collect()))
    path = str(tmp_path / "bm25idx_degen")
    save_bm25_index(df, path, tok_buckets=8)
    served = sorted(map(tuple, bm25_index_topk(spark, path, queries, k=5).collect()))
    assert direct == served
    # the sidecar itself reflects the pre-filter relation
    stats = spark.read.parquet(f"{path}/_stats").collect()[0]
    assert stats["n_docs"] == 5
    assert stats["total_len"] == 4 + 3 + 3 + 1 + 1


def test_bm25_prefilter_tokenization_matches_join_path(spark):
    """Query strings containing ASCII control chars Java \\s does NOT
    treat as whitespace (\\x1c) must tokenize identically on the
    array-prefilter and broadcast-join paths: 'a\\x1cb' is ONE term to
    Spark's normalize_text, so the prefilter must not split it into
    {a, b} and silently change match sets."""
    from pipeline_etl_website_visits_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [(1, "alpha\x1cbeta gamma"), (2, "alpha beta gamma"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    queries = {"q": "alpha\x1cbeta", "q2": "gamma"}
    pre = sorted(
        map(tuple, bm25_topk(df, "text", "doc_id", queries, k=3, array_prefilter=True).collect())
    )
    join = sorted(
        map(tuple, bm25_topk(df, "text", "doc_id", queries, k=3, array_prefilter=False).collect())
    )
    assert pre == join
    # the control-char term matches doc 1 only (it is one token there)
    q_hits = {r[1] for r in pre if r[0] == "q"}
    assert q_hits == {1}


def test_stored_dsir_profile_matches_inline(spark, tmp_path):
    """save_dsir_profile + dsir_scores_vs_profile == dsir_scores with the
    live target, bit-for-bit — the train-once / score-many contract.
    The artifact carries its own bucket/hash parameters."""
    from pipeline_etl_website_visits_spark.operators.text import (
        dsir_scores,
        dsir_scores_vs_profile,
        save_dsir_profile,
    )

    corpus = spark.createDataFrame(
        [
            (1, "spark shuffle broadcast join spark shuffle"),
            (2, "cats dogs weather lunch cats dogs"),
            (3, "spark shuffle cats dogs table scan"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "spark shuffle broadcast join exchange")], "tid long, text string"
    )

    for portable in (False, True):
        path = str(tmp_path / f"prof_{portable}")
        save_dsir_profile(target, path, buckets=64, portable_hash=portable)
        inline = sorted(
            map(tuple, dsir_scores(corpus, target, buckets=64, portable_hash=portable).collect())
        )
        stored = sorted(map(tuple, dsir_scores_vs_profile(corpus, path).collect()))
        assert inline == stored and len(stored) == 3

    import pytest as _pytest

    empty = str(tmp_path / "empty_prof")
    save_dsir_profile(target.where("tid < 0"), empty, buckets=64)
    with _pytest.raises(ValueError, match="empty DSIR profile"):
        dsir_scores_vs_profile(corpus, empty).collect()


def test_stored_dsir_weights_match_inline_when_reference_is_corpus(spark, tmp_path):
    """save_dsir_weights(target, reference=corpus) + dsir_scores_vs_weights
    == dsir_scores(corpus, target) bit-for-bit: frozen weights are the
    same integer quantities, scoring is a pure map + lookup."""
    from pipeline_etl_website_visits_spark.operators.text import (
        dsir_scores,
        dsir_scores_vs_weights,
        save_dsir_weights,
    )

    corpus = spark.createDataFrame(
        [
            (1, "spark shuffle broadcast join spark shuffle"),
            (2, "cats dogs weather lunch cats dogs"),
            (3, "spark shuffle cats dogs table scan"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "spark shuffle broadcast join exchange")], "tid long, text string"
    )
    path = str(tmp_path / "weights")
    save_dsir_weights(target, corpus, path, buckets=64, portable_hash=True)
    inline = sorted(map(tuple, dsir_scores(corpus, target, buckets=64, portable_hash=True).collect()))
    frozen = sorted(map(tuple, dsir_scores_vs_weights(corpus, path).collect()))
    assert inline == frozen and len(frozen) == 3


def test_mine_common_spans_exact_runs(spark):
    """Gaps-and-islands run folding: exact longest-shared-run lengths and
    maximal-run counts, including multiple alignments per pair and an
    identical-doc pair; docs shorter than min_span never join."""
    from pipeline_etl_website_visits_spark.operators.dedup import mine_common_spans

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x a b c d e f y y a b c d z"),  # runs of 6 and 4 vs doc 1
        (3, "q w e r t y u i o p"),
        (4, "a b c d e f g h i j"),  # identical to doc 1
        (5, "a b c"),  # 3 tokens < min_span: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["max_span_len"], r["n_spans"])
        for r in mine_common_spans(df, "text", "doc_id", min_span=4).collect()
    }
    assert got == {(1, 2): (6, 2), (1, 4): (10, 1), (2, 4): (6, 2)}


def test_mine_common_spans_stop_gram_cap(spark):
    """max_gram_doc_freq drops boilerplate grams BEFORE the join: with the
    shared gram present in more docs than the cap, the pair disappears —
    the certified bound, not a silent truncation (the x174 oracle
    replicates it)."""
    from pipeline_etl_website_visits_spark.operators.dedup import mine_common_spans

    rows = [(i, f"common run here now tail{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # 'common run here now' appears in all 5 docs
    uncapped = mine_common_spans(df, "text", "doc_id", min_span=4, max_gram_doc_freq=None)
    assert uncapped.count() == 10  # all C(5,2) pairs share the run
    capped = mine_common_spans(df, "text", "doc_id", min_span=4, max_gram_doc_freq=4)
    assert capped.count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_span"):
        mine_common_spans(df, "text", "doc_id", min_span=1)


def test_lm_perplexity_matches_pure_python(spark):
    """lm_perplexity_scores vs a row-at-a-time replica of the SAME
    interpolated absolute-discount formula — exact integer agreement,
    including unseen-bigram/seen-context backoff and unseen-context
    continuation fallback."""
    import math
    from collections import Counter

    from pipeline_etl_website_visits_spark.operators.text import lm_perplexity_scores

    target_texts = ["the cat sat on the mat", "the cat ate the fish", "a dog sat"]
    corpus = {
        1: "the cat sat",          # all seen bigrams
        2: "the dog ate the mat",  # unseen bigrams in seen contexts
        3: "zebra quark flux",     # unseen contexts entirely
        4: "x",                    # 1 token: omitted (no bigrams)
    }
    tgt = spark.createDataFrame(
        [(i, t) for i, t in enumerate(target_texts)], "tid long, text string"
    )
    cdf = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "doc_id long, text string"
    )

    # pure-python model
    def bigrams(s):
        t = s.split()
        return list(zip(t, t[1:]))

    c12 = Counter(bg for t in target_texts for bg in bigrams(t))
    c1 = Counter()
    nfwd = Counter()
    nrev = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        nfwd[w1] += 1
        nrev[w2] += 1
    nbt = len(c12)
    v = len({w for t in target_texts for w in t.split()})
    S = nbt + v + 1

    def logp(w1, w2):
        if w1 in c1:
            num = max(1000 * c12.get((w1, w2), 0) - 750, 0) * S + 750 * nfwd[w1] * (
                nrev.get(w2, 0) + 1
            )
            den = 1000 * c1[w1] * S
            return math.floor(math.log(num / den) * 1e6)
        return math.floor(math.log((nrev.get(w2, 0) + 1) / S) * 1e6)

    expect = {}
    for did, txt in corpus.items():
        bgs = bigrams(txt)
        if bgs:
            nll = -sum(logp(w1, w2) for w1, w2 in bgs)
            expect[did] = (len(bgs), nll, nll // len(bgs))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_micro"], r["avg_nll_micro"])
        for r in lm_perplexity_scores(cdf, tgt).collect()
    }
    assert got == expect
    # semantic: the in-domain doc is least perplexing
    assert got[1][2] < got[2][2] < got[3][2]


def test_stored_lm_model_matches_inline(spark, tmp_path):
    """save_lm_model + lm_scores_vs_model == lm_perplexity_scores with the
    live target, bit-for-bit — the train-once / score-many contract."""
    from pipeline_etl_website_visits_spark.operators.text import (
        lm_perplexity_scores,
        lm_scores_vs_model,
        save_lm_model,
    )
    from pipeline_etl_website_visits_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    target = docs.where(F.col("source") == "src0")
    path = str(tmp_path / "lm_model")
    save_lm_model(target, path)
    inline = sorted(map(tuple, lm_perplexity_scores(docs, target).collect()))
    served = sorted(map(tuple, lm_scores_vs_model(docs, path).collect()))
    assert inline == served and len(inline) > 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty LM model"):
        import os

        os.makedirs(str(tmp_path / "empty" / "consts"), exist_ok=True)
        spark.createDataFrame([], "nbt long, v long").write.mode("overwrite").parquet(
            str(tmp_path / "empty" / "consts")
        )
        for sub in ("c12", "c1", "rev"):
            spark.createDataFrame([], "w1 string, w2 string, c12 long").write.mode(
                "overwrite"
            ).parquet(str(tmp_path / "empty" / sub))
        lm_scores_vs_model(docs, str(tmp_path / "empty"))


def test_stored_lm_model_v1_layout_still_reads(spark, tmp_path):
    """The versioned reader keeps v1 artifacts (separate c1/rev dirs)
    scoring bit-identically to the v2 single-words layout (r15) — stored
    models written by older builds must never need a retrain."""
    from pipeline_etl_website_visits_spark.operators.text import (
        lm_scores_vs_model,
        save_lm_model,
    )
    from pipeline_etl_website_visits_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    target = docs.where(F.col("source") == "src0")
    v1, v2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    save_lm_model(target, v1, layout="v1")
    save_lm_model(target, v2)  # default layout is v2
    import os

    assert os.path.exists(os.path.join(v1, "c1")) and not os.path.exists(
        os.path.join(v1, "words")
    )
    assert os.path.exists(os.path.join(v2, "words")) and not os.path.exists(
        os.path.join(v2, "c1")
    )
    got_v1 = sorted(map(tuple, lm_scores_vs_model(docs, v1).collect()))
    got_v2 = sorted(map(tuple, lm_scores_vs_model(docs, v2).collect()))
    assert got_v1 == got_v2 and len(got_v1) > 0


def test_stored_lm_model_reads_from_a_uri(spark, tmp_path):
    """A stored LM addressed by a ``file://`` URI scores exactly like the
    plain path: the driver cannot glob a URI, so the constants are read
    through Spark and the layout is probed through the Hadoop FileSystem."""
    from pipeline_etl_website_visits_spark.operators.text import (
        lm_scores_vs_model,
        save_lm_model,
    )
    from pipeline_etl_website_visits_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    target = docs.where(F.col("source") == "src0")
    for layout in ("v1", "v2"):
        path = str(tmp_path / layout)
        save_lm_model(target, path, layout=layout)
        plain = sorted(map(tuple, lm_scores_vs_model(docs, path).collect()))
        uri = sorted(map(tuple, lm_scores_vs_model(docs, "file://" + path).collect()))
        assert uri == plain and len(plain) > 0


def test_portable_minhash_recall_and_exactness(spark):
    """The portable (md5-u48) MinHash-LSH path: every emitted pair is an
    exact-Jaccard-verified true pair at the threshold, and the planted
    near-duplicate is recalled. The hash FAMILY differs from the xxhash64
    default so candidate sets may differ — the verification contract and
    the certificate (x23's oracle) are what's pinned."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1
        (3, "totally different words with no shared grams at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(
            df, "text", "doc_id", verify_threshold=0.2, portable_hash=True
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.2
    assert all(3 not in pair for pair in got)

    import pytest as _pytest

    idx = D.gram_index(df, "text", "doc_id", n=3)
    with _pytest.raises(ValueError, match="portable_hash requires raw grams"):
        D.minhash_lsh_pairs(df, "text", "doc_id", grams=idx, portable_hash=True)


def test_portable_simhash_matches_pure_python(spark):
    """48-bit portable SimHash vs a hand rollup of the same bit algebra
    (md5-u48 token hashes, multiplicity weights, sum>0 bit rule)."""
    import hashlib

    rows = [(1, "a a b"), (2, "x y z z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def u48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    expect = {}
    for did, text in rows:
        from collections import Counter

        w = Counter(text.split())
        h = 0
        for b in range(48):
            s = sum((((u48(t) >> b) & 1) * 2 - 1) * c for t, c in w.items())
            if s > 0:
                h |= 1 << b
        expect[did] = h
    got = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash(df, "text", "doc_id", portable_hash=True).collect()
    }
    assert got == expect


def test_tokens_of_pretokenized_equals_inline(spark):
    """The shared-tokenization seam (tokens_of): every token-family
    operator must return IDENTICAL results fed raw text or the
    pre-tokenized array column the stored tokenized-corpus artifact
    carries — the value-identity contract that lets the artifact serve
    without moving a hash."""
    import pyspark.sql.functions as F

    from pipeline_etl_website_visits_spark.operators import text as T
    from pipeline_etl_website_visits_spark.operators.dedup import normalize_text

    docs = spark.createDataFrame(
        [
            (0, "src0", "The  quick brown fox JUMPS over the lazy dog"),
            (1, "src0", "the quick brown fox naps"),
            (2, "src1", "completely different content here today"),
            (3, "src1", None),
            (4, "src1", "   "),
        ],
        "doc_id long, source string, text string",
    )
    toks = docs.select(
        "doc_id", "source", F.split(normalize_text(F.col("text")), " ").alias("toks")
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(T.doc_frequency(docs, "text", "doc_id")) == rows(
        T.doc_frequency(toks, "toks", "doc_id")
    )
    assert rows(T.tfidf_top_terms(docs, "text", "doc_id", k=3)) == rows(
        T.tfidf_top_terms(toks, "toks", "doc_id", k=3)
    )
    assert rows(T.bigram_rarity(docs, "text", "doc_id")) == rows(
        T.bigram_rarity(toks, "toks", "doc_id")
    )
    assert rows(T.token_entropy(docs, "text")) == rows(T.token_entropy(toks, "toks"))
    assert rows(T.zipf_slope(docs, "text", top_n=50)) == rows(
        T.zipf_slope(toks, "toks", top_n=50)
    )
    assert rows(T.gram_diversity(docs, "text", "doc_id", "source")) == rows(
        T.gram_diversity(toks, "toks", "doc_id", "source")
    )
    assert rows(T.boilerplate_prefixes(docs, "text", "source")) == rows(
        T.boilerplate_prefixes(toks, "toks", "source")
    )
    assert rows(T.heavy_hitters(docs, "text", denom=4, capacity=16)) == rows(
        T.heavy_hitters(toks, "toks", denom=4, capacity=16)
    )
    assert rows(T.ngram_novelty(docs, "text", "doc_id", n=2)) == rows(
        T.ngram_novelty(toks, "toks", "doc_id", n=2)
    )
    # r14 additions to the seam: dup-gram stats and both span scrubbers
    assert rows(T.dup_gram_stats(docs, "text", "doc_id", n=2)) == rows(
        T.dup_gram_stats(toks, "toks", "doc_id", n=2)
    )
    assert rows(T.scrub_repeated_spans(docs, "text", "doc_id", n=2)) == rows(
        T.scrub_repeated_spans(toks, "toks", "doc_id", n=2)
    )
    from pipeline_etl_website_visits_spark.operators.dedup import (
        scrub_duplicate_spans,
    )

    assert rows(scrub_duplicate_spans(docs, "text", "doc_id", n=2)) == rows(
        scrub_duplicate_spans(toks, "toks", "doc_id", n=2)
    )


def test_tokens_of_rejects_non_string_arrays(spark):
    """ADVICE r13: the array pass-through is a CONTRACT, not a
    convention — an array column whose elements are not strings (token
    ids, nested grams) must raise, never silently skip normalization and
    emit wrong-but-plausible stats."""
    import pytest

    from pipeline_etl_website_visits_spark.operators.dedup import tokens_of

    ids = spark.createDataFrame([(1, [1, 2, 3])], "doc_id long, toks array<int>")
    with pytest.raises(TypeError, match="array<string>"):
        tokens_of(ids, "toks")
    nested = spark.createDataFrame(
        [(1, [["a"]])], "doc_id long, toks array<array<string>>"
    )
    with pytest.raises(TypeError, match="array<string>"):
        tokens_of(nested, "toks")
    # the two valid input shapes still work
    ok = spark.createDataFrame(
        [(1, "A  b", ["a", "b"])], "doc_id long, text string, toks array<string>"
    )
    got = ok.select(
        tokens_of(ok, "text").alias("from_text"), tokens_of(ok, "toks").alias("from_arr")
    ).collect()[0]
    assert got["from_text"] == ["a", "b"] == got["from_arr"]


def test_bigram_count_kernels_match_inline_paths(spark):
    """VERDICT r13 item 4: the count-fed DSIR / bigram-LM kernels
    (dsir_scores_from_counts / lm_scores_from_counts + lm_model_from_c12)
    must be bit-identical to the inline operators when fed counts
    compacted exactly as the docbig artifact stores them — the value
    contract that lets x166/x175 serve from the shared artifact."""
    import pyspark.sql.functions as F

    from pipeline_etl_website_visits_spark.operators import text as T
    from pipeline_etl_website_visits_spark.operators.dedup import normalize_text

    docs = spark.createDataFrame(
        [
            (0, "src0", "the quick brown fox jumps over the lazy dog"),
            (1, "src0", "the quick brown fox naps in the quick shade"),
            (2, "src1", "completely different content appears here today"),
            (3, "src1", "the fox returns for more quick brown content"),
            (4, "src1", "one"),          # <2 tokens: no bigram evidence
            (5, "src1", None),           # null text
            (6, "src0", "the the the the repetition stress row"),
        ],
        "doc_id long, source string, text string",
    )
    # the docbig artifact's derivation: tokens → adjacent pairs → counts
    t = F.col("toks")
    bg = (
        docs.select(
            "doc_id", "source", F.split(normalize_text(F.col("text")), " ").alias("toks")
        )
        .where(F.size(t) >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.struct(
                        F.element_at(t, i).alias("w1"), F.element_at(t, i + 1).alias("w2")
                    ),
                )
            ).alias("p"),
        )
        .groupBy("doc_id", "source", "p.w1", "p.w2")
        .agg(F.count("*").cast("long").alias("c"))
    )
    target = docs.where(F.col("source") == "src0")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # DSIR: bucket-fold of the counts == inline corpus stream (both hashes)
    for portable in (True, False):
        docb = bg.select(
            "doc_id",
            "source",
            T.dsir_bucket_of(F.concat_ws(" ", "w1", "w2"), 64, portable).alias("b"),
            "c",
        )
        got = T.dsir_scores_from_counts(
            docb.groupBy("doc_id", "b").agg(F.sum("c").cast("long").alias("c")),
            docb.where(F.col("source") == "src0")
            .groupBy("b")
            .agg(F.sum("c").cast("long").alias("t_cnt")),
            buckets=64,
        )
        want = T.dsir_scores(docs, target, buckets=64, portable_hash=portable)
        assert rows(got) == rows(want), f"portable={portable}"

    # bigram LM: model folds from src0 counts + unigram vocab == inline
    c12 = bg.where(F.col("source") == "src0").groupBy("w1", "w2").agg(
        F.sum("c").cast("long").alias("c12")
    )
    v_df = (
        target.select(F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .agg(F.countDistinct("tok").cast("long").alias("v"))
    )
    got_lm = T.lm_scores_from_counts(
        bg.select("doc_id", "w1", "w2", "c"), *T.lm_model_from_c12(c12, v_df)
    )
    want_lm = T.lm_perplexity_scores(docs, target)
    assert rows(got_lm) == rows(want_lm)
