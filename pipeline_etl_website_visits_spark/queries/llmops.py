"""North-star LLM-pipeline declared queries (SURVEY.md §2.11).

Dedup / similarity / text-analysis queries over the ``documents`` and
``embeddings`` tables. Oracle-backed where deterministic SQL can express the
same computation; randomized-free-but-hash-based ops (MinHash, SimHash, LSH)
are registered without an oracle → driver records a rows-only check.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pipeline_etl_website_visits_spark import artifacts
from pipeline_etl_website_visits_spark.artifacts import (  # noqa: F401 - bench API
    clear_scratch_artifacts,
    gc_scratch_artifacts,
)
from pipeline_etl_website_visits_spark.operators import dedup as D
from pipeline_etl_website_visits_spark.operators import similarity as S
from pipeline_etl_website_visits_spark.operators import text as T
from pipeline_etl_website_visits_spark.queries.registry import REGISTRY, query
from pipeline_etl_website_visits_spark.tables import load_table, table_path


# Declared queries whose CONSTRUCTION builds a stored scratch artifact
# through artifacts.stored; the shared_* builders below cover the rest.
# build_scratch_artifacts uses this to trigger every build without
# running the queries themselves.
_INLINE_ARTIFACT_OWNERS = (
    "x117_stored_index_search",    # vindex  (IVF-PQ codes + meta)
    "x122_stored_gram_dedup",      # gramidx (bucketed gram catalog)
    "x132_schema_evolution",       # evolve  (two-era parquet dirs)
    "x144_orc_roundtrip",          # orcrt   (partitioned ORC snapshot)
    "x170_stored_dsir_serving",    # dsirw   (frozen DSIR weights)
    "x172_stored_bm25_serving",    # bm25idx (bucketed postings + stats)
    "x173_stored_hybrid_serving",  # ivfflat (exact-vector cells + meta)
    "x176_stored_lm_serving",      # lmmodel (bigram-LM relations)
)


def build_scratch_artifacts(spark: SparkSession, sf_dir: str) -> int:
    """Build every stored scratch artifact for ``sf_dir`` that does not
    already exist, NOW — so a caller can time the one-time build cost as
    its own number (bench.py reports it as ``artifact_build_sec``,
    VERDICT r14 item 2). Artifact contents are exactly what the lazy
    in-query builds would produce: this calls the same builders (the
    shared_* functions) and constructs the same declared queries (whose
    construction runs their ``artifacts.stored`` builds) without
    executing any query. Returns the number of build triggers fired."""
    from pipeline_etl_website_visits_spark.queries.registry import REGISTRY

    shared_pair_overlap(spark, sf_dir, min_jaccard=_PAIROVL_J_FLOOR)
    shared_tokenized_corpus(spark, sf_dir)
    shared_token_counts(spark, sf_dir)
    shared_doc_bigrams(spark, sf_dir)
    for name in _INLINE_ARTIFACT_OWNERS:
        REGISTRY[name].spark(spark, sf_dir)
    return 4 + len(_INLINE_ARTIFACT_OWNERS)


# Retention floors of the stored family artifact: a pair is kept iff
# Jaccard ≥ J_FLOOR OR containment ≥ C_FLOOR. These are the lowest
# thresholds any family member filters at (x22/x71/x86/x98/x114 Jaccard
# 0.2; x56 containment 0.5; x86 containment 0.8) — everything below both
# is dead weight that no consumer can ever see through its own filter. At
# sf1 this is 1,012 rows instead of 145.7M (742 MB → ~50 KB): the build
# pays the same gram self-join but the write and every downstream scan
# become free. The floors are baked into the artifact KEY (and guarded at
# read time), so a future lower-threshold consumer can never silently read
# a too-aggressive artifact — it addresses a different kind tag and
# triggers its own build.
_PAIROVL_J_FLOOR = 0.2
_PAIROVL_C_FLOOR = 0.5


def shared_pair_overlap(
    spark: SparkSession,
    sf_dir: str,
    min_jaccard: float | None = None,
    min_containment: float | None = None,
) -> DataFrame:
    """The STORED shingle pair-overlap relation for one corpus: build
    ``operators/dedup.py:pair_overlap`` (3-gram, uncapped) once per corpus
    fingerprint, floored at the family-wide retention thresholds, then
    serve every shingle-similarity query from the parquet artifact.

    Callers DECLARE the threshold they will filter at (``min_jaccard`` /
    ``min_containment``); the declaration is checked against the stored
    floors so a below-floor consumer fails loudly instead of silently
    losing pairs.

    This is the round-12 family fix (VERDICT r11 item 1): x22 / x56 / x71 /
    x86 / x98 / x114 each re-derived the same gram self-join per query —
    ~390 s of the 984 s sf1 cold pass. Each is a pure (inter, sz_a, sz_b)
    threshold filter, so one artifact serves all. The ORACLES still derive
    the overlap inline from ``documents``, so every downstream hash
    certifies the stored artifact's values end-to-end, exactly like the x98
    simgraph precedent (commit d110589) — which this subsumes: edges at any
    threshold ≥ floor are a filter over this relation.
    """
    if min_jaccard is None and min_containment is None:
        raise ValueError("declare the consumer's min_jaccard and/or min_containment")
    if min_jaccard is not None and min_jaccard < _PAIROVL_J_FLOOR:
        raise ValueError(
            f"min_jaccard={min_jaccard} is below the stored floor "
            f"{_PAIROVL_J_FLOOR} — use pair_overlap() inline or build a "
            "lower-floor artifact"
        )
    if min_containment is not None and min_containment < _PAIROVL_C_FLOOR:
        raise ValueError(
            f"min_containment={min_containment} is below the stored floor "
            f"{_PAIROVL_C_FLOOR} — use pair_overlap() inline or build a "
            "lower-floor artifact"
        )
    kind = (
        f"pairovl_j{int(_PAIROVL_J_FLOOR * 1000)}"
        f"c{int(_PAIROVL_C_FLOOR * 1000)}"
    )

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        ovl = D.pair_overlap(docs, "text", "doc_id", n=3)
        union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
        keep = (F.col("inter") / union >= _PAIROVL_J_FLOOR) | (
            F.col("inter") / F.least("sz_a", "sz_b") >= _PAIROVL_C_FLOOR
        )
        ovl.filter(keep).write.parquet(tmp)

    path = artifacts.stored(sf_dir, "documents", kind, build)
    return spark.read.schema(D.PAIR_OVERLAP_SCHEMA).parquet(path)


def shared_tokenized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED tokenized-corpus relation for one corpus:
    ``(doc_id, source, toks array<string>)`` where ``toks`` is exactly
    ``split(normalize_text(text), ' ')`` — materialized once per corpus
    fingerprint, then every token/gram-family query serves from the
    parquet artifact instead of re-paying the normalize regex (VERDICT
    r12 item 3: x92's 0.43 s tokenize floor was re-paid by every one of
    x38/x55/x58/x59/x83/x92/x97/x130/x139/x155/x156 — the r12
    pair-overlap precedent, one family one artifact).

    EVERY documents row is kept (null text → null toks), so a consumer's
    ``COUNT(*)`` over the artifact equals the documents count (x58's IDF
    N) and explode/array ops see values identical to the inline
    derivation — downstream hashes cannot move. Operators pick the
    artifact up through the ``tokens_of`` seam (operators/dedup.py): an
    ``array<string>`` text column is used as-is.

    The ORACLES still tokenize ``documents`` inline, so every family
    hash-match certifies the stored tokens end-to-end.

    At 100 TB this is the standard materialized staging relation:
    tokenize is a map-only pass whose output parquet (dictionary-encoded
    token arrays) reads back several times cheaper than the regex
    re-runs, and the artifact is partitioned by the build's scan
    parallelism so consumers start wide.
    """

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        docs.select(
            "doc_id",
            "source",
            F.split(D.normalize_text(F.col("text")), " ").alias("toks"),
        ).write.parquet(tmp)

    path = artifacts.stored(sf_dir, "documents", "toktab", build)
    return spark.read.schema("doc_id long, source string, toks array<string>").parquet(path)


def shared_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED corpus vocabulary statistics for one corpus:
    ``(token, cnt, doc_freq)`` — exact global occurrence count and
    document frequency per distinct token, derived from the
    :func:`shared_tokenized_corpus` artifact with one explode + groupBy
    and materialized per corpus fingerprint (kind ``tokcnt``).

    Vocabulary-sized (≈50k rows at sf0.1 vs ≈6M token instances), so the
    corpus-statistics queries — x92 heavy hitters (filter on ``cnt``),
    x55 document frequency (top-k on ``doc_freq``), x130 Zipf slope
    (rank/OLS over ``cnt``) — become scans of a tiny relation instead of
    re-paying the corpus explode per query (VERDICT r12 item 3, the
    pair-overlap precedent). The ORACLES still derive every statistic
    inline from ``documents``, so each downstream hash-match certifies
    the stored counts end-to-end. The sketch-then-verify
    ``heavy_hitters`` operator remains the inline path for corpora
    without a stored artifact and keeps its exactness tests — at 100 TB
    the two compose: the MG sketch answers one-shot queries in one pass,
    this artifact amortizes a whole statistics workload.
    """

    def build(tmp: str) -> None:
        toks = shared_tokenized_corpus(spark, sf_dir)
        ex = toks.select("doc_id", F.explode("toks").alias("token"))
        (
            ex.groupBy("token")
            .agg(
                F.count("*").cast("long").alias("cnt"),
                F.countDistinct("doc_id").cast("long").alias("doc_freq"),
            )
            .write.parquet(tmp)
        )

    path = artifacts.stored(sf_dir, "documents", "tokcnt", build)
    return spark.read.schema("token string, cnt long, doc_freq long").parquet(path)


def shared_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED compacted word-bigram relation for one corpus:
    ``(doc_id, source, w1, w2, c)`` — per-document bigram occurrence
    counts over exactly the tokens the :func:`shared_tokenized_corpus`
    artifact stores (kind ``docbig``), materialized once per corpus
    fingerprint (VERDICT r13 item 4: x166 and x175 each re-derived this
    compaction per query).

    ONE artifact serves BOTH bigram-feature families:

    - **DSIR (x166)**: bucket ``concat_ws(' ', w1, w2)`` through
      operators/text.py:``dsir_bucket_of`` — the same expression the
      inline stream hashes, so the (doc, bucket) fold is bit-identical —
      and the src0 rows yield the target profile, so the target is never
      rescanned either.
    - **bigram-LM (x175)**: the corpus side IS this relation; the model's
      c12/c1/rev/nbt are pure folds of its src0 rows
      (``lm_model_from_c12``), with only the vocabulary count read from
      the tokenized-corpus artifact's unigrams.

    Docs with <2 tokens have no rows (the families' shared contract:
    no bigram evidence → omitted). The ORACLES still derive bigrams
    inline from ``documents``, so every downstream hash-match certifies
    the stored counts end-to-end — the toktab/tokcnt discipline.

    At 100 TB: a map-only tokenize+explode with map-side combine, paid
    once per corpus; (doc, w1, w2) compaction tracks tokens/doc-to-
    distinct-bigrams (strong on real Zipfian text), and every consumer
    scan prunes to the columns it folds."""

    def build(tmp: str) -> None:
        toks = shared_tokenized_corpus(spark, sf_dir)
        t = F.col("toks")
        pairs = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, i + 1).alias("w2"),
                ),
            )
        )
        (
            toks.where(F.size(t) >= 2)
            .select("doc_id", "source", pairs.alias("bg"))
            .groupBy("doc_id", "source", "bg.w1", "bg.w2")
            .agg(F.count("*").cast("long").alias("c"))
            .write.parquet(tmp)
        )

    path = artifacts.stored(sf_dir, "documents", "docbig", build)
    return spark.read.schema(
        "doc_id long, source string, w1 string, w2 string, c long"
    ).parquet(path)


# Shared normalized-text fragments for the DuckDB oracles.
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKS = f"regexp_split_to_array({_NORM}, ' ')"


# --------------------------------------------------------------------------
# X1 — exact dedup by content fingerprint
# --------------------------------------------------------------------------
@query(
    "x21_dedup_exact",
    oracle=f"""
    SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id, CAST(COUNT(*) AS BIGINT) AS copies
    FROM (SELECT doc_id, md5({_NORM}) AS fp FROM documents)
    GROUP BY fp ORDER BY fp
    """,
    certifies="X1 exact dedup (SURVEY §2.11)",
    tags=("llm", "dedup"),
)
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(docs, "text", "doc_id")


# --------------------------------------------------------------------------
# X3 — exact n-gram Jaccard near-dup pairs (inverted-index join, no cross
# join). Threshold tuned so the sf0.01 result is small but non-empty.
# --------------------------------------------------------------------------
_JACCARD_THRESHOLD = 0.2


@query(
    "x22_dedup_ngram_jaccard",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(((inter * 2000 + (sa.sz + sb.sz - inter)) // (2 * (sa.sz + sb.sz - inter))) / 1000.0 AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    certifies="X3 n-gram Jaccard near-dup (SURVEY §2.11)",
    tags=("llm", "dedup"),
)
def x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    # served from the shared stored pair-overlap artifact (r12): the gram
    # self-join is paid once per corpus fingerprint, not once per query;
    # the oracle re-derives inline so the hash certifies the stored values
    docs = load_table(spark, sf_dir, "documents")
    return D.shingle_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=_JACCARD_THRESHOLD,
        overlap=shared_pair_overlap(spark, sf_dir, min_jaccard=_JACCARD_THRESHOLD),
    )


# --------------------------------------------------------------------------
# X3 — MinHash + banded LSH. Certified through the portable md5-u48 hash
# family (any fixed family gives a valid MinHash; the operator default
# stays JVM-fast xxhash64) — band collisions, the candidate set, the
# exact-Jaccard verification and the rounding all replay in SQL, so the
# whole LSH pipeline is hash-certified (was rows-only through r10).
# --------------------------------------------------------------------------
_MINHASH_U48 = "CAST(('0x' || substring(md5({expr}), 1, 12)) AS BIGINT)"


@query(
    "x23_dedup_minhash_lsh",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    sig AS (
      SELECT doc_id, s.i AS i,
             MIN({_MINHASH_U48.format(expr="CAST(s.i AS VARCHAR) || '|' || gram")}) AS h
      FROM g CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) s
      GROUP BY doc_id, s.i
    ),
    band AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band,
             {_MINHASH_U48.format(expr="string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)")} AS bh
      FROM sig GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(((inter * 2000 + (sa.sz + sb.sz - inter)) // (2 * (sa.sz + sb.sz - inter))) / 1000.0 AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    certifies="X3 MinHash + banded LSH near-dup: 32-hash signatures, 8-band collision candidates, exact-Jaccard verification — hash-certified end-to-end through the portable md5-u48 family (was rows-only through r10; operator default stays xxhash64, the x57/x166 certificate discipline)",
    tags=("llm", "dedup", "certificate"),
)
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, "text", "doc_id", verify_threshold=_JACCARD_THRESHOLD, portable_hash=True
    )


@query(
    "x24_dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    tc AS (
      SELECT doc_id, th, CAST(COUNT(*) AS BIGINT) AS w FROM (
        SELECT doc_id, {_MINHASH_U48.format(expr="tok")} AS th FROM toks
      ) GROUP BY doc_id, th
    ),
    bits AS (
      SELECT doc_id, b.b AS b, SUM((((th >> b.b) & 1) * 2 - 1) * w) AS s
      FROM tc CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
    certifies="X3 SimHash fingerprint: weighted sign-bit aggregation, hash-certified through the portable 48-bit md5-u48 family (was rows-only through r10; operator default stays 64-bit xxhash64) — exact integer bit algebra replays in SQL",
    tags=("llm", "dedup", "certificate"),
)
def x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "text", "doc_id", portable_hash=True)


# --------------------------------------------------------------------------
# X3 — similarity search over embeddings: exact brute-force top-k (oracle)
# and LSH-bucketed ANN (deterministic but literal-heavy → rows-only)
# --------------------------------------------------------------------------
_TOPK_QUERY_IDS = 10
_TOPK_K = 5


@query(
    "x25_embed_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < {_TOPK_QUERY_IDS}),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sims AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_dot_product(q.v, c.v)
                    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim_raw
           FROM q JOIN c ON q.vec_id <> c.vec_id
         )
    SELECT query_id, neighbor_id, ROUND(sim_raw, 4) AS sim FROM (
      SELECT query_id, neighbor_id, sim_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, neighbor_id) AS rn
      FROM sims
    ) WHERE rn <= {_TOPK_K} ORDER BY query_id, neighbor_id
    """,
    certifies="X3 exact cosine top-k similarity search (SURVEY §2.11)",
    tags=("llm", "similarity"),
)
def x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _TOPK_QUERY_IDS)
    # memoized probe collect (the x179/x182 fixed-serving-input rule)
    return S.cosine_topk(
        queries, emb, k=_TOPK_K,
        precollected_queries=probe_vectors(sf_dir, emb, _TOPK_QUERY_IDS),
    )


@query(
    "x26_embed_ann_lsh",
    oracle=None,  # replaced below: built from the plane literals
    certifies="X3 ANN via random-hyperplane LSH — hash-certified through integer-micro plane/vector quantization (exact int64 sign tests replay in SQL; was rows-only through r10); bucket membership, candidate join and rounded-cosine ranking all certified",
    tags=("llm", "similarity", "certificate"),
)
def x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _TOPK_QUERY_IDS)
    return S.ann_lsh_topk(queries, emb, k=_TOPK_K, num_planes=8, quantized=True)


def _lsh_quantized_sql(num_planes: int, seed: int, dim: int) -> str:
    """DuckDB twin of the quantized sign-bit LSH bucketing: the SAME
    RandomState(seed) hyperplanes, floored to integer micros and inlined
    as literals (the unrolled-kmeans precedent — the oracle carries the
    full deterministic geometry). Every dot is an exact integer-valued
    double (< 2^53), so bucket ids replay digit-for-digit."""
    import numpy as np

    pq = np.floor(
        np.asarray(S.hyperplanes(dim, num_planes, seed), dtype=np.float64) * 1e6
    ).astype(np.int64)
    plane_rows = ", ".join(
        f"({j}, [{', '.join(str(int(x)) for x in pq[j])}]::BIGINT[])"
        for j in range(num_planes)
    )
    return f"""
    WITH planes(j, pv) AS (VALUES {plane_rows}),
    raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS arr FROM embeddings),
    vq AS (
      SELECT vec_id, arr,
             list_transform(arr, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS q
      FROM raw
    ),
    bkt AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN list_dot_product(CAST(q AS DOUBLE[]), CAST(pv AS DOUBLE[])) > 0
                           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
      FROM vq CROSS JOIN planes GROUP BY vec_id
    ),
    sims AS (
      SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
             list_dot_product(qr.arr, cr.arr)
               / (sqrt(list_dot_product(qr.arr, qr.arr)) * sqrt(list_dot_product(cr.arr, cr.arr))) AS sim_raw
      FROM bkt qb
      JOIN bkt cb ON qb.bucket = cb.bucket AND qb.vec_id <> cb.vec_id
      JOIN raw qr ON qr.vec_id = qb.vec_id
      JOIN raw cr ON cr.vec_id = cb.vec_id
      WHERE qb.vec_id < {_TOPK_QUERY_IDS}
    )
    SELECT query_id, neighbor_id, ROUND(sim_raw, 4) AS sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, neighbor_id) AS rn
      FROM sims
    ) WHERE rn <= {_TOPK_K} ORDER BY query_id, neighbor_id
    """


REGISTRY["x26_embed_ann_lsh"].oracle = _lsh_quantized_sql(8, 42, 64)


# --------------------------------------------------------------------------
# X4 — text analysis: language ID, quality features, token count,
# fingerprint, per-language stats
# --------------------------------------------------------------------------
def _occ_sql(marker: str) -> str:
    padded = f"' ' || {_NORM} || ' '"
    return f"(length({padded}) - length(replace({padded}, ' {marker} ', ''))) / {len(marker) + 2}"


def _lang_score_sql(lang: str) -> str:
    return " + ".join(_occ_sql(m) for m in T.LANG_MARKERS[lang])


@query(
    "x27_text_lang_id",
    oracle=f"""
    SELECT doc_id,
           CASE
             WHEN ({_lang_score_sql('en')}) >= GREATEST({_lang_score_sql('es')}, {_lang_score_sql('fr')}, {_lang_score_sql('de')})
                  AND ({_lang_score_sql('en')}) > 0 THEN 'en'
             WHEN ({_lang_score_sql('es')}) >= GREATEST({_lang_score_sql('fr')}, {_lang_score_sql('de')})
                  AND ({_lang_score_sql('es')}) > 0 THEN 'es'
             WHEN ({_lang_score_sql('fr')}) >= ({_lang_score_sql('de')})
                  AND ({_lang_score_sql('fr')}) > 0 THEN 'fr'
             WHEN ({_lang_score_sql('de')}) > 0 THEN 'de'
             ELSE 'unknown'
           END AS predicted_lang
    FROM documents ORDER BY doc_id
    """,
    certifies="X4 language-ID heuristic (SURVEY §2.11)",
    tags=("llm", "text"),
)
def x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: regex battery per row dominates; outputs are per-row (safe)
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return T.lang_id_df(docs, "text", "doc_id")


@query(
    "x28_text_quality",
    # Ratios use the engine-agnostic integer half-up formula
    # (num*2*scale + den) // (2*den) / scale — see operators.text.ratio_round.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS BIGINT) AS n_tokens,
             CAST(LENGTH(regexp_replace(TRIM(text), '\\s+', '', 'g')) AS BIGINT) AS chars_no_ws,
             CAST(LENGTH(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS alnum_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS INT) AS n_chars_computed,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(((chars_no_ws * 200 + GREATEST(n_tokens, 1)) // (2 * GREATEST(n_tokens, 1))) / 100.0 AS DOUBLE) AS avg_token_len,
           CAST(((alnum_chars * 2000 + GREATEST(n_chars, 1)) // (2 * GREATEST(n_chars, 1))) / 1000.0 AS DOUBLE) AS alnum_ratio,
           CAST((LEAST(500, n_tokens * 5) + LEAST(500, n_chars)) / 1000.0 AS DOUBLE) AS quality_score
    FROM base ORDER BY doc_id
    """,
    certifies="X4 quality scoring (SURVEY §2.11)",
    tags=("llm", "text"),
)
def x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: regex-heavy per-row projection, integer-ratio outputs (safe)
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return T.quality_features(docs, "text", "doc_id")


@query(
    "x29_text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS INT) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
    certifies="X4 token counting (SURVEY §2.11)",
    tags=("llm", "text"),
)
def x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))


@query(
    "x30_text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM}) AS fp FROM documents ORDER BY doc_id
    """,
    certifies="X4 document fingerprinting (SURVEY §2.11)",
    tags=("llm", "text"),
)
def x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@query(
    "x31_doc_stats_by_lang",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(((SUM(n_chars) * 200 + COUNT(*)) // (2 * COUNT(*))) / 100.0 AS DOUBLE) AS avg_chars
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    certifies="corpus stats rollup (SURVEY §2.11)",
    tags=("llm", "text"),
)
def x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            T.ratio_round(F.sum("n_chars"), F.count("*"), 2).alias("avg_chars"),
        )
    )


# --------------------------------------------------------------------------
# DISTINCT (set-op family, SURVEY §2.10)
# --------------------------------------------------------------------------
@query(
    "x35_distinct",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY o_orderstatus, o_orderpriority
    """,
    certifies="DISTINCT set-op (SURVEY §2.10)",
    tags=("relational",),
)
def x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "x38_top_bigrams",
    oracle=f"""
    WITH g AS (
      SELECT unnest(list_transform(range(1, len(lst)), i -> lst[i] || ' ' || lst[i+1])) AS bigram
      FROM (SELECT {_TOKS} AS lst FROM documents)
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM g GROUP BY bigram ORDER BY n DESC, bigram LIMIT 25
    """,
    certifies="X4 n-gram frequency table / corpus vocabulary stats (SURVEY §2.11)",
    tags=("llm", "text"),
)
def x38(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stored tokenized-corpus artifact (tokens_of seam): the bigram HOF
    # reads pre-split arrays; the oracle tokenizes inline, certifying them
    tokenized = shared_tokenized_corpus(spark, sf_dir).select("toks")
    toks = F.col("toks")
    idx = F.when(F.size(toks) >= 2, F.sequence(F.lit(0), F.size(toks) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)))
    return (
        tokenized.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Temporal joins (operators Spark lacks natively): range join + as-of join
# --------------------------------------------------------------------------
_RANGE_GAP_S = 300


@query(
    "x39_time_range_join",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, ts FROM events)
    SELECT a.event_id AS a_id, b.event_id AS b_id
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {_RANGE_GAP_S * 1_000_000}
    ORDER BY a_id, b_id
    """,
    certifies="range/interval join via bucketed equi-join (SURVEY §2.10 gap)",
    tags=("temporal",),
)
def x39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_etl_website_visits_spark.operators.rangejoin import time_range_join_pairs

    events = load_table(spark, sf_dir, "events")
    return time_range_join_pairs(events, "user_id", "ts", "event_id", _RANGE_GAP_S)


@query(
    "x40_asof_join",
    oracle="""
    WITH clicks AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         purchases AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS left_id,
           (SELECT c.event_id FROM clicks c
             WHERE c.user_id = p.user_id AND c.ts <= p.ts
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS right_id,
           (SELECT strftime(c.ts, '%Y-%m-%d %H:%M:%S') FROM clicks c
             WHERE c.user_id = p.user_id AND c.ts <= p.ts
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS right_ts
    FROM purchases p ORDER BY left_id
    """,
    certifies="as-of join: purchase -> latest click at-or-before (SURVEY §2.10 gap)",
    tags=("temporal",),
)
def x40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_etl_website_visits_spark.operators.rangejoin import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    out = asof_join(purchases, clicks, "user_id", "ts", "event_id")
    return out.select(
        "left_id", "right_id", F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("right_ts")
    )


@query(
    "x41_embed_ivf_topk",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < 16
    ),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {_TOPK_QUERY_IDS}),
    asg AS (
      SELECT vec_id AS neighbor_id, cid AS centroid_id FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.v, c.cv)
                   / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                 c.cid) AS rn
        FROM vecs v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cid AS centroid_id FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                 c.cid) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 4
    ),
    sims AS (
      SELECT p.query_id, a.neighbor_id,
             list_dot_product(qq.qv, vv.v)
               / (sqrt(list_dot_product(qq.qv, qq.qv)) * sqrt(list_dot_product(vv.v, vv.v))) AS sim_raw
      FROM probes p
      JOIN asg a USING (centroid_id)
      JOIN q qq ON qq.query_id = p.query_id
      JOIN vecs vv ON vv.vec_id = a.neighbor_id
      WHERE a.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id, ROUND(sim_raw, 4) AS sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, neighbor_id) AS rn
      FROM sims
    ) WHERE rn <= {_TOPK_K} ORDER BY query_id, neighbor_id
    """,
    certifies="X3 IVF approximate similarity (nprobe-tunable recall) — hash-certified via the deterministic-codebook quantizer + rounded-cosine discipline (was rows-only through r10); assignment, probe set, pruned candidate join and final ranking all replay in SQL",
    tags=("llm", "similarity", "certificate"),
)
def x41(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _TOPK_QUERY_IDS)
    return S.ivf_topk(
        queries, emb, k=_TOPK_K, num_centroids=16, nprobe=4, centroids="codebook"
    )


# --------------------------------------------------------------------------
# The curation pipeline, end to end: keep exactly one copy of each distinct
# normalized text, only if it clears the quality floor and is classified
# English. This is the composed "training-data filter" a 100 TB corpus run
# executes; every stage is the oracle-checked operator above.
# --------------------------------------------------------------------------
@query(
    "x43_corpus_curation",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5({_NORM}) AS fp,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS BIGINT) AS n_toks,
             ({_lang_score_sql('en')}) AS en_score,
             GREATEST({_lang_score_sql('es')}, {_lang_score_sql('fr')}, {_lang_score_sql('de')}) AS other_score
      FROM documents
    ),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp.fp)
    SELECT f.doc_id,
           CAST((LEAST(500, f.n_toks * 5) + LEAST(500, f.n_chars)) / 1000.0 AS DOUBLE) AS quality_score
    FROM fp f JOIN keepers k ON f.doc_id = k.doc_id
    WHERE (LEAST(500, f.n_toks * 5) + LEAST(500, f.n_chars)) >= 400
      AND f.en_score >= f.other_score AND f.en_score > 0
    ORDER BY f.doc_id
    """,
    certifies="composed curation pipeline: exact-dedup keeper ∧ quality floor ∧ lang-id (SURVEY §2.11 north star)",
    tags=("llm", "pipeline"),
)
def x43(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: md5/regex per row dominate; min/min_by aggs are exact (safe)
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # Quality and lang-id are pure functions of the text, so they COMMUTE
    # with exact dedup: every copy of a text scores identically, hence the
    # min-doc_id keeper among filtered survivors is the min-doc_id keeper
    # overall. That turns dedup-then-join into filter-then-group: one scan,
    # no join, no broadcast. Stage order is cheapest-first AND
    # barrier-aware: (1) the two-length-expr quality floor prunes at the
    # scan; (2) the fingerprint groupBy dedups the survivors (the one
    # shuffle — payload is already the curated sliver); (3) lang-id LAST,
    # above the Aggregate. The Aggregate is an optimizer barrier, so the
    # lang predicate cannot be pushed down into a Filter over the full
    # table — FilterExec has no common-subexpression elimination, and the
    # collapsed argmax-of-regexp-scores predicate measured 5x the cost of
    # the same expression in a projection. Above the barrier it evaluates
    # once per DISTINCT surviving text instead of once per document.
    t = F.col("text")
    score_millis = F.least(F.lit(500), T.token_count(t) * 5) + F.least(
        F.lit(500), F.length(t).cast("int")
    )
    return (
        docs.select(
            "doc_id", "text", (score_millis / F.lit(1000.0)).cast("double").alias("quality_score")
        )
        .filter(F.col("quality_score") >= 0.4)
        # lang-id as a PROJECTION over the quality survivors: ProjectExec
        # does common-subexpression elimination, so the 12-marker regexp
        # battery normalizes the text once — the same expression inside a
        # Filter re-expands per reference (no CSE) and measured 5x slower.
        .select(
            "doc_id",
            "quality_score",
            D.fingerprint(t).alias("fp"),
            (T.lang_id(t) == "en").cast("int").alias("is_en"),
        )
        .groupBy("fp")
        # primitive-only buffers → HashAggregate: a min(struct(...)) keeper
        # or a min over a STRING lang column here forced SortAggregate +
        # per-partition sort on the md5 key. min_by pins the score to the
        # keeper doc, not just any copy's score; is_en is identical across
        # copies so min() carries it.
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("quality_score", "doc_id").alias("quality_score"),
            F.min("is_en").alias("is_en"),
        )
        # plain attribute predicate above the Aggregate barrier: nothing to
        # re-expand, nothing to push back down into the full-table scan
        .filter(F.col("is_en") == 1)
        .select("doc_id", "quality_score")
    )


@query(
    "x42_dedup_embed_cosine",
    oracle=None,  # replaced below: built from the three plane-set literals
    certifies="X3 embedding-cosine near-dup via multi-probe LSH + exact verify — hash-certified through integer-micro quantized sign tests over a FIXED 6-plane count (was rows-only through r10); candidate union over three seeds, verification and rounding all replay in SQL",
    tags=("llm", "dedup", "similarity", "certificate"),
)
def x42(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # threshold 0.3, not 0.5: the synthetic embeddings are near-orthogonal
    # random vectors (pairwise cosine ~ N(0, 1/64); sf0.01 has exactly ONE
    # pair above 0.5), so a 0.5 threshold made the driver's rows-only check
    # vacuous (0 rows — VERDICT r1 finding #1). At 0.3 the sf0.01 table has
    # ~990 true pairs of which the seeded multi-probe LSH recalls a stable
    # ~1/8; every emitted pair is exact-verified, and
    # tests/test_operators.py::test_dedup_embed_cosine_exact_verification
    # asserts the output is a subset of the numpy-exact pair set with
    # matching similarity. num_planes pinned to 6 (the adaptive default is
    # data-dependent; a static oracle cannot adapt — the operator keeps
    # the scale-safe adaptive count for production).
    return S.dedup_embed_cosine(emb, threshold=0.3, num_planes=6, quantized=True)


def _multiprobe_lsh_sql(seeds: tuple, num_planes: int, dim: int, threshold: float) -> str:
    """DuckDB twin of the quantized multi-probe LSH dedup: one plane-set
    literal block per seed; candidate union over (seed, bucket)
    collisions; exact cosine verify at the raw threshold."""
    import numpy as np

    rows = []
    for s in seeds:
        pq = np.floor(
            np.asarray(S.hyperplanes(dim, num_planes, s), dtype=np.float64) * 1e6
        ).astype(np.int64)
        rows += [
            f"({s}, {j}, [{', '.join(str(int(x)) for x in pq[j])}]::BIGINT[])"
            for j in range(num_planes)
        ]
    return f"""
    WITH planes(s, j, pv) AS (VALUES {', '.join(rows)}),
    raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS arr FROM embeddings),
    vq AS (
      SELECT vec_id, list_transform(arr, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS q
      FROM raw
    ),
    bkt AS (
      SELECT s, vec_id,
             CAST(SUM(CASE WHEN list_dot_product(CAST(q AS DOUBLE[]), CAST(pv AS DOUBLE[])) > 0
                           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
      FROM vq CROSS JOIN planes GROUP BY s, vec_id
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bkt a JOIN bkt b ON a.s = b.s AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT p.id_a, p.id_b,
             list_dot_product(ra.arr, rb.arr)
               / (sqrt(list_dot_product(ra.arr, ra.arr)) * sqrt(list_dot_product(rb.arr, rb.arr))) AS sim_raw
      FROM pairs p JOIN raw ra ON ra.vec_id = p.id_a JOIN raw rb ON rb.vec_id = p.id_b
    )
    SELECT id_a, id_b, ROUND(sim_raw, 4) AS sim FROM scored
    WHERE sim_raw >= {threshold} ORDER BY id_a, id_b
    """


REGISTRY["x42_dedup_embed_cosine"].oracle = _multiprobe_lsh_sql((1, 2, 3), 6, 64, 0.3)


def _kmeans_integer_sql(k: int, iters: int) -> str:
    """Unrolled DuckDB twin of operators/similarity.py:
    kmeans_integer_summary — one CTE block per Lloyd iteration. Every
    quantity is an exact integer (or an integer-valued double < 2^53), so
    the SQL replays the Spark run digit-for-digit; FLOOR(SUM/COUNT) is
    the floor-division mean (DuckDB's // truncates toward zero — wrong
    for negative sums)."""
    head = f"""
    WITH lab AS (SELECT vec_id, label FROM embeddings),
    v AS (
      SELECT vec_id, i - 1 AS pos, CAST(FLOOR(arr[i] * 1000000) AS BIGINT) AS val
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS arr FROM embeddings),
           unnest(generate_series(1, len(arr))) AS u(i)
    ),
    c0 AS (SELECT vec_id AS cid, pos, val FROM v WHERE vec_id < {k})"""
    its = []
    for t in range(iters):
        its.append(f""",
    d{t} AS (
      SELECT v.vec_id, c.cid, SUM((v.val - c.val) * (v.val - c.val)) AS dist
      FROM v JOIN c{t} c USING (pos) GROUP BY v.vec_id, c.cid
    ),
    a{t} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    m{t} AS (
      SELECT a.cluster AS cid, v.pos,
             CAST(FLOOR(CAST(SUM(v.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
      FROM v JOIN a{t} a USING (vec_id) GROUP BY a.cluster, v.pos
    ),
    c{t + 1} AS (
      SELECT c.cid, c.pos, COALESCE(m.val, c.val) AS val
      FROM c{t} c LEFT JOIN m{t} m ON m.cid = c.cid AND m.pos = c.pos
    )""")
    tail = f""",
    dF AS (
      SELECT v.vec_id, c.cid, SUM((v.val - c.val) * (v.val - c.val)) AS dist
      FROM v JOIN c{iters} c USING (pos) GROUP BY v.vec_id, c.cid
    ),
    aF AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM dF
      ) WHERE rn = 1
    ),
    bylab AS (
      SELECT a.cluster, l.label, CAST(COUNT(*) AS BIGINT) AS n
      FROM aF a JOIN lab l USING (vec_id) GROUP BY a.cluster, l.label
    ),
    l1 AS (
      SELECT cid, CAST(SUM(ABS(val)) AS BIGINT) AS centroid_l1_micro
      FROM c{iters} GROUP BY cid
    )
    SELECT CAST(t.cluster AS INT) AS cluster_id, t.n_members,
           CAST(tp.label AS INT) AS top_label, tp.n AS top_label_n,
           l1.centroid_l1_micro
    FROM (SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_members FROM bylab GROUP BY cluster) t
    JOIN (SELECT cluster, label, n FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn
            FROM bylab) WHERE rn = 1) tp USING (cluster)
    JOIN l1 ON l1.cid = t.cluster
    ORDER BY cluster_id"""
    return head + "".join(its) + tail


@query(
    "x60_embed_kmeans",
    oracle=_kmeans_integer_sql(k=8, iters=4),
    certifies="X3 k-means clustering over embeddings — Lloyd's iterations in exact micro-quantized integer geometry (integer distances, floor-division centroid means, codebook init), so the full iterative run hash-certifies against an unrolled SQL twin (was rows-only through r10; VERDICT r10 item 5)",
    tags=("llm", "similarity", "certificate"),
)
def x60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size + majority-label purity view of integer-exact k-means
    (k=8, 4 Lloyd iterations) over the 64-dim embeddings, plus the exact
    centroid L1 fingerprint certifying the iteration arithmetic itself.
    The float spherical form stays available as
    operators/similarity.py:kmeans_summary (exactness-tested on planted
    clusters); this certified form pins every assignment and update
    cross-engine. 'certificate' tag: the SQL twin is quadratic in
    (vecs x centroids) by nature — the Spark side is the bounded
    map-only loop."""
    emb = load_table(spark, sf_dir, "embeddings")
    # init codebook (ids < 8) from the per-fingerprint driver memo — the
    # x82/x84 trained-artifact serving shape; saves the per-call collect job
    return S.kmeans_integer_summary(emb, k=8, iters=4, codebook_rows=probe_vectors(sf_dir, emb, 16))


@query(
    "x61_multimodal_png_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 16 AS INT) AS width,
           CAST(1 + (doc_id // 16) % 16 AS INT) AS height,
           1 AS n_channels,
           CAST((doc_id * 37) % 256 AS DOUBLE) AS mean_luma
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY doc_id
    """,
    certifies="X5 multimodal: REAL in-engine PNG encode->decode (zlib+unfilter) with pixel statistics the oracle derives arithmetically",
    tags=("llm", "multimodal"),
)
def x61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip proof of the real PNG codec as an oracle-backed query.

    Each document fabricates a REAL grayscale PNG (geometry and fill color
    arithmetic functions of doc_id), then decodes it with the pure-python
    codec (operators/multimodal.py png_decode: zlib inflate + scanline
    unfilter) and emits the recovered pixel statistics. DuckDB cannot decode
    PNG — but it doesn't need to: the expected width/height/mean-luma are
    the same arithmetic, so any codec defect (geometry, filtering, palette,
    luma) breaks the hash match. Map-only Arrow batches; at scale this is
    the decode/feature-extract stage of a multimodal ingest with zero
    shuffle.
    """
    import numpy as np
    import pandas as pd

    from pipeline_etl_website_visits_spark.operators.multimodal import png_decode, png_encode

    def roundtrip(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            rows = []
            for did in ids:
                w = int(1 + did % 16)
                h = int(1 + (did // 16) % 16)
                c = int((did * 37) % 256)
                px = np.full((h, w), c, dtype=np.uint8)
                decoded = png_decode(png_encode(px))
                rows.append(
                    {
                        "doc_id": int(did),
                        "width": decoded.shape[1],
                        "height": decoded.shape[0],
                        "n_channels": decoded.shape[2],
                        "mean_luma": float(decoded[:, :, 0].mean()),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "n_channels", "mean_luma"]
            )

    # Deterministic 1-in-5 subset: the codec certificate needs coverage, not
    # the whole corpus — the round-trip is pure per-row Python work that the
    # arithmetic-only oracle never pays, so bounding it keeps the suite's
    # wall time honest while every code path (encode, inflate, unfilter,
    # stats) still runs hundreds of times per check.
    docs = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    return docs.mapInPandas(
        roundtrip,
        "doc_id long, width int, height int, n_channels int, mean_luma double",
    )


@query(
    "x71_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM p
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster_id
    FROM reach GROUP BY a ORDER BY a
    """,
    certifies="X3 connected-components clustering over near-dup pairs (iterative label propagation vs DuckDB recursive-CTE transitive closure)",
    tags=("llm", "dedup"),
)
def x71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pipeline completion: Jaccard pairs → connected components →
    (doc_id, cluster_id) with min-doc-id canonical labels.

    Spark runs iterative min-label propagation (one groupBy-min shuffle per
    round, lineage-truncated per iteration — operators/dedup.py
    dedup_clusters); the oracle computes the same fixpoint as a DuckDB
    recursive-CTE transitive closure. Both converge to identical labels —
    an end-to-end certificate for the only iterative-graph operator in the
    engine. Pairs come off the shared stored overlap artifact (r12).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=_JACCARD_THRESHOLD,
        overlap=shared_pair_overlap(spark, sf_dir, min_jaccard=_JACCARD_THRESHOLD),
    )
    return D.dedup_clusters(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


@query(
    "x76_multimodal_wav_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
           CAST((8000 + (doc_id % 4) * 4000) // 100 AS BIGINT) AS n_samples,
           CAST((doc_id * 13) % 3000 AS DOUBLE) AS rms
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY doc_id
    """,
    certifies="X5 multimodal audio: REAL in-engine WAV encode->decode (stdlib PCM codec) with signal stats the oracle derives arithmetically",
    tags=("llm", "multimodal"),
)
def x76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio sibling of x61: fabricate a REAL 16-bit PCM WAV per document
    (rate and constant amplitude arithmetic functions of doc_id, 10 ms of
    samples), decode it with the stdlib codec, emit recovered signal stats.
    RMS of a constant-amplitude signal is exactly that amplitude, so the
    oracle needs no DSP. Map-only Arrow batches; 1-in-5 subset like x61.
    """
    import numpy as np
    import pandas as pd

    from pipeline_etl_website_visits_spark.operators.multimodal import wav_decode, wav_encode

    def roundtrip(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                rate = int(8000 + (did % 4) * 4000)
                n = rate // 100  # 10 ms
                amp = int((did * 13) % 3000)
                arr, got_rate = wav_decode(wav_encode(np.full(n, amp, dtype=np.int16), rate))
                rows.append(
                    {
                        "doc_id": int(did),
                        "sample_rate": got_rate,
                        "n_samples": arr.shape[0],
                        "rms": float(np.sqrt(np.mean(arr.astype(np.float64) ** 2))),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "sample_rate", "n_samples", "rms"])

    docs = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    return docs.mapInPandas(
        roundtrip, "doc_id long, sample_rate int, n_samples long, rms double"
    )


@query(
    "x78_bpe_merges",
    oracle=None,
    certifies="X4 BPE merge learning (tokenizer training): iterative corpus op, not SQL-expressible; exactness vs the classic algorithm in tests/test_curation_ops.py::test_bpe_merges_match_reference",
    tags=("llm", "text", "no-oracle"),
)
def x78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merges learned from the documents corpus (word-type
    table stays distributed; one pair-count shuffle + one map-only fusion
    per round). Rows-only driver check (3 rows, deterministic content);
    the 6-round exactness test pins the algorithm against the classic
    single-machine reference."""
    toks = shared_tokenized_corpus(spark, sf_dir)
    return T.learn_bpe_merges(toks, "toks", num_merges=3)


def probe_vectors(sf_dir: str, emb: DataFrame, n: int) -> list:
    """``(vec_id, embedding)`` of the vectors with ``vec_id < n``, collected
    once per embeddings fingerprint: probe sets and default codebooks are
    fixed serving inputs, like a stored index's metadata, so a query does
    not pay a collect job per call. Inputs to queries, never results."""
    return artifacts.memo(
        table_path(sf_dir, "embeddings"), f"probe_vecs{n}",
        lambda: [
            (r["vec_id"], r["embedding"])
            for r in emb.filter(F.col("vec_id") < n).select("vec_id", "embedding").collect()
        ],
    )


# --------------------------------------------------------------------------
# x82 — product quantization (PQ) codes over the embeddings table
#
# The compression layer under large-scale ANN: 64-dim float vectors → 8
# one-byte centroid codes (see operators/similarity.py:pq_encode for the
# scale story). Oracle-backed because the operator quantizes floats to
# integer micro-units BEFORE the distance math — squared L2 is exact BIGINT
# in both engines and the per-(vector, subspace) argmin (centroid-id
# tie-break) is deterministic. The codebook is the first 16 vectors by id,
# so those 16 must encode to themselves with qerr = 0 (pinned in
# tests/test_operators.py).
# --------------------------------------------------------------------------
@query(
    "x82_embed_pq_codes",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, m.sub, list_slice(qv, m.sub * 8 + 1, m.sub * 8 + 8) AS sv
      FROM q, (SELECT unnest(range(0, 8)) AS sub) m
    ),
    cb AS (
      SELECT sub, vec_id AS centroid_id, sv AS cv FROM subs WHERE vec_id < 16
    ),
    dists AS (
      SELECT s.vec_id, s.sub, c.centroid_id,
             CAST(list_sum(list_transform(range(1, 9),
                  i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS BIGINT) AS d
      FROM subs s JOIN cb c ON s.sub = c.sub
    )
    SELECT vec_id, CAST(sub AS INT) AS sub,
           CAST(arg_min(centroid_id,
                        LPAD(CAST(d AS VARCHAR), 20, '0')
                          || LPAD(CAST(centroid_id AS VARCHAR), 4, '0')) AS BIGINT) AS code,
           CAST(MIN(d) AS BIGINT) AS qerr
    FROM dists GROUP BY vec_id, sub ORDER BY vec_id, sub
    """,
    certifies="X3 product quantization: per-subspace nearest-centroid codes, integer-exact distances, broadcast codebook",
    tags=("llm", "similarity"),
)
def x82(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # codebook = trained artifact: collect it ONCE per corpus fingerprint
    # and hand the rows to the encoder (serving shape — the per-call
    # collect job was ~a third of x82's fixed cost); no final orderBy —
    # the correctness compare is row-order-insensitive and the global
    # sort was a sampling job + range exchange on a map-only plan
    return S.pq_encode(emb, codebook_rows=probe_vectors(sf_dir, emb, 16))


# --------------------------------------------------------------------------
# x83 — n-gram novelty scoring (corpus-uniqueness signal per document)
#
# Fraction of each doc's distinct 5-grams that occur in no other document —
# the boilerplate-vs-new-content ranking signal (see operators/text.py:
# ngram_novelty for the plan and the hashed-shuffle scale note). The oracle
# counts raw gram strings where Spark counts xxhash64(gram) — identical
# results unless a 64-bit collision merges two grams, which this very gate
# would catch.
# --------------------------------------------------------------------------
@query(
    "x83_ngram_novelty",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 3),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2] || ' ' || lst[i+3] || ' ' || lst[i+4]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    freq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(((SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 20000 + COUNT(*))
                 // (2 * COUNT(*))) / 10000.0 AS DOUBLE) AS novelty
    FROM g JOIN freq USING (gram)
    GROUP BY doc_id ORDER BY doc_id
    """,
    certifies="X4 n-gram novelty scoring: corpus doc-frequency vs per-doc distinct grams, hashed-key shuffle",
    tags=("llm", "text"),
)
def x83(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = shared_tokenized_corpus(spark, sf_dir)
    # no final orderBy (the x82 discipline, r15): determinism-only sort
    return T.ngram_novelty(toks, "toks", "doc_id", n=5)


# --------------------------------------------------------------------------
# x84 — ADC top-k search over PQ codes (compressed-domain similarity)
#
# The search half of the PQ story (x82 is the encode half): queries stay
# exact, candidates are scanned as 8 centroid codes with per-query distance
# TABLES (see operators/similarity.py:pq_adc_topk). Integer micro-unit
# arithmetic end-to-end, so the oracle replays codes + table lookups + sum
# exactly; ties broken by (distance, candidate id).
# --------------------------------------------------------------------------
_X84_ORACLE = """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, m.sub, list_slice(qv, m.sub * 8 + 1, m.sub * 8 + 8) AS sv
      FROM q, (SELECT unnest(range(0, 8)) AS sub) m
    ),
    cb AS (
      SELECT sub, vec_id AS centroid_id, sv AS cv FROM subs WHERE vec_id < 16
    ),
    dists AS (
      SELECT s.vec_id, s.sub, c.centroid_id,
             CAST(list_sum(list_transform(range(1, 9),
                  i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS BIGINT) AS d
      FROM subs s JOIN cb c ON s.sub = c.sub
    ),
    codes AS (
      SELECT vec_id, sub,
             arg_min(centroid_id,
                     LPAD(CAST(d AS VARCHAR), 20, '0')
                       || LPAD(CAST(centroid_id AS VARCHAR), 4, '0')) AS code
      FROM dists GROUP BY vec_id, sub
    ),
    qd AS (
      SELECT vec_id AS query_id, sub, centroid_id, d FROM dists WHERE vec_id < 10
    ),
    adc AS (
      SELECT qd.query_id, codes.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
      FROM codes JOIN qd ON codes.sub = qd.sub AND codes.code = qd.centroid_id
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist FROM (
      SELECT query_id, vec_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
      FROM adc
    ) WHERE rn <= 5 ORDER BY query_id, vec_id
"""


@query(
    "x84_embed_pq_adc_topk",
    oracle=_X84_ORACLE,
    certifies="X3 compressed-domain ANN: ADC top-k over PQ codes, per-query distance tables, partial-top-k map pass",
    tags=("llm", "similarity"),
)
def x84(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # no final orderBy: the correctness compare is row-order-insensitive
    # (sorted canonicalization on both sides), and the global sort was one
    # whole extra exchange+stage on a 50-row result
    return S.pq_adc_topk(queries, emb, k=5)


# --------------------------------------------------------------------------
# x117 — the STORED vector index end-to-end (encode once / search many)
#
# x84 certifies the fused encode+search math; x117 certifies the deployed
# ARTIFACT: build_ivfpq_index persists PQ codes partitioned by coarse IVF
# cell, ivfpq_search answers from the stored codes (scan reads (id, codes,
# cell) only — re-encoding is structurally impossible; partition pruning
# covers the probed cells). With every cell probed the search is
# bit-identical to x84's fused ADC, so the SAME DuckDB oracle replays it —
# an oracle-backed certificate that the storage round-trip loses nothing.
# The per-call index build is one map-only corpus scan + a partitioned
# write into a scratch dir (the "encode once" half of the contract; tests
# additionally pin search-twice-no-rebuild and pruned-scan plans).
# --------------------------------------------------------------------------
@query(
    "x117_stored_index_search",
    oracle=_X84_ORACLE,
    certifies="X3 stored IVF-PQ index: persisted cell-partitioned codes + ADC search from storage, bit-identical to the fused path (VERDICT r4 item 6)",
    tags=("llm", "similarity", "scale"),
)
def x117(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_etl_website_visits_spark.operators.vector_index import (
        build_ivfpq_index,
        ivfpq_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # encode ONCE per corpus FINGERPRINT, search many: repeat calls
    # (bench's min-of-N, repeated gate runs) hit the stored codes — the
    # artifact's whole contract
    path = artifacts.stored(
        sf_dir, "embeddings", "vindex", lambda tmp: build_ivfpq_index(emb, tmp, num_coarse=4)
    )
    queries = emb.filter(F.col("vec_id") < 10)
    # no final orderBy (the x82 discipline, r15): determinism-only sort
    return ivfpq_search(spark, path, queries, k=5, nprobe=4)


# --------------------------------------------------------------------------
# x85 — incremental dedup: a new batch scored against the existing corpus
#
# The steady-state ingestion decision ("does today's crawl add anything
# new") — containment of each incoming doc in its best-matching corpus doc
# (see operators/dedup.py:incremental_containment_dedup for the
# inverted-index scale shape). Split here by doc_id parity: even = already
# ingested, odd = incoming batch.
# --------------------------------------------------------------------------
_X85_THRESHOLD = 0.5


_X85_ORACLE = f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    ig AS (SELECT doc_id AS new_id, gram FROM g WHERE doc_id % 2 = 1),
    isz AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ig GROUP BY new_id),
    cg AS (SELECT doc_id AS old_id, gram FROM g WHERE doc_id % 2 = 0),
    pairs AS (
      SELECT new_id, old_id, CAST(COUNT(*) AS BIGINT) AS inter
      FROM ig JOIN cg USING (gram) GROUP BY new_id, old_id
    ),
    best AS (
      SELECT new_id, old_id, inter,
             ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY inter DESC, old_id ASC) AS rn
      FROM pairs
    )
    SELECT new_id AS doc_id,
           CAST(old_id AS BIGINT) AS best_match,
           inter,
           CAST(((inter * 2000 + sz) // (2 * sz)) / 1000.0 AS DOUBLE) AS containment,
           (CAST(((inter * 2000 + sz) // (2 * sz)) / 1000.0 AS DOUBLE) >= {_X85_THRESHOLD}) AS dropped
    FROM best JOIN isz USING (new_id)
    WHERE rn = 1 ORDER BY doc_id
"""


@query(
    "x85_incremental_dedup",
    oracle=_X85_ORACLE,
    certifies="X3 incremental near-dup dedup: new batch vs existing corpus, inverted-index containment + best-match decision",
    tags=("llm", "dedup"),
)
def x85(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    # no final orderBy (the x82 discipline, r15): the gate compare is
    # order-insensitive and the sort was a sampling job + range exchange
    return D.incremental_containment_dedup(
        corpus, incoming, "text", "doc_id", n=3, threshold=_X85_THRESHOLD
    )


# --------------------------------------------------------------------------
# x122 — incremental dedup answered from the STORED gram index
#
# x85 certifies the scoring math with an inline corpus index; x122
# certifies the deployed ARTIFACT: save_gram_index persists the corpus
# inverted index as a gram-bucketed catalog table (built once per corpus
# dir, reused across calls — the x117 build-once discipline), and
# containment_dedup_vs_stored answers the same batch-vs-corpus decision
# from it through the SAME scoring half (shared helper), so the x85
# oracle replays it bit-for-bit. The bucketed index side reads
# exchange-free; only the batch's grams ever shuffle (plan-asserted in
# tests/test_dedup_index.py).
# --------------------------------------------------------------------------
@query(
    "x122_stored_gram_dedup",
    oracle=_X85_ORACLE,
    certifies="X3 stored gram index: persisted gram-bucketed corpus index + batch dedup from storage, bit-identical to the inline path",
    tags=("llm", "dedup", "scale"),
)
def x122(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_etl_website_visits_spark.operators.dedup import (
        containment_dedup_vs_stored,
        register_gram_index,
        save_gram_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    # the table name carries the stored index's fingerprint tag, so the
    # in-session catalog entry can only ever point at matching files
    table = f"gramidx_q_{artifacts.fingerprint(sf_dir, 'documents')}"
    if not spark.catalog.tableExists(table):
        # a COMMITTED on-disk index from a previous session is registered,
        # never rewritten; a fresh build's catalog entry is dropped after
        # the write (external: the files persist) so only the committed
        # path is ever registered
        def build(tmp: str) -> None:
            tmp_table = f"{table}_b{os.getpid()}"
            spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
            save_gram_index(corpus, tmp_table, tmp, "text", "doc_id", n=3)
            spark.sql(f"DROP TABLE {tmp_table}")

        path = artifacts.stored(sf_dir, "documents", "gramidx", build)
        register_gram_index(spark, table, path, n_buckets=32, n=3)
    # no final orderBy (the x82 discipline, r15) — see x85
    return containment_dedup_vs_stored(
        incoming, spark.table(table), "text", "doc_id", n=3, threshold=_X85_THRESHOLD
    )


# --------------------------------------------------------------------------
# x86 — multi-criterion dedup pipeline off ONE shared gram index
#
# The composition certificate: Jaccard near-dups (symmetric) and
# containment clones (subset duplication) both consume the SAME cached
# gram_index — the corpus is tokenized/shingled/hashed exactly once for
# the whole pipeline — and their pair union feeds connected-components
# clustering. This is how a real curation run composes the dedup family at
# 100 TB (SURVEY §2.11 X3; docs/SCALE.md "Dedup family"); the oracle
# recomputes grams per CTE reference and a recursive-CTE closure, so this
# query is also where Spark's shared-scan architecture shows up as a
# direct wall-clock win over the re-deriving SQL formulation.
# --------------------------------------------------------------------------
_X86_JAC = 0.2
_X86_CON = 0.8


@query(
    "x86_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM p
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_X86_JAC}
         OR CAST(inter AS DOUBLE) / LEAST(sa.sz, sb.sz) >= {_X86_CON}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster_id
    FROM reach GROUP BY a ORDER BY a
    """,
    certifies="X3 composed dedup pipeline: shared gram index → Jaccard ∪ containment pairs → connected components",
    tags=("llm", "dedup"),
)
def x86(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both metrics are filters over the SAME pair relation — served from
    # the shared stored overlap artifact (r12; previously a per-run cached
    # gram_index, which still re-paid the self-join once per run)
    docs = load_table(spark, sf_dir, "documents")
    ovl = shared_pair_overlap(
        spark, sf_dir, min_jaccard=_X86_JAC, min_containment=_X86_CON
    )
    jac = D.shingle_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=_X86_JAC, overlap=ovl)
    con = D.shingle_containment_pairs(docs, "text", "doc_id", n=3, threshold=_X86_CON, overlap=ovl)
    pairs = jac.select("doc_a", "doc_b").union(con.select("doc_a", "doc_b")).distinct()
    # no final orderBy (the x82 discipline, r15): determinism-only sort
    return D.dedup_clusters(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# --------------------------------------------------------------------------
# x89 — edit-distance fuzzy matching (levenshtein)
#
# The record-linkage primitive the string-dedup family sits on: exact edit
# distance between each customer name and its successor's (the x69
# adjacent-pair discipline — a bounded linear pair set, never the quadratic
# all-pairs; production blocks candidates first via shingles/LSH and only
# then pays the O(len²) distance on survivors). Both engines implement
# unit-cost Levenshtein.
# --------------------------------------------------------------------------
@query(
    "x89_fuzzy_adjacent_names",
    oracle="""
    SELECT a.c_custkey AS k,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist,
           (levenshtein(a.c_name, b.c_name) <= 2) AS near_match
    FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
    ORDER BY k
    """,
    certifies="edit-distance (Levenshtein) fuzzy matching over a bounded candidate pair set",
    tags=("llm", "text"),
)
def x89(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a = cust.select(F.col("c_custkey").alias("k"), F.col("c_name").alias("name_a"))
    b = cust.select((F.col("c_custkey") - 1).alias("k"), F.col("c_name").alias("name_b"))
    d = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "k")
        .select("k", d.cast("int").alias("edit_dist"), (d <= 2).alias("near_match"))
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# x90 — BPE train → apply: per-document token counts under learned merges
#
# Completes the tokenizer loop that x78 opens: the merges learned from the
# corpus are applied back to it (word-type encode + join-back — see
# operators/text.py:bpe_token_counts) to produce the per-document BPE token
# budget a sequence-packing pipeline feeds on (x49). Iterative + closure
# state → rows-only driver check; exactness pinned against a classic
# single-machine encode in tests/test_curation_ops.py. Two merges, not
# x78's three: the train/apply LOOP is the certificate here (x78 already
# certifies merge learning at depth), and each extra round is ~0.5 s of
# pure per-round job scheduling at bench scale.
# --------------------------------------------------------------------------
@query(
    "x90_bpe_token_counts",
    oracle=None,
    certifies="X4 BPE tokenizer apply: learned merges → per-doc token counts (train/apply loop closed)",
    tags=("llm", "text", "no-oracle"),
)
def x90(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = shared_tokenized_corpus(spark, sf_dir)
    merges = [
        (r["left"], r["right"])
        for r in T.learn_bpe_merges(toks, "toks", num_merges=2).collect()
    ]
    # no final orderBy (the x82 discipline, r15): determinism-only sort
    return T.bpe_token_counts(toks, "toks", "doc_id", merges)


@query(
    "x96_semantic_dedup",
    oracle="""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < 8
    ),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    asg AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.v, c.cv)
                   / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                 c.cid) AS rn
        FROM vecs v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT a2.vec_id AS j
      FROM asg a1 JOIN asg a2 ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
      JOIN vecs v1 ON v1.vec_id = a1.vec_id
      JOIN vecs v2 ON v2.vec_id = a2.vec_id
      WHERE ROUND(list_dot_product(v1.v, v2.v)
            / (sqrt(list_dot_product(v1.v, v1.v)) * sqrt(list_dot_product(v2.v, v2.v))), 4) > 0.95
    ),
    kept AS (SELECT vec_id, cluster FROM asg WHERE vec_id NOT IN (SELECT j FROM dups))
    SELECT CAST(cluster AS INT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(vec_id) AS BIGINT) AS min_kept_id
    FROM kept GROUP BY cluster ORDER BY cluster
    """,
    certifies="X3 semantic deduplication (SemDeDup: quantize the space, prune within-cluster cosine near-dups) — oracle-backed via the deterministic-codebook quantizer + the x101 rounded-cosine discipline (was rows-only through r10; VERDICT r10 item 5); the trained-Lloyd form stays as the operator default, exactness-tested on planted groups",
    tags=("llm", "similarity", "dedup", "certificate"),
)
def x96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster survivor counts of the SQL-replayable SemDeDup run:
    codebook quantizer (vec_id < 8 are the cluster centers — the IVF/PQ
    stand-in contract), within-cluster prune on the 4-dp-rounded cosine.
    'certificate' tag: the oracle's within-cluster pairing is the
    quadratic certificate form; the Spark side blocks the O(n^2) by
    cluster with a hard size guard (the SemDeDup recipe's whole point)."""
    emb = load_table(spark, sf_dir, "embeddings")
    kept = S.semantic_dedup(
        emb, k=8, threshold=0.95, centroids="codebook", round_dp=4
    )
    return (
        kept.groupBy("cluster")
        .agg(F.count("*").cast("long").alias("n_kept"), F.min("id").cast("long").alias("min_kept_id"))
        # no final orderBy (the x82 discipline, r15)
    )


# fixed probe set: stable high-frequency vocabulary of the synthetic corpus
# generator (present at every sf), plus one guaranteed-absent token to pin
# the estimate-0 path
_CMS_PROBES = [
    "join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "merge",
    "zz-not-a-token",
]


@query(
    "x97_cms_token_counts",
    oracle=None,
    certifies="count-min-sketch frequency estimation (mergeable JVM sketch agg; sketch state not SQL-expressible)",
    tags=("llm", "text", "sketch", "no-oracle"),
)
def x97(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = shared_tokenized_corpus(spark, sf_dir)
    # rows-only driver check (|probes| rows); tests pin the CMS ≥ exact
    # guarantee and exactness at these parameters on a planted corpus
    return T.cms_token_estimates(toks, "toks", _CMS_PROBES)


def _pagerank_integer_sql(iters: int) -> str:
    """Unrolled DuckDB twin of operators/graph.py:pagerank_integer over
    the n-gram-Jaccard similarity graph (x22's pair derivation verbatim).
    All quantities are non-negative BIGINTs, so DuckDB's truncating //
    equals floor division and the run replays digit-for-digit."""
    head = f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    p AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) x JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION ALL SELECT doc_b, doc_a FROM p),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    its = []
    for t in range(iters):
        its.append(f""",
    m{t} AS (
      SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS im
      FROM e JOIN deg d ON d.src = e.src JOIN r{t} r ON r.node = e.src
      GROUP BY e.dst
    ),
    r{t + 1} AS (
      SELECT n.node, CAST(150000 + (850 * COALESCE(m.im, 0)) // 1000 AS BIGINT) AS r
      FROM nodes n LEFT JOIN m{t} m USING (node)
    )""")
    tail = f"""
    SELECT node AS doc_id, r AS rank_micro FROM r{iters}
    ORDER BY rank_micro DESC, doc_id LIMIT 25"""
    return head + "".join(its) + tail


@query(
    "x98_doc_pagerank",
    oracle=_pagerank_integer_sql(iters=5),
    certifies="random-walk centrality (power-iteration PageRank) over the near-dup similarity graph — exact integer micro-unit iteration (floor-division edge contributions, milli damping), so the full 5-round run hash-certifies against an unrolled SQL twin (was rows-only through r10; the float textbook form stays as operators/graph.py:pagerank)",
    tags=("llm", "graph", "certificate"),
)
def x98(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_etl_website_visits_spark.operators.graph import pagerank_integer

    # similarity graph (undirected → both directions) over n-gram Jaccard
    # pairs. r11 materialized the thresholded edge list per corpus
    # fingerprint (commit d110589, 64s→1.3s at sf1); r12 subsumes that
    # into the FAMILY-shared pair-overlap artifact — the edges are a
    # Jaccard filter over it, so x98 shares one stored derivation with
    # x22/x56/x71/x86/x114 instead of keeping a private graph copy. The
    # oracle still derives the same edges inline from ``documents``, so
    # the full 5-round integer PageRank hash-certifies the stored values.
    # Top 25 by (rank_micro desc, doc_id) — deterministic because every
    # iteration is exact integer arithmetic.
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=_JACCARD_THRESHOLD,
        overlap=shared_pair_overlap(spark, sf_dir, min_jaccard=_JACCARD_THRESHOLD),
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return (
        pagerank_integer(edges, iters=5)
        .select(F.col("node").cast("long").alias("doc_id"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "doc_id")
        .limit(25)
    )


_SD_THRESHOLD = 0.35


@query(
    "x101_semantic_decontam",
    oracle=f"""
    WITH ev AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 50 = 0
    ), corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 50 <> 0
    ), sims AS (
      SELECT c.vec_id AS corpus_id, e.vec_id AS eval_id,
             list_dot_product(c.v, e.v)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(e.v, e.v))) AS sim_raw
      FROM corpus c, ev e
    ), ranked AS (
      SELECT corpus_id, eval_id, sim_raw,
             ROW_NUMBER() OVER (PARTITION BY corpus_id ORDER BY sim_raw DESC, eval_id) AS rn
      FROM sims
    )
    SELECT corpus_id, eval_id, ROUND(sim_raw, 4) AS sim
    FROM ranked WHERE rn = 1 AND ROUND(sim_raw, 4) >= {_SD_THRESHOLD}
    ORDER BY corpus_id
    """,
    certifies="semantic (embedding-space) decontamination vs a broadcast eval set — map-only corpus scan (north-star §0.3)",
    tags=("llm", "similarity", "curation", "scale"),
)
def x101(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no fan_out: the per-row work is ONE tiny matmul row against a
    # 40-vector eval matrix — a 32-task Arrow stage costs more than the
    # math at bench scale (0.99s -> 0.57s), and at real scale the corpus
    # arrives in thousands of splits so fan_out is a no-op there anyway
    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return S.semantic_decontam_hits(corpus, evals, threshold=_SD_THRESHOLD)


@query(
    "x106_label_centroids",
    oracle="""
    WITH vecs AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS arr FROM embeddings
    ), dims AS (
      SELECT label, i AS pos, CAST(arr[i] AS DECIMAL(18,9)) AS val
      FROM vecs, unnest(generate_series(1, len(arr))) AS u(i)
    ), means AS (
      SELECT label, pos,
             ROUND(CAST(SUM(val) / COUNT(*) AS DOUBLE), 6) AS m
      FROM dims GROUP BY label, pos
    )
    SELECT label, CAST(MAX(n_vecs) AS BIGINT) AS n_vecs,
           array_to_string(array_agg(printf('%.6f', m) ORDER BY pos), ',') AS centroid
    FROM (
      SELECT label, pos, m,
             (SELECT COUNT(*) FROM embeddings e WHERE e.label = means.label) AS n_vecs
      FROM means
    ) GROUP BY label ORDER BY label
    """,
    certifies="distributed per-class vector mean (class centroids / mean-pooling; exact DECIMAL sums, order-pinned array rebuild)",
    tags=("llm", "similarity"),
)
def x106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid — the class-prototype / mean-pooling
    aggregate (nearest-class-mean classifiers, IVF codebook warm starts).

    Exactness across engines: per-dimension sums run in DECIMAL(18,9)
    (float combine-order noise would flip 6-dp rounding at scale), and the
    centroid array is rebuilt with an ORDER-PINNED collect (sort_array of
    (pos, val) structs — collect_list order is partition-arrival
    nondeterministic, never rely on it). The centroid is emitted as a
    canonical comma-joined fixed-6dp STRING, not a raw array<double> —
    the driver's pandas canonicalizer sort_values over all columns cannot
    hash list cells (the q56 precedent from round 2; round-4 verdict
    What's-wrong #1).

    Scale: posexplode fans each vector into dim rows, but the partial
    aggregate collapses every partition to ≤ |labels|·dim rows before the
    one shuffle — the same footprint as the kmeans partials pass.
    """
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    means = (
        dims.groupBy("label", "pos")
        .agg(
            F.round(
                (F.sum(F.col("val").cast("decimal(18,9)")) / F.count("*")).cast("double"), 6
            ).alias("m"),
            F.count("*").cast("long").alias("n_vecs"),
        )
    )
    return (
        means.groupBy("label")
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: F.format_string("%.6f", s["m"]),
                ),
                ",",
            ).alias("centroid"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# x114 — exact triangle counting over the near-dup graph (motif analytics)
#
# The third graph shape next to connected components (x71) and PageRank
# (x98): triangles in the Jaccard near-dup graph are tightly-knit
# duplicate cliques — the transitivity evidence that separates a true
# duplicate cluster from a chain of borderline pairs. Edges come from the
# SAME inverted-index pair join as x22 (threshold 0.2), stored once in
# canonical a<b order, so each triangle is found exactly once by two
# equi-joins (the Suri–Vassilvitskii discipline): no orientation dedup,
# no 6x overcount. triangle_count caches the edge list — it is referenced
# by three join legs plus the node/edge tallies, and recomputing the
# pair-join lineage per reference would be five corpus joins.
# --------------------------------------------------------------------------
@query(
    "x114_neardup_triangles",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT p.a, p.b
      FROM pairs p JOIN sizes sa ON p.a = sa.doc_id JOIN sizes sb ON p.b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ),
    nodes AS (SELECT a AS v FROM edges UNION SELECT b FROM edges)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b) AS n_triangles
    """,
    certifies="exact triangle counting / motif analytics over the near-dup graph: canonical-order edge storage + two equi-joins finds each triangle once",
    tags=("graph", "llm", "dedup", "scale"),
)
def x114(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_etl_website_visits_spark.operators.graph import triangle_count

    docs = load_table(spark, sf_dir, "documents")
    edges = D.shingle_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=_JACCARD_THRESHOLD,
        overlap=shared_pair_overlap(spark, sf_dir, min_jaccard=_JACCARD_THRESHOLD),
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    return triangle_count(edges)


# --------------------------------------------------------------------------
# x130 — Zipf-slope vocabulary fit (corpus health statistic)
#
# The log-log slope of the token frequency-rank curve — the standard
# corpus-health diagnostic (natural language sits near -1; a slope far
# off flags boilerplate floods or synthetic/garbled text before any
# model sees it). Engine-exactness discipline: ln(rank)/ln(count) are
# quantized to integer micro-units PER ROW (one libm call each — both
# engines agree away from measure-zero floor boundaries), then the OLS
# slope is computed from exact DECIMAL(38) sums of those integers, so
# distributed summation order cannot move a digit: slope =
# (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), one final exact-integer division.
# Never regr_slope over raw doubles — its float accumulators differ by
# ulps between engines and partitionings.
#
# Scale shape: one token-hash exchange (map-side-combined counts), the
# rank window over the top slice only (rank ≤ 1000 ⇒ ORDER BY count
# LIMIT prunes first at 100 TB — here the vocabulary is already tiny),
# then a single 1-row aggregate.
# --------------------------------------------------------------------------
_X130_TOP = 1000


@query(
    "x130_zipf_slope",
    oracle=f"""
    WITH cnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token) AS BIGINT) AS rnk
      FROM cnt
    ),
    pts AS (
      SELECT CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE rnk <= {_X130_TOP}
    ),
    s AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(x*y) AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(x*x) AS DECIMAL(38,0)) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS zipf_slope
    FROM s
    """,
    certifies="X4 corpus Zipf-slope diagnostic: integer-quantized log-log OLS fit with exact DECIMAL sums (engine-identical slope), rank/OLS served from the stored vocabulary-count artifact",
    tags=("llm", "text", "stats"),
)
def x130(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank/OLS over the stored vocabulary-count artifact (vocab-sized
    # input either way; quantized-ln arithmetic identical)
    tc = shared_token_counts(spark, sf_dir)
    return T.zipf_slope_from_counts(tc, "token", "cnt", top_n=_X130_TOP)


# --------------------------------------------------------------------------
# x131 — cross-source gram-overlap matrix (contamination / mixture audit)
#
# For every unordered pair of sources, how many distinct 3-gram shingles
# they share — the corpus-level audit behind mixture design (two "sources"
# sharing most of their grams are one source twice; a crawl slice
# overlapping a benchmark source is contamination). The oracle self-joins
# the (source, gram) relation on gram; the Spark side is the SCALE twin:
# aggregate each gram's distinct-source SET (bounded by the source count,
# which is a mixture-design constant — 20 here, rarely >1000 in practice),
# expand the sorted set to unordered pairs with an array HOF, and count
# per pair. One gram-hash exchange with map-side-combined sets + one tiny
# pair exchange — the quadratic blowup of a gram self-join (hot grams ×
# hot grams) never happens.
# --------------------------------------------------------------------------
@query(
    "x131_source_overlap_matrix",
    oracle=f"""
    WITH sg AS (
      SELECT DISTINCT source, gram FROM (
        SELECT source, unnest(list_distinct(list_transform(
                 range(1, len(lst) - 1),
                 i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
        FROM (SELECT source, {_TOKS} AS lst FROM documents)
      )
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_grams
    FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
    GROUP BY source_a, source_b ORDER BY source_a, source_b
    """,
    certifies="X3/X4 cross-source gram-overlap matrix: per-gram bounded source-set aggregation + HOF pair expansion (never a gram self-join)",
    tags=("llm", "dedup", "stats", "scale"),
)
def x131(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.source_overlap_matrix(docs, "text", "doc_id", "source", n=3)


@query(
    "x138_substring_decontam",
    oracle="""
    WITH needles AS (
      SELECT needle FROM (
        SELECT doc_id, SUBSTRING(text, 20, 30) AS needle
        FROM documents WHERE doc_id % 97 = 0
      ) WHERE LENGTH(needle) = 30 ORDER BY doc_id LIMIT 16
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM documents d JOIN needles nd ON STRPOS(d.text, nd.needle) > 0
    GROUP BY d.doc_id
    ORDER BY doc_id
    """,
    certifies="X4 exact-substring decontamination vs a bounded eval needle set — literal-array map-only scan (no join/shuffle before the hit count); DuckDB oracle uses the STRPOS join formulation",
    tags=("llm", "curation", "scale"),
)
def x138(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the eval needle set: 30-char spans lifted from every 97th doc —
    # derived with the SAME deterministic rule as the oracle's CTE, then
    # collected (bounded: <= 16 strings) into the literal array
    docs = load_table(spark, sf_dir, "documents")
    # the eval needle set is a fixed serving input — memoized per corpus
    # fingerprint so the derivation collect runs once, not per call
    needles = artifacts.memo(
        table_path(sf_dir, "documents"), "decontam_needles",
        lambda: [
            r["needle"]
            for r in docs.filter(F.col("doc_id") % 97 == 0)
            .select("doc_id", F.substring("text", 20, 30).alias("needle"))
            .filter(F.length("needle") == 30)
            .orderBy("doc_id")
            .limit(16)
            .collect()
        ],
    )
    return T.substring_decontam_hits(docs, needles)


# --------------------------------------------------------------------------
# x146 — Python UDTF chunking (the user-defined TABLE function surface)
#
# Closes SURVEY §2.10's "UDF/UDAF/UDTF: none" row with a REAL Spark 4
# UDTF: a registered Python table function lateral-joined in SQL, one
# doc row fanning out to N fixed-width word chunks (the RAG/packing
# shape). The chunk math is deliberately SQL-expressible so the DuckDB
# oracle re-derives it exactly (generate_series + list_slice); the
# built-in HOF chunker (x54) remains the hot-path form — this query
# certifies the extension surface, per-partition with no extra shuffle.
# --------------------------------------------------------------------------
@query(
    "x146_chunk_udtf",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, unnest(generate_series(0, CAST(CEIL(len(toks) / 64.0) AS INT) - 1)) AS chunk_ix, toks
      FROM d
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(chunk_ix AS INT) AS chunk_ix,
           CAST(LEAST(64, len(toks) - chunk_ix * 64) AS INT) AS n_words,
           array_to_string(list_slice(toks, chunk_ix * 64 + 1, LEAST((chunk_ix + 1) * 64, len(toks))), ' ') AS chunk
    FROM c
    ORDER BY doc_id, chunk_ix
    """,
    certifies="UDTF extension surface (SURVEY §2.10): registered Python table function + LATERAL join, doc -> fixed-width word chunks; value-matched against the pure-SQL slice derivation",
    tags=("llm", "udtf", "text"),
)
def x146(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_etl_website_visits_spark.operators.dedup import normalize_text
    from pipeline_etl_website_visits_spark.operators.text import register_chunk_udtf

    register_chunk_udtf(spark, "split_chunks")
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        F.col("doc_id"), normalize_text(F.col("text")).alias("nt")
    ).createOrReplaceTempView("x146_docs_norm")
    return spark.sql(
        """
        SELECT CAST(doc_id AS BIGINT) AS doc_id, c.chunk_ix, c.n_words, c.chunk
        FROM x146_docs_norm, LATERAL split_chunks(nt, 64) c
        ORDER BY doc_id, chunk_ix
        """
    )


# --------------------------------------------------------------------------
# x147 — sequence packing: concat-and-chunk the corpus into training windows
#
# The GPT/T5 pretraining data-prep step the suite lacked: documents
# concatenated in id order into one token stream, fixed budget-token
# context windows cut at position boundaries, per-doc chunk spans
# reported. One global PREFIX SUM — implemented distributed (stripe
# offsets + partitioned window; see operators/text.py:
# sequence_pack_chunks for why the naive global window is a
# single-partition scale trap, and test_plans for the plan assertion
# that no Exchange SinglePartition appears). The whole derivation is
# integer position arithmetic, so the DuckDB oracle replays it exactly
# with a plain running sum.
# --------------------------------------------------------------------------
@query(
    "x147_sequence_packing",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tokens
      FROM documents
    ), s AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM c WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 256 AS BIGINT) AS chunk_first,
           CAST((cum - 1) // 256 AS BIGINT) AS chunk_last,
           CAST((cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS BIGINT) AS n_chunks,
           CAST((cum - n_tokens) % 256 AS BIGINT) AS offset_in_chunk
    FROM s ORDER BY doc_id
    """,
    certifies="X4 sequence packing: concat-and-chunk training windows via a DISTRIBUTED prefix sum (stripe offsets + partitioned window, no single-partition exchange)",
    tags=("llm", "text", "scale"),
)
def x147(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # no final orderBy: the compare is row-order-insensitive (the x84
    # rule) and the global sort was a sampling job + range exchange
    return T.sequence_pack_chunks(docs, "text", "doc_id", budget=256)


# --------------------------------------------------------------------------
# x148 — whole-document greedy bin packing (the no-split SFT packing)
#
# x147 packs by cutting straight through documents (pretraining); x148 is
# the other production packing: examples stay contiguous, a doc moves to a
# new bin when it would overflow the budget. Greedy-with-reset has no
# closed form (the reset breaks prefix-sum associativity), so the operator
# parallelizes over GROUPS (applyInPandas per source; at 100 TB the caller
# passes a fine (source, date, shard) key and millions of groups saturate
# the cluster — see operators/text.py:greedy_pack_bins). The oracle
# replays the sequential fold exactly with a recursive CTE stepping one
# rank per group per level (the x71 recursion-oracle shape).
# --------------------------------------------------------------------------
@query(
    "x148_greedy_doc_packing",
    oracle="""
    WITH RECURSIVE c AS (
      SELECT source, doc_id,
             CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS BIGINT) AS n_tokens
      FROM documents
    ), d AS (
      SELECT source, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM c WHERE n_tokens > 0
    ), pack AS (
      SELECT source, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_ix, CAST(0 AS BIGINT) AS offset_in_bin,
             n_tokens AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.doc_id, d.n_tokens, d.rn,
             CASE WHEN p.fill + d.n_tokens > 512 THEN p.bin_ix + 1 ELSE p.bin_ix END,
             CASE WHEN p.fill + d.n_tokens > 512 THEN CAST(0 AS BIGINT) ELSE p.fill END,
             CASE WHEN p.fill + d.n_tokens > 512 THEN d.n_tokens ELSE p.fill + d.n_tokens END
      FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
    )
    SELECT source AS grp, doc_id, n_tokens, bin_ix, offset_in_bin
    FROM pack ORDER BY grp, doc_id
    """,
    certifies="X4 whole-document greedy bin packing (SFT packing): per-group sequential fold over applyInPandas, group = the parallelism unit; recursive-CTE oracle",
    tags=("llm", "text", "scale"),
)
def x148(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.greedy_pack_bins(docs, "text", "doc_id", "source", budget=512)


# --------------------------------------------------------------------------
# x149 — leakage-free hash split (train/val/test assignment)
#
# The training-pipeline split discipline: assignment is a pure function
# of the CONTENT fingerprint, so exact copies of a document — across
# shards, re-crawls, reruns — always land in the same split (random
# sampling leaks duplicated content across train/test and is not even
# reproducible). Map-only: one codegen'd projection, the 100 TB split is
# decided at scan speed. Bounds compared as 8-hex-digit string literals
# (the x65 strata-hex idiom) shared between engines via
# operators.text.split_bounds — never per-dialect hex→int conversion.
# --------------------------------------------------------------------------
_SPLIT_LO, _SPLIT_HI = T.split_bounds(0.8, 0.1)


@query(
    "x149_leakage_free_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN SUBSTRING(md5({_NORM}), 1, 8) < '{_SPLIT_LO}' THEN 'train'
                WHEN SUBSTRING(md5({_NORM}), 1, 8) < '{_SPLIT_HI}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
    certifies="X4 leakage-free deterministic train/val/test split: content-fingerprint hex-prefix assignment, map-only (north-star §0.3)",
    tags=("llm", "curation", "text"),
)
def x149(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.leakage_free_split(docs, "text", "doc_id", train=0.8, val=0.1)


# --------------------------------------------------------------------------
# x150 — OOV-rate audit (vocabulary coverage per source)
#
# The gate before committing a tokenizer to a new corpus slice: per
# source, total whitespace tokens and how many a fixed vocabulary would
# map to <unk>. The "tokenizer sample" is pinned (the first three
# documents' distinct tokens) so the vocab is deterministic and
# SF-independent; the corpus scan is MAP-ONLY against the plan-literal
# vocab (two array HOF counts per row, no explode/join), one exchange
# for the source rollup. Counts only — exact BIGINTs in both engines.
# --------------------------------------------------------------------------
@query(
    "x150_oov_rate",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT unnest(regexp_split_to_array({_NORM}, ' ')) AS tok
      FROM documents WHERE doc_id < 3
    ), toks AS (
      SELECT source, unnest(regexp_split_to_array({_NORM}, ' ')) AS tok
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
    FROM toks GROUP BY source ORDER BY source
    """,
    certifies="X4 vocabulary-coverage / OOV-mass audit per source: plan-literal vocab, map-only HOF counts, single exchange (north-star §0.3)",
    tags=("llm", "text"),
)
def x150(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # plan-literal vocab is a fixed serving input — memoized per corpus
    # fingerprint (the x138 rationale)
    vocab = artifacts.memo(
        table_path(sf_dir, "documents"), "oov_vocab",
        lambda: [
            r["tok"]
            for r in docs.filter(F.col("doc_id") < 3)
            .select(
                F.explode(F.split(D.normalize_text(F.col("text")), " ")).alias("tok")
            )
            .distinct()
            .collect()
        ],
    )
    return T.oov_counts(docs, vocab, "text", "doc_id", "source")


# --------------------------------------------------------------------------
# x151 — deterministic multi-epoch shuffle (training-order scheduling)
#
# Each pretraining epoch must visit the corpus in a different but
# perfectly REPRODUCIBLE order (resume-safe, seed-auditable) — the
# rand()-shuffle alternative is neither. Order = md5(salt:epoch:id),
# realized two-level (hex-prefix bucket + rank within bucket) so the
# plan's one shuffle fans out across epochs x 256 window partitions
# instead of the single-partition global-rank trap (the x147 lesson).
# --------------------------------------------------------------------------
@query(
    "x151_epoch_shuffle",
    oracle="""
    WITH rows_ AS (
      SELECT doc_id, e.epoch,
             md5('ep:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents, (SELECT unnest(ARRAY[0, 1]) AS epoch) e
    )
    SELECT CAST(epoch AS INT) AS epoch, doc_id,
           SUBSTRING(k, 1, 2) AS bucket,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, SUBSTRING(k, 1, 2) ORDER BY k) AS BIGINT) AS pos_in_bucket
    FROM rows_ ORDER BY epoch, bucket, pos_in_bucket
    """,
    certifies="X4 deterministic multi-epoch training-order shuffle: two-level (hex-prefix bucket + per-bucket rank), reproducible and resume-safe; one partitioned-window shuffle (north-star §0.3)",
    tags=("llm", "curation", "scale"),
)
def x151(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.epoch_shuffle(docs, "doc_id", epochs=2, n_buckets=256)


# --------------------------------------------------------------------------
# x152 — duplicate n-gram fraction (the Gopher repetition rule at gram level)
#
# Boilerplate/template text shows high duplicate-3-gram mass long before
# whole tokens repeat (x52 covers the token level). Counts only — exact
# BIGINT/INT in both engines; the gate fraction is the caller's division.
# Map-only: gram array via sequence/transform HOFs, two sizes per row,
# zero exchanges (plan-tested).
# --------------------------------------------------------------------------
@query(
    "x152_dup_gram_fraction",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, len(lst) - 1),
                            i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]) AS grams
      FROM (SELECT doc_id,
                   regexp_split_to_array({_NORM}, ' ') AS lst
            FROM documents)
    )
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(len(grams) - len(list_distinct(grams)) AS INT) AS n_dup_grams
    FROM g ORDER BY doc_id
    """,
    certifies="X4 duplicate n-gram mass per document (Gopher gram-level repetition rule): map-only HOF gram array, exact integer counts (north-star §0.3)",
    tags=("llm", "text"),
)
def x152(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = shared_tokenized_corpus(spark, sf_dir)
    return T.dup_gram_stats(toks, "toks", "doc_id", n=3)


# --------------------------------------------------------------------------
# x153 — token-length histogram in power-of-two buckets (context planning)
#
# What fraction of each source fits a 2k/8k/32k context window, and how
# much packing waste to expect — the capacity-planning rollup every
# pretraining mix starts from. Bucket = floor(log2(n_tokens)) computed
# INTEGER-exactly as length(bin(n)) - 1 in both engines (float log2 is
# not representation-stable at bucket boundaries); empty docs -> -1.
# --------------------------------------------------------------------------
@query(
    "x153_length_histogram",
    oracle="""
    WITH c AS (
      SELECT source,
             CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS BIGINT) AS n
      FROM documents
    )
    SELECT source,
           CAST(CASE WHEN n <= 0 THEN -1 ELSE LENGTH(bin(n)) - 1 END AS INT) AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2 ORDER BY source, len_bucket
    """,
    certifies="X4 token-length distribution per source in power-of-two buckets: integer-exact log2 via bin(), single exchange (north-star §0.3)",
    tags=("llm", "text", "stats"),
)
def x153(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.length_histogram(docs, "text", "doc_id", "source")


# --------------------------------------------------------------------------
# x154 — stratified per-source quality gate (FineWeb-style percentile filter)
#
# Keep each source's top 70% of documents by token count (the quality
# proxy this synthetic corpus affords) — per-SOURCE percentiles, not one
# global threshold, so low-scoring sources aren't silently wiped from
# the mixture. Integer boundary arithmetic (rank*1000 <= cnt*700): no
# float percent_rank at the cutoff row in either engine.
# --------------------------------------------------------------------------
@query(
    "x154_stratified_quality_gate",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, source,
             CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END AS BIGINT) AS n
      FROM documents
    ), r AS (
      SELECT doc_id, source, n,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS cnt
      FROM c
    )
    SELECT doc_id, source, n AS n_tokens
    FROM r WHERE rn * 1000 <= cnt * 700 ORDER BY doc_id
    """,
    certifies="X4 stratified per-group quality gate: keep each source's top per-mille by score, integer boundary arithmetic, ONE partitioned-window exchange (north-star §0.3)",
    tags=("llm", "curation", "window"),
)
def x154(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return T.stratified_top_fraction(
        scored, F.col("n_tokens"), "source", "doc_id", keep_per_mille=700
    )


# --------------------------------------------------------------------------
# x155 — corpus-level gram diversity per source (synthetic-data audit)
#
# Gram type-token ratio ACROSS documents: a source whose distinct-gram
# mass collapses relative to peers is template-generated or a model
# looping on itself — the mode-collapse gate a mixture runs before
# admitting synthetic data. x152 is the per-DOC complement.
# --------------------------------------------------------------------------
@query(
    "x155_gram_diversity",
    oracle=f"""
    WITH g AS (
      SELECT source,
             unnest(list_transform(range(1, len(lst) - 1),
                                   i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2])) AS gram
      FROM (SELECT source, {_TOKS} AS lst FROM documents)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_gram_instances,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct_grams,
           CAST(COUNT(DISTINCT gram) * 1000 // COUNT(*) AS BIGINT) AS ttr_permille
    FROM g GROUP BY source ORDER BY source
    """,
    certifies="X4 corpus-level gram diversity per source (mode-collapse audit): hashed-tuple gram identity, single reused exchange via the x58/x59 subset-partitioning fold (north-star §0.3)",
    tags=("llm", "text", "stats", "curation"),
)
def x155(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = shared_tokenized_corpus(spark, sf_dir)
    return T.gram_diversity(toks, "toks", "doc_id", "source", n=3)


# --------------------------------------------------------------------------
# x156 — boilerplate prefix detection per source
#
# Scraped corpora repeat headers/templates at document START: the top-5
# most-shared first-3-token prefixes per source (>= 2 docs). Feeds a
# strip rule or a per-template quota (quota_per_key).
# --------------------------------------------------------------------------
@query(
    "x156_boilerplate_prefixes",
    oracle=f"""
    WITH p AS (
      SELECT source, array_to_string(list_slice(lst, 1, 3), ' ') AS prefix
      FROM (SELECT source, {_TOKS} AS lst FROM documents)
      WHERE len(lst) >= 3
    ), c AS (
      SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY source, prefix HAVING COUNT(*) >= 2
    )
    SELECT source, prefix, n_docs, CAST(rnk AS INT) AS rank FROM (
      SELECT source, prefix, n_docs,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_docs DESC, prefix) AS rnk
      FROM c
    ) WHERE rnk <= 5 ORDER BY source, rank
    """,
    certifies="X4 boilerplate document-prefix audit per source: map-only prefix projection, grouped count + per-group rank over ONE reused exchange (north-star §0.3)",
    tags=("llm", "text", "curation"),
)
def x156(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = shared_tokenized_corpus(spark, sf_dir)
    return T.boilerplate_prefixes(toks, "toks", "source", n=3, min_docs=2, top=5)


@query(
    "x161_image_resize",
    oracle="""
    WITH geo AS (
      SELECT doc_id,
             CAST(1 + doc_id % 16 AS INT) AS w,
             CAST(1 + (doc_id // 16) % 16 AS INT) AS h
      FROM documents WHERE doc_id % 5 = 0
    ), px AS (
      SELECT doc_id, w, h, x, y, (3 * x + 7 * y + doc_id) % 256 AS v
      FROM geo,
           unnest(generate_series(0, w - 1)) AS ux(x),
           unnest(generate_series(0, h - 1)) AS uy(y)
    ), blocks AS (
      SELECT doc_id, w, h, x // 2 AS bx, y // 2 AS by,
             CAST(SUM(v) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS bv
      FROM px GROUP BY doc_id, w, h, bx, by
    )
    SELECT doc_id,
           CAST(w AS INT) AS in_w, CAST(h AS INT) AS in_h,
           CAST((w + 1) // 2 AS INT) AS out_w, CAST((h + 1) // 2 AS INT) AS out_h,
           CAST(SUM(bv) AS BIGINT) AS px_sum
    FROM blocks GROUP BY doc_id, w, h ORDER BY doc_id
    """,
    certifies="X5 multimodal: REAL image resize (decode -> integer block-mean downsample -> encode -> decode) with pixel sums the oracle derives arithmetically",
    tags=("llm", "multimodal"),
)
def x161(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize sibling of x61: fabricate a REAL gradient PNG per document
    (pixel(x,y) = (3x + 7y + doc_id) % 256, geometry the x61 arithmetic),
    run the full decode -> block_mean_resize(2) -> encode -> decode loop
    with the pure codec, and emit the recovered geometry + pixel sum of
    the RESIZED image. Block means are floor(sum/count) integers, so the
    oracle replicates the resize as GROUP BY (x//2, y//2) — any defect in
    the codec OR the resampling arithmetic breaks the hash. Map-only
    Arrow batches, 1-in-5 subset like x61.
    """
    import numpy as np
    import pandas as pd

    from pipeline_etl_website_visits_spark.operators.multimodal import (
        block_mean_resize,
        png_decode,
        png_encode,
    )

    def roundtrip(batches):
        cols = ["doc_id", "in_w", "in_h", "out_w", "out_h", "px_sum"]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                w = int(1 + did % 16)
                h = int(1 + (did // 16) % 16)
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                px = ((3 * xs + 7 * ys + int(did)) % 256).astype(np.uint8)
                small = png_decode(png_encode(block_mean_resize(png_decode(png_encode(px)), 2)))
                rows.append(
                    {
                        "doc_id": int(did),
                        "in_w": w,
                        "in_h": h,
                        "out_w": small.shape[1],
                        "out_h": small.shape[0],
                        "px_sum": int(small.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    docs = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    return docs.mapInPandas(
        roundtrip, "doc_id long, in_w int, in_h int, out_w int, out_h int, px_sum long"
    )


@query(
    "x162_video_frame_sample",
    oracle="""
    WITH geo AS (
      SELECT doc_id,
             CAST(1 + doc_id % 16 AS INT) AS w,
             CAST(1 + (doc_id // 16) % 16 AS INT) AS h,
             CAST(1 + doc_id % 6 AS INT) AS nf
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT doc_id,
           CAST(nf AS INT) AS n_frames,
           CAST(f AS INT) AS frame_index,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST((doc_id * 31 + f * 17) % 256 AS DOUBLE) AS mean_luma
    FROM geo, unnest(generate_series(0, nf - 1)) AS uf(f)
    WHERE f % 2 = 0
    ORDER BY doc_id, frame_index
    """,
    certifies="X5 multimodal video: REAL container parse + per-frame decode with 1-in-every_n sampling; frame stats the oracle derives arithmetically",
    tags=("llm", "multimodal"),
)
def x162(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video sibling of x61: fabricate a REAL NPV container per document
    (1 + doc_id % 6 constant-fill PNG frames, frame f filled with
    (doc_id*31 + f*17) % 256), then run the REAL sampling path —
    container parse, skip odd frames WITHOUT decoding them, pure-codec
    decode of the kept frames — and emit per-frame geometry + mean luma.
    Constant fill makes mean_luma exactly the fill value, so the oracle
    is pure arithmetic over a frame-index series. The 1-to-N Arrow batch
    expansion (operators/multimodal.py sample_frames_real) is the
    distributed shape of ffmpeg keyframe extraction; map-only.
    """
    import numpy as np
    import pandas as pd

    from pipeline_etl_website_visits_spark.operators.multimodal import npv_encode
    from pipeline_etl_website_visits_spark.operators.multimodal import sample_frames_real

    def fabricate(batches):
        for pdf in batches:
            paths, blobs = [], []
            for did in pdf["doc_id"].to_numpy():
                w = int(1 + did % 16)
                h = int(1 + (did // 16) % 16)
                nf = int(1 + did % 6)
                frames = [
                    np.full((h, w), (int(did) * 31 + f * 17) % 256, dtype=np.uint8)
                    for f in range(nf)
                ]
                paths.append(str(int(did)))
                blobs.append(npv_encode(frames))
            yield pd.DataFrame({"path": paths, "content": blobs})

    docs = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )
    videos = docs.mapInPandas(fabricate, "path string, content binary")
    sampled = sample_frames_real(videos, every_n=2)
    return sampled.select(
        F.col("path").cast("long").alias("doc_id"),
        "n_frames",
        "frame_index",
        "width",
        "height",
        "mean_luma",
    )


@query(
    "x164_embed_pca",
    oracle=None,
    certifies="X3 PCA over embeddings (SemDeDup-style reduction): one distributed moment pass + O(dim^3) driver eigh; exactness vs numpy full PCA in tests/test_operators.py",
    tags=("llm", "similarity", "no-oracle"),
)
def x164(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label summary of a 2-component PCA over the embeddings table.
    Eigendecomposition is iterative float work (not SQL-expressible) so the
    driver check is rows-only (one row per label — stable count); the
    numpy-pinned exactness test certifies the projection, the variance
    ratios, and the sign canonicalization."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embed_pca_summary(emb, k=2)


@query(
    "x171_audio_frames",
    oracle="""
    WITH geo AS (
      SELECT doc_id,
             CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS rate,
             CAST((8000 + (doc_id % 4) * 4000) // 100 AS BIGINT) AS n
      FROM documents WHERE doc_id % 5 = 0
    ),
    frames AS (
      SELECT doc_id, rate, n, f, CAST(n // 40 AS BIGINT) AS n_frames
      FROM geo, unnest(generate_series(0, CAST(n // 40 AS BIGINT) - 1)) AS uf(f)
      WHERE n >= 40
    )
    SELECT fr.doc_id,
           CAST(fr.f AS INT) AS frame_index,
           CAST(fr.n_frames AS INT) AS n_frames,
           CAST(SUM(POWER((fr.doc_id * 11 + i * 7) % 256 - 128, 2)) AS BIGINT) AS sq_sum
    FROM frames fr, unnest(generate_series(fr.f * 40, fr.f * 40 + 39)) AS ui(i)
    GROUP BY fr.doc_id, fr.f, fr.n_frames
    ORDER BY fr.doc_id, frame_index
    """,
    certifies="X5 multimodal audio features: REAL WAV decode + non-overlapping 40-sample framing with exact integer per-frame energy; arithmetic oracle",
    tags=("llm", "multimodal"),
)
def x171(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features over a REAL codec round trip: each doc
    fabricates 10 ms of deterministic sawtooth int16 samples
    (v(i) = (doc_id*11 + i*7) % 256 - 128, rate an arithmetic function
    of doc_id — the x76 geometry), encodes+decodes through the stdlib
    PCM codec, then frames the DECODED signal into non-overlapping
    40-sample windows and emits each frame's exact integer energy
    (sum of squares). Any defect in the codec, the framing bounds, or
    the tail-drop rule breaks the hash. Map-only Arrow batches; the
    1-to-N frame expansion mirrors x162's video shape.
    """
    import numpy as np
    import pandas as pd

    from pipeline_etl_website_visits_spark.operators.multimodal import wav_decode, wav_encode

    W = 40

    def frames(batches):
        cols = ["doc_id", "frame_index", "n_frames", "sq_sum"]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                rate = int(8000 + (did % 4) * 4000)
                n = rate // 100
                i = np.arange(n, dtype=np.int64)
                samples = ((int(did) * 11 + i * 7) % 256 - 128).astype(np.int16)
                decoded, _ = wav_decode(wav_encode(samples, rate))
                sig = decoded[:, 0].astype(np.int64)
                nf = len(sig) // W
                for f in range(nf):
                    frame = sig[f * W : (f + 1) * W]
                    rows.append(
                        {
                            "doc_id": int(did),
                            "frame_index": f,
                            "n_frames": nf,
                            "sq_sum": int((frame * frame).sum()),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    docs = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    return docs.mapInPandas(
        frames, "doc_id long, frame_index int, n_frames int, sq_sum long"
    )


# --------------------------------------------------------------------------
# x178 — quality-priority canonical selection per near-dup cluster
#
# The decision step a dedup pipeline actually ships: after clustering
# (x71), each cluster keeps its BEST document, not its min-id one — the
# CCNet/RefinedWeb rule is keep-the-longest (chars as the cheap quality
# proxy), ties to the lowest id. Pairs come off the family-shared stored
# overlap artifact; the oracle re-derives everything inline (x71's
# recursive-CTE closure + one window), so the artifact and the keep rule
# hash-certify together.
# --------------------------------------------------------------------------
@query(
    "x178_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM p
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    members AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    ranked AS (
      SELECT m.cluster_id, m.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                                ORDER BY d.n_chars DESC, m.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY m.cluster_id) AS n_members
      FROM members m JOIN documents d USING (doc_id)
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS keeper_doc_id,
           CAST(n_chars AS BIGINT) AS keeper_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1 ORDER BY cluster_id
    """,
    certifies="X3 dedup canonical selection: per-cluster keep-the-best (longest doc, ties to lowest id — the CCNet/RefinedWeb keep rule) over the near-dup components, served from the stored pair-overlap artifact",
    tags=("llm", "dedup", "curation", "stored-index"),
)
def x178(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=_JACCARD_THRESHOLD,
        overlap=shared_pair_overlap(spark, sf_dir, min_jaccard=_JACCARD_THRESHOLD),
    )
    members = D.dedup_clusters(pairs)
    joined = members.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id")
    ranked = joined.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("doc_id").cast("long").alias("keeper_doc_id"),
        F.col("n_chars").cast("long").alias("keeper_chars"),
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("__rn"),
        F.count("*").over(w).cast("long").alias("n_members"),
    )
    return (
        ranked.filter(F.col("__rn") == 1)
        .select("cluster_id", "keeper_doc_id", "keeper_chars", "n_members")
        # no final orderBy (the x82 discipline, r15)
    )


# --------------------------------------------------------------------------
# x180 — near-dup similarity band histogram over the stored artifact
#
# The corpus-health audit a dedup operator reads before picking
# thresholds: how many retained pairs sit in each Jaccard decile, and how
# many are containment-only (quote/subset duplication invisible to
# Jaccard ≥ 0.2). Reads the family-shared artifact END-TO-END — retention
# rule included — while the oracle re-derives the overlap inline, so this
# query certifies the artifact's exact retention semantics, not just the
# thresholded views the other family members read. Banding is pure
# integer: band = min((inter*10) div union, 9).
# --------------------------------------------------------------------------
@query(
    "x180_neardup_band_histogram",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    kept AS (
      SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
             sa.sz + sb.sz - inter AS un
      FROM p
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
         OR CAST(inter AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.5
    )
    SELECT CAST(LEAST((inter * 10) // un, 9) AS INT) AS jac_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN CAST(inter AS DOUBLE) / un < 0.2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_containment_only
    FROM kept GROUP BY jac_band ORDER BY jac_band
    """,
    certifies="X3 near-dup similarity band histogram (threshold-tuning audit) over the stored pair-overlap artifact — certifies the artifact's exact retention semantics (Jaccard >= 0.2 OR containment >= 0.5) including the containment-only tail, integer decile banding",
    tags=("llm", "dedup", "stats", "stored-index"),
)
def x180(spark: SparkSession, sf_dir: str) -> DataFrame:
    ovl = shared_pair_overlap(
        spark, sf_dir, min_jaccard=_PAIROVL_J_FLOOR, min_containment=_PAIROVL_C_FLOOR
    )
    un = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        ovl.select(
            # integer floor division (all quantities non-negative, so
            # Spark's `div` == DuckDB's `//`)
            F.least(
                F.expr("(inter * 10) div (sz_a + sz_b - inter)"), F.lit(9).cast("long")
            )
            .cast("int")
            .alias("jac_band"),
            ((F.col("inter") / un) < F.lit(0.2)).cast("int").alias("__conly"),
        )
        .groupBy("jac_band")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("__conly").cast("long").alias("n_containment_only"),
        )
        .orderBy("jac_band")
    )


# --------------------------------------------------------------------------
# x181 — MinHash estimator-quality audit over the retained near-dup pairs
#
# The QA gate that sizes num_hashes before trusting LSH at scale (the
# x179 recall-eval pattern applied to the Jaccard ESTIMATOR instead of
# the ANN index): for every retained Jaccard pair, the exact Jaccard
# (stored pair-overlap artifact) against the 32-hash MinHash signature
# estimate — matching-component count, estimate and signed error all in
# exact integer permille, the portable md5-u48 hash family x23's
# certificate replays digit-for-digit. Join shape: the audit pairs are
# tiny by construction (retained near-dups), so they BROADCAST into the
# corpus-sized signature relation twice — nothing pair-quadratic, nothing
# corpus-sized shuffles.
# --------------------------------------------------------------------------
@query(
    "x181_minhash_error_audit",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(lst) - 1),
               i -> lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]))) AS gram
      FROM (SELECT doc_id, {_TOKS} AS lst FROM documents)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    kept AS (
      SELECT doc_a, doc_b, inter, sa.sz + sb.sz - inter AS un
      FROM p
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ),
    sig AS (
      SELECT doc_id, s.i AS i,
             MIN({_MINHASH_U48.format(expr="CAST(s.i AS VARCHAR) || '|' || gram")}) AS h
      FROM g CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) s
      GROUP BY doc_id, s.i
    ),
    m AS (
      SELECT k.doc_a, k.doc_b, k.inter, k.un,
             CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS BIGINT) AS matches
      FROM kept k
      JOIN sig sa ON sa.doc_id = k.doc_a
      JOIN sig sb ON sb.doc_id = k.doc_b AND sb.i = sa.i
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(inter * 1000 // un AS BIGINT) AS jaccard_permille,
           matches AS sig_matches,
           CAST(matches * 1000 // 32 AS BIGINT) AS est_permille,
           CAST(matches * 1000 // 32 - inter * 1000 // un AS BIGINT) AS err_permille
    FROM m ORDER BY doc_a, doc_b
    """,
    certifies="X3 MinHash estimator-quality audit: exact Jaccard (stored pair-overlap artifact) vs 32-hash signature estimate per retained near-dup pair — integer-permille estimate and signed error, portable md5-u48 family; the num_hashes-sizing QA gate (x179's eval pattern on the estimator axis)",
    tags=("llm", "dedup", "stats", "stored-index", "certificate"),
)
def x181(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ovl = shared_pair_overlap(spark, sf_dir, min_jaccard=_JACCARD_THRESHOLD)
    un = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    pairs = (
        ovl.filter((F.col("inter") / un) >= _JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            # integer floor division: all quantities non-negative, so
            # Spark `div` == DuckDB `//`
            F.expr("inter * 1000 div (sz_a + sz_b - inter)")
            .cast("long")
            .alias("jaccard_permille"),
        )
    )
    nh = 32
    # signatures only for the docs the audit pairs touch: a MinHash
    # signature is a per-doc quantity, so the broadcast semi-join filter
    # is value-identical and shrinks the 32-agg gram pass from the corpus
    # to the audited members (sf0.1: 2.4s -> sub-second)
    members = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    audit_docs = docs.join(F.broadcast(members), "doc_id", "left_semi")
    sig = D.minhash_signatures(
        audit_docs, "text", "doc_id", n=3, num_hashes=nh, portable_hash=True
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"__a{i}") for i in range(nh)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"__b{i}") for i in range(nh)]
    )
    # tiny audit pairs broadcast into the corpus-sized signature relation
    # twice — the signatures never shuffle
    j = sa.join(F.broadcast(pairs), "doc_a")
    j = sb.join(F.broadcast(j), "doc_b")
    matches = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int") for i in range(nh)
    ).cast("long")
    return (
        j.select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            "jaccard_permille",
            matches.alias("sig_matches"),
        )
        .withColumn("est_permille", F.expr(f"sig_matches * 1000 div {nh}").cast("long"))
        .withColumn(
            "err_permille", (F.col("est_permille") - F.col("jaccard_permille")).cast("long")
        )
        # no final orderBy (the x82 discipline, r15)
    )
