"""Text-analysis operators for training-data pipelines (SURVEY.md §2.11 X4).

All pure built-in expressions (whole-stage codegen; zero Python UDFs):

- :func:`token_count` — whitespace tokenization count.
- :func:`lang_id` — marker-token n-gram heuristic language ID.
- :func:`quality_features` — length / token / punctuation quality features
  and a bounded [0,1] quality score.
- :func:`fingerprint` (re-exported from dedup) — md5 document fingerprint.

Occurrence counting uses the replace-length trick
((len(t) - len(replace(t, m, ''))) / len(m)) — portable to any SQL engine,
deterministic, and non-overlapping in the same way everywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pipeline_etl_website_visits_spark import artifacts
from pipeline_etl_website_visits_spark.functions import ratio_round, xxhash64_long
from pipeline_etl_website_visits_spark.operators.dedup import (  # noqa: F401
    fingerprint,
    normalize_text,
    tokens_of,
)

# Marker words per language for the n-gram heuristic. Spaces around each
# marker make them whole-word matches after normalization.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "et", "les"),
    "de": ("der", "und", "die"),
}


def occurrences(col: Column, marker: str) -> Column:
    """Non-overlapping occurrence count of ``marker`` in ``col``.

    ``regexp_count`` of the escaped literal — identical left-to-right
    non-overlapping semantics as the portable replace-length trick used in
    the SQL oracles, but a single function call per marker: the full
    lang-id expression stays far below the JVM codegen method limit even
    after Catalyst collapses projections into one filter.
    """
    import re as _re

    return F.regexp_count(col, F.lit(_re.escape(marker))).cast("double")


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+"))).cast("int")


def _marker_score(norm_padded: Column, lang: str) -> Column:
    score = F.lit(0.0)
    for m in LANG_MARKERS[lang]:
        score = score + occurrences(norm_padded, f" {m} ")
    return score


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax of marker-word hit counts.

    Ties resolve by the fixed order en > es > fr > de > unknown (strict
    ``>`` comparisons in a CASE chain), so the output is deterministic.

    NOTE: as a single Column this inlines the normalization subtree once per
    marker (~24x) and can overflow the JVM's 64KB codegen method limit on
    wide CASE chains; prefer :func:`lang_id_df`, which stages the padded
    text and per-language scores as columns so whole-stage codegen survives.
    """
    padded = F.concat(F.lit(" "), normalize_text(col), F.lit(" "))
    return _argmax_lang({lang: _marker_score(padded, lang) for lang in LANG_MARKERS})


def _argmax_lang(scores: dict[str, Column]) -> Column:
    """Argmax with en > es > fr > de tie priority, via greatest() over
    (score, priority, name) structs — struct comparison is lexicographic.

    Deliberately NOT a CASE chain: a chain references each score O(n) times,
    and once Catalyst collapses projections every reference re-expands the
    full marker-count subtree (measured 8x slowdown on the curation query).
    Here each score appears exactly twice (value + the >0 guard).
    """
    n = len(LANG_MARKERS)
    candidates = [
        F.struct(
            scores[lang].alias("score"),
            F.lit(n - i).alias("prio"),  # earlier-declared langs win ties
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(LANG_MARKERS)
    ]
    best = F.greatest(*candidates)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def lang_id_df(df: DataFrame, text_col: str, id_col: str, out_col: str = "predicted_lang") -> DataFrame:
    """Two-stage language ID: (id, predicted_lang) with codegen-sized stages.

    Stage 1 materializes the padded normalized text once; stage 2 the four
    score columns; stage 3 the argmax CASE — each projection stays far below
    the codegen method limit (the single-expression form trips the 64KB
    fallback and silently drops to interpreted mode).
    """
    padded = F.concat(F.lit(" "), normalize_text(F.col(text_col)), F.lit(" "))
    staged = df.select(F.col(id_col).alias("doc_id"), padded.alias("__padded"))
    score_cols = {
        lang: _marker_score(F.col("__padded"), lang).alias(f"__s_{lang}") for lang in LANG_MARKERS
    }
    scored = staged.select("doc_id", *score_cols.values())
    return scored.select(
        "doc_id", _argmax_lang({lang: F.col(f"__s_{lang}") for lang in LANG_MARKERS}).alias(out_col)
    )


def quality_score_millis(text: Column) -> Column:
    """The bounded heuristic quality score in exact integer MILLIS
    (0..1000): ``min(500, 5·tokens) + min(500, chars)`` — the integer
    form of ``0.5·min(1, tokens/100) + 0.5·min(1, chars/500)``.
    Engine-reproducible, and exactly the low-cardinality integer shape
    :func:`stratified_top_fraction`'s histogram method wants."""
    return F.least(F.lit(500), token_count(text) * 5) + F.least(
        F.lit(500), F.length(text).cast("int")
    )


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality features + bounded score.

    Features: n_chars, n_tokens, avg token length, alnum-space ratio.
    Score = 0.5*min(1, tokens/100) + 0.5*min(1, chars/500) — computed in
    exact integer millis (= min(500, 5*tokens) + min(500, chars)) so it is
    reproducible in any engine; a deterministic stand-in for a learned
    quality model.
    """
    t = F.col(text_col)
    n_chars = F.length(t).cast("int")
    n_tokens = token_count(t)
    stripped = F.regexp_replace(F.lower(t), "[^a-z0-9 ]", "")
    alnum_ratio = ratio_round(F.length(stripped), F.length(t), 3)
    chars_no_ws = F.length(F.regexp_replace(F.trim(t), r"\s+", ""))
    avg_tok_len = ratio_round(chars_no_ws, n_tokens, 2)
    score_millis = quality_score_millis(t)
    score = (score_millis / F.lit(1000.0)).cast("double")
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars_computed"),
        n_tokens.alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        alnum_ratio.alias("alnum_ratio"),
        score.alias("quality_score"),
    )


def repetition_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Intra-document repetition metrics (the Gopher-rules quality signal:
    heavily repetitive documents are low-value training data).

    Output per doc: token totals, distinct count, duplicate-token ratio, and
    the most-frequent token with its frequency share. Tie rule for the top
    token: highest count, then lexicographically greatest token (struct max
    — deterministic, mirrored in the SQL oracle with ORDER BY cnt DESC,
    tok DESC).

    Shape: one explode + two aggregations, both keyed on doc_id — the
    (doc_id, tok) pre-aggregation combines map-side, so the shuffle carries
    distinct tokens per doc, not every occurrence. Ratios are exact integer
    arithmetic (engine-agnostic).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    )
    per_tok = base.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    agg = per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max(F.struct(F.col("cnt"), F.col("tok"))).alias("__best"),
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct_tokens"),
        ratio_round(F.col("n_tokens") - F.col("n_distinct"), F.col("n_tokens"), 3).alias(
            "dup_token_ratio"
        ),
        F.col("__best.tok").alias("top_token"),
        ratio_round(F.col("__best.cnt"), F.col("n_tokens"), 3).alias("top_token_frac"),
    )


def chunk_documents(
    df: DataFrame, text_col: str, id_col: str, window: int = 50, stride: int = 40
) -> DataFrame:
    """Sliding-window chunking: split each document into overlapping
    ``window``-token chunks every ``stride`` tokens (context-length-bound
    training and RAG indexing both need this).

    Chunk starts are 0, stride, 2*stride, …; the count is
    ``1 + ceil(max(n - window, 0) / stride)`` so the final (possibly short)
    chunk always covers the tail. Output keeps rows narrow — (doc_id,
    chunk_idx, n_chunk_tokens, chunk_md5) — the md5 stands in for shipping
    chunk text to a sink. Pure higher-order functions (sequence/slice):
    stays in codegen, no shuffle, parallel per input split.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(toks)
    overflow = F.greatest(n - F.lit(window), F.lit(0))
    n_chunks = F.lit(1) + F.call_function(
        "div", (overflow + F.lit(stride - 1)).cast("long"), F.lit(stride).cast("long")
    ).cast("int")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"), n_chunks.alias("__nc"))
    idx = F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_idx")
    chunked = base.select("doc_id", "__toks", idx).select(
        "doc_id",
        "chunk_idx",
        F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, window).alias("__chunk"),
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("__chunk").cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("__chunk")).cast("binary")).alias("chunk_md5"),
    )


def doc_frequency(df: DataFrame, text_col: str, id_col: str, top: int = 25) -> DataFrame:
    """Corpus document frequency: for each token, the number of documents
    containing it (the IDF denominator); top ``top`` by df desc, token asc.

    ``array_distinct`` BEFORE the explode: the shuffle carries distinct
    (doc, token) pairs — natural-language corpora repeat tokens heavily, so
    this is the difference between shuffling the corpus and shuffling its
    vocabulary footprint.
    """
    toks = F.array_distinct(tokens_of(df, text_col))
    return (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(top)
    )


def quota_per_key(
    df: DataFrame, key_col: str, order_col: str, id_col: str, quota: int
) -> DataFrame:
    """Per-key contribution cap: keep the top ``quota`` rows per key, ranked
    by ``order_col`` desc (ties by ``id_col`` asc). The corpus-curation use
    is capping any one source/domain's share of the training mix.

    One hash shuffle on the key + a bounded per-key sort. At 100 TB a skewed
    key (one domain = half the corpus) makes this window the bottleneck; the
    rank-only window is the cheap form, and pre-filtering with an
    approximate per-key count (sampling) bounds the worst key before the
    exact pass.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.col(order_col).desc(), F.col(id_col))
    return (
        df.withColumn("rank_in_key", F.row_number().over(w))
        .filter(F.col("rank_in_key") <= quota)
    )


def redact_terms(
    df: DataFrame, text_col: str, id_col: str, terms: tuple[str, ...], token: str = "<TERM>"
) -> DataFrame:
    """Blocklist-term redaction: replace whole-word occurrences of ``terms``
    with ``token``; returns (doc_id, n_redacted, redacted_len) for documents
    with at least one hit.

    One global regexp_replace + one regexp_count per document — a narrow
    map-side projection, no shuffle (beyond the caller's sink). The
    alternation pattern is a compile-time literal, so the whole expression
    stays in codegen. Word-boundary ``\\b`` behaves identically in Java
    regex and RE2 for ASCII terms, which keeps the SQL oracle portable.
    """
    import re as _re

    pattern = r"\b(?:" + "|".join(_re.escape(t) for t in terms) + r")\b"
    t = F.col(text_col)
    n_redacted = F.regexp_count(t, F.lit(pattern)).cast("long")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            n_redacted.alias("n_redacted"),
            F.length(F.regexp_replace(t, pattern, token)).cast("long").alias("redacted_len"),
        )
        .filter(F.col("n_redacted") > 0)
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, compact_first: bool = True
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the classic relevance /
    keyword-extraction signal over a training corpus.

    IDF is quantized to an exact integer (``floor(ln(N/df) * 1e6)``) so the
    score ``tf * idf_micro`` and its ranking are integer arithmetic — the
    one ln() per distinct token is the only float op, and engines agree on
    it away from the (measure-zero) floor boundaries; summation-order
    nondeterminism never enters.

    Two forms (VERDICT r4 item 7 / ADVICE r5):

    - ``compact_first=True`` (DEFAULT — the corpus-scale-safe form): the
      FIRST exchange map-side-combines (doc, token) partials before
      anything shuffles, so an ultra-frequent token (un-normalized stop
      words at 100 TB) can never land its raw occurrences on one task.
      Three key exchanges (tf agg → token window → doc rank window).
    - ``compact_first=False`` (the fused form): ONE token-hash exchange
      serves both the tf aggregate and the document-frequency count —
      ``repartition(token)`` satisfies the ``groupBy(token, doc)``
      clustered distribution (subset partitioning) AND the token
      count-window, so neither inserts its own exchange; only the final
      per-doc rank window re-shuffles. Two exchanges total (measured
      1.33 s → 0.26 s at sf0.1), but the token exchange carries raw
      occurrences — opt in when token frequencies are known-bounded
      (normalized corpora, pre-filtered stop words), as the bench
      queries do explicitly.
    """
    from pyspark.sql import Window

    toks = tokens_of(df, text_col)
    pairs = df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("token"))
    if compact_first:
        tf = pairs.groupBy("doc_id", "token").agg(
            F.count("*").cast("long").alias("tf")
        ).repartition("token")
    else:
        tf = (
            pairs.repartition("token")
            .groupBy("token", "doc_id")
            .agg(F.count("*").cast("long").alias("tf"))
        )
    dfreq = tf.withColumn(
        "doc_freq", F.count("*").over(Window.partitionBy("token")).cast("long")
    )
    n_docs = df.select(F.count("*").alias("__n"))
    idf_micro = F.floor(
        F.log(F.col("__n").cast("double") / F.col("doc_freq")) * 1e6
    ).cast("long")
    scored = dfreq.join(F.broadcast(n_docs)).withColumn(
        "score_micro", (F.col("tf") * idf_micro).cast("long")
    )
    rank = Window.partitionBy("doc_id").orderBy(F.col("score_micro").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(rank).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "doc_freq", "score_micro", "rank")
    )


def bigram_rarity(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rare_max_count: int = 2,
    compact_first: bool = True,
) -> DataFrame:
    """Corpus-LM rarity quality signal: for each document, how much of it is
    made of bigrams that are rare in the corpus (occurrence count ≤
    ``rare_max_count``). High rare-bigram share flags boilerplate-free but
    also garbled/OCR-noise text — the integer-exact cousin of n-gram LM
    perplexity scoring (no float log-prob sums, so it hash-matches any SQL
    oracle bit-for-bit).

    Output: (doc_id, n_bigrams, n_rare_bigrams, rare_pct) for documents
    with at least one bigram; rare_pct is half-up integer-rounded to 0.1%.

    Shape: positional bigrams from a materialized token array (no
    re-tokenization per element). ``compact_first=True`` (DEFAULT — the
    corpus-scale-safe form, ADVICE r5): map-side-combined (doc, bigram)
    partials cross the first exchange, so an ultra-frequent bigram can
    never concentrate its raw occurrences on one task.
    ``compact_first=False`` (the fused form): ONE bigram-hash exchange
    serves both the (bigram, doc) compaction — subset partitioning
    satisfies the clustered distribution, the x58 fold — and the
    corpus-count window, so only the final per-doc aggregate
    re-shuffles; opt in when bigram frequencies are known-bounded, as
    the bench query does explicitly. Same knob as
    :func:`tfidf_top_terms`.
    """
    from pyspark.sql import Window

    toked = df.select(
        F.col(id_col).alias("doc_id"),
        tokens_of(df, text_col).alias("__toks"),
    ).filter(F.size("__toks") >= 2)
    t = F.col("__toks")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2)),
    )
    occ = toked.select("doc_id", F.explode(bigrams).alias("bigram"))
    if compact_first:
        compact = (
            occ.groupBy("doc_id", "bigram")
            .agg(F.count("*").cast("long").alias("cnt"))
            .repartition("bigram")
        )
    else:
        compact = (
            occ.repartition("bigram")
            .groupBy("bigram", "doc_id")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
    with_corpus = compact.withColumn(
        "corpus_cnt", F.sum("cnt").over(Window.partitionBy("bigram")).cast("long")
    )
    rare = F.when(F.col("corpus_cnt") <= rare_max_count, F.col("cnt")).otherwise(F.lit(0))
    agg = with_corpus.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.sum(rare).cast("long").alias("n_rare_bigrams"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_rare_bigrams",
        ratio_round(F.col("n_rare_bigrams") * 100, F.col("n_bigrams"), 1).alias("rare_pct"),
    )


def learn_bpe_merges(df: DataFrame, text_col: str, num_merges: int = 8) -> DataFrame:
    """Byte-pair-encoding merge learning (tokenizer training) over a corpus.

    Classic BPE on word types: words become character-symbol sequences with
    an end-of-word marker on the last symbol; each round counts adjacent
    symbol pairs across the corpus weighted by word frequency, takes the
    most frequent pair (ties broken lexicographically — fully
    deterministic), and fuses that pair everywhere. Returns the learned
    merge table (merge_rank, left, right, merged, pair_count).

    Scale shape: the corpus collapses to the WORD-TYPE table first (one
    groupBy — BPE statistics only depend on word frequencies, the standard
    trick), which is orders of magnitude smaller than the token stream.
    Each round is: HOF zip-with over the symbol arrays → explode pairs →
    groupBy sum → take-1 (tiny) → Arrow mapInPandas applying the fusion.
    Per round: one shuffle over pair counts + one map-only rewrite. The
    word-type table stays distributed throughout — nothing corpus-sized
    ever reaches the driver; only the single winning pair per round does.
    """
    import pandas as pd

    words = (
        df.select(F.explode(tokens_of(df, text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    # symbols: characters, with "</w>" appended to the final one
    syms = F.transform(
        F.split(F.col("w"), ""),
        lambda c, i: F.when(i == F.length("w") - 1, F.concat(c, F.lit("</w>"))).otherwise(c),
    )
    vocab = words.select(F.col("cnt"), syms.alias("s")).localCheckpoint(eager=True)

    merges = []
    for rank in range(num_merges):
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("s"), 1, F.greatest(F.size("s") - 1, F.lit(0))),
                    F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((rank, l, r, l + r, c))
        if rank == num_merges - 1:
            # nothing consumes the fused vocab after the last learned merge:
            # skip the final fusion pass + eager checkpoint (one whole
            # mapInPandas job per call — pure fixed cost at any scale)
            break

        def fuse(batches, _l=l, _r=r):
            for pdf in batches:
                out = []
                for s in pdf["s"]:
                    s = list(s)
                    res, i = [], 0
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == _l and s[i + 1] == _r:
                            res.append(_l + _r)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    out.append(res)
                yield pd.DataFrame({"cnt": pdf["cnt"], "s": out})

        # localCheckpoint truncates the per-round lineage (same policy as
        # dedup_clusters; reliable checkpoint dir at cluster scale)
        vocab = vocab.mapInPandas(fuse, "cnt long, s array<string>").localCheckpoint(eager=True)

    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, merged string, pair_count long"
    )


def ngram_novelty(df: DataFrame, text_col: str, id_col: str, n: int = 5) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a document's distinct
    word n-grams appear in NO other document.

    The memorization/uniqueness signal a curation pipeline ranks on — a
    document whose 5-grams all recur elsewhere is boilerplate or a near-dup;
    one whose grams are mostly corpus-unique carries new content (the same
    family of signals as the reference pipeline's duplicate flagging, see
    SURVEY §2.11 X4; cf. the dedup counting in
    /root/reference utils/utils_transform.py duplicate handling).

    Plan: ONE shingle explode materialized as the cached gram index, a
    doc-frequency groupBy and a join-back that both run WITHOUT further
    gram exchanges (the index is hash-partitioned on gram), then one
    groupBy(doc_id) to fold the per-doc tally. Grams are xxhash64-compressed
    before the shuffle so the exchanged key is 8 bytes, not the raw string.
    Measured tradeoff at sf0.1: the uncached two-subtree form is ~0.1 s
    faster locally (cache materialization costs more than re-running the
    cheap toy-scale shingle pipeline) but scans the corpus TWICE — at
    100 TB the single materialized scan wins categorically, so the cached
    index is the product shape. (xxhash64 collisions can only ever merge
    two grams' counts — at 2^64 key space the expected effect at any
    realistic corpus size is zero, and the DuckDB oracle counts RAW grams,
    so the correctness gate itself would surface a collision as a hash
    mismatch.)
    """
    from pipeline_etl_website_visits_spark.operators.dedup import gram_index

    # The doc-frequency aggregate and the join-back consume the index with
    # DIFFERENT column sets, so exchange reuse can never fire (column
    # pruning makes the two subtrees non-canonical) — without intervention
    # Catalyst recomputes the whole tokenize+shingle+hash pipeline per side
    # and scans the corpus twice. The cached gram index is the right tool:
    # one scan materializes it, and because it is hash-partitioned on gram,
    # BOTH the doc-frequency groupBy and the join back need zero additional
    # gram exchanges (plan pinned in test_plans).
    g = gram_index(df, text_col, id_col, n)
    doc_freq = g.groupBy("gram").agg(F.count("*").alias("df"))
    return (
        g.join(doc_freq, on="gram")
        .groupBy("doc_id")
        .agg(
            F.max("sz").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_unique").cast("long").alias("n_unique"),
            ratio_round(F.col("n_unique"), F.col("n_grams"), 4).alias("novelty"),
        )
    )


def bpe_token_counts(
    df: DataFrame, text_col: str, id_col: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply a learned BPE merge table and count tokens per document — the
    tokenizer-apply half of the train/apply loop (:func:`learn_bpe_merges`
    is the train half; together they are the full tokenizer story a
    training-data pipeline runs to budget sequence lengths).

    Scale shape: merges apply to WORD TYPES, not the token stream — the
    distinct-word table is encoded once in an Arrow map pass (with a
    per-batch memo, so repeated types inside a batch cost a dict hit), and
    documents join their per-word token counts back by word key. The join
    is a plain equi-join on the word (planner's choice; vocabulary-sized
    side auto-broadcasts when it fits), followed by one per-doc fold. The
    merge list itself is tiny by contract (num_merges entries) and rides in
    the closure.

    Output: (doc_id, n_words, n_bpe_tokens) — whitespace words and the BPE
    token total after applying all merges in rank order.
    """
    import pandas as pd

    merge_list = list(merges)

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_of(df, text_col)).alias("w"),
    ).filter(F.length("w") > 0)
    per_doc_word = toks.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    words = per_doc_word.select("w").distinct()

    def encode(batches):
        memo: dict[str, int] = {}
        for pdf in batches:
            out = []
            for w in pdf["w"]:
                n = memo.get(w)
                if n is None:
                    syms = list(w[:-1]) + [w[-1] + "</w>"]
                    for l, r in merge_list:
                        res, i = [], 0
                        while i < len(syms):
                            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                                res.append(l + r)
                                i += 2
                            else:
                                res.append(syms[i])
                                i += 1
                        syms = res
                    n = memo[w] = len(syms)
                out.append(n)
            yield pd.DataFrame({"w": pdf["w"], "n_bpe": out})

    encoded = words.mapInPandas(encode, "w string, n_bpe int")
    return (
        per_doc_word.join(encoded, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_bpe")).cast("long").alias("n_bpe_tokens"),
        )
    )


def heavy_hitters(
    df: DataFrame,
    text_col: str,
    denom: int = 256,
    capacity: int = 1024,
    tree_merge: bool = False,
) -> DataFrame:
    """Exact corpus heavy hitters: every token whose frequency is at least
    ``1/denom`` of the total token count, with its EXACT count.

    The 100 TB shape is sketch-then-verify (same discipline as the x66
    membership prefilter): a full ``groupBy token`` shuffles the entire
    token stream — at corpus scale that is the vocabulary long tail, which
    is almost all of the shuffle and none of the answer. Instead:

    1. **Candidate pass** — per-partition mergeable Misra–Gries summaries
       (Arrow ``mapInPandas``; per-batch ``value_counts`` is vectorized,
       the sketch merge touches at most ``capacity`` keys per batch),
       then ONE distributed merge task folds all partition summaries into
       a single global MG sketch of ≤ ``capacity`` entries (MG summaries
       are mergeable with the same ε = 1/(capacity+1) bound — Agarwal,
       Cormode et al., "Mergeable Summaries", PODS 2012): a token with
       global count ≥ N/denom has merged residual
       > count − N/(capacity+1) > 0 whenever ``capacity+1 > denom``, so
       every true heavy hitter survives the merge — no false negatives.
       The SAME pass also emits each partition's exact token total as a
       sentinel row (token NULL), folded to the global N by the merge, so
       the denominator needs no second corpus scan — at 100 TB that third
       scan is the single largest avoidable cost in the naive 3-pass
       formulation.
    2. **Exact recount** — re-scan with the candidate set broadcast and
       count ONLY candidate tokens. The shuffle now carries ≤ capacity
       distinct tokens instead of the vocabulary; false positives get
       exact counts and are dropped by the final threshold, so the result
       is exact, not approximate.

    Driver bound: the per-partition sketches — ≤ (capacity+1) ×
    n_partitions tiny rows, the SAME bound the pre-r12 design placed on
    the broadcast-join build side — are collected and merged in one
    pandas fold (microseconds at any sane partition count), so the
    candidate relation the recount broadcasts is the MERGED sketch:
    ≤ capacity rows, further pruned by the merged-residual threshold
    (count ≥ N/denom ⇒ residual ≥ N/denom − N/(capacity+1) — anything
    below that provably isn't a hitter). r12 rework: this replaced a
    cached-summary + two broadcast-subquery-job phase-2 (1.06 s →
    0.72 s at sf0.1, and the broadcast shrinks from capacity·partitions
    rows to ≤ capacity). ``tree_merge=True`` inserts a distributed
    single-task merge stage before the collect for corpora whose
    partition count makes even the sketch collect heavy (≥ ~10k
    partitions — the 100 TB setting); the driver then sees ≤ capacity+1
    rows regardless of partition count. Same results either way
    (exactness never depends on the merge route).

    Both passes share ONE materialized tokenization (``cache()``):
    normalize+split is the dominant per-row compute, and without the
    shared materialization it runs twice — once under the MG pass, once
    under the recount. The final result is computed EAGERLY (≤ denom-1
    rows by the threshold's pigeonhole bound) so the cache can be
    released before returning (the triangle_count discipline).
    """
    import pandas as pd

    if capacity + 1 <= denom:
        raise ValueError("capacity must be >= denom for the no-false-negative guarantee")

    # null text contributes zero tokens (matches SQL string_split(NULL) →
    # unnest → no rows); dropping it here also keeps the Arrow flatten off
    # null list entries.
    #
    # The shared tokenization is materialized ONLY when the input is raw
    # text: for a pretokenized array column (the stored tokenized-corpus
    # artifact — tokens_of seam) the "recompute" each pass pays is just
    # the parquet scan, and the columnar in-memory cache is strictly worse
    # for arrays — measured at sf0.1: 1.23 s to materialize + 0.59 s per
    # cached read vs 0.28 s per direct re-scan. Caching text and
    # re-splitting stays right when tokenize is the dominant per-row cost.
    pretokenized = dict(df.dtypes).get(text_col, "").startswith("array")
    toks = df.filter(F.col(text_col).isNotNull()).select(
        tokens_of(df, text_col).alias("toks")
    )
    if not pretokenized:
        toks = toks.cache()

    def mg_partition(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        acc = pd.Series(dtype="int64")
        n_part = 0
        for pdf in batches:
            # flatten + count in Arrow C kernels; the merge is a pandas
            # index-aligned add (C hash join) — Python touches no token
            flat = pc.list_flatten(pa.array(pdf["toks"]))
            n_part += len(flat)
            vc = pc.value_counts(flat)
            # to_pandas, never to_pylist: the per-token Python-object
            # conversion was ~half the sketch pass at sf0.1
            s = pd.Series(
                vc.field("counts").to_pandas().to_numpy(),
                index=vc.field("values").to_pandas(),
                dtype="int64",
            )
            acc = acc.add(s, fill_value=0).astype("int64") if len(acc) else s
            if len(acc) > capacity:
                # mergeable-MG truncation: subtract the (capacity+1)-th
                # largest count from everything, drop non-positive keys
                cut = int(acc.nlargest(capacity + 1).iloc[-1])
                acc = acc[acc > cut] - cut
        # sketch rows (token, residual) + one sentinel row carrying this
        # partition's exact token total (tokens from split() are never
        # NULL, so NULL is free); residuals feed the global merge
        yield pd.DataFrame(
            {
                "token": list(acc.index) + [None],
                "cnt": list(acc.to_numpy()) + [None],
                "part_n": [None] * len(acc) + [n_part],
            }
        )

    def mg_merge(batches):
        # global fold of the partition sketches: same add + truncate rule
        # (the mergeable-summaries merge), sentinels sum to the exact N
        acc = pd.Series(dtype="int64")
        n_total = 0
        for pdf in batches:
            sent = pdf["part_n"].notna()
            n_total += int(pdf.loc[sent, "part_n"].sum())
            sk = pdf.loc[~sent]
            if len(sk):
                # one Arrow batch re-forms across MANY partition sketches
                # after the repartition(1) shuffle, so a token can appear
                # several times in this pdf — aggregate duplicates BEFORE
                # the index-aligned add (Series.add on duplicate labels
                # double-adds matches and keeps duplicate rows, which the
                # per-row truncation then over-subtracts: false negatives)
                s = sk.groupby("token")["cnt"].sum().astype("int64")
                acc = acc.add(s, fill_value=0).astype("int64") if len(acc) else s
                if len(acc) > capacity:
                    cut = int(acc.nlargest(capacity + 1).iloc[-1])
                    acc = acc[acc > cut] - cut
        yield pd.DataFrame(
            {
                "token": list(acc.index) + [None],
                "part_n": [None] * len(acc) + [n_total],
            }
        )

    spark = df.sparkSession
    try:
        sketches = toks.mapInPandas(
            mg_partition, "token string, cnt long, part_n long"
        )
        if tree_merge:
            # repartition(1), never coalesce(1): coalesce would collapse
            # the expensive per-partition MG pass itself into one task
            merged_rows = (
                sketches.repartition(1)
                .mapInPandas(mg_merge, "token string, part_n long")
                .collect()
            )  # ≤ capacity+1 rows by construction (truncation pruned)
            cand_tokens = [r["token"] for r in merged_rows if r["token"] is not None]
            n_total = sum(r["part_n"] for r in merged_rows if r["part_n"] is not None)
        else:
            sk_rows = sketches.collect()  # ≤ (capacity+1)·partitions rows
            n_total = sum(r["part_n"] for r in sk_rows if r["part_n"] is not None)
            per_part: dict = {}
            for r in sk_rows:
                if r["token"] is None:
                    continue
                per_part[r["token"]] = per_part.get(r["token"], 0) + r["cnt"]
            acc = pd.Series(per_part, dtype="int64")
            if len(acc) > capacity:
                cut = int(acc.nlargest(capacity + 1).iloc[-1])
                acc = acc[acc > cut] - cut
            # merged-residual pruning: count ≥ N/denom forces residual
            # ≥ N/denom − N/(capacity+1) > 0 (integer-exact comparison)
            bound_num = n_total * (capacity + 1 - denom)
            cand_tokens = [
                t
                for t, v in acc.items()
                if int(v) * denom * (capacity + 1) >= bound_num
            ]
        candidates = spark.createDataFrame(
            [(t,) for t in cand_tokens], "token string"
        )
        result = _heavy_hitters_recount(
            toks.select(F.explode("toks").alias("token")),
            candidates,
            n_total,
            denom,
        )
        rows = result.collect()  # ≤ denom-1 rows: cnt ≥ n/denom can't hold denom times
        schema = result.schema
    finally:
        if not pretokenized:
            toks.unpersist()
    return spark.createDataFrame(rows, schema)


def _heavy_hitters_recount(
    token_stream: DataFrame, candidates: DataFrame, total_n: int, denom: int
) -> DataFrame:
    """The lazy phase-2 plan of :func:`heavy_hitters` (candidate broadcast
    + exact recount + threshold), split out so plan tests can assert its
    shape before the eager materialization. ``token_stream`` is the
    exploded (token) relation — in the public operator it reads the same
    CACHED tokenization the candidate pass consumed. ``total_n`` is the
    exact global token count, already merged on the driver — a LITERAL,
    not a broadcast-subquery join: the two tiny broadcast jobs the
    summary-relation form paid measured 2x the whole recount at sf0.1."""
    return (
        token_stream.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") * denom >= F.lit(int(total_n)))
        .select("token", "cnt")
        .orderBy(F.col("cnt").desc(), "token")
    )


def cms_token_estimates(
    df: DataFrame,
    text_col: str,
    probes: list[str],
    eps: float = 0.0001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count-min-sketch frequency estimates for a fixed probe set of
    tokens, alongside their exact counts.

    The sketch side is the 100 TB path: ``count_min_sketch`` is a JVM
    aggregate with map-side partial sketches merged tree-wise — one pass,
    no token shuffle, fixed O(depth×width) state regardless of corpus
    size. Only the serialized sketch (~100 KB at these parameters)
    reaches the driver, where the public
    ``org.apache.spark.util.sketch.CountMinSketch`` API answers point
    queries. The exact counts (for the CMS ≥ exact guarantee check)
    filter to the probe set BEFORE the groupBy, so the verification
    shuffle carries |probes| tokens, not the vocabulary.
    """
    # one materialized token pass feeds BOTH the sketch agg and the exact
    # recount (the normalize+split+explode corpus scan is the dominant cost
    # — without this it runs twice per call)
    toks = df.select(
        F.explode(tokens_of(df, text_col)).alias("token")
    ).localCheckpoint(eager=False)
    sk_row = toks.agg(
        F.count_min_sketch("token", F.lit(eps), F.lit(confidence), F.lit(seed)).alias("sk")
    ).collect()[0]
    spark = df.sparkSession
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(sk_row["sk"]))
    est = [(p, int(cms.estimateCount(p))) for p in probes]
    est_df = spark.createDataFrame(est, "token string, cms_estimate long")
    exact = (
        toks.filter(F.col("token").isin(probes))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("exact_count"))
    )
    return (
        est_df.join(exact, "token", "left")
        .select(
            "token",
            "cms_estimate",
            F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
            (F.col("cms_estimate") - F.coalesce("exact_count", F.lit(0))).alias("overestimate"),
        )
        # no final orderBy (the x82 discipline, r15): determinism-only sort
    )


def scrub_repeated_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Intra-document repetition removal — the REWRITE twin of
    :func:`repetition_features` (which only measures; Gopher-style
    pipelines then actually strip the boilerplate/loop artifacts).
    Within each document, any token covered by an n-gram whose identical
    gram occurred EARLIER in the same document is deleted; the first
    occurrence survives. Cross-document duplication is x112's
    (`dedup.scrub_duplicate_spans`) job — together they are the two
    halves of duplicate-span removal.

    Scale shape: repetition is a per-document property, so the whole
    rewrite is ARRAY higher-order functions inside one projection —
    MAP-ONLY, zero shuffles, no joins (contrast x112, which must shuffle
    gram keys because its keeper lives in another document). Per-doc cost
    is O(g·g) gram comparisons (exists() over the earlier-grams slice),
    bounded by document length, not corpus size — embarrassingly
    parallel at any scale.

    Output: (doc_id, n_removed, text_clean), token order preserved.
    """
    from pipeline_etl_website_visits_spark.operators.dedup import (
        positional_gram_hashes,
        rebuild_text_without,
    )

    t = tokens_of(df, text_col)  # toktab artifact serves directly (r14)
    toks = df.select(F.col(id_col).alias("doc_id"), t.alias("__t"))
    with_g = toks.withColumn("__g", positional_gram_hashes(F.col("__t"), n))
    # starts (1-based) whose gram already appeared earlier in THIS doc
    repeats = F.filter(
        F.sequence(F.lit(1), F.size("__g")),
        lambda s: F.exists(
            F.slice("__g", 1, s - 1), lambda x: x == F.element_at("__g", s)
        ),
    )
    rm = F.array_distinct(
        F.flatten(F.transform(repeats, lambda s: F.sequence(s, s + (n - 1))))
    )
    staged = with_g.withColumn(
        "__rm", F.when(F.size("__g") > 0, rm).otherwise(F.array().cast("array<int>"))
    )
    n_removed, clean = rebuild_text_without(F.col("__t"), F.col("__rm"))
    out = staged.select(
        "doc_id", n_removed.alias("n_removed"), clean.alias("text_clean")
    )
    # no final orderBy (the x82 discipline, r15): determinism-only sort
    return out


def zipf_slope(df: DataFrame, text_col: str, top_n: int = 1000) -> DataFrame:
    """Log-log slope of the token frequency-rank curve — the corpus-health
    diagnostic (natural language sits near -1; a slope far off flags
    boilerplate floods or synthetic/garbled text before any model sees it).

    Engine-exactness discipline: ``ln(rank)`` / ``ln(count)`` are quantized
    to integer micro-units PER ROW (one libm call each — engines agree away
    from measure-zero floor boundaries), then the OLS slope is computed from
    exact DECIMAL(38) sums of those integers, so distributed summation order
    cannot move a digit: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), one
    final exact-integer division. Never ``regr_slope`` over raw doubles —
    its float accumulators differ by ulps between engines and partitionings.

    Scale shape: one token-hash exchange (map-side-combined counts), the
    rank window over the ``top_n`` head only (ORDER BY count LIMIT prunes
    first at corpus scale), then a single 1-row aggregate.

    Output: ``(n_points, zipf_slope)`` — one row.
    """
    toks = df.select(F.explode(tokens_of(df, text_col)).alias("token"))
    cnt = toks.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    return zipf_slope_from_counts(cnt, "token", "c", top_n=top_n)


def zipf_slope_from_counts(
    cnt: DataFrame, token_col: str, count_col: str, top_n: int = 1000
) -> DataFrame:
    """The rank/OLS half of :func:`zipf_slope`, split out so a STORED
    vocabulary-count relation (queries/llmops.py:shared_token_counts) can
    serve the fit without re-paying the corpus explode — the input is
    vocabulary-sized either way, and the arithmetic (quantized-ln +
    exact DECIMAL sums) is identical, so the slope cannot move."""
    from pyspark.sql import Window

    cnt = cnt.select(F.col(token_col).alias("token"), F.col(count_col).cast("long").alias("c"))
    w = Window.orderBy(F.col("c").desc(), "token")
    pts = (
        cnt.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_n)
        .select(
            F.floor(F.log(F.col("rnk").cast("double")) * 1e6).cast("long").alias("x"),
            F.floor(F.log(F.col("c").cast("double")) * 1e6).cast("long").alias("y"),
        )
    )
    # cast to DECIMAL BEFORE the product/sum: x·x ≈ 2e14 per point, so a
    # long accumulator wraps silently past ~46k points (non-ANSI sum) —
    # top_n is caller-controlled and the exactness contract must hold at
    # any plausible value, not just the x130 certificate's 1000
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = pts.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # den == 0 iff fewer than two distinct ranks (a 0/1-token vocabulary):
    # the fit is undefined — NULL, not an ANSI division error
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.when(den != 0, F.round(num / den, 6)).alias("zipf_slope"),
    )


def _aho_corasick_build(needles: "list[str]"):
    """Build an Aho–Corasick automaton over ``needles`` as plain lists —
    goto (list of dict char→state), fail links, and per-state output
    pattern-id sets merged through the fail chain at build time, so the
    scan never walks fail links for outputs. Pure stdlib (the container
    pins no AC package); pickles into the task closure."""
    goto: list[dict] = [{}]
    out: list[set] = [set()]
    for pid, pat in enumerate(needles):
        s = 0
        for ch in pat:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append(set())
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].add(pid)
    from collections import deque

    fail = [0] * len(goto)
    q = deque()
    for ch, s in goto[0].items():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s] |= out[fail[s]]
    return goto, fail, out


def _ac_distinct_hits(text: str, goto, fail, out) -> int:
    """Number of DISTINCT patterns occurring in ``text`` (the literal
    scan's semantics: each needle counts once however often it occurs)."""
    s = 0
    seen: set = set()
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        if out[s]:
            seen |= out[s]
    return len(seen)


def substring_decontam_hits(
    docs: DataFrame,
    needles: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "auto",
) -> DataFrame:
    """Exact-substring decontamination: which corpus docs CONTAIN any of a
    bounded eval-needle set (the 4th decontamination mode beside x47's
    n-gram overlap, x66's bloom prefilter and x101's embedding-space
    match — benchmark answer strings often survive reformatting that
    breaks n-gram shingles, so leakage audits grep for them verbatim).

    ``needles`` is a driver-side list (the eval-set contract, same
    boundedness as semantic_decontam's broadcast eval matrix). Two
    executable engines, BOTH map-only (no join, no shuffle before the
    per-doc hit count), same output bit-for-bit:

    * ``literal`` — the needle list ships as a plan-literal array and
      the scan runs ``contains`` per needle in whole-stage codegen:
      O(needles × len) per doc, unbeatable for the tens-of-needles case.
    * ``automaton`` — ONE Aho–Corasick automaton over all needles,
      Arrow-batched ``mapInPandas``: O(len) per doc regardless of
      needle count — the 100 TB shape for thousands of needles, where
      the literal scan's per-needle pass (and its codegen size) fall
      over. The automaton builds once driver-side and pickles into the
      task closure (KBs–MBs — the same boundedness contract).
    * ``auto`` — literal up to 256 needles, automaton beyond.

    Output: (id_col, n_hits) for docs with >= 1 DISTINCT needle hit,
    ordered by id; ``n_hits`` counts distinct needles in both engines.
    """
    if not needles:
        raise ValueError("substring_decontam_hits needs a non-empty needle set")
    if engine not in ("auto", "literal", "automaton"):
        raise ValueError(f"engine must be auto/literal/automaton, got {engine!r}")
    if engine == "auto":
        engine = "literal" if len(needles) <= 256 else "automaton"
    if engine == "literal":
        arr = F.array(*[F.lit(n) for n in needles])
        n_hits = F.size(F.filter(arr, lambda nd: F.contains(F.col(text_col), nd)))
        return (
            docs.select(
                F.col(id_col).cast("long").alias(id_col),
                n_hits.cast("long").alias("n_hits"),
            )
            .filter(F.col("n_hits") > 0)
            .orderBy(id_col)
        )

    goto, fail, out = _aho_corasick_build(list(needles))
    narrow = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            hits = [
                _ac_distinct_hits(t, goto, fail, out) if t is not None else 0
                for t in pdf["text"]
            ]
            res = pd.DataFrame({"doc_id": pdf["doc_id"], "n_hits": hits})
            yield res[res["n_hits"] > 0]

    return (
        narrow.mapInPandas(scan, schema="doc_id long, n_hits long")
        .withColumnRenamed("doc_id", id_col)
        .orderBy(id_col)
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon entropy of the token distribution, in integer
    micro-nats — the repetition/diversity quality signal (near-zero =
    one token stuttered; high = diverse vocabulary; boilerplate and
    keyword-stuffed spam sit far from natural-language bands).

    Engine-exactness discipline (the zipf_slope pattern): ``ln`` is
    evaluated only on INTEGER counts and quantized per value —
    ``L(k) = FLOOR(ln(k)·1e6)`` — then
    ``H_micro = L(n) − (Σ c·L(c)) DIV n`` is pure integer arithmetic
    (algebra: H = ln n − (1/n)·Σ c·ln c), so distributed summation order
    cannot move a digit and both engines agree exactly.

    Scale shape: ``repartition(id)`` then both groupBys
    (id, token) → (id) reuse the one exchange (subset-partitioning
    satisfies the clustered distribution — the x58/x59 fold); Σ c·L(c)
    stays < 2⁶³ for any single document (c·L(c) ≲ len·ln(len)·1e6).
    """
    toks = df.repartition(F.col(id_col)).select(
        F.col(id_col),
        F.explode(tokens_of(df, text_col)).alias("token"),
    )
    tc = toks.groupBy(id_col, "token").agg(F.count("*").cast("long").alias("c"))
    lc = F.floor(F.log(F.col("c").cast("double")) * 1e6).cast("long")
    agg = tc.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * lc).cast("long").alias("s"),
    )
    ln_n = F.floor(F.log(F.col("n").cast("double")) * 1e6).cast("long")
    return agg.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col("n").alias("n_tokens"),
        (ln_n - F.expr("s DIV n")).cast("long").alias("entropy_micro"),
    )  # no final orderBy (the x82 discipline, r15)


def register_chunk_udtf(spark, name: str = "split_chunks"):
    """Register the fixed-width word-chunking Python UDTF (Spark 4 surface).

    One input row → N chunk rows of ``chunk_words`` tokens each (last
    chunk ragged). The engine-surface point is the UDTF itself — a
    user-defined TABLE function lateral-joined in SQL — closing the
    SURVEY §2.10 "UDF/UDAF/UDTF: none" row with a real registration.
    The chunk math mirrors :func:`sliding_chunks`' fixed-stride case so
    the output is SQL-expressible (the DuckDB oracle re-derives it with
    ``generate_series`` + ``list_slice``); callers must pass
    already-normalized text so both engines tokenize identically.

    Scale: a UDTF runs per input partition with Arrow batching — no
    shuffle is introduced; text → chunk fan-out is the same map-side
    explode shape as the HOF chunkers. Python-worker overhead is the
    cost of the USER-DEFINED path; the built-in HOF form
    (x54_chunk_overlap) remains the hot-path recommendation.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_ix int, n_words int, chunk string")
    class _SplitChunks:
        def eval(self, text: str, chunk_words: int):
            # Tokenize exactly like the SQL oracle's string_split: NULL
            # text -> no rows; empty text -> one [''] token -> one
            # (0, 1, '') chunk. Normalized input has no internal empty
            # tokens, so no emptiness filter — filtering would drop the
            # empty-doc row the oracle keeps.
            if text is None:
                return
            toks = text.split(" ")
            k = max(int(chunk_words), 1)
            for i in range(0, len(toks), k):
                piece = toks[i : i + k]
                yield i // k, len(piece), " ".join(piece)

    spark.udtf.register(name, _SplitChunks)
    return _SplitChunks


def sequence_pack_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    budget: int,
    n_stripes: int = 64,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: concatenate every
    document's tokens in ``id_col`` order into one virtual stream and cut
    it into fixed ``budget``-token training chunks; report, per document,
    the chunk span it lands in.

    This is the standard pretraining packing (documents concatenated,
    context windows cut at fixed boundaries regardless of document
    edges — the T5/GPT data-prep shape), and the whole computation is one
    GLOBAL PREFIX SUM over per-document token counts. The naive Spark
    spelling — ``sum().over(Window.orderBy(id))`` with no partitionBy —
    collapses the corpus into ONE task (``Exchange SinglePartition``):
    the classic scale trap, unusable at 100 TB. The distributed shape
    used here:

    1. stripe each doc by its id into ``n_stripes`` contiguous ranges
       (pure arithmetic on the id — deterministic, no sampling, so the
       assignment is stable across retries, unlike repartitionByRange);
    2. one tiny aggregation (``n_stripes`` rows) gives per-stripe token
       totals; the exclusive prefix offsets are computed driver-side
       over that BOUNDED list (the "bounded scalar collect" discipline)
       and broadcast back as a literal map-side join;
    3. the within-stripe running sum is a window PARTITIONED BY stripe —
       every stripe scans in parallel; global position = stripe offset +
       within-stripe cumsum.

    Zero-token documents (empty/blank text) occupy no stream position
    and are excluded, matching the oracle's ``n_tokens > 0`` filter.
    Output (one row per packed doc): ``n_tokens``, ``chunk_first``,
    ``chunk_last``, ``n_chunks`` (how many training windows the doc
    spans), ``offset_in_chunk`` (token offset where it starts). Contrast
    with first-fit bin packing: chunk cuts here are position-arithmetic,
    so the operator is exactly SQL-replayable and needs no sequential
    fold. Uniform id striping assumes a roughly dense id domain (true
    for surrogate keys); for pathological sparsity pass more stripes or
    pre-map ids — correctness never depends on balance, only stripe
    parallelism does.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = df.sparkSession
    # no fan-out of the single-file toy scan: whitespace token counting is
    # too cheap per row to pay a text-column exchange (A/B at sf0.1:
    # 0.73s fanned vs 0.64s single-task — the bigram-HOF rule's negative
    # case); real-scale inputs parallelize at the scan
    counts = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        # three consumers read this tiny (doc_id, n_tokens) relation — the
        # id-domain agg, the stripe totals, and the final windowed pass —
        # and without materialization each re-runs the tokenization, the
        # dominant per-row cost. localCheckpoint (not cache) because the
        # returned plan is LAZY: there is no post-action hook to unpersist
        # a cache from, and the checkpoint also cuts the lineage (the
        # cms_token_estimates / dup_span_scrub discipline).
        .localCheckpoint()
    )
    lo, hi = counts.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return spark.createDataFrame(
            [],
            "doc_id long, n_tokens long, chunk_first long, chunk_last long, "
            "n_chunks long, offset_in_chunk long",
        )
    width = max(1, (int(hi) - int(lo)) // int(n_stripes) + 1)
    striped = counts.withColumn(
        "stripe", ((F.col("doc_id") - F.lit(int(lo))) / F.lit(width)).cast("long")
    )
    # bounded: <= n_stripes rows reach the driver
    stripe_rows = sorted(
        (r["stripe"], r["tot"])
        for r in striped.groupBy("stripe").agg(F.sum("n_tokens").alias("tot")).collect()
    )
    offsets, acc = [], 0
    for sid, tot in stripe_rows:
        offsets.append((int(sid), acc))
        acc += int(tot)
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "stripe long, stripe_offset long")
    )
    win = (
        Window.partitionBy("stripe")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.col("stripe_offset") + F.sum("n_tokens").over(win)).alias("cum")
    staged = striped.join(off_df, "stripe").select("doc_id", "n_tokens", cum)
    b = int(budget)
    # integer DIV end to end: stream positions are longs and a float
    # round-trip is lossy past 2^53 (the packed-key discipline)
    chunk_first = F.expr(f"(cum - n_tokens) DIV {b}")
    chunk_last = F.expr(f"(cum - 1) DIV {b}")
    return staged.select(
        "doc_id",
        "n_tokens",
        chunk_first.alias("chunk_first"),
        chunk_last.alias("chunk_last"),
        (chunk_last - chunk_first + F.lit(1)).cast("long").alias("n_chunks"),
        F.expr(f"(cum - n_tokens) % {b}").alias("offset_in_chunk"),
    )


def greedy_pack_bins(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    budget: int,
) -> DataFrame:
    """Whole-document greedy bin packing: within each group, walk the
    documents in ``id_col`` order and place each into the current bin
    unless it would overflow ``budget`` tokens — then start a new bin.
    Documents are never split (the SFT/finetuning packing discipline,
    where an example must stay contiguous — contrast
    :func:`sequence_pack_chunks`, the pretraining concat-and-chunk form
    that cuts straight through document boundaries). A document longer
    than the budget gets a bin of its own.

    Greedy-with-reset is a SEQUENTIAL fold — no closed form, no window
    trick (the reset makes prefix sums non-associative) — so the
    parallelism unit is the GROUP: ``applyInPandas`` packs every group
    independently, and at real scale the caller passes a fine grouping
    key ((source, date, shard) — packing quality is local to a group by
    definition, and millions of groups saturate any cluster). Inside a
    group the fold is a plain loop over that group's rows in one Arrow
    batch — bounded by the group, not the corpus. Zero-token documents
    occupy no bin and are excluded (the sequence_pack_chunks rule).

    Output: (group, doc_id, n_tokens, bin_ix, offset_in_bin); bin ids
    restart at 0 per group. Exactly replayable in SQL via a recursive
    CTE stepping one rank at a time per group (the x71 oracle shape).
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    counts = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).cast("long").alias("doc_id"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, offs = [], []
        fill, bin_ix = 0, 0
        for n in pdf["n_tokens"].to_numpy():
            if fill > 0 and fill + n > budget:
                bin_ix += 1
                fill = 0
            bins.append(bin_ix)
            offs.append(fill)
            fill += int(n)
        pdf["bin_ix"] = pd.Series(bins, dtype="int64")
        pdf["offset_in_bin"] = pd.Series(offs, dtype="int64")
        return pdf

    # the grp field keeps the CALLER's group type — the recommended fine
    # grouping keys ((source, date, shard)) are often ints, and a
    # hardcoded string here would fail the Arrow schema check at runtime
    # (ADVICE r8)
    grp_type = df.schema[group_col].dataType.simpleString()
    return counts.groupBy("grp").applyInPandas(
        pack,
        f"grp {grp_type}, doc_id long, n_tokens long, "
        f"bin_ix long, offset_in_bin long",
    )


def split_bounds(train: float = 0.8, val: float = 0.1) -> "tuple[str, str]":
    """The two 8-hex-digit fingerprint-prefix bounds that carve md5 space
    into train/val/test fractions — shared by :func:`leakage_free_split`
    and its SQL oracle so both engines compare against the SAME literals
    (never re-derive a float fraction per engine)."""
    if not (0 < train < 1 and 0 < val < 1 and train + val < 1):
        raise ValueError(f"need 0<train, 0<val, train+val<1; got {train}, {val}")
    scale = 16**8
    return (
        format(min(int(train * scale), scale - 1), "08x"),
        format(min(int((train + val) * scale), scale - 1), "08x"),
    )


def leakage_free_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    train: float = 0.8,
    val: float = 0.1,
    key: Column | None = None,
) -> DataFrame:
    """Deterministic leakage-free train/val/test assignment: the split is
    a pure function of the document's content fingerprint (md5 of
    normalized text by default), so every EXACT copy of a document —
    across shards, sources, re-crawls, reruns — lands in the SAME split.
    Hash-based assignment is the training-pipeline discipline random
    sampling violates twice over: a random split is neither reproducible
    across reruns nor consistent for duplicated content (the classic
    train/test leak). For near-duplicate leakage, pass ``key`` = the dup
    CLUSTER's fingerprint (e.g. the x71 connected-components label or a
    MinHash bucket id) so the whole cluster moves together.

    Assignment compares the fingerprint's first 8 hex digits against the
    :func:`split_bounds` literals — a plain string comparison both
    engines evaluate identically (the x65 strata-hex idiom; never
    hex→int conversions that differ per dialect).

    Scale: map-only — one codegen'd projection, no shuffle, no state;
    the split of 100 TB is decided at scan speed.
    """
    from pipeline_etl_website_visits_spark.operators.dedup import fingerprint

    lo, hi = split_bounds(train, val)
    fp = fingerprint(F.col(text_col)) if key is None else F.md5(key.cast("string"))
    prefix = F.substring(fp, 1, 8)
    return df.select(
        F.col(id_col),
        F.when(prefix < lo, F.lit("train"))
        .when(prefix < hi, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def oov_counts(
    df: DataFrame,
    vocab: "list[str]",
    text_col: str,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Vocabulary-coverage audit: per ``group_col``, total whitespace
    tokens and how many fall OUTSIDE ``vocab`` (the out-of-vocabulary
    mass a fixed tokenizer would map to <unk>). The pipeline gate before
    committing a tokenizer to a new corpus slice: a source whose OOV
    share jumps is mis-normalized, mis-languaged, or needs a vocab
    refresh.

    ``vocab`` is a driver-side list (tokenizer vocabularies are ~50k
    entries — KBs against TB corpora) shipped as a plan literal: the
    scan stays MAP-ONLY (normalize → split → two array HOF counts per
    row, all codegen'd; no explode, no join), and the single exchange is
    the final groupBy on ``group_col``. Counts only — BIGINTs, exact
    across engines; rates are the caller's division.
    """
    from pipeline_etl_website_visits_spark.operators.dedup import normalize_text

    if not vocab:
        # zero-arg F.array() fails analysis with an opaque type error;
        # an empty vocab is a caller bug (every token would be OOV)
        raise ValueError("oov_counts needs a non-empty vocab")
    if len(vocab) > 200_000:
        raise ValueError(
            f"vocab has {len(vocab)} entries; the plan-literal contract is "
            f"a tokenizer-sized vocabulary (<=200k) — store bigger sets as "
            f"a table and broadcast-join instead"
        )
    lit_vocab = F.array(*[F.lit(v) for v in sorted(set(vocab))])
    toks = F.split(normalize_text(F.col(text_col)), " ")
    return (
        df.select(
            F.col(group_col),
            F.size(toks).cast("long").alias("n_toks"),
            F.size(
                F.filter(toks, lambda t: ~F.array_contains(lit_vocab, t))
            ).cast("long").alias("n_oov"),
        )
        .groupBy(group_col)
        .agg(
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("n_oov").cast("long").alias("n_oov"),
        )
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epochs: int = 2,
    n_buckets: int = 256,
    salt: str = "ep",
) -> DataFrame:
    """Deterministic multi-epoch reshuffle: for each epoch, every row gets
    a (bucket, pos_in_bucket) read position derived ONLY from
    ``md5(salt:epoch:id)`` — the training-data scheduling discipline
    where each epoch visits the corpus in a different but perfectly
    reproducible order (resume-safe, seed-auditable; a `rand()` shuffle
    is neither). Readers stream buckets in order and rows within a
    bucket by position — the standard two-level shuffle.

    Why two-level: a GLOBAL rank over 100 TB is a single-partition
    window (the x147 trap). The first 2 hex chars of the hash split the
    corpus into ``n_buckets`` groups (string comparison, engine-portable
    like the x65/x149 hex idioms), and ranking happens per
    (epoch, bucket) — epochs x n_buckets independent window partitions,
    each ~corpus/n_buckets rows, so the one shuffle this plan contains
    fans out across the cluster. Raise ``n_buckets`` with corpus size
    (hex prefix length 2 → 256, 3 → 4096, ...).

    Output: (epoch, ``id_col``, bucket, pos_in_bucket).
    """
    from pyspark.sql import Window

    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    if n_buckets not in (16, 256, 4096):
        raise ValueError(
            f"n_buckets must be a hex-prefix power (16, 256, 4096), got {n_buckets}"
        )
    prefix_len = {16: 1, 256: 2, 4096: 3}[n_buckets]
    ep = F.explode(F.array(*[F.lit(e) for e in range(epochs)])).alias("epoch")
    rows = df.select(F.col(id_col), ep)
    key = F.md5(
        F.concat_ws(":", F.lit(salt), F.col("epoch").cast("string"), F.col(id_col).cast("string"))
    )
    tagged = rows.select(
        F.col("epoch").cast("int").alias("epoch"),
        F.col(id_col),
        F.substring(key, 1, prefix_len).alias("bucket"),
        key.alias("__k"),
    )
    w = Window.partitionBy("epoch", "bucket").orderBy("__k")
    return tagged.select(
        "epoch", id_col, "bucket",
        F.row_number().over(w).cast("long").alias("pos_in_bucket"),
    )


def dup_gram_stats(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Per-document duplicate n-GRAM statistics — the Gopher repetition
    rule at gram granularity (``repetition_features`` covers the token
    level): (doc_id, n_grams, n_dup_grams), where a duplicate is any
    occurrence of a gram beyond its first. Boilerplate-heavy and
    template-generated text shows high dup-gram mass long before whole
    lines repeat; curation gates on the fraction
    ``n_dup_grams / n_grams`` (division left to the caller — counts are
    the exact, engine-portable form).

    No explode, no key shuffle: tokenize → gram array (sequence/transform
    HOFs) → two integer sizes per row, all in whole-stage codegen. The
    per-row gram construction is the dominant cost, so a single-split
    input (one parquet file scans as ONE task) is round-robin fanned out
    first — the shingles()/x140 discipline; at real scale inputs arrive
    in thousands of splits and the branch never fires. Documents shorter
    than ``n`` tokens have 0 grams.
    """
    src = df.select(F.col(id_col), F.col(text_col))
    sc = df.sparkSession.sparkContext
    try:
        few_splits = len(df.inputFiles()) < sc.defaultParallelism
    except Exception:  # non-file sources can't report splits
        few_splits = False
    if few_splits:
        # measured 10x at sf0.1: 8.2s single-task -> 0.84s warm
        src = src.repartition(sc.defaultParallelism)
    # tokens_of seam (r14): a pre-tokenized array<string> column (the
    # toktab artifact) serves directly; raw text normalizes inline
    toks = tokens_of(df, text_col)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    # grams as xxhash64 of the token TUPLE — no gram strings are ever
    # built (a further ~25% off the per-row cost), and hash-as-gram-
    # identity is this engine's standing dedup-family discipline
    # (save_gram_index stores xxhash64 grams; the x22 containment counts
    # distinct gram hashes and oracle-matches). A collision would
    # overcount duplicates by one — vanishingly unlikely and loudly
    # caught by the oracle if it ever happened in a real corpus.
    grams = F.transform(
        idx, lambda i: F.xxhash64(*[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return src.select(
        F.col(id_col),
        F.size(grams).cast("int").alias("n_grams"),
        (F.size(grams) - F.size(F.array_distinct(grams))).cast("int").alias("n_dup_grams"),
    )


def length_histogram(
    df: DataFrame, text_col: str, id_col: str, group_col: str
) -> DataFrame:
    """Token-length distribution per group in power-of-two buckets —
    the context-length planning diagnostic (what fraction of a source
    fits a 2k/8k/32k window; how much packing waste to expect):
    (group, len_bucket, n_docs, total_tokens) where
    ``len_bucket = floor(log2(n_tokens))`` and empty documents land in
    bucket -1.

    The bucket is computed INTEGER-exactly as ``length(bin(n)) - 1``
    (both engines' ``bin`` renders the minimal binary string) — never
    float ``log2``, whose representation at bucket boundaries is not
    cross-engine stable (the integer-quantized-ln discipline). Map-only
    projection + ONE exchange for the rollup.
    """
    n_tok = token_count(F.col(text_col))
    bucket = F.when(n_tok <= 0, F.lit(-1)).otherwise(
        (F.length(F.bin(n_tok.cast("long"))) - 1).cast("int")
    )
    return (
        df.select(
            F.col(group_col),
            n_tok.cast("long").alias("__n"),
            bucket.alias("len_bucket"),
        )
        .groupBy(group_col, "len_bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
        )
    )


def stratified_top_fraction(
    df: DataFrame,
    score: Column,
    group_col: str,
    id_col: str,
    keep_per_mille: int,
    method: str = "window",
) -> DataFrame:
    """Per-group dynamic quality gate: keep the top ``keep_per_mille``/1000
    of each group's rows ranked by ``score`` (descending, ``id_col`` as
    the deterministic tiebreak) — the FineWeb-style stratified filter
    where every source keeps its best X% instead of the corpus sharing
    one global threshold (a global cut silently drops whole low-scoring
    sources; per-source percentiles preserve the mixture).

    The cutoff is INTEGER arithmetic end to end: keep exactly
    ``k = count·keep_per_mille DIV 1000`` rows per group — no float
    ``percent_rank``/``count*frac`` whose rounding at the boundary row
    is not representation-stable across engines (the x130/x153
    discipline). Returns the kept rows with ``df``'s schema; both
    methods return the IDENTICAL set (equality-tested):

    * ``window`` — row_number + count over one ``group_col``
      partitioning: ONE exchange, the right default. Its scale ceiling:
      groups are few (20 sources), so each group sorts on ONE task.
    * ``histogram`` — the mega-group two-pass for LOW-CARDINALITY
      scores (quality scores, token counts): a map-side-combinable
      (group, score) histogram, a per-group cumulative walk over that
      TINY relation to find each group's threshold score (full-keep
      scores above it, a ``take`` quota at it), then a broadcast-join
      map filter back over the corpus — only the boundary-score rows
      (one score's worth per group) ever see a ranking window. The
      100 TB shape: no task ever sorts a whole group.
    """
    from pyspark.sql import Window

    if not 0 <= int(keep_per_mille) <= 1000:
        raise ValueError(f"keep_per_mille must be in [0, 1000], got {keep_per_mille}")
    if method not in ("window", "histogram"):
        raise ValueError(f"method must be window/histogram, got {method!r}")
    if method == "window":
        w = Window.partitionBy(group_col).orderBy(score.desc(), F.col(id_col))
        wc = Window.partitionBy(group_col)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            # row_number() is 32-bit: the *1000 must happen in LONG or a
            # group past ~2.1M rows silently wraps and keeps tail rows
            .withColumn("__cnt", F.count(F.lit(1)).over(wc))
            .filter(
                F.col("__rn").cast("long") * 1000
                <= F.col("__cnt") * int(keep_per_mille)
            )
            .drop("__rn", "__cnt")
        )

    scored = df.withColumn("__score", score)
    hist = scored.groupBy(group_col, "__score").agg(F.count("*").alias("__c"))
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(group_col)
    spec = (
        hist.withColumn("__cum", F.sum("__c").over(wcum))
        .withColumn("__tot", F.sum("__c").over(wtot))
        # integer DIV on helper columns only — the group column never gets
        # spliced into a SQL string (backtick-needing names stay fine)
        .withColumn("__k", F.expr(f"__tot * {int(keep_per_mille)} DIV 1000"))
        .withColumn("__prev", F.col("__cum") - F.col("__c"))
        .filter(F.col("__prev") < F.col("__k"))  # fully-dropped scores never join
        .select(
            F.col(group_col).alias("__g"),
            F.col("__score").alias("__s"),
            (F.col("__cum") <= F.col("__k")).alias("__full"),
            F.least(F.col("__c"), F.col("__k") - F.col("__prev")).alias("__take"),
        )
    )
    # NULL-SAFE join keys: groupBy and window partitioning both treat a
    # NULL score (or group) as a regular key, and desc ordering puts the
    # NULL-score bucket last in BOTH formulations — a plain equi-join
    # would silently drop those rows here, breaking method equality
    joined = scored.join(
        F.broadcast(spec),
        scored[group_col].eqNullSafe(F.col("__g"))
        & scored["__score"].eqNullSafe(F.col("__s")),
        "inner",
    ).drop("__g", "__s")
    full = joined.filter(F.col("__full"))
    wb = Window.partitionBy(group_col, "__score").orderBy(F.col(id_col))
    boundary = (
        joined.filter(~F.col("__full"))
        .withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= F.col("__take"))
        .drop("__rn")
    )
    return full.unionByName(boundary).drop("__score", "__full", "__take")


def gram_diversity(
    df: DataFrame, text_col: str, id_col: str, group_col: str, n: int = 3
) -> DataFrame:
    """Corpus-level n-gram diversity per group — the synthetic-data /
    mode-collapse audit: (group, n_gram_instances, n_distinct_grams,
    ttr_permille) where ``ttr_permille`` is the gram type-token ratio in
    integer per-mille (distinct·1000 DIV instances). A source whose TTR
    collapses relative to its peers is template-generated, over-deduped
    upstream, or a model looping on itself — checked BEFORE a mixture
    admits it. Counts are exact integers (division quantized DIV, the
    engine-portability discipline); per-DOC repetition is x152's
    dup_gram_stats — this is the ACROSS-doc complement.

    Shape: gram identity is xxhash64 of the token tuple (the dedup-family
    discipline — no gram strings built). NOT the x58/x59 single-exchange
    fold: ``group_col`` is LOW-cardinality (sources), so pre-partitioning
    by it would funnel each source's whole tokenize+explode onto one
    task. Instead the heavy map runs at scan parallelism (with the
    single-split fan-out for toy inputs), and what EXPLODES is only each
    doc's DISTINCT-gram array — position 0 carries the doc's full
    instance count, so instances are recovered exactly without shipping
    every repeat (strictly less shuffle on repetitive corpora; A/B'd
    equal at sf0.1 where repetition is low). The dedup rollup exchanges
    on high-cardinality (group, gram); the final (group) exchange is
    tiny after map-side partial aggregation.
    """
    src = df.select(F.col(group_col), F.col(text_col))
    sc = df.sparkSession.sparkContext
    try:
        few_splits = len(df.inputFiles()) < sc.defaultParallelism
    except Exception:  # non-file sources can't report splits
        few_splits = False
    if few_splits:
        src = src.repartition(sc.defaultParallelism)
    toks = tokens_of(df, text_col)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.xxhash64(*[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    pre = src.select(
        F.col(group_col),
        F.size(grams).alias("__n_g"),
        F.array_distinct(grams).alias("__dg"),
    )
    ex = pre.select(group_col, "__n_g", F.posexplode("__dg").alias("__pos", "g"))
    per_gram = ex.groupBy(group_col, "g").agg(
        F.sum(F.when(F.col("__pos") == 0, F.col("__n_g")).otherwise(F.lit(0))).alias(
            "__inst"
        )
    )
    return per_gram.groupBy(group_col).agg(
        F.sum("__inst").cast("long").alias("n_gram_instances"),
        F.count("*").cast("long").alias("n_distinct_grams"),
        F.when(
            F.sum("__inst") > 0,
            F.expr("CAST(count(1) AS BIGINT) * 1000 DIV sum(__inst)"),
        )
        .cast("long")
        .alias("ttr_permille"),
    )


def boilerplate_prefixes(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n: int = 3,
    min_docs: int = 2,
    top: int = 5,
) -> DataFrame:
    """Shared document-PREFIX detection per group — the boilerplate audit
    (scraped corpora repeat headers/templates at document START far more
    often than anywhere else): the ``top`` most-shared first-``n``-token
    prefixes per group that at least ``min_docs`` documents share, as
    (group, prefix, n_docs, rank). Curation either strips the matched
    prefix or caps the template's document count (quota_per_key).

    Documents shorter than ``n`` tokens have no prefix and are excluded.
    Shape: map-only prefix projection at scan parallelism (``group_col``
    is LOW-cardinality, so pre-partitioning by it would funnel each
    source's tokenization onto one task — not the x58/x59 fold); the
    count exchanges on high-cardinality (group, prefix); the per-group
    rank window re-exchanges only the ``n_docs >= min_docs`` survivors
    (tiny — shared prefixes are by definition far fewer than documents)
    and is partitioned by group with a (count DESC, prefix)
    deterministic order — never a global window. The prefix here IS the
    human-readable string (counts alone can't drive a strip rule), built
    only for the first ``n`` tokens per doc — O(n) per row, not the gram
    blow-up.
    """
    from pyspark.sql import Window

    toks = tokens_of(df, text_col)
    prefix = F.array_join(F.slice(toks, 1, n), " ")
    counted = (
        df.select(F.col(group_col), F.when(F.size(toks) >= n, prefix).alias("prefix"))
        .filter(F.col("prefix").isNotNull())
        .groupBy(group_col, "prefix")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("n_docs").desc(), F.col("prefix"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(top))
    )


def token_budget_mixture(
    df: DataFrame,
    text_col: str,
    group_col: str,
    weight_per_mille: "Column | dict[str, int]",
    budget_tokens: int,
    cap_per_mille: int = 4000,
) -> DataFrame:
    """Mixture PLANNING under a token budget — the allocation step before
    x51's sampling executes it: given each source's available tokens, a
    target mixture weight (per-mille of ``budget_tokens``) and a
    repetition cap (per-mille — 4000 = at most 4 epochs over a source,
    the data-constrained-scaling rule of thumb), compute per source how
    many tokens the mixture grants and how much of the target goes
    unmet (the signal to re-weight or go find more data).

    All arithmetic is integer (quantized DIV — the engine-portability
    discipline): ``target = budget·w DIV 1000``, ``ceiling =
    available·cap DIV 1000``, ``granted = least(target, ceiling)``,
    ``epochs_permille = granted·1000 DIV available``. ``weight_per_mille``
    is a Column expression over ``group_col`` (or a literal dict, turned
    into one) — a 5-row config, never a join.

    Scale: one exchange — the per-group token-count rollup (map-side
    partial sums); everything after operates on one row per source.
    """
    if isinstance(weight_per_mille, dict):
        w_expr = F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in weight_per_mille.items() for x in kv]
            )[F.col(group_col)],
            F.lit(0),
        )
    else:
        w_expr = weight_per_mille
    if not 0 <= int(budget_tokens) < 2**43:
        raise ValueError(f"budget_tokens out of range: {budget_tokens}")
    if int(cap_per_mille) < 0:
        raise ValueError(f"cap_per_mille must be >= 0, got {cap_per_mille}")
    avail = df.groupBy(group_col).agg(
        F.sum(token_count(F.col(text_col)).cast("long"))
        .cast("long")
        .alias("available_tokens"),
        # the weight expression is a pure function of the group key; MIN
        # is a no-op that lets it ride through the aggregate
        F.min(w_expr).cast("long").alias("__w"),
    )
    b, cap = int(budget_tokens), int(cap_per_mille)
    return avail.select(
        group_col,
        "available_tokens",
        F.expr(f"CAST({b} * __w DIV 1000 AS BIGINT)").alias("target_tokens"),
        F.expr(
            f"CAST(LEAST({b} * __w DIV 1000, available_tokens * {cap} DIV 1000) AS BIGINT)"
        ).alias("granted_tokens"),
        F.expr(
            f"CAST(CASE WHEN available_tokens = 0 THEN 0 ELSE "
            f"LEAST({b} * __w DIV 1000, available_tokens * {cap} DIV 1000) "
            f"* 1000 DIV available_tokens END AS BIGINT)"
        ).alias("epochs_permille"),
        F.expr(
            f"CAST({b} * __w DIV 1000 - "
            f"LEAST({b} * __w DIV 1000, available_tokens * {cap} DIV 1000) AS BIGINT)"
        ).alias("unmet_tokens"),
    )


def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document zlib compression ratio in integer per-mille — the
    Gopher-family quality signal n-gram metrics approximate from the
    other side: highly compressible text (ratio far below normal prose)
    is boilerplate/templates/repetition; incompressible text is often
    binary junk or already-encoded payloads mislabeled as text. Curation
    gates on both tails.

    Not SQL-expressible (no DEFLATE in an ANSI oracle) — certified by a
    direct zlib exactness test instead (level pinned to 6 so the ratio
    is deterministic for a given zlib build). Shape: Arrow-batched
    ``mapInPandas`` over the narrow (id, text) projection — map-only,
    no shuffle, the same grain as the multimodal codecs.

    Output: (id_col, raw_len, compressed_len, ratio_permille) with
    ratio_permille = compressed·1000 DIV raw (0 for empty text).
    """
    narrow = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    def comp(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw, cl = [], []
            for t in pdf["text"]:
                b = (t or "").encode("utf-8")
                raw.append(len(b))
                cl.append(len(zlib.compress(b, 6)) if b else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": raw,
                    "compressed_len": cl,
                    "ratio_permille": [
                        (c * 1000) // r if r else 0 for c, r in zip(cl, raw)
                    ],
                }
            )

    return narrow.mapInPandas(
        comp,
        schema="doc_id long, raw_len long, compressed_len long, ratio_permille long",
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict[str, str],
    k: int = 10,
    k1_milli: int = 1200,
    b_milli: int = 750,
    array_prefilter: bool = True,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """BM25 top-``k`` retrieval: score every document against a small set of
    query strings and return the best ``k`` docs per query — the lexical
    leg of a RAG / eval-retrieval stack (the dense leg is
    similarity.cosine_topk / vector_index.ivfpq_search).

    Integer-exact scoring (the x58 discipline, extended to BM25's
    length-normalized term weight): with N docs, TL total corpus tokens,
    dl the doc length and df_t the term's doc frequency,

        idf_micro = floor(ln(2(N+1) / (2*df_t+1)) * 1e6)          -- one ln()
        num  = tf * (1000 + k1_milli) * 1000 * TL                 -- DECIMAL(38,0)
        den  = 1_000_000*TL*tf + k1_milli*(1000-b_milli)*TL
               + k1_milli*b_milli*dl*N                            -- DECIMAL(38,0)
        contrib_micro = floor(idf_micro * num / den)              -- one fp divide
        score_micro   = sum(contrib_micro)                        -- exact int64

    num/den is the classic (k1+1)·tf / (tf + k1(1−b+b·dl/avgdl)) multiplied
    through by 1000·TL so both sides are integers; the only float ops are
    the per-term ln() and one multiply-divide, evaluated with the same
    operand order in Spark and the SQL oracle, so ranking ties (and the
    hash gate) are deterministic. Magnitudes: num/den are exact DECIMAL(38,0)
    integers — int64 would silently wrap once tf·TL passes ~4.2e12 (a
    few-TB token corpus, well under the 100 TB design point), so both
    products stay in decimal until the single double divide. The decimal→
    double and int64→double casts of the same integer produce the same
    double (round-to-nearest both engines), so the oracle's BIGINT
    arithmetic agrees bit-for-bit wherever IT is exact; contrib itself is
    bounded (num/den ≤ (1000+k1_milli)/1000, idf_micro ≲ 3e7) so the final
    floor never loses integer precision.

    Scale shape: the query-term table is tiny and BROADCAST — the token
    stream filters map-side before the single (doc, term) aggregation
    shuffle, so corpus cost is O(matched tokens), not O(all tokens); df_t
    and the per-query ranking are windows over that already-small matched
    relation. Corpus stats (N, TL) are a 1-row broadcast cross join, never
    a driver collect; a serving deployment passes ``corpus_stats=(n_docs,
    total_tokens)`` — a corpus-level constant computed once, like a stored
    index's codebook — which removes the second corpus scan entirely (the
    certified x163 sources them from a per-fingerprint cache; the values
    are identical to the in-query fold, so the oracle applies unchanged).
    """
    from pyspark.sql import Window

    if not queries:
        raise ValueError("queries must be a non-empty {query_id: text} dict")

    spark = df.sparkSession

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("toks"),
    )
    # one pass computes dl AND the token stream; stats fold from the dl relation
    with_dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"), "toks")

    # Pre-filter the token ARRAY to query terms before exploding: only
    # matched tokens ever become rows, so the explode output is O(matched)
    # instead of O(all tokens) — at 100 TB that's the difference between
    # shuffling the query hits and materializing the whole token stream.
    # The literal isin set requires Python tokenization to agree with the
    # JVM's: split on exactly Java \s ([ \t\n\x0b\f\r] — Python str.split
    # also breaks on \x1c-\x1f and Unicode spaces, which would DROP terms
    # the broadcast-join path finds), and lower() parity holds for ASCII,
    # so non-ASCII query terms fall back to explode + broadcast-join. On
    # the literal path the (term → query ids) attachment is a map-literal
    # lookup + explode instead of a broadcast join: every broadcast build
    # is a whole scheduled Spark job per call (r15), and the queries dict
    # is a driver-side literal by signature.
    import re as _re

    def _py_terms(q: str) -> "set[str]":
        return {t for t in _re.split(r"[ \t\n\x0b\f\r]+", q.strip(" ").lower()) if t}

    flat_terms = sorted({t for q in queries.values() for t in _py_terms(q)})
    literal_path = bool(
        array_prefilter and flat_terms and all(t.isascii() for t in flat_terms)
    )
    if literal_path:
        kept = F.filter(F.col("toks"), lambda t: t.isin(*flat_terms))
        matched = with_dl.select("doc_id", "dl", F.explode(kept).alias("term"))
    else:
        qdf = spark.createDataFrame(
            [(qid, qtext) for qid, qtext in sorted(queries.items())],
            "query_id string, qtext string",
        )
        qterms = (
            qdf.select(
                "query_id",
                F.explode(F.split(normalize_text(F.col("qtext")), " ")).alias("term"),
            )
            .where(F.col("term") != "")
            .distinct()
        )
        pairs = with_dl.select("doc_id", "dl", F.explode("toks").alias("term"))
        matched = pairs.join(F.broadcast(qterms.select("term").distinct()), "term")
    tf = matched.groupBy("doc_id", "dl", "term").agg(F.count("*").cast("long").alias("tf"))
    w_term = Window.partitionBy("term")
    with_df = tf.withColumn("df_t", F.count("*").over(w_term).cast("long"))

    if corpus_stats is not None:
        # corpus-level constants supplied by the caller: inline them as
        # LITERALS — the former 1-row broadcast cross join paid a whole
        # broadcast-build job per call for two scalars (r15; values are
        # identical, the literals enter the same expressions)
        n_docs_v, total_len_v = int(corpus_stats[0]), int(corpus_stats[1])
        scored_base = with_df.withColumns(
            {
                "n_docs": F.lit(n_docs_v).cast("long"),
                "total_len": F.lit(total_len_v).cast("long"),
            }
        )
    else:
        stats = with_dl.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_len"),
        )
        scored_base = with_df.crossJoin(F.broadcast(stats))

    scored_terms = (
        scored_base
        .withColumn(
            "idf_micro",
            F.floor(
                F.log(
                    F.lit(2.0)
                    * (F.col("n_docs") + F.lit(1)).cast("double")
                    / (F.lit(2) * F.col("df_t") + F.lit(1)).cast("double")
                )
                * F.lit(1000000.0)
            ).cast("long"),
        )
        # num/den in DECIMAL: int64 wraps silently (ANSI off) once
        # tf*total_len > ~4.2e12 — a few-TB token corpus. decimal(20,0)
        # operands keep every product exact to 38 digits (~1e38, far past
        # 100 TB) and cast to the same double int64 would have.
        .withColumn(
            "num",
            F.col("tf").cast("decimal(20,0)")
            * F.lit(1000 + k1_milli)
            * F.lit(1000)
            * F.col("total_len").cast("decimal(20,0)"),
        )
        .withColumn(
            "den",
            F.lit(1000000) * F.col("total_len").cast("decimal(20,0)") * F.col("tf").cast("decimal(20,0)")
            + F.lit(k1_milli * (1000 - b_milli)) * F.col("total_len").cast("decimal(20,0)")
            + F.lit(k1_milli * b_milli) * F.col("dl").cast("decimal(20,0)") * F.col("n_docs").cast("decimal(20,0)"),
        )
        .withColumn(
            "contrib_micro",
            F.floor(
                F.col("idf_micro").cast("double")
                * F.col("num").cast("double")
                / F.col("den").cast("double")
            ).cast("long"),
        )
    )

    if literal_path:
        # attach query ids with a map-literal lookup (term → array of
        # query ids) + explode: value-identical to the inner broadcast
        # join (a term in no query yields NULL → explode emits nothing),
        # with zero broadcast build — same Python/JVM tokenization-parity
        # guard as the array prefilter above
        qmap: dict[str, list[str]] = {}
        for qid, q in sorted(queries.items()):
            for t in _py_terms(q):
                qmap.setdefault(t, []).append(qid)
        term_qids = F.create_map(
            *[
                e
                for t in sorted(qmap)
                for e in (F.lit(t), F.array(*[F.lit(q) for q in sorted(qmap[t])]))
            ]
        )
        attached = scored_terms.withColumn(
            "query_id", F.explode(term_qids[F.col("term")])
        )
    else:
        attached = scored_terms.join(F.broadcast(qterms), "term")
    per_doc = attached.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_micro").cast("long").alias("score_micro"),
        F.count("*").cast("long").alias("n_terms_matched"),
    )
    from pipeline_etl_website_visits_spark.operators.similarity import bounded_sorted

    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return bounded_sorted(
        per_doc.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_micro", "n_terms_matched", "rank"),
        "query_id",
        "rank",
    )


def dsir_scores(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    portable_hash: bool = False,
) -> DataFrame:
    """DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus doc by
    the log-likelihood ratio of its hashed-bigram features under the
    TARGET domain's profile vs the RAW corpus profile — the standard
    cheap proxy for "how much does this doc look like the domain I want
    more of". Selection is then a top-fraction (or Gumbel-resampled) cut
    on ``score_micro``.

    Integer-exact: bigrams hash into ``buckets`` via xxhash64 (JVM-fast
    default) or the portable md5-u48 idiom (``portable_hash=True`` — what
    the x166 SQL oracle replicates; the winnowing-fingerprints precedent);
    either hash gives a valid DSIR feature space, both profiles are exact
    counts; the per-bucket weight is ONE ln() over an exact integer
    rational (DECIMAL(38,0) cross-products — int64 would wrap at
    count·total ~ 9.2e18) with add-one smoothing,

        w_micro[b] = floor(ln( (t_cnt+1)·(R+B) / ((r_cnt+1)·(T+B)) ) · 1e6)

    and a doc's score is the exact integer sum of w_micro over its bigram
    OCCURRENCES (computed as sum(c·w) over the compacted (doc, bucket)
    counts — identical by distributivity). Scale shape: ONE corpus
    tokenize+hash pass, compacted immediately to (doc, bucket, count)
    with map-side combine; the profile, its total, and the final scoring
    all fold from that relation, and both ≤``buckets``-row profiles
    BROADCAST — no corpus-sized join. Output: (doc_id, n_bigrams,
    score_micro), docs with <2 tokens omitted (no bigram evidence).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")

    def bucketed(df: DataFrame) -> DataFrame:
        return _dsir_bucketed(df, text_col, id_col, buckets, portable_hash)

    # ONE corpus pass: compact the occurrence stream to (doc, bucket,
    # count) immediately (map-side combined), then derive the corpus
    # profile AND its total as second-stage folds of that relation —
    # the naive form fed three consumers from the raw stream and paid
    # the tokenize+hash pass three times. A/B at sf1 (min-of-3): md5
    # path 9.7s vs 14.3s (the certificate path wins outright); xxhash64
    # path 8.2s vs 7.4s (cheap hashing made the extra passes cheaper
    # than this form's (doc,b) exchange on the synthetic corpus, whose
    # tiny vocabulary compacts poorly — a real Zipfian corpus compacts
    # ~tokens/doc-to-distinct-buckets and flips that). One structure,
    # honestly accounted.
    corpus_docb = bucketed(corpus).groupBy("doc_id", "b").agg(
        F.count("*").cast("long").alias("c")
    )
    tprof = bucketed(target).groupBy("b").agg(
        F.count("*").cast("long").alias("t_cnt")
    )
    return dsir_scores_from_counts(corpus_docb, tprof, buckets=buckets)


def dsir_scores_from_counts(
    corpus_docb: DataFrame,
    target_prof: DataFrame,
    buckets: int = 1024,
) -> DataFrame:
    """DSIR scoring from PRE-COMPACTED counts — the kernel behind
    :func:`dsir_scores`, exposed so a stored compacted-counts artifact
    (queries/llmops.py:shared_doc_bigrams → bucket fold) can feed it
    without re-paying the corpus tokenize+hash pass (VERDICT r13 item 4).

    ``corpus_docb``: (doc_id, b, c) — per-doc hashed-bigram bucket
    occurrence counts; ``target_prof``: (b, t_cnt) — the target domain's
    bucket occurrence profile. Arithmetic, smoothing and quantization are
    exactly :func:`dsir_scores`'s (the corpus profile, both totals and
    the weights all fold from these relations), so feeding counts derived
    by the same hash yields bit-identical scores."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    rprof = corpus_docb.groupBy("b").agg(F.sum("c").cast("long").alias("r_cnt"))
    rstat = rprof.agg(F.sum("r_cnt").cast("long").alias("rr"))
    tprof = target_prof
    tstat = tprof.agg(F.sum("t_cnt").cast("long").alias("tt"))

    weights = (
        rprof.join(tprof, "b", "left")
        .na.fill({"t_cnt": 0})
        .crossJoin(F.broadcast(tstat))
        .crossJoin(F.broadcast(rstat))
        .select(
            "b",
            # the (count+1)*(total+B) cross-products go through
            # DECIMAL(38,0): int64 wraps once either side passes ~9.2e18
            # (counts * corpus totals get there well under 100 TB); the
            # decimal→double cast of the same integer is the same double
            # the oracle's BIGINT arithmetic produces where IT is exact
            F.floor(
                F.log(
                    (
                        (F.col("t_cnt") + F.lit(1)).cast("decimal(19,0)")
                        * (F.col("rr") + F.lit(buckets)).cast("decimal(19,0)")
                    ).cast("double")
                    / (
                        (F.col("r_cnt") + F.lit(1)).cast("decimal(19,0)")
                        * (F.col("tt") + F.lit(buckets)).cast("decimal(19,0)")
                    ).cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("w_micro"),
        )
    )

    # no final orderBy (the x82 discipline, r15): determinism-only
    # corpus-sized global sort = a range exchange + its sampling job
    return (
        corpus_docb.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("w_micro")).cast("long").alias("score_micro"),
        )
    )


# One-slot registry for within-query .cache()-ed folds (ADVICE r14 cache
# lifecycle): the NEXT call under the same slot unpersists the PREVIOUS
# call's cached relation, so a long-lived session calling a caching
# operator repeatedly holds at most ONE cached fold per slot instead of
# accumulating corpus-sized relations forever. Unpersist is always
# value-safe (a consumer of the evicted relation just recomputes); the
# bench/gate harness additionally clears caches between queries.
_CACHE_SLOTS: dict[str, DataFrame] = {}


def scoped_cache(df: DataFrame, slot: str) -> DataFrame:
    """``df.cache()`` with a bounded lifecycle: evicts the relation the
    previous call cached under ``slot``. Callers wanting zero residue
    still ``spark.catalog.clearCache()`` (or unpersist the returned
    DataFrame) after their final action."""
    prev = _CACHE_SLOTS.get(slot)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # previous session may be stopped — nothing left to free
    out = df.cache()
    _CACHE_SLOTS[slot] = out
    return out


def dsir_scores_from_marked_counts(
    docb: DataFrame,
    buckets: int = 1024,
) -> DataFrame:
    """DSIR scoring when the TARGET domain is a marked SUBSET of the corpus
    (x166's setup: target = the corpus's ``src0`` rows) — the one-scan form
    of :func:`dsir_scores_from_counts`.

    ``docb``: (doc_id, b, c, t_c) per-doc bucket counts where ``t_c == c``
    for target-domain docs and ``0`` otherwise. Both profiles, both totals
    and the weights all fold from ONE (doc_id, b) compaction: the target
    profile is the conditional sum ``sum(t_c)`` per bucket — value-identical
    to the separate-profile left-join + COALESCE(t_cnt, 0) (a bucket with no
    target rows sums to 0), and the weight/score arithmetic is verbatim
    :func:`dsir_scores_from_counts`'s, so scores are bit-identical. The
    separate-relation kernel stays for disjoint-target deployments.

    Plan shape: the (doc_id, b) exchange is built once and REUSED by the
    bucket-profile fold and the final scoring join (ReusedExchange), and the
    totals fold reuses the bucket-profile exchange — one corpus-sized scan,
    one corpus-sized shuffle, two ≤``buckets``-row shuffles, one broadcast.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    # The profile fold and the scoring join consume base with DIFFERENT
    # column sets, so exchange reuse can never canonicalize (the
    # ngram_novelty finding) — cache the compaction so the corpus-sized
    # scan+fold runs once and all three consumers read the materialized
    # (doc,b) relation. Orders smaller than the corpus (tokens/doc →
    # distinct buckets ≤ 1024/doc); scoped_cache bounds a long-lived
    # session to one cached fold (ADVICE r14 cache lifecycle).
    base = scoped_cache(
        docb.groupBy("doc_id", "b").agg(
            F.sum("c").cast("long").alias("c"),
            F.sum("t_c").cast("long").alias("t_c"),
        ),
        "dsir_marked_base",
    )
    bstats = base.groupBy("b").agg(
        F.sum("c").cast("long").alias("r_cnt"),
        F.sum("t_c").cast("long").alias("t_cnt"),
    )
    totals = bstats.agg(
        F.sum("r_cnt").cast("long").alias("rr"),
        F.sum("t_cnt").cast("long").alias("tt"),
    )
    weights = bstats.crossJoin(F.broadcast(totals)).select(
        "b",
        # identical decimal(19,0) rational + single ln as dsir_scores_from_counts
        F.floor(
            F.log(
                (
                    (F.col("t_cnt") + F.lit(1)).cast("decimal(19,0)")
                    * (F.col("rr") + F.lit(buckets)).cast("decimal(19,0)")
                ).cast("double")
                / (
                    (F.col("r_cnt") + F.lit(1)).cast("decimal(19,0)")
                    * (F.col("tt") + F.lit(buckets)).cast("decimal(19,0)")
                ).cast("double")
            )
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("w_micro"),
    )
    # no final orderBy (the x82 discipline, r15): determinism-only
    # corpus-sized global sort = a range exchange + its sampling job
    return (
        base.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("w_micro")).cast("long").alias("score_micro"),
        )
    )


def dsir_bucket_of(gram: Column, buckets: int, portable_hash: bool) -> Column:
    """The DSIR feature-bucket expression for a bigram string — md5-u48
    (portable certificate family) or xxhash64 (JVM-fast default). Module-
    level so the stored compacted-bigram artifact path can bucket
    ``concat_ws(' ', w1, w2)`` with the EXACT same expression the inline
    ``_dsir_bucketed`` stream uses (hash identity is what makes the
    artifact cutover bit-exact)."""
    if portable_hash:
        return F.conv(F.substring(F.md5(gram.cast("binary")), 1, 12), 16, 10).cast(
            "long"
        ) % F.lit(buckets)
    return F.pmod(F.xxhash64(gram), F.lit(buckets)).cast("long")


def _dsir_bucketed(
    df: DataFrame, text_col: str, id_col: str, buckets: int, portable_hash: bool
) -> DataFrame:
    """(doc_id, b) hashed-bigram occurrence stream shared by the inline
    and stored-profile DSIR paths. ``id_col`` may name a missing column
    for profile building (targets need no ids) — a literal stands in."""

    def bucket_of(gram: Column) -> Column:
        return dsir_bucket_of(gram, buckets, portable_hash)

    t = F.col("__t")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    id_expr = F.col(id_col) if id_col in df.columns else F.lit(0)
    return (
        df.select(
            id_expr.alias("doc_id"),
            F.split(normalize_text(F.col(text_col)), " ").alias("__t"),
        )
        .where(F.size("__t") >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
        .select("doc_id", bucket_of(F.col("gram")).alias("b"))
    )


def save_dsir_profile(
    target: DataFrame,
    path: str,
    text_col: str = "text",
    buckets: int = 1024,
    portable_hash: bool = False,
) -> None:
    """Persist a DSIR target-domain profile as a self-describing parquet
    artifact — the train-once half of the importance-resampling recipe
    (the IVF-PQ-codebook discipline applied to domain selection: the
    profile is computed from the target sample ONCE and every future
    corpus scores against it without rescanning the target).

    Schema: one row per non-empty bucket (b, t_cnt) plus the constants
    (tt, buckets, portable) denormalized onto every row, so the artifact
    carries its own hash/bucket contract and a reader can't silently
    score with mismatched parameters.
    """
    prof = _dsir_bucketed(target, text_col, "__ignored", buckets, portable_hash).groupBy(
        "b"
    ).agg(F.count("*").cast("long").alias("t_cnt"))
    (
        prof.crossJoin(
            F.broadcast(prof.agg(F.sum("t_cnt").cast("long").alias("tt")))
        )
        .withColumn("buckets", F.lit(int(buckets)).cast("long"))
        .withColumn("portable", F.lit(bool(portable_hash)))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def dsir_scores_vs_profile(
    corpus: DataFrame,
    profile_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a corpus against a STORED DSIR profile
    (:func:`save_dsir_profile`) — bit-identical to
    :func:`dsir_scores` with the original target (golden-tested), but
    the target sample is never rescanned. Bucket count and hash kind
    come from the artifact itself."""
    spark = corpus.sparkSession
    # explicit schema: skip the per-call parquet schema-inference job (the
    # artifact's layout is save_dsir_profile's API contract)
    prof = spark.read.schema(
        "b long, t_cnt long, tt long, buckets long, portable boolean"
    ).parquet(profile_path)
    meta = prof.select("tt", "buckets", "portable").limit(1).collect()
    if not meta:
        raise ValueError(f"empty DSIR profile at {profile_path}")
    tt, buckets, portable = int(meta[0]["tt"]), int(meta[0]["buckets"]), bool(meta[0]["portable"])

    corpus_docb = _dsir_bucketed(corpus, text_col, id_col, buckets, portable).groupBy(
        "doc_id", "b"
    ).agg(F.count("*").cast("long").alias("c"))
    rprof = corpus_docb.groupBy("b").agg(F.sum("c").cast("long").alias("r_cnt"))
    rstat = rprof.agg(F.sum("r_cnt").cast("long").alias("rr"))
    weights = (
        rprof.join(F.broadcast(prof.select("b", "t_cnt")), "b", "left")
        .na.fill({"t_cnt": 0})
        .crossJoin(F.broadcast(rstat))
        .select(
            "b",
            # DECIMAL(38,0) cross-products — same overflow rationale as
            # dsir_scores
            F.floor(
                F.log(
                    (
                        (F.col("t_cnt") + F.lit(1)).cast("decimal(19,0)")
                        * (F.col("rr") + F.lit(buckets)).cast("decimal(19,0)")
                    ).cast("double")
                    / (
                        (F.col("r_cnt") + F.lit(1)).cast("decimal(19,0)")
                        * (F.lit(tt) + F.lit(buckets)).cast("decimal(19,0)")
                    ).cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("w_micro"),
        )
    )
    # no final orderBy (the x82 discipline, r15) — see dsir_scores_from_counts
    return (
        corpus_docb.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("w_micro")).cast("long").alias("score_micro"),
        )
    )


def save_dsir_weights(
    target: DataFrame,
    reference: DataFrame,
    path: str,
    text_col: str = "text",
    buckets: int = 1024,
    portable_hash: bool = False,
) -> None:
    """Persist FIXED per-bucket DSIR weights trained offline from a target
    sample against a reference (raw) corpus — exactly the weights
    :func:`dsir_scores` derives when scoring ``reference`` against
    ``target``. With weights frozen, scoring any future document is a
    pure map (hash its bigrams, sum the looked-up weights): no profile
    computation, which is what a streaming ingest gate needs. Buckets
    absent from the reference get the add-one-smoothed weight they'd
    have had at r_cnt=0, so unseen grams are still scored.
    """
    tprof = _dsir_bucketed(target, text_col, "__none", buckets, portable_hash).groupBy(
        "b"
    ).agg(F.count("*").cast("long").alias("t_cnt"))
    rprof = _dsir_bucketed(reference, text_col, "__none", buckets, portable_hash).groupBy(
        "b"
    ).agg(F.count("*").cast("long").alias("r_cnt"))
    tstat = tprof.agg(F.sum("t_cnt").cast("long").alias("tt"))
    rstat = rprof.agg(F.sum("r_cnt").cast("long").alias("rr"))
    spark = target.sparkSession
    grid = spark.range(0, buckets).select(F.col("id").cast("long").alias("b"))
    weights = (
        grid.join(tprof, "b", "left")
        .join(rprof, "b", "left")
        .na.fill({"t_cnt": 0, "r_cnt": 0})
        .crossJoin(F.broadcast(tstat))
        .crossJoin(F.broadcast(rstat))
        .select(
            "b",
            # DECIMAL(38,0) cross-products — same overflow rationale as
            # dsir_scores
            F.floor(
                F.log(
                    (
                        (F.col("t_cnt") + F.lit(1)).cast("decimal(19,0)")
                        * (F.col("rr") + F.lit(buckets)).cast("decimal(19,0)")
                    ).cast("double")
                    / (
                        (F.col("r_cnt") + F.lit(1)).cast("decimal(19,0)")
                        * (F.col("tt") + F.lit(buckets)).cast("decimal(19,0)")
                    ).cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("w_micro"),
            F.lit(int(buckets)).cast("long").alias("buckets"),
            F.lit(bool(portable_hash)).alias("portable"),
        )
    )
    weights.coalesce(1).write.mode("overwrite").parquet(path)


def dsir_scores_vs_weights(
    corpus: DataFrame,
    weights_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against FROZEN DSIR weights
    (:func:`save_dsir_weights`): one hash pass, one broadcast lookup,
    one per-doc aggregation — no profile computation at all, the
    streaming-safe form. Output matches :func:`dsir_scores`'s schema."""
    spark = corpus.sparkSession
    # explicit schema: skip the per-call parquet schema-inference job (the
    # artifact's layout is save_dsir_weights' API contract)
    w = spark.read.schema(
        "b long, w_micro long, buckets long, portable boolean"
    ).parquet(weights_path)
    meta = w.select("buckets", "portable").limit(1).collect()
    if not meta:
        raise ValueError(f"empty DSIR weights at {weights_path}")
    buckets, portable = int(meta[0]["buckets"]), bool(meta[0]["portable"])
    docb = _dsir_bucketed(corpus, text_col, id_col, buckets, portable).groupBy(
        "doc_id", "b"
    ).agg(F.count("*").cast("long").alias("c"))
    # no final orderBy (the x82 discipline, r15) — see dsir_scores_from_counts
    return (
        docb.join(F.broadcast(w.select("b", "w_micro")), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("w_micro")).cast("long").alias("score_micro"),
        )
    )


def save_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    tok_buckets: int = 64,
) -> None:
    """Build a STORED BM25 inverted index — the Lucene shape on Spark:
    a postings table (token, doc_id, tf, dl) written
    ``partitionBy(tok_bucket)`` where ``tok_bucket = pmod(xxhash64(token),
    tok_buckets)``, so serving a query reads ONLY its terms' partitions
    (all postings for a token live in exactly one bucket — df counts
    from the pruned read are the true document frequencies). Corpus
    stats (n_docs, total_len, tok_buckets) land in a ``_stats`` sidecar.
    At 100 TB the postings table is the big side and serving cost is
    O(postings of the query terms), never a corpus scan.
    """
    with_dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("__t"),
    ).select("doc_id", F.size("__t").cast("long").alias("dl"), "__t")
    toks = with_dl.select("doc_id", "dl", F.explode("__t").alias("token")).where(
        F.col("token") != ""
    )
    postings = (
        toks.groupBy("doc_id", "dl", "token")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn("tok_bucket", F.pmod(F.xxhash64("token"), F.lit(tok_buckets)).cast("int"))
    )
    # cluster each bucket into ONE writer task (a naive partitionBy write
    # fans every task across every bucket dir: tasks x buckets small
    # files — at 100 TB a listing/IO disaster, at bench scale ~0.4 s of
    # per-query footer reads), and sort postings by token inside the file
    # so the serve-time token filter prunes row groups via min/max stats
    (
        postings.repartition(tok_buckets, "tok_bucket")
        .sortWithinPartitions("token", "doc_id")
        .write.mode("overwrite")
        .partitionBy("tok_bucket")
        .parquet(path)
    )
    # Stats fold from the PRE-explode, PRE-filter relation — exactly the
    # relation bm25_topk derives (n_docs, total_len) from: every doc counts
    # (an empty/whitespace-only text still splits to [''], dl=1), so the
    # "bit-identical to scoring the corpus" serving contract holds on
    # corpora containing degenerate docs too.
    stats = with_dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    ).withColumn("tok_buckets", F.lit(int(tok_buckets)).cast("long"))
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/_stats")


def _bm25_index_stats(spark, path: str) -> tuple[int, int, int]:
    """The index's 1-row ``_stats`` sidecar, read once per index
    incarnation like a FAISS handle caches its header (the serving hot
    path was paying ~0.4 s of job overhead per query batch for it)."""
    t = artifacts.small_table(spark, f"{path}/_stats", "bm25_stats")
    if not t:
        raise ValueError(f"BM25 index at {path} has an empty _stats sidecar")
    return (int(t[0]["n_docs"]), int(t[0]["total_len"]), int(t[0]["tok_buckets"]))


def bm25_index_topk(
    spark: SparkSession,
    path: str,
    queries: dict[str, str],
    k: int = 10,
    k1_milli: int = 1200,
    b_milli: int = 750,
) -> DataFrame:
    """Serve BM25 top-``k`` from a STORED index (:func:`save_bm25_index`):
    the query terms' buckets are resolved on the DRIVER (the tested
    pure-Python twin of the writer's xxhash64 — zero Spark jobs; JVM
    fallback for non-ASCII terms), the corpus stats come from the
    memoized sidecar, the postings scan is PARTITION-PRUNED to those
    buckets plus a pushed token filter, and scoring is the exact integer
    scheme of :func:`bm25_topk` — output is bit-identical to scoring the
    original corpus (x172's oracle is x163's, verbatim). Corpus cost at
    serve time: zero; driver cost: O(query terms).
    """
    from pyspark.sql import Window

    if not queries:
        raise ValueError("queries must be a non-empty {query_id: text} dict")
    n_docs, total_len, tok_buckets = _bm25_index_stats(spark, path)

    # resolve term buckets with the SAME hash the writer used — on the
    # DRIVER, zero Spark jobs (functions.xxhash64_long is the tested
    # pure-Python twin of the JVM xxhash64; Python % == Spark pmod for a
    # positive modulus). Requires Python tokenization parity with
    # normalize_text — the bm25_topk prefilter regex + ASCII lower — so
    # non-ASCII query terms keep the JVM resolution path (and the
    # broadcast-join query attachment below).
    import re as _re

    def _py_terms(q: str) -> "set[str]":
        return {t for t in _re.split(r"[ \t\n\x0b\f\r]+", q.strip(" ").lower()) if t}

    py_terms = sorted({t for q in queries.values() for t in _py_terms(q)})
    literal_path = bool(py_terms and all(t.isascii() for t in py_terms))
    if literal_path:
        terms = py_terms
        bucket_list = sorted({xxhash64_long(t) % tok_buckets for t in terms})
        qterms = None
    else:
        qdf = spark.createDataFrame(
            [(qid, qtext) for qid, qtext in sorted(queries.items())],
            "query_id string, qtext string",
        )
        qterms = (
            qdf.select(
                "query_id",
                F.explode(F.split(normalize_text(F.col("qtext")), " ")).alias("term"),
            )
            .where(F.col("term") != "")
            .distinct()
        )
        term_rows = (
            qterms.select("term")
            .distinct()
            .withColumn("tok_bucket", F.pmod(F.xxhash64("term"), F.lit(tok_buckets)).cast("int"))
            .collect()
        )
        terms = [r["term"] for r in term_rows]
        bucket_list = sorted({r["tok_bucket"] for r in term_rows})

    # scope the read to the probed bucket DIRECTORIES (basePath keeps the
    # partition column): the file index never lists the other buckets'
    # files — with 64 buckets that is ~85% of the listing skipped before
    # the partition filter even applies (the filter stays on as the
    # plan-visible pruning contract)
    postings = (
        spark.read.option("basePath", path)
        # explicit schema: serving must not pay footer-inference over the
        # probed files on every query batch
        .schema("doc_id long, dl long, token string, tf long, tok_bucket int")
        .parquet(*[f"{path}/tok_bucket={b}" for b in bucket_list])
        .where(F.col("tok_bucket").isin(bucket_list))
        .where(F.col("token").isin(terms))
        .select("doc_id", "dl", F.col("token").alias("term"), "tf")
    )
    w_term = Window.partitionBy("term")
    with_df = postings.withColumn("df_t", F.count("*").over(w_term).cast("long"))
    scored_terms = (
        with_df.withColumn(
            "idf_micro",
            F.floor(
                F.log(
                    F.lit(2.0)
                    * F.lit(float(n_docs + 1))
                    / (F.lit(2) * F.col("df_t") + F.lit(1)).cast("double")
                )
                * F.lit(1000000.0)
            ).cast("long"),
        )
        # DECIMAL(38,0) intermediates, same rationale (and bit-identity
        # argument) as bm25_topk: int64 num wraps past tf*TL ~ 4.2e12
        .withColumn(
            "num",
            F.col("tf").cast("decimal(20,0)")
            * F.lit(1000 + k1_milli)
            * F.lit(1000)
            * F.lit(total_len).cast("decimal(20,0)"),
        )
        .withColumn(
            "den",
            F.lit(1000000) * F.lit(total_len).cast("decimal(20,0)") * F.col("tf").cast("decimal(20,0)")
            + F.lit(k1_milli * (1000 - b_milli)) * F.lit(total_len).cast("decimal(20,0)")
            + F.lit(k1_milli * b_milli) * F.col("dl").cast("decimal(20,0)") * F.lit(n_docs).cast("decimal(20,0)"),
        )
        .withColumn(
            "contrib_micro",
            F.floor(
                F.col("idf_micro").cast("double")
                * F.col("num").cast("double")
                / F.col("den").cast("double")
            ).cast("long"),
        )
    )
    if literal_path:
        # map-literal query attachment — value-identical to the inner
        # broadcast join, zero broadcast-build job (see bm25_topk)
        qmap: dict[str, list[str]] = {}
        for qid, q in sorted(queries.items()):
            for t in _py_terms(q):
                qmap.setdefault(t, []).append(qid)
        term_qids = F.create_map(
            *[
                e
                for t in sorted(qmap)
                for e in (F.lit(t), F.array(*[F.lit(q) for q in sorted(qmap[t])]))
            ]
        )
        attached = scored_terms.withColumn(
            "query_id", F.explode(term_qids[F.col("term")])
        )
    else:
        attached = scored_terms.join(F.broadcast(qterms), "term")
    per_doc = attached.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_micro").cast("long").alias("score_micro"),
        F.count("*").cast("long").alias("n_terms_matched"),
    )
    from pipeline_etl_website_visits_spark.operators.similarity import bounded_sorted

    w_rank = Window.partitionBy("query_id").orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return bounded_sorted(
        per_doc.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_micro", "n_terms_matched", "rank"),
        "query_id",
        "rank",
    )


def _word_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, w1, w2) bigram occurrence stream (RAW words, not hashed —
    the LM-model sibling of :func:`_dsir_bucketed`). ``id_col`` may name
    a missing column for model training (targets need no ids)."""
    t = F.col("__t")
    id_expr = F.col(id_col) if id_col in df.columns else F.lit(0)
    return (
        df.select(
            id_expr.alias("doc_id"),
            F.split(normalize_text(F.col(text_col)), " ").alias("__t"),
        )
        .where(F.size("__t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.struct(
                        F.element_at(t, i).alias("w1"),
                        F.element_at(t, i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )


def _lm_model_relations(target: DataFrame, text_col: str):
    """The four bigram-LM model relations trained from ``target``:
    (c12, c1, rev, consts) — bigram counts, per-context totals +
    follower-type counts, per-word predecessor-type counts, and the
    1-row (nbt, v) constants."""
    tb = _word_bigrams(target, text_col, "__none")
    c12 = tb.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    toks = target.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok")
    ).where(F.col("tok") != "")
    v_df = toks.agg(F.countDistinct("tok").cast("long").alias("v"))
    return lm_model_from_c12(c12, v_df)


def lm_model_from_c12(c12: DataFrame, v_df: DataFrame):
    """Derive the (c12, c1, rev, consts) model relations from a bigram-
    count relation ``(w1, w2, c12)`` plus a 1-row vocabulary count
    ``(v)`` — the fold behind :func:`_lm_model_relations`, exposed so a
    stored compacted-bigram artifact can train the model without
    rescanning the target (c1/nfwd, nrev and nbt are all pure folds of
    c12; only v needs the unigram side, which the tokenized-corpus
    artifact carries)."""
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("nfwd"),
    )
    rev = c12.groupBy("w2").agg(F.count("*").cast("long").alias("nrev"))
    consts = c12.agg(F.count("*").cast("long").alias("nbt")).crossJoin(v_df)
    return c12, c1, rev, consts


def _lm_score_against(
    corpus: DataFrame,
    c12: DataFrame,
    c1: DataFrame,
    rev: DataFrame,
    consts: DataFrame,
    text_col: str,
    id_col: str,
    discount_milli: int,
) -> DataFrame:
    """Score corpus docs against the model relations — the shared kernel
    of the inline (x175) and stored-model (x176) paths."""
    docb = _word_bigrams(corpus, text_col, id_col).groupBy(
        "doc_id", "w1", "w2"
    ).agg(F.count("*").cast("long").alias("c"))
    return lm_scores_from_counts(docb, c12, c1, rev, consts, discount_milli)


def lm_scores_from_counts(
    docb: DataFrame,
    c12: DataFrame,
    c1: DataFrame,
    rev: DataFrame,
    consts: DataFrame,
    discount_milli: int = 750,
) -> DataFrame:
    """Bigram-LM scoring from a PRE-COMPACTED ``(doc_id, w1, w2, c)``
    corpus relation — the kernel behind :func:`lm_perplexity_scores` /
    :func:`lm_scores_vs_model`, exposed so a stored compacted-bigram
    artifact (queries/llmops.py:shared_doc_bigrams) can feed it without
    re-paying the corpus tokenize+explode pass (VERDICT r13 item 4). The
    join/smoothing/quantization arithmetic is untouched, so counts
    derived by the same normalize+split are bit-identical."""
    joined = (
        docb.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(rev, "w2", "left")
        .crossJoin(F.broadcast(consts))
    )
    return _lm_fold_scores(joined, discount_milli)


def _lm_fold_scores(joined: DataFrame, discount_milli: int) -> DataFrame:
    """The smoothing + per-doc fold shared by every LM scoring path:
    ``joined`` carries (doc_id, c, c12, c1, nfwd, nrev, nbt, v) — model
    columns NULL where the doc bigram/context/follower is unseen."""
    # smoothing denominator: bigram types + unigram vocab + 1 (OOV mass)
    smooth = (F.col("nbt") + F.col("v") + F.lit(1)).cast("decimal(20,0)")
    seen_num = (
        F.greatest(
            F.lit(1000) * F.coalesce(F.col("c12"), F.lit(0)) - F.lit(discount_milli),
            F.lit(0),
        ).cast("decimal(20,0)")
        * smooth
        + F.lit(discount_milli).cast("decimal(20,0)")
        * F.col("nfwd").cast("decimal(20,0)")
        * (F.coalesce(F.col("nrev"), F.lit(0)) + F.lit(1)).cast("decimal(20,0)")
    )
    seen_den = F.lit(1000).cast("decimal(20,0)") * F.col("c1").cast("decimal(20,0)") * smooth
    unseen_num = (F.coalesce(F.col("nrev"), F.lit(0)) + F.lit(1)).cast("decimal(20,0)")
    logp = F.when(
        F.col("c1").isNotNull(),
        F.floor(
            F.log(seen_num.cast("double") / seen_den.cast("double")) * F.lit(1000000.0)
        ).cast("long"),
    ).otherwise(
        F.floor(
            F.log(unseen_num.cast("double") / smooth.cast("double")) * F.lit(1000000.0)
        ).cast("long")
    )
    scored = joined.select("doc_id", "c", logp.alias("logp_micro"))
    # no final orderBy (the x82 discipline, r15): a corpus-sized global
    # sort exists only to make output order deterministic — a whole range
    # exchange plus its RangePartitioner sampling job per call; correctness
    # comparisons are row-order-insensitive and a keep/drop threshold
    # consumer never needs doc order
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            (-F.sum(F.col("c") * F.col("logp_micro"))).cast("long").alias("nll_micro"),
        )
        .withColumn(
            "avg_nll_micro", F.expr("nll_micro div n_bigrams").cast("long")
        )
    )


def lm_perplexity_scores(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount_milli: int = 750,
) -> DataFrame:
    """CCNet-style n-gram LM perplexity filtering (Wenzek et al. 2020):
    train an interpolated absolute-discount (Kneser-Ney family) bigram LM
    on the TARGET domain, score every corpus doc by its negative
    log-likelihood — low perplexity ≈ looks like the domain, the standard
    quality filter next to DSIR importance weighting.

    Integer-exact (the x130/x139 quantized-ln discipline): with D =
    ``discount_milli``/1000, bigram count c12, context total c1, follower
    types nfwd(w1), predecessor types nrev(w2), bigram types NBT and
    vocab V, the smoothed probability is the exact integer rational

      seen ctx:  p = [max(1000·c12 − D, 0)·S + D·nfwd·(nrev+1)] / (1000·c1·S)
      unseen:    p = (nrev+1) / S            where S = NBT + V + 1

    (continuation probability (nrev+1)/S — Knesey-Ney's predecessor-type
    distribution with add-one OOV mass, so every token scores > 0).
    Products run in DECIMAL(38,0) (the BM25/DSIR overflow discipline);
    ONE ln() per distinct (doc, bigram) with both engines dividing the
    same exact integers, so scores replay digit-for-digit. Per doc:
    nll_micro = −Σ c·⌊ln(p)·1e6⌋ (positive), avg_nll_micro = nll div n —
    the integer perplexity proxy a keep/drop threshold cuts on.

    Scale shape: ONE corpus bigram pass compacted to (doc, w1, w2, c)
    with map-side combine; the model relations join on their natural
    keys (w1 / w2 / (w1,w2) — sort-merge or broadcast, AQE's call);
    constants are a 1-row broadcast. Docs with <2 tokens are omitted
    (no bigram evidence — the DSIR contract).
    """
    c12, c1, rev, consts = _lm_model_relations(target, text_col)
    return _lm_score_against(
        corpus, c12, c1, rev, consts, text_col, id_col, discount_milli
    )


def save_lm_model(
    target: DataFrame,
    path: str,
    text_col: str = "text",
    layout: str = "v2",
) -> None:
    """Persist the bigram-LM model relations as a self-describing parquet
    artifact (train-once / score-many — the save_dsir_weights pattern).

    ``layout="v2"`` (default, r15): ``<path>/c12`` (w1, w2, c12) plus ONE
    word-keyed relation ``<path>/words`` (w, c1, nfwd, nrev) — the full
    outer merge of the per-context and per-follower stats, so the scorer
    joins the SAME relation on both probe sides and the planner reuses one
    broadcast build instead of building two (each broadcast build is a
    whole scheduled job per score call). ``layout="v1"`` keeps the
    separate ``c1``/``rev`` dirs for compatibility tests. Both layouts
    end with the 1-row ``<path>/consts`` (nbt, v) written LAST as the
    commit marker. At scale c12 is the big side — partitionable by w1 —
    while words/consts stay broadcastable (vocabulary-sized)."""
    if layout not in ("v1", "v2"):
        raise ValueError(f"unknown LM model layout {layout!r}")
    c12, c1, rev, consts = _lm_model_relations(target, text_col)
    c12.write.mode("overwrite").parquet(f"{path}/c12")
    if layout == "v2":
        words = c1.withColumnRenamed("w1", "w").join(
            rev.withColumnRenamed("w2", "w"), "w", "full_outer"
        )
        words.write.mode("overwrite").parquet(f"{path}/words")
    else:
        c1.write.mode("overwrite").parquet(f"{path}/c1")
        rev.write.mode("overwrite").parquet(f"{path}/rev")
    consts.coalesce(1).write.mode("overwrite").parquet(f"{path}/consts")


def _lm_model_consts(spark, model_path: str) -> tuple[int, int]:
    """The model's (nbt, v) constants, read driver-side once per artifact
    incarnation — the _bm25_index_stats sidecar discipline (the old
    consts.take(1) probe + 1-row broadcast build cost two scheduled jobs
    per score call)."""
    rows = artifacts.small_table(spark, f"{model_path}/consts", "lm_consts")
    if not rows:
        raise ValueError(f"empty LM model at {model_path}")
    return int(rows[0]["nbt"]), int(rows[0]["v"])


def lm_scores_vs_model(
    corpus: DataFrame,
    model_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount_milli: int = 750,
) -> DataFrame:
    """Score documents against a STORED bigram LM
    (:func:`save_lm_model`): the target corpus is never rescanned —
    bit-identical to :func:`lm_perplexity_scores` with the live target
    because the artifact froze the same exact integer counts. Reads both
    layouts: v2 (single word-keyed ``words`` relation — one reused
    broadcast build) and v1 (separate ``c1``/``rev``). The (nbt, v)
    constants come from the memoized driver-side sidecar read and enter
    the smoothing arithmetic as literals — identical values, two fewer
    scheduled jobs per call than the old take(1) + 1-row broadcast."""
    spark = corpus.sparkSession
    nbt, v = _lm_model_consts(spark, model_path)
    # explicit schemas (the shared_* artifact-reader discipline): a bare
    # spark.read.parquet pays a schema-inference job per call
    c12 = spark.read.schema("w1 string, w2 string, c12 long").parquet(f"{model_path}/c12")
    docb = _word_bigrams(corpus, text_col, id_col).groupBy(
        "doc_id", "w1", "w2"
    ).agg(F.count("*").cast("long").alias("c"))
    # layout probe through the Hadoop FileSystem, which resolves the path
    # exactly as the reads below do (local paths and URIs alike)
    words_dir = spark._jvm.org.apache.hadoop.fs.Path(f"{model_path}/words")
    if words_dir.getFileSystem(spark._jsc.hadoopConfiguration()).exists(words_dir):
        words = spark.read.schema("w string, c1 long, nfwd long, nrev long").parquet(
            f"{model_path}/words"
        )
        # both probe sides join the SAME relation on the SAME build key
        # (w), so the planner builds ONE broadcast and reuses it
        joined = (
            docb.join(c12, ["w1", "w2"], "left")
            .join(
                words.select("w", "c1", "nfwd"),
                F.col("w1") == F.col("w"),
                "left",
            )
            .drop("w")
            .join(
                words.select("w", "nrev"),
                F.col("w2") == F.col("w"),
                "left",
            )
            .drop("w")
        )
    else:
        c1 = spark.read.schema("w1 string, c1 long, nfwd long").parquet(f"{model_path}/c1")
        rev = spark.read.schema("w2 string, nrev long").parquet(f"{model_path}/rev")
        joined = (
            docb.join(c12, ["w1", "w2"], "left")
            .join(c1, "w1", "left")
            .join(rev, "w2", "left")
        )
    return _lm_fold_scores(
        joined.withColumns(
            {"nbt": F.lit(nbt).cast("long"), "v": F.lit(v).cast("long")}
        ),
        discount_milli,
    )
