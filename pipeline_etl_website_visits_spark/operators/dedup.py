"""Deduplication operators for LLM-scale corpora (SURVEY.md §2.11 X1/X3).

Four tiers, all shuffle-conscious:

- :func:`dedup_exact` — hash-groupBy on a normalized fingerprint. One
  shuffle on the fingerprint key; at 100 TB this is the cheapest dedup and
  the fingerprint (md5 of normalized text) is tiny vs the document payload.
- :func:`shingle_jaccard_pairs` — exact n-gram Jaccard via an inverted-index
  self-join on shingles (NOT an O(n²) cross join): only documents sharing at
  least one shingle ever meet. A document-frequency cap drops stop-shingles
  that would otherwise create quadratic hot keys (classic prefix-filter
  trick; the cap is off by default so small-scale results stay exact).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + banded
  LSH. Candidates are generated by an equi-join on (band_index, band_hash) —
  a plain hash shuffle — then verified with exact Jaccard. Deterministic:
  hash family is xxhash64 seeded by band constant, no RNG at runtime.
- :func:`simhash` — 64-bit SimHash per document from token hashes; near-dups
  share the value (or differ in few bits — callers can band the 64 bits the
  same way as MinHash).

Reference anchor: the reference has no dedup at all (SURVEY §2.10); these
are the north-star extension operators (BASELINE.json north_star).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pipeline_etl_website_visits_spark.functions import ratio_round


def normalize_text(col: Column) -> Column:
    """Canonical text normalization: lower, trim, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens_of(df: DataFrame, text_col: str) -> Column:
    """Token-array expression for ``text_col`` — the shared-tokenization
    seam (VERDICT r12 item 3): if the column is ALREADY ``array<string>``
    (a stored tokenized-corpus artifact,
    queries/llmops.py:shared_tokenized_corpus), it is used as-is;
    otherwise the canonical normalize+split runs inline. The artifact
    stores exactly ``split(normalize_text(text), ' ')``, so serving an
    operator from it is value-identical by construction and cannot move a
    downstream hash — the normalize regex (the dominant per-row cost of
    the token/gram family) is simply paid once per corpus instead of once
    per query.

    The pass-through contract is enforced, not convention (ADVICE r13):
    only ``array<string>`` passes through; any other array element type
    (``array<int>`` codes, nested arrays) raises instead of silently
    skipping normalization and producing wrong-but-plausible stats."""
    dtype = dict(df.dtypes).get(text_col, "")
    if dtype.startswith("array"):
        if dtype != "array<string>":
            raise TypeError(
                f"tokens_of({text_col!r}): array columns pass through ONLY as "
                f"array<string> (a pre-normalized tokenized-corpus artifact — "
                f"split(normalize_text(text), ' ')); got {dtype}. Cast or "
                "re-tokenize upstream."
            )
        return F.col(text_col)
    return F.split(normalize_text(F.col(text_col)), " ")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of the normalized text."""
    return F.md5(normalize_text(col).cast("binary"))


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group identical (normalized) texts, keep the min id.

    Returns (fp, keeper, copies) — one row per distinct content. The
    downstream keep-set is a semi-join of ``df`` against ``keeper``.
    Scale: one shuffle keyed on the 32-char fingerprint; skew-free (hash
    output is uniform).
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("copies"))
    )


def shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, with_size: bool = False
) -> DataFrame:
    """Distinct word n-gram shingles per document → (doc_id, gram).

    Built with higher-order functions (sequence/transform) so it stays in
    whole-stage codegen; `explode` is the only row-expanding step.

    ``with_size=True`` adds the document's shingle-SET size as a ``sz``
    column — measured on the distinct-gram array BEFORE the explode, so it
    costs one integer per row instead of the post-hoc
    ``groupBy(doc_id).count()`` shuffle plus two pair-relation joins the
    similarity operators would otherwise pay (the sizes ride along into the
    inverted-index join; see :func:`_shingle_overlap`).
    """
    # Spread the explode across the cluster first: a single small parquet
    # file (one row group) scans as ONE task, serializing all shingle
    # generation + hashing through one core — repartitioning the narrow
    # (id, text) projection costs one small exchange and parallelizes the
    # expensive stage (3.7x cold on the LSH pipeline at sf0.1). Gated on
    # the split count (the gram_diversity rule): at real scale — and when
    # reading the stored tokenized-corpus artifact, written at build
    # parallelism — inputs already arrive in enough splits, and the
    # exchange would ship every row (token ARRAYS, for the artifact) for
    # nothing. The tokenize (raw-text input — see tokens_of) runs AFTER
    # the exchange so the narrow string crosses it, not the array.
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        few_splits = len(df.inputFiles()) < par
    except Exception:  # non-file sources can't report splits
        few_splits = True  # preserve the historical always-spread default
    if dict(df.dtypes).get(text_col, "").startswith("array"):
        tokenized = df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("toks")
        )
        if few_splits:
            tokenized = tokenized.repartition(par)
    else:
        narrow = df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
        )
        if few_splits:
            narrow = narrow.repartition(par)
        tokenized = narrow.select(
            "doc_id",
            F.split(normalize_text(F.col("__text")), " ").alias("toks"),
        )
    toks = F.col("toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]))
    )
    if with_size:
        # Three separate projections, deliberately (same CollapseProject
        # discipline as _winnowed): (1) materialize the gram array once;
        # (2) compute sz BELOW the explode — if size() sat in the projection
        # ABOVE the Generate, the whole array would ride through it per
        # exploded row (O(L²) traffic, measured 10x on the sf0.1 dedup
        # suite); (3) explode. The double reference to __grams in (2) is
        # what stops CollapseProject re-inlining the array expression.
        base = tokenized.select("doc_id", grams.alias("__grams"))
        sized = base.select("doc_id", F.size("__grams").alias("sz"), "__grams")
        return sized.select("doc_id", "sz", F.explode("__grams").alias("gram"))
    return tokenized.select("doc_id", F.explode(grams).alias("gram"))


def gram_index(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Reusable hashed shingle index: (doc_id, gram int64), hash-partitioned
    on gram at full core parallelism and cached.

    Build ONCE and pass via the ``grams=`` parameter to
    :func:`shingle_jaccard_pairs`, :func:`shingle_containment_pairs` and
    :func:`minhash_lsh_pairs` when composing several dedup passes over the
    same corpus — the tokenize+shingle+hash scan is the dominant shared cost
    and none of the consumers re-pays it. The caller owns the cache
    (``.unpersist()`` when done). At 100 TB this is the difference between
    one corpus scan and one per dedup family.
    """
    g = shingles(df, text_col, id_col, n, with_size=True).select(
        "doc_id", F.xxhash64("gram").alias("gram"), "sz"
    )
    return g.repartition(df.sparkSession.sparkContext.defaultParallelism, "gram").cache()


PAIR_OVERLAP_SCHEMA = "doc_a long, doc_b long, inter long, sz_a long, sz_b long"


def pair_overlap(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """The shared derivation of the whole shingle-similarity family:
    ``(doc_a, doc_b, inter, sz_a, sz_b)`` for every pair sharing ≥1 n-gram
    shingle (doc_a < doc_b), uncapped and unthresholded.

    Jaccard (x22), containment (x56), their union (x86), the near-dup
    cluster/graph queries (x71/x98/x114) are all threshold filters + ratio
    projections OVER this one relation — each metric is a pure function of
    (inter, sz_a, sz_b). Materialize it ONCE per corpus (parquet with
    :data:`PAIR_OVERLAP_SCHEMA`, fingerprint-keyed — see
    queries/llmops.py:shared_pair_overlap) and every family member becomes
    a cheap scan instead of re-paying the gram self-join, the dominant cost
    of the family (~390 s of a 984 s sf1 cold pass before sharing).

    Exactness: all five columns are exact integers, so the stored artifact
    is value-identical to the inline derivation regardless of partitioning,
    task order, or file layout — downstream hashes cannot move.
    """
    # pin every column to long so a stored copy round-trips under
    # PAIR_OVERLAP_SCHEMA (sz comes off F.size() as int)
    return _shingle_overlap(df, text_col, id_col, n, None, None).select(
        *[F.col(c).cast("long").alias(c) for c in ("doc_a", "doc_b", "inter", "sz_a", "sz_b")]
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
    grams: DataFrame | None = None,
    prefix_filter: bool = False,
    overlap: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Inverted-index join: |A∩B| from a self-join on gram, set sizes from a
    per-doc count, Jaccard = i / (|A| + |B| - i). ``max_doc_freq`` (optional)
    drops grams present in more than that many documents before the join —
    the scale lever against quadratic blowup on stop-shingles. ``grams``
    (optional) reuses a shared :func:`gram_index`.

    ``overlap`` (optional) goes one step further than ``grams``: a
    precomputed ``(doc_a, doc_b, inter, sz_a, sz_b)`` pair-overlap relation
    (:func:`pair_overlap`, typically a STORED artifact built once per corpus
    fingerprint). The gram self-join — the dominant cost of every
    shingle-similarity query — is skipped entirely; this function reduces to
    the threshold filter + ratio projection. Exactness is unaffected: the
    relation's values are exact integers, independent of partitioning or
    storage. Mutually exclusive with ``grams``/``max_doc_freq``/
    ``prefix_filter``.

    ``prefix_filter=True`` switches candidate generation to the
    PPJoin-family prefix filter (exact — the SAME result set, equality-
    tested): under a global gram order (rarest first), two sets with
    J ≥ t must share a gram within each one's first
    ``|A| − ceil(t·|A|) + 1`` grams, so only those PREFIXES are indexed
    and self-joined; survivors are verified by an exact recount against
    the full sets. At threshold 0.8 the indexed fraction is ~20% of each
    set and the candidate relation shrinks quadratically in that factor
    — the lever for corpora whose all-pairs join blows up even after the
    stop-gram cap. Prefix lengths use INTEGER per-mille arithmetic with
    a floor'd threshold (never a float ceil at the boundary — a 1-short
    prefix silently LOSES pairs). Standalone path: not composable with
    ``grams``/``max_doc_freq`` in this form.
    """
    if overlap is not None:
        if grams is not None or max_doc_freq is not None or prefix_filter:
            raise ValueError(
                "overlap= is a precomputed pair relation — grams/"
                "max_doc_freq/prefix_filter shape its DERIVATION and "
                "cannot compose with it"
            )
        inter = overlap
    elif prefix_filter:
        if grams is not None or max_doc_freq is not None:
            raise ValueError(
                "prefix_filter=True is the standalone exact path — compose "
                "the stop-gram cap or a shared index with the default "
                "inverted-index form instead"
            )
        g = shingles(df, text_col, id_col, n, with_size=True).select(
            "doc_id", F.xxhash64("gram").alias("gram"), "sz"
        )
        inter = _prefix_filtered_overlap(g, threshold)
    else:
        inter = _shingle_overlap(df, text_col, id_col, n, max_doc_freq, grams)
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac = F.col("inter") / union
    return (
        inter.filter(jac >= threshold)
        .select("doc_a", "doc_b", ratio_round(F.col("inter"), union, 3).alias("jaccard"))
    )


def _prefix_filtered_overlap(g: DataFrame, threshold: float) -> DataFrame:
    """PPJoin-style candidate generation + exact verify over a hashed
    shingle relation ``(doc_id, gram, sz)``: returns the same
    ``(doc_a, doc_b, inter, sz_a, sz_b)`` contract as
    :func:`_shingle_overlap` for a SUPERSET of the J ≥ threshold pairs
    (the caller's Jaccard filter is unchanged, so exactness never
    depends on the prefix math being tight — only COMPLETENESS does).

    Completeness argument: order grams globally by (document frequency,
    gram). J(A,B) ≥ t ⇒ |A∩B| ≥ t·max(|A|,|B|), so fewer than
    ``|A| − ceil(t·|A|) + 1`` leading grams of A cannot all miss B (and
    symmetrically), hence the two PREFIXES intersect. The prefix length
    is computed as ``sz − (sz·m + 999) DIV 1000 + 1`` with
    ``m = floor(t·1000)``: integer end to end, and m/1000 ≤ t means the
    prefix is never shorter than the true bound (a float ceil that lands
    one high at an exact boundary would silently DROP qualifying pairs).

    Scale shape: the doc-frequency join reuses the gram exchange; the
    per-doc prefix selection is one high-cardinality (doc_id) window;
    the self-join runs over prefixes only (≈(1−t) of the index,
    candidates shrink ~quadratically in that factor); the verify join
    touches candidate pairs only.
    """
    from pyspark.sql import Window

    m = int(threshold * 1000)  # floor: m/1000 <= threshold, prefix stays safe
    dfreq = g.groupBy("gram").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("doc_id").orderBy("__df", "gram")
    plen = F.greatest(
        F.lit(1).cast("long"),
        F.col("sz") - F.expr(f"(sz * {m} + 999) DIV 1000") + 1,
    )
    pref = (
        g.join(dfreq, "gram")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn").cast("long") <= plen)
        .select("doc_id", "gram", "sz")
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "gram", F.col("sz").alias("sz_a"))
    b = pref.select(F.col("doc_id").alias("doc_b"), "gram", F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sz_a", "sz_b")
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = g.select(F.col("doc_id").alias("doc_b"), "gram")
    return (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("inter"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
    )


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    grams: DataFrame | None = None,
    overlap: DataFrame | None = None,
) -> DataFrame:
    """Shingle CONTAINMENT similarity: |A∩B| / min(|A|, |B|) ≥ threshold.

    Catches subset duplication that Jaccard misses: a short document fully
    embedded in a long one has containment 1.0 but Jaccard ≈ |short|/|long|
    — the standard clone/quote detector for training corpora. Identical
    inverted-index join shape as :func:`shingle_jaccard_pairs` (no cross
    product; same ``max_doc_freq`` skew lever, same shared-``grams`` reuse,
    same precomputed-``overlap`` fast path).
    """
    if overlap is not None:
        if grams is not None or max_doc_freq is not None:
            raise ValueError(
                "overlap= is a precomputed pair relation — grams/"
                "max_doc_freq shape its DERIVATION and cannot compose with it"
            )
        inter = overlap
    else:
        inter = _shingle_overlap(df, text_col, id_col, n, max_doc_freq, grams)
    min_sz = F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.filter((F.col("inter") / min_sz) >= threshold)
        .select("doc_a", "doc_b", ratio_round(F.col("inter"), min_sz, 3).alias("containment"))
    )


def _shingle_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: int | None,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Inverted-index pair overlap: (doc_a, doc_b, inter, sz_a, sz_b) for
    every pair sharing ≥1 shingle (doc_a < doc_b).

    The gram index joins on a 64-bit hash of the gram, not the string: far
    cheaper shuffle and key comparisons at identical results (collision odds
    ~n²/2^64).

    One-shot path (``grams`` is None): the hashed shingle relation is used
    UNCACHED — the self-join's two sides canonicalize to the same exchange,
    so the planner computes the shingle scan once and reads the shuffle
    twice (ReusedExchange). Skipping the shared index's repartition+cache
    saves an extra full-parallelism exchange plus the cache materialization
    (measured 2x on x56 at sf0.1: 1.09s → 0.53s). The expensive per-row
    shingle generation is still fanned out across all cores inside
    :func:`shingles`; only the (cheap, already-exploded) join input drops to
    ``spark.sql.shuffle.partitions``. Multi-query composition should still
    pass a shared cached :func:`gram_index` — across separate actions there
    is no exchange to reuse.
    """
    if grams is not None:
        g = grams
    else:
        g = shingles(df, text_col, id_col, n, with_size=True).select(
            "doc_id", F.xxhash64("gram").alias("gram"), "sz"
        )
    if max_doc_freq is not None:
        # Broadcast the HOT grams (df > cap) and anti-join: the stop-shingle
        # set is tiny by definition (only keys frequent enough to go
        # quadratic), while the below-cap gram vocabulary is corpus-sized —
        # broadcasting the latter would never fit at 100 TB. (The broadcast
        # anti-join preserves the gram partitioning, so the cap composes
        # with a shared cached index.)
        hot = (
            g.groupBy("gram")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") > max_doc_freq)
            .select("gram")
        )
        g = g.join(F.broadcast(hot), "gram", "left_anti")
    if "sz" in g.columns and max_doc_freq is None:
        # Set sizes were folded into the index at shingle time (free: one int
        # per row, measured pre-explode) — they ride the inverted-index join
        # and fold into the pair aggregation, eliminating the
        # groupBy(doc_id) shuffle AND both joins on the (potentially huge)
        # pair relation. min() is exact: every row of a pair carries the
        # same sz_a/sz_b.
        a = g.select(F.col("doc_id").alias("doc_a"), "gram", F.col("sz").alias("sz_a"))
        b = g.select(F.col("doc_id").alias("doc_b"), "gram", F.col("sz").alias("sz_b"))
        return (
            a.join(b, "gram")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count("*").alias("inter"),
                F.min("sz_a").alias("sz_a"),
                F.min("sz_b").alias("sz_b"),
            )
        )
    # Post-cap sizes: with a doc-freq cap the metric is defined over the
    # CAPPED shingle sets, so sizes must be recomputed after the anti-join.
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = g.select(F.col("doc_id").alias("doc_a"), "gram")
    b = g.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _u48_md5(col: Column) -> Column:
    """First 48 bits of md5 as a non-negative long — THE portable hash
    (replayable in any SQL engine; the winnowing/DSIR idiom)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10).cast("long")


def _signatures_from_grams(
    g: DataFrame, num_hashes: int, portable_hash: bool = False
) -> DataFrame:
    if portable_hash:
        # seed folded into the hashed STRING (md5 takes no seed): the SQL
        # twin is md5(i || '|' || gram) — gram must be the raw string here
        aggs = [
            F.min(_u48_md5(F.concat_ws("|", F.lit(str(i)), F.col("gram")))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("gram"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return g.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash signature per doc: min over shingles of hash(seed_i, gram).

    Deterministic (seed = literal index). One explode + one groupBy; the
    signature is num_hashes longs, independent of document size.
    ``portable_hash`` swaps xxhash64 for the md5-u48 idiom a SQL oracle
    replays (any fixed hash family gives a valid MinHash; x23's
    certificate uses this form, the JVM-fast default stays xxhash64).
    """
    return _signatures_from_grams(
        shingles(df, text_col, id_col, n), num_hashes, portable_hash
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.2,
    grams: DataFrame | None = None,
    portable_hash: bool = False,
) -> DataFrame:
    """Banded-LSH candidate generation + exact-Jaccard verification.

    ``portable_hash``: per-seed gram hashes and band hashes through the
    md5-u48 idiom, grams kept as raw strings — the SQL-replayable form
    x23's oracle certifies (band collisions, candidate set, verification
    and rounding all replay digit-for-digit). Default stays the
    JVM-fast xxhash64 family; incompatible with a shared ``grams``
    index (whose grams are pre-hashed).

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows; a
    band hash collision makes a candidate pair; candidates are verified with
    exact shingle Jaccard (no false positives in the output). The band join
    is an equi-join on (band_idx, band_hash) — a plain shuffle, no cross
    join anywhere. ``grams`` (optional) reuses a shared :func:`gram_index`
    so a composed Jaccard+MinHash pipeline scans the corpus once.

    Cache contract: with ``grams=None`` the internal gram pass is cached
    for the signature + verification branches and the entry lives for the
    session (the result is lazy, so the operator cannot unpersist it
    itself); long-lived sessions composing many dedup passes should build
    ONE :func:`gram_index`, pass it in, and unpersist it when done — the
    bench/gate harness clears caches between queries for the same reason.
    """
    rows_per_band = num_hashes // bands
    # One gram pass feeds both the signatures and the exact verification.
    if grams is not None:
        if portable_hash:
            raise ValueError("portable_hash requires raw grams; shared gram index is pre-hashed")
        g = grams
    elif portable_hash:
        g = shingles(df, text_col, id_col, n, with_size=True).cache()
    else:
        g = shingles(df, text_col, id_col, n, with_size=True).select(
            "doc_id", F.xxhash64("gram").alias("gram"), "sz"
        ).cache()
    sigs = _signatures_from_grams(g, num_hashes, portable_hash)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        if portable_hash:
            bh = _u48_md5(F.concat_ws(",", *[c.cast("string") for c in cols]))
        else:
            bh = F.xxhash64(*cols)
        band_cols.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    banded = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    candidates = (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Exact-Jaccard verification restricted to the candidate pairs: the
    # intersection join only ever expands candidate docs' grams, never the
    # full corpus self-join (this is what makes LSH the scale path).
    if "sz" in g.columns:
        # Folded sizes (see _shingle_overlap): sz rides the verification
        # join, no per-doc count shuffle and no pair-relation size joins.
        ga = g.select(F.col("doc_id").alias("doc_a"), "gram", F.col("sz").alias("sz_a"))
        gb = g.select(F.col("doc_id").alias("doc_b"), "gram", F.col("sz").alias("sz_b"))
        inter = (
            candidates.join(ga, "doc_a")
            .join(gb, ["doc_b", "gram"])
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count("*").alias("inter"),
                F.min("sz_a").alias("sz_a"),
                F.min("sz_b").alias("sz_b"),
            )
        )
    else:
        ga = g.select(F.col("doc_id").alias("doc_a"), "gram")
        gb = g.select(F.col("doc_id").alias("doc_b"), "gram")
        inter = (
            candidates.join(ga, "doc_a")
            .join(gb, ["doc_b", "gram"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
        sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
        inter = inter.join(sa, "doc_a").join(sb, "doc_b")
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.filter((F.col("inter") / union) >= verify_threshold)
        .select("doc_a", "doc_b", ratio_round(F.col("inter"), union, 3).alias("jaccard"))
    )


def _winnowed(
    base: DataFrame, text_col: str, n: int, window: int, portable_hash: bool
) -> DataFrame:
    """(doc_id, __fps) — per-document array of distinct winnowing
    fingerprints, entirely higher-order array functions: tokens → n-gram
    hashes → min of each ``window`` consecutive hashes → array_distinct.
    No explode, no window function, no shuffle. Empty array when fewer than
    window+n-1 tokens (no full window fits).

    Evaluation-order discipline (each step referenced more than once, so
    CollapseProject keeps them as separate projections and nothing is
    re-inlined): the token array and the gram-hash array are each
    materialized as their own projection — inlining the split into the gram
    lambda re-tokenizes the whole document per gram, and inlining the hash
    array into the window-min transform re-hashes all L grams at every one
    of the L window positions (O(L²) per document; measured as a >100×
    blowup at sf0.1). Short documents are dropped by a CHEAP pushable
    predicate on the token count — filtering on size(fps) would push the
    entire fingerprint expression down into the scan filter and evaluate it
    twice, once single-threaded before the repartition.
    """
    toks_df = base.select(
        "doc_id", F.split(normalize_text(F.col(text_col)), " ").alias("__toks")
    ).filter(F.size("__toks") >= window + n - 1)
    t = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(t) - n)
    gram = lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)])
    if portable_hash:
        ghs = F.transform(idx, lambda i: F.md5(gram(i).cast("binary")))
    else:
        ghs = F.transform(idx, lambda i: F.xxhash64(gram(i)))
    hashed = toks_df.select("doc_id", ghs.alias("__ghs"))
    g = F.col("__ghs")
    wins = F.transform(
        F.sequence(F.lit(0), F.size(g) - window),
        lambda i: F.array_min(F.slice(g, i + 1, window)),
    )
    return hashed.select("doc_id", F.array_distinct(wins).alias("__fps"))


def winnowing_fingerprint_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    window: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    scheme): hash every n-gram, slide a ``window`` over consecutive gram
    hashes, keep the minimum of each window — the distinct set of selected
    hashes is the document's fingerprint sketch. Guarantees every shared
    substring of length ≥ window+n-1 tokens contributes at least one common
    fingerprint, at ~2/(window+1) the full gram density.

    Output: (doc_id, fp) distinct rows — the sketch itself. The sketch
    feeds the same inverted-index join as :func:`shingle_jaccard_pairs` at
    a fraction of the index size; :func:`winnowing_fingerprints` summarizes
    it per document without ever exploding.

    Shape: winnowing is per-document local, so the whole sketch is computed
    with higher-order array functions inside one codegen stage — ZERO
    shuffles (the only exchange is the parallelism repartition of the
    narrow projection; single-file parquet scans as one task otherwise).

    ``portable_hash=True`` ranks windows by the md5 hex string (identical in
    every engine — the oracle-parity mode); the default xxhash64 long is the
    cheaper production hash, same algorithm.
    """
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return _winnowed(base, "__text", n, window, portable_hash).select(
        "doc_id", F.explode("__fps").alias("fp")
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    window: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Per-document summary of the winnowing sketch:
    (doc_id, n_fingerprints, min_fp, max_fp). Map-only — the distinct
    fingerprint set lives in an array column, so count/min/max are array
    aggregates, not a groupBy. Documents too short for one full window
    (< window+n-1 tokens) are dropped, matching the exploded form."""
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return (
        # no size(__fps) filter needed: _winnowed's token-count predicate
        # already dropped every document too short for one full window
        _winnowed(base, "__text", n, window, portable_hash)
        .select(
            "doc_id",
            F.size("__fps").cast("long").alias("n_fingerprints"),
            F.array_min("__fps").alias("min_fp"),
            F.array_max("__fps").alias("max_fp"),
        )
    )


def simhash(df: DataFrame, text_col: str, id_col: str, portable_hash: bool = False) -> DataFrame:
    """64-bit SimHash per document from whitespace tokens.

    For each bit b: sum over tokens of (bit_b(xxhash64(token))*2 - 1) weighted
    by token multiplicity; simhash bit = 1 iff the sum > 0. Near-dup docs
    land on close hashes (low Hamming distance).

    ``portable_hash``: a 48-bit SimHash over md5-u48 token hashes — the
    SQL-replayable certificate form (x24's oracle runs the identical
    integer bit algebra); any fixed hash family gives a valid SimHash,
    the JVM-fast default stays 64-bit xxhash64.

    The 64 weighted bit-sums run as an Arrow-batched numpy stage, not as 64
    ``F.sum`` aggregates: the aggregate form is correct but its whole-stage
    codegen SOURCE GENERATION costs ~1.5s of driver time on every fresh
    DataFrame build (the generated class is cached; the source text is not),
    which dominated the query 5x in any run-once-per-plan context (the
    driver's gate, bench.py). Integer bit arithmetic is exact in both forms
    — the outputs are identical.
    """
    # One shuffle total, placed BEFORE the explode: repartitioning the
    # narrow (id, text) rows by doc_id (a) spreads tokenize+explode+hash
    # across the cluster instead of the single task a one-row-group file
    # scans as, and (b) hash-partitioning by doc_id satisfies the
    # clustering requirement of the downstream aggregate AND keeps every
    # (doc_id, th) row of a doc inside one partition for the numpy stage.
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")).repartition(
        df.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(normalize_text(F.col("__text")), " ")
    th_expr = _u48_md5(F.col("tok")) if portable_hash else F.xxhash64("tok")
    t = base.select("doc_id", F.explode(toks).alias("tok")).withColumn("th", th_expr)
    # Pre-aggregate token multiplicity first: the bit-sums then run over
    # distinct (doc, token) rows instead of every token occurrence
    # (natural-language corpora repeat tokens heavily; mostly map-side).
    t = t.groupBy("doc_id", "th").agg(F.count("*").alias("w"))
    id_type = df.schema[id_col].dataType.simpleString()
    n_bits = 48 if portable_hash else 64

    def bit_sums(batches):
        # Accumulate across ALL batches of the partition: Arrow splits a
        # partition into ~10k-row batches, so one doc's rows may span
        # batches — partial emission would produce duplicate doc_ids.
        shifts = np.arange(n_bits, dtype=np.int64)
        weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64)).astype(np.uint64)
        acc: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            th = pdf["th"].to_numpy(dtype=np.int64)
            w = pdf["w"].to_numpy(dtype=np.int64)
            signed = (((th[:, None] >> shifts) & 1) * 2 - 1) * w[:, None]  # (n, 64)
            sums = pd.DataFrame(signed).groupby(pdf["doc_id"].to_numpy()).sum()
            for doc, row in zip(sums.index.to_numpy(), sums.to_numpy()):
                prev = acc.get(doc)
                acc[doc] = row if prev is None else prev + row
        if acc:
            docs = list(acc.keys())
            mat = np.vstack([acc[d] for d in docs])  # (m, 64)
            packed = ((mat > 0).astype(np.uint64) @ weights).view(np.int64)
            yield pd.DataFrame({"doc_id": docs, "simhash": packed})

    return t.mapInPandas(bit_sums, f"doc_id {id_type}, simhash long")


def dedup_clusters(
    pairs: DataFrame, max_iterations: int = 20, check_convergence: bool = True
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    Completes the dedup pipeline: pair lists (from exact Jaccard or LSH)
    become clusters, and ``min(doc_id)`` per cluster is the canonical keeper.
    Algorithm: iterative label propagation (each node adopts the min label
    among itself and its neighbors) — the standard large-graph approach when
    the graph is edge-heavy: every iteration is one groupBy-min shuffle,
    no driver-side graph. Converges in O(diameter) iterations; near-dup
    graphs are almost always tiny-diameter cliques, so ``max_iterations``
    is a safety bound, with early exit when labels stop changing.

    Fault tolerance: each iteration truncates lineage with a RELIABLE
    ``checkpoint()`` when the session has a checkpoint dir configured
    (``sc.setCheckpointDir``) — required at cluster scale, where
    ``localCheckpoint`` blocks live on executors and one executor loss
    mid-iteration kills the job. Without a checkpoint dir it falls back to
    ``localCheckpoint`` (fine on local[] / toy scale).

    ``check_convergence=False`` skips the per-iteration changed-labels probe
    (one extra tiny job per iteration) and runs exactly ``max_iterations``
    rounds — the escape hatch for adversarial long-path graphs where the
    probe's cost is pure overhead because convergence won't happen early.

    Input: (doc_a, doc_b) pairs (any extra columns ignored).
    Output: (doc_id, cluster_id) for every doc appearing in ≥1 pair.
    """
    edges = pairs.select("doc_a", "doc_b")
    # undirected: both directions, plus self-loops to keep isolated ends.
    # Cached: the edge relation is consumed once per iteration (plus the
    # label init) — without the cache every iteration would recompute the
    # full upstream pair derivation (for near-dup input that is the whole
    # shingle + inverted-index join + pair aggregation), turning O(diameter)
    # iterations into O(diameter) corpus scans.
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    sc = pairs.sparkSession.sparkContext
    reliable = sc.getCheckpointDir() is not None
    try:
        for _ in range(max_iterations):
            # each node's new label = min(own, min over neighbors' labels)
            neighbor_labels = (
                sym.join(labels, sym.doc_b == labels.doc_id, "inner")
                .select(F.col("doc_a").alias("doc_id"), F.col("cluster_id"))
            )
            new_labels = (
                labels.unionByName(neighbor_labels)
                .groupBy("doc_id")
                .agg(F.min("cluster_id").alias("cluster_id"))
            )
            # truncate lineage: reliable checkpoint survives executor loss.
            # Reliable mode stays EAGER (a lazy reliable checkpoint
            # recomputes the plan when the write happens); localCheckpoint
            # persists the computing action's own blocks, so in local mode
            # the convergence probe below doubles as the materialization —
            # one job per iteration instead of checkpoint-job + probe-job
            # (r14; value-identical, the probe always ran this lineage)
            if reliable:
                new_labels = new_labels.checkpoint(eager=True)
            else:
                new_labels = new_labels.localCheckpoint(
                    eager=not check_convergence
                )
            if check_convergence:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "doc_id")
                    .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                    .limit(1)
                    .count()
                )
                labels = new_labels
                if changed == 0:
                    break
            else:
                labels = new_labels
    finally:
        # a failed checkpoint mid-loop must not leak the cached edge list
        # (the pagerank/triangle_count discipline)
        sym.unpersist()
    return labels


def dedup_keep_set(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Rows of ``df`` surviving near-dup removal: cluster keepers + docs in
    no cluster. Keeper = min doc_id per connected component."""
    clusters = dedup_clusters(pairs)
    keepers = clusters.groupBy("cluster_id").agg(F.min("doc_id").alias("keep_id"))
    drop = clusters.join(
        keepers, clusters.cluster_id == keepers.cluster_id, "inner"
    ).filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
    return df.join(drop, df[id_col] == drop.doc_id, "left_anti")


def contamination_hits(
    corpus: DataFrame, eval_df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one word
    n-gram with the (small) eval set → (doc_id, shared_grams).

    The eval side is tiny by construction (benchmarks are KBs, corpora are
    TBs), so its distinct-gram set is broadcast — the corpus side streams
    through a map-side hash join with NO shuffle of corpus grams; the only
    shuffle is the final groupBy on doc_id, whose input is already
    filtered down to the contaminated sliver. Callers drop (anti-join) or
    audit the returned ids.
    """
    cg = shingles(corpus, text_col, id_col, n=n)
    eg = shingles(eval_df, text_col, id_col, n=n).select("gram").distinct()
    return (
        cg.join(F.broadcast(eg), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )


def incremental_containment_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Incremental near-dup dedup: score an INCOMING batch against an
    EXISTING corpus and decide, per new document, whether it duplicates
    something already ingested.

    The steady-state shape of a production ingestion pipeline (cf. the
    reference's per-file upsert loop, utils/utils_load.py:43-84 — new
    batch vs. accumulated table): dedup is not a one-shot corpus pass but
    "does today's crawl add anything new". Containment (|new ∩ old| /
    |new|) rather than Jaccard, because a new doc that is a SUBSET of an
    old one is a dup even when the old doc is much larger.

    Output: one row per incoming doc that shares ≥1 shingle with the
    corpus — (doc_id, best_match corpus doc, inter, containment, dropped).
    Best match = highest shared-shingle count, ties to the LOWEST corpus
    doc id (deterministic; the oracle replays it with a window).

    Scale: inverted-index equi-join on the 8-byte hashed gram — the
    incoming side is a day's batch, the corpus side is the 100 TB index;
    both shuffle ONCE on the gram key and never pairwise. ``max_doc_freq``
    prunes stop-shingles from the corpus side before the join (same lever
    as :func:`shingle_jaccard_pairs`). In production the corpus gram index
    is the stored artifact (:func:`gram_index` written out once, appended
    per batch) — this operator recomputes it inline so the certificate
    covers the whole path.
    """
    ig = shingles(incoming, text_col, id_col, n, with_size=True).select(
        F.col("doc_id").alias("new_id"), "sz", F.xxhash64("gram").alias("gram")
    )
    cg = shingles(corpus, text_col, id_col, n).select(
        F.col("doc_id").alias("old_id"), F.xxhash64("gram").alias("gram")
    )
    return _containment_vs_index(ig, cg, threshold, max_doc_freq)


def _containment_vs_index(
    ig: DataFrame, cg: DataFrame, threshold: float, max_doc_freq: int | None
) -> DataFrame:
    """Score an incoming gram stream against a corpus gram index — the
    shared back half of the inline (:func:`incremental_containment_dedup`)
    and stored-index (:func:`containment_dedup_vs_stored`) paths, so the
    two can never drift semantically."""
    if max_doc_freq is not None:
        hot = (
            cg.groupBy("gram")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("gram")
        )
        cg = cg.join(F.broadcast(hot), "gram", "left_anti")
    pairs = (
        ig.join(cg, "gram")
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("inter"), F.max("sz").alias("sz"))
    )
    best = pairs.groupBy(F.col("new_id").alias("doc_id")).agg(
        F.max(F.struct(F.col("inter"), (-F.col("old_id")).alias("neg_old"), F.col("sz"))).alias("b")
    )
    containment = ratio_round(F.col("b.inter"), F.col("b.sz"), 3)
    return best.select(
        "doc_id",
        (-F.col("b.neg_old")).cast("long").alias("best_match"),
        F.col("b.inter").cast("long").alias("inter"),
        containment.alias("containment"),
        (containment >= F.lit(threshold)).alias("dropped"),
    )


def _check_identifier(name: str) -> str:
    """Reject identifiers that would break the (unquotable-by-position)
    SQL statements below — defensive, not an escaping layer."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"invalid catalog identifier: {name!r}")
    return name


def _gram_index_props(spark, table: str) -> dict[str, str]:
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {_check_identifier(table)}").collect()
    }


def _catalog_retry(fn, timeout: float = 60.0, poll: float = 0.05):
    """Retry a catalog read (DESCRIBE/SHOW) across a compaction's
    re-pointing window: the swap is DROP TABLE -> register under the
    writer lease, and a reader landing in that microsecond gap sees
    AnalysisException('table not found') for a table that exists again a
    poll later. ONLY the not-found condition retries (ADVICE r7: a
    blanket AnalysisException catch would stall a genuinely mistyped
    table or a permissions failure for the full minute before
    surfacing); everything else re-raises immediately. Bounded — a
    genuinely missing table still raises."""
    import time as _time

    from pyspark.errors import AnalysisException

    deadline = _time.monotonic() + timeout
    while True:
        try:
            return fn()
        except AnalysisException as e:
            cond = e.getCondition() if hasattr(e, "getCondition") else None
            if cond is None and hasattr(e, "getErrorClass"):
                cond = e.getErrorClass()
            if not (
                (cond is not None and "TABLE_OR_VIEW_NOT_FOUND" in cond)
                or (cond is None and "not found" in str(e).lower())
            ):
                raise
            if _time.monotonic() > deadline:
                raise
            _time.sleep(poll)


def _table_location(spark, table: str) -> str:
    """Local filesystem path behind an external catalog table (the gram
    index is always created with an explicit LOCATION). Underscore-
    prefixed sidecars written there (``_applied``) are invisible to the
    parquet scan — Spark's default PathFilter skips ``_*``/``.*``."""
    row = (
        spark.sql(f"DESCRIBE FORMATTED {_check_identifier(table)}")
        .filter(F.col("col_name") == "Location")
        .collect()
    )
    if not row:
        raise ValueError(f"table {table} has no Location (not an external table?)")
    loc = row[0]["data_type"]
    return loc[len("file:"):] if loc.startswith("file:") else loc


def _family_pointer_path(loc: str) -> str:
    """The gram-index family's SESSION-INDEPENDENT live-location pointer:
    ``.<base>.pointer`` next to the base location (never inside a
    generation dir a destructive compaction could remove). The catalog
    entry is a per-session pointer only; this file is what makes the
    generation swap visible to OTHER drivers (ADVICE r7: a writer whose
    session missed a swap must not commit into the dead generation)."""
    base = gram_index_base_location(loc)
    return os.path.join(os.path.dirname(base), f".{os.path.basename(base)}.pointer")


def _family_live_location(loc: str) -> str | None:
    """Resolve the family pointer to a full path (None when no pointer
    has been published — a never-compacted pre-round-8 index, where the
    catalog location is trivially live)."""
    from pipeline_etl_website_visits_spark.operators import ledger

    name = ledger.read_pointer(_family_pointer_path(loc))
    if name is None:
        return None
    base = gram_index_base_location(loc)
    return os.path.join(os.path.dirname(base), name.strip())


def _publish_family_pointer(loc: str) -> None:
    from pipeline_etl_website_visits_spark.operators import ledger

    ledger.publish_pointer(
        _family_pointer_path(loc), os.path.basename(loc.rstrip("/"))
    )


def save_gram_index(
    corpus: DataFrame,
    table: str,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    n_buckets: int = 32,
) -> None:
    """Persist the corpus inverted gram index as a catalog table BUCKETED
    on the 8-byte gram key — the dedup counterpart of the stored vector
    index (encode the corpus once, score every future batch against it).

    ``bucketBy(gram)`` is the scale lever: every later
    :func:`containment_dedup_vs_stored` join shuffles ONLY the incoming
    day's grams — the 100 TB index side reads bucket-aligned with no
    exchange (plan-asserted in tests). One corpus scan, one write.

    The gram size ``n`` persists in TBLPROPERTIES: appends and the
    Warehouse search wrapper VALIDATE against it, because an n mismatch
    would not error — batch grams would simply never match stored grams
    and every duplicate would silently score ~0 (the same geometry-
    mismatch class the vector index's stored params close).
    """
    from pipeline_etl_website_visits_spark.operators import ledger

    _check_identifier(table)
    cg = shingles(corpus, text_col, id_col, n).select(
        F.col("doc_id").alias("old_id"), F.xxhash64("gram").alias("gram")
    )
    spark = corpus.sparkSession
    # the FAMILY compactor lease (same name compact_gram_index /
    # gc_gram_generations key on) serializes the rebuild against an
    # in-flight compaction of the prior incarnation: without it, the
    # racing compactor could publish its new generation AFTER our
    # generation-zero reset, re-pointing the family at pre-rebuild data
    # cross-driver (ADVICE r8)
    base = gram_index_base_location(path)
    with ledger.writer_lease(
        os.path.dirname(base), name=f"compactor-{os.path.basename(base)}"
    ):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # a rebuild starts a fresh incarnation: its applied-key ledger
        # resets too (don't rely on the overwrite clearing
        # underscore-prefixed sidecars — be explicit, the vector-index
        # rebuild discipline); routed through the commit backend so a
        # non-local ledger resets where it actually lives
        ledger.reset_applied_keys(os.path.join(path, "_applied"))
        (
            cg.write.format("parquet")
            .bucketBy(n_buckets, "gram")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(table)
        )
        # gram_buckets persists alongside gram_n: compaction must rewrite
        # with the SAME bucket count (bucket ids live in file names — a
        # silent re-bucket to a default would corrupt the exchange-free
        # join contract for any session registered against the original
        # spec)
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            f"('gram_n'='{int(n)}', 'gram_buckets'='{int(n_buckets)}')"
        )
        # a rebuild resets the family pointer to generation zero (the base
        # path itself) — a stale pointer from a prior incarnation's
        # compaction chain must not resurrect a dead generation
        _publish_family_pointer(path)


def register_gram_index(
    spark, table: str, path: str, n_buckets: int = 32, n: int = 3
) -> None:
    """Register an already-COMMITTED on-disk gram index (a prior session's
    :func:`save_gram_index` output — catalog tables die with their
    session, the parquet files do not) as a bucketed external table,
    without rewriting a byte. Only valid over save_gram_index output: the
    bucket spec must match how the files were written (bucket ids live in
    file names), which a committed ``artifacts.stored`` build ensures."""
    _check_identifier(table)
    spark.sql(
        f"CREATE TABLE {table} (old_id BIGINT, gram BIGINT) USING parquet "
        f"CLUSTERED BY (gram) INTO {int(n_buckets)} BUCKETS LOCATION '{path}'"
    )
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('gram_n'='{int(n)}', 'gram_buckets'='{int(n_buckets)}')"
    )


def gram_index_n(spark, table: str) -> int | None:
    """The gram size the stored index was built with (None for an index
    predating the property)."""
    v = _gram_index_props(spark, table).get("gram_n")
    return int(v) if v is not None else None


def append_to_gram_index(
    new_docs: DataFrame,
    table: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    applied_key: str | None = None,
) -> bool:
    """Fold an ingested batch's grams into the stored index (after its
    dedup decisions are applied upstream): ``insertInto`` respects the
    table's bucket spec, so appended files stay bucket-aligned and later
    joins keep their exchange-free index side.

    Validates ``n`` against the stored geometry (a mismatch would write
    grams that can never match — corrupting every later decision
    silently). Redo-safety: pass ``applied_key`` (batch id — the K4
    discipline, charset-restricted to ``[A-Za-z0-9._-]``); an
    already-recorded key makes the call a NO-OP (returns False), so
    at-least-once orchestration cannot double-append (which would
    double-count intersections, pushing containment past 1.0 and flipping
    best-match ties). Keys live in the ``<location>/_applied`` sidecar
    ledger (one write-once marker file per key, atomic rename —
    :mod:`.ledger`), NOT in TBLPROPERTIES: the round-5 joined-string
    property grew one entry per batch forever and its quoting was one
    backslash away from a corrupted ALTER statement (ADVICE r5). Legacy
    ``gram_applied`` properties are still honored read-only. The marker
    lands after the insert; a crash in that window re-appends on retry —
    the same documented crash-window contract as the warehouse
    compact/forget paths.
    """
    from pipeline_etl_website_visits_spark.operators import ledger

    _check_identifier(table)
    spark = new_docs.sparkSession
    props = _catalog_retry(lambda: _gram_index_props(spark, table))
    stored_n = props.get("gram_n")
    if stored_n is not None and int(stored_n) != n:
        raise ValueError(
            f"gram index {table} was built with n={stored_n}, append called with n={n}"
        )
    cg = shingles(new_docs, text_col, id_col, n).select(
        F.col("doc_id").alias("old_id"), F.xxhash64("gram").alias("gram")
    )
    while True:
        # the insert + marker run under the table location's WRITER LEASE —
        # the same lease compact_gram_index holds across its final delta
        # fold + catalog swap, so a batch can no longer commit into a
        # location the swap is about to orphan (its marker carried, its
        # rows lost — the round-6 ADVICE race). The location is re-resolved
        # AFTER acquiring: if a compaction swapped it while we waited, the
        # lease we hold guards a dead directory — retry at the live one.
        loc = _catalog_retry(lambda: _table_location(spark, table))
        with ledger.writer_lease(loc, name="gram-writer"):
            if _catalog_retry(lambda: _table_location(spark, table)) != loc:
                continue
            # cross-DRIVER staleness (ADVICE r7): the catalog swap above
            # is per-session, so a compaction in ANOTHER driver leaves
            # this session's registration pointing at a dead generation —
            # committing there would hand GC the batch's only copy (rows
            # AND marker gone, nothing replays it). The family pointer is
            # the session-independent truth: on mismatch, re-register at
            # the live location and retry there.
            live = _family_live_location(loc)
            if live is not None and os.path.realpath(live) != os.path.realpath(loc):
                buckets = int(props.get("gram_buckets", 32))
                spark.sql(f"DROP TABLE IF EXISTS {table}")
                register_gram_index(spark, table, live, n_buckets=buckets, n=n)
                continue
            ledger_dir = os.path.join(loc, "_applied")
            applied = set(filter(None, props.get("gram_applied", "").split("\x1f")))
            applied |= ledger.applied_keys(ledger_dir)
            if applied_key is not None:
                # membership FIRST: legacy TBLPROPERTIES keys predate the
                # charset rule; their retries must no-op, not crash the
                # redo path
                if applied_key in applied:
                    return False
                ledger.check_applied_key(applied_key)
            cg.write.insertInto(table)
            # drop this session's cached relation (file list) so the
            # session's own next read sees the appended files; OTHER
            # sessions that already read the table hold their own
            # per-session relation caches and must REFRESH TABLE
            # themselves (standard Spark semantics — the streaming ingest
            # wrapper does exactly that for its driving session)
            spark.catalog.refreshTable(table)
            if applied_key is not None:
                ledger.record_applied_key(ledger_dir, applied_key)
            return True


def containment_dedup_vs_stored(
    incoming: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """:func:`incremental_containment_dedup` answered from a STORED gram
    index (``spark.table(...)`` over :func:`save_gram_index`'s table):
    identical semantics via the shared scoring half, but the corpus is
    never re-shingled — the steady-state production shape the inline
    operator's docstring promises."""
    ig = shingles(incoming, text_col, id_col, n, with_size=True).select(
        F.col("doc_id").alias("new_id"), "sz", F.xxhash64("gram").alias("gram")
    )
    return _containment_vs_index(
        ig, index.select("old_id", "gram"), threshold, max_doc_freq
    )


def positional_gram_hashes(toks_col: Column, n: int) -> Column:
    """``array<bigint>`` of xxhash64 n-gram hashes over a token array; the
    hash at array index *i* covers tokens ``i+1 .. i+n`` (1-based starts —
    the SQL-oracle convention). Docs shorter than one gram yield an EMPTY
    array (``sequence(1, 0)`` would DESCEND in Spark, and ``slice()``
    rejects start 0). Long keys, not md5 strings: 8 bytes through any
    downstream groupBy/join, and the keys never surface in output.

    Shared by the two span-scrubbers (:func:`scrub_duplicate_spans` here,
    ``text.scrub_repeated_spans``) so gram semantics cannot drift.

    Collision bound: grams are identified by a single 64-bit hash, so two
    DISTINCT grams colliding causes a wrongful span match. By the birthday
    bound that stays negligible while the distinct-gram count is well
    under 2^32 (P(any collision) ≈ g²/2^65); a 100 TB corpus crosses it,
    and the cross-document scrubber should then widen the key to a struct
    of two independent hashes (``xxhash64(gram), xxhash64(gram, seed)``)
    — 2^128 key space — at 2× shuffle-key width. Kept at 64 bits here
    because the intra-document scrubber compares grams only WITHIN one
    doc (collisions need both grams in the same doc: g is tiny) and the
    test-scale cross-doc path stays far below the bound.
    """
    return F.when(
        F.size(toks_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks_col) - (n - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks_col, i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def rebuild_text_without(toks_col, rm_col) -> tuple[Column, Column]:
    """(n_removed, text_clean) from a token array and a 1-based array/set
    of removed positions: indexed array filter + join — order preserved by
    construction, NULL input text → ``''`` (the SQL COALESCE convention).
    """
    n_removed = F.coalesce(F.size(rm_col), F.lit(0)).cast("long")
    clean = F.coalesce(
        F.array_join(
            F.filter(
                toks_col,
                lambda x, i: ~F.coalesce(
                    F.array_contains(rm_col, (i + 1).cast("int")), F.lit(False)
                ),
            ),
            " ",
        ),
        F.lit(""),
    )
    return n_removed, clean


def scrub_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Cross-document duplicate-SPAN removal — the *rewrite* side of dedup
    (C4/Dolma-style corpus scrubbing): every token covered by an n-gram
    that also appears in an EARLIER document is deleted; the earliest
    document (min id) keeps its copy. Where the rest of the dedup family
    only *finds* duplicates (pairs, clusters, keep-sets), this emits the
    cleaned corpus itself: (doc_id, n_removed, text_clean) with tokens
    rejoined in original order. Intra-document repeats are NOT touched —
    only spans whose keeper is another document.

    Shape (three bounded shuffles, never all-pairs):
    1. positional n-grams (xxhash64, map-side HOF — winnowing's idiom) →
       one groupBy gram for (keeper=min doc, count);
    2. grams join the >1-count set back on the gram key; each non-keeper
       occurrence explodes to its n covered positions → one groupBy doc
       collecting the removed-index SET (a set — order never matters, so
       no sort and no positional window);
    3. the set joins the corpus on doc id and the rewrite is an indexed
       array filter + join — pure codegen, order preserved by
       construction (no collect_list ordering hazard).

    The gram join-back is the same inverted-index discipline as
    shingle_jaccard_pairs; a pathological stop-gram (shared by huge
    document counts) multiplies covered rows, which at corpus scale is
    bounded the same way (drop grams above a doc-frequency cap before the
    join — exactness-preserving only when capped grams are separately
    force-scrubbed, so the exact query form here keeps them all).
    """
    t = tokens_of(df, text_col)  # toktab artifact serves directly (r14)
    # the (possibly pre-tokenized) corpus scan feeds BOTH the gram branch
    # and the final rebuild join; localCheckpoint so it runs once per call
    # (the cms_token_estimates convention — lineage-truncated, released
    # with the session, no permanent cache entry)
    toks = df.select(F.col(id_col).alias("doc_id"), t.alias("__t")).localCheckpoint(
        eager=False
    )
    # posexplode over the primitive hash array (start = pos + 1) beats
    # exploding (start, hash) structs by ~20% at sf0.1 — GenerateExec is
    # the map-side hot spot here.
    grams = toks.select(
        "doc_id", F.posexplode(positional_gram_hashes(F.col("__t"), n)).alias("pos", "gh")
    ).select("doc_id", (F.col("pos") + 1).alias("start"), "gh")
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("keep_doc"), F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("gh", "keep_doc")
    )
    # shuffle gram-match STARTS (one row per matched occurrence), not the
    # n exploded positions — the window expansion happens after the
    # per-doc groupBy with array HOFs, so the shuffle carries 1/n the rows
    covered = (
        grams.join(dup, "gh")
        .filter(F.col("doc_id") > F.col("keep_doc"))
        .select("doc_id", "start")
    )
    removed = covered.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.collect_set("start"),
                    lambda s: F.sequence(s, s + (n - 1)),
                )
            )
        ).alias("__rm")
    )
    n_removed, clean = rebuild_text_without(F.col("__t"), F.col("__rm"))
    # no final orderBy (the x82 discipline, r15): determinism-only
    # corpus-sized global sort = a range exchange + its sampling job
    return toks.join(removed, "doc_id", "left").select(
        "doc_id", n_removed.alias("n_removed"), clean.alias("text_clean")
    )


def source_overlap_matrix(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    n: int = 3,
) -> DataFrame:
    """Distinct shared n-gram shingles per unordered source pair — the
    corpus-level audit behind mixture design (two "sources" sharing most
    grams are one source twice; a crawl slice overlapping a benchmark
    source is contamination).

    Scale shape: aggregate each gram's distinct-source SET (bounded by the
    source count — a mixture-design constant, rarely more than a few
    hundred), expand the sorted set to unordered pairs with an array HOF,
    and count per pair. One gram-hash exchange with map-side-combined sets
    + one tiny pair exchange. The naive formulation — self-joining the
    (source, gram) relation on gram — goes quadratic on hot grams; this
    shape never does, which is why the x131 certificate uses the self-join
    as its DuckDB oracle and this as the engine side.

    Output: ``(source_a, source_b, shared_grams)``, ``source_a < source_b``.
    """
    grams = shingles(docs, text_col, id_col, n)
    sg = grams.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("__src")),
        "doc_id",
    ).select("__src", "gram")
    per_gram = sg.groupBy("gram").agg(
        F.sort_array(F.collect_set("__src")).alias("srcs")
    )
    arr = F.col("srcs")
    pairs = F.flatten(
        F.transform(
            arr,
            lambda a, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    # no final orderBy (the x82 discipline, r15): the pair matrix is tiny
    # (≤ sources² rows) but the global sort still pays a range exchange +
    # its RangePartitioner sampling job per call
    return (
        per_gram.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count("*").cast("long").alias("shared_grams"))
    )


def _list_gram_files(loc: str) -> set[str]:
    """Data files of a gram-index location. Hidden path COMPONENTS are
    pruned at every level, not just file basenames — Spark's PathFilter
    semantics. Critically that excludes ``_temporary/`` staging trees: a
    racing append's uncommitted files live there under non-hidden
    basenames, and listing them would let the compaction read paths that
    vanish at commit (crash) or double-fold a batch whose renamed finals
    then show up as delta (duplicate grams)."""
    found: set[str] = set()
    for root, dirs, files in os.walk(loc):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                found.add(os.path.join(root, f))
    return found


def compact_gram_index(
    spark,
    table: str,
    n_buckets: int | None = None,
    remove_old: bool = False,
    writer_tasks: int = 1,
    _before_swap=None,
) -> str:
    """Compact an append-heavy gram index: rewrite the table's rows into a
    FRESH versioned directory with one file per bucket, swap the catalog
    entry to it, and carry the applied-key ledger over. Returns the new
    location.

    Why: every :func:`append_to_gram_index` batch adds ``n_buckets`` new
    bucket files; after months of daily appends each bucket is hundreds
    of small files and the exchange-free index-side scan pays per-file
    open cost (the classic small-file problem — same disease the
    warehouse's clustered compaction treats). One bucketBy rewrite
    restores one-file-per-bucket; the bucket spec is preserved, so every
    later :func:`containment_dedup_vs_stored` join keeps its
    exchange-free index side.

    Swap protocol (versioned-dir, the warehouse discipline): the rewrite
    lands in ``<location>.compact.<pid>`` under a SCRATCH table name,
    then this session's catalog entry is re-pointed (DROP + register) —
    the catalog entry is the per-session pointer, so the swap is atomic
    within the session. Old files are left for deferred GC unless
    ``remove_old`` (other sessions may still hold registrations against
    them — same retention rule as the warehouse's versioned snapshots).

    Racing appends (the round-6 ADVICE race, same shape as the vector
    twin): the rewrite reads an explicit FILE-LIST snapshot; after the
    scratch write it acquires the location's WRITER LEASE (the one
    :func:`append_to_gram_index` commits under), folds any delta files
    that landed meanwhile into the scratch table until a quiet pass, and
    only THEN copies the ``_applied`` ledger and swaps the catalog —
    so a batch's marker can never be carried to the new location without
    its rows. The bucket count is read from the stored ``gram_buckets``
    property (a caller-supplied default silently re-bucketing the index
    was the other half of that ADVICE); pass ``n_buckets`` only for
    legacy indexes predating the property. ``_before_swap`` is a test
    seam invoked between the scratch write and the lease acquisition.
    """
    from pipeline_etl_website_visits_spark.operators import ledger

    _check_identifier(table)
    # COMPACTOR lease for the whole run, keyed on the index FAMILY (the
    # base location's name, in its parent dir — stable across generation
    # swaps and never inside a directory a destructive compaction
    # removes): two concurrent compactions would otherwise resolve the
    # same old_loc, collide on the scratch name, and the second's
    # DROP+register would discard appends the first folded in (round-7
    # review). Appends contend only on the per-location gram-writer lease
    # below; GC takes this same compactor lease so it can never sweep a
    # scratch location mid-build.
    base = gram_index_base_location(
        _catalog_retry(lambda: _table_location(spark, table))
    )
    with ledger.writer_lease(
        os.path.dirname(base), name=f"compactor-{os.path.basename(base)}"
    ):
        return _compact_gram_index_locked(
            spark, table, n_buckets, remove_old, writer_tasks, _before_swap
        )


def _compact_gram_index_locked(
    spark, table, n_buckets, remove_old, writer_tasks, _before_swap
) -> str:
    from pipeline_etl_website_visits_spark.operators import ledger

    import shutil

    # re-resolve everything UNDER the compactor lease: a compaction that
    # finished while we waited has re-pointed the catalog
    props = _gram_index_props(spark, table)
    n = int(props.get("gram_n", 3))
    stored_buckets = props.get("gram_buckets")
    if stored_buckets is not None:
        n_buckets = int(stored_buckets)
    elif n_buckets is None:
        n_buckets = 32  # legacy index predating the property: the old default
    old_loc = _table_location(spark, table)
    # ...and against the FAMILY pointer: a compaction in another driver
    # re-points only its own session's catalog — compacting from this
    # session's dead registration would resurrect pre-swap rows and
    # discard every batch appended to the true live generation since
    live = _family_live_location(old_loc)
    if live is not None and os.path.realpath(live) != os.path.realpath(old_loc):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        register_gram_index(spark, table, live, n_buckets=n_buckets, n=n)
        old_loc = live
    new_loc = f"{old_loc.rstrip('/')}.compact.{os.getpid()}"
    tmp_table = f"{table}_c{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    seen = _list_gram_files(old_loc)
    (
        # explicit-file snapshot read, NOT spark.table: files appended
        # between this plan's listing and the delta check below must be
        # EITHER in the snapshot or in the delta, never both (a table
        # scan lists at execution time — a file could double-fold)
        (spark.read.parquet(*sorted(seen)) if seen else spark.table(table).limit(0))
        # a bucketBy writer emits one file per (task, bucket): the file
        # count after compaction is ≤ writer_tasks × n_buckets. The
        # default writer_tasks=1 is the FULL compaction (exactly one file
        # per bucket — coalesce is a narrow dependency, no shuffle);
        # raise it when one rewrite task can't hold a bucket's worth of
        # a 100 TB index and a few files per bucket is the right trade.
        .coalesce(writer_tasks)
        .write.format("parquet")
        .bucketBy(n_buckets, "gram")
        .option("path", new_loc)
        .mode("overwrite")
        .saveAsTable(tmp_table)
    )
    if _before_swap is not None:
        _before_swap()
    with ledger.writer_lease(old_loc, name="gram-writer"):
        while True:
            delta = _list_gram_files(old_loc) - seen
            if not delta:
                break
            seen |= delta
            # fold via insertInto so the scratch table re-buckets the
            # delta rows under its own spec
            spark.read.parquet(*sorted(delta)).coalesce(1).write.insertInto(tmp_table)
        spark.sql(f"DROP TABLE {tmp_table}")  # external: files persist
        # the ledger copies AFTER the final quiet delta pass (under the
        # lease no further append can commit), so every carried marker's
        # rows are guaranteed present in the new location
        # carried through the backend (not a filesystem copytree): on a
        # non-local backend the markers don't live under old_loc's POSIX
        # path at all
        for k in ledger.applied_keys(os.path.join(old_loc, "_applied")):
            ledger.record_applied_key(os.path.join(new_loc, "_applied"), k)
        # migrate LEGACY TBLPROPERTIES keys into the sidecar too — the new
        # registration only carries gram_n/gram_buckets, so pre-sidecar
        # keys would be forgotten and their batches double-appended on
        # replay. Keys that predate the charset rule can't become marker
        # files; they are rare (round-5-era only) and surface loudly
        # rather than silently.
        for k in filter(None, props.get("gram_applied", "").split("\x1f")):
            ledger.record_applied_key(os.path.join(new_loc, "_applied"), k)
        spark.sql(f"DROP TABLE {table}")
        register_gram_index(spark, table, new_loc, n_buckets=n_buckets, n=n)
        # publish the family pointer INSIDE the writer lease (same atomic
        # region as the catalog swap): appends in other drivers verify
        # against it under this same lease, so they either see the old
        # location with the lease held (blocked until we finish) or the
        # new pointer (re-register and land in the new generation)
        _publish_family_pointer(new_loc)
        if remove_old:
            # removes the lease file with the directory; a blocked append
            # then acquires a fresh lease there, re-resolves the location,
            # sees the swap and retries at the live one
            shutil.rmtree(old_loc, ignore_errors=True)
    return new_loc


def gram_index_base_location(loc: str) -> str:
    """Strip the ``.compact.<pid>`` generation suffixes a chain of
    compactions appends to a gram index's location, back to the original
    save_gram_index path — the family root GC prunes under."""
    import re as _re

    return _re.sub(r"(\.compact\.\d+)+$", "", loc.rstrip("/"))


def gc_gram_generations(spark, table: str) -> list[str]:
    """Remove gram-index generation directories the catalog no longer
    references; returns the removed dirs. The vector index's
    :func:`vector_index.gc_ivfpq_generations` twin: every
    :func:`compact_gram_index` leaves its predecessor location on disk
    for deferred GC (``remove_old=False`` default, because another
    session may still hold a registration against it) — without a
    sweeper, months of compactions leak a full index copy each.

    Same retention rule as the warehouse/vector GC, for READERS: run
    AFTER a delay long enough that no session still *scanning* an old
    generation is live — the swap is atomic for NEW reads, not a lease
    over running ones. WRITERS need no delay (ADVICE r7): every append /
    compact entry point verifies its resolved location against the
    session-independent family pointer under the writer lease, so a
    driver whose catalog missed a swap re-registers instead of
    committing into a generation this sweep is about to delete. The
    live location is resolved from that same pointer (falling back to
    the catalog for never-compacted indexes); nothing outside the
    index's own ``<base>[.compact.<pid>]*`` family is touched.

    Holds the family's COMPACTOR lease: a running compaction's scratch
    location is a family member that is not yet the live location and
    would otherwise look exactly like a dead generation to this sweep
    (round-7 review) — under the shared lease, GC and compaction are
    mutually exclusive, and the live location is re-resolved after
    acquiring.
    """
    import re as _re
    import shutil

    from pipeline_etl_website_visits_spark.operators import ledger

    _check_identifier(table)
    base = gram_index_base_location(
        _catalog_retry(lambda: _table_location(spark, table))
    )
    parent, prefix = os.path.dirname(base), os.path.basename(base)
    removed: list[str] = []
    with ledger.writer_lease(parent, name=f"compactor-{prefix}"):
        cat_loc = _table_location(spark, table)
        live = os.path.realpath(_family_live_location(cat_loc) or cat_loc)
        family = _re.compile(_re.escape(prefix) + r"(\.compact\.\d+)*$")
        for name in sorted(os.listdir(parent)):
            if not family.fullmatch(name):
                continue
            full = os.path.join(parent, name)
            if not os.path.isdir(full) or os.path.realpath(full) == live:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
    return removed


def mine_common_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_span: int = 4,
    max_gram_doc_freq: int | None = 64,
) -> DataFrame:
    """Corpus-internal exact-substring duplicate mining (the Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    signal, re-expressed relationally): for every unordered doc pair that
    shares a token run of at least ``min_span`` tokens, emit the exact
    length of the LONGEST shared run and the number of maximal shared
    runs — all integers, no hashing, no approximation.

    Shape (never a text self-join): anchor ``min_span``-grams with their
    positions join on gram equality (doc_a < doc_b) — the x85/x131
    gram-bucket idiom, so cost is Σ df(gram)² over matched grams, not
    |docs|². A shared run of s tokens produces exactly s-min_span+1
    consecutive gram matches at ONE alignment offset; the classic
    gaps-and-islands trick (island = pos - row_number over (a, b,
    offset)) folds each run to one group, COUNT + min_span - 1 is its
    exact length, and maximality is by construction (a longer run would
    have extended the island).

    ``max_gram_doc_freq`` is the 100 TB bound: grams appearing in more
    than that many docs are boilerplate/stop-grams whose pair fan-out is
    quadratic in df — they're dropped BEFORE pairing (the same cap the
    Jaccard family uses). The certified query replicates the cap in its
    SQL oracle, so the bound is part of the certified semantics, not a
    silent truncation; ``None`` disables it (exactness certificate form).

    **The uncapped form is SMALL-CORPUS-ONLY** (r12 advice): with the cap
    disabled, every occurrence of a gram lands in ONE ``collect_list``
    row before the in-row O(occ²) pair expansion — a boilerplate gram
    shared by the whole corpus makes that row's array (and the flattened
    pair array) unbounded, a concentrated per-row OOM the distributed
    join form did not have. At scale always pass a finite
    ``max_gram_doc_freq``; ``None`` exists so toy-scale certificates can
    assert the capped result against the exhaustive one.

    Collision contract (r12 advice): pairing matches on
    ``xxhash64(gram)``, not the gram string, so the operator is
    hash-probabilistic (~Σdf²/2⁶⁴ spurious-pair odds) where the pre-r12
    join form was exact — the same contract as the Jaccard family's
    gram_index. The certified query (x174) states this downgrade; its
    DuckDB oracle joins exact strings, so any collision surfaces as a
    hash mismatch at the gate rather than passing silently.

    Physical shape (r12 rework — value-identical, 43s → ~8s at sf1): the
    narrow (id, text) projection is repartitioned before the explode (the
    single-file-input pitfall), grams carry a 64-bit hash instead of the
    string through every exchange, and the self-join is replaced by the
    x131 per-gram bounded expansion: group occurrences by gram hash, cap
    on the distinct-doc count of the group, expand ordered cross-doc
    occurrence pairs with array HOFs inside the row. The islands fold is
    likewise in-array: collect each (a, b, offset) group's (distinct)
    anchor positions and fold runs with one F.aggregate pass — three
    total exchanges (gram hash, pair+offset, pair) and no window sort,
    versus five exchanges plus a window in the join form.
    """
    if min_span < 2:
        raise ValueError(f"min_span must be >= 2, got {min_span}")
    t = F.col("__t")
    grams = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__x"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.split(normalize_text(F.col("__x")), " ").alias("__t"))
        .where(F.size("__t") >= min_span)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - F.lit(min_span - 1)),
                    lambda i: F.concat_ws(
                        " ", F.slice(t, i, min_span)
                    ),
                )
            ).alias("pos0", "gram"),
        )
        # 64-bit hash join/group key: same collision-odds contract as the
        # Jaccard family's gram_index (~n²/2^64)
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            F.xxhash64("gram").alias("gh"),
        )
    )
    occ = grams.groupBy("gh").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("occs")
    )
    if max_gram_doc_freq is not None:
        occ = occ.where(
            F.size(F.array_distinct(F.transform("occs", lambda o: o["doc_id"])))
            <= F.lit(max_gram_doc_freq)
        )
    # ordered cross-doc occurrence pairs, expanded inside the row: the
    # group is df-capped (and a gram repeats ≤ doc-length times per doc),
    # so the quadratic stays bounded per row and never hits the shuffle
    # as a join
    pair_arr = F.flatten(
        F.transform(
            "occs",
            lambda o1: F.transform(
                F.filter("occs", lambda o2: o1["doc_id"] < o2["doc_id"]),
                lambda o2: F.struct(
                    o1["doc_id"].alias("doc_a"),
                    o2["doc_id"].alias("doc_b"),
                    o1["pos"].alias("pa"),
                    (o1["pos"] - o2["pos"]).alias("d"),
                ),
            ),
        )
    )
    pairs = occ.select(F.explode(pair_arr).alias("p")).select("p.*")
    # islands without the window: for one (a, b, offset) group the anchor
    # positions are DISTINCT (pb = pa - d is determined by pa), so a
    # sorted fold counting +1 on each non-consecutive step yields run
    # count and max run length in one pass over a ≤ doc-length array
    runs = F.aggregate(
        F.sort_array(F.collect_list("pa")),
        F.struct(
            F.lit(-(10**15)).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("cur"),
            F.lit(0).cast("long").alias("mx"),
            F.lit(0).cast("long").alias("n"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"] + 1, acc["cur"] + 1).otherwise(F.lit(1).cast("long")).alias("cur"),
            F.greatest(
                acc["mx"],
                F.when(x == acc["prev"] + 1, acc["cur"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("mx"),
            (acc["n"] + F.when(x == acc["prev"] + 1, F.lit(0)).otherwise(F.lit(1))).alias("n"),
        ),
    )
    spans = (
        pairs.groupBy("doc_a", "doc_b", "d")
        .agg(runs.alias("r"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("r.mx") + F.lit(min_span - 1)).cast("long").alias("max_run"),
            F.col("r.n").cast("long").alias("n_runs"),
        )
    )
    # no final orderBy (the x82 discipline, r15): determinism-only global
    # sort of the pair relation = a range exchange + its sampling job
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.max("max_run").cast("long").alias("max_span_len"),
            F.sum("n_runs").cast("long").alias("n_spans"),
        )
    )
