"""Corpus-cleaning operators for training-data pipelines.

Fills the gap between near-dup detection (operators/dedup.py) and corpus
construction (operators/sampling.py) with the standard web-text cleaning
passes a C4/CCNet/Gopher-style pipeline runs between them:

- :func:`dup_ngram_stats` — per-document duplicate-n-gram fraction (the
  Gopher repetition-ACROSS-documents signal; `repetition_scores` in
  queries.py is the within-document one).  Boilerplate n-grams (nav
  bars, cookie banners) show up as grams shared by many documents.
- :func:`contamination_stats` — per-document n-gram overlap against a
  benchmark/eval gram set (train-test decontamination a la GPT-3
  appendix C): eval sets are dimension-sized, so the check is one
  broadcast join, never a shuffle of the corpus.
- :func:`pack_sequences` — deterministic concatenate-and-chunk sequence
  packing: documents are concatenated in stable order inside salted
  hash buckets and sliced into fixed token windows; every doc's
  (bucket, seq, offset) is a pure function of the corpus content, so
  retries and re-runs rebuild byte-identical batches.
- :func:`bloom_bitset` / :func:`incremental_dedup_bloom` — catch-up
  ingestion dedup of a new batch against an existing corpus with a
  broadcast Bloom prefilter: the corpus is SCANNED (bloom build, then
  verify probe) but never SHUFFLED, and only bloom-positive candidates
  reach the exact verify.

Determinism contract (shared with dedup.py / sampling.py): every hash
derives from ``md5`` of an explicit string — the DuckDB oracles in
queries.py recompute byte-identical values; no RNG anywhere.

Scale notes (100 TB):
- ``dup_ngram_stats`` shuffles twice (gram hash, then doc_id) with
  map-side partial aggregation; hot boilerplate grams are exactly the
  skewed keys AQE's skew-join split handles on the count join-back,
  and the gram→count side is one row per gram by construction.
- ``contamination_stats`` broadcasts the eval gram set (benchmarks are
  ~10^5-10^6 grams — megabytes); the corpus side is map-only.
- ``pack_sequences`` windows inside uniform salted buckets — partition
  size is corpus_tokens / buckets by construction, so `buckets` is the
  knob that keeps the sort in executor memory; no global ordering is
  ever materialized.
- the Bloom bitset is driver-built from the DISTINCT bit positions (an
  aggregate over the corpus, not a gather of it) and capped by
  ``max_bits`` — an oversized request raises instead of silently
  gathering (the `_emb_broadcast` guard convention).  At 10^12 docs a
  single global bloom does not fit any broadcast; the honest deploy
  shape is one bloom per corpus partition (time range / shard) checked
  against the batch in sequence, or the durable signature-table
  anti-join (dedup.build_signature_table) when the batch is large.

Reference analog: the reference has no corpus operators (it is a log
analyzer, /root/reference/src/analyze/analytics.py); these extend the
driver brief's training-data tier.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import round_half_away
from .sampling import _hash_bucket

# ------------------------------------------------------- duplicate n-grams


def doc_ngrams(docs: DataFrame, n: int = 5, id_col: str = "doc_id") -> DataFrame:
    """Explode each document into its DISTINCT word n-grams:
    ``(doc_id, gram)``.  Distinct-per-doc makes the corpus-wide gram
    count equal the number of documents containing the gram.

    The token array is materialized in its OWN projection before the
    gram transform: higher-order lambdas run interpreted, where a
    `split(text)` referenced inside the lambda body re-evaluates per
    element access (n evaluations per gram — O(tokens * n) splits per
    document).  Binding it to an attribute makes each gram one `slice`
    + `array_join` over the already-split array.  Same gram values as
    :func:`dedup.word_shingles` (single-space split, whole-text
    fallback under n words)."""
    from ..plans.partitioning import spread

    toks = spread(docs).select(
        id_col, "text", F.split(F.col("text"), " ").alias("_toks")
    )
    grams = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - n),
            lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
        ),
    ).otherwise(F.array(F.col("text")))
    return toks.select(id_col, F.explode(F.array_distinct(grams)).alias("gram"))


def dup_ngram_stats(docs: DataFrame, n: int = 5, min_docs: int = 2) -> DataFrame:
    """Per-document duplicate-n-gram fraction.

    A gram is "duplicated" when it appears in >= ``min_docs`` distinct
    documents.  Returns ``(doc_id, n_ngrams, dup_ngrams, dup_frac)`` —
    the across-corpus repetition signal used to drop boilerplate-heavy
    pages (complement of the within-doc `repetition_scores`).

    Plan: explode distinct grams -> count docs per gram (partial agg
    map-side; gram keys are near-uniform except true boilerplate) ->
    join counts back (one row per gram on the build side; AQE splits a
    skewed probe partition) -> re-aggregate by doc.

    The exploded gram frame feeds BOTH join sides, so it is persisted
    (lifecycle-scoped, the selfjoin_ready contract) — without it the
    interpreted shingle transform runs once per side, the dominant cost
    of the whole query (measured ~2x end to end).
    """
    from .dedup import selfjoin_ready

    grams = selfjoin_ready(doc_ngrams(docs, n))
    counts = grams.groupBy("gram").agg(F.count("*").alias("nd"))
    return (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum((F.col("nd") >= min_docs).cast("long")).alias("dup_ngrams"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "dup_ngrams",
            round_half_away(
                F.col("dup_ngrams").cast("double") / F.col("n_ngrams"), 4
            ).alias("dup_frac"),
        )
    )


# -------------------------------------------------------- decontamination


def contamination_stats(
    train: DataFrame, eval_docs: DataFrame, n: int = 3
) -> DataFrame:
    """Per-train-document n-gram overlap against an eval/benchmark set.

    Returns ``(doc_id, n_ngrams, contaminated, contamination_frac)``
    where ``contaminated`` counts the doc's distinct n-grams that occur
    anywhere in ``eval_docs``.  The eval gram set is broadcast — at any
    real scale benchmarks are dimension-sized, so the corpus side stays
    map-only (scan -> explode -> broadcast-hash left join -> partial
    agg); decontamination never shuffles the training corpus.
    """
    eval_grams = (
        doc_ngrams(eval_docs, n).select("gram").distinct().withColumn("_hit", F.lit(1))
    )
    grams = doc_ngrams(train, n)
    return (
        grams.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("contaminated"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "contaminated",
            round_half_away(
                F.col("contaminated").cast("double") / F.col("n_ngrams"), 4
            ).alias("contamination_frac"),
        )
    )


# ------------------------------------------------------- sequence packing


def pack_sequences(
    docs: DataFrame,
    ctx_tokens: int = 256,
    buckets: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic concatenate-and-chunk packing of documents into
    fixed-size training sequences.

    Documents are assigned to a salted hash bucket, concatenated inside
    the bucket in ``id_col`` order, and the token stream is sliced into
    ``ctx_tokens`` windows.  Returns one row per document:
    ``(doc_id, bucket, n_tokens, start_seq, end_seq, tok_offset)`` —
    the sequence ids the doc spans and its token offset inside the
    first one.

    Everything is a pure function of (corpus, salt): task retries,
    re-runs, and cluster size changes rebuild byte-identical batches —
    which `repartition` + `monotonically_increasing_id` style packing
    cannot promise.  Packing is bucket-local (one window per bucket, no
    global order): standard practice, since training only needs SOME
    deterministic order, and bucket-local keeps the sort partition at
    corpus_tokens / buckets — `buckets` scales the plan, not the
    semantics.
    """
    tok = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    bucket = _hash_bucket(F.col(id_col), "pack", buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        docs.select(id_col, tok.alias("n_tokens"), bucket.alias("bucket"))
        .withColumn("_cum", cum)
        .select(
            id_col,
            "bucket",
            "n_tokens",
            F.floor((F.col("_cum") - F.col("n_tokens")) / ctx_tokens).alias(
                "start_seq"
            ),
            F.floor((F.col("_cum") - 1) / ctx_tokens).alias("end_seq"),
            ((F.col("_cum") - F.col("n_tokens")) % ctx_tokens).alias("tok_offset"),
        )
    )


def packed_seq_stats(packed: DataFrame, ctx_tokens: int = 256) -> DataFrame:
    """Per-bucket packing manifest from :func:`pack_sequences` output:
    ``(bucket, n_docs, n_seqs, total_tokens, fill_ratio)``.  fill_ratio
    is total_tokens / (n_seqs * ctx) — how much of the allocated context
    windows is real text (the tail sequence of each bucket is ragged)."""
    return (
        packed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            (F.max("end_seq") + 1).alias("n_seqs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_seqs",
            "total_tokens",
            round_half_away(
                F.col("total_tokens").cast("double")
                / (F.col("n_seqs") * ctx_tokens),
                4,
            ).alias("fill_ratio"),
        )
    )


# ---------------------------------------------------------- span dedup


def doc_spans(docs: DataFrame, span_tokens: int = 16, id_col: str = "doc_id") -> DataFrame:
    """Chunk each document into consecutive NON-overlapping spans of
    ``span_tokens`` whitespace words (the last span of a doc is ragged):
    ``(doc_id, pos, span)``.  Pure Column expressions — sequence +
    slice + array_join, no UDF."""
    from ..plans.partitioning import spread

    # bind the token array to a column (opt r6): slice-ing the split
    # EXPRESSION inside the transform lambda re-evaluates the split per
    # span under interpreted HOF eval; also fan the single-file scan out
    bound = spread(docs).select(
        id_col, F.split(F.col("text"), r"\s+").alias("_w")
    )
    n_spans = F.floor((F.size("_w") + span_tokens - 1) / span_tokens).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice("_w", i * span_tokens + 1, span_tokens), " "),
    )
    return bound.select(id_col, F.posexplode(spans).alias("pos", "span"))


def span_dedup(
    docs: DataFrame, span_tokens: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """C4-style global span-level deduplication: remove every repeated
    occurrence of a token span across the corpus, keeping the FIRST
    occurrence in ``(doc_id, pos)`` order, and rebuild each document's
    cleaned text.  (C4 drops repeated three-sentence spans; the
    synthetic corpus has no sentence boundaries, so the unit here is a
    fixed ``span_tokens``-word chunk — same keep-first-globally
    semantics.)

    Returns ``(doc_id, n_spans, kept_spans, clean_md5)`` where
    ``clean_md5`` hashes the doc's surviving spans joined in original
    order (NULL when every span of the doc was seen earlier — the doc
    is dropped entirely).

    Plan: chunk (map-only) -> groupBy(span) min(struct(doc_id, pos))
    keeper -> shuffle join back on span -> groupBy(doc_id) rebuild.
    The keeper pass is a groupBy + equi-join rather than a window over
    ``span`` so hot boilerplate spans (the 10^8-occurrence cookie
    banner) hit AQE's skew-join split instead of serializing one
    window partition; rebuild groups are doc-sized by construction.
    """
    spans = doc_spans(docs, span_tokens, id_col)
    keepers = spans.groupBy("span").agg(
        F.min(F.struct(id_col, "pos")).alias("_keep")
    )
    kept = spans.join(keepers, "span").withColumn(
        "_is_first", F.struct(id_col, "pos") == F.col("_keep")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("_is_first").cast("long")).alias("kept_spans"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("_is_first"), F.struct("pos", "span"))
                            )
                        ),
                        lambda x: x["span"],
                    ),
                )
            ).alias("_md5"),
        )
        .select(
            id_col,
            "n_spans",
            "kept_spans",
            F.when(F.col("kept_spans") > 0, F.col("_md5")).alias("clean_md5"),
        )
    )


# ------------------------------------------- exact duplicated substrings


def duplicated_spans(
    docs: DataFrame,
    min_words: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated substrings — the ExactSubstr semantics of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every maximal word run whose every ``min_words``-word
    window occurs >= ``min_count`` times anywhere in the corpus (across
    documents or repeated inside one).  Any duplicated substring of
    >= ``min_words`` words contains a duplicated ``min_words``-gram, so
    maximal runs of duplicated STRIDE-1 windows recover exactly the
    duplicated substrings of that length — the guarantee the paper gets
    from suffix arrays, expressed relationally.

    Returns ``(doc_id, span_start, span_end, span_words)`` — inclusive
    word offsets of each maximal duplicated span.  Detection only: ALL
    occurrences are reported (keeper policy is a separate pass — see
    :func:`span_dedup`'s keep-first and dedup_clusters' canonical
    keeper).

    Plan: stride-1 windows (map-only; one md5 per window, words joined
    by ' ' exactly as dedup.word_shingles) -> corpus-wide window counts
    (map-side partials, one row per key on the build side) -> equi-join
    back (hot boilerplate keys hit AQE's skew-join split) -> gaps-and-
    islands per doc (row_number window PARTITIONed by doc_id — bounded
    by doc length, never corpus-skewed).

    The relational price of EXACTNESS is the window frame: ~one row per
    corpus token (Lee et al. pay the same token count in suffix-array
    bytes).  The sampled alternative at ~2/(w+1) density is
    :func:`winnow_fingerprints`; the non-overlapping chunk variant is
    :func:`span_dedup`.
    """
    from .dedup import selfjoin_ready
    from ..plans.partitioning import spread

    # spread: the sf tables are one file = one scan partition, which
    # serialized the window-key md5 explode onto a single task (opt r6)
    toks = spread(docs).select(id_col, F.split(F.col("text"), " ").alias("_toks"))
    win_keys = F.when(
        F.size("_toks") >= min_words,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - min_words),
            lambda i: F.md5(F.array_join(F.slice("_toks", i + 1, min_words), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = selfjoin_ready(
        toks.select(id_col, F.posexplode(win_keys).alias("pos", "key"))
    )
    dup_keys = (
        wins.groupBy("key")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("key")
    )
    dup_pos = wins.join(dup_keys, "key").select(id_col, "pos")
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("pos"))
    islands = dup_pos.withColumn("_isl", F.col("pos") - rn)
    return (
        islands.groupBy(id_col, "_isl")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .select(
            id_col,
            F.col("_s").cast("long").alias("span_start"),
            (F.col("_e") + min_words - 1).cast("long").alias("span_end"),
            (F.col("_e") - F.col("_s") + min_words).cast("long").alias("span_words"),
        )
    )


def duplicated_token_stats(
    docs: DataFrame,
    min_words: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-token fraction from
    :func:`duplicated_spans` — the headline removal metric of Lee et
    al. 2022 (fraction of corpus tokens inside a duplicated substring).

    Maximal spans come from DISTINCT position islands, but their word
    coverage can still overlap (two islands whose position gap is
    < ``min_words`` words): dup_tokens is therefore the size of the
    INTERVAL UNION of the spans, merged by one more doc-bounded window
    pass (running max of span_end; a new merge group starts where
    span_start exceeds every previous end).

    Returns ``(doc_id, n_tokens, dup_spans, dup_tokens, dup_frac)`` for
    EVERY document — clean docs report zeros, so the output is exactly
    one row per corpus doc (the shape a filter stage consumes).
    """
    spans = duplicated_spans(docs, min_words, min_count, id_col)
    w = Window.partitionBy(id_col).orderBy("span_start")
    prev_end = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = spans.withColumn(
        "_grp",
        F.sum(
            F.when(F.col("span_start") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = grouped.groupBy(id_col, "_grp").agg(
        F.count("*").alias("_n"),
        (F.max("span_end") - F.min("span_start") + 1).alias("_covered"),
    )
    per_doc = merged.groupBy(id_col).agg(
        F.sum("_n").alias("dup_spans"), F.sum("_covered").alias("dup_tokens")
    )
    toks = docs.select(
        id_col, F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    return (
        toks.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            round_half_away(
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_tokens"),
                4,
            ).alias("dup_frac"),
        )
    )


# Keeper-code encoding for exact_substr_dedup: one BIGINT per window
# occurrence, ordered exactly like (doc_id, pos).  2^24 bounds the token
# position (16M tokens/doc); doc_id then fits 2^39 (~5*10^11 docs)
# before the code overflows int64 — both bounds documented, neither
# binding at any registered scale.
_KEEPER_POS_CAP = 1 << 24


def exact_substr_dedup(
    docs: DataFrame,
    min_words: int = 8,
    min_count: int = 2,
    keep: str = "first",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr REMOVAL — the second half of Lee et al. 2022 that
    :func:`duplicated_spans` detects: rebuild every document's text with
    duplicated substrings cut out.

    ``keep='first'`` (the paper's "remove all but one occurrence"): each
    duplicated window key elects the corpus-first occurrence — smallest
    ``(doc_id, pos)``, compared as the single BIGINT
    ``doc_id * 2^24 + pos`` so the election is one integer ``min`` both
    here and in the DuckDB oracle — and a token survives if ANY window
    covering it is either clean (not duplicated) or part of a keeper
    occurrence.  ``keep='none'`` is the released tool's harsher mode
    (github.com/google-research/deduplicate-text-datasets removes every
    occurrence, including the first): no keeper, every token covered
    only by duplicated windows is cut.

    Returns one row per corpus doc:
    ``(doc_id, n_tokens, kept_tokens, removed_tokens, clean_text)`` —
    fully-removed docs report ``kept_tokens=0`` and empty text (the
    caller's drop-empty filter is policy, not mechanism).

    Plan: the detection stages of :func:`duplicated_spans` (windows ->
    corpus counts -> join back), with the keeper elected INSIDE the
    count aggregate (``min`` of the occurrence code — no window function
    over the skewed key axis, boilerplate keys with 10^6 occurrences
    stay one aggregate row) -> explode dup windows to covered token
    positions (x min_words on duplicated windows only) -> per-position
    survival aggregate -> anti-join against the token-position frame ->
    order-pinned rebuild (``array_sort`` over (pos, tok) structs;
    ``collect_list`` order is shuffle-nondeterministic, the sort makes
    the rebuilt text partitioning-invariant).  Every shuffle key is
    either the window key (AQE-splittable) or ``doc_id`` (doc-bounded).
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    from .dedup import selfjoin_ready
    from ..plans.partitioning import spread

    # spread: same single-file fan-out rationale as duplicated_spans
    toks = spread(docs).select(id_col, F.split(F.col("text"), " ").alias("_toks"))
    win_keys = F.when(
        F.size("_toks") >= min_words,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - min_words),
            lambda i: F.md5(F.array_join(F.slice("_toks", i + 1, min_words), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    code = F.col(id_col) * F.lit(_KEEPER_POS_CAP) + F.col("pos")
    wins = selfjoin_ready(
        toks.select(id_col, F.posexplode(win_keys).alias("pos", "key"))
    )
    dup_keys = (
        wins.groupBy("key")
        .agg(F.count("*").alias("occ"), F.min(code).alias("_keeper"))
        .filter(F.col("occ") >= min_count)
        .select("key", "_keeper")
    )
    is_keeper = (
        (code == F.col("_keeper")) if keep == "first" else F.lit(False)
    )
    dup_wins = wins.join(dup_keys, "key").select(
        id_col, "pos", is_keeper.alias("_kb")
    )
    removed = (
        dup_wins.select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + min_words - 1)
            ).alias("tp"),
            "_kb",
        )
        .groupBy(id_col, "tp")
        .agg(F.max("_kb").alias("_covered_by_keeper"))
        .filter(~F.col("_covered_by_keeper"))
        .select(id_col, "tp")
    )
    tokpos = toks.select(id_col, F.posexplode("_toks").alias("tp", "tok"))
    rebuilt = (
        tokpos.join(removed, [id_col, "tp"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("kept_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        toks.select(id_col, F.size("_toks").cast("long").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
            (F.col("n_tokens") - F.coalesce("kept_tokens", F.lit(0)))
            .cast("long")
            .alias("removed_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ------------------------------------------------------ distinctive terms


def top_terms_per_doc(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` distinctive terms — the TF-IDF shape with a
    rational specificity score: rank by ``tf / (df + 1)`` (term frequency
    in the doc over corpus document frequency), ties broken by term.

    Returns ``(doc_id, term, tf, df, rank)``.  The score is one exact
    IEEE division of two integers (identical rounding on any engine), so
    the ranking — and therefore the output — is bit-deterministic; a
    log-smoothed idf would rank near-identically but hangs the result on
    transcendental-function ulps.  Keyword extraction, dedup-key
    selection, and topic drill-downs all consume this shape.

    Plan: explode words -> (doc, term) tf counts (map-side partials) ->
    term df counts (one row per term) -> equi-join back (AQE skew-split
    for stopword-grade hot terms) -> per-doc ranking window (doc-sized
    partitions).  Same two-shuffle skeleton as :func:`dup_ngram_stats`.
    """
    words = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / (F.col("df") + 1)).desc(), F.col("term")
    )
    return (
        tf.join(df, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "rank")
    )


# --------------------------------------------------------- BM25 retrieval

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed term list —
    the keyword-search shape every curation pipeline needs (audit "show
    me docs about X", decontamination drill-downs, eval-set mining).
    Returns the top-``k`` ``(id, bm25)`` rows, score half-away-rounded
    to 4 decimals, candidates = docs matching >= 1 query term.

    idf is the rational Robertson-Sparck Jones core
    ``(N - df + 0.5) / (df + 0.5)`` WITHOUT the log — same reasoning as
    :func:`top_terms_per_doc`: every operation is then IEEE ``+ - * /``
    on integer-valued doubles (correctly rounded, bit-identical on any
    engine), where a log idf would hang result bits on
    transcendental-function ulps; the paper's ``ln`` drops in as a
    one-line swap at deploy.  The per-term saturation
    ``tf*(k1+1) / (tf + k1*(1-b + b*dl*N/totlen))`` is standard, with
    the doc-length ratio computed as ``dl * N / totlen`` (one product,
    one division — no pre-averaged float) and the cross-term sum folded
    LEFT-ASSOCIATED in the fixed ``terms`` order, all mirrored
    token-for-token by the SQL oracle.

    Plan: ONE map-only pass projects per-doc ``(dl, tf_i)`` from the
    token array (no explode — per-term counts are array-filter sizes,
    so nothing doc-sized ever shuffles); a 1-ROW global aggregate
    ``(N, totlen, df_i)`` broadcasts back; scoring + top-k is a second
    map-only pass into TakeOrderedAndProject.  At 10^12 docs both
    passes are embarrassingly parallel and the only coordination is the
    1-row stats frame — contrast an explode->join plan, which shuffles
    a row per token.
    """
    def _tf(t: str) -> F.Column:
        # one-arg lambda: a two-arg one would receive the array INDEX
        return F.size(F.filter("_toks", lambda w: w == F.lit(t)))

    toks = docs.select(id_col, F.split(F.col(text_col), " ").alias("_toks"))
    base = toks.select(
        id_col,
        F.size("_toks").cast("long").alias("_dl"),
        *[_tf(t).cast("long").alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    g = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_tot"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        df = F.col(f"_df{i}").cast("double")
        idf = (F.col("_n").cast("double") - df + F.lit(0.5)) / (df + F.lit(0.5))
        dlr = F.col("_dl").cast("double") * F.col("_n") / F.col("_tot")
        s = (
            idf
            * (tf * F.lit(k1 + 1))
            / (tf + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * dlr))
        )
        score = s if score is None else score + s
    matched = sum(
        (F.col(f"_tf{i}") for i in range(len(terms))), F.lit(0)
    ) > 0
    return (
        base.join(F.broadcast(g))
        .filter(matched)
        .select(id_col, score.alias("_s"))
        .orderBy(F.desc("_s"), F.asc(id_col))
        .limit(k)
        .select(id_col, round_half_away("_s", 4).alias("bm25"))
    )


def bm25_sql(
    terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`bm25_topk` — the identical expression
    tree (same literals via ``repr``, same association, same rational
    idf), so scores are bit-equal before the shared round(4)."""
    tf_cols = ",\n                ".join(
        f"CAST(len(list_filter(toks, w -> w = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"(n - df{i} + 0.5) / (df{i} + 0.5) * (tf{i} * {k1 + 1!r}) "
        f"/ (tf{i} + {k1!r} * ({1 - b!r} + {b!r} * "
        f"(CAST(dl AS DOUBLE) * n / tot)))"
        for i in range(len(terms))
    )
    matched = " + ".join(f"tf{i}" for i in range(len(terms)))
    return f"""
WITH t AS (SELECT {id_col}, string_split({text_col}, ' ') AS toks FROM {table}),
base AS (SELECT {id_col}, CAST(len(toks) AS BIGINT) AS dl,
                {tf_cols}
         FROM t),
g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS tot,
             {df_cols}
      FROM base)
SELECT {id_col}, round({score}, 4) AS bm25
FROM base CROSS JOIN g
WHERE {matched} > 0
ORDER BY {score} DESC, {id_col} ASC
LIMIT {k}
"""


# ---------------------------------------------------------- PII redaction

# (name, pattern, replacement) applied IN ORDER — order is part of the
# contract (an email is redacted before the ipv4 pass can see its
# dotted-quad-looking domain).  Patterns stay inside the Java-regex /
# RE2 shared dialect (char classes, bounded repeats, \b, no lookaround,
# no backrefs) so the DuckDB oracle replays them byte-identically.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}-\d{3}-\d{4}", "<PHONE>"),
]


def pii_redact(
    docs: DataFrame,
    text_col: str = "text",
    rules: list[tuple[str, str, str]] = PII_RULES,
) -> DataFrame:
    """Sequential regex PII scrub — the redaction pass every released
    web-text corpus runs (emails / IPs / phone numbers → typed tokens).

    Returns the input columns minus ``text_col`` plus, per rule, an
    ``n_<name>`` match count (counted on the text AS THAT RULE SEES IT,
    i.e. after the preceding replacements) and the final
    ``clean_text``.  Everything is a chain of JVM-side
    ``regexp_extract_all`` / ``regexp_replace`` Column expressions —
    map-only, zero shuffle, whole-stage-codegen'd; at 10^12 docs this
    pass costs exactly one scan and is embarrassingly parallel.

    Determinism: both Java regex and RE2 use leftmost, non-overlapping
    greedy matching for this dialect subset, so counts and the redacted
    bytes are bit-identical cross-engine (oracled in queries.py down to
    the redacted-text md5).
    """
    expr = F.col(text_col)
    counts = []
    for name, pat, repl in rules:
        counts.append(
            F.size(F.regexp_extract_all(expr, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        expr = F.regexp_replace(expr, pat, repl)
    keep = [c for c in docs.columns if c != text_col]
    return docs.select(*keep, *counts, expr.alias("clean_text"))


# ------------------------------------------------------- vocab coverage


def vocab_coverage(docs: DataFrame, vocab_size: int = 100) -> DataFrame:
    """Per-document vocabulary coverage against the corpus's own
    top-``vocab_size`` term list — the OOV-rate signal tokenizer and
    filtering stages key on (a doc whose tokens are mostly outside the
    corpus vocabulary is boilerplate, another language, or junk).

    Returns ``(doc_id, n_tokens, n_oov, oov_ppm)`` with ``oov_ppm``
    computed in BIGINT ppm arithmetic (no float).

    Plan: explode words → term counts (one shuffle, map-side partials)
    → global top-k via ``orderBy().limit()`` — Spark plans that as
    TakeOrderedAndProject (per-partition heaps + driver merge of
    ``vocab_size`` rows), NOT a single-partition global sort window, so
    the vocab cut scales to 10^8 distinct terms — → broadcast the
    vocab dim back onto the exploded words → per-doc rollup (second
    shuffle).  The corpus is scanned twice (tf build + coverage) rather
    than persisting the exploded frame: at 100 TB a corpus-sized cache
    is a liability, a second columnar scan is not.  Ties at the vocab
    boundary break by term (count desc, term asc) — bit-deterministic.
    """
    words = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    vocab = (
        words.groupBy("term")
        .agg(F.count("*").alias("ctf"))
        .orderBy(F.desc("ctf"), "term")
        .limit(vocab_size)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn("oov_ppm", F.expr("n_oov * 1000000L div n_tokens"))
    )


# ------------------------------------------------------------ winnowing


def winnow_fingerprints(
    docs: DataFrame, k: int = 4, w: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word ``k``-gram, slide a
    window of ``w`` consecutive gram hashes, keep the minimum hash per
    window (ties -> the RIGHTMOST position, the paper's rule), then
    dedupe selections.  Guarantees every shared substring of length
    >= ``w + k - 1`` grams contributes at least one matching
    fingerprint, with density ~2/(w+1) — the robust sampled alternative
    to keeping all grams.

    Returns distinct ``(doc_id, pos, fp)`` — position and 32-bit gram
    hash of each selected fingerprint.

    Plan: positional grams (pure Column exprs — ``transform`` over the
    bound token array, same builder as :func:`doc_ngrams`), 32-bit md5
    gram hash, ONE window per doc ordered by position with frame
    ``[0, w-1]`` computing ``min(fp * 2^20 + (2^20-1-pos))`` — the
    encoded key makes one integer MIN implement (hash asc, pos desc),
    so the rightmost-tie rule costs nothing extra.  Window partitions
    are doc-sized (bounded by document length, never corpus-skewed);
    the final distinct shuffles fingerprint rows only (~2/(w+1) of the
    grams).  Positions are capped below 2^20 tokens/doc — a guard, not
    a limit (cap exceeded -> loud error via the modulo-free encoding).
    """
    toks = docs.select(id_col, "text", F.split(F.col("text"), " ").alias("_toks"))
    grams = F.when(
        F.size("_toks") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - k),
            lambda i: F.array_join(F.slice("_toks", i + 1, k), " "),
        ),
    ).otherwise(F.array(F.col("text")))
    g = toks.select(
        id_col, F.posexplode(grams).alias("pos", "gram")
    ).withColumn(
        "fp", F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint")
    )
    enc = F.col("fp") * F.lit(1 << 20) + (F.lit((1 << 20) - 1) - F.col("pos"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_grams = F.count("*").over(Window.partitionBy(id_col))
    sel = (
        g.withColumn("_enc", F.min(enc).over(win))
        .withColumn("_n", n_grams)
        # only full windows select (positions 0 .. n-w); short docs (< w
        # grams) keep their single whole-doc window at pos 0
        .filter((F.col("pos") <= F.col("_n") - w) | (F.col("pos") == 0))
        .select(
            id_col,
            (F.lit((1 << 20) - 1) - F.col("_enc") % (1 << 20)).alias("pos"),
            F.expr(f"_enc div {1 << 20}").alias("fp"),
        )
        .distinct()
    )
    return sel


# -------------------------------------------------- split-leakage audit


def cross_split_contamination(docs: DataFrame, n: int = 5) -> DataFrame:
    """Train/val/test leakage audit: how many distinct word ``n``-grams
    are shared across each pair of dataset splits — the check a
    training pipeline runs AFTER splitting, because a leakage-safe
    split function (:func:`sampling.split_assign`) still cannot prevent
    CONTENT overlap between near-duplicate documents that hashed into
    different splits.

    Returns ``(split_a, split_b, shared_grams)`` per unordered split
    pair (lexicographic ``split_a < split_b``).

    Plan: distinct per-doc grams (:func:`doc_ngrams`) tagged with the
    split -> corpus-wide ``(gram, split)`` DISTINCT (one shuffle,
    map-side partial) -> gram-keyed self-join.  The self-join is
    BOUNDED BY CONSTRUCTION: after the distinct there are at most 3
    rows per gram (one per split), so even a boilerplate gram in 10^8
    documents contributes <= 3 pairs — no skew, no quadratic blowup.
    """
    from .sampling import split_assign

    splits = split_assign(docs.select("doc_id")).select("doc_id", "split")
    gs = (
        doc_ngrams(docs, n)
        .join(splits, "doc_id")
        .select("gram", "split")
        .distinct()
    )
    a = gs.select("gram", F.col("split").alias("split_a"))
    b = gs.select(F.col("gram").alias("_g"), F.col("split").alias("split_b"))
    return (
        a.join(b, (F.col("gram") == F.col("_g")) & (F.col("split_a") < F.col("split_b")))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("shared_grams"))
    )


# ---------------------------------------------------- linear quality model


def hashed_weights(
    spark, n_buckets: int = 1024, salt: str = "qw"
) -> DataFrame:
    """Deterministic stand-in for a trained hashing-trick linear model:
    one integer weight per hash bucket, derived from the bucket id by a
    Knuth multiplicative mix (weight ∈ [-500, 500]).  Swap in trained
    fastText/logistic weights at deploy — everything downstream only
    sees a ``(bucket, weight)`` dim of ``n_buckets`` rows."""
    return spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 1001 - 500).alias("weight"),
    )


def linear_quality_scores(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    salt: str = "qw",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality filtering, fastText/CCNet shape: score each
    document with a hashing-trick linear classifier — tokens hash into
    ``n_buckets`` feature buckets, the model is one broadcast
    ``(bucket, weight)`` dim, a doc's score is the sum of its tokens'
    bucket weights, and ``keep = score >= 0``.

    Integer end-to-end (weights are integers, the score is a BIGINT
    sum), so the verdict is bit-deterministic on any engine — the real
    fastText float dot differs only in the weight dtype, not the plan.

    Plan: explode tokens → md5 bucket (same 32-bit salted-hash
    convention as sampling.py) → broadcast-join the model dim → one
    ``groupBy(doc_id)`` rollup with map-side partials.  The corpus
    shuffles ONCE (on doc_id); the model never shuffles at any corpus
    size — this is why the hashing trick, not a vocab join, is the
    10^12-doc inference shape (a trained vocab table can exceed
    broadcast range; the hashed dim is fixed at ``n_buckets`` rows).
    """
    toks = docs.select(
        id_col, F.explode(F.split(F.col("text"), " ")).alias("term")
    ).withColumn("bucket", _hash_bucket(F.col("term"), salt, n_buckets))
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("weight").cast("long").alias("score"),
        )
        .withColumn("keep", (F.col("score") >= 0).cast("int"))
    )


# ------------------------------------------------- importance weighting


def dsir_bucket_weights(
    source: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """Train hashed-n-gram importance weights IN-ENGINE, DSIR shape
    (Xie et al. 2023, arXiv:2302.03169): per hash bucket, the smoothed
    frequency ratio of a small TARGET corpus (the distribution you want
    more of) over the big SOURCE corpus.

    Integer contract: per-corpus bucket rates in ppb (add-1 smoothed),
    ratio in ppm — ``w_ppm = tp * 10^6 div sp``.  The paper's
    log-likelihood-ratio weights are the float refinement; the
    training plan (two bucket aggregates + one tiny dim) is identical,
    so trained log-weights drop in as a weight-table swap.  BIGINT
    products bound the per-run token count at ~9*10^9 per corpus —
    beyond that, train per shard and sum the bucket counts (the
    aggregate is associative), or widen to DECIMAL(38,0).

    Plan: one scan per corpus -> bucket counts (``n_buckets`` groups,
    map-side partials — the shuffle moves at most ``n_buckets`` rows
    per task) -> both joined onto a ``range(n_buckets)`` spine so
    unseen buckets get the smoothed default.  Output is the
    ``(bucket, w_ppm)`` broadcast model dim.
    """
    spark = source.sparkSession

    def counts(df, name):
        toks = df.select(
            F.explode(F.split(F.col("text"), " ")).alias("term")
        ).withColumn("bucket", _hash_bucket(F.col("term"), salt, n_buckets))
        return toks.groupBy("bucket").agg(F.count("*").alias(name))

    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        spine.join(F.broadcast(counts(target, "tcnt")), "bucket", "left")
        .join(F.broadcast(counts(source, "scnt")), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("tcnt", F.lit(0)).alias("tcnt"),
            F.coalesce("scnt", F.lit(0)).alias("scnt"),
        )
    )
    t_tot = target.select(F.sum(F.size(F.split(F.col("text"), " "))).alias("t")).crossJoin(
        source.select(F.sum(F.size(F.split(F.col("text"), " "))).alias("s"))
    )
    return (
        joined.join(F.broadcast(t_tot))
        .withColumn("tp", F.expr(f"(tcnt + 1) * 1000000000L div (t + {n_buckets})"))
        .withColumn("sp", F.expr(f"(scnt + 1) * 1000000000L div (s + {n_buckets})"))
        .select("bucket", F.expr("tp * 1000000L div sp").alias("w_ppm"))
    )


def dsir_importance(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    salt: str = "dsir",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with the :func:`dsir_bucket_weights` model:
    ``importance = sum`` of its tokens' bucket ``w_ppm``; the returned
    ``mean_w_ppm`` (integer div by token count) is the resampling key —
    target-like docs score ~10^6, off-target docs below.  Same
    broadcast-model inference plan as :func:`linear_quality_scores`:
    the corpus shuffles once (doc_id), the model never."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col("text"), " ")).alias("term")
    ).withColumn("bucket", _hash_bucket(F.col("term"), salt, n_buckets))
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w_ppm").cast("long").alias("importance"),
        )
        .withColumn("mean_w_ppm", F.expr("importance div n_tokens"))
    )


# ----------------------------------------------------------- yield funnel


def corpus_yield(
    docs: DataFrame,
    span_tokens: int = 16,
    min_tokens: int = 20,
    min_unique_num: int = 1,
    min_unique_den: int = 2,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
) -> DataFrame:
    """End-to-end training-corpus prep funnel: one row per cleaning
    stage with surviving ``(stage, n_docs, n_tokens)`` — the yield
    report every data pipeline publishes next to its training runs.

    Stages: raw -> exact dedup (keep min doc_id per md5(text)) ->
    global span dedup (docs whose every span was seen earlier are
    dropped; token counts shrink to the KEPT spans) -> quality floor
    (>= ``min_tokens`` kept tokens AND kept_spans/n_spans >=
    ``min_unique_num/min_unique_den`` — the ratio is compared in
    integers so the cut is exact on both engines) -> language filter.

    Scale shape: a linear funnel — each stage is a narrow filter over
    the previous stage's survivors; the one corpus-wide shuffle is the
    span-keeper groupBy+join (same plan as :func:`span_dedup`).  The
    per-doc span stats frame feeds three stages and is persisted
    (lifecycle-scoped via selfjoin_ready).
    """
    from .dedup import selfjoin_ready

    tok = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    base = docs.select("doc_id", "text", "lang", tok.alias("n_tokens"))

    keepers = base.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    s1 = selfjoin_ready(base.join(keepers, "doc_id", "leftsemi"))

    spans = doc_spans(s1, span_tokens)
    span_keep = spans.groupBy("span").agg(F.min(F.struct("doc_id", "pos")).alias("_keep"))
    per_doc = selfjoin_ready(
        spans.join(span_keep, "span")
        .withColumn("_is_first", F.struct("doc_id", "pos") == F.col("_keep"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("_is_first").cast("long")).alias("kept_spans"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_is_first"),
                        F.size(F.split(F.col("span"), r"\s+")).cast("long"),
                    )
                ),
                F.lit(0),
            ).alias("kept_tokens"),
        )
        .join(s1.select("doc_id", "lang"), "doc_id")
    )
    s2 = per_doc.filter(F.col("kept_spans") > 0)
    s3 = s2.filter(
        (F.col("kept_tokens") >= min_tokens)
        & (F.col("kept_spans") * min_unique_den >= F.col("n_spans") * min_unique_num)
    )
    s4 = s3.filter(F.col("lang").isin(*langs))

    def _stage(name: str, df: DataFrame, tokens_col: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_docs"), F.sum(tokens_col).alias("n_tokens")
        ).select(F.lit(name).alias("stage"), "n_docs", "n_tokens")

    return (
        _stage("00_raw", base, "n_tokens")
        .unionAll(_stage("01_exact_dedup", s1, "n_tokens"))
        .unionAll(_stage("02_span_dedup", s2, "kept_tokens"))
        .unionAll(_stage("03_quality", s3, "kept_tokens"))
        .unionAll(_stage("04_lang", s4, "kept_tokens"))
    )


# ------------------------------------------------------------ bloom dedup


def bloom_params(n_keys: int, bits_per_key: int = 10, n_hashes: int = 5):
    """Bloom sizing from the corpus count: m = next power of two >=
    bits_per_key * n (power of two only for SQL-mirrorable modulo; the
    false-positive rate at 10 bits/key, k=5 is ~1%).  Input-driven for
    the same reason `banded_params`/`minhash_params_scaled` are — a fixed m is
    exactly the class of bug that degrades silently at the next scale
    decade (an overloaded bloom returns maybe for everything and the
    prefilter stops pruning)."""
    m = 1 << max(6, math.ceil(math.log2(max(1, n_keys) * bits_per_key)))
    return m, n_hashes


def bloom_positions(fp: F.Column, m: int, k: int) -> F.Column:
    """k bit positions for a fingerprint: 60-bit integers from the first
    15 md5 hex chars of ``fp#i``, mod m — exact in BIGINT on both
    engines (the sampling/_hash_bucket convention, widened)."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(fp, F.lit(f"#{i}"))), 1, 15), 16, 10
                ).cast("bigint")
                % m
            )
            for i in range(k)
        ]
    )


def bloom_bitset(fps: DataFrame, m: int, k: int, max_bits: int = 1 << 30):
    """Build the bloom bitset for a fingerprint column ``fp``.

    Distributed: explode each fp into its k positions and aggregate the
    DISTINCT positions — the driver receives at most min(m, n*k) longs
    (an aggregate over the corpus, never the corpus).  Returns a numpy
    uint8 array of m/8 bytes.

    Raises when m exceeds ``max_bits`` instead of silently building an
    unbroadcastable bitset (1<<30 bits = 128 MiB, the practical
    broadcast ceiling); see the module docstring for the per-partition
    bloom shape beyond that.
    """
    if m > max_bits:
        raise ValueError(
            f"bloom bitset m={m} exceeds max_bits={max_bits} "
            f"({m >> 23} MiB): broadcast blooms stop at ~128 MiB — "
            "use per-partition blooms or the durable signature-table "
            "anti-join (dedup.build_signature_table) instead"
        )
    pos = (
        fps.select(F.explode(bloom_positions(F.col("fp"), m, k)).alias("pos"))
        .distinct()
        .collect()
    )
    bits = np.zeros(m // 8, dtype=np.uint8)
    idx = np.fromiter((r["pos"] for r in pos), dtype=np.int64)
    np.bitwise_or.at(bits, idx // 8, (1 << (idx % 8)).astype(np.uint8))
    return bits


def bloom_probe(bbits):
    """Membership test against a broadcast :func:`bloom_bitset` as one
    Arrow UDF over a :func:`bloom_positions` column: True where all ``k``
    of a row's bits are set (a bitset probe has no Column encoding)."""
    from pyspark.sql.functions import arrow_udf

    from ..functions.arrow import column_values

    def maybe_in(pos):
        import pyarrow as pa

        bs = bbits.value
        arr = column_values("pos", pos)  # (rows, k) int64
        hit = (bs[arr // 8] >> (arr % 8).astype(np.uint8)) & 1
        return pa.array(hit.all(axis=1))

    return arrow_udf(maybe_in, "boolean")


def incremental_dedup_bloom(
    corpus: DataFrame,
    batch: DataFrame,
    bits_per_key: int = 10,
    n_hashes: int = 5,
) -> DataFrame:
    """Dedup a new batch against an existing corpus without shuffling
    the corpus: ``(doc_id, bloom_maybe, is_dup)`` per batch document.

    1. fingerprint both sides (md5 of raw text — the exact-dup key);
    2. build a corpus bloom (:func:`bloom_bitset`, input-sized m) and
       broadcast the bitset;
    3. batch rows test membership in a vectorized Arrow batch
       (:func:`bloom_probe`);
    4. bloom-positive candidates are verified EXACTLY: the corpus is
       probed with a broadcast-hash semi-join against the (tiny)
       candidate fp set — map-only over the corpus — and the confirmed
       dup fps come back as a second broadcast onto the batch.

    The corpus is scanned three times (count for bloom sizing, bloom
    build, verify probe) and shuffled zero times; the batch is scanned
    once (persisted behind the Arrow probe) and never shuffled.  False
    positives are
    deterministic (md5), caught by the verify, and visible in the output
    as ``bloom_maybe=1, is_dup=0`` rows.
    """
    spark = corpus.sparkSession
    n = corpus.count()
    m, k = bloom_params(n, bits_per_key, n_hashes)

    cfp = corpus.select(F.md5(F.col("text")).alias("fp"))
    maybe_in = bloom_probe(spark.sparkContext.broadcast(bloom_bitset(cfp, m, k)))

    from .dedup import selfjoin_ready

    # the bloom-tested batch feeds three consumers (candidate set, verify,
    # final output) — persist it once so the scan + Arrow probe run once
    # (lifecycle-scoped: released by the registry wrapper / release_persists)
    b = selfjoin_ready(
        batch.select("doc_id", F.md5(F.col("text")).alias("fp")).withColumn(
            "bloom_maybe", maybe_in(bloom_positions(F.col("fp"), m, k))
        )
    )

    cands = b.filter(F.col("bloom_maybe")).select("fp").distinct()
    true_dups = (
        cfp.join(F.broadcast(cands), "fp", "leftsemi")
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return b.join(F.broadcast(true_dups), "fp", "left").select(
        "doc_id",
        F.col("bloom_maybe").cast("int").alias("bloom_maybe"),
        F.coalesce(F.col("_dup"), F.lit(0)).alias("is_dup"),
    )


# ------------------------------------------------------------- bigram LM


def _bigram_buckets(docs: DataFrame, n_buckets: int = 256,
                    salt: str = "blm") -> DataFrame:
    """(doc_id, b1, b2) hashed-bucket bigrams of each doc's token
    stream — one exploded pair per adjacent token position.

    The bucket array is bound to a column in its own projection first
    (opt r6): the two slices and the size() previously referenced the
    md5-per-token transform EXPRESSION, which interpreted HOF eval
    recomputes per reference — 3 bucket-chain evaluations per row; as
    an attribute it is computed once and the slices are cheap array
    views.  The small-file input is spread so the explode uses the
    cluster."""
    from ..plans.partitioning import spread

    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    bound = spread(docs).select(
        "doc_id",
        F.transform(toks, lambda w: _hash_bucket(w, salt, n_buckets)).alias("_b"),
    )
    n = F.size("_b")
    zipped = F.arrays_zip(
        F.slice("_b", 1, n - 1).alias("b1"),
        F.slice("_b", 2, n - 1).alias("b2"),
    )
    return bound.select("doc_id", F.explode(zipped).alias("p")).select(
        "doc_id", F.col("p.b1").alias("b1"), F.col("p.b2").alias("b2")
    )


def bigram_lm_model(target: DataFrame, n_buckets: int = 256,
                    salt: str = "blm") -> tuple[DataFrame, DataFrame]:
    """Train a hashed-bucket bigram LM on a target corpus (the CCNet
    shape: an in-domain LM scores how surprising each document is).
    Returns the two model dims — pair counts (<= n_buckets^2 rows) and
    context counts (<= n_buckets rows); both broadcast at scoring time,
    so the model is a fixed-size dimension at any corpus size.

    Integer contract (same discipline as ``dsir_bucket_weights``):
    add-1-smoothed conditional probability in ppb,
    ``p_ppb = (cnt2 + 1) * 10^9 div (cnt1 + n_buckets)``; BIGINT
    products bound the training corpus at ~9*10^9 tokens per run —
    beyond that train on a hash-sampled slice or sum per-shard counts
    (the aggregates are associative)."""
    pairs = _bigram_buckets(target, n_buckets, salt)
    cnt2 = pairs.groupBy("b1", "b2").agg(F.count("*").alias("cnt2"))
    cnt1 = pairs.groupBy("b1").agg(F.count("*").alias("cnt1"))
    return cnt2, cnt1


def bigram_lm_surprise(
    docs: DataFrame,
    cnt2: DataFrame,
    cnt1: DataFrame,
    n_buckets: int = 256,
    salt: str = "blm",
) -> DataFrame:
    """Score every doc by its total/mean integer "surprise" under the
    bigram LM: ``surprise = 10^12 div p_ppb`` per bigram (monotone in
    -log p, transcendental-free so bit-exact cross-engine; unseen pairs
    fall back to the smoothed floor through the same formula).  Two
    BROADCAST joins + one doc_id rollup — the corpus is scanned once
    and never shuffled by the model."""
    bg = _bigram_buckets(docs, n_buckets, salt)
    j = (
        bg.join(F.broadcast(cnt2), ["b1", "b2"], "left")
        .join(F.broadcast(cnt1), ["b1"], "left")
        .withColumn(
            "p_ppb",
            F.expr(
                f"(coalesce(cnt2, 0L) + 1) * 1000000000L"
                f" div (coalesce(cnt1, 0L) + {n_buckets})"
            ),
        )
        .withColumn("surprise", F.expr("1000000000000L div p_ppb"))
    )
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("surprise").alias("surprise_sum"),
        F.expr("sum(surprise) div count(*)").alias("mean_surprise"),
    )


# ------------------------------------------------ byte-balanced sharding


def shard_plan(
    docs: DataFrame,
    target_bytes: int = 8192,
    n_ranges: int = 1024,
    id_col: str = "doc_id",
    salt: str = "shard",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Byte-balanced output-shard assignment over a deterministic global
    shuffle — the write-side plan for materializing a corpus as uniform
    ~``target_bytes`` files (the "every output file is ~512 MB" contract
    a 100 TB training-data write needs; uneven shards mean straggler
    readers for every epoch of training that follows).

    Semantics: order all documents by a salted 48-bit md5 key (a global
    deterministic shuffle — reruns, retries, and cluster-size changes
    reproduce the identical order, which `rand()`/`repartition` cannot
    promise), take the running byte total, and assign each doc to the
    shard its START offset falls in: ``shard = (cum - bytes) div
    target``.  Whole docs are never split, so shards deviate from
    ``target_bytes`` by at most one document.

    Scale shape — the naive plan (one global ``ORDER BY`` window) is a
    single-partition sort of the corpus; this is instead the classic
    two-phase distributed prefix sum:

    1. docs are range-bucketed by the TOP bits of the shuffle key
       (``rid = key >> (48 - log2(n_ranges))`` — contiguous in key
       order by construction, no sampling pass needed);
    2. a windowed cumsum runs WITHIN each rid (partition size =
       corpus_bytes / n_ranges — ``n_ranges`` is the knob that keeps
       the sort in executor memory; at 100 TB set it to
       ~corpus_bytes / 256 MB);
    3. per-rid byte totals (one row per rid) are cumsummed on a single
       tiny partition and broadcast-joined back as range offsets.

    The corpus is shuffled ONCE (the rid exchange; the window sort
    reuses it) and the only global ordering ever materialized is the
    ``n_ranges``-row offsets frame.  At deploy scale run the plan over
    the (id, key, bytes) projection only and join the payload back by
    id for the write — the text column never rides through the window.

    ``carry`` names passthrough columns kept on the output (used by
    :func:`shard_plan_stats` for per-shard mix columns).

    Reference analog: the reference's routed writes
    (/root/reference/scripts/parse_logs.py:311-390) append rows to
    per-day files with no size control; this is the size-governed
    equivalent a columnar sink needs.
    """
    if n_ranges & (n_ranges - 1) or n_ranges <= 0:
        raise ValueError(f"n_ranges must be a power of two, got {n_ranges}")
    shift = 48 - int(math.log2(n_ranges))
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "-"), F.col(id_col).cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        key.alias("key"),
        F.octet_length("text").cast("long").alias("bytes"),
    ).withColumn("rid", F.shiftright(F.col("key"), shift))
    w_in = (
        Window.partitionBy("rid")
        .orderBy("key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # offsets: one row per occupied rid; the no-partition window is a
    # deliberate single tiny partition (<= n_ranges rows, an aggregate
    # output — never the corpus).
    w_r = Window.orderBy("rid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = (
        base.groupBy("rid")
        .agg(F.sum("bytes").alias("_rb"))
        .select("rid", (F.sum("_rb").over(w_r) - F.col("_rb")).alias("_off"))
    )
    return (
        base.withColumn("_cum_in", F.sum("bytes").over(w_in))
        .join(F.broadcast(offs), "rid")
        .select(
            id_col,
            *carry,
            "key",
            "bytes",
            F.expr(f"(_cum_in + _off - bytes) DIV {target_bytes}").alias("shard"),
        )
    )


def shard_plan_stats(planned: DataFrame) -> DataFrame:
    """Per-shard manifest from :func:`shard_plan` output (carry must
    include lang/source): ``(shard, n_docs, shard_bytes, n_langs,
    n_sources)``.  n_langs/n_sources witness that the hash order
    actually decorrelates the input clustering (a corpus written in
    crawl order gives one-host shards; a shuffled one mixes)."""
    return planned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bytes").alias("shard_bytes"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )


# --------------------------------------------------------- inverted index


def inverted_index(
    docs: DataFrame,
    k: int = 5,
    salt_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Capped inverted index: per term, document frequency plus the
    top-``k`` postings by ``(tf DESC, doc_id ASC)`` — the materialized
    retrieval structure behind :func:`bm25_topk` (which scores one
    query map-only; THIS is what you build when queries are not known
    in advance).

    Skew: the per-term top-k is where a naive plan dies at corpus
    scale — a ranking window partitioned by ``term`` puts every posting
    of a stopword (df ≈ corpus size) into ONE task.  Here the top-k
    runs TWO-PHASE (the ``operators/skew.py`` discipline): postings are
    salted by ``xxhash64(doc_id) % salt_buckets``, phase 1 ranks inside
    ``(term, salt)`` and keeps k per bucket, phase 2 ranks the
    ≤ ``salt_buckets × k`` survivors per term — bit-identical to the
    plain window (per-posting sort keys are complete before salting,
    so the global top-k is a subset of the union of bucket top-ks; the
    equality is pinned by test + the registered oracle), with the
    hottest term bounded at ``max(df/salt_buckets, salt_buckets·k)``
    rows per task.  The tf build itself is one map-side-combined
    groupBy on ``(term, doc)`` — row skew is absorbed there."""
    words = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = (
        words.groupBy("term", id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    salted = tf.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("term", "_salt").orderBy(
        F.desc("tf"), F.asc(id_col)
    )
    cand = salted.withColumn("_r", F.row_number().over(w1)).filter(
        F.col("_r") <= k
    )
    w2 = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc(id_col))
    top = cand.withColumn(
        "rnk", F.row_number().over(w2).cast("long")
    ).filter(F.col("rnk") <= k)
    return top.join(dfreq, "term").select("term", "df", id_col, "tf", "rnk")


# ------------------------------------------------------- doc chunking


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-window document chunking WITH OVERLAP — the
    splitter a retrieval/embedding pipeline runs (one doc → many
    context-window pieces that share ``overlap`` boundary tokens), the
    dual of :func:`pack_sequences` (which concatenates; this splits).

    Chunks start every ``stride = chunk_tokens - overlap`` tokens;
    ``n_chunks = max(1, ceil((n - overlap) / stride))`` computed in
    integer arithmetic, so a final all-overlap chunk never appears and
    an empty-ish doc still yields one chunk.  Returns one row per chunk
    ``(doc_id, chunk_id, start_tok, n_chunk_tokens, chunk_md5)`` with
    the chunk's exact text md5-pinned.

    Map-only: split, an integer chunk-count expression, one
    ``explode(sequence(...))`` and a slice — no shuffle, no Python; a
    doc's chunk fan-out is bounded by its own length, so the pass is
    embarrassingly parallel at 10^12 docs."""
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("long")
    nc = F.greatest(
        F.lit(1).cast("long"),
        F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("long"),
    )
    rows = docs.select(
        id_col,
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0).cast("long"), nc - 1)).alias("chunk_id"),
    )
    start = (F.col("chunk_id") * stride).cast("long")
    piece = F.slice(F.col("_toks"), (start + 1).cast("int"), chunk_tokens)
    return rows.select(
        id_col,
        "chunk_id",
        start.alias("start_tok"),
        F.least(F.lit(chunk_tokens).cast("long"), F.col("_n") - start).alias(
            "n_chunk_tokens"
        ),
        F.md5(F.encode(F.array_join(piece, " "), "UTF-8")).alias("chunk_md5"),
    )


# -------------------------------------------------------- collocations


def pmi_top_bigrams(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` collocations: adjacent-token bigrams ranked by an
    integer PMI surrogate — the corpus statistic tokenizer-merge
    audits and phrase-mining passes read (is 'new york' a unit or a
    coincidence).

    Score: ``(n_ab·10^6 div n_a)·10^6 div n_b`` — monotone in the PMI
    core n_ab/(n_a·n_b) with the floor-division stepping DEFINED into
    the metric (both engines floor identically; the log is monotone so
    ranking by the rational core ranks by PMI — the bm25/top_terms rule
    of keeping transcendentals out of hashed values).  ``min_count``
    keeps the one-off pairs PMI notoriously over-ranks out of the top-k.

    Plan: bigram extraction is map-only (zipped shifted slices of the
    bound token array + explode — no self-join, and no per-position
    element_at against the split EXPRESSION, which interpreted HOF eval
    re-splits per access: O(words²) splits per doc in the previous
    shape, opt r6); pair and unigram counts are map-side-combined
    groupBys; the final rank is TakeOrderedAndProject over pairs
    passing ``min_count``.  Everything shuffled is count rows, never
    corpus rows."""
    from ..plans.partitioning import spread

    base = spread(docs).select(F.split(F.col(text_col), " ").alias("_t"))
    n = F.size("_t")
    pairs = base.select(
        F.explode(
            F.arrays_zip(
                F.slice("_t", 1, n - 1).alias("w1"),
                F.slice("_t", 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        base.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("nw"))
    )
    bi = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    ).filter(F.col("n_ab") >= min_count)
    scored = (
        bi.join(F.broadcast(uni.withColumnRenamed("w", "w1")
                            .withColumnRenamed("nw", "n_a")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                          .withColumnRenamed("nw", "n_b")), "w2")
        .selectExpr(
            "w1", "w2", "n_ab",
            "(n_ab * 1000000L div n_a) * 1000000L div n_b AS score",
        )
    )
    return scored.orderBy(
        F.desc("score"), F.asc("w1"), F.asc("w2")
    ).limit(k)


# ----------------------------------------------- PPS systematic sampling


def pps_systematic_sample(
    docs: DataFrame,
    n: int,
    weight_col: str = "n_chars",
    n_ranges: int = 1024,
    id_col: str = "doc_id",
    salt: str = "pps",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sample of ~``n`` docs:
    lay every document's weight end to end along the deterministic
    salted-hash global order (the :func:`shard_plan` shuffle — reruns
    and cluster-size changes reproduce the identical order), then take
    every ``step = total_weight div n``-th point of the line starting at
    ``phase = step div 2``; a document is sampled once per grid point
    its weight interval covers.

    This is the curation sampler that "pick n docs uniformly" gets
    wrong: inclusion probability is exactly proportional to weight
    (token count, quality score, source boost) with sample size FIXED
    at n or n+1 — no rejection pass, no rand() nondeterminism, no
    per-group reservoir state.  A doc heavier than ``step`` is hit
    multiple times; ``n_hits`` is its multiplicity (the
    Horvitz-Thompson replication count — keep it for unbiased
    reweighting).  Rows with weight <= 0 are excluded (they have zero
    inclusion probability by definition).

    Scale shape: the same two-phase distributed prefix sum as
    :func:`shard_plan` (one corpus shuffle, window sorts bounded by
    corpus/n_ranges, a broadcast ``n_ranges``-row offsets frame and a
    broadcast 1-row total) — never a single-partition global sort.
    All arithmetic is non-negative integer div, identical in DuckDB.
    """
    if n_ranges & (n_ranges - 1) or n_ranges <= 0:
        raise ValueError(f"n_ranges must be a power of two, got {n_ranges}")
    shift = 48 - int(math.log2(n_ranges))
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "-"), F.col(id_col).cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    base = (
        docs.filter(F.col(weight_col) > 0)
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            key.alias("key"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .withColumn("rid", F.shiftright(F.col("key"), shift))
    )
    w_in = (
        Window.partitionBy("rid")
        .orderBy("key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_r = Window.orderBy("rid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = (
        base.groupBy("rid")
        .agg(F.sum("w").alias("_rw"))
        .select("rid", (F.sum("_rw").over(w_r) - F.col("_rw")).alias("_off"))
    )
    tot = base.agg(
        F.expr(f"sum(w) div {n}L").alias("step"),
        F.expr(f"(sum(w) div {n}L) div 2L").alias("phase"),
    )
    cum = (
        base.withColumn("_cum_in", F.sum("w").over(w_in))
        .join(F.broadcast(offs), "rid")
        .crossJoin(F.broadcast(tot))
        .select(
            id_col,
            *carry,
            "w",
            (F.col("_cum_in") + F.col("_off")).alias("cum"),
            "step",
            "phase",
        )
    )
    # grid points phase + m*step covered by (cum - w, cum]; the +step
    # keeps every numerator non-negative (Spark div truncates toward
    # zero, DuckDB // floors — they agree only at >= 0)
    hits = F.expr("(cum - phase + step) div step - (cum - w - phase + step) div step")
    return (
        cum.withColumn("n_hits", hits.cast("long"))
        .filter(F.col("n_hits") >= 1)
        .select(id_col, *carry, "w", "n_hits")
    )


def bloom_semijoin(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    bits_per_key: int = 10,
    n_hashes: int = 5,
) -> DataFrame:
    """Bloom-prefiltered equi-join, fact side: keep only the fact rows
    whose ``key`` MIGHT match ``dim`` — the explicit form of the
    runtime row-level filtering AQE injects for selective joins, usable
    when the planner can't (non-parquet sources, pre-built frames,
    key expressions).  With a selective dim, the join's fact-side
    shuffle shrinks by the non-match fraction BEFORE any exchange; the
    dim is aggregated into an input-sized bitset (:func:`bloom_params`
    sizing — never a fixed m) and broadcast, the probe is one
    vectorized Arrow pass.  False positives (~1% at 10 bits/key) are
    deterministic (md5) and removed by the join itself — the composed
    result is row-identical to the plain join, which is the registered
    oracle's check.  Returns the prefiltered ``facts`` (same schema).
    """
    spark = facts.sparkSession
    n = dim.count()
    m, k = bloom_params(n, bits_per_key, n_hashes)
    bits = bloom_bitset(
        dim.select(F.col(key).cast("string").alias("fp")), m, k
    )
    maybe_in = bloom_probe(spark.sparkContext.broadcast(bits))

    return facts.withColumn(
        "_maybe",
        maybe_in(bloom_positions(F.col(key).cast("string"), m, k)),
    ).filter(F.col("_maybe")).drop("_maybe")


# ------------------------------------------------- reciprocal rank fusion


def rrf_fuse(
    sources: list[tuple[DataFrame, str]],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of
    multiple top-k rankings — the standard hybrid-retrieval combiner
    (lexical BM25 + semantic embedding NN) for eval-set mining and
    decontamination drill-downs: score = Σ_sources 1/(c + rank).

    Integer contract: each source's contribution is
    ``10^6 div (c + rank)`` (BIGINT), so fusion is exact on any engine
    — ranks come from ``row_number`` over (source score DESC, id ASC),
    where source scores are the inputs' already-rounded outputs,
    bit-equal cross-engine by those operators' own contracts.

    Each input is ``(frame, score_col)`` where the frame is a TOP-K
    RANKING (already cut by TakeOrderedAndProject) — k rows, not a
    corpus — so the unpartitioned row_number window here is a k-row
    frame on one task, and the union/groupBy shuffles ≤ Σk rows total.
    The corpus-sized work lives inside the source rankings; fusion is
    O(sources · k) at any corpus scale.

    Returns ``(id_col, rrf_score, n_sources)`` — top-``k`` by
    (rrf_score DESC, id ASC).
    """
    parts = []
    for df, score_col in sources:
        w = Window.orderBy(F.desc(score_col), F.asc(id_col))
        parts.append(
            df.select(
                F.col(id_col),
                F.row_number().over(w).alias("_rnk"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return (
        u.groupBy(id_col)
        .agg(
            F.sum(F.expr(f"1000000L div ({c} + _rnk)")).alias("rrf_score"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def rrf_sql(
    source_ctes: list[tuple[str, str]],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`rrf_fuse`: ``source_ctes`` is
    ``[(cte_name, score_col), ...]`` where each named CTE (declared by
    the caller) yields ``(id_col, score_col)`` rows."""
    ranked = ", ".join(
        f"rk_{i} AS (SELECT {id_col}, row_number() OVER "
        f"(ORDER BY {sc} DESC, {id_col} ASC) AS rnk FROM {name})"
        for i, (name, sc) in enumerate(source_ctes)
    )
    unioned = " UNION ALL ".join(
        f"SELECT * FROM rk_{i}" for i in range(len(source_ctes))
    )
    return f"""
{ranked},
u AS ({unioned})
SELECT {id_col},
       CAST(sum(1000000 // ({c} + rnk)) AS BIGINT) AS rrf_score,
       CAST(count(*) AS BIGINT) AS n_sources
FROM u GROUP BY 1
ORDER BY rrf_score DESC, {id_col} ASC LIMIT {k}
"""


# ------------------------------------------- weighted lexical overlap join


def tfidf_overlap_pairs(
    docs: DataFrame,
    ngram: int = 2,
    df_cap: int = 50,
    min_score: int = 300_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-filtered weighted lexical similarity join (the inverted-
    index / DISCO shape): pairs of documents scored by the integer
    TF·IDF dot product over shared RARE n-grams —
    ``Σ_t tf_a(t)·tf_b(t)·(N·10³ div df(t))`` — the sixth near-dup
    family: weighted lexical evidence, complementing set-based MinHash
    (unweighted Jaccard), SimHash (bit votes), edit distance
    (character-level) and embedding cosine (semantic).

    The ``df_cap`` is an ABSOLUTE posting-list budget, which is the
    whole scale argument: only n-grams appearing in ≤ ``df_cap`` docs
    are indexed, so the self-join's candidate volume is bounded by
    ``distinct_terms · df_cap²`` — linear in vocabulary growth, never
    N² (common terms carry ~no pair information AND the quadratic
    blowup, so the same cut removes both; a RELATIVE cap like df ≤ N/4
    would scale posting lists with N and go quadratic).  On a bounded-
    vocabulary corpus the same n-gram order saturates as N grows and
    terms fall OUT of the index (output self-limits); the scale dial is
    then the n-gram ORDER — the simhash 3-gram / editdist decade-dial
    pattern.

    Plan: explode → (doc, term, tf) aggregate → df aggregate (term-dim
    sized) → rare filter → one equi-join on the term key (never a cross
    product) → pair aggregate.  Everything integer; the 1-row corpus
    count broadcasts.

    Returns ``(doc_a, doc_b, shared_terms, overlap_score)`` for pairs
    with score ≥ ``min_score``, doc_a < doc_b.
    """
    from .dedup import word_shingles

    from .dedup import selfjoin_ready
    from ..plans.partitioning import spread

    # fan small-file inputs over the cluster before the shingle explode
    # (guide §2.5 input skew: the sf tables are one file = one scan
    # partition, which serialized the explode/tf pipeline onto 1-2 tasks;
    # no-op on well-partitioned production input)
    sh = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), ngram)).alias("w"),
    )
    # (doc, term, tf) feeds THREE consumers (corpus count, df aggregate,
    # index build) — persist via the lifecycle registry so the explode/
    # aggregate pipeline runs once
    tok = selfjoin_ready(
        sh.groupBy("doc_id", "w").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
    )
    stats = tok.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    rare = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= df_cap)
    )
    # the indexed frame feeds both self-join sides: persist it too or
    # the rare-join runs twice (tok + idx persists together: measured
    # 58s -> single-digit at sf0.1)
    idx = selfjoin_ready(
        tok.join(rare, "w")
        .join(F.broadcast(stats))
        .selectExpr("doc_id", "w", "tf", "n * 1000L div df AS idf_k")
    )
    a = idx.select(
        F.col("doc_id").alias("doc_a"),
        "w",
        F.col("tf").alias("_tfa"),
        F.col("idf_k"),
    )
    b = idx.select(
        F.col("doc_id").alias("doc_b"), "w", F.col("tf").alias("_tfb")
    )
    return (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_terms"),
            F.sum(F.col("_tfa") * F.col("_tfb") * F.col("idf_k"))
            .cast("long")
            .alias("overlap_score"),
        )
        .filter(F.col("overlap_score") >= min_score)
    )


def tfidf_overlap_sql(
    ngram: int = 2,
    df_cap: int = 50,
    min_score: int = 300_000,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`tfidf_overlap_pairs` — identical shingle
    rule (short texts yield one whole-text term, same as word_shingles),
    identical integer idf and pair aggregation."""
    gram = " || ' ' || ".join(f"lt[i+{j}]" for j in range(ngram))
    return f"""
WITH la AS (SELECT doc_id, text, string_split(text, ' ') AS lt FROM {table}),
terms AS (SELECT doc_id,
                 CASE WHEN len(lt) >= {ngram}
                      THEN list_transform(range(1, len(lt) - {ngram - 2}),
                                          i -> {gram})
                      ELSE [text] END AS ws
          FROM la),
tok AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(ws) AS w FROM terms) GROUP BY 1, 2),
stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
rare AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1
         HAVING count(*) <= {df_cap}),
idx AS (SELECT t.doc_id, t.w, t.tf, (SELECT n FROM stats) * 1000 // r.df AS idf_k
        FROM tok t JOIN rare r ON r.w = t.w)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_terms,
       CAST(sum(a.tf * b.tf * a.idf_k) AS BIGINT) AS overlap_score
FROM idx a JOIN idx b ON a.w = b.w AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING sum(a.tf * b.tf * a.idf_k) >= {min_score}
"""


def containment_pairs(
    docs: DataFrame,
    ngram: int = 4,
    df_cap: int = 50,
    min_containment_k: int = 800,
    min_evidence: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC containment near-dup join (the seventh near-dup
    family): directional pairs ``(doc_a contained-in doc_b)`` scored by
    set containment ``C(A,B) = |S(A) ∩ S(B)| / |S(A)|`` over word
    n-gram shingles — the quantity Jaccard families structurally miss:
    a 10-word quote inside a 10k-word page has Jaccard ~0.001 (invisible
    to MinHash/SimHash at any plausible threshold) but containment 1.0.
    This is how quote farms, syndicated snippets, and scraped-excerpt
    sites are found in web corpora (Broder's original resemblance paper
    defines both; the symmetric half got all the deployments).

    Both numerator and denominator live in the INDEXED (rare) shingle
    universe: only shingles appearing in ≤ ``df_cap`` docs are posted
    (the tfidf_overlap_pairs absolute-budget scale argument — candidate
    volume ≤ distinct_shingles · cap², linear in vocabulary growth,
    never N²), and ``evidence_size`` counts doc_a's RARE distinct
    shingles, so a planted exact excerpt scores containment_k = 1000 at
    ANY corpus scale (a raw-|S(A)| denominator would decay as common
    shingles fall out of the index with N).  Docs with fewer than
    ``min_evidence`` indexed shingles are excluded — one shared rare
    shingle is not containment evidence.

    Plan: shingle explode (map-only) -> distinct -> df aggregate
    (shingle-dim sized) -> rare filter -> ONE equi-join on the shingle
    key (never a cross product) -> directional pair aggregate -> join
    doc_a's evidence size.  Everything integer
    (``containment_k = shared·1000 div evidence``).  The indexed frame
    feeds THREE consumers (both self-join sides + the evidence sizes),
    so it goes through :func:`~.dedup.selfjoin_ready` — computed once,
    lifecycle-scoped persist (measured 78s -> single-digit at sf0.1
    without it the shingle/distinct pipeline runs three times).

    Returns ``(doc_a, doc_b, shared_shingles, evidence_size,
    containment_k)`` with doc_a ≠ doc_b (directional — A-in-B and
    B-in-A are different facts with different denominators).
    """
    from .dedup import selfjoin_ready, word_shingles
    from ..plans.partitioning import spread

    # spread: same small-file fan-out rationale as tfidf_overlap_pairs
    tok = selfjoin_ready(
        spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(F.col(text_col), ngram)).alias("w"),
        ).distinct()
    )
    rare = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("w")
    )
    idx = selfjoin_ready(tok.join(rare, "w"))
    sizes = idx.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("evidence_size")
    )
    a = idx.select(F.col("doc_id").alias("doc_a"), "w")
    b = idx.select(F.col("doc_id").alias("doc_b"), "w")
    pairs = (
        a.join(b, "w")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_shingles"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .filter(F.col("evidence_size") >= min_evidence)
        .withColumn(
            "containment_k",
            F.expr("shared_shingles * 1000L div evidence_size"),
        )
        .filter(F.col("containment_k") >= min_containment_k)
        .select(
            "doc_a", "doc_b", "shared_shingles", "evidence_size",
            "containment_k",
        )
    )


def containment_sql(
    ngram: int = 4,
    df_cap: int = 50,
    min_containment_k: int = 800,
    min_evidence: int = 3,
    docs_cte: str = "documents",
) -> str:
    """DuckDB oracle for :func:`containment_pairs` — identical shingle
    rule (short texts yield one whole-text shingle), identical rare
    filter, directional pairs, integer containment."""
    gram = " || ' ' || ".join(f"lt[i+{j}]" for j in range(ngram))
    return f"""
la AS (SELECT doc_id, text, string_split(text, ' ') AS lt FROM {docs_cte}),
cterms AS (SELECT doc_id,
                  CASE WHEN len(lt) >= {ngram}
                       THEN list_transform(range(1, len(lt) - {ngram - 2}),
                                           i -> {gram})
                       ELSE [text] END AS ws
           FROM la),
ctok AS (SELECT DISTINCT doc_id, w
         FROM (SELECT doc_id, unnest(ws) AS w FROM cterms)),
crare AS (SELECT w FROM ctok GROUP BY w HAVING count(*) <= {df_cap}),
cidx AS (SELECT t.doc_id, t.w FROM ctok t JOIN crare r USING (w)),
csizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS evidence_size
           FROM cidx GROUP BY 1),
cpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(count(*) AS BIGINT) AS shared_shingles
           FROM cidx a JOIN cidx b ON a.w = b.w AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.shared_shingles,
       s.evidence_size,
       CAST(p.shared_shingles * 1000 // s.evidence_size AS BIGINT)
         AS containment_k
FROM cpairs p JOIN csizes s ON s.doc_id = p.doc_a
WHERE s.evidence_size >= {min_evidence}
  AND p.shared_shingles * 1000 // s.evidence_size >= {min_containment_k}
"""


# ------------------------------------------------------ blocklist filter

#: stand-in for the C4 "bad words" list (the released list is ~400
#: entries; the operator's shape is identical at that size — the list
#: rides into the codegen'd expression as a literal array, never a join)
BADWORD_LIST: tuple[str, ...] = ("slow", "big", "dup")


def badword_yield(
    docs: DataFrame,
    badwords: tuple[str, ...] = BADWORD_LIST,
    max_bad_ppm: int = 80_000,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """C4-style token-blocklist filter with a per-source yield report
    (Raffel et al. 2020 drop any page containing a listed word; the
    ppm-threshold form here is the softer production variant that
    tolerates incidental single hits on long pages).  A document is
    flagged when blocklisted tokens exceed ``max_bad_ppm`` parts per
    million of its whitespace tokens — a RATIO test, so verdicts are
    length-stable: the same page flags identically whether the corpus
    is 1 GB or 100 TB.

    Returns per source: ``(source, docs_total, docs_flagged, bad_tokens,
    kept_ppm)`` — the curation dashboard row that says what the filter
    costs per upstream feed.  All integers.

    Plan / 100 TB shape: token verdicts are ``size(filter(split(...)))``
    against a literal array — map-only, zero Python, whole-stage
    codegen; the rollup is one source-keyed groupBy with map-side
    partials (sources are a dimension, so the shuffle is dim-sized).
    One corpus scan total."""
    words = F.split(F.col(text_col), " ")
    lit_list = F.array(*[F.lit(w) for w in badwords])
    n_tokens = F.size(words).cast("long")
    n_bad = F.size(
        F.filter(words, lambda t: F.array_contains(lit_list, t))
    ).cast("long")
    per_doc = docs.select(
        F.col(source_col).alias("source"),
        n_tokens.alias("n_tokens"),
        n_bad.alias("n_bad"),
    ).withColumn(
        "flagged",
        F.when(
            (F.col("n_tokens") > 0)
            & (F.col("n_bad") * F.lit(1_000_000)
               > F.lit(max_bad_ppm) * F.col("n_tokens")),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum("flagged").cast("long").alias("docs_flagged"),
            F.sum("n_bad").cast("long").alias("bad_tokens"),
        )
        .withColumn(
            "kept_ppm",
            F.expr("(docs_total - docs_flagged) * 1000000L div docs_total"),
        )
    )


def badword_yield_sql(
    badwords: tuple[str, ...] = BADWORD_LIST,
    max_bad_ppm: int = 80_000,
    docs_cte: str = "documents",
) -> str:
    """DuckDB oracle for :func:`badword_yield` — same literal list,
    same strict ppm inequality, same integer arithmetic."""
    lst = ", ".join(f"'{w}'" for w in badwords)
    return f"""
WITH bw AS (SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                                        t -> list_contains([{lst}], t)))
                        AS BIGINT) AS n_bad
            FROM {docs_cte}),
bv AS (SELECT source, n_tokens, n_bad,
              CASE WHEN n_tokens > 0
                    AND n_bad * 1000000 > {max_bad_ppm} * n_tokens
                   THEN 1 ELSE 0 END AS flagged
       FROM bw)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_total,
       CAST(sum(flagged) AS BIGINT) AS docs_flagged,
       CAST(sum(n_bad) AS BIGINT) AS bad_tokens,
       CAST((count(*) - sum(flagged)) * 1000000 // count(*) AS BIGINT)
         AS kept_ppm
FROM bv GROUP BY source
"""


# --------------------------------------------------------- phrase search

def phrase_search(
    docs: DataFrame,
    phrase: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase retrieval via positional posting-list adjacency —
    the third retrieval geometry beside BM25 (bag-of-words ranking) and
    embedding ANN (semantic): find documents containing the EXACT token
    sequence ``phrase``, with match counts and the first match offset.
    BM25 cannot distinguish "new york" from "york new"; this can — the
    phrase-query shape behind quoted search, citation mining, and
    targeted contamination audits.

    Offset-normalized intersection (the classical positional-index
    algorithm): each occurrence of ``phrase[i]`` at token position
    ``pos`` votes for candidate start ``pos - i``; a start supported by
    ALL k phrase offsets is a match.  Repeated phrase tokens are
    handled exactly — one position can support several offsets, and
    the vote count is over DISTINCT offsets.

    Returns ``(doc_id, n_matches, first_pos)`` for docs with >= 1
    match (overlapping matches each count: "a a a" contains two
    "a a").

    Plan / 100 TB shape: one corpus scan (posexplode) with the tiny
    phrase-term set filtered IMMEDIATELY after the generator — only
    posting-list rows (corpus frequency of the query terms, not corpus
    size) reach the first shuffle; then two partial-agg groupBys
    ((doc, start) votes, then doc rollup).  Never a self-join, never a
    window.  In production the (term, doc, pos) frame is a durable
    inverted index built once and range-partitioned by term; the query
    path then touches only the k posting lists."""
    k = len(phrase)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    ).filter(F.col("term").isin(*set(phrase)))
    # one row per (occurrence, supported offset)
    votes = toks.select(
        "doc_id",
        "pos",
        F.explode(
            F.filter(
                F.array(*[F.lit(i) for i in range(k)]),
                lambda i: F.element_at(
                    F.array(*[F.lit(w) for w in phrase]), i + 1
                ) == F.col("term"),
            )
        ).alias("off"),
    ).select(
        "doc_id",
        (F.col("pos") - F.col("off")).cast("long").alias("start"),
        "off",
    ).filter(F.col("start") >= 0).distinct()
    starts = (
        votes.groupBy("doc_id", "start")
        .agg(F.count(F.lit(1)).alias("n_off"))
        .filter(F.col("n_off") == k)
    )
    return starts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("start").cast("long").alias("first_pos"),
    )


def phrase_search_sql(
    phrase: tuple[str, ...], docs_cte: str = "documents"
) -> str:
    """DuckDB oracle for :func:`phrase_search` — identical
    offset-normalized intersection over the same whitespace positions
    (0-based to match ``posexplode``)."""
    k = len(phrase)
    lst = ", ".join(f"'{w}'" for w in phrase)
    return f"""
WITH pl AS (SELECT doc_id, string_split(text, ' ') AS lt FROM {docs_cte}),
pt AS (SELECT doc_id, i - 1 AS pos, lt[i] AS term
       FROM (SELECT doc_id, lt, unnest(range(1, len(lt) + 1)) AS i FROM pl)
       WHERE lt[i] IN ({lst})),
pv AS (SELECT DISTINCT doc_id, pos - off AS start, off
       FROM pt, (SELECT unnest(range({k})) AS off) o
       WHERE [{lst}][off + 1] = term AND pos - off >= 0),
ps AS (SELECT doc_id, start FROM pv
       GROUP BY doc_id, start HAVING count(*) = {k})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(start) AS BIGINT) AS first_pos
FROM ps GROUP BY doc_id
"""


# ------------------------------------------------ content-defined chunks

def content_chunks(
    docs: DataFrame,
    k: int = 2,
    divisor: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the LBFS/FastCDC boundary rule over
    word tokens): cut AFTER token ``i`` whenever the 32-bit hash of the
    ``k``-token gram ending at ``i`` is ``0 mod divisor`` — so chunk
    boundaries are a function of local CONTENT, not of position.  This
    is the property fixed-window schemes lack: insert one token at the
    front of a document and every fixed window shifts (zero matches),
    while content-defined boundaries resynchronize within ~``divisor``
    tokens and every later chunk hashes identically — the storage-dedup
    primitive (CAS stores, backup systems, chunk-level corpus storage)
    beside the similarity-oriented near-dup families.

    Returns one row per chunk: ``(doc_id, chunk_idx, chunk_md5,
    n_toks)`` with ``chunk_idx`` counting from 0 in token order and
    ``chunk_md5`` hashing the space-joined chunk tokens.  Expected
    chunk length is ~``divisor`` tokens (geometric); the first ``k-1``
    positions never cut (no full gram yet), and the document end always
    ends the last chunk.

    Plan / 100 TB shape (opt r6): chunking is a PER-DOCUMENT sequential
    decision, so the whole token→cut→chunk pipeline runs inside ONE
    Arrow batch stage — map-only, zero shuffle of token rows (the
    previous shape exploded every token, paid a doc-keyed window sort
    shuffle for the running cut count, and rebuilt chunks with a
    collect_list groupBy: two corpus-token shuffles that carried no
    cross-document information).  md5 of a UTF-8 string is identical in
    hashlib and the JVM, and Python ``split(" ")`` matches
    ``F.split(text, " ")`` (both keep empty tokens), so every boundary,
    chunk_idx, and chunk_md5 is byte-identical to the Column-expression
    shape — pinned by the resynchronization unit tests and the full
    DuckDB oracle."""
    import hashlib

    from ..functions.arrow import numpy_stage
    from ..plans.partitioning import spread

    def _chunks(cols):
        ids, idxs, md5s, ntoks = [], [], [], []
        for did, text in zip(cols["doc_id"].tolist(), cols["_text"]):
            if text is None:
                continue
            toks = text.split(" ")
            n = len(toks)
            chunk: list[str] = []
            ci = 0
            for i, tok in enumerate(toks):
                chunk.append(tok)
                if i >= k - 1 and i < n - 1:
                    gram = " ".join(toks[i - k + 1 : i + 1])
                    fp = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
                    if fp % divisor == 0:
                        ids.append(did)
                        idxs.append(ci)
                        md5s.append(hashlib.md5(" ".join(chunk).encode()).hexdigest())
                        ntoks.append(len(chunk))
                        chunk = []
                        ci += 1
            if chunk:
                ids.append(did)
                idxs.append(ci)
                md5s.append(hashlib.md5(" ".join(chunk).encode()).hexdigest())
                ntoks.append(len(chunk))
        return {"doc_id": ids, "chunk_idx": idxs, "chunk_md5": md5s, "n_toks": ntoks}

    bound = spread(docs).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )
    return numpy_stage(
        bound, "doc_id long, chunk_idx long, chunk_md5 string, n_toks long", _chunks
    )


def chunk_storage_stats(
    docs: DataFrame, k: int = 2, divisor: int = 8, **kw
) -> DataFrame:
    """Corpus-level storage-dedup report over :func:`content_chunks`:
    how much a chunk-level content-addressed store would save.  One
    row: total/distinct chunk counts, total token mass, the saved mass
    in ppm (instances beyond the first per distinct chunk), and mean
    chunk length in millitokens — all integers.

    The distinct-side token mass uses ``max(n_toks)`` per chunk_md5
    (equal texts have equal token counts, so the max is THE value)."""
    ch = content_chunks(docs, k=k, divisor=divisor, **kw)
    per = ch.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).cast("long").alias("copies"),
        F.max("n_toks").alias("toks"),
    )
    return per.agg(
        F.sum("copies").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("distinct_chunks"),
        F.sum(F.col("copies") * F.col("toks")).cast("long").alias("total_tokens"),
        F.sum((F.col("copies") - 1) * F.col("toks")).cast("long").alias("dup_tokens"),
    ).select(
        "n_chunks",
        "distinct_chunks",
        "total_tokens",
        F.expr("dup_tokens * 1000000L div total_tokens").alias("saved_token_ppm"),
        F.expr("total_tokens * 1000L div n_chunks").alias("avg_chunk_millitoks"),
    )


def chunk_storage_sql(
    k: int = 2, divisor: int = 8, docs_cte: str = "documents"
) -> str:
    """DuckDB oracle for :func:`chunk_storage_stats` — same gram/boundary
    rule, same running-sum chunk index, same integer report."""
    return f"""
WITH ct AS (SELECT doc_id, string_split(text, ' ') AS lt FROM {docs_cte}),
cp AS (SELECT doc_id, lt, unnest(range(1, len(lt) + 1)) AS i FROM ct),
cf AS (SELECT doc_id, i - 1 AS pos, lt[i] AS tok,
              CASE WHEN i >= {k}
                    AND CAST('0x' || substr(
                          md5(array_to_string(lt[i - {k - 1}:i], ' ')),
                          1, 8) AS BIGINT) % {divisor} = 0
                   THEN 1 ELSE 0 END AS cut
       FROM cp),
cx AS (SELECT doc_id, pos, tok,
              COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS chunk_idx
       FROM cf),
cc AS (SELECT doc_id, chunk_idx,
              md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5,
              CAST(count(*) AS BIGINT) AS n_toks
       FROM cx GROUP BY doc_id, chunk_idx),
cd AS (SELECT chunk_md5, CAST(count(*) AS BIGINT) AS copies,
              max(n_toks) AS toks
       FROM cc GROUP BY chunk_md5)
SELECT CAST(sum(copies) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS distinct_chunks,
       CAST(sum(copies * toks) AS BIGINT) AS total_tokens,
       CAST(sum((copies - 1) * toks) * 1000000
            // sum(copies * toks) AS BIGINT) AS saved_token_ppm,
       CAST(sum(copies * toks) * 1000 // sum(copies) AS BIGINT)
         AS avg_chunk_millitoks
FROM cd
"""
