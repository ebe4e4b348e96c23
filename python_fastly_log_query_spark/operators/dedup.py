"""Deduplication & near-duplicate detection over the documents table.

Training-data-pipeline operators beyond the reference's own surface
(driver brief): exact dedup, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.  All are pure Catalyst higher-order column
expressions — no UDFs — so they run JVM-side, whole-stage-codegen'd, and
scale by partitioning alone.

Determinism contract: every hash derives from ``md5`` of an explicit
string, so the DuckDB oracles in queries.py recompute byte-identical
values.  MinHash permutations are affine maps over integers taken from
the digest halves (see minhash_signatures; no RNG, no seed state).

Scale notes (100 TB):
- signatures/simhash are embarrassingly parallel projections;
- LSH candidate generation shuffles once on (band, key) — band keys are
  md5s, so the shuffle is uniformly distributed by construction;
- the exact-Jaccard verify touches only LSH candidates, never the full
  cross product;
- embedding near-dup brute force is quadratic and exists as the
  correctness baseline; the LSH-bucketed ANN path in similarity.py is the
  scale path.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, functions as F

from ..functions.columns import round_half_away

# ---------------------------------------------------------------- shingles


def word_shingles(text: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingles; texts shorter than n words yield one shingle
    (the whole text).

    Shape (optimization r6, guide §1.2 "per-task work"): the n-gram list
    is built by zipping ``n`` shifted ``slice``s of the token array and
    concat-ing each zipped struct.  The previous shape —
    ``transform(sequence(...), i -> concat_ws(element_at(toks, i+j)))``
    — re-evaluated the interpreted ``split`` subtree once per
    ``element_at`` call per gram (higher-order lambdas run outside
    codegen with no subexpression elimination), i.e. O(words·n) splits
    per document; the zip shape evaluates ``split`` O(n) times per row.
    Measured on the sf0.1 documents table (4-gram explode): 4.2s →
    0.39s, outputs bit-identical including the short-text branch."""
    toks = F.split(text, " ")
    k = F.size(toks)
    shifted = [F.slice(toks, j + 1, k - n + 1) for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]),
    )
    return F.when(k >= n, grams).otherwise(F.array(text))


# ---------------------------------------------------------------- self-join


def selfjoin_ready(keyed: DataFrame) -> DataFrame:
    """Prepare an exploded ``(band/block, key)`` frame for its self-join.

    Two plan problems with the naive ``a.join(b)`` over the same lineage:
    - the hash pipeline runs ONCE PER SIDE (exchange reuse does not fire
      across the alias branches — verified with explain; worst-case GC
      stragglers then hit twice: 0.5-12s per signature pass on this box);
    - the planner happily broadcasts one side while it looks small, and a
      banded table is O(N x bands) rows at production scale.

    Persisting computes the frame once and lets both sides read it.  The
    join strategy then self-selects by size: under
    ``autoBroadcastJoinThreshold`` (small/test scale) the planner
    broadcasts the cached frame — full probe-side parallelism; above it
    (production) both sides shuffle into a SortMergeJoin on the key
    columns.  Forcing merge at small scale was measured WORSE: AQE
    coalesces the tiny (band, key) shuffle to a handful of tasks and the
    compute-heavy pair projection loses the cluster.  (At warehouse scale
    the equivalent of the persist is materializing the signature table as
    a pipeline stage — same idea, durable storage.)

    Lifecycle (VERDICT r2 item 5): every persist is tracked in a module
    registry; :func:`release_persists` frees them all.  The query-registry
    wrapper (queries._with_session_confs) releases at the START of each
    query, so a long sweep (the 50-query driver gate, the bench loop)
    never accumulates dead cache entries across queries while the frame
    stays live for its own consuming action.
    """
    from pyspark.storagelevel import StorageLevel

    df = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    with _PERSISTS_LOCK:
        _LIVE_PERSISTS.append(df)
    return df


_LIVE_PERSISTS: list[DataFrame] = []
_PERSISTS_LOCK = threading.Lock()


def release_persists() -> int:
    """Unpersist every frame :func:`selfjoin_ready` still holds; returns
    how many were released.  Safe to call between queries — unpersist is
    lazy/non-blocking and any already-stopped session is skipped.  The
    registry is guarded by a lock so concurrent registration/release from
    different threads can't corrupt the list; the build-then-evaluate
    contract (a release drops OTHER queries' still-wanted persists, which
    then merely recompute) is documented at the call sites."""
    with _PERSISTS_LOCK:
        drained, _LIVE_PERSISTS[:] = _LIVE_PERSISTS[:], []
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to free
    return n


# ---------------------------------------------------------------- minhash

# Mersenne prime 2^31-1: permutation values stay far from 64-bit overflow
# even at k * b (ANSI-mode arithmetic errors on overflow in Spark 4)
_P = (1 << 31) - 1


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Array of ``num_hashes`` minhash values per doc.

    ONE md5 per shingle; permutation k is the affine map
    ``(a + k*b) mod (2^31-1)`` where ``a``/``b`` are 60-bit ints from the
    digest halves — evaluating a random line at point k, so any two
    permutations are pairwise independent.  DuckDB recomputes the values
    byte-identically (``CAST('0x' || substr(md5(s), ...) AS BIGINT)``).

    Plan shape matters more than the formula here: shingling, hashing and
    the (a, b) arrays are materialized as real columns in SEPARATE
    projections.  Higher-order functions are interpreted (no codegen CSE),
    so inlining them into each of the 16 min-expressions re-evaluates the
    whole shingle pipeline 16x — the round-1 version did exactly that and
    spent 264s on 5000 docs; Catalyst keeps the projections separate
    because the aliases are non-cheap.  Combined with :func:`spread` this
    is minutes -> seconds at small scale and embarrassingly parallel at
    10^12 docs.
    """
    from ..plans.partitioning import spread

    extra = list(passthrough or [])
    sh = spread(docs).select(
        F.col(id_col), *extra, word_shingles(F.col(text_col)).alias("_sh")
    )
    hashed = sh.select(id_col, *extra, F.transform("_sh", F.md5).alias("_h"))
    ab = hashed.select(
        id_col,
        *extra,
        F.transform(
            "_h", lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _P
        ).alias("_a"),
        F.transform(
            "_h",
            lambda h: F.conv(F.substring(h, 17, 15), 16, 10).cast("long") % (_P - 1) + 1,
        ).alias("_b"),
    )
    sig = F.array(
        *[
            F.array_min(
                F.zip_with("_a", "_b", lambda a, b: (a + F.lit(k) * b) % _P)
            )
            for k in range(num_hashes)
        ]
    )
    return ab.select(F.col(id_col), *extra, sig.alias("signature"))


def minhash_params_scaled(
    n_docs: int,
    dup_sim: float = 0.9,
    target_recall: float = 0.999,
    bg_jaccard: float = 0.05,
    spurious_per_doc: float = 0.1,
    max_r: int = 16,
    max_bands: int = 64,
) -> tuple[int, int]:
    """Corpus-size-aware ``(num_hashes, bands)`` for MinHash-LSH banding.

    With FIXED (r, b), spurious candidates grow QUADRATICALLY: the exact
    expectation is ``E[junk] = b * sum over pairs of J^r``, an N^2-count
    sum dominated by the corpus's LOW-J tail (a random pair sharing one
    3-gram shingle already has J ~ 0.02).  The x100 decade probe measured
    it directly: fixed (16, 4) produced 621 pairs at 50k docs ->
    51,572 at 500k — 83x for 10x data (BENCH/DECADES.md).  Bounding junk
    at a constant ``spurious_per_doc`` therefore requires r to grow with
    log N — the same input-driven sizing rule banded_params applies to
    hyperplane LSH, with the collision model swapped for Jaccard.

    ``bg_jaccard`` is the tail-edge point mass the model charges all N
    partners with: conservative when the pair-Jaccard density falls
    toward the edge, which is the measured shape here (4.5M-pair sample
    of the test corpus at 500k docs: ~9% of pairs at J 0.02-0.05, 3 per
    million above 0.1, nothing above 0.3 but planted dups).  The 0.05
    default is calibrated to that corpus; real web text with Heaps-law
    vocabulary has a far thinner tail and would justify a smaller value
    (narrower signatures) — it is a parameter, not a constant, for
    exactly that reason.

    Picks the NARROWEST signature (min r*b) satisfying both
    - recall: ``1 - (1 - dup_sim^r)^b >= target_recall`` at ``dup_sim``;
    - junk:   ``(n_docs - 1) * b * bg_jaccard^r <= spurious_per_doc``;
    falling back to the max-r recall-meeting config if the junk bound is
    unreachable (then junk is minimized, not met)."""
    import math

    best = None
    fallback = None
    for r in range(2, max_r + 1):
        pr = dup_sim**r
        if pr >= 1.0:
            b = 1
        else:
            b = math.ceil(
                math.log(max(1e-12, 1.0 - target_recall)) / math.log(1.0 - pr)
            )
        if b > max_bands:
            continue
        junk = (n_docs - 1) * b * bg_jaccard**r
        if fallback is None or junk < fallback[0]:
            fallback = (junk, r * b, b)
        if junk <= spurious_per_doc and (best is None or r * b < best[0]):
            best = (r * b, b)
    if best is not None:
        return best
    return fallback[1], fallback[2]


def minhash_decade_table(
    dup_sim: float = 0.9,
    target_recall: float = 0.999,
    bg_jaccard: float = 0.05,
    spurious_per_doc: float = 0.1,
) -> dict[int, tuple[int, int]]:
    """(num_hashes, bands) per corpus-size DECADE ``d = floor(log10 N)``,
    sized for the decade's UPPER bound (10^(d+1)) so one config holds for
    every N inside it.  A decade table (rather than calling
    minhash_params_scaled on the exact count) makes the choice a pure
    function of floor(log10(N)) that a SQL oracle replays exactly —
    both engines pick the same branch from the same precomputed table."""
    return {
        d: minhash_params_scaled(
            10 ** (d + 1), dup_sim, target_recall, bg_jaccard, spurious_per_doc
        )
        for d in range(1, 13)
    }


def lsh_candidate_pairs_auto(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`lsh_candidate_pairs` with (num_hashes, bands) chosen from
    the corpus size via :func:`minhash_decade_table` — the configuration
    that keeps candidate volume LINEAR in N (junk pairs bounded per doc)
    instead of quadratic.  One extra count() job up front; at warehouse
    scale that is a metadata-only parquet row-count.

    The decade is digit-count based (``len(str(N)) - 1``), not float
    log10 — bit-exact to replay in SQL (``length(CAST(N AS VARCHAR)) -
    1``) with no boundary risk at exact powers of ten."""
    n = docs.count()
    table = minhash_decade_table()
    d = min(max(len(str(max(n, 10))) - 1, 1), 12)
    nh, nb = table[d]
    return lsh_candidate_pairs(docs, nh, nb, id_col, text_col)


def banded_signature_keys(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Exploded MinHash banding frame ``(id, band, key [, passthrough])``:
    band key = md5 of the band's minhash slice.  This is THE signature
    artifact — consumed in-session via :func:`selfjoin_ready`
    (lsh_candidate_pairs) or materialized durably as an incremental
    pipeline stage (:func:`build_signature_table`)."""
    rows = num_hashes // bands
    extra = list(passthrough or [])
    sigs = minhash_signatures(docs, num_hashes, id_col, text_col, passthrough=extra)
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at("signature", b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col), *extra, F.posexplode(band_keys).alias("band", "key")
    )


def _banded_pair_join(keyed: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs from an exploded (id, band, key) frame —
    a pure equi-join on both columns (hash/merge join, never a loop)."""
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing >=1 band bucket.

    band key = md5 of the band's minhash slice; one shuffle on
    (band, key); output (doc_a < doc_b) distinct.  Size (num_hashes,
    bands) for a corpus size with :func:`minhash_params_scaled`.
    """
    banded = selfjoin_ready(
        banded_signature_keys(docs, num_hashes, bands, id_col, text_col)
    )
    return _banded_pair_join(banded, id_col)


# ------------------------------------------------- durable signature stage


def build_signature_table(
    spark,
    doc_files: list[str],
    out_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Materialize the banding frame as a DURABLE incremental pipeline
    stage — the warehouse-scale form of :func:`selfjoin_ready`'s persist
    (its docstring's "materializing the signature table as a pipeline
    stage"), built on plans/checkpoint.py:

    - unit = input parquet file; per-unit lineage + metrics records
      commit atomically AFTER the sink write, so a killed signature build
      over 10^12 docs resumes without recomputing finished units;
    - re-invocation skips committed units (returns the skip summary);
    - downstream joins read the on-disk table — no session persist, no
      recompute-per-side, survives across jobs.
    """
    from ..plans.checkpoint import run_incremental

    def reader(files: list[str]) -> DataFrame:
        return spark.read.parquet(*files).withColumn(
            "source_file", F.regexp_replace(F.input_file_name(), r"^file:/+", "/")
        )

    def transform(df: DataFrame) -> DataFrame:
        return banded_signature_keys(
            df, num_hashes, bands, id_col, text_col, passthrough=["source_file"]
        )

    return run_incremental(spark, doc_files, out_dir, transform, reader=reader)


def candidate_pairs_from_table(spark, out_dir: str, id_col: str = "doc_id") -> DataFrame:
    """LSH candidate pairs joining the MATERIALIZED signature table with
    itself: both sides scan durable storage, so no persist (and no
    in-session recompute) exists anywhere in the plan."""
    from ..plans.checkpoint import read_output

    keyed = read_output(spark, out_dir).select(id_col, "band", "key")
    return _banded_pair_join(keyed, id_col)


# ---------------------------------------------------------------- simhash


def _token_digest(bits: int):
    """Per-token hex digest wide enough for ``bits`` sign digits: one md5
    gives 32 hex chars; wider signatures concatenate salted digests
    (bit j reads digit j, so j >= 32 NEEDS the second digest — reading
    past the string would silently freeze those bits at the -1 vote)."""
    n_digests = (bits + 31) // 32

    def fn(t: F.Column) -> F.Column:
        parts = [F.md5(t)] + [
            F.md5(F.concat(F.lit(f"{i}:"), t)) for i in range(1, n_digests)
        ]
        return F.concat(*parts) if len(parts) > 1 else parts[0]

    return fn


def simhash_docs(docs: DataFrame, bits: int = 16, ngram: int = 1) -> DataFrame:
    """Materialize per-token digests in their own projection first: the
    ``bits`` vote aggregates are interpreted expressions with no CSE, so
    inlining md5 into each bit hashes every token ``bits`` times (the
    round-1 shape).  One digest per token -> ``bits``x fewer md5 calls.

    ``ngram`` picks the FEATURE SET the fingerprint votes over: 1 =
    unigram tokens (the oracle twin), n > 1 = word n-gram shingles.
    Feature choice is the saturation knob at scale: unigram multisets
    over a bounded vocabulary collapse as the corpus grows (the x100
    probe measured 11,394 hamming<=2 pairs at 50k docs -> 1,102,135 at
    500k — x97 for x10 data — every one a TRUE match under the unigram
    definition), while n-gram features keep the similarity notion
    aligned with shingle Jaccard and the background tail sparse."""
    from ..plans.partitioning import spread

    feats = (
        F.split(F.col("text"), " ")
        if ngram <= 1
        else word_shingles(F.col("text"), ngram)
    )
    hashed = spread(docs).select(
        "doc_id",
        F.transform(feats, _token_digest(bits)).alias("_th"),
    )

    # Vote + pack in a numpy batch stage (opt r6).  The Catalyst shape
    # (one F.aggregate vote fold per bit) runs `bits` interpreted folds over
    # the digest array per row — 2.2s for w64/3-gram at sf0.1; the vote
    # is pure integer counting over the SAME JVM-computed md5 hex
    # digests, so the numpy twin is bit-identical by construction
    # (vote_j = 2*count(digit_j >= '8') - n_tokens, bit_j = vote_j >= 0,
    # little-endian pack with bit 63 wrapping into the sign exactly like
    # shiftleft) — verified exceptAll 0/0 against the fold at both
    # (64, 3-gram) and (16, unigram).  Measured 2.2s -> 0.73s.
    import numpy as np

    from ..functions.arrow import numpy_stage

    def _vote(cols):
        out = np.empty(len(cols["_th"]), dtype=np.int64)
        for i, toks in enumerate(cols["_th"]):
            dig = np.frombuffer(
                "".join(toks).encode(), dtype=np.uint8
            ).reshape(len(toks), -1)[:, :bits]
            # hex digit >= '8': bytes are 0-9a-f, so byte >= ord('8')
            votes = 2 * (dig >= 56).sum(axis=0, dtype=np.int64) - len(toks)
            packed = int(
                (
                    (votes >= 0).astype(np.uint64)
                    << np.arange(bits, dtype=np.uint64)
                ).sum(dtype=np.uint64)
            )
            out[i] = packed - (1 << 64) if packed >= (1 << 63) else packed
        return {"simhash": out}

    return numpy_stage(hashed, "doc_id long, simhash long", _vote, keep=("doc_id",))


def simhash_blocks(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """Contiguous (shift, width) block layout covering all ``bits``; the
    first ``bits % n_blocks`` blocks are one bit wider."""
    base, rem = divmod(bits, n_blocks)
    out, shift = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        out.append((shift, w))
        shift += w
    return out


def simhash_neardup_pairs(
    docs: DataFrame, bits: int = 16, max_hamming: int = 2, ngram: int = 1
) -> DataFrame:
    """Pairs of docs whose SimHashes differ in <= max_hamming bits.
    ``ngram`` selects the fingerprint's feature set (see
    :func:`simhash_docs` — n-gram features are the anti-saturation knob
    for bounded-vocabulary corpora at scale).

    Pigeonhole blocking: split the signature into ``max_hamming + 1``
    contiguous blocks — a pair within the hamming budget must agree
    EXACTLY on at least one block (k differing bits cannot touch all
    k+1 blocks).  Each doc explodes to one ``(block, key)`` row per
    block and the self-join is a pure equi-join on both columns, so
    Catalyst plans a hash/sort-merge join (never a nested loop; the
    round-1 half-signature OR-join planned a BroadcastNestedLoopJoin
    AND silently dropped pairs whose differing bits spanned both
    halves).  Exact hamming filter after the join keeps precision.

    Scale note: at 10^12 docs use ``bits=64`` — 3 blocks of ~21 bits
    give ~2M join buckets per block; 16-bit signatures are the
    oracle-checkable small-scale twin (DuckDB recomputes them
    bit-identically in queries.py).
    """
    n_blocks = max_hamming + 1
    blocks = simhash_blocks(bits, n_blocks)
    s = simhash_docs(docs, bits, ngram)
    keyed = selfjoin_ready(
        s.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned("simhash", shift).bitwiseAND(
                            F.lit((1 << w) - 1)
                        )
                        for (shift, w) in blocks
                    ]
                )
            ).alias("block", "key"),
        )
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(xor).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------- jaccard


def ngram_jaccard(text_a: F.Column, text_b: F.Column, n: int = 3) -> F.Column:
    """Exact Jaccard similarity of distinct word n-gram sets."""
    sa = F.array_distinct(word_shingles(text_a, n))
    sb = F.array_distinct(word_shingles(text_b, n))
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return inter / union


def jaccard_topk(docs: DataFrame, query_doc_id: int = 0, k: int = 10, n: int = 3) -> DataFrame:
    """Top-k most-similar docs to one query doc by exact n-gram Jaccard —
    brute force over a broadcast single-row query side (correctness
    baseline; LSH narrows candidates at scale)."""
    from ..plans.partitioning import spread

    d = spread(docs)
    q = d.filter(F.col("doc_id") == query_doc_id).select(
        F.col("text").alias("_qtext")
    )
    sim = ngram_jaccard(F.col("text"), F.col("_qtext"), n)
    return (
        d.filter(F.col("doc_id") != query_doc_id)
        .crossJoin(F.broadcast(q))
        .select("doc_id", round_half_away(sim, 4).alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("doc_id"))
        .limit(k)
    )


def lsh_verified_pairs(
    docs: DataFrame, threshold: float = 0.5, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """MinHash-LSH candidates verified with exact n-gram Jaccard >= threshold.

    The canonical near-dup pipeline: cheap banding shuffle -> exact verify
    on candidates only."""
    cand = lsh_candidate_pairs(docs, num_hashes, bands)
    d = docs.select("doc_id", "text")
    joined = (
        cand.join(d.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "_ta"), "doc_a")
        .join(d.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "_tb"), "doc_b")
    )
    jac = ngram_jaccard(F.col("_ta"), F.col("_tb"))
    return (
        joined.select("doc_a", "doc_b", round_half_away(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: md5(text) -> keeper (min doc_id) + copy count."""
    return docs.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("copies")
    )


def neardup_pipeline(
    docs: DataFrame, threshold: float = 0.5, num_hashes: int = 16, bands: int = 4
) -> dict[str, DataFrame]:
    """The canonical near-dup pipeline with the giant-cluster guard:
    exact dedup FIRST, then MinHash-LSH + exact-Jaccard verify over the
    unique-text representatives only.

    Why the order matters at 10^12 docs: Common-Crawl-style corpora have
    million-way byte-identical clusters; k copies land in the same band
    bucket and the LSH self-join emits k^2/2 candidate pairs PER BUCKET.
    Collapsing each distinct text to one representative (min doc_id)
    makes every exact cluster a single LSH node, so candidate counts
    grow with the number of DISTINCT texts, not with copy counts —
    membership is recovered from ``groups`` afterwards.

    Returns {"groups": (fp, keep_id, copies), "pairs": verified near-dup
    pairs between representatives}.
    """
    groups = exact_dedup(docs)
    reps = docs.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    return {"groups": groups, "pairs": lsh_verified_pairs(reps, threshold, num_hashes, bands)}


# ---------------------------------------------------------------- clustering


def _edge_fingerprint(e: DataFrame) -> tuple[int, int]:
    """(count, order-independent checksum) of a canonical edge set —
    cheap equality witness between iteration rounds."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(big, small))"), F.lit(0)).alias("ck"),
    ).first()
    return int(row["n"]), int(row["ck"])


def _driver_union_find(e: DataFrame) -> DataFrame:
    """Union-find over a driver-collected (big, small) edge frame —
    the small-graph fast path of :func:`connected_components` (callers
    guarantee the count is under ``driver_max_edges``)."""
    pdf = e.toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pdf["big"].to_numpy(), pdf["small"].to_numpy()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(n, find(n)) for n in parent]
    return e.sparkSession.createDataFrame(rows, "node long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — the O(log n)-round, all-DataFrame
    algorithm that turns near-dup CANDIDATE PAIRS into duplicate
    CLUSTERS.  This is the final stage of warehouse-scale dedup the pair
    queries stop short of: reference analog is the duplicate-group
    collapse of /root/reference/src/analyze/analytics.py's per-key
    rollups, generalized to transitive duplicate identity.

    Each round is two groupBy+join passes over the edge set:

    - large-star: for every node u with neighborhood G(u), connect each
      STRICTLY LARGER neighbor v > u to m = min(G(u) + {u});
    - small-star: orient every edge toward its smaller endpoint, then
      connect each smaller-or-equal neighbor (and u itself) to the
      neighborhood minimum.

    The edge set converges to disjoint stars rooted at each component's
    minimum node id; rounds needed are logarithmic in the largest
    component, NOT its diameter (naive label propagation over a chain of
    k duplicates needs k rounds; this needs ~log k).  Skew note: a
    giant component's root accumulates degree = component size, but each
    round's shuffle keys are (node), and AQE splits oversized reduce
    partitions; the giant-cluster guard (exact dedup first,
    :func:`neardup_pipeline`) keeps component sizes at near-dup scale to
    begin with.

    Every round materializes via ``localCheckpoint(eager=True)`` — the
    iterate-join lineage would otherwise grow two joins deeper per round
    and the convergence checksum forces evaluation anyway.  On a real
    cluster prefer ``spark.sparkContext.setCheckpointDir`` + reliable
    ``checkpoint()`` for executor-loss tolerance (localCheckpoint blocks
    recomputation past executor decommission).

    Size-adaptive: the verified-pair graph is usually tiny relative to
    the corpus (candidates are already banded + Jaccard-verified), so
    when the deduped edge count is at most ``driver_max_edges`` the
    components come from a driver-side union-find over one Arrow collect
    — the same dimension-sized-collect pattern as the service-rule dim —
    instead of ~log n distributed rounds of fixed job overhead.  Above
    the threshold (or with ``driver_max_edges=0``) the distributed
    iteration runs; both paths are oracle- and property-tested equal.

    Returns ``(node: long, component: long)`` for every node incident to
    at least one non-loop edge; component = min node id reachable.
    Callers map isolated nodes to themselves (coalesce after a left
    join).  Raises RuntimeError if ``max_iter`` rounds do not converge
    (log2-bounded in practice: 50 covers any feasible input).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("big"), F.least("a", "b").alias("small")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = _edge_fingerprint(e)
    if prev[0] == 0:
        return e.select(
            F.col("big").alias("node"), F.col("small").alias("component")
        )

    if prev[0] <= driver_max_edges:
        return _driver_union_find(e)

    for _ in range(max_iter):
        # large-star: symmetric neighborhoods, larger neighbors -> min
        sym = e.select(F.col("big").alias("u"), F.col("small").alias("v")).union(
            e.select(F.col("small").alias("u"), F.col("big").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", "u").alias("m"))
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .distinct()
        )

        # small-star: edges already oriented (big -> small); neighborhood
        # of u is all-smaller, m = its minimum; connect each neighbor and
        # u itself to m, dropping the self-loop on m.
        mins2 = e.groupBy("big").agg(F.min("small").alias("m"))
        nbr = (
            e.join(mins2, "big")
            .where(F.col("small") != F.col("m"))
            .select(F.col("small").alias("big"), F.col("m").alias("small"))
        )
        e = (
            nbr.union(mins2.select(F.col("big"), F.col("m").alias("small")))
            .distinct()
            .localCheckpoint(eager=True)
        )

        cur = _edge_fingerprint(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {max_iter} rounds"
        )

    # converged star graphs: every edge is (member, root); roots map to
    # themselves.
    return (
        e.select(F.col("big").alias("node"), F.col("small").alias("component"))
        .union(
            e.select(
                F.col("small").alias("node"), F.col("small").alias("component")
            )
        )
        .distinct()
    )


def dedup_clusters(
    docs: DataFrame, threshold: float = 0.5, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Per-document canonical keeper: the composed end-to-end dedup —
    exact dedup (md5 text groups) -> MinHash-LSH + exact-Jaccard verify
    over unique-text representatives (:func:`neardup_pipeline`) ->
    :func:`connected_components` over the verified pairs -> every doc_id
    mapped through its exact-group representative to the component
    minimum.  Output ``(doc_id, keeper)``: keep rows where
    doc_id == keeper, drop the rest — the exact shape a training-data
    pipeline materializes before tokenization.
    """
    pipe = neardup_pipeline(docs, threshold, num_hashes, bands)
    comp = connected_components(pipe["pairs"], "doc_a", "doc_b")
    rep = (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .join(pipe["groups"].select("fp", "keep_id"), "fp")
        .select("doc_id", F.col("keep_id").alias("rep_id"))
    )
    return rep.join(
        comp.withColumnRenamed("node", "rep_id"), "rep_id", "left"
    ).select(
        "doc_id", F.coalesce("component", F.col("rep_id")).alias("keeper")
    )


def quality_int(text: F.Column) -> F.Column:
    """Integer quality key for keeper selection: distinct-token count
    (lexical diversity) dominates, document length breaks ties —
    ``distinct_tokens * 10^6 + n_chars`` as one BIGINT.  Pure integer
    arithmetic (no float weights), so comparisons are total,
    associative, and bit-identical cross-engine."""
    return (
        F.size(F.array_distinct(F.split(text, " "))).cast("long") * 1000000
        + F.length(text).cast("long")
    )


def dedup_keep_best(
    docs: DataFrame, threshold: float = 0.5, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """:func:`dedup_clusters` with QUALITY-AWARE keeper selection — what
    production pipelines actually do (keep the best-written copy of a
    near-dup cluster, not the lowest id): within each cluster the doc
    with the highest :func:`quality_int` wins, ties to the smallest
    doc_id.  Output ``(doc_id, cluster, best_doc, keep)``.

    Scale shape: the winner per cluster is ONE ``max(struct(q, -doc_id,
    doc_id))`` aggregate — associative with map-side partials, so a
    pathological million-member cluster combines in parallel instead of
    serializing a ranking-window partition.  Costs one extra broadcast-
    size shuffle (cluster count rows) over :func:`dedup_clusters`."""
    clusters = dedup_clusters(docs, threshold, num_hashes, bands)
    qual = docs.select("doc_id", quality_int(F.col("text")).alias("q"))
    kq = clusters.join(qual, "doc_id")
    best = (
        kq.groupBy("keeper")
        .agg(
            F.max(
                F.struct(
                    F.col("q"),
                    (-F.col("doc_id")).alias("nd"),
                    F.col("doc_id").alias("best_id"),
                )
            ).alias("m")
        )
        .select("keeper", F.col("m.best_id").alias("best_doc"))
    )
    return kq.join(best, "keeper").select(
        "doc_id",
        F.col("keeper").alias("cluster"),
        "best_doc",
        (F.col("doc_id") == F.col("best_doc")).cast("long").alias("keep"),
    )


# ------------------------------------------------- blocked edit distance


def editdist_neardup_pairs(
    docs: DataFrame,
    block_tokens: int = 2,
    snip_tokens: int = 12,
    max_dist: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Blocked Levenshtein near-duplicate pairs — the character-level
    dedup family (template spam, boilerplate variants, OCR jitter) that
    token-set measures (MinHash/SimHash Jaccard) are blind to: a doc
    whose every token is lightly misspelled shares ~no shingles with
    its source but sits at small edit distance.

    Blocking: candidates must share the exact first ``block_tokens``
    tokens (the standard sorted-neighborhood/prefix block — near-dups
    at distance ≤ d over a prefix-stable corpus share a prefix, and a
    differing prefix already contributes edits).  Comparison runs on
    the first ``snip_tokens``-token snippet, bounding the O(L²) DP per
    pair at a constant, with Spark's thresholded ``levenshtein(l, r,
    d)`` early-abandoning the DP to O(d·L) and returning -1 past d.

    Plan: one map-only projection per doc → one equi-join shuffle on
    the block key (never a cross join) → codegen'd levenshtein on the
    candidate pairs only.  At 10^12 docs the cost is Σ|block|², so the
    block key's skew is the thing to audit (key_skew_audit) — a hot
    boilerplate prefix is exactly a giant duplicate cluster, handled
    upstream by exact-dedup-first like every pair family here.

    Returns ``(doc_a, doc_b, dist)`` with doc_a < doc_b.

    Non-ASCII caveat (oracle only): Spark counts code points, DuckDB's
    ``levenshtein`` counts bytes; the synthetic corpus is ASCII where
    they coincide.  Engine semantics (code points) are the contract.
    """
    toks = F.split(F.col(text_col), " ")
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(F.slice(toks, 1, block_tokens), " ").alias("_blk"),
        F.array_join(F.slice(toks, 1, snip_tokens), " ").alias("_snip"),
    )
    a = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_blk"),
        F.col("_snip").alias("_sa"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_blk"),
        F.col("_snip").alias("_sb"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("_sa"), F.col("_sb"), max_dist)
            .cast("long")
            .alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def editdist_block_table() -> dict[int, int]:
    """Corpus-size-decade → ``block_tokens`` for
    :func:`editdist_neardup_auto`.  Like :func:`minhash_decade_table`,
    the dial grows with the corpus so the candidate volume stays linear:
    each extra block token multiplies the number of blocks by ~|vocab|,
    holding the EXPECTED block size (and so Σ|block|² per doc) bounded
    as N grows.  ``block_tokens = max(2, decade - 1)`` keeps expected
    block size ≲ 12 docs at every decade's upper bound for a ~30-word
    vocabulary, and a real web corpus (vocab 10^5+) is far sparser per
    token."""
    return {d: max(2, d - 1) for d in range(1, 13)}


def editdist_neardup_auto(
    docs: DataFrame,
    snip_tokens: int = 12,
    max_dist: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scale-honest :func:`editdist_neardup_pairs`: the block-prefix
    length is dispatched on the corpus-size DECADE (digit count of N —
    no float-log boundary risk), so at 10× the data the block key space
    widens and per-block candidate sets stay bounded — the same growth
    law as ``minhash_signatures_auto``.  The one extra cost is a 1-row
    count() of the corpus, amortized at deploy by reading the table
    stats instead."""
    n = docs.count()
    d = min(12, max(1, len(str(max(n, 10))) - 1))
    return editdist_neardup_pairs(
        docs,
        block_tokens=editdist_block_table()[d],
        snip_tokens=snip_tokens,
        max_dist=max_dist,
        id_col=id_col,
        text_col=text_col,
    )


def editdist_auto_sql(
    snip_tokens: int = 12,
    max_dist: int = 20,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`editdist_neardup_auto`: replays the
    decade dispatch as one branch per DISTINCT block_tokens config,
    each gated by ``(SELECT d FROM dec) IN (<its decades>)`` pushed
    below the projection — non-matching branches filter every row
    before any join, so the union costs one scan per branch plus ONE
    live pipeline (same scheme as the minhash auto oracle)."""
    groups: dict[int, list[int]] = {}
    for d, bt in editdist_block_table().items():
        groups.setdefault(bt, []).append(d)
    ctes = [
        f"dec AS (SELECT least(12, greatest(1, "
        f"length(CAST(greatest(count(*), 10) AS VARCHAR)) - 1)) AS d "
        f"FROM {table})"
    ]
    selects = []
    for bt, decs in sorted(groups.items()):
        in_list = ", ".join(str(d) for d in sorted(decs))
        ctes.append(
            f"t_{bt} AS (SELECT doc_id, "
            f"array_to_string(list_slice(string_split(text, ' '), 1, {bt}), ' ') AS blk, "
            f"array_to_string(list_slice(string_split(text, ' '), 1, {snip_tokens}), ' ') AS snip "
            f"FROM {table} WHERE (SELECT d FROM dec) IN ({in_list}))"
        )
        selects.append(
            f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            f"CAST(levenshtein(a.snip, b.snip) AS BIGINT) AS dist "
            f"FROM t_{bt} a JOIN t_{bt} b ON a.blk = b.blk AND a.doc_id < b.doc_id "
            f"WHERE levenshtein(a.snip, b.snip) <= {max_dist}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
