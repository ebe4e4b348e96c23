"""Deterministic sampling / splitting for training-data pipelines.

Random sampling is the wrong tool at 100 TB: `rand()` is
nondeterministic across retries (a recomputed task resamples, so a lost
executor silently changes the dataset) and unreproducible across runs.
Every operator here keys off a salted md5 of the stable document id
instead — the same doc lands in the same split/sample on every run,
every retry, every cluster size, and adding new docs never reshuffles
old ones (the property that makes incremental corpus refreshes sane).

All three are single-pass Column expressions or one window — no
joins, no shuffles beyond the final aggregate / per-group window.

Reference analog: the reference samples nothing (it reports over full
scans, /root/reference/src/analyze/analytics.py); these are the
corpus-construction extensions the north rule's training-data tier
calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash_bucket(id_col: F.Column, salt: str, buckets: int = 100) -> F.Column:
    """Stable bucket in [0, buckets): first 8 md5 hex chars of the salted
    id (32 bits — exact in BIGINT on both engines), mod buckets."""
    h = F.md5(F.concat(F.lit(salt + "-"), id_col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets).cast(
        "int"
    )


def split_assign(
    docs: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Add a ``split`` column: 'train' / 'val' / 'test' by salted-hash
    bucket — the canonical leakage-safe dataset split (membership is a
    pure function of the id, so re-runs, retries, and corpus growth
    never move a document across splits)."""
    b = _hash_bucket(F.col(id_col), salt)
    return docs.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def hash_sample(
    docs: DataFrame, pct: F.Column | int, id_col: str = "doc_id", salt: str = "samp"
) -> DataFrame:
    """Keep a deterministic ``pct``% of rows (pct may be a per-row Column
    — e.g. a per-language rate — for stratified sampling)."""
    return docs.filter(_hash_bucket(F.col(id_col), salt) < pct)


def mixture_rates(
    docs: DataFrame,
    budget_tokens: int,
    shares_ppm: dict[str, int],
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language sampling-rate plan for a target corpus mixture:
    given a total token ``budget`` and target shares (ppm), compute each
    language's keep rate from its ACTUAL token mass.

    Returns ``(lang, actual_tokens, share_ppm, target_tokens,
    rate_ppm)`` — one row per language in ``shares_ppm``.  All
    arithmetic is integer (ppm granularity, BIGINT `div`): the plan is
    bit-identical on any engine and never hits the >2^53 double-
    precision cliff that ``budget * share / 1e6`` float math has at
    trillion-token budgets.  Languages over their target get
    ``rate_ppm < 1e6`` (downsampled); under-target languages cap at
    1e6 (keep everything — upsampling is a repetition decision, not a
    sampling one).

    Plan: one groupBy(lang) aggregate (dimension-sized result) joined
    to the broadcast shares dim — the corpus is scanned once, never
    shuffled beyond the map-side-combined lang rollup.
    """
    spark = docs.sparkSession
    sh = spark.createDataFrame(
        sorted((l, int(p)) for l, p in shares_ppm.items()),
        f"{lang_col} string, share_ppm long",
    )
    tok = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    actual = docs.groupBy(lang_col).agg(F.sum(tok).alias("actual_tokens"))
    target = F.expr(f"{int(budget_tokens)}L * share_ppm div 1000000")
    return (
        actual.join(F.broadcast(sh), lang_col)
        .withColumn("target_tokens", target)
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.expr("target_tokens * 1000000L div actual_tokens"),
            ),
        )
    )


def mixture_resample_report(
    docs: DataFrame,
    budget_tokens: int,
    shares_ppm: dict[str, int],
    lang_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Apply the :func:`mixture_rates` plan with the deterministic
    salted-hash keep rule (doc kept iff its ppm bucket < the language's
    rate) and report per language: ``(lang, actual_tokens,
    target_tokens, rate_ppm, sampled_docs, sampled_tokens)``.

    The rate table is broadcast onto the corpus — applying a mixture is
    one map-only filter pass; languages whose sample came back empty
    still report a row (left join from the plan side, counts 0).  The
    dimension-sized rate frame feeds two consumers and is persisted
    (lifecycle-scoped) so the corpus-wide lang rollup runs once."""
    from .dedup import selfjoin_ready

    rates = selfjoin_ready(mixture_rates(docs, budget_tokens, shares_ppm, lang_col))
    tok = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    kept = (
        docs.select(id_col, lang_col, tok.alias("n_tokens"))
        .join(F.broadcast(rates.select(lang_col, "rate_ppm")), lang_col)
        .filter(
            _hash_bucket(F.col(id_col), salt, 1_000_000).cast("long")
            < F.col("rate_ppm")
        )
    )
    agg = kept.groupBy(lang_col).agg(
        F.count("*").alias("sampled_docs"), F.sum("n_tokens").alias("sampled_tokens")
    )
    return (
        rates.join(agg, lang_col, "left")
        .select(
            lang_col,
            "actual_tokens",
            "target_tokens",
            "rate_ppm",
            F.coalesce("sampled_docs", F.lit(0).cast("long")).alias("sampled_docs"),
            F.coalesce("sampled_tokens", F.lit(0).cast("long")).alias(
                "sampled_tokens"
            ),
        )
    )


def capped_per_group(
    docs: DataFrame, group: str, k: int, id_col: str = "doc_id", salt: str = "cap"
) -> DataFrame:
    """At most ``k`` rows per ``group`` (per-domain caps: stop one giant
    host from dominating the corpus), chosen by salted-hash priority so
    the retained subset is stable under re-runs AND under corpus growth
    (new docs only displace old ones when they hash lower — no global
    reshuffle).

    One hash-partition + sort per group.  Skew note: a hot group (one
    domain = 10% of the corpus) serializes its window partition; at that
    profile pre-filter with an approximate per-group threshold first
    (keep rows whose priority < ~k/n_g quantile, computed from a
    count aggregate) so the exact window only sees ~k rows per group."""
    pri = F.md5(F.concat(F.lit(salt + "-"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def training_shuffle(
    docs: DataFrame,
    seed: str = "epoch0",
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Seeded deterministic corpus shuffle — the reproducible global
    training order every LLM data loader needs (a plain ``ORDER BY
    rand()`` is nondeterministic across task retries and unrepeatable
    across runs; the fix, as with all of this module, is ordering by a
    salted hash of the stable id).  Each document gets a shuffle key
    ``md5(seed || ':' || doc_id)``; its shard is the key's first 32
    bits mod ``n_shards``; within a shard, documents are consumed in
    shuffle-key order.  Changing ``seed`` re-permutes everything
    (epoch-to-epoch decorrelation); re-running with the same seed
    reproduces the exact order, retry-safe and cluster-size-invariant.

    Returns the per-shard audit digest ``(shard, n_docs, order_md5,
    first_doc, last_doc)`` where ``order_md5`` hashes the
    comma-joined doc ids IN SHUFFLE ORDER — the value a downstream
    loader can recompute to prove it read the same permutation.

    Plan / 100 TB shape: ONE shuffle on the shard key; the within-shard
    order materializes inside the aggregate (``array_sort`` over the
    collected (key, id) structs), never as a global Sort — the
    fingerprint pins shuffle_exchanges=1, sorts=0.  A production write
    is ``repartition(shard).sortWithinPartitions(key)`` with shard
    count grown so docs-per-shard stays file-sized (the shard_plan
    sizing rule); this digest query is its auditable witness at any
    scale, with per-shard state bounded by that same sizing choice."""
    key = F.md5(
        F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
    )
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % n_shards
    ).cast("int")
    tagged = docs.select(
        F.col(id_col).alias("doc_id"), key.alias("skey"), shard.alias("shard")
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("skey"), F.col("doc_id")))
    )
    return tagged.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(ordered, lambda s: s.doc_id.cast("string")),
                    ",",
                ),
                "UTF-8",
            )
        ).alias("order_md5"),
        F.min_by("doc_id", F.col("skey")).cast("long").alias("first_doc"),
        F.max_by("doc_id", F.col("skey")).cast("long").alias("last_doc"),
    )


def training_shuffle_sql(
    seed: str = "epoch0", n_shards: int = 16, docs_cte: str = "documents"
) -> str:
    """DuckDB oracle for :func:`training_shuffle` — same key rule, same
    32-bit shard hash, ``string_agg`` ordered by the same key."""
    return f"""
WITH sh AS (SELECT doc_id,
                   md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS skey
            FROM {docs_cte}),
tg AS (SELECT doc_id, skey,
              CAST(CAST('0x' || substr(skey, 1, 8) AS BIGINT)
                   % {n_shards} AS INT) AS shard
       FROM sh)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY skey, doc_id))
         AS order_md5,
       CAST(min_by(doc_id, skey) AS BIGINT) AS first_doc,
       CAST(max_by(doc_id, skey) AS BIGINT) AS last_doc
FROM tg GROUP BY shard
"""


def weighted_sample(
    docs: DataFrame,
    k: int = 25,
    weight_col: str = "n_chars",
    salt: str = "wsamp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006 exponential-jumps family, priority
    form): each row draws a reproducible uniform from the salted hash
    of its id and takes priority ``weight / u``; the global top-``k``
    priorities are the sample.  Inclusion probability is proportional
    to weight (the quality-weighted subsample every curation pipeline
    wants), yet the draw is a pure function of the id — retry-safe,
    rerun-identical, and adding documents never changes the priorities
    of existing ones (only the cut line moves).

    ``u`` is the 32-bit salted md5 (1..2^32, never 0); priority is ONE
    IEEE double division of two exact integers — correctly rounded,
    bit-identical on any engine — so the top-k boundary cannot flip
    cross-engine; ties (identical weight AND hash) break by id.

    Returns ``(rank, doc_id, weight, priority_ppb)`` with priority
    scaled to integer parts-per-billion for the report.

    Plan / 100 TB shape: map-only priority + global top-k =
    TakeOrderedAndProject (per-partition heaps, k rows to the driver,
    no global sort) — the same shape as every other top-N here."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "-"), F.col(id_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        + 1
    )
    w = F.col(weight_col).cast("double")
    pri = w / u.cast("double")
    ranked = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(weight_col).cast("long").alias("weight"),
            pri.alias("_pri"),
        )
        .orderBy(F.desc("_pri"), F.asc("doc_id"))
        .limit(k)
    )
    win = Window.orderBy(F.desc("_pri"), F.asc("doc_id"))
    return ranked.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).select(
        "rank",
        "doc_id",
        "weight",
        # explicit floor: Spark's double->long cast truncates while
        # DuckDB's rounds — floor is the one rule both spell identically
        F.floor(F.col("_pri") * F.lit(1_000_000_000.0)).cast("long").alias(
            "priority_ppb"
        ),
    )


def weighted_sample_sql(
    k: int = 25,
    weight_col: str = "n_chars",
    salt: str = "wsamp",
    docs_cte: str = "documents",
) -> str:
    """DuckDB oracle for :func:`weighted_sample` — same hash draw, same
    single-division priority, same tie rule."""
    return f"""
WITH wdraw AS (SELECT doc_id,
                      CAST({weight_col} AS BIGINT) AS weight,
                      CAST({weight_col} AS DOUBLE) /
                      CAST(CAST('0x' || substr(
                             md5('{salt}-' || CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) + 1 AS DOUBLE) AS pri
               FROM {docs_cte}),
wtop AS (SELECT doc_id, weight, pri
         FROM wdraw ORDER BY pri DESC, doc_id ASC LIMIT {k})
SELECT CAST(row_number() OVER (ORDER BY pri DESC, doc_id ASC) AS BIGINT)
         AS rank,
       doc_id, weight,
       CAST(floor(pri * 1000000000) AS BIGINT) AS priority_ppb
FROM wtop
"""
