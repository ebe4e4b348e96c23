"""Deterministic synthetic Common-Crawl-style docs table + dimension tables.

Generates the graft input table ``(url, warc_ts, html, text, lang)`` whose
``text`` carries a Fastly-style syslog payload (reference README.md:235-243
format), entirely with Spark column expressions over ``spark.range`` — no
driver-side loops, no RNG state: every field is a pure function of the row
id via ``xxhash64``, so the table is identical at any partition count and
any scale.  A hot-host knob creates the skew the pipeline must defuse.

Line template (must stay parseable by the reference fast path):
``<priority>TS cache-SERVER s3logsprod[PID]: IP "-" "-" - "METHOD PATH" STATUS SIZE "-" "UA" CACHE``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.enrich import build_geoip_dim

UAS = [
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/118.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    "python-requests/2.31.0",
    "curl/8.4.0",
    "Datadog Agent/7.48.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
]

METHODS = ["GET", "GET", "GET", "GET", "POST", "PUT", "HEAD", "DELETE"]
CACHE_STATUSES = ["hit", "hit", "hit", "miss", "pass", "error", "synth"]
ENDPOINTS = [
    "/", "/index.html", "/api/search", "/api/items", "/api/users",
    "/static/app.js", "/static/style.css", "/images/logo.png",
    "/checkout", "/login", "/feed.xml", "/api/metrics",
]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh", "ja"]


def _h(seed: int):
    """Deterministic per-row uniform hash in [0, 2^63)."""
    return F.abs(F.xxhash64(F.col("id"), F.lit(seed)))


def _pick(seed: int, options: list[str]):
    return F.element_at(F.array(*[F.lit(o) for o in options]), (_h(seed) % len(options) + 1).cast("int"))


def generate_docs(
    spark: SparkSession,
    n_rows: int,
    n_hosts: int = 100,
    hot_host_pct: int = 30,
    malformed_pct: int = 3,
    start_ts: str = "2025-11-01 00:00:00",
    span_hours: int = 72,
    partitions: int | None = None,
) -> DataFrame:
    """Docs table with ``hot_host_pct``% of rows on host 0 (skew) and
    ``malformed_pct``% malformed lines exercising the fallback parser."""
    rng = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)

    # skewed host: hot_host_pct% of rows land on host 0
    host_idx = F.when(_h(1) % 100 < hot_host_pct, F.lit(0)).otherwise(
        (_h(2) % (n_hosts - 1) + 1).cast("int")
    )
    host = F.concat(F.lit("www.site-"), host_idx.cast("string"), F.lit(".example"))

    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(start_ts)) + (_h(3) % (span_hours * 3600))
    )
    ts_str = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")

    endpoint = _pick(4, ENDPOINTS)
    method = _pick(5, METHODS)
    ua = _pick(6, UAS)
    cache = _pick(7, CACHE_STATUSES)
    status = (
        F.when(_h(8) % 100 < 2, F.lit(500))
        .when(_h(8) % 100 < 4, F.lit(503))
        .when(_h(8) % 100 < 10, F.lit(404))
        .when(_h(8) % 100 < 13, F.lit(301))
        .otherwise(F.lit(200))
    )
    size = (_h(9) % 100000).cast("long")
    pid = (_h(10) % 9000 + 1000).cast("int")
    prio = (_h(11) % 190).cast("int")
    ip = F.concat_ws(
        ".",
        (_h(12) % 220 + 1).cast("string"),
        (_h(13) % 255).cast("string"),
        (_h(14) % 255).cast("string"),
        (_h(15) % 255).cast("string"),
    )

    # query string variety: none / single / multi / duplicate+bare / complex
    qmod = _h(16) % 5
    q = (
        F.when(qmod == 0, F.lit(""))
        .when(qmod == 1, F.concat(F.lit("?page="), (_h(17) % 50).cast("string")))
        .when(qmod == 2, F.concat(F.lit("?page="), (_h(17) % 50).cast("string"), F.lit("&sort=asc")))
        .when(qmod == 3, F.concat(F.lit("?a=1&a="), (_h(17) % 9).cast("string"), F.lit("&bare")))
        .otherwise(
            F.concat(
                F.lit("?u="), (_h(17) % 100).cast("string"),
                F.lit("&s=1&f=json&lim=50&off=0&v=2"),
            )
        )
    )
    full_path = F.concat(endpoint, q)

    good_line = F.format_string(
        '<%d>%s cache-%s s3logsprod[%d]: %s "-" "-" - "%s %s" %d %d "-" "%s" %s',
        prio, ts_str, _pick(18, ["sjc", "lhr", "fra", "nrt", "iad"]), pid, ip,
        method, full_path, status, size, ua, cache,
    )
    # malformed variants: truncated line / missing priority / pure junk
    mmod = _h(19) % 3
    bad_line = (
        F.when(mmod == 0, F.substring(good_line, 1, 40))
        .when(mmod == 1, F.regexp_replace(good_line, r"^<\d+>", ""))
        .otherwise(F.concat(F.lit("corrupt "), ip, F.lit(" ###")))
    )
    line = F.when(_h(20) % 100 < malformed_pct, bad_line).otherwise(good_line)

    url = F.concat(
        F.lit("https://"), host, F.lit("/req/"), F.col("id").cast("string")
    )
    return rng.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        F.encode(line, "UTF-8").alias("html"),
        line.alias("text"),
        _pick(21, LANGS).alias("lang"),
        host.alias("host"),
    )


def geoip_dim(spark: SparkSession, n_blocks: int = 256) -> DataFrame:
    """Small GeoIP-style dimension: ``n_blocks`` contiguous uint32 ranges
    covering the address space → country, built by
    ``operators.enrich.build_geoip_dim`` (broadcast-sized, SURVEY.md §2.5)."""
    countries = ["US", "DE", "GB", "JP", "FR", "BR", "IN", "AU", "NL", "SE"]
    block = (2**32) // n_blocks
    return build_geoip_dim(spark, [
        (i * block, (i + 1) * block - 1, countries[i % len(countries)], f"AS{64496 + i}")
        for i in range(n_blocks)
    ])


# ------------------------------------------------------------ sf sweeps
#
# Schema- and distribution-matched twins of the driver's TESTDATA tables
# at arbitrary scale (VERDICT r3 item 2: "prove linearity empirically at
# the next decade").  NOT byte-identical to the fixtures — those belong
# to the oracle gate; these exist so bench.py can run the same queries at
# 10x and report per-query growth factors.  All columns are pure
# functions of the row id (or, for embeddings, a numpy RNG seeded by the
# row id), so every table is identical at any partition count.

_DOC_VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "a", "join", "shuffle", "plan",
]

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def generate_events(spark: SparkSession, n_rows: int, n_users: int,
                    partitions: int = 32) -> DataFrame:
    rng = spark.range(0, n_rows, 1, partitions)
    ts = F.timestamp_micros(
        F.unix_timestamp(F.lit("2024-01-01 00:00:00")) * 1_000_000
        + (_h(101) % (30 * 86400)) * 1_000_000 + (_h(102) % 1_000_000)
    )
    return rng.select(
        F.col("id").alias("event_id"),
        ts.alias("ts"),
        (_h(103) % n_users).alias("user_id"),
        _pick(104, _EVENT_TYPES).alias("event_type"),
        ((_h(105) % 56022) / 100.0).alias("value"),
        F.format_string('{"k": %d}', (_h(106) % 100).cast("int")).alias("props"),
    )


def _doc_text(id_col) -> F.Column:
    """Variable-length word soup as a pure function of an id expression
    (callable twice so duplicate docs copy ANOTHER row's text exactly)."""
    def h(seed):
        return F.abs(F.xxhash64(id_col, F.lit(seed)))

    n_words = (h(110) % 93 + 8).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            F.array(*[F.lit(w) for w in _DOC_VOCAB]),
            (F.abs(F.xxhash64(id_col, i, F.lit(111))) % len(_DOC_VOCAB) + 1).cast("int"),
        ),
    )
    return F.array_join(words, " ")


def generate_documents(spark: SparkSession, n_rows: int,
                       partitions: int = 8) -> DataFrame:
    rng = spark.range(0, n_rows, 1, partitions)
    # ~0.16% exact duplicates: copy the text of a nearby earlier doc
    base_id = F.when(
        (_h(112) % 625 == 0) & (F.col("id") >= 50),
        F.col("id") - (_h(113) % 49 + 1),
    ).otherwise(F.col("id"))
    text = _doc_text(base_id)
    return rng.select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        _pick(114, ["en", "en", "en", "en", "en", "en", "de", "fr", "es", "und"]).alias("lang"),
        F.format_string("src%d", (_h(115) % 20).cast("int")).alias("source"),
        F.length(text).alias("n_chars"),
    )


def generate_embeddings(spark: SparkSession, n_rows: int, dim: int = 64,
                        partitions: int = 4) -> DataFrame:
    """Unit-norm pseudo-random vectors, one numpy RNG per row seeded by
    vec_id (partitioning-invariant); every 997th vector is a planted
    near-dup of its predecessor so near-dup queries stay non-vacuous."""
    import numpy as np
    import pandas as pd

    def _vec(vid: int) -> "np.ndarray":
        v = np.random.default_rng(vid).standard_normal(dim)
        return v / np.linalg.norm(v)

    def _iter(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for vid in pdf["id"].tolist():
                if vid % 997 == 0 and vid > 0:
                    v = _vec(vid - 1) + 0.05 * _vec(vid)
                    v = v / np.linalg.norm(v)
                else:
                    v = _vec(vid)
                out.append(v.astype(np.float32))
            yield pd.DataFrame(
                {"vec_id": pdf["id"], "embedding": out, "label": pdf["id"] % 10}
            )

    return spark.range(0, n_rows, 1, partitions).mapInPandas(
        _iter, schema="vec_id long, embedding array<float>, label int"
    )


def generate_tpch_like(spark: SparkSession, n_customer: int, n_orders: int,
                       n_lineitem: int) -> dict[str, DataFrame]:
    cust = spark.range(0, n_customer, 1, 8).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id").cast("int")).alias("c_name"),
        (_h(120) % 25).cast("int").alias("c_nationkey"),
        F.round((_h(121) % 1099965) / 100.0 - 999.85, 2).alias("c_acctbal"),
        _pick(122, _SEGMENTS).alias("c_mktsegment"),
    )
    orders = spark.range(0, n_orders, 1, 16).select(
        F.col("id").alias("o_orderkey"),
        (_h(123) % n_customer).alias("o_custkey"),
        _pick(124, ["F", "O", "P"]).alias("o_orderstatus"),
        F.round((_h(125) % 49899127) / 100.0 + 1001.91, 2).alias("o_totalprice"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("1995-01-01 00:00:00")) + (_h(126) % 2400) * 86400
        ).alias("o_orderdate"),
        _pick(127, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]).alias("o_orderpriority"),
    )
    li = spark.range(0, n_lineitem, 1, 64).select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        (_h(130) % 20000).alias("l_partkey"),
        (_h(131) % 1000).alias("l_suppkey"),
        (F.col("id") % 4 + 1).cast("int").alias("l_linenumber"),
        ((_h(132) % 50) + 1.0).alias("l_quantity"),
        F.round((_h(133) % 10409923) / 100.0 + 900.68, 2).alias("l_extendedprice"),
        ((_h(134) % 11) / 100.0).alias("l_discount"),
        ((_h(135) % 9) / 100.0).alias("l_tax"),
        _pick(136, ["R", "A", "N"]).alias("l_returnflag"),
        _pick(137, ["O", "F"]).alias("l_linestatus"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("1995-01-02 00:00:00")) + (_h(138) % 2500) * 86400
        ).alias("l_shipdate"),
    )
    return {"customer": cust, "orders": orders, "lineitem": li}


def generate_sf_tables(
    spark: SparkSession,
    out_dir: str,
    factor: int = 10,
    tables: tuple[str, ...] | None = None,
) -> None:
    """Write the bench-relevant table set at ``factor`` x the sf0.1 row
    counts (events 100k -> 1M at factor 10, etc.).  User/key cardinalities
    scale WITH the data so per-key load stays constant — the fleet-scale
    assumption (more traffic means more users, not denser users).

    ``tables`` limits generation to a subset (``"events"``,
    ``"documents"``, ``"embeddings"``, ``"tpch"``) — the x100 linearity
    probe needs only the first three and skipping the 60M-row lineitem
    saves most of its datagen wall time.  The completion marker records
    the subset, so widening the subset later regenerates."""
    import os as _os

    wanted = tables or ("events", "documents", "embeddings", "tpch")
    suffix = "" if tables is None else "_" + "-".join(sorted(wanted))
    marker = _os.path.join(out_dir, f"_GENERATED_x{factor}{suffix}")
    full_marker = _os.path.join(out_dir, f"_GENERATED_x{factor}")
    if _os.path.exists(marker) or _os.path.exists(full_marker):
        return
    if "events" in wanted:
        generate_events(spark, 100_000 * factor, 1_500 * factor).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/events.parquet")
    if "documents" in wanted:
        generate_documents(spark, 5_000 * factor).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )
    if "embeddings" in wanted:
        generate_embeddings(spark, 2_000 * factor).write.mode("overwrite").parquet(
            f"{out_dir}/embeddings.parquet"
        )
    if "tpch" in wanted:
        t = generate_tpch_like(
            spark, 15_000 * factor, 150_000 * factor, 600_000 * factor
        )
        for name, df in t.items():
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
    with open(marker, "w") as f:
        f.write("ok\n")
