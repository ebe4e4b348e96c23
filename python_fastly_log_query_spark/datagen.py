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
