"""Deterministic log-line corpus derived from the testdata ``events`` table.

The driver's correctness gate compares Spark queries against DuckDB SQL over
the same parquet tables (``__spark_entry__.py`` contract).  To make the
parse→aggregate pipeline oracle-checkable, we derive a Fastly log line from
each ``events`` row with pure column expressions.  The SPARK side builds the
line and runs it through the real pipeline parser; the DUCKDB side never
parses — it recomputes the same field derivations directly.  Agreement
therefore proves the parser extracts exactly what was encoded.

Every derivation below exists twice — as a Spark Column and inside
``LOGS_CTE`` (DuckDB SQL) — and MUST stay in lockstep; the pair is covered
by a dedicated parity test (tests/test_oracle_parity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.parse import parse_logs

UAS = [
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/118.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    "python-requests/2.31.0",
    "curl/8.4.0",
    "Datadog Agent/7.48.0",
]
SERVERS = ["sjc", "lhr", "fra", "iad"]
CACHES = ["hit", "hit", "miss", "pass"]
COUNTRIES = ["US", "DE", "GB", "JP", "FR", "BR", "IN", "AU", "NL", "SE"]


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def log_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One parseable Fastly line per events row (column exprs only)."""
    e = events_df(spark, sf_dir)
    eid, uid = F.col("event_id"), F.col("user_id")
    prio = (eid % 60 + 130).cast("int")
    srv = F.element_at(F.array(*[F.lit(s) for s in SERVERS]), (eid % 4 + 1).cast("int"))
    pid = (uid + 1000).cast("int")
    ip = F.format_string("%d.%d.0.%d", (uid % 220 + 1), (uid * 3) % 250, (uid * 7) % 250)
    m10 = eid % 10
    method = F.when(m10 < 7, "GET").when(m10 < 9, "POST").otherwise("PUT")
    path = F.concat(F.lit("/api/"), F.col("event_type"))
    qcase = eid % 5
    pagev = (eid % 50).cast("string")
    av = (eid % 9).cast("string")
    uv = (uid % 100).cast("string")
    q = (
        F.when(qcase == 0, F.lit(""))
        .when(qcase == 1, F.concat(F.lit("?page="), pagev))
        .when(qcase == 2, F.concat(F.lit("?page="), pagev, F.lit("&sort=asc")))
        .when(qcase == 3, F.concat(F.lit("?a=1&a="), av, F.lit("&bare")))
        .otherwise(F.concat(F.lit("?u="), uv, F.lit("&s=1&f=json&lim=50&off=0&v=2")))
    )
    m20 = eid % 20
    status = (
        F.when(m20 == 0, 500)
        .when(m20 == 1, 503)
        .when(m10 == 2, 404)
        .when(m10 == 3, 301)
        .otherwise(200)
    ).cast("int")
    size = (F.floor(F.col("value") * 100) + 17).cast("long")
    ua = F.element_at(F.array(*[F.lit(u) for u in UAS]), (uid % 6 + 1).cast("int"))
    cache = F.element_at(F.array(*[F.lit(c) for c in CACHES]), (eid % 4 + 1).cast("int"))
    ts_str = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    line = F.format_string(
        '<%d>%s cache-%s s3logsprod[%d]: %s "-" "-" - "%s %s%s" %d %d "-" "%s" %s',
        prio, ts_str, srv, pid, ip, method, path, q, status, size, ua, cache,
    )
    return e.select(F.col("event_id"), line.alias("text"))


def parsed_events(
    spark: SparkSession, sf_dir: str, columns: list[str] | None = None
) -> DataFrame:
    """The oracle corpus, parsed by the real pipeline parser.

    ``columns`` prunes the parsed output (manual projection through the
    UDF boundary — see operators/parse.py).  The testdata events table is
    one small parquet file per SF, so the ``mapInArrow`` parse would run as a
    single task; spread() fans the lines over the cluster first (no-op on
    well-partitioned production input)."""
    from .plans.partitioning import spread

    return parse_logs(
        spread(log_lines(spark, sf_dir)), line_col="text",
        passthrough=["event_id"], columns=columns,
    )


def _case_ua() -> str:
    whens = "\n      ".join(
        f"WHEN {i} THEN '{u}'" for i, u in enumerate(UAS)
    )
    return f"CASE user_id % 6\n      {whens}\n    END"


def _case_srv() -> str:
    whens = " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(SERVERS))
    return f"CASE event_id % 4 {whens} END"


def _case_cache() -> str:
    whens = " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(CACHES))
    return f"CASE event_id % 4 {whens} END"


# DuckDB CTE recomputing the SAME field derivations (no parsing).
LOGS_CTE = f"""
WITH logs AS (
  SELECT
    event_id                                                   AS event_id,
    date_trunc('second', ts)                                   AS ts_s,
    CAST(user_id + 1000 AS INT)                                AS pid,
    's3logsprod'                                               AS process,
    'cache-' || ({_case_srv()})                                AS cache_server,
    CASE event_id % 5
      WHEN 0 THEN NULL
      WHEN 1 THEN 'page=' || CAST(event_id % 50 AS VARCHAR)
      WHEN 2 THEN 'page=' || CAST(event_id % 50 AS VARCHAR) || '&sort=asc'
      WHEN 3 THEN 'a=1&a=' || CAST(event_id % 9 AS VARCHAR) || '&bare'
      ELSE 'u=' || CAST(user_id % 100 AS VARCHAR) || '&s=1&f=json&lim=50&off=0&v=2'
    END                                                        AS query_string,
    CAST(CASE event_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
              WHEN 3 THEN 1 ELSE 6 END AS INT)                 AS param_count,
    CAST(event_id % 60 + 130 AS INT)                           AS priority,
    printf('%d.%d.0.%d', 1 + user_id % 220, (user_id*3) % 250, (user_id*7) % 250) AS ip_address,
    CASE WHEN event_id % 10 < 7 THEN 'GET'
         WHEN event_id % 10 < 9 THEN 'POST' ELSE 'PUT' END     AS http_method,
    '/api/' || event_type                                      AS path,
    CAST(CASE WHEN event_id % 20 = 0 THEN 500
              WHEN event_id % 20 = 1 THEN 503
              WHEN event_id % 10 = 2 THEN 404
              WHEN event_id % 10 = 3 THEN 301
              ELSE 200 END AS INT)                             AS status_code,
    CAST(floor(value*100) + 17 AS BIGINT)                      AS response_size,
    {_case_ua()}                                               AS user_agent,
    {_case_cache()}                                            AS cache_status,
    CAST(event_id % 5 AS INT)                                  AS qcase,
    CAST(event_id % 50 AS VARCHAR)                             AS pagev,
    CAST(event_id % 9 AS VARCHAR)                              AS av,
    CAST(user_id % 100 AS VARCHAR)                             AS uv
  FROM events
)
"""

# param list per qcase, as reusable SQL fragments
PARAMS_SQL = """
params AS (
  SELECT 'page' AS param, pagev AS value FROM logs WHERE qcase IN (1,2)
  UNION ALL SELECT 'sort', 'asc'  FROM logs WHERE qcase = 2
  UNION ALL SELECT 'a',    av     FROM logs WHERE qcase = 3
  UNION ALL SELECT 'u',    uv     FROM logs WHERE qcase = 4
  UNION ALL SELECT 's',    '1'    FROM logs WHERE qcase = 4
  UNION ALL SELECT 'f',    'json' FROM logs WHERE qcase = 4
  UNION ALL SELECT 'lim',  '50'   FROM logs WHERE qcase = 4
  UNION ALL SELECT 'off',  '0'    FROM logs WHERE qcase = 4
  UNION ALL SELECT 'v',    '2'    FROM logs WHERE qcase = 4
)
"""

SIGNATURE_SQL = """
CASE qcase
  WHEN 0 THEN path
  WHEN 1 THEN path || '?page=' || pagev
  WHEN 2 THEN path || '?page=' || pagev || '&sort=asc'
  WHEN 3 THEN path || '?a=' || av
  ELSE path || '?f=json&lim=50&off=0&s=1&u=' || uv || '&v=2'
END
"""

AGENT_TYPE_SQL = """
CASE
  WHEN user_agent IS NULL OR user_agent = '' THEN 'Unknown'
  WHEN contains(lower(user_agent), 'mozilla') AND contains(lower(user_agent), 'firefox') THEN 'Firefox'
  WHEN contains(lower(user_agent), 'chrome') AND contains(lower(user_agent), 'safari') THEN 'Chrome'
  WHEN contains(lower(user_agent), 'safari') AND NOT contains(lower(user_agent), 'chrome') THEN 'Safari'
  WHEN contains(lower(user_agent), 'python-requests') THEN 'Python/requests'
  WHEN contains(lower(user_agent), 'curl') THEN 'curl'
  WHEN contains(lower(user_agent), 'datadog') THEN 'Datadog'
  ELSE 'Other'
END
"""
