"""Web-page text operators: URL canonicalization, registered-domain
extraction, and HTML → text extraction.

The crawl-side passes a Common-Crawl-style pipeline runs BEFORE any
content dedup (SURVEY.md §2 north star: "Common-Crawl-style web pages",
per-row invariant "byte-identical extracted text per url"; reference
analog: the per-URL field extraction of
``/root/reference/src/parse/log_parser.py`` generalized to the page's
URL/host itself):

- :func:`canonicalize_url` — the crawl-frontier URL equivalence rule
  (lowercase scheme/host, strip fragment + default port + ``www.``,
  drop tracking params, sort the rest, trim trailing slash).  Pure
  Column expressions, map-only: one pass at any corpus size, and the
  canonical key is what URL-level dedup groups on.
- :func:`registered_domain` — public-suffix-aware eTLD+1 extraction via
  a BROADCAST suffix dimension (two broadcast hash joins on the last-1
  and last-2 host labels, longest suffix wins).  The suffix list is a
  dimension table, not a compiled expression, so the real ~10k-entry
  public-suffix list drops in without replanning; the page table is
  never shuffled.
- :func:`extract_text` — deterministic HTML → text: drop
  ``<script>``/``<style>`` blocks, strip tags, decode the five basic
  entities, collapse whitespace.  Single regexp chain inside
  whole-stage codegen (no Python), shared Java/RE2 regex dialect so the
  DuckDB oracle replays the exact transform.

Every regex used here is valid and means the same thing in Java
(``java.util.regex``) and RE2 (DuckDB): ``(?s)`` dotall, non-greedy
``.*?``, character classes only — no backrefs, no lookaround.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ------------------------------------------------------------------ URLs

#: query parameters that never distinguish page content (the classic
#: crawl canonicalization drop-list)
TRACKING_PARAMS = ("utm_", "gclid", "fbclid", "ref")

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def _is_tracking(p: Column) -> Column:
    cond = F.lit(False)
    for t in TRACKING_PARAMS:
        if t.endswith("_"):
            cond = cond | p.startswith(t)
        else:
            cond = cond | (F.split(p, "=").getItem(0) == t)
    return cond


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (see module docstring).

    Idempotent: ``canonicalize_url(canonicalize_url(u)) ==
    canonicalize_url(u)`` (property-tested).  Everything is a built-in
    string/array expression — the whole transform stays in one codegen
    stage, no shuffle, no Python.
    """
    scheme = F.lower(F.regexp_extract(url, _URL_RE, 1))
    hostport = F.lower(F.regexp_extract(url, _URL_RE, 2))
    path = F.regexp_extract(url, _URL_RE, 3)
    query = F.regexp_extract(url, _URL_RE, 4)  # includes leading '?'

    # strip default port, then the bare www. prefix
    host = F.when(
        (scheme == "https") & hostport.endswith(":443"),
        F.left(hostport, F.length(hostport) - 4),
    ).when(
        (scheme == "http") & hostport.endswith(":80"),
        F.left(hostport, F.length(hostport) - 3),
    ).otherwise(hostport)
    host = F.regexp_replace(host, r"^www\.", "")

    # trailing-slash-insensitive path; empty path means root
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(
        (path != "/") & path.endswith("/"),
        F.left(path, F.length(path) - 1),
    ).otherwise(path)

    # drop tracking params, sort what remains (binary/ASCII order)
    parts = F.split(F.regexp_replace(query, r"^\?", ""), "&")
    kept = F.filter(parts, lambda p: (p != "") & ~_is_tracking(p))
    canon_q = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(F.array_sort(kept), "&"))
    ).otherwise(F.lit(""))

    return F.concat(scheme, F.lit("://"), host, path, canon_q)


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB expression mirroring :func:`canonicalize_url` over SQL
    expression ``expr`` — kept in lockstep with the Column version (the
    registered queries' oracles are built from this)."""
    u = expr
    # DuckDB regexp_extract(s, re, group)
    scheme = f"lower(regexp_extract({u}, {_dq(_URL_RE)}, 1))"
    hostport = f"lower(regexp_extract({u}, {_dq(_URL_RE)}, 2))"
    path0 = f"regexp_extract({u}, {_dq(_URL_RE)}, 3)"
    query = f"regexp_extract({u}, {_dq(_URL_RE)}, 4)"
    host = (
        f"CASE WHEN {scheme} = 'https' AND {hostport} LIKE '%:443' "
        f"THEN substring({hostport}, 1, length({hostport}) - 4) "
        f"WHEN {scheme} = 'http' AND {hostport} LIKE '%:80' "
        f"THEN substring({hostport}, 1, length({hostport}) - 3) "
        f"ELSE {hostport} END"
    )
    host = f"regexp_replace({host}, '^www\\.', '')"
    path1 = f"(CASE WHEN {path0} = '' THEN '/' ELSE {path0} END)"
    path = (
        f"CASE WHEN {path1} <> '/' AND {path1} LIKE '%/' "
        f"THEN substring({path1}, 1, length({path1}) - 1) ELSE {path1} END"
    )
    track = " OR ".join(
        f"starts_with(p, '{t}')" if t.endswith("_")
        else f"string_split(p, '=')[1] = '{t}'"
        for t in TRACKING_PARAMS
    )
    kept = (
        f"list_filter(string_split(regexp_replace({query}, '^\\?', ''), '&'), "
        f"p -> p <> '' AND NOT ({track}))"
    )
    canon_q = (
        f"CASE WHEN len({kept}) > 0 "
        f"THEN '?' || array_to_string(list_sort({kept}), '&') ELSE '' END"
    )
    return f"{scheme} || '://' || {host} || {path} || {canon_q}"


def _dq(pat: str) -> str:
    """Pattern as a DuckDB single-quoted string literal."""
    return "'" + pat.replace("'", "''") + "'"


# --------------------------------------------------- registered domains

#: mini public-suffix dimension (drop-in for the full ~10k-entry list);
#: multi-label entries exercise the longest-suffix-wins path
PUBLIC_SUFFIXES = (
    "com", "org", "net", "io", "dev", "example",
    "co.uk", "org.uk", "com.au", "co.jp",
)


def suffix_dim(spark) -> DataFrame:
    """(suffix, n_labels) dimension — broadcast side of the eTLD+1 join."""
    rows = [(s, s.count(".") + 1) for s in PUBLIC_SUFFIXES]
    return spark.createDataFrame(rows, "suffix string, n_labels int")


def registered_domain(df: DataFrame, host: str, spark=None,
                      out: str = "registered_domain") -> DataFrame:
    """Add ``out`` = eTLD+1 of ``df[host]`` (NULL if no known suffix).

    Longest-suffix-wins via two BROADCAST left joins: the last-2-label
    tail against multi-label suffixes, then the last-1-label tail
    against single-label suffixes; coalesce prefers the longer match.
    The fact side is never shuffled — the plan at 10^12 rows is two
    broadcast hash joins and nothing else.
    """
    spark = spark or df.sparkSession
    dim = suffix_dim(spark)
    d2 = F.broadcast(
        dim.filter("n_labels = 2").select(F.col("suffix").alias("_sfx2"))
    )
    d1 = F.broadcast(
        dim.filter("n_labels = 1").select(F.col("suffix").alias("_sfx1"))
    )
    labels = F.split(F.col(host), r"\.")
    n = F.size(labels)
    last1 = F.element_at(labels, -1)
    last2 = F.when(n >= 2, F.concat_ws(".", F.element_at(labels, -2), last1))
    # label immediately left of the matched suffix
    out_df = (
        df.withColumn("_l1", last1)
        .withColumn("_l2", last2)
        .join(d2, F.col("_l2") == F.col("_sfx2"), "left")
        .join(d1, F.col("_l1") == F.col("_sfx1"), "left")
    )
    reg2 = F.when(
        (F.col("_sfx2").isNotNull()) & (n >= 3),
        F.concat_ws(".", F.element_at(labels, -3), F.col("_sfx2")),
    )
    reg1 = F.when(
        (F.col("_sfx1").isNotNull()) & (n >= 2),
        F.concat_ws(".", F.element_at(labels, -2), F.col("_sfx1")),
    )
    return out_df.withColumn(out, F.coalesce(reg2, reg1)).drop(
        "_l1", "_l2", "_sfx2", "_sfx1"
    )


def suffix_dim_sql() -> str:
    """DuckDB VALUES dim mirroring :func:`suffix_dim`."""
    rows = ", ".join(
        f"('{s}', {s.count('.') + 1})" for s in PUBLIC_SUFFIXES
    )
    return f"(VALUES {rows}) sfx(suffix, n_labels)"


# ------------------------------------------------------------- HTML text

_SCRIPT_RE = r"(?s)<script[^>]*>.*?</script>"
_STYLE_RE = r"(?s)<style[^>]*>.*?</style>"
_TAG_RE = r"<[^>]+>"
_WS_RE = r"\s+"

#: decode order matters: &amp; LAST, so '&amp;lt;' decodes to '&lt;'
#: (the literal text), not '<'
_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&amp;", "&"),
)


def escape_html(col: Column) -> Column:
    """Inverse of the entity-decode step (encode order: & first)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    for ent, ch in _ENTITIES[:-1]:
        out = F.replace(out, F.lit(ch), F.lit(ent))
    return out


def escape_html_sql(expr: str) -> str:
    """DuckDB expression mirroring :func:`escape_html`."""
    s = f"replace({expr}, '&', '&amp;')"
    for ent, ch in _ENTITIES[:-1]:
        s = f"replace({s}, {_dq(ch)}, '{ent}')"
    return s


def extract_text(html: Column, binary: bool = True) -> Column:
    """Visible text of an HTML byte/string column (see module
    docstring).  One codegen chain: decode → drop script/style → strip
    tags → decode entities → collapse whitespace → trim."""
    s = F.decode(html, "UTF-8") if binary else html
    s = F.regexp_replace(s, _SCRIPT_RE, "")
    s = F.regexp_replace(s, _STYLE_RE, "")
    s = F.regexp_replace(s, _TAG_RE, " ")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.regexp_replace(s, _WS_RE, " ")
    return F.trim(s)


def extract_text_sql(expr: str) -> str:
    """DuckDB expression mirroring :func:`extract_text` on a VARCHAR
    expression (the oracle builds the page as text, so no decode)."""
    s = f"regexp_replace({expr}, {_dq(_SCRIPT_RE)}, '', 'g')"
    s = f"regexp_replace({s}, {_dq(_STYLE_RE)}, '', 'g')"
    s = f"regexp_replace({s}, {_dq(_TAG_RE)}, ' ', 'g')"
    for ent, ch in _ENTITIES:
        s = f"replace({s}, '{ent}', {_dq(ch)})"
    s = f"regexp_replace({s}, '\\s+', ' ', 'g')"
    return f"trim({s})"


# ------------------------------------------------- host boilerplate lines


def host_boilerplate_strip(
    pages: DataFrame,
    min_frac_ppm: int = 500_000,
    min_pages: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host boilerplate line removal (the CCNet / Common Crawl
    cleaning pass): a line that appears on MORE than ``min_frac_ppm``
    ppm of a host's pages (host having >= ``min_pages`` pages) is site
    chrome —
    nav bars, footers, cookie banners — and is stripped from every page
    of that host; content lines (present on few pages) survive.  This
    is host-SCOPED frequency thresholding, distinct from the global
    keep-first span dedup (`corpus.span_dedup`): boilerplate is removed
    from its first occurrence too, and a line common on one site but
    unique on another is only stripped where it is chrome.

    Input: ``(id_col, host, text)`` with ``\\n``-separated lines.
    Returns ``(doc_id, n_lines, kept_lines, clean_md5)``; ``clean_md5``
    hashes the surviving lines joined by ``\\n`` in original order
    (NULL when every line was chrome — the page is dropped).

    Threshold compares in INTEGERS and STRICTLY (``n_docs_line * 10^6 >
    min_frac_ppm * n_pages``) so the cut is bit-exact cross-engine and
    a line on exactly the threshold fraction (e.g. 1 of 2 pages at 50%)
    is content, not chrome — the 2-page host does not degenerate to
    "every line is boilerplate".

    Plan / 100 TB shape: explode lines (map-only) -> per-(host, line)
    containment counts via a DISTINCT + groupBy with map-side partials
    -> host page counts are a hosts-sized dim, BROADCAST onto the line
    counts -> the boilerplate verdict joins back as a (host, line)
    LEFT ANTI equi-join (the hot cookie-banner line is exactly the
    skewed key AQE's skew split handles; a window over host would
    serialize whole sites) -> doc-sized rebuild groups.  The page
    table shuffles twice (line key, then doc_id), both with partial
    aggregation; no corpus-sized broadcast anywhere."""
    lines = pages.select(
        id_col,
        "host",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    contain = lines.select("host", "line", id_col).distinct()
    line_counts = contain.groupBy("host", "line").agg(
        F.count("*").alias("n_docs_line")
    )
    host_pages = pages.groupBy("host").agg(
        F.count_distinct(F.col(id_col)).alias("n_pages")
    )
    boiler = (
        line_counts.join(F.broadcast(host_pages), "host")
        .filter(
            (F.col("n_pages") >= min_pages)
            & (
                F.col("n_docs_line") * F.lit(1_000_000)
                > F.lit(min_frac_ppm) * F.col("n_pages")
            )
        )
        .select("host", "line")
    )
    kept = lines.join(boiler, ["host", "line"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("kept_lines"),
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s.line,
                    ),
                    "\n",
                ),
                "UTF-8",
            )
        ).alias("clean_md5"),
    )
    return (
        lines.groupBy(id_col)
        .agg(F.count("*").alias("n_lines"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce(F.col("kept_lines"), F.lit(0)).alias("kept_lines"),
            "clean_md5",
        )
    )


# ---------------------------------------------------- crawl snapshot delta


def snapshot_delta(
    old: DataFrame, new: DataFrame, key: str = "url", fp_col: str = "fp"
) -> DataFrame:
    """URL-keyed diff of two crawl snapshots: FULL OUTER join on the
    page key, each url classified ``added`` (new only) / ``removed``
    (old only) / ``changed`` (both, fingerprint differs) / ``unchanged``.
    The between-snapshots bookkeeping pass a crawler runs before
    re-fetch scheduling — complements the content-keyed catch-up dedup
    (`corpus.incremental_dedup_bloom`, which asks "seen this TEXT?")
    with the url-keyed "what happened to this PAGE?".

    Plan / 100 TB shape: one shuffle of each snapshot on the url key
    into a SortMergeJoin; with both snapshots written through the
    bucketed catalog (`plans/bucketing.py`, bucket by url) the
    Exchanges vanish and the diff is a zero-shuffle merge — the layout
    a crawl store should use, since every snapshot pair gets diffed.
    Map-only classification after the join; no driver gather."""
    o = old.select(F.col(key).alias(key), F.col(fp_col).alias("old_fp"))
    n = new.select(F.col(key).alias(key), F.col(fp_col).alias("new_fp"))
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, key, "full_outer").select(
        key, "old_fp", "new_fp", status.alias("status")
    )


# ------------------------------------------------------- domain scorecard


def domain_scorecard(
    pages: DataFrame,
    blocklist: DataFrame,
    spark,
    dup_ppm_max: int = 500_000,
    mean_tokens_min: int = 5,
) -> DataFrame:
    """Per-registered-domain curation scorecard (the RefinedWeb /
    FineWeb domain-level pass): roll every page signal up to eTLD+1 and
    emit one keep/drop verdict per domain — the table a crawl operator
    reads to cap, down-weight, or drop whole sites, which is where
    web-corpus cleaning actually starts (domains are ~10^7 next to
    10^12 pages, so acting per-domain is 10^5x cheaper than per-page).

    Input ``pages``: ``(doc_id, host, text, lang)``;
    ``blocklist``: ``(registered_domain)`` — a dimension (spam/SEO/ad
    lists are ~10^5 rows), BROADCAST.

    Signals (ALL integer, ppm granularity, BIGINT ``div`` — bit-exact
    cross-engine): ``n_pages``; ``dup_ppm`` (fraction of the domain's
    pages whose exact text occurs >= 2 times CORPUS-WIDE — template/
    boilerplate sites light up here); ``mean_tokens``; ``en_ppm``
    (language mix); ``blocklisted``; verdict ``keep`` = not blocklisted
    AND dup_ppm <= ``dup_ppm_max`` AND mean_tokens >= ``mean_tokens_min``.

    Plan / 100 TB shape: corpus-wide text-fp counts (ONE shuffle on the
    fp key, map-side partials) equi-joined back (AQE skew split handles
    the hot template fp); eTLD+1 via the BROADCAST public-suffix dim
    (registered_domain — the page table never shuffles for it); ONE
    domain rollup shuffle; blocklist joins BROADCAST onto the
    domains-sized result.  Two corpus shuffles total, both narrow-keyed;
    everything JVM-side Column exprs."""
    fp = F.md5(F.encode(F.col("text"), "UTF-8"))
    d = pages.withColumn("fp", fp)
    counts = d.groupBy("fp").agg(F.count("*").alias("n_fp"))
    rd = registered_domain(
        d.join(counts, "fp"), "host", spark
    ).select(
        "registered_domain",
        "lang",
        "n_fp",
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    g = rd.groupBy("registered_domain").agg(
        F.count("*").alias("n_pages"),
        F.expr(
            "sum(CASE WHEN n_fp >= 2 THEN 1 ELSE 0 END) * 1000000 div count(*)"
        ).alias("dup_ppm"),
        F.expr("sum(n_tok) div count(*)").alias("mean_tokens"),
        F.expr(
            "sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000 div count(*)"
        ).alias("en_ppm"),
    )
    bl = blocklist.select(
        "registered_domain", F.lit(1).cast("long").alias("blocklisted")
    )
    return g.join(F.broadcast(bl), "registered_domain", "left").select(
        "registered_domain",
        "n_pages",
        "dup_ppm",
        "mean_tokens",
        "en_ppm",
        F.coalesce(F.col("blocklisted"), F.lit(0)).alias("blocklisted"),
        (
            F.coalesce(F.col("blocklisted"), F.lit(0)).eqNullSafe(0)
            & (F.col("dup_ppm") <= dup_ppm_max)
            & (F.col("mean_tokens") >= mean_tokens_min)
        )
        .cast("long")
        .alias("keep"),
    )


# --------------------------------------------------- text normalization

def _cls(*points) -> tuple[str, str]:
    """A codepoint character class in ``\\x{hhhh}`` hex notation — the
    escape BOTH Java regex and RE2 accept, keeping every pattern pure
    ASCII (no control bytes in source, SQL text, or the py4j wire).
    Entries are ints (single codepoint) or (lo, hi) range tuples."""
    parts = []
    for p in points:
        if isinstance(p, tuple):
            lo, hi = p
            parts.append(f"\\x{{{lo:04x}}}-\\x{{{hi:04x}}}")
        else:
            parts.append(f"\\x{{{p:04x}}}")
    pat = "[" + "".join(parts) + "]"
    return pat, pat


def _both(pat: str) -> tuple[str, str]:
    return pat, pat


#: (java_pattern, re2_pattern, replacement) chain applied IN ORDER — the
#: unicode cleanup every released web corpus runs before tokenization
#: (punctuation folding, zero-width/control stripping, whitespace
#: canonicalization).  Patterns are literal chars + character classes +
#: bounded quantifiers only — leftmost non-overlapping replacement with
#: identical semantics in Java regex and RE2.
NORMALIZE_RULES: list[tuple[str, str, str]] = [
    (*_both(r"\r\n?"), "\n"),                                # CRLF / bare CR
    (*_cls(0x200B, 0x200C, 0x200D, 0xFEFF), ""),             # zero-width+BOM
    (*_cls(0x00A0, (0x2000, 0x200A), 0x202F, 0x3000), " "),  # unicode spaces
    (*_cls(0x2018, 0x2019, 0x201A), "'"),                    # curly singles
    (*_cls(0x201C, 0x201D, 0x201E), '"'),                    # curly doubles
    (*_cls(0x2013, 0x2014, 0x2015), "-"),                    # en/em/horiz dash
    (*_cls(0x2026), "..."),                                  # ellipsis
    (*_cls((0x0000, 0x0008), 0x000B, 0x000C,
           (0x000E, 0x001F), 0x007F), ""),                   # control chars
    (*_both(r"[ \t]+"), " "),                                # space/tab runs
    (*_both(r"[ ]?\n[ ]?"), "\n"),                           # spaces at \n
    (*_both(r"\n\n\n+"), "\n\n"),                            # blank-line runs
    (*_both(r"^[ \n]+"), ""),                                # leading trim
    (*_both(r"[ \n]+$"), ""),                                # trailing trim
]


def normalize_text(col: Column) -> Column:
    """Canonical unicode/whitespace normalization of web text — the
    deterministic subset of the ftfy/C4-style cleanup stage (reference
    analog: the whitespace/format scrubbing in
    ``/root/reference/src/parse/log_parser.py``'s field probes, promoted
    to a corpus pass).  One chain of JVM ``regexp_replace`` Column
    expressions: map-only, zero shuffle, whole-stage-codegen'd — at
    10^12 docs this costs exactly one scan and is embarrassingly
    parallel.  The rule chain is shared with :func:`normalize_text_sql`
    so the normalized BYTES are oracle-pinned cross-engine."""
    out = col
    for java_pat, _re2, repl in NORMALIZE_RULES:
        out = F.regexp_replace(out, java_pat, repl)
    return out


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`normalize_text` — same rule chain rendered
    with RE2 ``\\x{...}`` escapes (ASCII-clean SQL text); DuckDB's
    ``regexp_replace`` needs the explicit ``'g'`` flag to match Spark's
    replace-all semantics."""
    out = expr
    for _java, re2_pat, repl in NORMALIZE_RULES:
        p = re2_pat.replace("\\", "\\\\").replace("'", "''")
        r = (repl.replace("\\", "\\\\").replace("'", "''")
             .replace("\n", "' || chr(10) || '"))
        out = f"regexp_replace({out}, E'{p}', '{r}', 'g')"
    return out


# --------------------------------------------------------- URL filtering

#: path substrings that mark a page as non-training content (stand-in
#: for the UT1/production blocklists a real crawl ships)
BLOCKED_PATH_TOKENS = ("casino", "lottery", "sweepstake")

#: extensions that are assets/feeds, not prose pages
NON_CONTENT_EXT_RE = r"\.(xml|rss|css|js|jpe?g|png|gif|ico|svg|zip|exe|woff2?)$"

_BLOCKED_RE = "(" + "|".join(BLOCKED_PATH_TOKENS) + ")"


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    max_len: int = 200,
    max_params: int = 8,
) -> DataFrame:
    """URL-level page filter — the FIRST quality gate a crawl pipeline
    runs (RefinedWeb/C4 shape: cheap URL rules drop whole pages before
    any content is fetched or parsed).  Adds a ``verdict`` column with
    first-match-wins precedence: ``blocked_token`` (path contains a
    blocklist token), ``non_content_ext`` (asset/feed extension),
    ``too_long`` (URL length > ``max_len``), ``too_many_params``
    (query parameter count > ``max_params``), else ``keep``.

    Map-only pure-Column when-chain over regexp-extracted URL parts —
    zero shuffle, whole-stage codegen, embarrassingly parallel at
    10^12 rows; the rule expressions are the shared Java/RE2 dialect so
    :func:`url_filter_sql` replays the verdicts bit-identically."""
    u = F.col(url_col)
    path = F.lower(F.regexp_extract(u, _URL_RE, 3))
    query = F.regexp_extract(u, _URL_RE, 4)
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query.substr(F.lit(2), F.length(query)), "&"))
    )
    verdict = (
        F.when(path.rlike(_BLOCKED_RE), "blocked_token")
        .when(path.rlike(NON_CONTENT_EXT_RE), "non_content_ext")
        .when(F.length(u) > max_len, "too_long")
        .when(n_params > max_params, "too_many_params")
        .otherwise("keep")
    )
    return df.withColumn("verdict", verdict)


def url_filter_sql(expr: str, max_len: int = 200, max_params: int = 8) -> str:
    """DuckDB twin of :func:`url_filter`'s verdict expression."""
    pat = _URL_RE.replace("'", "''")
    path = f"lower(regexp_extract({expr}, '{pat}', 3))"
    query = f"regexp_extract({expr}, '{pat}', 4)"
    n_params = (
        f"CASE WHEN {query} = '' THEN 0 "
        f"ELSE len(string_split(substring({query}, 2), '&')) END"
    )
    return f"""CASE
  WHEN regexp_matches({path}, '{_BLOCKED_RE}') THEN 'blocked_token'
  WHEN regexp_matches({path}, '{NON_CONTENT_EXT_RE.replace("'", "''")}')
    THEN 'non_content_ext'
  WHEN length({expr}) > {max_len} THEN 'too_long'
  WHEN {n_params} > {max_params} THEN 'too_many_params'
  ELSE 'keep' END"""


# ------------------------------------------------------------- robots.txt

def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Parse per-host robots.txt into the ``User-agent: *`` rule set —
    ``(host, prefix, allow, rule_len)``.  The robots file is the one
    crawl input that is genuinely STATEFUL line-by-line (a rule's
    meaning depends on the user-agent block above it); expressed
    relationally: explode lines with positions, mark block starts
    (a ``User-agent`` line whose predecessor is not one — stacked UA
    lines share a block), running-sum the markers into group ids, and
    keep Allow/Disallow lines of groups whose UA set contains ``*``.
    Empty-value ``Disallow:`` (allow-all) drops out naturally.

    Scale: every window partitions by HOST over one robots FILE's
    lines (kilobytes by protocol), never by corpus rows; the output is
    a broadcast-sized dimension for :func:`robots_check`."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("pos", "line"),
    ).select(
        "host",
        "pos",
        F.trim(F.col("line")).alias("line"),
    )
    d = F.lower(F.trim(F.regexp_extract(F.col("line"), r"^([A-Za-z-]+)\s*:", 1)))
    v = F.trim(F.regexp_extract(F.col("line"), r"^[A-Za-z-]+\s*:(.*)$", 1))
    parsed = lines.select(
        "host", "pos", d.alias("directive"), v.alias("value")
    ).filter(F.col("directive").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = (F.col("directive") == "user-agent").cast("int")
    prev_ua = F.lag(is_ua, 1, 0).over(w)
    block_start = ((is_ua == 1) & (prev_ua == 0)).cast("int")
    grouped = parsed.withColumn(
        "grp", F.sum(block_start).over(w)
    )
    star_groups = (
        grouped.filter(
            (F.col("directive") == "user-agent") & (F.col("value") == "*")
        )
        .select("host", "grp")
        .distinct()
    )
    return (
        grouped.join(F.broadcast(star_groups), ["host", "grp"])
        .filter(F.col("directive").isin("allow", "disallow") & (F.col("value") != ""))
        .select(
            "host",
            F.col("value").alias("prefix"),
            (F.col("directive") == "allow").cast("long").alias("allow"),
            F.length("value").cast("long").alias("rule_len"),
        )
    )


def robots_check(
    pages: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Per-page robots verdict against :func:`robots_rules` output —
    adds ``allowed`` (1/0): the LONGEST matching rule prefix wins,
    ties go to Allow (the Google-documented precedence), no matching
    rule means allowed.

    Plan: rules are a BROADCAST dimension (robots files are per-host
    kilobytes), so the page table joins host-equi + prefix filter
    without shuffling; the winner per page is one associative
    ``max(struct(rule_len, allow))`` aggregate over each page's
    handful of matched rules."""
    j = pages.join(
        F.broadcast(rules.withColumnRenamed("host", "_rh")),
        (F.col(host_col) == F.col("_rh"))
        & F.col(path_col).startswith(F.col("prefix")),
        "left",
    )
    keys = [F.col(c) for c in pages.columns]
    win = F.max(
        F.struct(F.col("rule_len"), F.col("allow"))
    ).alias("_w")
    return (
        j.groupBy(*keys)
        .agg(win)
        .select(
            *pages.columns,
            F.coalesce(F.col("_w.allow"), F.lit(1)).cast("long").alias("allowed"),
        )
    )


# ------------------------------------------------------------ script mix

#: (name, java_class, re2_class) — character classes counted by
#: :func:`script_mix`.  Java spells scripts \p{IsX}, RE2 spells \p{X};
#: ASCII classes are shared.
SCRIPT_CLASSES = (
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("digit", "[0-9]", "[0-9]"),
)


def script_mix(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document script composition — the CLD-style prefilter a
    multilingual crawl runs before any model-based language ID (a page
    that is 40% Han + 40% Latin is code-mixed or a template, and the
    script census also routes docs to script-specific tokenizers).

    Returns ``(doc_id, n_chars, <name>_ppm per class, dominant)`` —
    integer ppm of each script class over total chars, and the dominant
    class (max count, ties by the fixed class order, 'other' when no
    class scores).  Map-only counting inside codegen: one scan, zero
    shuffle, no Python.

    Counting shape (guide §1/§4 "per-task work", optimization r6): every
    class pattern matches EXACTLY ONE character, so the match count
    equals ``length(text) - length(text with that class deleted)``.
    ASCII classes delete via ``translate`` (a char-map lookup, no regex
    at all); the Unicode script classes delete via one
    ``regexp_replace`` each — one string output per class instead of
    ``regexp_extract_all``'s per-matched-char array (measured 6.0s →
    sub-second at sf0.1; the old shape also re-evaluated each count up
    to 8x inside the dominant when-chain, so the counts are now
    materialized ONCE in an intermediate projection and the ppm /
    dominant expressions reference the columns).  The Java/RE2 class
    spellings differ (``\\p{IsHan}`` vs ``\\p{Han}``) so
    :data:`SCRIPT_CLASSES` carries both; counts agree because the
    planted chars sit deep inside each script block (Unicode-version
    edge chars are the only place the engines could diverge)."""
    _ASCII_CHARS = {
        "latin": "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz",
        "digit": "0123456789",
    }
    t = F.col(text_col)
    n = F.length(t).cast("long")

    def _count(name: str, java_cls: str) -> F.Column:
        if name in _ASCII_CHARS:
            stripped = F.translate(t, _ASCII_CHARS[name], "")
        else:
            stripped = F.regexp_replace(t, java_cls, "")
        return (F.length(t) - F.length(stripped)).cast("long")

    mid = docs.select(
        F.col(id_col),
        n.alias("n_chars"),
        *[
            _count(name, java_cls).alias(f"_cnt_{name}")
            for name, java_cls, _ in SCRIPT_CLASSES
        ],
    )
    counts = {name: F.col(f"_cnt_{name}") for name, _, _ in SCRIPT_CLASSES}
    nc = F.col("n_chars")
    dominant = F.lit("other")
    best = F.lit(0).cast("long")
    # fixed order: later classes win only with STRICTLY more hits
    for name, _, _ in SCRIPT_CLASSES:
        take = counts[name] > best
        dominant = F.when(take, F.lit(name)).otherwise(dominant)
        best = F.when(take, counts[name]).otherwise(best)
    cols = [F.col(id_col), nc]
    for name, _, _ in SCRIPT_CLASSES:
        cols.append(
            F.when(nc > 0, counts[name] * 1000000 / nc)
            .otherwise(F.lit(0)).cast("long").alias(f"{name}_ppm")
        )
    cols.append(dominant.alias("dominant"))
    return mid.select(*cols)


def script_mix_sql(text_expr: str, id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`script_mix` (RE2 class spellings)."""
    cnt = {
        name: f"CAST(len(regexp_extract_all({text_expr}, '{re2}')) AS BIGINT)"
        for name, _, re2 in SCRIPT_CLASSES
    }
    n = f"CAST(length({text_expr}) AS BIGINT)"
    dom = "'other'"
    best = "CAST(0 AS BIGINT)"
    for name, _, _ in SCRIPT_CLASSES:
        dom = f"CASE WHEN {cnt[name]} > {best} THEN '{name}' ELSE {dom} END"
        best = f"CASE WHEN {cnt[name]} > {best} THEN {cnt[name]} ELSE {best} END"
    ppm = ", ".join(
        f"CAST(CASE WHEN {n} > 0 THEN {cnt[name]} * 1000000 // {n} ELSE 0 END "
        f"AS BIGINT) AS {name}_ppm"
        for name, _, _ in SCRIPT_CLASSES
    )
    return (
        f"SELECT {id_expr}, {n} AS n_chars, {ppm}, {dom} AS dominant"
    )


# -------------------------------------------------------- crawl politeness


def crawl_waves(
    urls: DataFrame,
    host_col: str = "host",
    order_by: list | None = None,
    per_wave: int = 8,
    id_col: str = "url",
) -> DataFrame:
    """Politeness-wave scheduling: assign every URL to a fetch wave such
    that no host receives more than ``per_wave`` fetches per wave — the
    crawl-rate contract a polite fetcher must satisfy — while higher-
    priority URLs land in earlier waves.

    ``order_by`` is the per-host priority ordering (defaults to
    ``id_col`` ascending; pass e.g. ``[F.desc("score"), F.asc("url")]``
    — make it a total order or wave membership is ill-defined).  Output:
    the input columns plus ``wave`` (0-based long).

    Plan: ONE shuffle + sort (a row_number window per host; the wave is
    pure arithmetic on the rank).  A host with 10^8 queued URLs
    serializes its window partition — for that profile rank within
    ``(host, salt_bucket)`` with a ``per_wave div n_salt`` budget per
    bucket: the politeness bound still holds per wave and the partition
    is 1/n_salt the size (priority ordering then holds within buckets
    rather than globally).
    """
    order = order_by if order_by is not None else [F.asc(id_col)]
    w = Window.partitionBy(host_col).orderBy(*order)
    return (
        urls.withColumn("_rn", F.row_number().over(w))
        .withColumn("wave", F.expr(f"CAST((_rn - 1) div {per_wave} AS BIGINT)"))
        .drop("_rn")
    )


# ------------------------------------------------------ encoding repair

#: (re2/java pattern, fixed codepoint) chain — the high-frequency
#: mojibake sequences produced when UTF-8 bytes are re-decoded as
#: Latin-1/CP1252 (the ftfy fix-encoding core, reduced to its
#: deterministic rule-table form).  A 2-byte UTF-8 letter ``C3 xx``
#: mis-decoded shows as ``Ã`` + one Latin-1 char; a 3-byte punctuation
#: mark ``E2 80 xx`` shows as ``â€`` + one CP1252 char.  Patterns are
#: pure-ASCII ``\x{hhhh}`` escapes (the shared Java/RE2 spelling used
#: by NORMALIZE_RULES); replacements are single codepoints rendered
#: engine-appropriately by each twin.
MOJIBAKE_RULES: list[tuple[str, int]] = [
    # 3-byte first: their tails contain no 'Ã', so order vs the 2-byte
    # rules is immaterial, but a fixed order keeps both engines aligned.
    ("\\x{00e2}\\x{20ac}\\x{2122}", 0x2019),  # a-circ + euro + TM   -> RIGHT SINGLE QUOTE
    ("\\x{00e2}\\x{20ac}\\x{0153}", 0x201C),  # a-circ + euro + oe   -> LEFT DOUBLE QUOTE
    ("\\x{00c3}\\x{00a9}", 0x00E9),           # A-tilde + copyright  -> e-acute
    ("\\x{00c3}\\x{00b1}", 0x00F1),           # A-tilde + plus-minus -> n-tilde
    ("\\x{00c3}\\x{00bc}", 0x00FC),           # A-tilde + 1/4        -> u-umlaut
]

#: U+FFFD — the transcoder's "byte salad" marker; unfixable, stripped.
REPLACEMENT_CHAR_RE = "\\x{fffd}"


def mojibake_repair(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-quality audit + repair over web text (the ftfy pass a
    crawl pipeline runs before any tokenization; reference analog: the
    tolerant field probes of ``/root/reference/src/parse/log_parser.py``,
    promoted to a corpus-wide byte-hygiene stage).  Counts and fixes
    the deterministic mojibake table (``MOJIBAKE_RULES``), counts and
    strips U+FFFD replacement characters, and returns
    ``(doc_id, n_fixed, n_unfixable, clean_md5, clean_chars)`` with the
    repaired text pinned down to its md5.

    Plan / 100 TB shape: a fixed chain of JVM ``regexp_count`` /
    ``regexp_replace`` Column expressions — map-only, zero shuffle,
    whole-stage-codegen'd; one scan at any corpus size, exactly like
    :func:`normalize_text`."""
    t = F.col(text_col)
    n_fixed = F.lit(0).cast("long")
    for pat, _cp in MOJIBAKE_RULES:
        n_fixed = n_fixed + F.regexp_count(t, F.lit(pat)).cast("long")
    clean = t
    for pat, cp in MOJIBAKE_RULES:
        clean = F.regexp_replace(clean, pat, chr(cp))
    n_unfix = F.regexp_count(clean, F.lit(REPLACEMENT_CHAR_RE)).cast("long")
    clean = F.regexp_replace(clean, REPLACEMENT_CHAR_RE, "")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_fixed.alias("n_fixed"),
        n_unfix.alias("n_unfixable"),
        F.md5(F.encode(clean, "UTF-8")).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_chars"),
    )


def mojibake_repair_sql(text_expr: str, id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`mojibake_repair` — same rule chain; RE2
    patterns reach the engine ASCII-clean, replacement codepoints are
    rendered with ``chr()`` so the SQL text stays ASCII too."""
    def esc(p: str) -> str:
        return p.replace("\\", "\\\\")

    counts = " + ".join(
        f"CAST(len(regexp_extract_all({text_expr}, E'{esc(p)}')) AS BIGINT)"
        for p, _cp in MOJIBAKE_RULES
    )
    clean = text_expr
    for p, cp in MOJIBAKE_RULES:
        clean = f"regexp_replace({clean}, E'{esc(p)}', chr({cp}), 'g')"
    n_unfix = (
        f"CAST(len(regexp_extract_all({clean}, "
        f"E'{esc(REPLACEMENT_CHAR_RE)}')) AS BIGINT)"
    )
    stripped = (
        f"regexp_replace({clean}, E'{esc(REPLACEMENT_CHAR_RE)}', '', 'g')"
    )
    return (
        f"SELECT {id_expr} AS doc_id, "
        f"CAST({counts} AS BIGINT) AS n_fixed, "
        f"{n_unfix} AS n_unfixable, "
        f"md5({stripped}) AS clean_md5, "
        f"CAST(len({stripped}) AS BIGINT) AS clean_chars"
    )
