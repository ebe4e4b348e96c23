"""Host-level web-graph analytics: outlink extraction from HTML and an
integer-exact PageRank iteration.

The link structure of a crawl is a first-class signal for a training
pipeline (domain authority as a quality prior, spam-farm detection via
degree anomalies) and the canonical "iterative graph algorithm over a
web-scale edge list" — the shape Spark's join+aggregate model handles
at any size (reference analog: the per-key rollup loops of
``/root/reference/src/analyze/analytics.py`` generalized to a fixpoint).

Scale shape:

- Outlink extraction is MAP-ONLY: one ``regexp_extract_all`` over the
  page bytes, explode, aggregate to a weighted host→host edge list.
  The edge table is hosts² at worst — dimension-like next to 10^12
  pages — and is the only thing the iteration ever touches.
- Each PageRank round is ONE join (prev scores onto edge sources) and
  ONE aggregate (incoming shares by destination) — both shuffle on the
  host key; with the edge list bucketed by ``src`` the join is
  co-located and a round costs a single Exchange of score rows.
- All arithmetic is INTEGER (scores scaled by 10^12, shares via
  multiply-then-``div``): sums are associative, so the result is
  bit-identical under any partitioning/ordering, and the DuckDB oracle
  (the K-stage unrolled SQL fixpoint, same pattern as
  ``operators/bpe.py``) replays it exactly.  This is the same
  determinism discipline as ``dsir_bucket_weights``' ppm weights:
  transcendental-free, associativity-proof.

PageRank variant (documented, deterministic): with damping d=0.85 and
N graph nodes,

    share(e)    = pr(src) * w(e) div out_w(src)
    pr_next(v)  = (15 * SCALE) div (100 * N)
                  + (85 * sum(incoming shares)) div 100

Floor division loses a few units of 10^-12 mass per round rather than
renormalizing — rank order matches float PageRank far beyond the
score's useful precision, and every engine computes the identical
integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SCALE = 10**12

_HREF_RE = r'<a href="https://([^/"]+)/'


def extract_outlinks(
    pages: DataFrame, html_col: str = "html", src_col: str = "src_host",
    binary: bool = True,
) -> DataFrame:
    """(src_host, dst_host, w) weighted edge list from anchor hrefs —
    map-only extraction + one aggregate on the edge key."""
    s = F.decode(F.col(html_col), "UTF-8") if binary else F.col(html_col)
    links = F.regexp_extract_all(s, F.lit(_HREF_RE), 1)
    return (
        pages.select(F.col(src_col).alias("src"), F.explode(links).alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    checkpoint_every: int = 3,
    personalize: list[str] | None = None,
) -> DataFrame:
    """Integer-exact PageRank over a weighted (src, dst, w) edge list;
    returns (host, pr) with pr scaled by ``SCALE``.  See module doc for
    the exact variant.  Driver holds only the loop counter — scores and
    edges stay distributed; ``localCheckpoint`` keeps the K-round plan
    shallow (same pattern as connected_components).

    ``personalize``: a seed-host list switches to PERSONALIZED PageRank
    (TrustRank, Gyöngyi et al. 2004): teleport mass goes only to the
    seeds (``(15*SCALE) div (100*n_seeds)`` each, 0 elsewhere), and the
    walk starts there — authority then flows outward from trusted hosts
    only, so link farms that boost each other but are never linked FROM
    the trusted web score ~0 however dense their internal structure.
    The plan is unchanged: the teleport term is a per-row conditional,
    not a join."""
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint()  # reused every round; cut the distinct's lineage
    )
    n = nodes.count()
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = edges.join(outw, "src").localCheckpoint()  # (src, dst, w, ow)
    if personalize is None:
        tele_col = F.lit((15 * SCALE) // (100 * n))
        init_col = F.lit(SCALE // n)
    else:
        ns = len(personalize)
        seed = F.col("host").isin(personalize)
        tele_col = F.when(seed, F.lit((15 * SCALE) // (100 * ns))).otherwise(
            F.lit(0)
        )
        init_col = F.when(seed, F.lit(SCALE // ns)).otherwise(F.lit(0))
    pr = nodes.withColumn("pr", init_col.cast("long"))
    for k in range(1, iterations + 1):
        inc = (
            ew.join(pr.withColumnRenamed("host", "src"), "src")
            .select("dst", F.expr("pr * w div ow").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("inc"))
        )
        pr = (
            nodes.join(inc.withColumnRenamed("dst", "host"), "host", "left")
            .select(
                "host",
                (
                    tele_col
                    + F.expr("85 * coalesce(inc, 0L) div 100")
                ).cast("long").alias("pr"),
            )
        )
        if k % checkpoint_every == 0:
            pr = pr.localCheckpoint(eager=False)
    return pr


# ------------------------------------------------------------- SQL twin


def pagerank_sql(
    iterations: int,
    edges_cte: str = "edges",
    prefix: str = "pr",
    personalize: list[str] | None = None,
    include_base: bool = True,
) -> tuple[str, str]:
    """(CTE chain, final select) unrolling :func:`pagerank` over a
    ``{edges_cte}(src, dst, w)`` relation — kept in lockstep with the
    DataFrame loop.  ``prefix`` renames the score/share CTEs so two
    chains (e.g. global + personalized for a spam-mass oracle) can
    share one query's nodes/nn/outw base (emit the base once with
    ``include_base``); ``personalize`` mirrors the TrustRank teleport
    (seed-only mass, no nn dependence)."""
    parts = []
    if include_base:
        parts += [
            f"nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM {edges_cte} "
            f"UNION ALL SELECT dst FROM {edges_cte}))",
            "nn AS (SELECT count(*) AS n FROM nodes)",
            f"outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM {edges_cte} GROUP BY 1)",
        ]
    if personalize is None:
        parts.append(
            f"{prefix}0 AS (SELECT host, CAST({SCALE} // n AS BIGINT) AS pr FROM nodes, nn)"
        )
        tele = f"(15 * {SCALE}) // (100 * nn.n)"
        tail = ", nn"
    else:
        ns = len(personalize)
        seeds = ", ".join(f"'{s}'" for s in personalize)
        parts.append(
            f"{prefix}0 AS (SELECT host, CAST(CASE WHEN host IN ({seeds}) "
            f"THEN {SCALE // ns} ELSE 0 END AS BIGINT) AS pr FROM nodes)"
        )
        tele = (
            f"CASE WHEN n.host IN ({seeds}) THEN {(15 * SCALE) // (100 * ns)} "
            f"ELSE 0 END"
        )
        tail = ""
    for k in range(1, iterations + 1):
        prev = f"{prefix}{k - 1}"
        parts.append(f"""
{prefix}inc{k} AS (
  SELECT e.dst, CAST(sum(p.pr * e.w // o.ow) AS BIGINT) AS inc
  FROM {edges_cte} e
  JOIN {prev} p ON p.host = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY 1),
{prefix}{k} AS (
  SELECT n.host,
         CAST({tele}
              + 85 * COALESCE(i.inc, 0) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN {prefix}inc{k} i ON i.dst = n.host{tail})""")
    return ",".join(parts), f"SELECT host, pr FROM {prefix}{iterations}"


# ------------------------------------------------------------ anchor text

_ANCHOR_RE = r'<a href="https://([^/"]+)/[^"]*">([^<]*)</a>'


def anchor_text_topk(
    pages: DataFrame,
    top_k: int = 3,
    html_col: str = "html",
    src_col: str = "src_host",
    binary: bool = True,
) -> DataFrame:
    """Top-k anchor-text terms per link TARGET host — the classic
    web-search relevance signal (what the rest of the web calls a page
    beats what the page calls itself), and for a training pipeline a
    per-site topicality/spam prior that needs no model.

    Returns ``(dst, term, n, rnk)``: for each target host, the ``top_k``
    most frequent words across every anchor linking to it, deterministic
    tie-break ``(count DESC, term ASC)``.

    Plan / 100 TB shape: extraction is MAP-ONLY — one
    ``regexp_extract_all`` per group over the page bytes, zipped so
    (href, text) stay aligned, then explode.  Term counting shuffles on
    ``(dst, term)`` WITH map-side partials — a host with 10^8 inlinks
    ("the hot hub") is absorbed there: the window that follows ranks
    the (dst, term) COUNT rows, whose cardinality per dst is its anchor
    VOCABULARY (bounded), not its in-degree, so the hub never
    serializes one window partition the way raw-event windows do."""
    s = F.decode(F.col(html_col), "UTF-8") if binary else F.col(html_col)
    pairs = F.arrays_zip(
        F.regexp_extract_all(s, F.lit(_ANCHOR_RE), 1).alias("dst"),
        F.regexp_extract_all(s, F.lit(_ANCHOR_RE), 2).alias("atext"),
    )
    links = pages.select(F.explode(pairs).alias("p")).select(
        F.col("p.dst").alias("dst"), F.col("p.atext").alias("atext")
    )
    terms = links.select(
        "dst", F.explode(F.split(F.col("atext"), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("dst", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("dst").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("dst", "term", "n", F.col("rnk").cast("long").alias("rnk"))
    )


def anchor_text_topk_sql(html_expr: str, from_clause: str,
                         top_k: int = 3) -> str:
    """DuckDB CTE mirroring :func:`anchor_text_topk` (pages as VARCHAR);
    yields a complete SELECT over ``(dst, term, n, rnk)``."""
    pat = "'" + _ANCHOR_RE.replace("'", "''") + "'"
    return f"""
links AS (
  SELECT unnest(regexp_extract_all({html_expr}, {pat}, 1)) AS dst,
         unnest(regexp_extract_all({html_expr}, {pat}, 2)) AS atext
  FROM {from_clause}),
aterms AS (
  SELECT dst, unnest(string_split(atext, ' ')) AS term FROM links),
acounts AS (
  SELECT dst, term, CAST(count(*) AS BIGINT) AS n
  FROM aterms WHERE term <> '' GROUP BY 1, 2),
ranked AS (
  SELECT dst, term, n,
         CAST(row_number() OVER (PARTITION BY dst ORDER BY n DESC, term)
              AS BIGINT) AS rnk
  FROM acounts)
SELECT dst, term, n, rnk FROM ranked WHERE rnk <= {top_k}
"""

# ------------------------------------------------------ label propagation


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Deterministic synchronous label propagation (community detection)
    over a weighted (src, dst, w) edge list — the host-clustering signal
    a curation pipeline uses to find mirror farms / template networks
    that PageRank's authority score and connected components' reach
    both miss (LPA groups DENSELY linked hosts, not merely connected
    ones).  Raghavan et al. 2007's rule made bit-deterministic: every
    round, each node adopts the label with the greatest incident edge
    weight among its neighbors, ties broken by the lexicographically
    smallest label; a node with no neighbors keeps its label.  A FIXED
    round count (not convergence polling) keeps the result a pure
    function of the edge list — synchronous LPA can oscillate on
    bipartite structure, and a fixed-K snapshot of a deterministic
    iteration is reproducible under any partitioning, which matters
    more to a data pipeline than squeezing out the last merge.

    Scale shape (reference analog: the grouped rollup loops of
    ``/root/reference/src/analyze/analytics.py`` iterated to fixpoint):
    the symmetrized edge list is built once (hosts²-bounded, dimension-
    like next to 10^12 pages) and each round is ONE join of labels onto
    the neighbor key and ONE map-side-combined count shuffle on
    ``(v, label)`` — in-degree skew from a hot hub is absorbed there,
    exactly like ``anchor_text_topk``; the ranking window that follows
    partitions over each node's NEIGHBOR-LABEL VOCABULARY (≤ distinct
    neighbor labels, which LPA itself collapses toward the community
    count as rounds proceed), never over raw edges.  ``localCheckpoint``
    keeps the K-round plan shallow (the pagerank/connected_components
    pattern)."""
    und = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("u"), "w")
        .union(edges.select(F.col("dst").alias("v"), F.col("src").alias("u"), "w"))
        .filter(F.col("v") != F.col("u"))
        .groupBy("v", "u")
        .agg(F.sum("w").cast("long").alias("w"))
        .localCheckpoint()  # reused every round; cut the union's lineage
    )
    lab = und.select(F.col("v").alias("host")).distinct().withColumn(
        "label", F.col("host")
    )
    for k in range(1, iterations + 1):
        votes = (
            und.join(lab.select(F.col("host").alias("u"), "label"), "u")
            .groupBy("v", "label")
            .agg(F.sum("w").alias("wsum"))
        )
        w = Window.partitionBy("v").orderBy(F.desc("wsum"), F.asc("label"))
        winner = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("host"), F.col("label").alias("new_label"))
        )
        lab = lab.join(winner, "host", "left").select(
            "host", F.coalesce("new_label", "label").alias("label")
        )
        if k % checkpoint_every == 0:
            lab = lab.localCheckpoint(eager=False)
    return lab


def label_propagation_sql(iterations: int, edges_cte: str = "edges") -> tuple[str, str]:
    """(CTE chain, final select) unrolling :func:`label_propagation`
    over a ``{edges_cte}(src, dst, w)`` relation — kept in lockstep with
    the DataFrame loop (the pagerank_sql pattern)."""
    parts = [
        f"und AS (SELECT v, u, CAST(sum(w) AS BIGINT) AS w FROM ("
        f"SELECT src AS v, dst AS u, w FROM {edges_cte} UNION ALL "
        f"SELECT dst AS v, src AS u, w FROM {edges_cte}) "
        "WHERE v <> u GROUP BY 1, 2)",
        "lab0 AS (SELECT DISTINCT v AS host, v AS label FROM und)",
    ]
    for k in range(1, iterations + 1):
        prev = f"lab{k - 1}"
        parts.append(f"""
cnt{k} AS (
  SELECT und.v, l.label, CAST(sum(und.w) AS BIGINT) AS wsum
  FROM und JOIN {prev} l ON l.host = und.u GROUP BY 1, 2),
win{k} AS (
  SELECT v, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY wsum DESC, label) AS rn
    FROM cnt{k}) WHERE rn = 1),
lab{k} AS (
  SELECT l.host, coalesce(w.label, l.label) AS label
  FROM {prev} l LEFT JOIN win{k} w ON w.v = l.host)""")
    return ",".join(parts), f"SELECT host, label FROM lab{iterations}"


# ----------------------------------------------------------- reciprocity


def link_reciprocity(edges: DataFrame) -> DataFrame:
    """Per-host link reciprocity: the integer-ppm share of a host's
    distinct out-link targets that link back — the classic link-exchange
    / spam-farm signal (organic linking is largely one-way; paid or
    farmed linking reciprocates).  One self-join of the distinct edge
    set against its reverse on the SAME (src, dst) key shape (co-located
    shuffle), then a host rollup: ``(host, out_targets, reciprocated,
    reciprocity_ppm)``.  Edge list is hosts²-bounded — dimension-like —
    so this runs after extraction at any corpus size."""
    e = edges.select("src", "dst").distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    j = e.join(rev.withColumn("_r", F.lit(1)), ["src", "dst"], "left")
    return (
        j.groupBy(F.col("src").alias("host"))
        .agg(
            F.count(F.lit(1)).alias("out_targets"),
            F.sum(F.coalesce(F.col("_r"), F.lit(0))).alias("reciprocated"),
        )
        .selectExpr(
            "host",
            "CAST(out_targets AS LONG) AS out_targets",
            "CAST(reciprocated AS LONG) AS reciprocated",
            "reciprocated * 1000000L div out_targets AS reciprocity_ppm",
        )
    )


# ------------------------------------------------------------------ HITS

# Hub/authority scores use a smaller fixed-point scale than PageRank:
# un-damped HITS sums are products of scores and edge weights, so with
# scores max-normalized to ~HITS_SCALE each round the per-node incoming
# sum stays < 2^63 as long as a node's incoming edge weight is < ~4e12
# — far beyond any real host graph (shard the aggregate if a deploy
# crosses it).
HITS_SCALE = 10**6


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999) over a weighted (src, dst, w)
    edge list: returns ``(host, hub_score, auth_score)`` scaled to
    ~``HITS_SCALE``.

    Classic HITS normalizes by the L2 norm — a square root, which no
    integer replay survives.  This variant max-normalizes instead:
    after each half-round, scores divide by ``greatest(1, max(raw) div
    HITS_SCALE)``, keeping the maximum near HITS_SCALE.  Ranking is
    unchanged (normalization in HITS only prevents overflow; the
    stationary direction is the same), every op is associative integer
    arithmetic, and the whole loop unrolls into :func:`hits_sql`.

    Plan per half-round: ONE join of scores onto the edge list + ONE
    aggregate on the opposite endpoint + a broadcast 1-row max — the
    same shape as a PageRank round, shuffling only score rows.  The
    normalizing max rides the plan as a broadcast scalar (no driver
    collect), so the whole iteration is one lazy plan, checkpointed
    per round to stay shallow.
    """
    one = F.lit(1).cast("long")
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint()
    )
    e = edges.localCheckpoint()
    h = nodes.withColumn("h", F.lit(HITS_SCALE).cast("long"))
    a = None
    for _ in range(iterations):
        ar = (
            e.join(h.withColumnRenamed("host", "src"), "src")
            .select("dst", (F.col("h") * F.col("w")).alias("x"))
            .groupBy("dst")
            .agg(F.sum("x").alias("r"))
        )
        sa = ar.agg(
            F.greatest(
                one, F.expr(f"coalesce(max(r), 0L) div {HITS_SCALE}L")
            ).alias("s")
        )
        a = (
            nodes.join(ar.withColumnRenamed("dst", "host"), "host", "left")
            .crossJoin(F.broadcast(sa))
            .select("host", F.expr("coalesce(r, 0L) div s").alias("a"))
        )
        hr = (
            e.join(a.withColumnRenamed("host", "dst"), "dst")
            .select("src", (F.col("a") * F.col("w")).alias("x"))
            .groupBy("src")
            .agg(F.sum("x").alias("r"))
        )
        sh = hr.agg(
            F.greatest(
                one, F.expr(f"coalesce(max(r), 0L) div {HITS_SCALE}L")
            ).alias("s")
        )
        h = (
            nodes.join(hr.withColumnRenamed("src", "host"), "host", "left")
            .crossJoin(F.broadcast(sh))
            .select("host", F.expr("coalesce(r, 0L) div s").alias("h"))
        )
        h = h.localCheckpoint(eager=False)
        a = a.localCheckpoint(eager=False)
    return h.join(a, "host").select(
        "host",
        F.col("h").alias("hub_score"),
        F.col("a").alias("auth_score"),
    )


def hits_sql(iterations: int = 3, edges_cte: str = "edges") -> tuple[str, str]:
    """(CTE chain, final select) unrolling :func:`hits` over a
    ``{edges_cte}(src, dst, w)`` relation — kept in lockstep with the
    DataFrame loop (including the greatest(1, max div SCALE) integer
    max-normalization and floor-division rounding)."""
    parts = [
        f"nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM {edges_cte} "
        f"UNION ALL SELECT dst FROM {edges_cte}))",
        f"h0 AS (SELECT host, CAST({HITS_SCALE} AS BIGINT) AS h FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        parts.append(f"""
ar{k} AS (
  SELECT e.dst AS host, CAST(sum(p.h * e.w) AS BIGINT) AS r
  FROM {edges_cte} e JOIN h{k - 1} p ON p.host = e.src GROUP BY 1),
sa{k} AS (SELECT greatest(1, coalesce(max(r), 0) // {HITS_SCALE}) AS s FROM ar{k}),
a{k} AS (
  SELECT n.host, CAST(coalesce(ar.r, 0) // sa{k}.s AS BIGINT) AS a
  FROM nodes n LEFT JOIN ar{k} ar ON ar.host = n.host, sa{k}),
hr{k} AS (
  SELECT e.src AS host, CAST(sum(p.a * e.w) AS BIGINT) AS r
  FROM {edges_cte} e JOIN a{k} p ON p.host = e.dst GROUP BY 1),
sh{k} AS (SELECT greatest(1, coalesce(max(r), 0) // {HITS_SCALE}) AS s FROM hr{k}),
h{k} AS (
  SELECT n.host, CAST(coalesce(hr.r, 0) // sh{k}.s AS BIGINT) AS h
  FROM nodes n LEFT JOIN hr{k} hr ON hr.host = n.host, sh{k})""")
    final = (
        f"SELECT h{iterations}.host, h{iterations}.h AS hub_score, "
        f"a{iterations}.a AS auth_score "
        f"FROM h{iterations} JOIN a{iterations} USING (host)"
    )
    return ",".join(parts), final


# ------------------------------------------------------------------- BFS

# unreachable sentinel: min() over integers needs a total order, and a
# sentinel avoids engine-specific NULL-in-aggregate corner cases; any
# value > max_depth works
BFS_INF = 32767


def bfs_depths(
    edges: DataFrame, seeds: list[str], max_depth: int = 4
) -> DataFrame:
    """Breadth-first crawl depth from a seed set over the (src, dst, w)
    host graph: ``(host, depth)`` where depth is the minimum number of
    link hops from any seed (0 = seed), capped at ``max_depth``; hosts
    not reached within the cap carry ``BFS_INF``.

    This is the frontier-planning signal a crawl scheduler tiers by
    ("seed-adjacent first") and the link-distance feature quality
    pipelines use (spam drifts far from trusted seeds — the TrustRank
    idea with plain hop distance).

    Per round: ONE join of current depths onto edge sources and one
    min-aggregate on the destination — identical shuffle shape to a
    PageRank round; ``max_depth`` rounds unroll into :func:`bfs_sql`.
    min() is associative and the round count is fixed (not
    convergence-tested), so the result is bit-identical under any
    partitioning and needs no driver-side convergence check.
    """
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint()
    )
    e = edges.localCheckpoint()
    seed_col = F.col("host").isin(seeds)
    d = nodes.select(
        "host",
        F.when(seed_col, F.lit(0)).otherwise(F.lit(BFS_INF)).cast("int").alias("depth"),
    )
    for _ in range(max_depth):
        reach = (
            e.join(d.withColumnRenamed("host", "src"), "src")
            .select(F.col("dst").alias("host"), (F.col("depth") + 1).alias("nd"))
            .groupBy("host")
            .agg(F.min("nd").alias("nd"))
        )
        d = (
            d.join(reach, "host", "left")
            .select(
                "host",
                F.least(F.col("depth"), F.coalesce(F.col("nd"), F.lit(BFS_INF)))
                .cast("int")
                .alias("depth"),
            )
            .localCheckpoint(eager=False)
        )
    return d


def bfs_sql(
    seeds: list[str], max_depth: int = 4, edges_cte: str = "edges"
) -> tuple[str, str]:
    """(CTE chain, final select) unrolling :func:`bfs_depths` — one
    (reach, relax) CTE pair per round."""
    seed_list = ", ".join(f"'{s}'" for s in seeds)
    parts = [
        f"nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM {edges_cte} "
        f"UNION ALL SELECT dst FROM {edges_cte}))",
        f"d0 AS (SELECT host, CASE WHEN host IN ({seed_list}) THEN 0 "
        f"ELSE {BFS_INF} END AS depth FROM nodes)",
    ]
    for k in range(1, max_depth + 1):
        parts.append(f"""
r{k} AS (
  SELECT e.dst AS host, CAST(min(p.depth + 1) AS INTEGER) AS nd
  FROM {edges_cte} e JOIN d{k - 1} p ON p.host = e.src GROUP BY 1),
d{k} AS (
  SELECT n.host,
         CAST(least(p.depth, coalesce(r.nd, {BFS_INF})) AS INTEGER) AS depth
  FROM d{k - 1} p JOIN nodes n USING (host)
  LEFT JOIN r{k} r ON r.host = n.host)""")
    return ",".join(parts), f"SELECT host, depth FROM d{max_depth}"


# ------------------------------------------------------------- triangles


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-host triangle counts + integer local clustering coefficient
    over the undirected host graph — the link-farm geometry signal
    (organic neighborhoods are sparse; paid link rings close into
    cliques, so farmed hosts show high clustering at low authority).

    Algorithm: degree-ordered edge orientation (Cohen 2009 / the
    standard MapReduce triangle scheme).  Every undirected edge is
    oriented from its lower-(degree, host) endpoint to the higher one;
    a triangle {u,v,w} is then counted EXACTLY ONCE as the wedge
    (u→v, u→w with rank(v) < rank(w)) closed by the oriented edge
    (v→w).  Orientation bounds the wedge fan-out per vertex by
    O(sqrt(|E|)) regardless of raw degree — the hub host that every
    page links to produces NO wedges from its own (huge) adjacency,
    because all its edges point INTO it; this is what makes the plan
    survive power-law degree distributions at crawl scale, where the
    naive u-joins-on-shared-neighbor plan is quadratic in the hub
    degree.

    Everything is equi-joins and integer counts on the hosts²-bounded
    edge list (dimension-like next to the corpus); clustering is the
    integer ppm surrogate ``2·T·10^6 div (deg·(deg−1))`` so both
    engines agree bit-exactly with no float division.

    Returns ``(host, degree, triangles, clustering_ppm)``.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        # the undirected edge set is referenced ~8 times below (degrees,
        # orientation, wedges, closure, rollups); without this the plan
        # re-derives the CORPUS-scan lineage per reference — one
        # materialization of the hosts²-bounded dim pays for all of them
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("h"))
        .unionAll(und.select(F.col("b").alias("h")))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    da = deg.select(F.col("h").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("h").alias("b"), F.col("deg").alias("_degb"))
    wd = und.join(da, "a").join(db, "b")
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    o = wd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    dv = deg.select(F.col("h").alias("v"), F.col("deg").alias("_degv"))
    o2 = o.join(dv, "v").select("u", "v", "_degv")
    e1 = o2.select(
        F.col("u"), F.col("v").alias("v1"), F.col("_degv").alias("_d1")
    )
    e2 = o2.select(
        F.col("u"), F.col("v").alias("v2"), F.col("_degv").alias("_d2")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("_d1") < F.col("_d2"))
        | ((F.col("_d1") == F.col("_d2")) & (F.col("v1") < F.col("v2")))
    )
    closer = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closer, ["v1", "v2"]).select("u", "v1", "v2")
    per = (
        tri.select(F.col("u").alias("h"))
        .unionAll(tri.select(F.col("v1").alias("h")))
        .unionAll(tri.select(F.col("v2").alias("h")))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
    )
    return (
        deg.join(per, "h", "left")
        .select(
            F.col("h").alias("host"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("_t"), F.lit(0).cast("long")).alias("triangles"),
        )
        .selectExpr(
            "host",
            "degree",
            "triangles",
            "CASE WHEN degree >= 2 THEN (2 * triangles * 1000000L) div "
            "(degree * (degree - 1)) ELSE 0L END AS clustering_ppm",
        )
    )


def triangle_sql(edges_cte: str = "edges") -> tuple[str, str]:
    """(CTE chain, final select) mirroring :func:`triangle_stats` —
    identical orientation rule ((deg, host) tuple order) and identical
    integer clustering surrogate, so per-host rows match value-exactly."""
    ctes = f"""
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM {edges_cte} WHERE src <> dst),
deg AS (SELECT h, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT a AS h FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
o AS (SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v
      FROM und u JOIN deg da ON da.h = u.a JOIN deg db ON db.h = u.b),
o2 AS (SELECT o.u, o.v, d.deg AS degv FROM o JOIN deg d ON d.h = o.v),
wdg AS (SELECT e1.u AS u, e1.v AS v1, e2.v AS v2
        FROM o2 e1 JOIN o2 e2 ON e1.u = e2.u
        AND (e1.degv, e1.v) < (e2.degv, e2.v)),
tri AS (SELECT wdg.u, wdg.v1, wdg.v2 FROM wdg
        JOIN o ON o.u = wdg.v1 AND o.v = wdg.v2),
per AS (SELECT h, CAST(count(*) AS BIGINT) AS triangles
        FROM (SELECT u AS h FROM tri UNION ALL SELECT v1 FROM tri
              UNION ALL SELECT v2 FROM tri) GROUP BY 1)"""
    final = """
SELECT deg.h AS host, deg.deg AS degree,
       coalesce(per.triangles, CAST(0 AS BIGINT)) AS triangles,
       CASE WHEN deg.deg >= 2
            THEN (2 * coalesce(per.triangles, 0) * 1000000) // (deg.deg * (deg.deg - 1))
            ELSE CAST(0 AS BIGINT) END AS clustering_ppm
FROM deg LEFT JOIN per ON per.h = deg.h"""
    return ctes, final


# ------------------------------------------------------------------- SCC


def scc_components(edges: DataFrame, doubling_rounds: int = 6) -> DataFrame:
    """Strongly connected components of the DIRECTED host graph —
    the mutual-reachability structure (link rings are cycles; a page
    farm that PageRank sees as one authority blob often decomposes
    into one tight SCC plus dangling feeders).  Complements the
    UNDIRECTED families: connected components (reach), label
    propagation (density), triangles (local geometry).

    Algorithm: path-doubling transitive closure — ``doubling_rounds``
    self-joins of the reach set, each squaring the covered path length,
    so 6 rounds close any graph of diameter ≤ 2^6 = 64 (always enough
    for a ≤64-node host dim; the round count is the explicit dial).
    Then SCC id = min mutually-reachable host, one equi-join of the
    closure with its transpose + one min aggregate.

    Scale note: transitive closure is O(V·E) space and right ONLY for a
    DIMENSION-sized graph (hosts², like every webgraph pass here — the
    edge list is already host-deduped).  A corpus-scale page-level SCC
    needs FW-BW / coloring (Slota et al.) — out of contract here, where
    the graph nodes are hosts.  ``localCheckpoint`` truncates the
    exponentially-nesting join lineage each round (same discipline as
    dedup.connected_components).

    Returns ``(host, scc_id, scc_size)``.
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .unionAll(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    reach = e.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        nodes.select(F.col("host").alias("a"), F.col("host").alias("b"))
    ).distinct()
    for _ in range(doubling_rounds):
        step = (
            reach.alias("l")
            .join(reach.alias("r"), F.col("l.b") == F.col("r.a"))
            .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
        )
        reach = reach.unionAll(step).distinct().localCheckpoint(eager=True)
    mutual = (
        reach.alias("f")
        .join(
            reach.alias("r"),
            (F.col("f.a") == F.col("r.b")) & (F.col("f.b") == F.col("r.a")),
        )
        .select(F.col("f.a").alias("host"), F.col("f.b").alias("peer"))
    )
    scc = mutual.groupBy("host").agg(F.min("peer").alias("scc_id"))
    sz = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("scc_size")
    )
    return scc.join(sz, "scc_id").select("host", "scc_id", "scc_size")


def scc_sql(edges_cte: str = "edges") -> tuple[str, str]:
    """(CTE chain, final select) for :func:`scc_components` — the exact
    closure via a recursive CTE (equivalent to the Spark side's doubled
    fixpoint once the round count covers the diameter).  The WITH that
    receives these CTEs must be declared RECURSIVE."""
    ctes = f"""
e AS (SELECT DISTINCT src, dst FROM {edges_cte} WHERE src <> dst),
closure(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT c.a, e2.dst FROM closure c JOIN e e2 ON e2.src = c.b
),
nodes AS (SELECT DISTINCT h AS host FROM
          (SELECT src AS h FROM e UNION ALL SELECT dst FROM e)),
reach AS (SELECT a, b FROM closure UNION SELECT host, host FROM nodes),
mutual AS (SELECT f.a AS host, f.b AS peer
           FROM reach f JOIN reach r ON r.a = f.b AND r.b = f.a),
scc AS (SELECT host, min(peer) AS scc_id FROM mutual GROUP BY 1),
sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
       FROM scc GROUP BY 1)"""
    final = "SELECT s.host, s.scc_id, z.scc_size FROM scc s JOIN sz z ON z.scc_id = s.scc_id"
    return ctes, final


# ------------------------------------------------------------- centrality


def centrality_stats(edges: DataFrame, doubling_rounds: int = 6) -> DataFrame:
    """All-pairs harmonic centrality + eccentricity over the DIRECTED
    host graph — Boldi & Vigna's robust centrality (harmonic handles
    disconnected pairs by contributing 0, where closeness diverges):
    ``harmonic(a) = Σ_{b reachable} 1/d(a,b)``, here as the integer
    surrogate ``Σ 10^6 div d``.  Eccentricity (max shortest-path
    distance) gives per-host diameter structure — the crawl-frontier
    "how many waves until everything" number BFS-from-seeds answers
    only for one seed set.

    Algorithm: min-plus path doubling — each round joins the distance
    relation with itself (``d = min(d_l + d_r)``), squaring the covered
    path length, so ``doubling_rounds=6`` is exact for any graph of
    ≤ 64 hops.  Like :func:`scc_components`, all-pairs state is O(V²)
    and right ONLY for a hosts-sized DIM; the corpus-scale variant is
    HyperBall (HLL frontier sketches), out of contract here.

    Returns ``(host, reachable, eccentricity, harmonic_ppm)``; hosts
    that reach nothing report zeros.
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .unionAll(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    reach = e.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.lit(1).alias("d")
    )
    for _ in range(doubling_rounds):
        step = (
            reach.alias("l")
            .join(reach.alias("r"), F.col("l.b") == F.col("r.a"))
            .select(
                F.col("l.a").alias("a"),
                F.col("r.b").alias("b"),
                (F.col("l.d") + F.col("r.d")).alias("d"),
            )
        )
        reach = (
            reach.unionAll(step)
            .groupBy("a", "b")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
    roll = (
        reach.filter(F.col("a") != F.col("b"))
        .groupBy(F.col("a").alias("rhost"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("reachable"),
            F.max("d").cast("long").alias("eccentricity"),
            F.sum(F.expr("1000000L div d")).alias("harmonic_ppm"),
        )
    )
    return nodes.join(roll, nodes["host"] == roll["rhost"], "left").select(
        "host",
        F.coalesce("reachable", F.lit(0).cast("long")).alias("reachable"),
        F.coalesce("eccentricity", F.lit(0).cast("long")).alias("eccentricity"),
        F.coalesce("harmonic_ppm", F.lit(0).cast("long")).alias("harmonic_ppm"),
    )


def centrality_sql(edges_cte: str = "edges") -> tuple[str, str]:
    """(CTE chain, final select) for :func:`centrality_stats` — exact
    recursive min-distance walk (states deduped on (a, b, d), depth
    bounded at |V|-1 hops since shortest paths are simple).  The WITH
    receiving these CTEs must be RECURSIVE."""
    ctes = f"""
e AS (SELECT DISTINCT src, dst FROM {edges_cte} WHERE src <> dst),
nodes AS (SELECT DISTINCT h AS host FROM
          (SELECT src AS h FROM e UNION ALL SELECT dst FROM e)),
walk(a, b, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT w.a, e2.dst, w.d + 1 FROM walk w JOIN e e2 ON e2.src = w.b
  WHERE w.d < (SELECT count(*) FROM nodes) - 1
),
dist AS (SELECT a, b, min(d) AS d FROM walk WHERE a <> b GROUP BY 1, 2),
roll AS (SELECT a AS rhost, CAST(count(*) AS BIGINT) AS reachable,
                CAST(max(d) AS BIGINT) AS eccentricity,
                CAST(sum(1000000 // d) AS BIGINT) AS harmonic_ppm
         FROM dist GROUP BY 1)"""
    final = """
SELECT n.host, coalesce(r.reachable, 0) AS reachable,
       coalesce(r.eccentricity, 0) AS eccentricity,
       coalesce(r.harmonic_ppm, 0) AS harmonic_ppm
FROM nodes n LEFT JOIN roll r ON r.rhost = n.host"""
    return ctes, final


# ---------------------------------------------------------------- k-core


def coreness(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """Coreness (k-core number) of every host in the UNDIRECTED host
    graph — the standard crawl-frontier density signal: a host's
    coreness is the largest k such that it survives in the subgraph
    where every vertex keeps degree >= k.  Link farms and mutual-
    exchange rings sit in high cores at modest PageRank; long tendrils
    of organic sites peel off at k=1-2 — coreness complements
    clustering (local) and SCC (reachability) with the global density
    hierarchy.

    Algorithm: the h-index fixpoint (Lu-Chen-Zhang 2016): initialise
    every vertex's estimate to its degree, then repeatedly replace it
    with the H-INDEX of its neighbours' estimates (the largest h such
    that >= h neighbours hold estimate >= h).  The sequence is
    monotone non-increasing and converges exactly to the coreness —
    no sequential peeling, every vertex updates in parallel per round
    (classic peeling is inherently serial: each removal changes the
    next decision; the h-index form is what makes k-core a Spark job).

    Per round the plan is: one equi-join of the adjacency list with the
    host-dim-sized estimate frame, a (host, est) groupBy COUNT with
    map-side partials, then a per-host window over the DISTINCT
    estimate values only (h-index = max over distinct v of
    min(v, #neighbours >= v) — evaluating at distinct values is exact:
    for optimal H pick the smallest distinct value v >= H, then
    count>=v = count>=H >= H and min(v, count) >= H, while every
    min(v, c_v) is itself an attainable h).  The window partition is
    bounded by the number of distinct neighbour estimates (<= coreness
    bound, NOT the degree) — the 10^7-degree hub sorts a handful of
    rows, not its adjacency.  ``rounds`` must cover the graph's
    convergence depth; round-to-round equality is pinned by test at
    the registered config.

    Returns ``(host, degree, coreness)``.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # referenced 2x + per-round lineage root
    )
    adj = und.select(F.col("a").alias("h"), F.col("b").alias("nb")).unionAll(
        und.select(F.col("b").alias("h"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    est = deg.select("h", F.col("deg").alias("est"))
    w = Window.partitionBy("h").orderBy(F.desc("est"))
    for _ in range(rounds):
        nbr = adj.join(
            est.select(F.col("h").alias("nb"), "est"), "nb"
        ).select("h", "est")
        cnt = nbr.groupBy("h", "est").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        est = (
            cnt.withColumn("c", F.sum("n").over(w))
            .groupBy("h")
            .agg(F.max(F.least("est", "c")).alias("est"))
            .localCheckpoint(eager=True)  # truncate the per-round lineage
        )
    return deg.join(est, "h").select(
        F.col("h").alias("host"),
        F.col("deg").alias("degree"),
        F.col("est").alias("coreness"),
    )


def coreness_sql(rounds: int = 8, edges_cte: str = "edges") -> tuple[str, str]:
    """(CTE chain, final select) mirroring :func:`coreness` — the same
    h-index iteration unrolled ``rounds`` times (both engines run the
    IDENTICAL round count, so results match even before convergence;
    the convergence-at-rounds test is what licenses calling the output
    'coreness')."""
    ctes = f"""
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM {edges_cte} WHERE src <> dst),
adj AS (SELECT a AS h, b AS nb FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT h, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
e0 AS (SELECT h, deg AS est FROM deg)"""
    for k in range(1, rounds + 1):
        ctes += f""",
e{k} AS (SELECT h, CAST(max(least(est, c)) AS BIGINT) AS est FROM (
  SELECT h, est, sum(n) OVER (PARTITION BY h ORDER BY est DESC) AS c
  FROM (SELECT adj.h AS h, p.est AS est, CAST(count(*) AS BIGINT) AS n
        FROM adj JOIN e{k - 1} p ON p.h = adj.nb GROUP BY 1, 2))
  GROUP BY 1)"""
    final = f"""
SELECT deg.h AS host, deg.deg AS degree, e{rounds}.est AS coreness
FROM deg JOIN e{rounds} ON e{rounds}.h = deg.h"""
    return ctes, final
