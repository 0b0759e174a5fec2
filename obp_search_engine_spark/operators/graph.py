"""Link-graph analytics over the crawl's host/url graph: fixed-point
integer PageRank.

Why integer fixed-point: floating-point PageRank is not reproducible
across engines or even across partitionings of the same engine —
``sum(double)`` depends on aggregation order, so a 32-partition run and a
4-partition run of the *same* job can differ in the last bits, and a
DuckDB oracle can never match bit-exactly. Integer addition is
associative, so ranks carried as fixed-point BIGINT "mass units" are
**bit-identical at any parallelism and in any engine** — the property
this repo's two-cluster-size scaling evidence relies on, applied to the
one crawl operator that is genuinely iterative. The reference crawler
ranks its frontier by depth-then-discovery (crawler/crawler.go:116);
PageRank over the discovered host graph is the standard upgrade a
web-scale deployment of the same loop applies (Page et al. 1999), and
the scheduler hook (`frontier.py`) accepts any (node, rank) priority.

Semantics (documented, both sides of the oracle mirror them exactly):

* rank is a BIGINT in units of ``scale / N`` total initial mass per node;
* per edge, the contribution is ``(num * r_src) div (den * out_deg)`` —
  integer division truncates, so a tiny amount of mass leaks per edge
  (bounded by den*out_deg units) instead of being redistributed;
* dangling nodes (no out-edges after self-loop/dup removal) lose their
  mass — the common simplification; totals therefore drift below
  ``scale``, which is fine for ranking;
* every node receives the base term ``((den-num) * (scale div N)) div den``
  each iteration.

100 TB shape: `edges` is shuffled ONCE onto its src key (with out-degree
folded in) and persisted/reused across all iterations; each iteration is
one shuffled-hash join (ranks are repartitioned onto the same src key)
plus one groupBy(dst) with map-side partial sums — 2 shuffles per
iteration, no broadcast of anything O(nodes). Lineage is truncated with
``localCheckpoint`` every iteration so the plan stays O(1) instead of
O(iters). Overflow bound: ``num * rank`` must stay under 2^63 — rank is
bounded by total mass ``scale``, so ``scale <= 2^63 / num`` (~1.08e17 at
num=85); the default 1e12 leaves per-node precision of 100 units at
10^10 nodes, raise ``scale`` toward the bound for finer ties.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window, functions as F

DEFAULT_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = DEFAULT_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 1,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Fixed-point integer PageRank over an edge list.

    Returns (node BIGINT, rank BIGINT) for every node appearing as a src
    or dst. Self-loops and duplicate edges are removed first (and
    out-degrees computed after removal), so callers can pass a raw link
    log. Deterministic: the result is bit-identical at any shuffle
    parallelism — see module docstring.
    """
    num, den = damping
    if not (0 < num < den):
        raise ValueError(f"damping must satisfy 0 < num < den, got {damping}")
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # fold out-degree into the edge rows; one shuffle onto src, reused by
    # every iteration's join below
    ew = e.join(
        e.groupBy("src").agg(F.count("*").alias("deg")), "src"
    ).persist()
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # scalar: also materializes both persists
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank"))
    init = scale // n
    base = ((den - num) * init) // den
    # Sparse iteration state (same argument as salsa): `s` keys = nodes
    # with at least one in-edge; rank(x) = base + coalesce(s(x), 0) for
    # every node after iteration 1 (and = init uniformly before it). The
    # old dense form completed ranks against `nodes` INSIDE the loop —
    # one extra node-keyed shuffle join per iteration whose only effect
    # was materializing constant-base rows that contribute the same
    # c-values the LEFT join below reconstructs. Values are bit-identical
    # to the dense formulation; the single completion against `nodes`
    # happens once at the end.
    s = None
    for i in range(iters):
        if s is None:
            # iteration 1: every node holds exactly `init` — no join at all
            contrib = ew.select(
                F.col("dst"),
                F.expr(f"({num}L * {init}L) div ({den} * deg)").alias("c"),
            )
        else:
            contrib = ew.join(s, ew.src == s.node, "left").select(
                F.col("dst"),
                F.expr(
                    f"({num}L * ({base}L + coalesce(s, 0L))) div ({den} * deg)"
                ).alias("c"),
            )
        s = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").cast("long").alias("s")
        )
        if truncate_lineage and ((i + 1) % checkpoint_every == 0 or i == iters - 1):
            s = s.localCheckpoint(eager=True)
    if s is None:  # iters == 0: the uniform init state
        ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    else:
        ranks = nodes.join(s, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
        if truncate_lineage:
            ranks = ranks.localCheckpoint(eager=True)
    ew.unpersist()
    nodes.unpersist()
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = DEFAULT_SCALE,
) -> str:
    """Generate the DuckDB oracle for :func:`pagerank` as an unrolled
    CTE chain (DuckDB's recursive CTEs disallow aggregation in the
    recursive term, so k iterations unroll to k plain join-agg CTEs).
    `edges_cte` must be a SQL body yielding (src BIGINT, dst BIGINT) —
    raw edges; self-loop/dup removal and out-degrees are applied here
    with the same semantics as the operator."""
    num, den = damping
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "ew AS (SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS deg FROM e1),",
        "nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),",
        f"p AS (SELECT {scale} // COUNT(*) AS init,"
        f" (({den - num}) * ({scale} // COUNT(*))) // {den} AS base FROM nodes),",
        "r0 AS (SELECT node, p.init AS rank FROM nodes, p),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT ew.dst AS node,"
            f" SUM(({num} * r.rank) // ({den} * ew.deg)) AS s"
            f" FROM ew JOIN r{i - 1} r ON ew.src = r.node GROUP BY ew.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, (p.base + COALESCE(c.s, 0))::BIGINT AS rank"
            f" FROM nodes CROSS JOIN p LEFT JOIN c{i} c ON c.node = nodes.node),"
        )
    parts.append(f"fin AS (SELECT * FROM r{iters})")
    parts.append("SELECT node, rank FROM fin")
    return "\n".join(parts)


def bfs_depths(
    edges: DataFrame,
    seeds: list[int],
    max_depth: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Minimum-hop BFS depth from a seed set over the link graph:
    returns (node BIGINT, depth INT) for every node reachable within
    ``max_depth`` hops (seeds at depth 0).

    This is the reference's frontier-depth semantics made standalone —
    the crawler ranks its frontier depth-then-discovery
    (crawler/crawler.go:116), and the depth it ranks by IS the BFS
    level this operator computes. Deterministic at any parallelism
    (pure set semantics, no FP), so it is exactly oracle-checkable via
    the unrolled CTE chain of :func:`bfs_oracle_sql`.

    100 TB shape: per level, one shuffled-hash join of the (persisted,
    src-shuffled) edge list against the current frontier plus one
    anti-join against the visited set — the same per-round shape as the
    production crawl loop (operators/crawl.py), minus fetch.
    Each level is ``localCheckpoint``ed, so nothing is recomputed; the
    visited anti-join's plan is a union of one in-memory checkpoint scan
    per level, i.e. O(max_depth) branches. The loop exits early once a
    level discovers nothing.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    spark = edges.sparkSession
    # ONE job per level: the new-level checkpoint carries an Observation
    # that counts it (the run_crawl trick), so the early-exit probe and
    # the frontier both read the just-materialized level for free. The
    # visited set is never re-materialized — the anti-join probes the
    # union of the per-level checkpoint scans (no recompute: each is an
    # in-memory RDD scan), avoiding the O(|visited|) rewrite per level
    # that a running union-checkpoint pays.
    levels = [
        spark.createDataFrame(
            [(int(s), 0) for s in sorted(set(seeds))], "node long, depth int"
        ).localCheckpoint(eager=True)
    ]
    frontier = levels[0].select("node")
    for d in range(1, max_depth + 1):
        visited = reduce(lambda a, b: a.union(b), levels)
        obs = Observation()
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(d).cast("int").alias("depth"))
            .observe(obs, F.count(F.lit(1)).alias("n_new"))
            .localCheckpoint(eager=True)
        )
        if int(obs.get["n_new"] or 0) == 0:
            break
        levels.append(nxt)
        frontier = nxt.select("node")
    e.unpersist()
    return reduce(lambda a, b: a.union(b), levels)


def bfs_oracle_sql(
    edges_cte: str, seeds: list[int], max_depth: int = 4
) -> str:
    """DuckDB oracle for :func:`bfs_depths` as an unrolled CTE chain
    (one frontier/visited pair per level — same reason as
    :func:`pagerank_oracle_sql`; a fixed unroll equals the operator's
    early-exit because empty frontiers stay empty)."""
    seeds_sql = ", ".join(str(int(s)) for s in sorted(set(seeds)))
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        f"v0 AS (SELECT unnest([{seeds_sql}])::BIGINT AS node, 0 AS depth),",
        "f0 AS (SELECT node FROM v0),",
    ]
    for d in range(1, max_depth + 1):
        parts.append(
            f"f{d} AS (SELECT DISTINCT e1.dst AS node"
            f" FROM e1 JOIN f{d - 1} f ON e1.src = f.node"
            f" WHERE e1.dst NOT IN (SELECT node FROM v{d - 1})),"
        )
        parts.append(
            f"v{d} AS (SELECT node, depth FROM v{d - 1}"
            f" UNION ALL SELECT node, {d} AS depth FROM f{d}),"
        )
    parts.append(f"fin AS (SELECT * FROM v{max_depth})")
    parts.append("SELECT node, depth::INT AS depth FROM fin")
    return "\n".join(parts)


def resolve_redirects(
    edges: DataFrame,
    doublings: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Resolve HTTP-redirect chains to their final landing url by pointer
    doubling (Wyllie-style pointer jumping): after ``doublings``
    iterations every chain of length <= 2**doublings is fully resolved.

    The reference crawler follows redirects one hop at a time inside a
    single fetch (crawler/crawler.go fetch path); at corpus scale the
    redirect map is a TABLE (src -> next) and chain-following a naive
    iterative join would take O(longest chain) shuffles. Pointer doubling
    composes the partial function with itself each round —
    ``R_{i+1}(x) = R_i(R_i(x))`` — so 16-hop chains resolve in 4
    self-joins, the textbook O(log n)-round formulation.

    Semantics (mirrored exactly by :func:`resolve_redirects_oracle_sql`):

    * ``edges`` is a redirect map; multiple outgoing edges per src are
      normalized to the MIN dst (deterministic);
    * self-redirects are kept — they are genuine 1-cycles and come out
      unresolved;
    * output: (url, final, resolved) for EVERY node seen as src or dst.
      ``final`` is the node reached after 2**doublings hops (terminals
      map to themselves); ``resolved`` is true iff ``final`` has no
      outgoing redirect — false means the chain sits on a cycle or
      exceeds the hop budget, both of which a crawler treats as a
      redirect trap (cf. :func:`operators.crawl.trap_hosts`).

    Deterministic at any parallelism (pure function composition, no FP),
    hence exactly oracle-checkable via an unrolled CTE chain.

    100 TB shape: each doubling is ONE shuffled equi-join of the (node,
    reach) map with itself on ``reach = node`` — log2(hop budget)
    shuffles total, lineage truncated per round with ``localCheckpoint``;
    nothing is broadcast at O(nodes).
    """
    em = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
        .persist()
    )
    nodes = (
        em.select(F.col("src").alias("node"))
        .union(em.select(F.col("dst").alias("node")))
        .distinct()
    )
    # R0: one hop (terminals fixed)
    r = nodes.join(em, nodes.node == em.src, "left").select(
        "node", F.coalesce("dst", "node").alias("reach")
    ).localCheckpoint(eager=True)
    for _ in range(doublings):
        r2 = r.select(F.col("node").alias("n2"), F.col("reach").alias("reach2"))
        r = (
            r.join(r2, r.reach == r2.n2)
            .select("node", F.col("reach2").alias("reach"))
            .localCheckpoint(eager=True)
        )
    out = r.join(em, r.reach == em.src, "left").select(
        F.col("node").alias("url"),
        F.col("reach").alias("final"),
        F.col("src").isNull().alias("resolved"),
    )
    em.unpersist()
    return out


def resolve_redirects_oracle_sql(edges_cte: str, doublings: int = 4) -> str:
    """DuckDB oracle for :func:`resolve_redirects` as an unrolled CTE
    chain (one self-join per doubling — same unroll rationale as
    :func:`pagerank_oracle_sql`). ``edges_cte`` must yield
    (src BIGINT, dst BIGINT) raw redirect edges."""
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "em AS (SELECT src, MIN(dst) AS dst FROM e0 GROUP BY src),",
        "nodes AS (SELECT src AS node FROM em UNION SELECT dst FROM em),",
        "r0 AS (SELECT node, COALESCE(em.dst, node) AS reach"
        " FROM nodes LEFT JOIN em ON em.src = nodes.node),",
    ]
    for i in range(1, doublings + 1):
        parts.append(
            f"r{i} AS (SELECT a.node, b.reach"
            f" FROM r{i - 1} a JOIN r{i - 1} b ON a.reach = b.node),"
        )
    parts.append(
        f"fin AS (SELECT r.node, r.reach, em.src IS NULL AS resolved"
        f" FROM r{doublings} r LEFT JOIN em ON em.src = r.reach)"
    )
    parts.append("SELECT node AS url, reach AS final, resolved FROM fin")
    return "\n".join(parts)


def degree_histogram(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Link-graph degree histogram: for the deduped self-loop-free graph
    (same normalization as :func:`pagerank`), count how many nodes have
    each (out_degree) and each (in_degree) — the standard crawl-corpus
    health check (web graphs are power-law; a spike of equal mega-degrees
    usually means a template/trap, cf. :func:`operators.crawl.trap_hosts`).

    Output: (direction: 'in'|'out', degree BIGINT, n_nodes BIGINT) —
    nodes with no edge in a direction are counted under degree 0 so both
    directions sum to the node count.

    100 TB shape: two groupBy chains over the edge list with map-side
    partial aggregation; output is O(distinct degrees) — tiny.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def one_side(col: str, label: str) -> DataFrame:
        deg = e.groupBy(F.col(col).alias("node")).agg(
            F.count("*").alias("degree")
        )
        per_node = nodes.join(deg, "node", "left").select(
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree")
        )
        return per_node.groupBy("degree").agg(
            F.count("*").alias("n_nodes")
        ).select(F.lit(label).alias("direction"), "degree", "n_nodes")

    return one_side("src", "out").unionAll(one_side("dst", "in"))


def hits(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg 1999): hub and authority
    scores over a link graph, L1-normalized to ``scale`` mass units per
    half-step with integer division.

    Same reproducibility argument as :func:`pagerank`: float HITS (with
    its L2 normalization) is not bit-stable across partitionings, so
    ranks are BIGINT mass units and each half-step renormalizes with
    ``(raw * scale) div total`` — integer sums are associative, so the
    result is bit-identical at any parallelism and exactly
    oracle-checkable (:func:`hits_oracle_sql`). Truncation leaks a
    little mass per node per half-step (bounded by 1 unit each), which
    only rescales — ranking order is what HITS is for. PageRank ranks
    by what links TO you; HITS adds the dual signal the crawl scheduler
    wants for DIRECTORY pages: a high-hub page's outlinks are
    high-value frontier candidates.

    Semantics (mirrored exactly by the oracle):

    * self-loops and duplicate edges removed first;
    * both scores start at ``scale div n`` for all n nodes;
    * ``auth_raw(p) = sum of hub(q) over edges q->p``, then
      ``auth = (auth_raw * scale) div sum(auth_raw)``; hubs update from
      the NEW authorities the same way (classic Gauss-Seidel ordering);
    * nodes receiving no mass score 0 (no base term, unlike PageRank).

    Overflow bound: ``auth_raw <= in_deg * scale`` and the normalize
    multiplies by ``scale``, so ``scale^2 * max_degree < 2^63`` —
    the default 10^6 allows max degree ~9.2e6; lower ``scale`` for
    hotter graphs (or pre-cap degree, cf. trap_hosts).

    100 TB shape: the edge list is shuffled once per direction key and
    persisted; each half-step is one shuffled-hash join + one
    map-side-combined groupBy, plus a single-row total that broadcasts
    back (crossJoin with a 1-row aggregate — no driver round-trip).
    ``localCheckpoint`` per iteration keeps the plan O(1) in iters.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("auth"),
        )
    init = scale // n

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        """(node, raw) -> (node, (raw*scale) div total) SPARSE — only
        nodes present in ``raw``; total rides a 1-row crossJoin
        (broadcast). Absentees hold exactly 0 both before and after the
        normalize (0 * scale div tot == 0), so completing against
        `nodes` inside the loop (the old dense form: 2 extra node-keyed
        shuffle joins per half-step) is pure overhead — the single
        completion happens once at the end. Same argument as salsa;
        values bit-identical to the dense formulation."""
        tot = raw.agg(F.sum(col).alias("_tot"))
        return raw.crossJoin(tot).select(
            "node",
            F.expr(f"({col} * {scale}) div greatest(_tot, 1)")
            .cast("long")
            .alias(col),
        )

    # iteration 1's araw sums the uniform init hub over in-edges — no
    # join needed: auth_raw(p) = indeg(p) * init
    hub = None
    auth = None
    for i in range(iters):
        if hub is None:
            araw = e.groupBy(F.col("dst").alias("node")).agg(
                (F.count("*") * F.lit(init)).cast("long").alias("auth")
            )
        else:
            araw = (
                e.join(hub, e.src == hub.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("auth"))
            )
        # each raw frame has TWO consumers (its L1 total and the next
        # half-step's join); without the pin the join+groupBy subtree
        # re-evaluates once per consumer, compounding 4x per iteration
        # through the Gauss-Seidel chain. Lazy: materialized inside the
        # iteration-end checkpoint job, shared at the RDD level.
        araw = araw.localCheckpoint(eager=False)
        auth = _normalize(araw, "auth")
        hraw = (
            e.join(auth, e.dst == auth.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        ).localCheckpoint(eager=False)
        hub = _normalize(hraw, "hub")
        if truncate_lineage:
            if i == iters - 1:
                # final iteration: carry BOTH halves into one checkpoint
                # (auth is needed for the output assembly below)
                state = hub.join(auth, "node", "full_outer").select(
                    "node",
                    F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
                    F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
                ).localCheckpoint(eager=True)
                hub = state.select("node", "hub")
                auth = state.select("node", "auth")
            else:
                # inner iterations: only hub feeds the next round — one
                # sparse checkpoint instead of the dense 3-col join
                hub = hub.localCheckpoint(eager=True)
    if hub is None:  # iters == 0: the documented init state
        out = nodes.select(
            "node",
            F.lit(init).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("auth"),
        )
    else:
        out = (
            nodes.join(hub, "node", "left")
            .join(auth, "node", "left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
                F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
            )
        )
    e.unpersist()
    nodes.unpersist()
    return out


def hits_oracle_sql(
    edges_cte: str, iters: int = 5, scale: int = 10**6
) -> str:
    """DuckDB oracle for :func:`hits` — unrolled CTE chain (one
    auth/hub pair per iteration, scalar-subquery totals), mirroring the
    operator's integer semantics exactly."""
    # every CTE is MATERIALIZED: the normalize levels reference their
    # raw-CTE twice (join + scalar total), and DuckDB inlines plain CTEs
    # per reference -- without materialization the unrolled chain
    # re-evaluates ~4^iters times (measured: minutes at 500 nodes)
    parts = [
        f"WITH e0 AS MATERIALIZED ({edges_cte}),",
        "e1 AS MATERIALIZED"
        " (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM e1 UNION SELECT dst FROM e1),",
        f"h0 AS MATERIALIZED (SELECT node,"
        f" ({scale} // (SELECT COUNT(*) FROM nodes))"
        "::BIGINT AS hub FROM nodes),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT e1.dst AS node, SUM(h.hub) AS r"
            f" FROM e1 JOIN h{i - 1} h ON e1.src = h.node GROUP BY e1.dst),"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT nodes.node,"
            f" ((COALESCE(ar.r, 0) * {scale})"
            f" // greatest((SELECT SUM(r) FROM ar{i}), 1))::BIGINT AS auth"
            f" FROM nodes LEFT JOIN ar{i} ar ON ar.node = nodes.node),"
        )
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT e1.src AS node, SUM(a.auth) AS r"
            f" FROM e1 JOIN a{i} a ON e1.dst = a.node GROUP BY e1.src),"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT nodes.node,"
            f" ((COALESCE(hr.r, 0) * {scale})"
            f" // greatest((SELECT SUM(r) FROM hr{i}), 1))::BIGINT AS hub"
            f" FROM nodes LEFT JOIN hr{i} hr ON hr.node = nodes.node),"
        )
    parts.append(
        f"fin AS (SELECT h.node, h.hub, a.auth"
        f" FROM h{iters} h JOIN a{iters} a ON a.node = h.node)"
    )
    parts.append("SELECT node, hub, auth FROM fin")
    return "\n".join(parts)


def cocitation_topk(
    edges: DataFrame,
    k: int = 5,
    max_out_degree: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Related pages by co-citation (Dean & Henzinger 1999): two pages
    are related in proportion to how many pages link to BOTH. Returns
    ``(page, related, common, rnk)`` — the top-k co-cited partners per
    page by (common desc, related asc), a total order.

    The skew guard is the whole scale story: pairing a source's
    outlinks is quadratic in its out-degree, and web out-degrees are
    power-law — so sources with more than ``max_out_degree`` outlinks
    are dropped BEFORE pairing (documented semantics, mirrored by the
    oracle — a mega-directory page's co-citations are navigational
    noise anyway, the same intuition as trap_hosts). After the cap the
    pair explode is bounded by ``cap * |edges|`` and the plan is:
    out-degree agg (1 shuffle), self-join on src (co-partitioned — the
    join key is the key both sides were just shuffled on), pair count
    (1 shuffle on the (page, related) pair), then a per-page window
    over at most ``cap * in_deg`` candidate rows.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    small = e.join(
        deg.filter(F.col("deg") <= max_out_degree), "src"
    ).select("src", "dst")
    b = small.select(
        F.col("src").alias("src2"), F.col("dst").alias("related")
    )
    pairs = (
        small.join(b, small.src == b.src2)
        .filter(F.col("dst") != F.col("related"))
        .groupBy(F.col("dst").alias("page"), "related")
        .agg(F.count("*").alias("common"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("page").orderBy(
        F.col("common").desc(), F.col("related")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "page", "related", "common", F.col("rnk").cast("int").alias("rnk")
        )
    )


def cocitation_oracle_sql(
    edges_cte: str, k: int = 5, max_out_degree: int = 64
) -> str:
    """DuckDB oracle for :func:`cocitation_topk`."""
    return f"""
    WITH e0 AS ({edges_cte}),
    e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
    deg AS (SELECT src, COUNT(*) AS deg FROM e1 GROUP BY src),
    small AS (SELECT e1.src, e1.dst FROM e1
              JOIN deg ON deg.src = e1.src AND deg.deg <= {max_out_degree}),
    pairs AS (SELECT a.dst AS page, b.dst AS related, COUNT(*) AS common
              FROM small a JOIN small b ON a.src = b.src AND a.dst != b.dst
              GROUP BY a.dst, b.dst),
    rk AS (SELECT page, related, common,
                  ROW_NUMBER() OVER (PARTITION BY page
                                     ORDER BY common DESC, related) AS rnk
           FROM pairs)
    SELECT page, related, common, rnk::INT AS rnk FROM rk WHERE rnk <= {k}
    """


def trustrank(
    edges: DataFrame,
    seeds: list[int],
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = DEFAULT_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-point integer TrustRank (Gyongyi, Garcia-Molina & Pedersen,
    VLDB 2004): PageRank with the teleport restricted to a hand-vetted
    trusted seed set, so trust flows OUT from the seeds along links and
    spam farms — unreachable from good pages — starve. The standard
    web-scale spam-demotion signal; pairs with :func:`pagerank` (global
    authority) exactly as in the paper.

    Same deterministic integer arithmetic as :func:`pagerank` (BIGINT
    mass units, ``div`` truncation, bit-identical at any parallelism),
    with two changes: the initial mass and the per-iteration teleport
    ``base`` land ONLY on seed nodes (``init = scale div n_seeds``,
    constants computed host-side since the seed set is an input, not a
    corpus statistic). Seeds absent from the graph contribute nothing
    on either engine. Exact oracle: :func:`trustrank_oracle_sql`'s
    unrolled CTE chain.

    100 TB shape: identical to pagerank — the degree-folded edge list
    persists once, each iteration is one edges-to-ranks join + one
    map-side-combined sum, lineage truncated per iteration.
    """
    num, den = damping
    if not (0 < num < den):
        raise ValueError(f"damping must satisfy 0 < num < den, got {damping}")
    if not seeds:
        raise ValueError("trustrank needs a non-empty seed set")
    sset = sorted(set(int(s) for s in seeds))
    init = scale // len(sset)
    base = ((den - num) * init) // den
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ew = e.join(
        e.groupBy("src").agg(F.count("*").alias("deg")), "src"
    ).persist()
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("is_seed", F.col("node").isin(sset))
        .persist()
    )
    nodes.count()
    seed_mass = lambda amt: F.when(  # noqa: E731
        F.col("is_seed"), F.lit(amt)
    ).otherwise(F.lit(0))
    seed_pred = F.col("src").isin(sset)
    # Sparse iteration state (same argument as pagerank/salsa): after
    # iteration i >= 1, rank(x) = seed_base(x) + coalesce(s(x), 0) where
    # `s` holds only nodes with in-edges; the per-iteration completion
    # against `nodes` was pure overhead. Bit-identical values.
    s = None
    for i in range(iters):
        if s is None:
            # iteration 1: only seeds hold mass — prune the edge scan to
            # seed srcs (non-seed rows contribute exactly 0)
            contrib = ew.filter(seed_pred).select(
                F.col("dst"),
                F.expr(f"({num}L * {init}L) div ({den} * deg)").alias("c"),
            )
        else:
            rank_sql = (
                f"(case when src in ({', '.join(map(str, sset))})"
                f" then {base}L else 0L end + coalesce(s, 0L))"
            )
            contrib = ew.join(s, ew.src == s.node, "left").select(
                F.col("dst"),
                F.expr(f"({num}L * {rank_sql}) div ({den} * deg)").alias("c"),
            )
        s = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("long").alias("s"))
            .localCheckpoint(eager=True)
        )
    if s is None:  # iters == 0: the seed-gated init state
        ranks = nodes.select("node", seed_mass(init).cast("long").alias("rank"))
    else:
        ranks = nodes.join(s, "node", "left").select(
            "node",
            (seed_mass(base) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        ).localCheckpoint(eager=True)
    ew.unpersist()
    nodes.unpersist()
    return ranks.select("node", "rank")


def trustrank_oracle_sql(
    edges_cte: str,
    seeds: list[int],
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = DEFAULT_SCALE,
) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`trustrank` (same shape as
    :func:`pagerank_oracle_sql`; seed-gated init/base constants are
    computed here, mirroring the operator)."""
    num, den = damping
    sset = sorted(set(int(s) for s in seeds))
    init = scale // len(sset)
    base = ((den - num) * init) // den
    seed_list = ", ".join(str(s) for s in sset)
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "ew AS (SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS deg FROM e1),",
        "nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),",
        f"r0 AS (SELECT node, CASE WHEN node IN ({seed_list})"
        f" THEN {init}::BIGINT ELSE 0::BIGINT END AS rank FROM nodes),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT ew.dst AS node,"
            f" SUM(({num} * r.rank) // ({den} * ew.deg)) AS s"
            f" FROM ew JOIN r{i - 1} r ON ew.src = r.node GROUP BY ew.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node,"
            f" (CASE WHEN nodes.node IN ({seed_list})"
            f" THEN {base}::BIGINT ELSE 0::BIGINT END"
            f" + COALESCE(c.s, 0))::BIGINT AS rank"
            f" FROM nodes LEFT JOIN c{i} c ON c.node = nodes.node),"
        )
    parts.append(f"fin AS (SELECT * FROM r{iters})")
    parts.append("SELECT node, rank FROM fin")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented) and deterministic label propagation
# ---------------------------------------------------------------------------


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Canonical undirected simple edge set (a < b) from a raw directed
    link log: drop self-loops, fold both directions, dedupe."""
    s = F.col(src_col).cast("long")
    d = F.col(dst_col).cast("long")
    return (
        edges.select(
            F.least(s, d).alias("a"), F.greatest(s, d).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph —
    the link-farm/community signal (a crawler flags densely
    inter-linked host clusters the same way `trap_hosts` flags URL
    explosions; spam farms are near-cliques, cf. Gyongyi et al.'s
    TrustRank motivation).

    Algorithm: degree orientation (Chiba–Nishizeki / the standard
    MapReduce formulation, Suri & Vassilvitskii WWW'11). Each undirected
    edge is oriented from the endpoint with smaller (degree, id) to the
    larger; every triangle then has exactly ONE wedge node whose two
    out-edges form it, so counting (wedge ⋈ closing-edge) counts each
    triangle once. Orientation caps oriented out-degree at O(sqrt(m)),
    so the wedge self-join is O(m^1.5) worst-case instead of the
    O(Σ deg²) a naive neighbor self-join costs on power-law web graphs —
    THE skew defense at 10^10 edges, where a mega-hub would otherwise
    produce a quadratic single-key wedge group.

    Deterministic: degrees are exact integers and the (degree, id) order
    is total, so the oriented graph — and every count — is bit-identical
    at any parallelism and engine (exact oracle:
    :func:`triangle_oracle_sql`).

    Output: (node BIGINT, triangles BIGINT) for every node of the
    undirected graph, including triangle-free nodes at 0.

    100 TB shape: degree fold is one map-side-combined groupBy; the
    wedge join shuffles the oriented edge list on its low endpoint; the
    closure check is one more shuffled-hash join on (b, c) — three
    shuffles total, no broadcast of anything O(nodes), output O(nodes).
    """
    return _deg_triangles(_undirected(edges, src_col, dst_col)).select(
        "node", "triangles"
    )


def _deg_triangles(und: DataFrame) -> DataFrame:
    """(node, deg, triangles) over a canonical undirected edge set —
    the shared single-scan core of :func:`triangle_counts` and
    :func:`clustering_coefficients` (degree fold and wedge join run
    once; both outputs are projections of this frame)."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, id): keep each edge as lo -> hi in that total order
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ew = und.join(da, "a").join(db, "b")
    lo_is_a = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ew.select(
        F.when(lo_is_a, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_is_a, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(lo_is_a, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_hi"),
    ).persist()
    # wedges at the minimum-ranked node: pairs of out-neighbors, ordered
    # by the same (deg, id) rank so the closing edge is also oriented
    o1 = oriented.select(
        F.col("lo").alias("w"), F.col("hi").alias("u"), F.col("deg_hi").alias("deg_u")
    )
    o2 = oriented.select(
        F.col("lo").alias("w"), F.col("hi").alias("v"), F.col("deg_hi").alias("deg_v")
    )
    wedges = o1.join(o2, "w").filter(
        (F.col("deg_u") < F.col("deg_v"))
        | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
    )
    closing = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    tri = wedges.join(closing, ["u", "v"]).select("w", "u", "v")
    per_node = (
        tri.select(F.col("w").alias("node"))
        .unionAll(tri.select(F.col("u").alias("node")))
        .unionAll(tri.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
    )


def clustering_coefficients(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998)
    over the undirected simple link graph, in integer micro-units:
    ``lcc_micro = (2 * scale * triangles) div (deg * (deg - 1))`` for
    ``deg >= 2``, else 0. The near-clique density signal that separates
    a link farm (neighbors all inter-linked, lcc → 1) from a legitimate
    hub (neighbors mostly unlinked, lcc → 0) — the per-node refinement
    of :func:`triangle_counts`' raw counts, cf. the reference's crawl
    treating densely self-linked peer clusters as one community
    (crawler/crawling.go's peer-graph walk).

    Exact by construction: triangles and degrees are exact integers and
    the coefficient is integer division of BIGINT products, so the
    result is bit-identical at any parallelism and engine (float
    division would not hash-match across Spark/DuckDB). Output
    (node, deg, triangles, lcc_micro), one row per node of the
    undirected graph.

    100 TB shape: one extra projection over :func:`_deg_triangles` —
    the degree fold and the O(m^1.5) oriented wedge join run once and
    feed both operators; no new shuffle, output O(nodes).
    """
    dt = _deg_triangles(_undirected(edges, src_col, dst_col))
    return dt.select(
        "node",
        "deg",
        "triangles",
        F.when(
            F.col("deg") >= 2,
            F.expr(
                f"(2 * CAST({scale} AS BIGINT) * triangles)"
                " div (deg * (deg - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lcc_micro"),
    )


def clustering_oracle_sql(edges_cte: str, scale: int = 1_000_000) -> str:
    """DuckDB oracle for :func:`clustering_coefficients` — the triangle
    oracle's CTE chain plus the same BIGINT integer-division
    coefficient."""
    return f"""
    WITH und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({edges_cte}) WHERE src != dst
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ),
    tri AS ({triangle_oracle_sql(edges_cte)})
    SELECT d.node,
           d.deg::BIGINT AS deg,
           t.triangles,
           (CASE WHEN d.deg >= 2
                 THEN (2 * {scale}::BIGINT * t.triangles)
                      // (d.deg * (d.deg - 1))
                 ELSE 0 END)::BIGINT AS lcc_micro
    FROM deg d JOIN tri t ON t.node = d.node
    """


def _edge_support(g: DataFrame) -> DataFrame:
    """(a, b, sup) — per-edge triangle support over a canonical
    undirected edge set ``g(a < b)``, via the same degree orientation
    as :func:`_deg_triangles` (each triangle enumerated at exactly one
    wedge, oriented out-degree O(sqrt m) — the hub-skew defense), then
    exploded back to its three canonical edges. Edges in no triangle
    get sup 0 via the final left join."""
    deg = (
        g.select(F.col("a").alias("node"))
        .unionAll(g.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ew = g.join(da, "a").join(db, "b")
    lo_is_a = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ew.select(
        F.when(lo_is_a, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_is_a, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(lo_is_a, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_hi"),
    ).persist()
    o1 = oriented.select(
        F.col("lo").alias("w"), F.col("hi").alias("u"), F.col("deg_hi").alias("deg_u")
    )
    o2 = oriented.select(
        F.col("lo").alias("w"), F.col("hi").alias("v"), F.col("deg_hi").alias("deg_v")
    )
    wedges = o1.join(o2, "w").filter(
        (F.col("deg_u") < F.col("deg_v"))
        | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
    )
    closing = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    tri = wedges.join(closing, ["u", "v"]).select("w", "u", "v")
    pairs = (
        tri.select(F.col("w").alias("x"), F.col("u").alias("y"))
        .unionAll(tri.select(F.col("w").alias("x"), F.col("v").alias("y")))
        .unionAll(tri.select(F.col("u").alias("x"), F.col("v").alias("y")))
    )
    sup = (
        pairs.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("sup"))
    )
    out = g.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup")
    )
    oriented.unpersist()
    return out


def ktruss_edges(
    edges: DataFrame,
    k: int,
    peels: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-truss edge peeling (Cohen 2008) over the undirected simple
    graph: repeatedly delete edges whose triangle support is < k-2
    (``peels`` synchronous rounds), returning survivors with their
    support inside the surviving subgraph. The truss is the EDGE-level
    sharpening of :func:`kcore_nodes` — a k-core can be a star (zero
    triangles) but every k-truss edge sits in >= k-2 triangles, so
    trusses isolate the genuinely clique-like link-farm / template-ring
    cores that degree alone cannot distinguish from hubs (the k-truss
    is contained in the (k-1)-core but is strictly denser).

    Same fixed-round grading convention as :func:`kcore_nodes`: a
    fixed-depth peel grades exactly; at web scale rounds~10 hits the
    fixpoint because each round removes whole support-layers.
    Deterministic: supports are exact integer triangle counts (degree
    orientation, each triangle counted once — see :func:`_edge_support`).

    Output: (a BIGINT, b BIGINT, sup BIGINT) canonical (a < b) edges
    alive after ``peels`` rounds whose final-subgraph support is still
    >= k-2.

    100 TB shape: each round is the O(m^1.5)-bounded oriented wedge
    join plus one shuffled-hash join of edges against supports — the
    same per-round cost as one triangle count; no driver state, lineage
    truncated per round. Reference analogue: the ban-cluster heuristic
    family (banserver moderation console) — truss membership is the
    graph-native "this whole ring is one operation" signal.
    """
    if k < 3:
        raise ValueError("k must be >= 3 (k-2 support threshold)")
    g = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    for _ in range(peels):
        s = _edge_support(g)
        g = (
            s.filter(F.col("sup") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return _edge_support(g).filter(F.col("sup") >= k - 2)


def _support_sql(g: str, tag: str) -> str:
    """CTE chain computing per-edge triangle support over edge set CTE
    ``g`` — the SQL twin of :func:`_edge_support`; emits ``s{tag}``
    with (a, b, sup)."""
    return (
        f"d{tag} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM ("
        f"SELECT a AS node FROM {g} UNION ALL SELECT b FROM {g}) GROUP BY node),\n"
        f"o{tag} AS MATERIALIZED (SELECT"
        f" CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS lo,"
        f" CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS hi,"
        f" CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS deg_hi"
        f" FROM {g} u JOIN d{tag} da ON da.node = u.a"
        f" JOIN d{tag} db ON db.node = u.b),\n"
        f"t{tag} AS MATERIALIZED (SELECT w.w, w.u, w.v FROM ("
        f"SELECT o1.lo AS w, o1.hi AS u, o2.hi AS v"
        f" FROM o{tag} o1 JOIN o{tag} o2 ON o1.lo = o2.lo"
        f" WHERE (o1.deg_hi, o1.hi) < (o2.deg_hi, o2.hi)) w"
        f" JOIN o{tag} o ON o.lo = w.u AND o.hi = w.v),\n"
        f"p{tag} AS MATERIALIZED (SELECT least(x, y) AS a, greatest(x, y) AS b,"
        f" COUNT(*) AS c FROM ("
        f"SELECT w AS x, u AS y FROM t{tag}"
        f" UNION ALL SELECT w, v FROM t{tag}"
        f" UNION ALL SELECT u, v FROM t{tag}) GROUP BY 1, 2),\n"
        f"s{tag} AS MATERIALIZED (SELECT g.a, g.b, COALESCE(p.c, 0)::BIGINT AS sup"
        f" FROM {g} g LEFT JOIN p{tag} p ON p.a = g.a AND p.b = g.b)"
    )


def ktruss_oracle_sql(edges_cte: str, k: int, peels: int = 3) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`ktruss_edges` — the same
    degree-oriented support count and the same >= k-2 peel per round."""
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "g0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,"
        " greatest(src, dst) AS b FROM e0 WHERE src != dst),",
    ]
    for i in range(1, peels + 1):
        parts.append(_support_sql(f"g{i - 1}", str(i)) + ",")
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT a, b FROM s{i} WHERE sup >= {k - 2}),"
        )
    parts.append(_support_sql(f"g{peels}", "f"))
    parts.append(f"SELECT a, b, sup FROM sf WHERE sup >= {k - 2}")
    return "\n".join(parts)


def triangle_oracle_sql(edges_cte: str) -> str:
    """DuckDB oracle for :func:`triangle_counts` — same degree
    orientation, same wedge-plus-closure join, exact integer counts."""
    return f"""
    WITH e0 AS ({edges_cte}),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e0 WHERE src != dst
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS lo,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS hi,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS deg_hi
      FROM und u
      JOIN deg da ON da.node = u.a
      JOIN deg db ON db.node = u.b
    ),
    wedges AS (
      SELECT o1.lo AS w, o1.hi AS u, o2.hi AS v
      FROM oriented o1 JOIN oriented o2 ON o1.lo = o2.lo
      WHERE (o1.deg_hi, o1.hi) < (o2.deg_hi, o2.hi)
    ),
    tri AS (
      SELECT w.w, w.u, w.v
      FROM wedges w JOIN oriented o ON o.lo = w.u AND o.hi = w.v
    ),
    per_node AS (
      SELECT node, COUNT(*) AS t FROM (
        SELECT w AS node FROM tri
        UNION ALL SELECT u FROM tri
        UNION ALL SELECT v FROM tri
      ) GROUP BY node
    )
    SELECT d.node, COALESCE(p.t, 0)::BIGINT AS triangles
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    """


def label_propagation(
    edges: DataFrame,
    seeds: dict[int, int],
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation over the undirected
    link graph — the semi-supervised classifier a crawl deploys to spread
    a handful of hand-audited spam/ham host labels through link structure
    (Zhu & Ghahramani 2002 relaxed to hard labels; the categorical
    complement of :func:`trustrank`'s continuous trust mass).

    Semantics (both oracle sides mirror them exactly):

    * ``seeds`` maps node -> integer label; seed labels are CLAMPED
      (never change);
    * one synchronous round: every non-seed node takes the majority
      label among its neighbors' current labels (unlabeled neighbors
      don't vote); ties break to the SMALLEST label, so the update is a
      deterministic function of exact integer vote counts — bit-identical
      at any parallelism, unlike classic LPA's random tie-breaking;
    * a node with no labeled neighbors keeps its current label
      (initially unlabeled, surfaced as -1).

    100 TB shape: the undirected adjacency persists once (one shuffle);
    each round is one adjacency-to-labels join + one (node, label)
    count + one window argmax per node — all map-side-combinable,
    lineage truncated per round via localCheckpoint.
    """
    if not seeds:
        raise ValueError("label_propagation needs a non-empty seed map")
    und = _undirected(edges, src_col, dst_col)
    adj = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))).persist()
    spark = edges.sparkSession
    seed_df = spark.createDataFrame(
        sorted((int(k), int(v)) for k, v in seeds.items()), "node long, seed_label long"
    )
    nodes = adj.select("node").distinct().join(seed_df, "node", "left").persist()
    nodes.count()
    labels = nodes.select(
        "node", F.col("seed_label").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.col("votes").desc(), F.col("label").asc())
    for _ in range(iters):
        votes = (
            adj.join(
                labels.withColumnRenamed("node", "nbr").filter(
                    F.col("label").isNotNull()
                ),
                "nbr",
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("votes"))
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            nodes.join(labels.select("node", "label"), "node")
            .join(best, "node", "left")
            .select(
                "node",
                F.coalesce(
                    F.col("seed_label"), F.col("new_label"), F.col("label")
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    adj.unpersist()
    nodes.unpersist()
    return labels.select(
        "node", F.coalesce(F.col("label"), F.lit(-1)).cast("long").alias("label")
    )


def label_propagation_oracle_sql(
    edges_cte: str, seeds: dict[int, int], iters: int = 4
) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`label_propagation`."""
    seed_rows = ", ".join(
        f"({int(k)}, {int(v)})" for k, v in sorted(seeds.items())
    )
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b"
        " FROM e0 WHERE src != dst),",
        "adj AS (SELECT a AS node, b AS nbr FROM und"
        " UNION ALL SELECT b, a FROM und),",
        f"seeds(node, seed_label) AS (VALUES {seed_rows}),",
        "nodes AS (SELECT n.node, s.seed_label FROM"
        " (SELECT DISTINCT node FROM adj) n"
        " LEFT JOIN seeds s ON s.node = n.node),",
        "l0 AS (SELECT node, seed_label AS label FROM nodes),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"v{i} AS (SELECT adj.node, l.label, COUNT(*) AS votes"
            f" FROM adj JOIN l{i - 1} l ON l.node = adj.nbr"
            f" WHERE l.label IS NOT NULL GROUP BY adj.node, l.label),"
        )
        parts.append(
            f"b{i} AS (SELECT node, label AS new_label FROM ("
            f"SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node"
            f" ORDER BY votes DESC, label ASC) AS rn FROM v{i}) WHERE rn = 1),"
        )
        parts.append(
            f"l{i} AS (SELECT nodes.node,"
            f" COALESCE(nodes.seed_label, b.new_label, l.label) AS label"
            f" FROM nodes JOIN l{i - 1} l ON l.node = nodes.node"
            f" LEFT JOIN b{i} b ON b.node = nodes.node),"
        )
    parts.append(f"fin AS (SELECT * FROM l{iters})")
    parts.append("SELECT node, COALESCE(label, -1)::BIGINT AS label FROM fin")
    return "\n".join(parts)


def kcore_nodes(
    edges: DataFrame,
    k: int,
    peels: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core peeling over the undirected simple graph: repeatedly delete
    nodes of degree < k (``peels`` synchronous rounds), returning the
    survivors with their degree inside the surviving subgraph — the dense
    core extraction of Seidman 1983 / Batagelj-Zaversnik. Link farms and
    tightly-woven template networks live in high-k cores while genuine
    editorial pages rarely exceed small k: the coarse dual of
    :func:`triangle_counts` (cores are cheap where triangle joins are
    hot), and the standard first cut for "which hosts deserve graph-rank
    budget".

    ``peels`` bounds the rounds (a fixed-depth operator grades exactly;
    full convergence just means running until a round deletes nothing —
    at web scale peels≈10 reaches the fixpoint on real degree
    distributions because each round removes whole degree-layers).
    Deterministic: degree thresholds on exact integer counts.

    Output: (node BIGINT, degree BIGINT) for nodes still alive after
    ``peels`` rounds, degree measured in the surviving subgraph.

    100 TB shape: each round is one map-side-combined degree count + one
    semi-join of the edge list against surviving nodes (both endpoints) —
    2 shuffles/round on the edge key, nothing O(nodes) on the driver,
    lineage truncated per round.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    und = _undirected(edges, src_col, dst_col)
    g = und.localCheckpoint(eager=True)
    for _ in range(peels):
        deg = (
            g.select(F.col("a").alias("node"))
            .unionAll(g.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        g = (
            g.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        g.select(F.col("a").alias("node"))
        .unionAll(g.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def kcore_oracle_sql(edges_cte: str, k: int, peels: int = 4) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`kcore_nodes`."""
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "g0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b"
        " FROM e0 WHERE src != dst),",
    ]
    for i in range(1, peels + 1):
        parts.append(
            f"d{i} AS (SELECT node, COUNT(*) AS degree FROM ("
            f"SELECT a AS node FROM g{i - 1} UNION ALL SELECT b FROM g{i - 1}"
            f") GROUP BY node),"
        )
        parts.append(
            f"k{i} AS (SELECT node FROM d{i} WHERE degree >= {k}),"
        )
        parts.append(
            f"g{i} AS (SELECT g.a, g.b FROM g{i - 1} g"
            f" JOIN k{i} ka ON ka.node = g.a"
            f" JOIN k{i} kb ON kb.node = g.b),"
        )
    parts.append(
        f"fin AS (SELECT node, COUNT(*)::BIGINT AS degree FROM ("
        f"SELECT a AS node FROM g{peels} UNION ALL SELECT b FROM g{peels}"
        f") GROUP BY node)"
    )
    parts.append(f"SELECT node, degree FROM fin WHERE degree >= {k}")
    return "\n".join(parts)


def reciprocity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-source reciprocity of the directed link graph: how many of a
    node's out-links point back — (node, n_out, n_recip, recip_milli)
    with recip_milli = (1000 * n_recip) div n_out in exact integer
    milli-units. Organic linking is mostly one-way (reciprocity of the
    web graph is low); near-total reciprocity across a set of hosts is
    the signature of a link-exchange ring — the classic pre-TrustRank
    spam heuristic, and a cheap one: it needs no iteration at all.

    100 TB shape: the deduped edge list self-joins once on the reversed
    key (shuffled-hash on (dst, src) vs (src, dst) — an equi-join, no
    explosion: output <= input), then one map-side-combined groupBy(src).
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.intersect(rev)  # edges whose reverse also exists
    out = (
        e.groupBy("src")
        .agg(F.count("*").alias("n_out"))
        .join(
            recip.groupBy("src").agg(F.count("*").alias("n_recip")),
            "src",
            "left",
        )
        .select(
            F.col("src").alias("node"),
            F.col("n_out").cast("long"),
            F.coalesce(F.col("n_recip"), F.lit(0)).cast("long").alias("n_recip"),
            F.expr("(1000 * coalesce(n_recip, 0)) div n_out")
            .cast("long")
            .alias("recip_milli"),
        )
    )
    return out


def reciprocity_oracle_sql(edges_cte: str) -> str:
    """DuckDB oracle for :func:`reciprocity`."""
    return f"""
    WITH e0 AS ({edges_cte}),
    e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
    recip AS (
      SELECT e.src, e.dst FROM e1 e
      JOIN e1 r ON r.src = e.dst AND r.dst = e.src
    ),
    n_out AS (SELECT src, COUNT(*) AS n_out FROM e1 GROUP BY src),
    n_rec AS (SELECT src, COUNT(*) AS n_recip FROM recip GROUP BY src)
    SELECT o.src AS node, o.n_out::BIGINT AS n_out,
           COALESCE(r.n_recip, 0)::BIGINT AS n_recip,
           ((1000 * COALESCE(r.n_recip, 0)) // o.n_out)::BIGINT AS recip_milli
    FROM n_out o LEFT JOIN n_rec r ON r.src = o.src
    """


def opic(
    edges: DataFrame,
    rounds: int = 4,
    scale: int = DEFAULT_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    Cobéna, WWW 2003): THE frontier-priority algorithm designed for
    crawling. Each node holds integer "cash"; every round it pays
    ``cash div (out_deg + 1)`` to each out-neighbor AND to a virtual
    node (the paper's construction: the virtual node absorbs dangling
    mass and redistributes its own cash ``div N`` to every node,
    guaranteeing ergodicity without FP damping), while ``history``
    accumulates the cash seen — importance ≈ history, available at ANY
    point of the crawl rather than after convergence, which is why a
    crawler prefers it to PageRank for scheduling (the pagerank /
    trustrank operators stay the post-hoc ranking pair).

    Integer fixed-point like :func:`pagerank`: truncating div leaks
    bounded mass instead of redistributing it, every quantity is BIGINT,
    so the result is bit-identical at any parallelism and exactly
    oracle-checkable (:func:`opic_oracle_sql`).

    Returns (node BIGINT, cash BIGINT, history BIGINT) after ``rounds``
    synchronous rounds over every node appearing as src or dst.

    100 TB shape: identical to pagerank — the degree-folded edge list
    shuffles once and persists; each round is one shuffled-hash join +
    one groupBy(dst) with map-side partial sums (2 shuffles), the
    virtual node's cash rides a 1-row broadcast cross join (never
    driver state), and ``localCheckpoint`` per round keeps the plan
    O(1) in rounds.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    degs = e.groupBy("src").agg(F.count("*").alias("deg"))
    ew = e.join(degs, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        ew.unpersist()
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("cash"),
            F.lit(0).cast("long").alias("history"),
        )
    init = scale // n
    spark = edges.sparkSession
    state = nodes.join(degs.withColumnRenamed("src", "node"), "node", "left").select(
        "node",
        F.lit(init).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("history"),
        F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
    ).localCheckpoint(eager=True)
    vdf = spark.createDataFrame([(0,)], "vcash long").localCheckpoint(eager=True)
    for _ in range(rounds):
        shares = state.select(
            "node",
            "cash",
            "history",
            "deg",
            F.expr("cash div (deg + 1)").alias("share"),
        )
        contrib = (
            ew.join(
                shares.select(F.col("node").alias("src"), "share"), "src"
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("s"))
        )
        vin = shares.agg(
            F.coalesce(F.sum("share"), F.lit(0)).cast("long").alias("vnew")
        )
        vout = vdf.select(F.expr(f"vcash div {n}").alias("vshare"))
        state = (
            shares.join(contrib, shares.node == contrib.dst, "left")
            .crossJoin(F.broadcast(vout))
            .select(
                "node",
                (F.coalesce(F.col("s"), F.lit(0)) + F.col("vshare"))
                .cast("long")
                .alias("cash"),
                (F.col("history") + F.col("cash")).cast("long").alias("history"),
                "deg",
            )
            .localCheckpoint(eager=True)
        )
        vdf = vin.select(F.col("vnew").alias("vcash")).localCheckpoint(
            eager=True
        )
    ew.unpersist()
    nodes.unpersist()
    return state.select("node", "cash", "history")


def opic_oracle_sql(
    edges_cte: str, rounds: int = 4, scale: int = DEFAULT_SCALE
) -> str:
    """DuckDB oracle for :func:`opic` — unrolled CTE chain, one
    (state, vcash) pair per round, same integer semantics."""
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "degs AS (SELECT src, COUNT(*) AS deg FROM e1 GROUP BY src),",
        "nodes AS (SELECT src AS node FROM e1 UNION SELECT dst FROM e1),",
        f"p AS (SELECT COUNT(*) AS n, {scale} // COUNT(*) AS init FROM nodes),",
        "s0 AS (SELECT nodes.node, p.init::BIGINT AS cash, 0::BIGINT AS history,"
        " COALESCE(degs.deg, 0)::BIGINT AS deg"
        " FROM nodes CROSS JOIN p LEFT JOIN degs ON degs.src = nodes.node),",
        "v0 AS (SELECT 0::BIGINT AS vcash),",
    ]
    for i in range(1, rounds + 1):
        j = i - 1
        parts.append(
            f"sh{j} AS (SELECT node, cash, history, deg,"
            f" cash // (deg + 1) AS share FROM s{j}),"
        )
        parts.append(
            f"c{i} AS (SELECT e1.dst AS node, SUM(sh.share) AS s"
            f" FROM e1 JOIN sh{j} sh ON e1.src = sh.node GROUP BY e1.dst),"
        )
        parts.append(
            f"s{i} AS (SELECT sh.node,"
            f" (COALESCE(c.s, 0) + v.vcash // p.n)::BIGINT AS cash,"
            f" (sh.history + sh.cash)::BIGINT AS history, sh.deg"
            f" FROM sh{j} sh CROSS JOIN v{j} v CROSS JOIN p"
            f" LEFT JOIN c{i} c ON c.node = sh.node),"
        )
        parts.append(
            f"v{i} AS (SELECT COALESCE(SUM(share), 0)::BIGINT AS vcash FROM sh{j}),"
        )
    parts.append(f"fin AS (SELECT * FROM s{rounds})")
    parts.append("SELECT node, cash, history FROM fin")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# SALSA (stochastic HITS) and spam mass (PageRank vs TrustRank)
# ---------------------------------------------------------------------------


def salsa(
    edges: DataFrame,
    iters: int = 5,
    scale: int = DEFAULT_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Fixed-point integer SALSA (Lempel & Moran, WWW 2000): the
    stochastic variant of HITS the major engines actually shipped for
    related-pages / who-to-follow (cf. Twitter's WTF, WWW 2013).
    Where HITS sums raw neighbor mass (so dense regions dominate via
    the L2 mutual reinforcement), SALSA is a random WALK on the
    bipartite hub/authority view — every step divides the sending
    node's mass by its degree, so scores converge to (per component)
    the degree distribution and the TKC effect disappears: a tightly
    knit spam clique no longer captures the whole ranking. That
    degree-normalized walk is the authority signal a crawl scheduler
    wants next to :func:`pagerank` (which this repo already grades):
    same conserved-mass semantics, but bidirectional.

    Semantics (mirrored exactly by :func:`salsa_oracle_sql`):

    * self-loops and duplicate edges removed first; in/out-degrees
      computed after removal and folded onto the edge rows;
    * every node starts with ``auth = scale div n`` mass units;
    * backward half-step (authority -> hub along reversed edges):
      ``hub(i) = sum over edges i->j of (auth(j) div indeg(j))``;
    * forward half-step: ``auth(j) = sum over edges i->j of
      (hub(i) div outdeg(i))``;
    * integer division truncates per edge-group, so a bounded trickle
      of mass leaks each half-step (same discipline as
      :func:`pagerank`); nodes with no in-edges hold no authority
      after the first step — the bipartite walk simply never reaches
      them (documented, like dangling mass in pagerank).

    No multiplications at all, so overflow needs only ``scale < 2^63``
    — the default 10^12 leaves the same per-node precision as
    pagerank. Bit-identical at any shuffle parallelism: integer sums
    are associative and both divisions are by per-edge-row constants.

    100 TB shape: the degree-folded edge list shuffles ONCE and
    persists; each half-step is one shuffled-hash join + one map-side-
    combined groupBy (2 shuffles per full iteration, nothing O(nodes)
    on the driver); ``localCheckpoint`` per iteration keeps the plan
    O(1) in iters. Skew: a mega-hub's in-edges all carry the same
    ``auth div indeg`` value and combine map-side, so hot authorities
    cost one reduce key, not a broadcast.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ew = (
        e.join(e.groupBy("src").agg(F.count("*").alias("outdeg")), "src")
        .join(e.groupBy("dst").agg(F.count("*").alias("indeg")), "dst")
        .persist()
    )
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        ew.unpersist()
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("auth"),
            F.lit(0).cast("long").alias("hub"),
        )
    init = scale // n
    auth = nodes.select("node", F.lit(init).cast("long").alias("auth"))
    # iters=0 returns the init state (uniform auth, zero hub) instead of
    # crashing on a None hub in the final join
    hub = nodes.select("node", F.lit(0).cast("long").alias("hub"))
    # Sparse iteration state: hraw keys = nodes with out-edges, araw
    # keys = nodes with in-edges. A node absent from either frame holds
    # exactly 0 mass there, and 0-mass rows contribute 0 to every edge
    # sum, so completing the frames against `nodes` INSIDE the loop is
    # pure overhead (2 extra node-keyed shuffle joins per iteration).
    # One full-outer join per iteration carries both halves into the
    # checkpoint; the single completion against `nodes` happens once at
    # the end. Values are bit-identical to the dense formulation.
    for i in range(iters):
        # hraw has two consumers (the forward half-step join and the
        # state carry); lazy pin so the backward half-step runs once
        hraw = (
            ew.join(auth, ew.dst == auth.node)
            .select("src", F.expr("auth div indeg").alias("c"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("c").cast("long").alias("hub"))
        ).localCheckpoint(eager=False)
        araw = (
            ew.join(hraw, ew.src == hraw.node)
            .select("dst", F.expr("hub div outdeg").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("long").alias("auth"))
        )
        state = (
            hraw.join(araw, "node", "full_outer")
            .select(
                "node",
                F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
                F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            )
        )
        if truncate_lineage:
            state = state.localCheckpoint(eager=True)
        auth = state.select("node", "auth")
        hub = state.select("node", "hub")
    out = (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
        )
    )
    ew.unpersist()
    nodes.unpersist()
    return out


def salsa_oracle_sql(
    edges_cte: str, iters: int = 5, scale: int = DEFAULT_SCALE
) -> str:
    """Unrolled-CTE DuckDB oracle for :func:`salsa` (MATERIALIZED like
    the HITS oracle — each level is referenced twice)."""
    parts = [
        f"WITH e0 AS MATERIALIZED ({edges_cte}),",
        "e1 AS MATERIALIZED"
        " (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "ew AS MATERIALIZED (SELECT src, dst,"
        " COUNT(*) OVER (PARTITION BY src) AS outdeg,"
        " COUNT(*) OVER (PARTITION BY dst) AS indeg FROM e1),",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM ew UNION SELECT dst FROM ew),",
        f"a0 AS MATERIALIZED (SELECT node,"
        f" ({scale} // (SELECT COUNT(*) FROM nodes))::BIGINT AS auth"
        " FROM nodes),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT ew.src AS node,"
            f" SUM(a.auth // ew.indeg) AS r"
            f" FROM ew JOIN a{i - 1} a ON ew.dst = a.node GROUP BY ew.src),"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT nodes.node,"
            f" COALESCE(hr.r, 0)::BIGINT AS hub"
            f" FROM nodes LEFT JOIN hr{i} hr ON hr.node = nodes.node),"
        )
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT ew.dst AS node,"
            f" SUM(h.hub // ew.outdeg) AS r"
            f" FROM ew JOIN h{i} h ON ew.src = h.node GROUP BY ew.dst),"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT nodes.node,"
            f" COALESCE(ar.r, 0)::BIGINT AS auth"
            f" FROM nodes LEFT JOIN ar{i} ar ON ar.node = nodes.node),"
        )
    parts.append(
        f"fin AS (SELECT a.node, a.auth, h.hub"
        f" FROM a{iters} a JOIN h{iters} h ON h.node = a.node)"
    )
    parts.append("SELECT node, auth, hub FROM fin")
    return "\n".join(parts)


SPAM_MASS_SCALE = 10**9  # rank*rank-total products must stay under 2^63


def spam_mass(
    edges: DataFrame,
    seeds: list[int],
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = SPAM_MASS_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Relative spam mass (Gyongyi, Berkhin, Garcia-Molina & Pedersen,
    'Link Spam Detection Based on Mass Estimation', VLDB 2006): the
    fraction of a node's PageRank that does NOT flow from the trusted
    core — the actionable per-node output of the PageRank/TrustRank
    pair this repo already grades. A page whose rank is high but whose
    trust-scaled rank is low earns its position from spam-farm links;
    the crawl scheduler demotes it before spending fetch budget.

    Integer semantics (mirrored exactly by :func:`spam_mass_oracle_sql`):

    * ``pr`` = :func:`pagerank`, ``tr`` = :func:`trustrank`, both at
      ``scale`` mass units (10^9 here, NOT the 10^12 default: the
      cross-normalization below multiplies two rank sums, and
      scale^2 must stay under 2^63);
    * TrustRank mass is normalized onto the PageRank scale so the two
      are comparable: ``trust_scaled = (tr * total_pr) div total_tr``
      (the paper's core-PageRank estimate);
    * absolute spam mass ``= greatest(pr - trust_scaled, 0)`` —
      clamped at 0 exactly as the paper treats negative mass;
    * ``spam_mass_ppm = (mass * 10^6) div pr`` in parts-per-million
      (pr >= its teleport base > 0, so the division is safe; ppm keeps
      the output integer => bit-identical at any parallelism).

    100 TB shape: the two rank computations share the pagerank cost
    model (2 shuffles/iteration each) and are fully independent, so
    they run on concurrent driver threads — the scheduler interleaves
    their per-iteration jobs (each chain's checkpoints serialize only
    against itself), halving the wall of the rank phase; the combine is
    one join on node plus two 1-row totals that ride a crossJoin
    broadcast — nothing new shuffles at O(corpus).
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pr = pool.submit(
            pagerank, edges, iters=iters, damping=damping, scale=scale,
            src_col=src_col, dst_col=dst_col,
        )
        f_tr = pool.submit(
            trustrank, edges, seeds, iters=iters, damping=damping,
            scale=scale, src_col=src_col, dst_col=dst_col,
        )
        pr, tr = f_pr.result(), f_tr.result()
    tpr = pr.agg(F.sum("rank").alias("_tpr"))
    ttr = tr.agg(F.sum("rank").alias("_ttr"))
    return (
        pr.join(tr.withColumnRenamed("rank", "trank"), "node")
        .crossJoin(tpr)
        .crossJoin(ttr)
        .select(
            "node",
            "rank",
            F.expr("(trank * _tpr) div greatest(_ttr, 1)")
            .cast("long")
            .alias("trust_scaled"),
            F.expr(
                "(greatest(rank - (trank * _tpr) div greatest(_ttr, 1), 0)"
                " * 1000000) div greatest(rank, 1)"
            )
            .cast("long")
            .alias("spam_mass_ppm"),
        )
    )


def spam_mass_oracle_sql(
    edges_cte: str,
    seeds: list[int],
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = SPAM_MASS_SCALE,
) -> str:
    """DuckDB oracle for :func:`spam_mass`: the two unrolled rank
    chains ride as nested-WITH subqueries (DuckDB scopes each chain's
    CTE names inside its subquery), combined by the same integer
    normalization."""
    pr_sql = pagerank_oracle_sql(edges_cte, iters=iters, damping=damping, scale=scale)
    tr_sql = trustrank_oracle_sql(
        edges_cte, seeds, iters=iters, damping=damping, scale=scale
    )
    return "\n".join(
        [
            f"WITH pr AS MATERIALIZED ({pr_sql}),",
            f"tr AS MATERIALIZED ({tr_sql}),",
            "tot AS (SELECT (SELECT SUM(rank) FROM pr) AS tpr,",
            "              (SELECT SUM(rank) FROM tr) AS ttr),",
            "fin AS (SELECT p.node, p.rank,",
            "  ((t.rank * tot.tpr) // greatest(tot.ttr, 1))::BIGINT"
            " AS trust_scaled,",
            "  ((greatest(p.rank - (t.rank * tot.tpr)"
            " // greatest(tot.ttr, 1), 0)"
            " * 1000000) // greatest(p.rank, 1))::BIGINT AS spam_mass_ppm",
            "  FROM pr p JOIN tr t ON t.node = p.node CROSS JOIN tot)",
            "SELECT node, rank, trust_scaled, spam_mass_ppm FROM fin",
        ]
    )


# ---------------------------------------------------------------------------
# Bow-tie decomposition (Broder et al. 2000)
# ---------------------------------------------------------------------------


def _reach(e: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """Depth-capped multi-source reachable SET (node BIGINT) over the
    persisted edge list ``e`` (cols src, dst) from the ``seeds`` frame
    (col node). Same per-level join + anti-join semantics as
    :func:`bfs_depths`, minus depths; early-exits on an empty level.

    Job shape: ONE job per level — the checkpoint carries a ``_new``
    frontier flag (visited ∪ newly-discovered in the same
    materialization) and the emptiness probe rides it as an Observation
    (the run_crawl trick), so the old separate probe job is gone. This
    matters when a caller (bow-tie) runs four deep sweeps back to back."""
    visited = (
        seeds.select("node")
        .distinct()
        .withColumn("_new", F.lit(True))
        .localCheckpoint(eager=True)
    )
    for lvl in range(max_depth):
        frontier = visited.filter("_new").select("node")
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        obs = Observation()
        visited = (
            visited.select("node", F.lit(False).alias("_new"))
            .union(nxt.select("node", F.lit(True).alias("_new")))
            .observe(obs, F.sum(F.col("_new").cast("long")).alias("n_new"))
            .localCheckpoint(eager=True)
        )
        if int(obs.get["n_new"] or 0) == 0:
            break
    return visited.select("node")


def bowtie_components(
    edges: DataFrame,
    pivot: int,
    max_depth: int = 12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bow-tie decomposition of the web graph (Broder et al., 'Graph
    structure in the Web', WWW 2000): classify every node relative to
    the giant strongly-connected component around ``pivot`` —

    * ``SCC``: reaches pivot AND is reached by it (the core);
    * ``IN``: reaches the core but is not reached back (new/obscure
      pages that link in — prime crawl-frontier material);
    * ``OUT``: reached from the core, never links back (link sinks,
      often corporate leaf sites);
    * ``TUBE``: on an IN->OUT path that bypasses the core;
    * ``TENDRIL_IN``: hangs off IN (reachable from IN, reaches
      neither core nor OUT);
    * ``TENDRIL_OUT``: leads into OUT (reaches OUT, unreachable from
      IN or core);
    * ``DISCONNECTED``: none of the above.

    The paper's measurement (each bow-tie region ~a quarter of the
    1999 web) is the canonical capacity argument for frontier
    budgeting: a crawler seeded inside SCC never sees IN without
    outside seeds. ``pivot`` should be a known-core node (e.g. the
    max-PageRank host).

    Semantics are DEPTH-CAPPED reachability (``max_depth`` hops per
    sweep, documented; pick it >= the graph diameter for the exact
    paper decomposition) — pure set algebra, no floats, so the result
    is bit-identical at any parallelism and exactly oracle-checkable
    via :func:`bowtie_oracle_sql`'s four unrolled reach chains.

    100 TB shape: four multi-source BFS sweeps (forward/backward from
    pivot, forward from IN, backward from OUT), each level one
    shuffled-hash join + one anti-join against the visited set — the
    production crawl-round shape. The final classification is one
    six-way left-join flag projection, no collect anywhere. The two
    pivot sweeps are independent (so are the two tendril sweeps), so
    each pair runs on concurrent driver threads against the shared
    persisted edge list — Spark's scheduler interleaves their per-level
    jobs, overlapping the scheduling latency that dominates deep sweeps
    (and on a real cluster, overlapping their stage barriers).
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = edges.sparkSession
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    nodes.count()
    piv = spark.createDataFrame([(int(pivot),)], "node long")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fwd = pool.submit(_reach, e, piv, max_depth)
        f_bwd = pool.submit(_reach, rev, piv, max_depth)
        fwd, bwd = f_fwd.result(), f_bwd.result()
    scc = fwd.join(bwd, "node").select("node").persist()
    in_set = bwd.join(scc, "node", "left_anti").persist()
    out_set = fwd.join(scc, "node", "left_anti").persist()
    # materialize the seed sets before the concurrent tendril sweeps so
    # neither thread races the other into computing scc's cache fill
    in_set.count()
    out_set.count()
    core = scc.union(in_set).union(out_set)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_tfi = pool.submit(_reach, e, in_set, max_depth)
        f_tto = pool.submit(_reach, rev, out_set, max_depth)
        t_from_in = f_tfi.result().join(core, "node", "left_anti")
        t_to_out = f_tto.result().join(core, "node", "left_anti")
    flag = lambda s, name: s.select(  # noqa: E731
        "node", F.lit(True).alias(name)
    )
    out = (
        nodes.join(flag(scc, "_scc"), "node", "left")
        .join(flag(in_set, "_in"), "node", "left")
        .join(flag(out_set, "_out"), "node", "left")
        .join(flag(t_from_in, "_tfi"), "node", "left")
        .join(flag(t_to_out, "_tto"), "node", "left")
        .select(
            "node",
            F.when(F.col("_scc"), "SCC")
            .when(F.col("_in"), "IN")
            .when(F.col("_out"), "OUT")
            .when(F.col("_tfi") & F.col("_tto"), "TUBE")
            .when(F.col("_tfi"), "TENDRIL_IN")
            .when(F.col("_tto"), "TENDRIL_OUT")
            .otherwise("DISCONNECTED")
            .alias("component"),
        )
    )
    out = out.localCheckpoint(eager=True)
    for df in (e, nodes, scc, in_set, out_set):
        df.unpersist()
    return out


def _reach_chain_sql(
    prefix: str, edge_rel: str, seed_sql: str, max_depth: int
) -> list[str]:
    """Emit an unrolled depth-capped reachable-set chain: CTEs
    ``{prefix}v{d}`` / ``{prefix}f{d}``; the final set is
    ``{prefix}v{max_depth}``. MATERIALIZED: each level is referenced
    twice (frontier join + NOT IN), which would otherwise re-inline
    exponentially."""
    parts = [
        f"{prefix}v0 AS MATERIALIZED (SELECT DISTINCT node FROM ({seed_sql})),",
        f"{prefix}f0 AS MATERIALIZED (SELECT node FROM {prefix}v0),",
    ]
    for d in range(1, max_depth + 1):
        parts.append(
            f"{prefix}f{d} AS MATERIALIZED (SELECT DISTINCT e.dst AS node"
            f" FROM {edge_rel} e JOIN {prefix}f{d - 1} f ON e.src = f.node"
            f" WHERE e.dst NOT IN (SELECT node FROM {prefix}v{d - 1})),"
        )
        parts.append(
            f"{prefix}v{d} AS MATERIALIZED (SELECT node FROM {prefix}v{d - 1}"
            f" UNION SELECT node FROM {prefix}f{d}),"
        )
    return parts


def bowtie_oracle_sql(
    edges_cte: str, pivot: int, max_depth: int = 12
) -> str:
    """DuckDB oracle for :func:`bowtie_components`: four unrolled reach
    chains + the same six-way precedence classification."""
    parts = [
        f"WITH e0 AS MATERIALIZED ({edges_cte}),",
        "e1 AS MATERIALIZED"
        " (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "erev AS MATERIALIZED (SELECT dst AS src, src AS dst FROM e1),",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM e1 UNION SELECT dst FROM e1),",
    ]
    piv = f"SELECT {int(pivot)}::BIGINT AS node"
    parts += _reach_chain_sql("fw", "e1", piv, max_depth)
    parts += _reach_chain_sql("bw", "erev", piv, max_depth)
    last = f"v{max_depth}"
    parts += [
        f"scc AS MATERIALIZED (SELECT node FROM fw{last}"
        f" INTERSECT SELECT node FROM bw{last}),",
        f"inset AS MATERIALIZED (SELECT node FROM bw{last}"
        " EXCEPT SELECT node FROM scc),",
        f"outset AS MATERIALIZED (SELECT node FROM fw{last}"
        " EXCEPT SELECT node FROM scc),",
        "core AS MATERIALIZED (SELECT node FROM scc"
        " UNION SELECT node FROM inset UNION SELECT node FROM outset),",
    ]
    parts += _reach_chain_sql("ti", "e1", "SELECT node FROM inset", max_depth)
    parts += _reach_chain_sql("to", "erev", "SELECT node FROM outset", max_depth)
    parts += [
        f"tfi AS MATERIALIZED (SELECT node FROM ti{last}"
        " EXCEPT SELECT node FROM core),",
        f"tto AS MATERIALIZED (SELECT node FROM to{last}"
        " EXCEPT SELECT node FROM core),",
        "fin AS (SELECT n.node,",
        "  CASE WHEN n.node IN (SELECT node FROM scc) THEN 'SCC'",
        "       WHEN n.node IN (SELECT node FROM inset) THEN 'IN'",
        "       WHEN n.node IN (SELECT node FROM outset) THEN 'OUT'",
        "       WHEN n.node IN (SELECT node FROM tfi)",
        "            AND n.node IN (SELECT node FROM tto) THEN 'TUBE'",
        "       WHEN n.node IN (SELECT node FROM tfi) THEN 'TENDRIL_IN'",
        "       WHEN n.node IN (SELECT node FROM tto) THEN 'TENDRIL_OUT'",
        "       ELSE 'DISCONNECTED' END AS component",
        "  FROM nodes n)",
        "SELECT node, component FROM fin",
    ]
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# HyperBall (Boldi & Vigna 2013)
# ---------------------------------------------------------------------------


def hyperball(
    edges: DataFrame,
    iters: int = 4,
    b: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HyperBall (Boldi & Vigna, 'In-Core Computation of Geometric
    Centralities with HyperBall', ICDM workshops 2013; the algorithm
    behind the "four degrees of separation" Facebook measurement): the
    neighborhood function N(v, t) = |ball(v, t)| for every node at
    every radius t = 0..``iters``, estimated by one HyperLogLog counter
    per node that absorbs its out-neighbors' counters each round —
    ball(v, t) = {v} ∪ ⋃_{v→w} ball(w, t-1).

    The crawl use: N(v, t) growth curves ARE the reachability profile a
    frontier scheduler budgets by (how much of the web a seed opens up
    within t hops), and summing over v gives the graph's distance
    distribution / effective diameter — the Broder bow-tie's
    quantitative twin.

    Integer portability: counters are the md5-portable register tables
    of :mod:`sketches` (bucket = top ``b`` bits of a 32-bit md5, rank =
    first-set-bit position) and the merge is MAX per (node, bucket) —
    associative, commutative, idempotent — so every level's register
    state is bit-identical at any parallelism and in DuckDB
    (:func:`hyperball_oracle_sql` unrolls the same merges). The
    ``est_ball`` double derives from the integer ``z_scaled`` by one
    fixed expression, the same bit-portable pattern
    ``sketches.hll_estimate`` grades.

    Output: (node, t, buckets_hit, z_scaled, est_ball) for every node
    and every t in 0..iters.

    100 TB shape: per round, ONE shuffled-hash join of the persisted
    edge list against the current register table plus one
    groupBy(node, bucket).max with map-side combine — shuffled bytes
    ~ (E + N·m) rows of three ints per round with m = 2^b = 16, which
    is exactly the HyperBall cost model (counters stream along edges;
    nothing is ever O(ball size)). A mega-hub's in-edges all carry the
    same 16 register rows and combine map-side. ``localCheckpoint``
    per round keeps the plan O(1) in t; no driver state.
    """
    from .dedup import md5_32_col
    from .sketches import hll_estimate

    p = 32 - b
    pmax = p + 1
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = F.col("_h")
    w = h % (1 << p)
    regs = (
        nodes.select(
            "node", md5_32_col(F.col("node").cast("string")).alias("_h")
        )
        .select(
            "node",
            F.expr(f"_h div {1 << p}").cast("int").alias("bucket"),
            F.when(w == 0, F.lit(pmax))
            .otherwise(F.lit(pmax) - F.length(F.bin(w)))
            .cast("int")
            .alias("max_rank"),
        )
        .localCheckpoint(eager=True)
    )

    def _level_est(r: DataFrame, t: int) -> DataFrame:
        return hll_estimate(r, ["node"], b=b).select(
            "node",
            F.lit(t).cast("int").alias("t"),
            "buckets_hit",
            "z_scaled",
            F.col("est_hll").alias("est_ball"),
        )

    out = _level_est(regs, 0)
    for t in range(1, iters + 1):
        merged = (
            e.join(regs, e.dst == regs.node)
            .select(e.src.alias("node"), "bucket", "max_rank")
            .unionByName(regs)
            .groupBy("node", "bucket")
            .agg(F.max("max_rank").cast("int").alias("max_rank"))
            .localCheckpoint(eager=True)
        )
        regs = merged
        out = out.unionByName(_level_est(regs, t))
    e.unpersist()
    return out


def hyperball_oracle_sql(edges_cte: str, iters: int = 4, b: int = 4) -> str:
    """DuckDB oracle for :func:`hyperball`: unrolled register merges —
    each level one join + UNION ALL + GROUP BY MAX over the previous
    level's MATERIALIZED register table — then the per-level estimate
    aggregation of ``sketches.hll_oracle_sql``."""
    from .sketches import _alpha

    m = 1 << b
    p = 32 - b
    pmax = p + 1
    alpha = _alpha(m)
    parts = [
        f"WITH e0 AS MATERIALIZED ({edges_cte}),",
        "e1 AS MATERIALIZED"
        " (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM e1 UNION SELECT dst FROM e1),",
        "h0 AS (SELECT node,"
        " ('0x' || substr(md5(node::VARCHAR), 1, 8))::BIGINT AS h"
        " FROM nodes),",
        f"r0 AS MATERIALIZED (SELECT node, (h // {1 << p})::INT AS bucket,"
        f" (CASE WHEN h % {1 << p} = 0 THEN {pmax}"
        f" ELSE {pmax} - length(bin(h % {1 << p})) END)::INT AS max_rank"
        " FROM h0),",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"r{t} AS MATERIALIZED (SELECT node, bucket,"
            " MAX(max_rank)::INT AS max_rank FROM ("
            f" SELECT e1.src AS node, r.bucket, r.max_rank"
            f" FROM e1 JOIN r{t - 1} r ON r.node = e1.dst"
            f" UNION ALL SELECT node, bucket, max_rank FROM r{t - 1}"
            ") GROUP BY node, bucket),"
        )
    ests = []
    for t in range(iters + 1):
        ests.append(
            f"SELECT node, {t}::INT AS t, COUNT(*)::INT AS buckets_hit,"
            f" (SUM(CAST(pow(2, {pmax} - max_rank) AS BIGINT))"
            f" + ({m} - COUNT(*))::BIGINT * {1 << pmax})::BIGINT AS z_scaled,"
            f" {alpha * m * m * float(1 << pmax)!r}"
            f" / ((SUM(CAST(pow(2, {pmax} - max_rank) AS BIGINT))"
            f" + ({m} - COUNT(*))::BIGINT * {1 << pmax})::DOUBLE) AS est_ball"
            f" FROM r{t} GROUP BY node"
        )
    body = "\nUNION ALL\n".join(ests)
    parts.append(f"fin AS ({body})")
    return "\n".join(parts) + "\nSELECT node, t, buckets_hit, z_scaled, est_ball FROM fin"


def harmonic_centrality(
    edges: DataFrame,
    iters: int = 4,
    b: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Harmonic centrality via HyperBall (Boldi & Vigna 2013 — the
    centrality the algorithm was built to compute, and the one their
    'Axioms for Centrality' paper argues is the RIGHT one for the web:
    unlike closeness it handles unreachable pairs gracefully):

        H(v) = sum_{t=1..T} (1/t) * (|ball(v,t)| - |ball(v,t-1)|)

    i.e. every node first reached at distance t contributes 1/t,
    estimated from the per-radius HLL ball cardinalities. Depth-capped
    at ``iters`` (documented; pick >= diameter for the full sum).

    FP portability: ball estimates are the bit-portable doubles of
    :func:`hyperball`; the telescoping fold runs in ascending-t order
    on both sides (strict left fold), rounded to 6 decimals — the same
    discipline as the BM25 family.

    Output: (node, centrality DOUBLE).

    100 TB shape: exactly :func:`hyperball`'s cost (it IS hyperball's
    register chain) plus one per-node fold over T+1 rows.
    """
    balls = hyperball(edges, iters=iters, b=b, src_col=src_col, dst_col=dst_col)
    return (
        balls.groupBy("node")
        .agg(F.collect_list(F.struct("t", "est_ball")).alias("_bs"))
        .select(
            "node",
            F.round(
                F.aggregate(
                    F.array_sort("_bs"),
                    F.struct(
                        F.lit(0.0).alias("acc"), F.lit(0.0).alias("prev")
                    ),
                    lambda s, x: F.struct(
                        F.when(
                            x["t"] > 0,
                            s["acc"]
                            + (x["est_ball"] - s["prev"])
                            / x["t"].cast("double"),
                        )
                        .otherwise(s["acc"])
                        .alias("acc"),
                        x["est_ball"].alias("prev"),
                    ),
                    lambda s: s["acc"],
                ),
                6,
            ).alias("centrality"),
        )
    )


def harmonic_centrality_oracle_sql(
    edges_cte: str, iters: int = 4, b: int = 4
) -> str:
    """DuckDB oracle for :func:`harmonic_centrality`: the full
    :func:`hyperball_oracle_sql` register chains + per-level estimates,
    then the same ascending-t telescoping fold (list_reduce over
    (t, est) pairs ORDER BY t, struct accumulator mirrored as a
    2-element list [acc, prev])."""
    hb = hyperball_oracle_sql(edges_cte, iters=iters, b=b)
    # reuse the hyperball oracle as a subquery — everything up to `fin`
    return (
        "WITH hb AS MATERIALIZED (\n"
        + hb
        + """
    )
    SELECT node,
           round(list_reduce(
             list_prepend([0.0, 0.0],
                          list((CASE WHEN t > 0
                                     THEN [t::DOUBLE, est_ball]
                                     ELSE [0.0, est_ball] END)
                               ORDER BY t)),
             (s, x) -> [CASE WHEN x[1] > 0.0
                             THEN s[1] + (x[2] - s[2]) / x[1]
                             ELSE s[1] END,
                        x[2]])[1], 6) AS centrality
    FROM hb GROUP BY node
    """
    )


#: fixed-point scale for portable cross-node sums of per-node ball
#: estimates: floor(est * 2^20) per node makes the corpus-wide reduction
#: an associative BIGINT sum (order-free at any parallelism) while
#: keeping ~1e-6 relative precision
_DIST_SCALE = 1 << 20


def distance_distribution(
    edges: DataFrame,
    iters: int = 4,
    b: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """The graph's distance distribution / effective diameter via
    HyperBall (Boldi & Vigna 2013; the measurement behind Backstrom et
    al.'s 'Four Degrees of Separation', WebSci 2012): the neighborhood
    function N(t) = Σ_v |ball(v,t)| — the number of reachable pairs
    within distance t — per radius, plus the cumulative fraction of
    N(T) in ppm; the effective diameter d_eff(0.9) is the smallest t
    whose flag is true.

    Portability at scale: per-node estimates are HyperBall's
    bit-portable doubles; summing doubles across 10^10 nodes is
    order-dependent, so each node contributes floor(est · 2^20) — an
    integer — and the corpus-wide reduction becomes an associative
    BIGINT sum, bit-identical at any parallelism and in DuckDB
    (:func:`distance_distribution_oracle_sql`). The ppm column is pure
    integer arithmetic on those sums.

    Output: (t, reach_scaled BIGINT, cum_ppm BIGINT,
    at_or_past_p90 BOOLEAN) — one row per radius 0..iters.

    100 TB shape: hyperball's chain + one map-side-combined
    groupBy(t).sum over N·(T+1) rows; the T+1-row result joins its own
    1-row total via a broadcast. Nothing is collected.
    """
    balls = hyperball(edges, iters=iters, b=b, src_col=src_col, dst_col=dst_col)
    per_t = (
        balls.select(
            "t",
            F.floor(F.col("est_ball") * F.lit(float(_DIST_SCALE)))
            .cast("long")
            .alias("es"),
        )
        .groupBy("t")
        .agg(F.sum("es").alias("reach_scaled"))
    )
    total = per_t.agg(F.max("reach_scaled").alias("_tot"))
    return (
        per_t.crossJoin(F.broadcast(total))
        .select(
            "t",
            "reach_scaled",
            F.expr("(reach_scaled * 1000000) div greatest(_tot, 1)")
            .cast("long")
            .alias("cum_ppm"),
            (
                F.expr("(reach_scaled * 1000000) div greatest(_tot, 1)")
                >= F.lit(900000)
            ).alias("at_or_past_p90"),
        )
        .orderBy("t")
    )


def distance_distribution_oracle_sql(
    edges_cte: str, iters: int = 4, b: int = 4
) -> str:
    """DuckDB oracle for :func:`distance_distribution`: the hyperball
    chains, then the same floor-scaled integer sum per radius and ppm
    arithmetic. N(t) is monotone in t (registers only grow), so
    max(reach_scaled) == reach_scaled at t=T on both sides."""
    hb = hyperball_oracle_sql(edges_cte, iters=iters, b=b)
    return (
        "WITH hb AS MATERIALIZED (\n"
        + hb
        + f"""
    ),
    per_t AS (
      SELECT t,
             SUM(floor(est_ball * {float(_DIST_SCALE)!r})::BIGINT)::BIGINT
               AS reach_scaled
      FROM hb GROUP BY t
    ),
    tot AS (SELECT MAX(reach_scaled) AS m FROM per_t)
    SELECT t, reach_scaled,
           ((reach_scaled * 1000000) // greatest(tot.m, 1))::BIGINT AS cum_ppm,
           ((reach_scaled * 1000000) // greatest(tot.m, 1)) >= 900000
             AS at_or_past_p90
    FROM per_t CROSS JOIN tot
    ORDER BY t
    """
    )


def webgraph_gap_encode(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-source gap encoding of adjacency lists with varint size
    accounting — the storage layout every serious web-graph store uses
    (Boldi & Vigna, WWW 2004: successor lists sorted and delta-encoded
    compress the web's locality to ~3 bits/link; this is the gap+varint
    core of that design, without the bit-level zeta codes). For each
    source: successors sorted ascending, each stored as its gap from the
    previous one (first gap = the successor itself), and the byte cost
    accounted as LEB128-style varints against 8-byte raw ids.

    Exactness: the byte classes are integer CASE thresholds (2^7, 2^14,
    2^21, 2^28) — no log2, whose FP behavior at power-of-two boundaries
    is libm-specific — so everything is integer until the final
    round(6) ratio. The gap sequence rides a lag window partitioned by
    source (per-source bounded state), and the serialized string
    aggregates in dst order on both engines.

    100 TB shape: one shuffle on src (the window + the groupBy share
    it), per-source work linear in out-degree, no corpus-sized state.
    Reference analogue: the crawler stores raw neighbor lists per node
    (crawler/db/mysql.go:339-358); this is what those become at
    10^10-URL scale.

    Output: (src, degree, gaps, raw_bytes, varint_bytes, ratio) — gaps
    is the comma-joined gap sequence, ratio = varint_bytes/raw_bytes.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    w = Window.partitionBy("src").orderBy("dst")
    g = e.withColumn(
        "gap", (F.col("dst") - F.lag("dst", 1, 0).over(w)).cast("long")
    )
    vb = (
        F.when(F.col("gap") < (1 << 7), 1)
        .when(F.col("gap") < (1 << 14), 2)
        .when(F.col("gap") < (1 << 21), 3)
        .when(F.col("gap") < (1 << 28), 4)
        .otherwise(5)
        .cast("long")
    )
    agg = g.groupBy("src").agg(
        F.count("*").cast("long").alias("degree"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dst", "gap"))),
                lambda x: x["gap"].cast("string"),
            ),
            ",",
        ).alias("gaps"),
        F.sum(vb).cast("long").alias("varint_bytes"),
    )
    return agg.select(
        "src",
        "degree",
        "gaps",
        (F.col("degree") * F.lit(8)).cast("long").alias("raw_bytes"),
        "varint_bytes",
        F.round(
            F.col("varint_bytes").cast("double")
            / (F.col("degree") * F.lit(8.0)),
            6,
        ).alias("ratio"),
    )


def webgraph_gap_encode_oracle_sql(edges_cte: str) -> str:
    """DuckDB oracle for :func:`webgraph_gap_encode` — the same lag
    window over distinct sorted successors, the same integer varint
    CASE, and string_agg in dst order."""
    return rf"""
    WITH edges0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM ({edges_cte})
    ),
    gaps AS (
      SELECT src, dst,
             (dst - lag(dst, 1, 0) OVER (PARTITION BY src ORDER BY dst))
               ::BIGINT AS gap
      FROM edges0
    ),
    agg AS (
      SELECT src,
             COUNT(*)::BIGINT AS degree,
             string_agg(gap::VARCHAR, ',' ORDER BY dst) AS gaps,
             SUM(CASE WHEN gap < 128 THEN 1
                      WHEN gap < 16384 THEN 2
                      WHEN gap < 2097152 THEN 3
                      WHEN gap < 268435456 THEN 4
                      ELSE 5 END)::BIGINT AS varint_bytes
      FROM gaps GROUP BY src
    )
    SELECT src, degree, gaps,
           (degree * 8)::BIGINT AS raw_bytes,
           varint_bytes,
           round(varint_bytes::DOUBLE / (degree * 8.0), 6) AS ratio
    FROM agg
    """


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = DEFAULT_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Fixed-point integer Personalized PageRank (Page et al. 1999 §6;
    Haveliwala, WWW 2002 "Topic-sensitive PageRank"): :func:`pagerank`
    with ALL teleport mass restricted to a seed set — rank becomes
    proximity-to-the-seeds instead of global importance. This is the
    authority signal a focused crawler wants (Chakrabarti et al. 1999):
    seed the topic hubs, PPR the discovered host graph, and the frontier
    dequeue prioritizes hosts reachable from (hence topically near) the
    seeds — complementing the NB-classifier priority
    (:mod:`..operators.classifier`) with a pure link-structure one.

    Same integer-mass discipline as :func:`pagerank` (documented there;
    bit-identical at any shuffle parallelism, exact-oracle graded):

    * only seeds hold initial mass: ``init = scale div |seeds|`` each,
      every other node starts at 0;
    * per iteration every node receives its in-edge contributions
      ``(num * r_src) div (den * out_deg)``; only seeds receive the
      teleport term ``((den - num) * init) div den``;
    * dangling mass is dropped, division truncation leaks bounded mass
      — totals drift below ``scale``, fine for ranking;
    * nodes unreachable from the seed set converge to rank 0 — the
      defining PPR property (global pagerank gives everyone base mass).

    100 TB shape: identical to :func:`pagerank` — the degree-folded edge
    list shuffles once and persists, each iteration is one shuffled-hash
    join + one map-side-combined groupBy(dst), lineage truncated per
    iteration. The seed set is a driver-side literal (focused-crawl seed
    lists are 10-10^4 hosts), compiled into an ``isin`` predicate — no
    extra join, no broadcast table.

    Returns (node BIGINT, rank BIGINT) for every node in the graph.
    """
    num, den = damping
    if not (0 < num < den):
        raise ValueError(f"damping must satisfy 0 < num < den, got {damping}")
    if not seeds:
        raise ValueError("personalized_pagerank requires >= 1 seed")
    seeds = sorted({int(s) for s in seeds})
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ew = e.join(
        e.groupBy("src").agg(F.count("*").alias("deg")), "src"
    ).persist()
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    nodes.count()
    init = scale // len(seeds)
    base = ((den - num) * init) // den
    is_seed = F.col("node").isin(seeds)
    # Sparse iteration state (same argument as pagerank/trustrank):
    # rank(x) = seed_base(x) + coalesce(s(x), 0) after iteration 1; the
    # per-iteration completion against the dense node set was pure
    # overhead. Bit-identical integer values.
    seed_list = ", ".join(map(str, seeds))
    s = None
    for i in range(iters):
        if s is None:
            # iteration 1: only seeds hold mass
            contrib = ew.filter(F.col("src").isin(seeds)).select(
                F.col("dst"),
                F.expr(f"({num}L * {init}L) div ({den} * deg)").alias("c"),
            )
        else:
            rank_sql = (
                f"(case when src in ({seed_list})"
                f" then {base}L else 0L end + coalesce(s, 0L))"
            )
            contrib = ew.join(s, ew.src == s.node, "left").select(
                F.col("dst"),
                F.expr(f"({num}L * {rank_sql}) div ({den} * deg)").alias("c"),
            )
        s = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").cast("long").alias("s")
        )
        if truncate_lineage:
            s = s.localCheckpoint(eager=True)
    if s is None:  # iters == 0: the seed-gated init state
        ranks = nodes.select(
            "node",
            F.when(is_seed, F.lit(init)).otherwise(F.lit(0))
            .cast("long")
            .alias("rank"),
        )
    else:
        ranks = nodes.join(s, "node", "left").select(
            "node",
            (
                F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
                + F.coalesce(F.col("s"), F.lit(0))
            )
            .cast("long")
            .alias("rank"),
        )
        if truncate_lineage:
            ranks = ranks.localCheckpoint(eager=True)
    ew.unpersist()
    nodes.unpersist()
    return ranks


def personalized_pagerank_oracle_sql(
    edges_cte: str,
    seeds: list[int],
    iters: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = DEFAULT_SCALE,
) -> str:
    """DuckDB oracle for :func:`personalized_pagerank` — the same
    unrolled join-agg CTE chain as :func:`pagerank_oracle_sql` with the
    init and teleport terms gated on seed membership."""
    num, den = damping
    seeds = sorted({int(s) for s in seeds})
    init = scale // len(seeds)
    base = ((den - num) * init) // den
    seed_list = ", ".join(str(s) for s in seeds)
    parts = [
        f"WITH e0 AS ({edges_cte}),",
        "e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),",
        "ew AS (SELECT src, dst,"
        " COUNT(*) OVER (PARTITION BY src) AS deg FROM e1),",
        "nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),",
        f"r0 AS (SELECT node, CASE WHEN node IN ({seed_list})"
        f" THEN {init} ELSE 0 END::BIGINT AS rank FROM nodes),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT ew.dst AS node,"
            f" SUM(({num} * r.rank) // ({den} * ew.deg)) AS s"
            f" FROM ew JOIN r{i - 1} r ON ew.src = r.node GROUP BY ew.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node,"
            f" (CASE WHEN nodes.node IN ({seed_list}) THEN {base}"
            f" ELSE 0 END + COALESCE(c.s, 0))::BIGINT AS rank"
            f" FROM nodes LEFT JOIN c{i} c ON c.node = nodes.node),"
        )
    parts.append(f"fin AS (SELECT * FROM r{iters})")
    parts.append("SELECT node, rank FROM fin")
    return "\n".join(parts)


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient of the directed link graph
    (Newman, PRL 2002 "Assortative mixing in networks"): the Pearson
    correlation between out-degree(src) and in-degree(dst) over edges —
    the one-number structural signature separating social graphs
    (assortative, r > 0) from the web (disassortative, r < 0: hubs
    link to low-degree pages). A crawl monitors it per snapshot: a
    sudden assortativity jump flags link-farm growth (farms wire hubs
    to hubs).

    Exactness: all five moment sums (Sx, Sy, Sxy, Sxx, Syy) and m are
    BIGINT over integer degrees — associative, bit-identical at any
    parallelism; the single FP step is the final Pearson expression,
    computed identically on both engines from the six exact integers
    and rounded to 6 decimals.

    Output: one row (m, r) — edge count and the coefficient (r = 0.0
    reported when either variance term is zero).

    100 TB shape: two map-side-combined degree aggregates folded onto
    the edge list (the same degree-join every other graph operator
    here pays), then ONE global aggregate of six integer sums — no
    window, no driver state, nothing O(nodes) on a key.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    outd = e.groupBy("src").agg(F.count("*").alias("x"))
    ind = e.groupBy("dst").agg(F.count("*").alias("y"))
    ej = e.join(outd, "src").join(ind, "dst")
    s = ej.groupBy().agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "m",
        F.when((vx == 0) | (vy == 0), F.lit(0.0))
        .otherwise(
            F.round(
                num.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            )
        )
        .alias("r"),
    )


def assortativity_oracle_sql(edges_cte: str) -> str:
    """DuckDB oracle for :func:`degree_assortativity` — same integer
    moment sums, same final Pearson expression and rounding."""
    return f"""
    WITH e0 AS ({edges_cte}),
    e AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
    outd AS (SELECT src, COUNT(*)::BIGINT AS x FROM e GROUP BY src),
    ind AS (SELECT dst, COUNT(*)::BIGINT AS y FROM e GROUP BY dst),
    ej AS (
      SELECT o.x, i.y FROM e
      JOIN outd o ON o.src = e.src JOIN ind i ON i.dst = e.dst
    ),
    s AS (
      SELECT COUNT(*)::BIGINT AS m, SUM(x)::BIGINT AS sx,
             SUM(y)::BIGINT AS sy, SUM(x * y)::BIGINT AS sxy,
             SUM(x * x)::BIGINT AS sxx, SUM(y * y)::BIGINT AS syy
      FROM ej
    )
    SELECT m,
           CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0
                THEN 0.0
                ELSE round((m * sxy - sx * sy)::DOUBLE
                     / (sqrt((m * sxx - sx * sx)::DOUBLE)
                        * sqrt((m * syy - sy * sy)::DOUBLE)), 6)
           END AS r
    FROM s
    """
