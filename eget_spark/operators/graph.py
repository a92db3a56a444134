"""Link-graph analytics: PageRank frontier priorities + degree stats.

Training-data-pipeline extension (not a reference operator): the north-star
design calls for "BFS/**priority** frontier expansion"; the reference's
priority is implicit FIFO (queue_manager.py:34-44).  At web scale the
standard priority signal is link-graph centrality — this module computes
fixed-iteration PageRank over the crawl's (src, dst) edge set so a priority
crawl can order each host's politeness budget by rank
(``schedule_round(..., order_cols=[F.desc("priority"), "seq"])``).

Scale shape (the only one that survives 10^10 edges):
- each iteration is ONE shuffle-join of edges against the current rank
  vector on ``src`` plus ONE hash aggregation on ``dst`` — the Pregel
  message-passing step in DataFrame form, map-side partial sums included;
- ranks are eagerly ``localCheckpoint``-ed per iteration so plan lineage
  stays O(1) in the iteration count (the same discipline as the crawl
  loop's per-round checkpoint);
- dangling mass (nodes with no out-links — the majority of a real web
  frontier's leaves) is redistributed via a 1-row broadcast cross join,
  never a driver ``collect`` in the loop;
- determinism: the float variant rounds each iteration (reproducible
  across partitionings in one engine); ``pagerank_fixed`` goes further —
  pure int64 arithmetic, bit-exact across engines and summation orders
  (decimal rounding alone cannot pin ties created by dividing grid values
  by small out-degrees; integer floor division has no ties).

On a real cluster, pre-partition ``edges`` by ``src`` (bucketed table) so
the per-iteration join reuses one exchange; AQE handles in-degree skew
(celebrity pages) by splitting oversized reduce partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import scoped_conf


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, out_deg) — parallel edges count individually."""
    return edges.groupBy("src").agg(F.count("*").alias("out_deg"))


def in_degree_histogram(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(in_deg, n_nodes): distribution of in-degrees over ``nodes`` (id),
    including zero-in-degree nodes — the shape used to spot hub skew before
    a crawl (a heavy tail means the politeness window needs salting)."""
    deg = edges.groupBy("dst").agg(F.count("*").alias("in_deg"))
    per_node = nodes.join(deg, nodes["id"] == deg["dst"], "left").select(
        F.coalesce(F.col("in_deg"), F.lit(0)).alias("in_deg")
    )
    return per_node.groupBy("in_deg").agg(F.count("*").alias("n_nodes"))


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    round_decimals: int = 12,
) -> DataFrame:
    """Fixed-iteration PageRank.

    ``nodes``: one column ``id``; ``edges``: (src, dst), parallel edges
    allowed (each carries 1/out_deg of its source's rank, like repeated
    links on a page).  Returns (id, pr) after ``n_iter`` synchronous
    iterations from the uniform vector, pr rounded to ``round_decimals``
    each iteration (determinism contract above).
    """
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("pr"))
    deg = out_degrees(edges).localCheckpoint()  # computed once, reused per iter
    base = (1.0 - damping) / n
    ranks = nodes.select("id", F.lit(1.0 / n).alias("pr")).localCheckpoint()
    for _ in range(n_iter):
        with_deg = ranks.join(deg, ranks["id"] == deg["src"], "left")
        # dangling nodes: no out-edges -> rank leaks; redistribute uniformly
        dangling = with_deg.where(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dang")
        )
        contrib = (
            with_deg.where(F.col("out_deg").isNotNull())
            .join(edges, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("out_deg")).alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("_dang") / n),
                    round_decimals,
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks


def hits_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 4,
) -> DataFrame:
    """Fixed-iteration integer HITS (Kleinberg hubs & authorities) — the
    other classic frontier-priority signal next to :func:`pagerank_fixed`
    (hubs = index pages worth re-crawling for links, authorities = content
    pages worth fetching first).

    Pure unnormalized integer arithmetic from the all-ones hub vector:
    ``a_k(v) = sum(h_{k-1}(u) for (u,v) in E)``, ``h_k(u) = sum(a_k(v)
    for (u,v) in E)`` — sums of int64 are order-independent, so the result
    is bit-exact across partitionings and engines with NO normalization
    step (ranking is scale-invariant; a cross-engine-safe normalizer would
    need 128-bit division).  Values grow ~(max_in_deg * max_out_deg) per
    iteration, i.e. up to degree^(2*n_iter) on a dense bipartite core —
    at the default n_iter=4 that is d^8, which stays inside int64 only
    for max degree ~220 (220^8 ≈ 5.5e18 < 2^63; a 1000-degree link farm
    OVERFLOWS during iteration 4: ANSI mode throws, non-ANSI wraps).
    Callers at web scale either lower n_iter (d<=2600 at 3, d<=4e4 at 2)
    or right-shift both vectors by a fixed power of two per iteration
    (also deterministic) before dense cores saturate.

    Per iteration: one join + hash-agg per half-step (edges against the
    current vector, map-side partial sums), ranks localCheckpoint-ed so
    lineage stays O(1) — the same scale shape as pagerank_fixed.

    Returns (id, auth_fp, hub_fp).
    """
    hubs = nodes.select("id", F.lit(1).cast("long").alias("h")).localCheckpoint()
    auths = nodes.select("id", F.lit(0).cast("long").alias("a"))
    for _ in range(n_iter):
        a_sum = (
            edges.join(hubs, edges["src"] == hubs["id"])
            .groupBy("dst")
            .agg(F.sum("h").alias("_a"))
        )
        auths = (
            nodes.join(a_sum, nodes["id"] == a_sum["dst"], "left")
            .select(
                "id", F.coalesce(F.col("_a"), F.lit(0)).cast("long").alias("a")
            )
            .localCheckpoint()
        )
        h_sum = (
            edges.join(auths, edges["dst"] == auths["id"])
            .groupBy("src")
            .agg(F.sum("a").alias("_h"))
        )
        hubs = (
            nodes.join(h_sum, nodes["id"] == h_sum["src"], "left")
            .select(
                "id", F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("h")
            )
            .localCheckpoint()
        )
    return (
        nodes.join(auths, "id", "left")
        .join(hubs, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("a"), F.lit(0)).alias("auth_fp"),
            F.coalesce(F.col("h"), F.lit(0)).alias("hub_fp"),
        )
    )


def trustrank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 5,
    damp_num: int = 17,
    damp_den: int = 20,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-point TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB 2004):
    PageRank personalized on a trusted seed set — teleport (and dangling
    mass) goes ONLY to ``seeds``, so trust flows outward along links and
    pages unreachable from any seed converge to 0.  The standard
    link-spam demotion signal for frontier prioritization: a page with
    high in-degree but near-zero TrustRank is the link-farm shape, and a
    priority crawl orders its politeness budget by ``tr_fp`` instead of
    (or blended with) raw PageRank.

    Same integer discipline as :func:`pagerank_fixed` (int64 in units of
    ``1/scale``, floor division, bit-exact across partitionings and
    engines); the only deltas are the teleport vector (uniform over the
    ``s = |seeds|`` trusted nodes instead of all ``n``) and the start
    vector (``scale // s`` on seeds, 0 elsewhere).

    Scale shape: identical to pagerank_fixed — per iteration ONE
    edges-vs-ranks join + ONE dst aggregation, dangling mass via a 1-row
    broadcast, ranks localCheckpoint-ed so lineage stays O(1).  The seed
    flag is joined ONCE before the loop and rides the rank table (seeds
    is typically tiny — a curated whitelist — so that join broadcasts).

    Returns (id, tr_fp) with tr_fp ≈ trustrank * scale.
    """
    s = seeds.count()
    if s == 0:
        return nodes.select("id", F.lit(0).cast("long").alias("tr_fp"))
    deg = out_degrees(edges).localCheckpoint()
    base_s = (scale * (damp_den - damp_num)) // damp_den // s
    flagged = (
        nodes.join(
            seeds.select(F.col("id").alias("_sid")).distinct(),
            nodes["id"] == F.col("_sid"),
            "left",
        )
        .select("id", F.col("_sid").isNotNull().alias("is_seed"))
        .localCheckpoint()
    )
    ranks = flagged.select(
        "id",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(scale // s))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("tr_fp"),
    ).localCheckpoint()
    for _ in range(n_iter):
        with_deg = ranks.join(deg, ranks["id"] == deg["src"], "left")
        dangling = with_deg.where(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("tr_fp"), F.lit(0)).cast("long").alias("_dang")
        )
        contrib = (
            with_deg.where(F.col("out_deg").isNotNull())
            .join(edges, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("tr_fp div out_deg")).alias("contrib"))
        )
        ranks = (
            flagged.join(contrib, flagged["id"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                "is_seed",
                (
                    F.when(F.col("is_seed"), F.lit(base_s)).otherwise(F.lit(0))
                    + F.expr(
                        f"({damp_num} * (coalesce(contrib, 0)"
                        f" + (CASE WHEN is_seed THEN _dang div {s}"
                        f" ELSE 0 END))) div {damp_den}"
                    )
                ).cast("long").alias("tr_fp"),
            )
            .localCheckpoint()
        )
    return ranks.select("id", "tr_fp")


def pagerank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    damp_num: int = 17,
    damp_den: int = 20,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-point PageRank: every rank is an int64 in units of
    ``1/scale``, every step is integer arithmetic (``div`` truncation) —
    the result is **bit-exact** regardless of partitioning, summation
    order, or engine (cross-checked against a plain-SQL oracle).

    Why this exists alongside the float version: per-iteration float
    rounding cannot pin the trajectory — grid-valued ranks divided by
    small out-degrees land exactly ON rounding half-way points, and
    different engines break such ties differently.  Integer floor
    division has no ties.  Damping is the rational ``damp_num/damp_den``
    (default 17/20 = 0.85).  Truncation loses ≤ (in_deg+2)/scale of mass
    per node per iteration — irrelevant at scale=1e12 for ranking.

    Returns (id, pr_fp) with pr_fp ≈ pagerank * scale.

    Implementation: exactly :func:`pagerank_weighted_fixed` at weight=1
    (with w=1 per edge row, ``w_out`` == out_deg and ``(pr*1) div w_out``
    == ``pr div out_deg``, so the trajectories coincide term by term —
    the equivalence is pinned bit-exactly in tests).  One iteration
    scaffold to maintain, not two.
    """
    return pagerank_weighted_fixed(
        nodes,
        edges.select("src", "dst", F.lit(1).cast("long").alias("weight")),
        n_iter=n_iter,
        damp_num=damp_num,
        damp_den=damp_den,
        scale=scale,
    )


def opic_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Adaptive OPIC — On-line Page Importance Computation (Abiteboul,
    Preda, Cobena, WWW 2003) — THE classic crawler frontier-priority
    algorithm, in its synchronous round-barrier form (every page "fetched"
    each crawl round, matching this engine's BFS-round execution model).

    Why it exists next to :func:`pagerank_fixed`: PageRank needs the whole
    graph and a damping factor; OPIC was designed to run *during* the
    crawl on the partial graph — each page holds CASH, a fetch banks the
    cash into HISTORY and distributes it equally over out-links, and a
    page's importance estimate is ``history + cash``.  A priority crawler
    fetches the frontier page holding the most cash (greedy variant); the
    reference's FIFO frontier (queue_manager.py:34-44) is the degenerate
    no-priority case.

    Pinned integer semantics (bit-exact vs the unrolled-CTE oracle):
    - state is (cash_fp, hist_fp), int64 in units of 1/scale; initial
      cash = scale div n, history = 0;
    - per round: hist += cash; each out-edge of a node with out-degree d
      carries ``cash div d`` (parallel edges count individually, exactly
      like pagerank_fixed); DANGLING nodes send their whole cash to the
      virtual page, which redistributes ``virt div n`` to every node next
      round (the paper's virtual-page trick, keeping the graph strongly
      connected without damping);
    - truncation from integer division loses <= (in_deg+2)/scale of cash
      per node per round — irrelevant for ranking at scale=1e12.

    Returns (id, cash_fp, hist_fp, opic_fp = hist_fp + cash_fp).

    Scale shape: identical to pagerank_fixed — per iteration ONE
    edges-vs-state join on ``src`` + ONE map-side-combined aggregation on
    ``dst``; the virtual-page mass is a 1-row broadcast cross join (never
    a driver collect in the loop); state is localCheckpoint-ed per round
    so plan lineage stays O(1) in n_iter.  On a cluster, bucket ``edges``
    by src to reuse one exchange across all iterations; AQE splits
    celebrity-page reduce skew.
    """
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "id",
            F.lit(0).cast("long").alias("cash_fp"),
            F.lit(0).cast("long").alias("hist_fp"),
            F.lit(0).cast("long").alias("opic_fp"),
        )
    # size-adaptive AQE bracket (round 6, the sequencer's discipline):
    # on a sub-threshold graph each per-round localCheckpoint/broadcast
    # runs as a chain of AQE sub-jobs — measured 51 jobs + 2.5 s of
    # driver gaps for 5 iterations over the bench graph — while AQE has
    # nothing to optimize at that size.  Above the threshold AQE stays
    # on: celebrity-page reduce skew is real at web scale and the
    # skew-join split is exactly what handles it.
    spark = nodes.sparkSession
    small_conf = {}
    if n <= 1_000_000:
        # static stand-in for the coalescing AQE would have done: derive
        # the loop's exchange width from the KNOWN node count (~64k state
        # rows per partition), not a local-mode constant
        sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        small_conf = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(min(sp, n // (1 << 16) + 1)),
        }
    with scoped_conf(spark, small_conf):
        deg = out_degrees(edges).localCheckpoint()  # computed once, reused per iter
        state = nodes.select(
            "id",
            F.lit(scale // n).cast("long").alias("cash_fp"),
            F.lit(0).cast("long").alias("hist_fp"),
        ).localCheckpoint()
        for _ in range(n_iter):
            with_deg = state.join(deg, state["id"] == deg["src"], "left")
            virtual = with_deg.where(F.col("out_deg").isNull()).agg(
                F.coalesce(F.sum("cash_fp"), F.lit(0)).cast("long").alias("_virt")
            )
            contrib = (
                with_deg.where(F.col("out_deg").isNotNull())
                .join(edges, "src")
                .groupBy("dst")
                .agg(F.sum(F.expr("cash_fp div out_deg")).alias("contrib"))
            )
            state = (
                state.join(contrib, state["id"] == contrib["dst"], "left")
                .crossJoin(F.broadcast(virtual))
                .select(
                    "id",
                    (
                        F.coalesce(F.col("contrib"), F.lit(0))
                        + F.expr(f"_virt div {n}")
                    ).cast("long").alias("cash_fp"),
                    (F.col("hist_fp") + F.col("cash_fp")).cast("long").alias(
                        "hist_fp"
                    ),
                )
                .localCheckpoint()
            )
    return state.select(
        "id",
        "cash_fp",
        "hist_fp",
        (F.col("cash_fp") + F.col("hist_fp")).cast("long").alias("opic_fp"),
    )


def collapse_to_hosts(
    edges: DataFrame,
    src_host: "F.Column | str" = "src_host",
    dst_host: "F.Column | str" = "dst_host",
) -> DataFrame:
    """Collapse a page-level link graph to the HOST graph: one row per
    directed (src, dst) host pair with ``weight`` = number of page edges
    it aggregates, self-loops (intra-host links — the overwhelming
    majority of real web edges) dropped.  The standard pre-step for
    host-level rank/budget decisions (host PageRank seeds crawl-budget
    apportionment; the host graph is ~3 orders smaller than the page
    graph, so 5 rank iterations on it are nearly free).

    One map-side-combined groupBy — page edges never shuffle twice.
    """
    s = F.col(src_host) if isinstance(src_host, str) else src_host
    d = F.col(dst_host) if isinstance(dst_host, str) else dst_host
    return (
        edges.select(s.alias("src"), d.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )


def pagerank_weighted_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    damp_num: int = 17,
    damp_den: int = 20,
    scale: int = 10**12,
) -> DataFrame:
    """Weighted fixed-point PageRank: edge (src, dst, weight) carries
    ``(rank * weight) div W_src`` where ``W_src`` = the src's total
    out-weight — the natural rank for a COLLAPSED host graph, where edge
    weight = how many page links the host pair aggregates (an unweighted
    rank would let one stray link count as much as ten thousand).

    Same integer discipline and iteration shape as :func:`pagerank_fixed`
    (int64 units of 1/scale, truncating div, dangling mass via a 1-row
    broadcast, localCheckpoint per iteration, ONE join + ONE aggregate
    per iteration); nodes with zero total out-weight are dangling.
    Division nests as ``((pr * w) div W)`` — pinned, since int division
    does not reassociate.  ``pr * w`` needs ``w * scale < 2^63``:
    fine for any real weight (w < 9e6 at scale=1e12 — cap upstream if
    collapsing >9M-page host pairs, or lower scale).

    Returns (id, pr_fp).
    """
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0).cast("long").alias("pr_fp"))
    wout = edges.groupBy("src").agg(
        F.sum("weight").cast("long").alias("w_out")
    ).localCheckpoint()
    base = (scale * (damp_den - damp_num)) // damp_den // n
    ranks = nodes.select(
        "id", F.lit(scale // n).cast("long").alias("pr_fp")
    ).localCheckpoint()
    for _ in range(n_iter):
        with_w = ranks.join(wout, ranks["id"] == wout["src"], "left")
        dangling = with_w.where(F.col("w_out").isNull()).agg(
            F.coalesce(F.sum("pr_fp"), F.lit(0)).cast("long").alias("_dang")
        )
        contrib = (
            with_w.where(F.col("w_out").isNotNull())
            .join(edges, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("(pr_fp * weight) div w_out")).alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damp_num} * (coalesce(contrib, 0) + (_dang div {n}))) div {damp_den}"
                    )
                ).cast("long").alias("pr_fp"),
            )
            .localCheckpoint()
        )
    return ranks


def coreness_hindex(
    nodes: DataFrame, edges: DataFrame, n_rounds: int = 20
) -> DataFrame:
    """k-core decomposition via the iterated H-index (Lü et al., "The
    H-index of a network node and its relation to degree and coreness",
    Nat. Commun. 2016): h0 = degree; each round replaces a node's value
    with the H-index of its neighbors' values; the sequence is
    monotonically non-increasing and converges to the node's CORENESS
    (the largest k such that the node survives in the k-core).  Coreness
    separates genuinely dense link communities (high core number) from
    star-shaped spam hubs whose neighborhoods peel away at k=1 — the
    crawl-prioritization complement to triangle clustering.

    Pinned semantics: the UNDIRECTED simple graph is the distinct
    canonicalized (min, max) pair set with self-loops dropped (same
    contract as :func:`triangle_counts`); H-index of a multiset sorted
    descending as v_1 >= v_2 >= ... is max_i min(i, v_i) (0 for the
    empty set); exactly ``n_rounds`` H-operator rounds are applied —
    extra rounds past convergence are no-ops, so any n_rounds >= the
    graph's convergence radius yields exact coreness (tests pin this
    against a Python peeling oracle).  Isolated nodes report 0.  All
    integer arithmetic — no floats, bit-exact cross-engine.

    Scale shape: per round, ONE hash join (neighbor value lookup keyed
    on the neighbor id) + ONE window partitioned by node id (millions of
    partitions — never a single-partition window) + ONE map-side-
    combined max; values are localCheckpoint-ed per round so lineage
    stays O(1).  Unlike distributed peeling (which runs a data-dependent
    number of sequential deletion waves per k), the H-index iteration is
    a fixed number of uniform bulk-synchronous rounds — the shape that
    survives a 1000-executor cluster.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    bidir = (
        und.select(F.col("a").alias("n"), F.col("b").alias("nb"))
        .unionAll(und.select(F.col("b").alias("n"), F.col("a").alias("nb")))
        .localCheckpoint()
    )
    vals = (
        bidir.groupBy("n")
        .agg(F.count("*").cast("long").alias("v"))
        .localCheckpoint()
    )
    w = Window.partitionBy("n").orderBy(F.desc("nv"), "nb")
    for _ in range(n_rounds):
        nbv = bidir.join(
            vals.select(F.col("n").alias("nb"), F.col("v").alias("nv")), "nb"
        )
        vals = (
            nbv.select(
                "n",
                F.least(
                    F.row_number().over(w).cast("long"), F.col("nv")
                ).alias("m"),
            )
            .groupBy("n")
            .agg(F.max("m").cast("long").alias("v"))
            .localCheckpoint()
        )
    return (
        nodes.select(F.col(nodes.columns[0]).alias("id"))
        .join(vals.withColumnRenamed("n", "id"), "id", "left")
        .select("id", F.coalesce("v", F.lit(0)).cast("long").alias("coreness"))
    )


def hyperball(
    nodes: DataFrame, edges: DataFrame, p: int = 4, n_rounds: int = 6
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013, "In-core computation of geometric
    centralities with HyperBall"): per-node HyperLogLog sketches of the
    out-ball B_t(v) = {w reachable from v in <= t hops}, grown by t
    rounds of register-wise max over successors — the published
    technique behind the Common Crawl / web-graph harmonic-centrality
    rankings, where exact per-node reachability is hopeless at 10^10
    nodes but an m-register sketch per node is linear state.

    Outputs per node: ``reach_est`` (estimated |B_T(v)|) and
    ``harmonic`` = sum_t (|B_t| - |B_{t-1}|) / t — the harmonic
    centrality estimate (Boldi & Vigna's recommended geometric
    centrality; high = the node reaches many pages in few hops).

    Pinned semantics (registers bit-exact cross-engine): the register
    construction is operators/hll.py's contract verbatim (md5-60bit
    hash of the DECIMAL STRING of the node id, low-p-bit bucket,
    smear+bit_count rho); sketches start from {v} itself and take
    exactly ``n_rounds`` successor-merge rounds; per-round estimates use
    the standard HLL formula + small-range linear counting, rounded to
    2 (the rounded values are the pinned inputs to the harmonic sum, so
    the float chain is short and engine-identical); harmonic adds terms
    in fixed t = 1..T order, rounded to 6.

    Scale shape: sketch state is SPARSE (node, bucket, reg) rows —
    <= m rows per node, empty buckets implied; each round is ONE hash
    join (successor regs keyed on the edge head) + ONE map-side-combined
    (node, bucket) max, localCheckpoint-ed so lineage stays O(1); the
    per-round estimate is one groupBy(node) over <= m rows each.  No
    window, no Python, no driver data."""
    regs, estimate = _hyperball_setup(nodes, p)
    ests = _hyperball_round_ests(regs, edges, estimate, n_rounds)

    out = nodes.select(F.col(nodes.columns[0]).alias("id"))
    for t, est in enumerate(ests):
        out = out.join(
            est.select(F.col("node").alias("id"), F.col("e").alias(f"_e{t}")),
            "id",
        )
    harmonic = None
    for t in range(1, n_rounds + 1):
        term = (F.col(f"_e{t}") - F.col(f"_e{t - 1}")) / F.lit(float(t))
        harmonic = term if harmonic is None else harmonic + term
    return out.select(
        "id",
        F.col(f"_e{n_rounds}").alias("reach_est"),
        F.round(harmonic, 6).alias("harmonic"),
    )


def _hyperball_setup(nodes: DataFrame, p: int):
    """Initial per-node HLL register rows and the estimate closure shared
    by :func:`hyperball` and :func:`neighborhood_function` (the
    operators/hll.py register contract verbatim)."""
    from .hll import HASH_BITS, _hash60, _rho

    m = 1 << p
    width = HASH_BITS - p
    scale = 1 << (width + 1)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    idc = F.col(nodes.columns[0])
    h = _hash60(idc.cast("string"))
    regs = (
        nodes.select(
            idc.alias("node"),
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            _rho(F.shiftrightunsigned(h, p), width).alias("reg"),
        )
        .localCheckpoint()
    )

    def estimate(r: DataFrame) -> DataFrame:
        agg = r.groupBy("node").agg(
            (F.lit(m) - F.count("*")).cast("long").alias("v_zero"),
            (
                F.sum(F.expr(f"shiftleft(cast(1 as bigint), {width + 1} - reg)"))
                + (F.lit(m) - F.count("*")) * F.lit(scale)
            )
            .cast("long")
            .alias("sum_scaled"),
        )
        raw = (
            F.lit(alpha)
            * F.lit(float(m))
            * F.lit(float(m))
            * F.lit(float(scale))
            / F.col("sum_scaled")
        )
        linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero"))
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("v_zero") > 0), linear
        ).otherwise(raw)
        return agg.select("node", F.round(est, 2).alias("e"))

    return regs, estimate


def _hyperball_round_ests(regs, edges, estimate, n_rounds):
    """The HyperBall successor-merge loop shared by :func:`hyperball`
    and :func:`neighborhood_function`: per-round (node, e) cardinality
    estimates for t = 0..n_rounds."""
    ests = [estimate(regs).localCheckpoint()]
    for _ in range(n_rounds):
        succ = edges.join(
            regs.select(
                F.col("node").alias("dst"), "bucket", "reg"
            ),
            "dst",
        ).select(F.col("src").alias("node"), "bucket", "reg")
        regs = (
            regs.unionAll(succ)
            .groupBy("node", "bucket")
            .agg(F.max("reg").alias("reg"))
            .localCheckpoint()
        )
        ests.append(estimate(regs).localCheckpoint())
    return ests


def _reach(
    seed: DataFrame, edges_nb: DataFrame, n_rounds: int
) -> DataFrame:
    """K-round reachability closure: grow the seed node set by following
    (n -> nb) hops ``n_rounds`` times.  Returns distinct reached node ids
    (column ``n``).  One hash join + one map-side-combined distinct per
    round, localCheckpoint-ed — the bulk-synchronous BFS frontier shape."""
    cur = seed.select("n").distinct().localCheckpoint()
    for _ in range(n_rounds):
        step = edges_nb.join(
            cur.select(F.col("n").alias("nb")), "nb"
        ).select("n")
        cur = cur.unionAll(step).distinct().localCheckpoint()
    return cur


def bowtie_classes(
    nodes: DataFrame, edges: DataFrame, n_rounds: int = 12
) -> DataFrame:
    """Bow-tie decomposition of the link graph (Broder et al. WWW 2000,
    "Graph structure in the Web" — the map that names the giant SCC,
    IN, OUT, TENDRILS and DISCONNECTED regions).  Crawl planning reads
    it directly: seeds in IN ∪ SCC eventually cover SCC ∪ OUT; seeds in
    OUT are dead ends; DISCONNECTED mass is unreachable no matter the
    budget.

    Pinned semantics: the pivot is the min-id node among those with
    maximum total degree (in+out over the raw edge multiset, self-loops
    and duplicates counted as given — a total order, so the pivot is
    unambiguous); F = nodes reachable FROM the pivot in <= n_rounds
    forward hops, B = nodes reaching it in <= n_rounds backward hops,
    W = its <= n_rounds undirected ball; classes are ``SCC`` = F∩B,
    ``IN`` = B−F, ``OUT`` = F−B, ``TENDRIL`` = W−(F∪B) (weakly attached:
    tendrils + tubes, the coarse 5-class form), ``DISC`` = the rest.
    Exactly ``n_rounds`` propagation rounds — any n_rounds >= the
    graph's directed diameter yields the exact decomposition (extra
    rounds are no-ops; tests pin this against a Python BFS oracle).

    Scale shape: three K-round BFS closures, each ONE equi join + ONE
    map-side-combined distinct per round on (node) keys,
    localCheckpoint-ed; class assignment is three left-semi-style hash
    joins.  The only driver row is the 1-row pivot.  No window over the
    corpus, no Python."""
    idc = F.col(nodes.columns[0])
    deg = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("_d"))
    )
    pivot_row = deg.orderBy(F.desc("_d"), "n").limit(1).collect()
    if not pivot_row:
        return nodes.select(
            idc.alias("id"), F.lit("DISC").alias("bowtie_class")
        )
    pivot = pivot_row[0]["n"]
    spark = nodes.sparkSession
    seed = spark.createDataFrame([(pivot,)], "n long")
    fwd_nb = edges.select(
        F.col("dst").alias("n"), F.col("src").alias("nb")
    )  # grow F: dst joins when src already reached
    bwd_nb = edges.select(
        F.col("src").alias("n"), F.col("dst").alias("nb")
    )
    und_nb = fwd_nb.unionAll(bwd_nb)
    f_set = _reach(seed, fwd_nb, n_rounds).withColumnRenamed("n", "id")
    b_set = _reach(seed, bwd_nb, n_rounds).withColumnRenamed("n", "id")
    w_set = _reach(seed, und_nb, n_rounds).withColumnRenamed("n", "id")
    out = (
        nodes.select(idc.alias("id"))
        .join(f_set.withColumn("_f", F.lit(True)), "id", "left")
        .join(b_set.withColumn("_b", F.lit(True)), "id", "left")
        .join(w_set.withColumn("_w", F.lit(True)), "id", "left")
    )
    f = F.coalesce("_f", F.lit(False))
    b = F.coalesce("_b", F.lit(False))
    w = F.coalesce("_w", F.lit(False))
    return out.select(
        "id",
        F.when(f & b, F.lit("SCC"))
        .when(b, F.lit("IN"))
        .when(f, F.lit("OUT"))
        .when(w, F.lit("TENDRIL"))
        .otherwise(F.lit("DISC"))
        .alias("bowtie_class"),
    )


def link_reciprocity(edges: DataFrame) -> DataFrame:
    """Per-node reciprocal-link profile — the link-exchange spam signal
    that complements :func:`trustrank_fixed`: organic linking is mostly
    one-way, while "you link me, I link you" exchanges produce nodes
    whose out-links are overwhelmingly reciprocated (Becchetti et al.'s
    web-spam features; degree-normalized, so farms can't hide behind
    volume).

    Pinned semantics (integer-only): over the DISTINCT directed edge set
    with self-loops removed, an edge (a, b) is RECIPROCAL iff (b, a) is
    also present.  Returns (id, n_out, n_recip, recip_permille) for
    every node with >= 1 qualifying out-edge, where ``recip_permille =
    (1000 * n_recip) div n_out``.

    Scale shape: one map-side distinct compaction, then ONE self
    left-semi join on the reversed pair key (unique both sides — no
    fan-out) to mark reciprocated edges, and one map-side-combined
    groupBy(src).  Parallel edges collapse in the distinct, so a spam
    farm repeating a link 10^6 times costs one row, not a hot key.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    marked = e.join(rev, ["src", "dst"], "left_semi").select(
        "src", "dst", F.lit(1).alias("_r")
    )
    return (
        e.join(marked, ["src", "dst"], "left")
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.count("*").cast("long").alias("n_out"),
            F.sum(F.coalesce(F.col("_r"), F.lit(0))).cast("long").alias("n_recip"),
        )
        .select(
            "id",
            "n_out",
            "n_recip",
            F.expr("(1000 * n_recip) div n_out").cast("long").alias(
                "recip_permille"
            ),
        )
    )


def triangle_counts(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient — the
    community-density signal that separates organic link neighborhoods
    (friends-of-friends link each other: high clustering) from link
    farms and hub spam (star shapes: near-zero clustering).  The
    algorithm is the public degree-ordered node-iterator (Schank &
    Wagner 2005; the same orientation trick MapReduce triangle papers
    use), expressed as two DataFrame self-joins.

    Pinned semantics (integer + one rounded division): the UNDIRECTED
    simple graph is the distinct canonicalized (min, max) pair set with
    self-loops dropped; ``degree`` counts simple neighbors;
    ``triangles`` counts unordered triangles through the node;
    ``clustering = round(2*T / (deg*(deg-1)), 6)`` and 0.0 when
    ``deg < 2``.  Every node in ``nodes`` gets a row.

    Scale shape: each undirected edge is ORIENTED from its lower
    (degree, id) endpoint to the higher, so wedge enumeration fans out
    from the LOW-degree endpoint only — a 10^7-degree hub generates no
    wedge explosion because almost all its edges point INTO it.  Three
    uniform hash joins (wedge build on the pivot, closure check on the
    (lo, hi) pair key — unique both sides), one explode of width 3, one
    map-side-combined count.  No window, no Python, no driver data.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # orient a->b iff (deg_a, a) < (deg_b, b): the ordering is total, so
    # each undirected edge appears exactly once in `o`
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("_db"))
    keyed = und.join(da, "a").join(db, "b")
    lt = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = keyed.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # wedges u->v, u->w (v != w) pivoting on the LOW endpoint u, closed by
    # the oriented edge between v and w (either direction)
    e2 = o.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = o.join(e2, F.col("u") == F.col("u2")).where(
        F.col("v") < F.col("w")
    )
    closure = o.select(
        F.least("u", "v").alias("v"), F.greatest("u", "v").alias("w")
    )
    tris = wedges.join(closure, ["v", "w"], "left_semi").select("u", "v", "w")
    per_node = (
        tris.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("n")
        )
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        nodes.select(F.col(nodes.columns[0]).alias("id"))
        .join(deg.withColumnRenamed("n", "id"), "id", "left")
        .join(per_node.withColumnRenamed("n", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1.0)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def label_propagation(
    nodes: DataFrame, edges: DataFrame, n_rounds: int = 6
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara, Phys. Rev. E 2007) with DETERMINISTIC tie-breaking:
    every node starts in its own community (label = own id); each round,
    every node simultaneously adopts the label most frequent among its
    neighbors, ties broken by the SMALLEST label; exactly ``n_rounds``
    bulk-synchronous rounds are applied.  LPA is the community algorithm
    that actually survives web scale — near-linear per round, no
    modularity matrix — and communities drive crawl sharding (co-host
    strongly-linked sites on one fetcher) and mirror/farm triage
    (a community spanning many registrable domains is a syndication or
    mirror network, SURVEY §2 spam analytics).

    Pinned semantics: the UNDIRECTED simple graph is the distinct
    canonicalized (min, max) pair set with self-loops dropped (the
    triangle_counts/coreness contract); the vote counts each distinct
    neighbor once (simple-graph multiplicity); a node's own current
    label gets NO vote (pure Raghavan neighbor vote — isolated nodes
    keep their label); the round count is part of the contract, because
    synchronous LPA can 2-cycle on bipartite structures (Raghavan §3's
    known oscillation) — a fixed even round count makes the output a
    well-defined function of the graph, bit-exact cross-engine (all
    integer ops, no floats, no randomness).

    Scale shape: per round, ONE hash join (neighbor label lookup keyed
    on the neighbor id) + TWO map-side-combined aggregates (vote count
    by (node, label), then argmax by node via max(struct(count,
    -label)) — no window at all); labels are localCheckpoint-ed per
    round so lineage stays O(1).  Hot nodes cost one combiner, not a
    sorted window partition.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    bidir = (
        und.select(F.col("a").alias("n"), F.col("b").alias("nb"))
        .unionAll(und.select(F.col("b").alias("n"), F.col("a").alias("nb")))
        .localCheckpoint()
    )
    ids = nodes.select(F.col(nodes.columns[0]).cast("long").alias("n"))
    labels = ids.select("n", F.col("n").alias("lab")).localCheckpoint()
    for _ in range(n_rounds):
        votes = (
            bidir.join(
                labels.select(
                    F.col("n").alias("nb"), F.col("lab").alias("nlab")
                ),
                "nb",
            )
            .groupBy("n", "nlab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        # argmax by (count DESC, label ASC): max of (c, -label) structs
        won = votes.groupBy("n").agg(
            F.max(F.struct(F.col("c"), (-F.col("nlab")).alias("neg"))).alias(
                "w"
            )
        )
        labels = (
            labels.join(won, "n", "left")
            .select(
                "n",
                F.coalesce(-F.col("w.neg"), F.col("lab"))
                .cast("long")
                .alias("lab"),
            )
            .localCheckpoint()
        )
    return labels.select(
        F.col("n").alias("id"), F.col("lab").alias("community")
    )


def community_modularity(
    labels: DataFrame, edges: DataFrame, scale: int = 10**12
) -> DataFrame:
    """Newman modularity of a community assignment over the undirected
    simple graph (Newman & Girvan 2004; Q = sum_c [ e_c/m -
    (deg_c/2m)^2 ] with e_c = intra-community edges, m = total edges,
    deg_c = summed degree of the community) — the standard quality score
    for :func:`label_propagation` output, reported per community plus
    the exact contribution so callers can rank communities by cohesion
    and SUM the column for graph-level Q.

    All arithmetic is exact int64 fixed-point in units of 1/scale
    (the pagerank_fixed discipline): contribution_fp =
    (e_c*scale) div m - (deg_c^2*scale) div (4*m^2), both operands
    nonnegative so ``div`` truncation is exact floor —
    bit-exact cross-engine, no float ties.  deg_c^2*scale stays well
    inside int64 for deg_c up to ~3M at the default scale; larger
    communities need a smaller scale (documented contract).

    Scale shape: ONE distinct for the simple graph, ONE hash join of
    edges to labels per endpoint (two equi joins), TWO map-side-combined
    aggregates (per-community intra-edge count; per-community degree) +
    a tiny 1-row total — no window, no Python.

    ``labels``: (id, community); ``edges``: (src, dst).  Output:
    (community, n_nodes, intra_edges, degree_sum, modularity_fp).
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    lab = labels.select(
        F.col(labels.columns[0]).cast("long").alias("n"),
        F.col(labels.columns[1]).cast("long").alias("community"),
    )
    la = lab.select(F.col("n").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("n").alias("b"), F.col("community").alias("cb"))
    tagged = und.join(la, "a").join(lb, "b")
    intra = (
        tagged.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .join(lab, "n")
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("degree_sum"))
    )
    sizes = lab.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    out = (
        sizes.join(intra, "community", "left")
        .join(deg, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            F.coalesce("degree_sum", F.lit(0)).cast("long").alias(
                "degree_sum"
            ),
            F.expr(
                f"CAST((coalesce(intra_edges, 0) * {int(scale)}) div m"
                f" - (coalesce(degree_sum, 0) * coalesce(degree_sum, 0)"
                f" * {int(scale)}) div (4 * m * m) AS BIGINT)"
            ).alias("modularity_fp"),
        )
    )
    return out


def neighborhood_function(
    nodes: DataFrame, edges: DataFrame, p: int = 4, n_rounds: int = 6
) -> DataFrame:
    """The graph's neighborhood function and effective diameter from the
    same HyperBall sketches as :func:`hyperball` (Palmer, Gibbons &
    Faloutsos, "ANF", KDD 2002; Boldi & Vigna 2013 §4): NF(t) =
    sum_v |B_t(v)| — the estimated number of reachable (source,
    destination) pairs within t hops — and the EFFECTIVE DIAMETER, the
    smallest t at which NF(t) >= 0.9 * NF(T) (the standard 90th-
    percentile distance the web-graph measurement literature reports,
    e.g. Broder et al. 2000's "the web is a small world" numbers).

    Determinism contract: each per-node per-round estimate is the
    pinned round-2 value from the shared HyperBall loop; it is summed
    in exact int64 CENTI-units (CAST(round(e*100, 0) AS BIGINT)) so the
    corpus-wide sum has NO float addition-order dependence; the ratio
    divides the two int64 sums once, rounded to 6 — engine-identical.

    Output: one row per t = 0..n_rounds — (t, nf_centi, ratio,
    is_eff_diameter) with nf_centi = 100 * NF(t) estimate, ratio =
    NF(t)/NF(T), and is_eff_diameter marking the effective-diameter
    round.

    Scale shape: identical per-round cost to hyperball (one equi join +
    one map-side register max per round); each NF(t) is ONE map-side-
    combined 1-row sum, and the output is n_rounds+1 rows — the only
    single-row plans are these final scalar reductions."""
    regs, estimate = _hyperball_setup(nodes, p)
    ests = _hyperball_round_ests(regs, edges, estimate, n_rounds)
    nf = None
    for t, est in enumerate(ests):
        row = est.agg(
            F.sum(F.expr("CAST(round(e * 100.0, 0) AS BIGINT)"))
            .cast("long")
            .alias("nf_centi")
        ).select(F.lit(t).cast("int").alias("t"), "nf_centi")
        nf = row if nf is None else nf.unionAll(row)
    fin = nf.where(F.col("t") == n_rounds).select(
        F.col("nf_centi").alias("_nft")
    )
    rat = nf.crossJoin(F.broadcast(fin)).select(
        "t",
        "nf_centi",
        F.round(F.col("nf_centi") / F.col("_nft"), 6).alias("ratio"),
    )
    eff = rat.where(F.col("ratio") >= 0.9).agg(F.min("t").alias("_efft"))
    return rat.crossJoin(F.broadcast(eff)).select(
        "t",
        "nf_centi",
        "ratio",
        (F.col("t") == F.col("_efft")).alias("is_eff_diameter"),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple graph
    (Newman, "Assortative mixing in networks", PRL 2002 eq. 4) — the
    classic web-graph mixing measurement: r > 0 means hubs link to hubs
    (social-network-like), r < 0 means hubs link to leaves (the web's
    usual disassortative shape; spam link farms skew it further
    negative, making r a cheap corpus-level farm tripwire).

    With per-edge endpoint degrees (j, k) over M edges, Newman's Pearson
    form reduces to three INTEGER sufficient statistics
    S1 = sum jk, S2 = sum (j+k), S3 = sum (j^2+k^2):

        r = (4*M*S1 - S2^2) / (2*M*S3 - S2^2)

    — the engine sums exact int64 and performs ONE final division,
    rounded to 6, so there is no float accumulation-order dependence
    (int64 holds S3 up to ~10^5-degree hubs on 10^9 edges; beyond that
    the sums need decimal(38), documented contract).  Degenerate regular
    graphs (zero variance denominator) report NULL.

    Output: ONE row — (m_edges, s_jk, s_sum, s_sq, assortativity).

    Scale shape: one distinct for the simple graph, one map-side count
    for degrees, TWO equi hash joins to tag endpoint degrees, ONE
    map-side-combined total — no window, no Python; the single-row
    output is the inherent reduction."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    tagged = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("j")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("k")), "b")
    )
    agg = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        F.sum(F.col("j") * F.col("k")).cast("long").alias("s_jk"),
        F.sum(F.col("j") + F.col("k")).cast("long").alias("s_sum"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("long")
        .alias("s_sq"),
    )
    num = 4 * F.col("m_edges") * F.col("s_jk") - F.col("s_sum") * F.col("s_sum")
    den = 2 * F.col("m_edges") * F.col("s_sq") - F.col("s_sum") * F.col("s_sum")
    return agg.select(
        "m_edges",
        "s_jk",
        "s_sum",
        "s_sq",
        F.when(den != 0, F.round(num / den, 6)).alias("assortativity"),
    )


def spam_mass(
    pr: DataFrame, tr: DataFrame, mass_scale: int = 10**6
) -> DataFrame:
    """Relative link-spam mass (Gyöngyi, Berkhin, Garcia-Molina &
    Pedersen, "Link spam detection based on mass estimation", VLDB
    2006): the fraction of a page's PageRank NOT explained by its
    trust-personalized rank — ``m = (PR - PR') / PR`` with PR' the
    TrustRank estimate of the "good" rank contribution.  A page with
    high PageRank and mass near 1 has rank built almost entirely from
    untrusted links: the link-farm fingerprint the paper demotes.

    Exact arithmetic: both inputs are the int64 fixed-point vectors
    (pagerank_fixed / trustrank_fixed, units 1e-12); the deficit is
    clamped at 0 (trusted pages can have TR > PR — negative mass carries
    no spam signal, and clamping keeps both engines in nonnegative
    ``div`` territory where truncation == floor), then
    ``rel_mass_fp = (max(PR - TR, 0) * mass_scale) div PR`` in units of
    1/mass_scale — PR > 0 always (damped teleport floor).

    Output: (id, pr_fp, tr_fp, rel_mass_fp) — one equi join + a pure
    projection; no window, no Python."""
    p = pr.select(F.col(pr.columns[0]).alias("id"), "pr_fp")
    t = tr.select(F.col(tr.columns[0]).alias("id"), "tr_fp")
    joined = p.join(t, "id")
    return joined.select(
        "id",
        "pr_fp",
        "tr_fp",
        F.expr(
            f"CAST((greatest(pr_fp - tr_fp, 0) * {int(mass_scale)})"
            " div pr_fp AS BIGINT)"
        ).alias("rel_mass_fp"),
    )


def katz_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 6,
    alpha_num: int = 1,
    alpha_den: int = 8,
    scale: int = 10**9,
) -> DataFrame:
    """Fixed-point Katz centrality (Katz, Psychometrika 1953) — the
    attenuated path-count prestige: ``x = sum_k alpha^k (A^T)^k * 1``,
    truncated at ``n_iter`` terms via the standard iteration
    ``x_k = beta + alpha * A^T x_{k-1}`` with ``beta = 1``.  Unlike
    PageRank there is NO out-degree normalization: a page pointed at by
    one link-rich hub inherits that hub's full (attenuated) path count —
    the complementary frontier-priority signal when hubs should not have
    their endorsement diluted by fan-out (Newman, "Networks" §7.2 calls
    this out as Katz's defining difference from degree/eigenvector
    variants on directed webs).

    Integer discipline (house rule shared with :func:`pagerank_fixed`):
    ranks are int64 in units of ``1/scale``; each step is
    ``scale + (alpha_num * S) div alpha_den`` where S is the int64 sum of
    in-neighbor ranks — sums commute and ``div`` on nonnegative operands
    is floor, so the trajectory is bit-exact across partitionings and
    engines.  alpha defaults to the rational 1/8: the truncated series
    converges iff ``alpha * lambda_max < 1``; per-iteration growth is
    bounded by ``(alpha_num * d_in_max) / alpha_den``, so at the default
    a graph needs d_in_max >= 8 before values can grow at all and int64
    headroom (scale 1e9 leaves ~9.2e9x) tolerates d_in_max ~ 8000 over
    6 iterations.  Callers on denser webs lower alpha, not scale.

    Scale shape: per iteration ONE edges-vs-ranks hash join + ONE
    map-side-combined dst aggregation (identical to pagerank_fixed minus
    the degree join and dangling broadcast — Katz has neither), ranks
    localCheckpoint-ed so lineage stays O(1).

    Returns (id, katz_fp) with katz_fp ~= katz * scale.
    """
    ranks = nodes.select(
        "id", F.lit(int(scale)).cast("long").alias("katz_fp")
    ).localCheckpoint()
    for _ in range(n_iter):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["id"])
            .groupBy("dst")
            .agg(F.sum("katz_fp").alias("_s"))
        )
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .select(
                "id",
                (
                    F.lit(int(scale))
                    + F.expr(
                        f"({int(alpha_num)} * coalesce(_s, 0))"
                        f" div {int(alpha_den)}"
                    )
                ).cast("long").alias("katz_fp"),
            )
            .localCheckpoint()
        )
    return ranks


def salsa_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 4,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration integer SALSA (Lempel & Moran, WWW 2000:
    "SALSA: the stochastic approach for link-structure analysis") — the
    degree-normalized cousin of :func:`hits_fixed`: hubs and authorities
    are the two stationary chains of alternating forward/backward random
    walks on the link graph's bipartite support.  Where HITS lets one
    dense core absorb all weight (the TKC effect the paper identifies),
    SALSA divides each step by the local degree, so scores spread across
    communities — it is the production variant (Twitter's WTF
    recommender, Goel et al. WSDM 2013, runs exactly this chain).

    Half-steps from the uniform authority vector ``a_0 = scale``:

    - ``h_k(u) = sum over out-edges (u,v) of a_{k-1}(v) div in_deg(v)``
    - ``a_k(v) = sum over in-edges (u,v) of h_k(u) div out_deg(u)``

    Each per-edge term is an independent int64 floor division and the
    sums commute, so the trajectory is bit-exact across partitionings
    and engines (the house integer discipline).  The walk is
    mass-preserving up to floor truncation — values never grow, so
    unlike HITS there is NO overflow clock; n_iter trades convergence
    toward the per-component in/out-degree stationary distribution
    against wall time.  Nodes outside the bipartite support (no
    in-edges / no out-edges) report 0 on that side, matching the
    paper's restriction to the support graph.

    Scale shape: per half-step ONE edges-vs-vector hash join (degree
    columns pre-joined once onto the edge list and localCheckpoint-ed)
    + ONE map-side-combined aggregation; vectors localCheckpoint-ed per
    iteration so lineage stays O(1) — the pagerank_fixed shape with the
    degree lookup amortized into the edge table instead of re-joined.

    Returns (id, auth_fp, hub_fp).
    """
    in_deg = edges.groupBy("dst").agg(F.count("*").alias("in_deg"))
    out_deg = out_degrees(edges)
    # degree-annotated edge list, built once: (src, dst, in_deg, out_deg)
    ann = (
        edges.join(in_deg, "dst")
        .join(out_deg, "src")
        .select("src", "dst", "in_deg", "out_deg")
        .localCheckpoint()
    )
    auths = nodes.select(
        "id", F.lit(int(scale)).cast("long").alias("a")
    ).localCheckpoint()
    hubs = nodes.select("id", F.lit(0).cast("long").alias("h"))
    for _ in range(n_iter):
        h_sum = (
            ann.join(auths, ann["dst"] == auths["id"])
            .groupBy("src")
            .agg(F.sum(F.expr("a div in_deg")).alias("_h"))
        )
        hubs = (
            nodes.join(h_sum, nodes["id"] == h_sum["src"], "left")
            .select(
                "id", F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("h")
            )
            .localCheckpoint()
        )
        a_sum = (
            ann.join(hubs, ann["src"] == hubs["id"])
            .groupBy("dst")
            .agg(F.sum(F.expr("h div out_deg")).alias("_a"))
        )
        auths = (
            nodes.join(a_sum, nodes["id"] == a_sum["dst"], "left")
            .select(
                "id", F.coalesce(F.col("_a"), F.lit(0)).cast("long").alias("a")
            )
            .localCheckpoint()
        )
    return (
        nodes.join(auths, "id", "left")
        .join(hubs, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("a"), F.lit(0)).alias("auth_fp"),
            F.coalesce(F.col("h"), F.lit(0)).alias("hub_fp"),
        )
    )


def cocitation_pairs(
    edges: DataFrame,
    max_degree: int = 64,
    top_k: int = 40,
) -> DataFrame:
    """Co-citation and bibliographic-coupling pair counts over the link
    graph — the two classic citation-analysis similarity signals (Small
    JASIS 1973; Kessler American Documentation 1963) that web search
    reuses as "related pages": two pages are co-cited when a third page
    links to BOTH (shared in-neighbors), and bibliographically coupled
    when they link to the SAME target (shared out-links).  Unlike
    content similarity these survive paraphrase and translation, so a
    crawl pipeline uses them to group mirrors-in-spirit and to seed
    related-page suggestions; the reference's single-node crawler has no
    graph-wide view at all (its link handling is per-page extraction,
    services/crawler/crawler_service.py) — this is the whole-corpus
    analytics the Spark engine adds.

    Pinned semantics: the DIRECTED simple graph is the distinct
    (src, dst) set with self-loops dropped.  ``cocitations(a, b)`` =
    |in(a) ∩ in(b)| and ``couplings(a, b)`` = |out(a) ∩ out(b)| for
    unordered pairs a < b; pairs where both are 0 don't exist.  Pivot
    keys (the shared dst for co-citation, the shared src for coupling)
    with degree > ``max_degree`` are EXCLUDED from pair generation
    before the self-join — the standard hot-key guard, because a
    pivot of degree d emits d*(d-1)/2 pairs and a 10^6-in-degree home
    page would otherwise produce 5*10^11 rows through one reducer.
    The cap is part of the operator contract (deterministic, engine-
    independent), not a best-effort heuristic.  Output: the ``top_k``
    pairs ordered by (cocitations DESC, couplings DESC, a, b).

    Scale shape: two degree aggregates (map-side combined), two semi
    joins to drop hot pivots, two self-equi-joins on the pivot key with
    per-key fan-out <= max_degree^2/2, one full outer join of the two
    bounded pair tables, and a top-k window over the pair table only.
    No window over the corpus, no Python, no driver data rows.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    def pair_counts(pivot: str, item: str, out_name: str) -> DataFrame:
        deg = e.groupBy(pivot).agg(F.count(F.lit(1)).alias("_d"))
        cold = e.join(
            deg.where(F.col("_d") <= max_degree).select(pivot),
            pivot,
            "left_semi",
        )
        x = cold.select(F.col(pivot).alias("_p"), F.col(item).alias("a"))
        y = cold.select(F.col(pivot).alias("_p"), F.col(item).alias("b"))
        return (
            x.join(y, "_p")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias(out_name))
        )

    # co-citation pairs the TARGETS that share a citing page (pivot =
    # src, hot pivot = a links-directory page with huge out-degree);
    # coupling pairs the CITERS that share a target (pivot = dst, hot
    # pivot = a home page with huge in-degree)
    cocite = pair_counts("src", "dst", "cocitations")
    couple = pair_counts("dst", "src", "couplings")
    both = (
        cocite.join(couple, ["a", "b"], "full_outer")
        .select(
            "a",
            "b",
            F.coalesce("cocitations", F.lit(0)).cast("long").alias(
                "cocitations"
            ),
            F.coalesce("couplings", F.lit(0)).cast("long").alias("couplings"),
        )
    )
    w = Window.orderBy(
        F.col("cocitations").desc(), F.col("couplings").desc(), "a", "b"
    )
    return (
        both.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= top_k)
    )


def ktruss(
    edges: DataFrame,
    k: int = 4,
    n_iter: int = 6,
) -> DataFrame:
    """k-truss decomposition by iterative support peeling (Cohen 2008,
    "Trusses: cohesive subgraphs for social network analysis"; the
    triangle-reinforced community core that k-core over-approximates —
    every edge in a k-truss sits in >= k-2 triangles WITHIN the truss).
    On a crawl link graph the truss isolates genuinely interlinked
    communities from star/hub spam, which k-core keeps but k-truss
    drops (a star has no triangles).

    Peeling: each round enumerates triangles of the CURRENT edge set
    with the degree-ordered node-iterator (the :func:`triangle_counts`
    orientation — wedges fan out from the low-degree endpoint only, so
    hubs cause no blow-up), credits each triangle to its three edges,
    and deletes edges with support < k-2.  Deletions cascade, so the
    loop runs ``n_iter`` PINNED rounds (the fixed-point discipline of
    :func:`pagerank_fixed`: a data-dependent stop would unpin the
    oracle; n_iter=6 converges on every test graph, and a non-converged
    truss is simply a supergraph — re-run with a higher n_iter).  All
    arithmetic is integer; the result is bit-exact across engines.

    Scale shape (100 TB): per round, the same three uniform hash joins
    as triangle_counts + one explode(3) + one map-side-combined count +
    one filter; the surviving edge set localCheckpoints so lineage
    stays O(1) across rounds.  No window, no Python, no driver data
    rows.

    Returns the surviving undirected edges (a, b, support) with a < b
    and support = triangles through the edge in the FINAL graph."""
    cur = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    thresh = k - 2
    for _ in range(n_iter):
        sup = _edge_support(cur)
        cur = (
            cur.join(sup, ["a", "b"], "left")
            .select(
                "a",
                "b",
                F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            )
            .where(F.col("support") >= thresh)
            .select("a", "b")
            .localCheckpoint()
        )
    final_sup = _edge_support(cur)
    return (
        cur.join(final_sup, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
    )


def _edge_support(und: DataFrame) -> DataFrame:
    """(a, b, support): triangles through each canonical undirected edge,
    via the degree-ordered oriented wedge enumeration."""
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("_db"))
    keyed = und.join(da, "a").join(db, "b")
    lt = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = keyed.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    e2 = o.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = o.join(e2, F.col("u") == F.col("u2")).where(
        F.col("v") < F.col("w")
    )
    closure = o.select(
        F.least("u", "v").alias("v"), F.greatest("u", "v").alias("w")
    )
    tris = wedges.join(closure, ["v", "w"], "left_semi").select("u", "v", "w")
    return (
        tris.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "v").alias("a"),
                        F.greatest("u", "v").alias("b"),
                    ),
                    F.struct(
                        F.least("u", "w").alias("a"),
                        F.greatest("u", "w").alias("b"),
                    ),
                    F.struct(
                        F.least("v", "w").alias("a"),
                        F.greatest("v", "w").alias("b"),
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("support"))
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    n_iter: int = 6,
) -> DataFrame:
    """Minimum-label connected components with per-round pointer jumping
    (the two-phase hash-to-min scheme of Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond" — the algorithm that made CC
    practical at trillion-edge scale).  On a crawl graph the components
    ARE the isolated site clusters: a frontier shard that never links
    into the main web is its own component, and mirror farms / link
    rings surface as components whose size wildly exceeds their host
    count.

    Each round does two moves:

    1. **neighbor-min**: ``lab(v) <- min(lab(v), min_{u~v} lab(u))`` —
       one shuffle join of the symmetric edge list against the label
       table plus one map-side-combined min aggregate;
    2. **pointer jump**: ``lab(v) <- min(lab(v), lab(lab(v)))`` — a
       self-join of the label table, which doubles the distance a label
       has travelled (labels are node ids, so ``lab(v)`` is always a
       valid key into the table).

    Reach after r rounds is >= 2^r - 1 hops, so ``n_iter`` rounds pin
    components of diameter up to 2^n_iter - 1; the loop count is PINNED
    (the fixed-point discipline of :func:`pagerank_fixed` — a
    data-dependent stop would unpin the oracle), and a non-converged
    run only over-segments (labels are monotone non-increasing and
    always component members), so re-run with higher n_iter to refine.
    All values are node ids — pure int64, bit-exact across engines.

    Scale shape (10^10 edges): per round, two uniform hash joins on
    node id + one map-side min; the label table localCheckpoints so
    lineage stays O(1).  Min-label is resistant to skew: a celebrity
    node's in-neighbors all emit the SAME candidate label, which the
    map-side partial min collapses before the shuffle.

    Returns (node, comp) — comp = min node id of the node's component
    (at convergence), for every node in ``nodes`` (default: every edge
    endpoint); isolated nodes keep comp = node."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    if nodes is None:
        base = sym.select("node").distinct()
    else:
        base = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    lab = base.withColumn("comp", F.col("node")).localCheckpoint()
    sym = sym.localCheckpoint()
    for _ in range(n_iter):
        nbr_min = (
            sym.join(
                lab.select(
                    F.col("node").alias("nbr"), F.col("comp").alias("ncomp")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("ncomp").alias("cand"))
        )
        stepped = lab.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce("cand", F.col("comp"))
            ).alias("comp"),
        )
        parent = stepped.select(
            F.col("node").alias("_pnode"), F.col("comp").alias("_pcomp")
        )
        lab = (
            stepped.join(
                parent, stepped["comp"] == parent["_pnode"], "left"
            )
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("_pcomp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()
        )
    return lab


def link_prediction_scores(
    edges: DataFrame,
    max_degree: int = 32,
    k: int = 100,
) -> DataFrame:
    """Classic neighborhood link-prediction scores (Liben-Nowell &
    Kleinberg JASIST 2007): for every node pair sharing at least one
    common neighbor, common-neighbor count, Jaccard coefficient,
    Adamic-Adar, and preferential attachment.  In a crawl pipeline the
    high scorers among NON-edges are the "pages that should link but
    don't" — mirror candidates and seed suggestions for focused
    recrawl; among edges they measure embeddedness (spam rings score
    near-zero AA despite high degree).

    Pair generation pivots on the common neighbor z (the q223
    co-citation shape): pivots with undirected degree > ``max_degree``
    are EXCLUDED before the self-join — a pinned contract, not
    best-effort, because a 10^6-degree hub would emit 5*10^11 pairs
    through one reducer; per-pivot fan-out is bounded by cap^2/2.

    Determinism: Adamic-Adar terms quantize per-pivot to int64 micro
    units BEFORE the cross-row sum (``aa_micro = round(1e6/ln(deg_z))``
    — the q226 lp_micro recipe; deg_z >= 2 always, since a pivot needs
    two distinct neighbors, so ln is never 0); Jaccard is an exact
    integer ratio rounded to 6; preferential attachment is pure int64.

    Returns the top-``k`` pairs by (aa_micro DESC, a, b):
    (a, b, cn, jaccard, aa_micro, pref_attach, is_edge)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    deg = sym.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    piv = sym.join(deg, "node").where(F.col("deg") <= max_degree)
    x = piv.select(
        F.col("node").alias("z"), F.col("nbr").alias("pa"), "deg"
    )
    y = piv.select(F.col("node").alias("z"), F.col("nbr").alias("pb"))
    pairs = (
        x.join(y, "z")
        .where(F.col("pa") < F.col("pb"))
        .select(
            F.col("pa").alias("a"),
            F.col("pb").alias("b"),
            F.round(F.lit(1e6) / F.log(F.col("deg")), 0)
            .cast("long")
            .alias("aa_term"),
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum("aa_term").cast("long").alias("aa_micro"),
        )
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    flagged = (
        pairs.join(da, "a")
        .join(db, "b")
        .join(und.withColumn("is_edge", F.lit(True)), ["a", "b"], "left")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
                6,
            ).alias("jaccard"),
            "aa_micro",
            (F.col("deg_a") * F.col("deg_b"))
            .cast("long")
            .alias("pref_attach"),
            F.coalesce("is_edge", F.lit(False)).alias("is_edge"),
        )
    )
    return (
        flagged.orderBy(F.col("aa_micro").desc(), "a", "b").limit(k)
    )


def simrank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 3,
    c_num: int = 4,
    c_den: int = 5,
    scale: int = 10**12,
    k: int = 100,
) -> DataFrame:
    """SimRank structural similarity (Jeh & Widom, KDD 2002: "two
    objects are similar if they are referenced by similar objects") —
    the link-topology twin of content dedup: two pages cited by the
    same (or similar) pages are near-substitutes even when their text
    differs, which surfaces mirror candidates and topical duplicates
    that MinHash cannot see.

    Recurrence: ``s(a,b) = C/(|I(a)||I(b)|) * sum_{i in I(a), j in
    I(b)} s(i,j)`` with ``s(a,a) = 1``; in-neighbor SETS (edges
    de-duplicated), C = ``c_num/c_den`` (default 4/5 = 0.8, the
    paper's choice).  ``n_iter`` PINNED rounds from the diagonal
    (s_0 = identity) — the paper proves iterates rise monotonically to
    the fixpoint, so a truncated run is a uniform lower bound.

    Integer discipline (:func:`pagerank_fixed`): similarities are int64
    in units of 1/scale; each round computes the EXACT integer sum of
    pair states first, then one truncating division
    ``(c_num * sum) div (c_den * |I(a)| * |I(b)|)`` — bit-exact across
    engines, partitionings, and summation orders.

    Scale shape: the pair state is quadratic in the worst case — this
    operator is for COLLAPSED graphs (hosts via
    :func:`collapse_to_hosts`, 10^5-10^6 nodes), never the raw page
    graph; the per-round cost is two hash joins of the state against
    the edge list (fan-out bounded by out-degree) + one map-side-
    combined sum.  State localCheckpoints per round.

    Returns the top-``k`` off-diagonal pairs (a, b, sim_fp) with
    a < b, sim_fp > 0, ordered by (sim_fp DESC, a, b)."""
    e = edges.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct().localCheckpoint()
    ind = e.groupBy("dst").agg(F.count("*").cast("long").alias("ind"))
    diag = nodes.select(
        F.col(nodes.columns[0]).alias("u")
    ).distinct().select(
        "u", F.col("u").alias("v"), F.lit(scale).cast("long").alias("s")
    ).localCheckpoint()
    state = diag
    for _ in range(n_iter):
        summed = (
            state.join(e.select(F.col("src").alias("u"), F.col("dst").alias("a")), "u")
            .join(e.select(F.col("src").alias("v"), F.col("dst").alias("b")), "v")
            .where(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("s").cast("long").alias("_sum"))
        )
        offdiag = (
            summed.join(ind.select(F.col("dst").alias("a"), F.col("ind").alias("ia")), "a")
            .join(ind.select(F.col("dst").alias("b"), F.col("ind").alias("ib")), "b")
            .select(
                F.col("a").alias("u"),
                F.col("b").alias("v"),
                F.expr(f"({c_num} * _sum) div ({c_den} * ia * ib)")
                .cast("long")
                .alias("s"),
            )
            .where(F.col("s") > 0)
        )
        state = diag.unionByName(offdiag).localCheckpoint()
    return (
        state.where(F.col("u") < F.col("v"))
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.col("s").alias("sim_fp"),
        )
        .orderBy(F.col("sim_fp").desc(), "a", "b")
        .limit(k)
    )


def wl_colors(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 3,
) -> DataFrame:
    """Weisfeiler-Leman-style structural color refinement (Weisfeiler &
    Leman 1968; Shervashidze et al., JMLR 2011 WL-kernel form): nodes
    start colored by their undirected degree and each
    round re-color by hashing (own color, aggregated neighbor colors) —
    after k rounds two nodes share a color only if their k-hop
    neighborhoods are structurally alike.  On a crawl graph the color
    CLASSES are the site templates: mirror farms, generated link rings,
    and doorway lattices collapse into a few giant classes that organic
    sites never form (the structural complement to q140's content-hash
    mirror detection).

    Variant pinned here (the scale-correct one): neighbor multisets are
    aggregated COMMUTATIVELY — ``sum(h mod 2^40)`` plus the neighbor
    count over the undirected neighbor colors — instead of the
    classical sorted-multiset concatenation, so the per-round aggregate
    is map-side combinable and a 10^6-degree hub never materializes a
    10^6-element array on one reducer.  The mod-2^40 fold can collide
    where true WL would distinguish (documented trade; sums of <= 2^23
    neighbors stay exact in int64), and duplicate colors DO count
    (unlike an xor fold, which would cancel pairs).  All hashes are the
    repo-standard portable 60-bit md5, so the refinement is bit-exact
    across engines.

    Scale shape: per round ONE hash join of the symmetric edge list
    against the color table + ONE map-side-combined (sum, count)
    aggregate + one projection; colors localCheckpoint per round.

    Returns (id, color) after ``n_iter`` rounds."""
    from .kmv import md5_60bit

    e = edges.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct()
    base = nodes.select(F.col(nodes.columns[0]).alias("id"))
    und = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    sym = und.select(
        F.col("a").alias("id"), F.col("b").alias("nbr")
    ).unionAll(und.select(F.col("b").alias("id"), F.col("a").alias("nbr")))
    sym = sym.localCheckpoint()
    # init color = UNDIRECTED degree, consistent with the undirected
    # refinement below (a directed (out,in) init would break the
    # path-mirror symmetry the refinement itself preserves)
    deg0 = sym.groupBy("id").agg(F.count("*").cast("long").alias("dg"))
    colors = (
        base.join(deg0, "id", "left")
        .select(
            "id",
            md5_60bit(
                F.coalesce("dg", F.lit(0)).cast("string")
            ).alias("color"),
        )
        .localCheckpoint()
    )
    for _ in range(n_iter):
        nbr_agg = (
            sym.join(
                colors.select(
                    F.col("id").alias("nbr"), F.col("color").alias("nc")
                ),
                "nbr",
            )
            .select(
                "id", F.expr("nc % 1099511627776").alias("h")  # mod 2^40
            )
            .groupBy("id")
            .agg(
                F.sum("h").cast("long").alias("hsum"),
                F.count("*").cast("long").alias("hcnt"),
            )
        )
        colors = (
            colors.join(nbr_agg, "id", "left")
            .select(
                "id",
                md5_60bit(
                    F.concat_ws(
                        ":",
                        F.col("color").cast("string"),
                        F.coalesce("hsum", F.lit(0)).cast("string"),
                        F.coalesce("hcnt", F.lit(0)).cast("string"),
                    )
                ).alias("color"),
            )
            .localCheckpoint()
        )
    return colors
