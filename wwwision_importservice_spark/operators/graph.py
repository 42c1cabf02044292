"""Iterative graph analytics: fixed-iteration PageRank over an edge
frame.

The training-data use case is crawl/link-graph quality scoring (a host
or document that many well-ranked hosts point at is worth keeping —
the classic web-corpus curation signal), and the algorithmic point is
the iterative join+aggregate family this engine otherwise lacks:
pointer-doubling connected components (``operators/dedup.py``) iterate
on labels; PageRank iterates on mass.

**Fixed-point integer arithmetic.** Ranks are carried as BIGINT
micro-units (``unit`` = 1e12 by default), and every division is exact
integer division (``DIV`` in Spark, ``//`` in DuckDB). Float PageRank
cannot be hash-checked across engines — a distributed sum of doubles
depends on accumulation order — but integer arithmetic is associative,
so the DuckDB oracle matches bit-for-bit at any parallelism. The cost
is a tiny, strictly-bounded mass leak per iteration (each of the E
floor divisions and the two scalar divisions round down): total leak
< (E + 2) units out of 1e12 per iteration, far below any ranking
decision threshold. Standard damping: rank' = (1-d)/N + d * (inflow +
dangling_mass/N), d = damping_num/damping_den.

Scale shape (per iteration): one shuffle of the rank frame on node to
meet the edge frame's src, one hash aggregate on dst, and a 1-row
dangling-mass aggregate broadcast back — O(E) rows moved per
iteration, no collect of anything wider than that scalar. Out-degree
rides the rank frame as a carried ``_deg`` column (r14): shares and
dangling mass are FILTERS of that one frame, not joins against a
separate degree table — the previous shape paid an extra inner join
(shares) and an anti join (dangling) per iteration.

**Materialization is mandatory, not optional.** An iterative
dataflow that stays lazy replays its whole prefix on every reference:
with K iterations the edge derivation would be recomputed O(3^K)
times (each iteration references the previous ranks three ways —
shares, dangling, and the final join). So the static frames (edges,
and the node state with folded out-degrees) are localCheckpoint'ed
once up front, and the
rank frame is localCheckpoint'ed every ``checkpoint_every``
iterations (default 1 — every iteration, the standard Pregel/GraphX
discipline). localCheckpoint stores blocks on executors: fast, but
lost on executor failure — a long production run on a real cluster
should call ``spark.sparkContext.setCheckpointDir`` and switch the
``.localCheckpoint()`` calls to reliable ``.checkpoint()``; at the
scale this sandbox tests, local is the right trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNIT = 10**12

__all__ = ["pagerank", "pagerank_converged", "pagerank_py"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    damping_num: int = 85,
    damping_den: int = 100,
    unit: int = UNIT,
    node_col: str = "node",
    rank_col: str = "rank_u",
    checkpoint_every: int | None = 1,
) -> DataFrame:
    """PageRank over distinct directed edges; returns (node, rank_u)
    with rank_u in integer ``unit``-ths.

    ``edges`` should be distinct (src, dst) pairs — duplicate edges
    count as parallel edges (they add weight). The node set is the
    union of both endpoint columns; nodes with no out-edges are
    dangling and redistribute their mass uniformly.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if not (damping_den > 0 and 0 <= damping_num <= damping_den):
        raise ValueError(
            f"damping {damping_num}/{damping_den} must satisfy "
            "0 <= num <= den, den > 0"
        )
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    if iterations > 0:
        # static across iterations and referenced O(iterations) times —
        # materialize ONCE (see module docstring: lazy iteration replays
        # the edge derivation exponentially often)
        e = e.localCheckpoint()
    # Out-degree is FOLDED INTO the node state once (r14 optimization —
    # guide §2.4 "remove shuffles outright"): the previous shape joined
    # the rank frame against a separate deg table TWICE per iteration
    # (an inner join for shares and an anti join for dangling mass).
    # With ``_deg`` carried as a column of the rank frame, shares and
    # dangling become FILTERS of the one frame — two joins and their
    # exchanges disappear from every iteration, at the cost of one long
    # column riding the rank frame. Values are bit-identical: ``_deg``
    # is the same count, the arithmetic is untouched (pinned by the
    # pagerank_py differential tests).
    #
    # The node state itself is ONE aggregation over the tagged endpoint
    # union (r14, second pass — guide §2.4 again): the previous
    # union→distinct→groupBy(_src)→left-join shape shuffled the
    # endpoint frame twice and joined, where summing a src-tag per
    # endpoint computes the same (node, _deg) in a single exchange —
    # ``nullif(sum, 0)`` restores the join's NULL for dangling nodes
    # (a node with any out-edge has _deg > 0, so 0 ⇔ no out-edges).
    nd = (
        e.select(F.col("_src").alias(node_col), F.lit(1).alias("_out"))
        .union(e.select(F.col("_dst").alias(node_col), F.lit(0).alias("_out")))
        .groupBy(node_col)
        .agg(F.nullif(F.sum("_out"), F.lit(0)).alias("_deg"))
    )
    # N is ONE scalar (metadata-scale, same class as the SCD2 run-seq
    # reads): the node count parameterizes every per-row expression
    # below, so a literal beats threading a 1-row crossJoin through K
    # iterations of codegen. It rides the nd materialization as an
    # observe() metric — no dedicated count job (r14).
    if iterations > 0:
        from pyspark.sql import Observation

        obs = Observation()
        nd = nd.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        n = int(obs.get["n"])
    else:
        n = nd.count()
    if n == 0:
        return nd.select(node_col).withColumn(rank_col, F.lit(0).cast("long"))

    ranks = nd.withColumn(rank_col, F.lit(unit // n).cast("long"))
    for it in range(iterations):
        ranks = _pagerank_step(
            e, nd, n, ranks,
            damping_num=damping_num, damping_den=damping_den, unit=unit,
            node_col=node_col, rank_col=rank_col,
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            # each iteration references `ranks` three ways (shares,
            # dangling, final join): without this the plan triples per
            # iteration. Eager but local (no HDFS dir needed).
            ranks = ranks.localCheckpoint()
    return ranks.select(node_col, rank_col)


def pagerank_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    tol_units: int = 10**6,
    max_iterations: int = 50,
    **kwargs,
) -> tuple[DataFrame, dict]:
    """Production mode: iterate :func:`pagerank` one step at a time
    until the L1 rank change drops below ``tol_units`` (in rank
    micro-units; the 1e6 default is 1e-6 of total mass) or
    ``max_iterations`` is hit.

    Returns ``(ranks, stats)`` with ``stats = {"iterations", "delta_u",
    "converged"}``. The step carries the input rank, so the L1 delta is
    an ``observe()`` metric on the step's ``localCheckpoint`` action:
    convergence tracking adds zero jobs per iteration. Integer arithmetic makes the trajectory — and therefore
    the stopping iteration — deterministic across runs and engines,
    unlike float PageRank where the stopping point can flap on
    accumulation order right at the threshold.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    unit = kwargs.get("unit", UNIT)
    node_col = kwargs.get("node_col", "node")
    rank_col = kwargs.get("rank_col", "rank_u")
    # setup mirrors pagerank(): static frames materialized ONCE — an
    # unconditional-convergence loop must never re-derive edges per step
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    e = e.localCheckpoint()
    # degree folded into the node state via the single tagged-union
    # aggregation, and n riding the checkpoint as an observe() metric —
    # both same as pagerank() (r14)
    from pyspark.sql import Observation

    obs = Observation()
    nd = (
        e.select(F.col("_src").alias(node_col), F.lit(1).alias("_out"))
        .union(e.select(F.col("_dst").alias(node_col), F.lit(0).alias("_out")))
        .groupBy(node_col)
        .agg(F.nullif(F.sum("_out"), F.lit(0)).alias("_deg"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n = int(obs.get["n"])
    if n == 0:
        empty = nd.select(node_col).withColumn(rank_col, F.lit(0).cast("long"))
        return empty, {"iterations": 0, "delta_u": 0, "converged": True}

    ranks = nd.withColumn(rank_col, F.lit(unit // n).cast("long")).localCheckpoint()
    delta = None
    it = 0
    for it in range(1, max_iterations + 1):
        # the step carries the input rank as _prev (left side of its
        # contribution join is the rank frame itself), so the L1 delta
        # rides the checkpoint action as an observe() metric — zero
        # extra jobs and no per-iteration ranks-vs-next join
        obs_d = Observation()
        nxt = (
            _pagerank_step(
                e, nd, n, ranks, node_col=node_col, rank_col=rank_col,
                carry_prev=True, **{
                    k: v for k, v in kwargs.items()
                    if k in ("damping_num", "damping_den", "unit")
                }
            )
            .observe(
                obs_d,
                F.sum(F.abs(F.col(rank_col) - F.col("_prev"))).alias("d"),
            )
            .drop("_prev")
            .localCheckpoint()
        )
        delta = obs_d.get["d"]
        ranks = nxt
        if delta is not None and delta < tol_units:
            return ranks.select(node_col, rank_col), {
                "iterations": it, "delta_u": delta, "converged": True
            }
    return ranks.select(node_col, rank_col), {
        "iterations": it, "delta_u": delta, "converged": False
    }


def _pagerank_step(
    e: DataFrame,
    nd: DataFrame,
    n: int,
    ranks: DataFrame,
    damping_num: int = 85,
    damping_den: int = 100,
    unit: int = UNIT,
    node_col: str = "node",
    rank_col: str = "rank_u",
    carry_prev: bool = False,
) -> DataFrame:
    """One recurrence step over pre-materialized static frames — LAZY
    (callers decide when to checkpoint; both loops do, per their own
    policy, because each step references its result three ways).

    ``nd`` is the node state WITH out-degree (``(node, _deg)``, _deg
    NULL for dangling nodes) and ``ranks`` carries the same ``_deg``
    column — so shares and dangling mass are filters of the rank frame
    instead of joins against a separate degree table (r14: two joins
    per iteration removed; see :func:`pagerank`). Returns
    ``(node, _deg, rank)`` so the next step can filter again.

    ``carry_prev`` (r15): additionally return the INPUT rank as
    ``_prev``, by making ``ranks`` (same node set and ``_deg`` as
    ``nd``, by construction) the left side of the contribution join.
    The convergence loop's L1 delta then rides the step's own
    checkpoint as an ``observe()`` metric instead of costing a
    dedicated ranks-vs-next join + aggregate job per iteration."""
    base_u = (damping_den - damping_num) * unit // (damping_den * n)
    shares = ranks.filter(F.col("_deg").isNotNull()).select(
        F.col(node_col).alias("_src"),
        F.expr(f"{rank_col} DIV _deg").alias("_share_u"),
    )
    contrib = e.join(shares, on="_src").groupBy("_dst").agg(
        F.sum("_share_u").alias("_s")
    )
    dangling = ranks.filter(F.col("_deg").isNull()).agg(
        F.coalesce(F.sum(rank_col), F.lit(0)).alias("_dang")
    )
    left = ranks if carry_prev else nd
    carried = (
        [F.col(rank_col).alias("_prev")] if carry_prev else []
    )
    out = (
        left.join(contrib, left[node_col] == contrib["_dst"], "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            F.col(node_col),
            F.col("_deg"),
            *carried,
            F.expr(
                f"CAST({base_u} + ({damping_num} * (coalesce(_s, 0)"
                f" + _dang DIV {n})) DIV {damping_den} AS BIGINT)"
            ).alias(rank_col),
        )
    )
    return out


def pagerank_py(
    edges: list[tuple],
    iterations: int = 2,
    damping_num: int = 85,
    damping_den: int = 100,
    unit: int = UNIT,
) -> dict:
    """Reference implementation of the EXACT same fixed-point recurrence
    in pure Python — the differential-test twin of :func:`pagerank`.
    Integer arithmetic is order-independent, so agreement is exact.
    """
    edges = list(edges)
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    if n == 0:
        return {}
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    base_u = (damping_den - damping_num) * unit // (damping_den * n)
    ranks = {v: unit // n for v in nodes}
    for _ in range(iterations):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += ranks[s] // deg[s]
        dang = sum(r for v, r in ranks.items() if v not in deg)
        ranks = {
            v: base_u + (damping_num * (inflow[v] + dang // n)) // damping_den
            for v in nodes
        }
    return ranks
