"""Connected components over a pair/edge table — the canonicalization
step of a dedup pipeline at 100 TB: near-dup PAIRS (minhash/simhash/
phash band joins) become duplicate CLUSTERS, from which one canonical
document per cluster (the min-id root) is kept.

`connected_components` is iterative min-label propagation with DEFERRED
pointer jumping: each round, every node adopts the smallest label among
itself and its neighbours (one shuffle: join + groupBy-min); from round
``jump_after`` on, labels are additionally path-compressed through the
label table itself (``l ← label(l)``, one O(nodes) self-join) — the
two-phase shape of the star-contraction family (Kiveris et al. 2014:
the propagation step is its small-star half, the jump its large-star
half), converging in O(log diameter) rounds.  Near-dup graphs are dense
near-cliques that converge in 2-4 plain rounds and never reach the jump
(it costs them 28-49% when always-on, measured); the deferred jump is
what makes high-diameter inputs — raster region blobs, long trajectory
chains — converge within a fixed ``max_iter``.
Convergence is checked with a changed-label count per round (an action;
each round's labels are persisted and the previous round's unpersisted,
so lineage stays flat and no recompute chain builds up).

Deterministic (min over int64 labels), so the DuckDB oracle reproduces
the exact clustering via a recursive-CTE transitive closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class plan_snapshotter:
    """Per-round lineage truncation for iterative algorithms, shared by
    :func:`connected_components` and ``spatial.d8_basins`` — returns a
    callable snapping a DataFrame via ``localCheckpoint`` (fast, NOT
    executor-loss-tolerant) or reliable ``checkpoint(dir)`` (use at
    100 TB).  A context manager because ``setCheckpointDir`` is GLOBAL
    to the SparkContext: the previous dir is restored on exit so later
    ``df.checkpoint()`` calls in the session are not silently
    redirected."""

    def __init__(self, spark, checkpoint_dir: str | None):
        self._spark = spark
        self._dir = checkpoint_dir
        self._prev = None

    def __enter__(self):
        if self._dir is not None:
            opt = self._spark.sparkContext._jsc.sc().getCheckpointDir()
            self._prev = opt.get() if opt.isDefined() else None
            self._spark.sparkContext.setCheckpointDir(self._dir)
            return lambda df: df.checkpoint(eager=True)
        return lambda df: df.localCheckpoint(eager=True)

    def __exit__(self, *exc):
        if self._dir is not None and self._prev is not None:
            self._spark.sparkContext.setCheckpointDir(self._prev)
        return False


def triangle_counts(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over an undirected edge table — the community-structure / link-spam
    signal of the graph analytics toolbox.

    Algorithm (the classic distributed triangle count, cf. Suri &
    Vassilvitskii 2011 "Counting triangles and the curse of the last
    reducer"): orient every edge from its lower to its higher endpoint
    under the TOTAL order (degree, id) — the oriented out-degree is then
    bounded by O(√m) regardless of hub skew, so the wedge join
    ``o(u→v) ⋈ o(u→w)`` fans out to Σ C(outdeg, 2) = O(m^1.5) worst
    case instead of the Σ C(deg, 2) a hub would cost un-oriented.  Each
    triangle {a,b,c} is generated exactly ONCE (as the wedge at its
    order-minimal corner closed by the oriented edge (v→w)), so corner
    counts are exact integers independent of the enumeration strategy —
    a plain a<b<c 3-way self-join (the DuckDB oracle) reproduces them
    bit-for-bit.

    Plan at scale: degree table = one hash aggregate over the exploded
    endpoints; orientation = two equi-joins of edges against degrees
    (AQE broadcasts when small); wedge join + closure join shuffle on
    node keys only — never an all-pairs step.  The clustering
    coefficient 2T/(d·(d−1)) is a fixed-order double expression (one
    promotion-multiply per operand, one division) so any engine replays
    it bit-identically; d ≤ 1 rows are NULL (guarded, ANSI-safe).

    Output: ``(v, degree, n_triangles, clustering)`` — one row per node
    appearing in any edge (zero-triangle nodes included).
    """
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        e.select(F.col("lo").alias("v"))
        .unionByName(e.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # orient lo→hi edges under the (degree, id) total order
    dl = deg.select(F.col("v").alias("lo"), F.col("d").alias("d_lo"))
    dh = deg.select(F.col("v").alias("hi"), F.col("d").alias("d_hi"))
    ed = e.join(dl, "lo").join(dh, "hi")
    fwd = (F.col("d_lo") < F.col("d_hi")) | (
        (F.col("d_lo") == F.col("d_hi")) & (F.col("lo") < F.col("hi"))
    )
    o = ed.select(
        F.when(fwd, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(fwd, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
        F.when(fwd, F.col("d_hi")).otherwise(F.col("d_lo")).alias("d_dst"),
    )
    # wedges at the order-minimal corner: (u→v), (u→w) with v before w
    # under the same (degree, id) order — each unordered {v, w} once
    w1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                  F.col("d_dst").alias("dv"))
    w2 = o.select(F.col("src").alias("u"), F.col("dst").alias("w"),
                  F.col("d_dst").alias("dw"))
    wedge = w1.join(w2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closure = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedge.join(closure, ["v", "w"]).select("u", "v", "w")
    corners = (
        tri.select(F.col("u").alias("v"))
        .unionByName(tri.select("v"))
        .unionByName(tri.select(F.col("w").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("t"))
    )
    out = deg.join(corners, "v", "left").select(
        "v",
        F.col("d").alias("degree"),
        F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("d") > 1,
            (F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0)))
            / (F.col("d").cast("double") * (F.col("d") - F.lit(1)).cast("double")),
        ).alias("clustering"),
    )
    return out


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    on_nonconverged: str = "raise",
    jump_after: int = 3,
) -> DataFrame:
    """Label every node of the (undirected) edge table with its
    component's minimum node id.

    Output: ``(v, l)`` — one row per node appearing in any edge, ``l``
    the component root.  Singleton nodes (no edges) are not emitted;
    union the node table back in if they are needed.

    Checkpointing: each round's labels must TRUNCATE the logical plan —
    persisted frames keep their full lineage, so Catalyst re-analyzes a
    plan that doubles per iteration (the classic iterative-Spark pitfall)
    and the upstream edge producer (e.g. a simhash band join) reappears
    in every round's plan.  Two modes:

    - ``checkpoint_dir=None`` (default): ``localCheckpoint`` — blocks
      live on executor local storage.  Fastest; right for local mode and
      for clusters where a lost executor may simply rerun the job.  NOT
      executor-loss-tolerant: a dead executor loses its blocks and the
      truncated lineage cannot recompute them.
    - ``checkpoint_dir=path``: reliable ``df.checkpoint()`` to a
      fault-tolerant filesystem (HDFS/S3).  Each round pays a write+read
      of the label table (O(nodes), tiny next to the edge table), and a
      1000-executor run survives executor loss.  Use this at 100 TB.

    Convergence: each round does one min-label propagation step along
    edges; from round ``jump_after`` on it ADDS a pointer-jumping step on
    the label table itself (``l ← label(l)``, a single O(nodes)
    self-join — labels only ever decrease, so composing two hops is
    always valid).  Jumping roughly doubles the distance a component's
    minimum has travelled per round, so convergence is O(log diameter)
    rounds instead of the plain algorithm's O(diameter) — a raster blob
    of diameter 10⁵ converges in ~20 rounds where plain propagation
    needs 10⁵ (found live: the sf0.1 registry sweep's `raster_regions`
    blew the 50-round cap that every near-clique dedup graph satisfies
    trivially).  The jump is DEFERRED (default ``jump_after=3``) because
    the dominant workload — near-dup clusters — is near-clique graphs
    that converge in 2-4 plain rounds; measured at sf0.1, paying the
    extra self-join from round 1 cost those graphs 28-49% wall time for
    zero round savings, while a diameter-2000 chain still converges in
    ~13 rounds with the deferred jump.  A component whose log-diameter
    still exceeds ``max_iter`` must not silently return WRONG clusters,
    so ``on_nonconverged`` controls the failure mode: ``"raise"``
    (default, ValueError) or ``"warn"`` (log loudly, return the partial
    labels).
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}")
    spark = edges.sparkSession
    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        # setCheckpointDir is GLOBAL to the SparkContext — remember the
        # previous dir and restore it after the run, so this call does
        # not silently redirect every later df.checkpoint() in the
        # session.  Round checkpoints are O(nodes) files under
        # checkpoint_dir that Spark only deletes with
        # spark.cleaner.referenceTracking.cleanCheckpoints=true — point
        # checkpoint_dir at a per-job scratch path and remove it after
        # the job on long-running clusters.
        opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        prev_ckpt_dir = opt.get() if opt.isDefined() else None
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _snap(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _snap(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    try:
        e = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        bi = _snap(
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct()
        )
        labels = _snap(
            bi.select(F.col("src").alias("v")).distinct().withColumn("l", F.col("v"))
        )

        changed = -1
        for rnd in range(max_iter):
            msgs = bi.join(labels, bi["src"] == labels["v"]).select(
                F.col("dst").alias("v"), "l"
            )
            prop = labels.unionByName(msgs).groupBy("v").agg(F.min("l").alias("l"))
            if rnd >= jump_after:
                # pointer jumping: l ← label(l).  Every label is a node
                # id (initial labels are the node set; min keeps node
                # ids), so the lookup hits; left join + coalesce guards
                # the invariant anyway.  label(l) ≤ l always (l's own row
                # min'd over a set containing l), so the composed hop
                # only improves labels.
                jmp = prop.select(F.col("v").alias("_jv"), F.col("l").alias("_jl"))
                prop = prop.join(jmp, prop["l"] == jmp["_jv"], "left").select(
                    "v", F.coalesce("_jl", "l").alias("l")
                )
            new = _snap(prop)
            changed = (
                new.join(labels.withColumnRenamed("l", "l_old"), "v")
                .filter(F.col("l") != F.col("l_old"))
                .count()
            )
            labels = new
            if changed == 0:
                break
    finally:
        if checkpoint_dir is not None and prev_ckpt_dir is not None:
            spark.sparkContext.setCheckpointDir(prev_ckpt_dir)
    if changed != 0:
        # the remediation hint must reflect what actually ran: with
        # jump_after >= max_iter, pointer jumping never engaged, so the
        # run was plain O(diameter) propagation and "~log₂(diameter)
        # rounds" would mislead the caller into a too-small max_iter
        if max_iter > jump_after:
            hint = (
                f"Raise max_iter (~log₂(diameter) rounds needed with "
                f"pointer jumping, which engaged from round {jump_after})."
            )
        else:
            hint = (
                f"Pointer jumping NEVER engaged (jump_after={jump_after} >= "
                f"max_iter={max_iter}), so this was plain O(diameter) "
                f"propagation; raise max_iter above jump_after to get the "
                f"O(log diameter) jumping path."
            )
        msg = (
            f"connected_components did NOT converge in max_iter={max_iter} "
            f"rounds ({changed} labels still changing) — labels are WRONG "
            f"for the unconverged components. " + hint
        )
        if on_nonconverged == "raise":
            raise ValueError(msg)
        import logging

        logging.getLogger(__name__).warning(msg)
    return labels


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str | None = None,
    n_rounds: int = 5,
    quant: int = 10**6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Integer-quantized weighted PageRank over a directed edge table,
    run for a FIXED number of power-iteration rounds — the node-
    importance primitive (hub cells of a flow graph, canonical docs of
    a link graph).

    Exactness contract: float PageRank is accumulation-order dependent
    (a parallel Σ of doubles), so every quantity here is an exact
    int64 — ranks start at ``quant`` per node, an edge carries
    ``(rank·w) DIV w_out``, and each round ends with
    ``rank' = (15·quant) DIV 100 + (85·Σ contrib) DIV 100`` (damping
    0.85 as an integer quotient).  With a fixed round count the whole
    computation replays bit-for-bit as unrolled SQL CTEs (the oracle),
    and results are independent of partitioning.  DIV truncation bleeds
    a vanishing mass fraction per round (< out-degree ulps of quant);
    dangling-node mass is dropped (documented simplification — add a
    sink redistribution round if conservation matters).

    Plan at scale: the weighted out-degree joins the edge table ONCE
    (static across rounds — persist/bucket it so every round's
    rank-join reuses the layout); each round is one co-partitioned
    equi-join on the node key + one hash aggregate, with per-round
    lineage truncation via :class:`plan_snapshotter`
    (``checkpoint_dir`` = the executor-loss-tolerant mode, the
    ``connected_components`` contract).  Fixed rounds — no convergence
    action needed.

    Output: ``(v, rank_q)`` — one row per node, rank in ``quant`` units
    (uniform teleport mass = quant per node).
    """
    if n_rounds < 0:
        raise ValueError(f"n_rounds must be >= 0, got {n_rounds}")
    w = F.col(w_col) if w_col is not None else F.lit(1)
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    out_tot = e.groupBy("src").agg(F.sum("w").alias("wout"))
    base = (15 * quant) // 100
    spark = edges.sparkSession
    with plan_snapshotter(spark, checkpoint_dir) as snap:
        e2 = snap(e.join(out_tot, "src"))
        nodes = snap(
            e2.select(F.col("src").alias("v"))
            .unionByName(e2.select(F.col("dst").alias("v")))
            .distinct()
        )
        rank = snap(nodes.withColumn("rank_q", F.lit(quant).cast("long")))
        for _ in range(n_rounds):
            contrib = e2.join(rank, e2["src"] == rank["v"]).select(
                F.col("dst").alias("v"),
                F.expr("(rank_q * w) DIV wout").alias("c"),
            )
            inq = contrib.groupBy("v").agg(F.sum("c").alias("s"))
            rank = snap(
                nodes.join(inq, "v", "left").select(
                    "v",
                    (
                        F.lit(base)
                        + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
                    ).alias("rank_q"),
                )
            )
    return rank


def sql_pagerank(
    edges_cte: str,
    n_rounds: int = 5,
    quant: int = 10**6,
) -> str:
    """Unrolled-CTE SQL twin of :func:`pagerank`.  ``edges_cte`` must
    select ``(src, dst, w)`` (duplicates allowed — collapsed here)."""
    base = (15 * quant) // 100
    parts = [
        f"eraw AS ({edges_cte})",
        "e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM eraw GROUP BY 1, 2)",
        "outt AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1)",
        "e2 AS (SELECT e.src, e.dst, e.w, outt.wout FROM e JOIN outt USING (src))",
        "nodes AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e2 "
        "UNION ALL SELECT dst AS v FROM e2))",
        f"r0 AS (SELECT v, CAST({quant} AS BIGINT) AS rank_q FROM nodes)",
    ]
    for k in range(1, n_rounds + 1):
        parts.append(
            f"c{k} AS (SELECT e2.dst AS v, "
            f"CAST(sum((r.rank_q * e2.w) // e2.wout) AS BIGINT) AS s "
            f"FROM e2 JOIN r{k - 1} r ON e2.src = r.v GROUP BY 1)"
        )
        parts.append(
            f"r{k} AS (SELECT n.v, CAST({base} + (85 * coalesce(c{k}.s, 0)) // 100 "
            f"AS BIGINT) AS rank_q FROM nodes n LEFT JOIN c{k} ON n.v = c{k}.v)"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT v, rank_q FROM r{n_rounds}"


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "v",
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Multi-source BFS hop distance over a directed edge table — the
    service-area / cost-distance primitive (hops from the nearest seed:
    nearest-hotspot distance fields, k-hop neighborhoods, reachability).

    Frontier algorithm, each node settled EXACTLY once: round r joins
    the r−1 frontier against the edge table (one co-partitioned
    equi-join on the node key), dedups, anti-joins the visited set, and
    appends the survivors at distance r.  Work is Σ |frontier|·out-deg
    = O(|E|) total across all rounds — not O(|E|·rounds) like
    min-label relaxation.  Rounds = the graph's seed-eccentricity; the
    loop stops at the first empty frontier, and ``on_nonconverged``
    ("raise"/"warn") guards truncation at ``max_rounds`` (returning
    silently would hand back a plausible but WRONG partial field).
    Per-round lineage truncation via :class:`plan_snapshotter`
    (``checkpoint_dir`` = executor-loss-tolerant mode).

    Deterministic (hop counts are exact ints), so a bounded-depth
    recursive-CTE twin replays it: ``min(d)`` per node over the seed
    walk equals the BFS distance.

    Output: ``(v, hops)`` — one row per REACHED node (seeds at 0);
    unreachable nodes are absent.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}"
        )
    spark = edges.sparkSession
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    with plan_snapshotter(spark, checkpoint_dir) as snap:
        e = snap(e)
        visited = snap(
            seeds.select(F.col(seed_col).alias("v"))
            .distinct()
            .withColumn("hops", F.lit(0).cast("long"))
        )
        frontier = visited
        exhausted = False
        for r in range(1, max_rounds + 1):
            nxt = (
                frontier.join(e, frontier["v"] == e["src"])
                .select(F.col("dst").alias("v"))
                .distinct()
                .join(visited.select("v"), "v", "left_anti")
                .withColumn("hops", F.lit(r).cast("long"))
            )
            nxt = snap(nxt)
            if nxt.isEmpty():
                exhausted = True
                break
            visited = snap(visited.unionByName(nxt))
            frontier = nxt
    if not exhausted:
        # the last frontier may still have unexpanded neighbors
        remaining = (
            frontier.join(e, frontier["v"] == e["src"])
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
            .count()
        )
        if remaining:
            msg = (
                f"bfs_hops did NOT exhaust the reachable set in "
                f"max_rounds={max_rounds} rounds ({remaining} nodes still "
                f"unreached) — distances are a TRUNCATED field."
            )
            if on_nonconverged == "raise":
                raise ValueError(msg)
            _log_warning(msg)
    return visited


def _log_warning(msg: str) -> None:
    import logging

    logging.getLogger(__name__).warning(msg)


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
    seed_col: str = "v",
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Multi-source single-source-shortest-path over POSITIVE integer
    edge weights — distributed Bellman-Ford relaxation, the weighted
    companion to :func:`bfs_hops` (travel-cost fields, weighted
    reachability).

    Each round relaxes the CHANGED frontier only: nodes whose distance
    improved last round send ``dist + w`` along their out-edges (one
    co-partitioned equi-join), and a min-aggregate against the current
    label table keeps improvements.  Convergence = a round with zero
    improvements, reached within (max shortest-path HOP count) rounds —
    the ``connected_components`` contract, incl. the raise/warn guard
    at ``max_rounds`` (a truncated run returns upper bounds, not
    distances).  Distances are exact int64 (no float accumulation), so
    a bounded-depth recursive-CTE twin (min over enumerated walks)
    replays them bit-for-bit.

    Weights must be > 0 (validated per-partition inside the plan via a
    codegen guard: a negative weight makes Bellman-Ford need |V|−1
    full rounds and breaks the frontier optimization).

    Output: ``(v, dist)`` per reached node; unreachable nodes absent.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}"
        )
    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.when(F.col(w_col) > 0, F.col(w_col).cast("long")).otherwise(
            F.raise_error(F.lit("sssp_weighted: edge weight must be > 0"))
        ).alias("w"),
    )
    with plan_snapshotter(spark, checkpoint_dir) as snap:
        e = snap(e)
        dist = snap(
            seeds.select(F.col(seed_col).alias("v"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
        )
        frontier = dist
        converged = False
        for _ in range(max_rounds):
            cand = (
                frontier.join(e, frontier["v"] == e["src"])
                .select(F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("d"))
                .groupBy("v")
                .agg(F.min("d").alias("d"))
            )
            merged = snap(
                dist.join(cand, "v", "full_outer").select(
                    "v",
                    F.least(
                        F.coalesce(F.col("dist"), F.col("d")),
                        F.coalesce(F.col("d"), F.col("dist")),
                    ).alias("dist"),
                    (
                        F.col("dist").isNull()
                        | (F.col("d").isNotNull() & (F.col("d") < F.col("dist")))
                    ).alias("__improved"),
                )
            )
            frontier = merged.filter(F.col("__improved")).select("v", "dist")
            dist = merged.select("v", "dist")
            if frontier.isEmpty():
                converged = True
                break
    if not converged:
        msg = (
            f"sssp_weighted did NOT converge in max_rounds={max_rounds} "
            f"relaxation rounds — distances are UPPER BOUNDS for some nodes."
        )
        if on_nonconverged == "raise":
            raise ValueError(msg)
        _log_warning(msg)
    return dist


def common_neighbor_scores(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    min_common: int = 1,
) -> DataFrame:
    """Link prediction by neighborhood overlap: for every NON-edge pair
    with ≥ ``min_common`` common neighbors, the common-neighbor count
    plus the quantized neighborhood Jaccard — "which near-dup edges did
    the candidate generator miss?" (Liben-Nowell & Kleinberg 2003's
    strongest simple predictors, integer-exact).

      cn(a,b)     = |Γ(a) ∩ Γ(b)|                 (exact int)
      jacc_q(a,b) = (cn · 10⁶) DIV (d_a + d_b − cn)

    Integer quotients on purpose (the `term_pmi` convention): a float
    Jaccard ranks near-ties engine-dependently; DIV cannot.

    Plan at scale: one wedge self-join of the undirected edge table on
    the shared-neighbor key — fan-out Σ deg(n)², the standard wedge
    cost; for hub-skewed graphs cap or salt hot nodes first (the
    degree-orientation trick of :func:`triangle_counts` does not apply:
    BOTH wedge arms are needed here since cn is symmetric but unordered
    pairs must still enumerate from every middle node).  Then one
    anti-join removes existing edges and two plain degree joins attach
    d_a/d_b — node-keyed shuffles only, never all-pairs.

    Output: ``(a, b, cn, d_a, d_b, jacc_q)`` with a < b.
    """
    und = (
        edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("t"))
        .union(edges.select(F.col(b_col).alias("s"), F.col(a_col).alias("t")))
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    deg = und.groupBy(F.col("s").alias("v")).agg(F.count("*").alias("d"))
    w1 = und.select(F.col("s").alias("n"), F.col("t").alias("a"))
    w2 = und.select(F.col("s").alias("n"), F.col("t").alias("b"))
    wedges = (
        w1.join(w2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
        .filter(F.col("cn") >= F.lit(min_common))
    )
    existing = und.filter(F.col("s") < F.col("t")).select(
        F.col("s").alias("a"), F.col("t").alias("b")
    )
    cand = wedges.join(existing, ["a", "b"], "left_anti")
    return (
        cand.join(deg.select(F.col("v").alias("a"), F.col("d").alias("d_a")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("d_b")), "b")
        .select(
            "a", "b", "cn", "d_a", "d_b",
            F.expr("(cn * 1000000) DIV (d_a + d_b - cn)").alias("jacc_q"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    k: int = 2,
    n_rounds: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge table — the
    density-core extractor (spam rings, tight near-dup cliques, the
    "core" of a co-visit graph).  Each round removes every node whose
    CURRENT degree is < k, then re-derives degrees on the surviving
    subgraph; after enough rounds the fixpoint is exactly the classic
    k-core.

    Exactness contract (the `pagerank` convention): the round count is
    FIXED, so the whole computation replays bit-for-bit as unrolled SQL
    CTEs (:func:`sql_kcore_peel`) regardless of convergence — and
    peeling is confluent (removing a node never revives another), so
    any round count ≥ the peel depth yields the true k-core.  Callers
    wanting a convergence guarantee compare round R and R−1 sizes (one
    extra count each) or just over-provision rounds: each non-final
    round removes ≥ 1 node, so ``n_rounds`` ≥ |peeled nodes| always
    converges.

    Plan at scale: per round ONE hash aggregate (degrees) + two
    semi-joins of the edge table against the ≤nodes-sized keep list —
    node-keyed shuffles only; per-round lineage truncation via
    :class:`plan_snapshotter` (``checkpoint_dir`` = executor-loss-
    tolerant mode).

    Output: ``(v, degree)`` — surviving nodes with their degree inside
    the peeled subgraph.
    """
    if n_rounds < 0:
        raise ValueError(f"n_rounds must be >= 0, got {n_rounds}")
    und = (
        edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("t"))
        .union(edges.select(F.col(b_col).alias("s"), F.col(a_col).alias("t")))
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    spark = edges.sparkSession
    with plan_snapshotter(spark, checkpoint_dir) as snap:
        e = snap(und)
        for _ in range(n_rounds):
            keep = (
                e.groupBy("s").agg(F.count("*").alias("d"))
                .filter(F.col("d") >= F.lit(k))
                .select(F.col("s").alias("v"))
            )
            e = snap(
                e.join(keep.withColumnRenamed("v", "s"), "s", "left_semi")
                .join(keep.withColumnRenamed("v", "t"), "t", "left_semi")
                .select("s", "t")
            )
    return e.groupBy(F.col("s").alias("v")).agg(F.count("*").alias("degree"))


def sql_kcore_peel(edges_cte: str, k: int = 2, n_rounds: int = 8) -> str:
    """Unrolled-CTE SQL twin of :func:`kcore_peel`.  ``edges_cte`` must
    select ``(s, t)`` (directed raw pairs; undirected + dedup here).

    Every round CTE is ``AS MATERIALIZED``: each ``e{r}`` is referenced
    three times by round r+1 (the degree aggregate + both semi-join
    arms), so DuckDB's default CTE inlining would re-expand the
    upstream edge producer 3^rounds times — materialization is the SQL
    twin of the engine's per-round ``plan_snapshotter`` truncation."""
    parts = [
        f"eraw AS MATERIALIZED ({edges_cte})",
        "e0 AS MATERIALIZED (SELECT DISTINCT s, t FROM "
        "(SELECT s, t FROM eraw UNION SELECT t, s FROM eraw) u WHERE s <> t)",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"k{r} AS MATERIALIZED (SELECT s AS v FROM e{r - 1} GROUP BY 1 "
            f"HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.s, e.t FROM e{r - 1} e "
            f"JOIN k{r} ka ON ka.v = e.s JOIN k{r} kb ON kb.v = e.t)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT s AS v, CAST(count(*) AS BIGINT) AS degree "
        f"FROM e{n_rounds} GROUP BY 1"
    )


def wl_refinement(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    n_rounds: int = 2,
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement — the iterated
    neighborhood-hashing behind graph fingerprints and GNN
    expressiveness bounds.  Starting from degree labels, each round
    rehashes every node as

      l_{r+1}(v) = h( l_r(v) || '|' || sorted multiset of l_r(neighbors) )

    with the engine's shared position-weighted string hash
    (``functions.text.h0``), so both engines replay the colors
    bit-for-bit.  After enough rounds the color classes are the
    coarsest stable partition (two nodes share a color only if their
    rooted neighborhoods are 1-WL-indistinguishable).

    Plan at scale: per round ONE node-keyed join (labels onto edge
    targets), one collect_list aggregate bounded by degree, one hash —
    all shuffles on the node key.  Fixed ``n_rounds`` (the pagerank
    convention) so the unrolled SQL twin matches exactly; label strings
    are ~20·degree chars, so cap rounds/degree for hub graphs.

    Output: ``(label, n_nodes, min_v)`` — one row per color class.
    """
    from gotrackmaster_spark.functions.text import h0_spark_expr

    und = (
        edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("t"))
        .union(edges.select(F.col(b_col).alias("s"), F.col(a_col).alias("t")))
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    labels = und.groupBy(F.col("s").alias("v")).agg(
        F.count("*").cast("long").alias("label")
    )
    for _ in range(n_rounds):
        nbr = und.join(labels.withColumnRenamed("v", "t"), "t").select(
            F.col("s").alias("v"), F.col("label").alias("nl")
        )
        sigs = nbr.groupBy("v").agg(
            F.expr(
                "concat_ws(',', transform(sort_array(collect_list(nl)), "
                "x -> CAST(x AS STRING)))"
            ).alias("nls")
        )
        joined = sigs.join(labels, "v").withColumn(
            "sig", F.expr("CAST(label AS STRING) || '|' || nls")
        )
        labels = joined.select(
            "v", F.expr(h0_spark_expr("sig")).alias("label")
        )
    return labels.groupBy("label").agg(
        F.count("*").alias("n_nodes"),
        F.min("v").alias("min_v"),
    )


def sql_wl_refinement(edges_cte: str, n_rounds: int = 2) -> str:
    """Unrolled MATERIALIZED-CTE twin of :func:`wl_refinement`;
    ``edges_cte`` selects directed raw pairs ``(s, t)``."""
    from gotrackmaster_spark.functions.text import h0_sql

    parts = [
        f"eraw AS MATERIALIZED ({edges_cte})",
        "und AS MATERIALIZED (SELECT DISTINCT s, t FROM "
        "(SELECT s, t FROM eraw UNION SELECT t, s FROM eraw) u WHERE s <> t)",
        "l0 AS MATERIALIZED (SELECT s AS v, CAST(count(*) AS BIGINT) AS label "
        "FROM und GROUP BY 1)",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT u.s AS v, "
            f"array_to_string(list_transform(list_sort(list(l.label)), "
            f"x -> CAST(x AS VARCHAR)), ',') AS nls "
            f"FROM und u JOIN l{r - 1} l ON l.v = u.t GROUP BY u.s)"
        )
        sig = f"(CAST(l.label AS VARCHAR) || '|' || s{r}.nls)"
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT s{r}.v, {h0_sql(sig)} AS label "
            f"FROM s{r} JOIN l{r - 1} l ON l.v = s{r}.v)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT label, CAST(count(*) AS BIGINT) AS n_nodes, min(v) AS min_v "
        f"FROM l{n_rounds} GROUP BY 1"
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str | None = None,
    n_rounds: int = 5,
    quant: int = 10**6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Personalized PageRank — :func:`pagerank` with the teleport mass
    restricted to a SEED set (``seeds``: one ``v`` column): the random-
    walk-with-restart relevance score behind recommendation and
    similar-node queries ("which cells are reachable-from / gravitate
    toward the hotspots?").

    Same exactness contract as :func:`pagerank`: ranks start at
    ``quant`` on seeds (0 elsewhere), each round is
    ``rank' = seed·(15·quant) DIV 100 + (85·Σ contrib) DIV 100`` with
    integer DIV throughout — fixed rounds unroll into the
    MATERIALIZED-CTE oracle bit-for-bit.  Non-seed dangling mass is
    dropped (as in pagerank).  Same per-round plan: one co-partitioned
    join + one hash aggregate + snapshotter truncation.

    Output: ``(v, rank_q)`` — one row per node, 0 for nodes the walk
    never reaches.
    """
    if n_rounds < 0:
        raise ValueError(f"n_rounds must be >= 0, got {n_rounds}")
    w = F.col(w_col) if w_col is not None else F.lit(1)
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    out_tot = e.groupBy("src").agg(F.sum("w").alias("wout"))
    base = (15 * quant) // 100
    spark = edges.sparkSession
    with plan_snapshotter(spark, checkpoint_dir) as snap:
        e2 = snap(e.join(out_tot, "src"))
        nodes = snap(
            e2.select(F.col("src").alias("v"))
            .unionByName(e2.select(F.col("dst").alias("v")))
            .distinct()
            .join(seeds.select(F.col("v"), F.lit(1).alias("__seed")), "v", "left")
            .select("v", F.coalesce(F.col("__seed"), F.lit(0)).alias("seed"))
        )
        rank = snap(
            nodes.withColumn(
                "rank_q", (F.col("seed") * F.lit(quant)).cast("long")
            ).select("v", "rank_q")
        )
        for _ in range(n_rounds):
            contrib = e2.join(rank, e2["src"] == rank["v"]).select(
                F.col("dst").alias("v"),
                F.expr("(rank_q * w) DIV wout").alias("c"),
            )
            inq = contrib.groupBy("v").agg(F.sum("c").alias("s"))
            rank = snap(
                nodes.join(inq, "v", "left").select(
                    "v",
                    (
                        F.col("seed").cast("long") * F.lit(base)
                        + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
                    ).alias("rank_q"),
                )
            )
    return rank


def sql_personalized_pagerank(
    edges_cte: str,
    seeds_cte: str,
    n_rounds: int = 5,
    quant: int = 10**6,
) -> str:
    """MATERIALIZED unrolled-CTE twin of :func:`personalized_pagerank`.
    ``edges_cte`` selects ``(src, dst, w)``; ``seeds_cte`` selects
    ``(v)``."""
    base = (15 * quant) // 100
    parts = [
        f"eraw AS MATERIALIZED ({edges_cte})",
        "e AS MATERIALIZED (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w "
        "FROM eraw GROUP BY 1, 2)",
        "outt AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wout "
        "FROM e GROUP BY 1)",
        "e2 AS MATERIALIZED (SELECT e.src, e.dst, e.w, outt.wout "
        "FROM e JOIN outt USING (src))",
        f"sd AS MATERIALIZED ({seeds_cte})",
        "nodes AS MATERIALIZED (SELECT n.v, "
        "CASE WHEN sd.v IS NULL THEN 0 ELSE 1 END AS seed "
        "FROM (SELECT DISTINCT v FROM (SELECT src AS v FROM e2 "
        "UNION ALL SELECT dst FROM e2)) n LEFT JOIN sd ON sd.v = n.v)",
        f"r0 AS MATERIALIZED (SELECT v, CAST(seed * {quant} AS BIGINT) AS rank_q "
        f"FROM nodes)",
    ]
    for k in range(1, n_rounds + 1):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e2.dst AS v, "
            f"CAST(sum((r.rank_q * e2.w) // e2.wout) AS BIGINT) AS s "
            f"FROM e2 JOIN r{k - 1} r ON e2.src = r.v GROUP BY 1)"
        )
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT n.v, "
            f"CAST(n.seed * {base} + (85 * coalesce(c{k}.s, 0)) // 100 "
            f"AS BIGINT) AS rank_q FROM nodes n LEFT JOIN c{k} ON n.v = c{k}.v)"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT v, rank_q FROM r{n_rounds}"
