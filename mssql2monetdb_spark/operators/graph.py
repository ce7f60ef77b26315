"""Graph analytics over relational frames: weighted PageRank by power
iteration.

Reference parity: the reference delegates analytics to warehouse SQL;
iterative graph scoring is the one shape plain SQL can't express without a
driver (or a recursive CTE of fixed depth) — re-expressed here as a fixed
number of join+aggregate rounds, the same loop skeleton as
``dedup.connected_components``.

Cross-engine determinism: every per-node incoming sum is a FIXED-ORDER
fold — a plain SUM of doubles would hash differently across engines
because float addition is not associative. Edges are pre-aggregated to
unique (src, dst) pairs so the fold key (src) is unique within each dst
group.

Hub-skew safety (round 11, closes the r10 ``weak``): the fold is
TWO-LEVEL. A single ``collect_list`` per dst materializes a power-law
hub's entire in-neighborhood as ONE array in ONE row — gigabytes and an
executor OOM at 10⁷–10⁸ in-degree. Instead contributions are bucketed by
the first 32 bits of ``md5(cast(src as string))`` mod ``PR_FOLD_BUCKETS``
(md5, NOT ``F.hash`` — Spark's Murmur3 and DuckDB's hash disagree, and
the bucket key must be identical in both engines; md5 also covers
non-integral node ids uniformly), folded within each bucket in ``src``
order (arrays bounded by ~indeg/B), then the ≤B bucket partials are
folded in bucket order. The bucket key is computed ONCE on the edge
relation, outside the iteration loop. The composition is still one fixed global
association order, so result hashes stay cross-engine stable, while the
largest materialized array shrinks from O(max-indeg) to
O(max-indeg / B) — 10⁸-degree hubs cost ~10⁵-entry arrays at B=1024.

Scale shape: each iteration is one hash join (edges ⋈ ranks, both keyed
on src) plus two aggregates (dst×bucket, then dst) — the first stage is
where the hub's rows fan out over B distinct grouping keys, i.e. the
de-skew IS the extra stage. State bounded by |V| + |E|, zero driver-side
data motion (|V| rides the plan as a broadcast one-row aggregate since
round 11). Lineage growth across
iterations is linear in the (small, fixed) iteration count; callers
running tens of iterations should ``localCheckpoint`` every few rounds
like connected components does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import parallelized
from ..engine import caches

PR_DAMPING = 0.85
PR_ITERATIONS = 4
#: Buckets for the two-level in-sum fold: bounds the largest collected
#: array at O(max_indegree / B). 1024 keeps a 10⁸-degree hub's per-bucket
#: arrays at ~10⁵ entries (a few MB) while the level-2 array is ≤1024.
PR_FOLD_BUCKETS = 1024


def user_transition_edges(events: DataFrame) -> DataFrame:
    """Directed weighted user graph from the event stream: an edge
    ``u -> v`` for each consecutive pair of events of the SAME type
    (ordered by ``(ts, event_id)``) produced by different users, weighted
    by transition count. One window per event type, one aggregate — the
    standard interaction-graph extraction.

    No ``parallelized()`` here (round 11): the projection is trivial and
    the very next operator is the window's Exchange on ``event_type`` —
    a round-robin repartition in front of a keyed exchange shuffles the
    full event stream TWICE for the same single-task map bottleneck (the
    unsplit scan task feeds either exchange serially). Removing it drops
    one full-relation shuffle from every transition-graph query
    (measured 0.78 s -> 0.51 s for the edge derivation at sf0.1)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = (
        events
        .select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    return pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("weight")
    )


def user_transition_edges_sql(table: str) -> str:
    """DuckDB fragment matching :func:`user_transition_edges`."""
    return f"""
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS weight
        FROM (
            SELECT user_id AS src,
                   LEAD(user_id) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                   ) AS dst
            FROM {table}
        )
        WHERE dst IS NOT NULL AND dst <> src
        GROUP BY src, dst
    """


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = PR_ITERATIONS,
    damping: float = PR_DAMPING,
    checkpoint_every: int | None = None,
    fold_buckets: int = PR_FOLD_BUCKETS,
    exact_hashes: bool = True,
) -> DataFrame:
    """Weighted PageRank, ``iterations`` rounds of power iteration from a
    uniform start: ``r'(v) = (1-d)/N + d * Σ_u r(u) * w(u,v)/outdeg(u)``
    (dangling mass deliberately not redistributed — the fixed-depth SQL
    oracle defines the same recurrence). Returns (node, rank).

    Fault-tolerance contract (probed with live executor SIGKILLs,
    SCALE.md round 10): the default pure-lineage form survives executor
    loss — every lost block recomputes, and the shared edge-derivation
    shuffle is a ReusedExchange across iterations so lineage costs no
    extra wall-clock at shallow depth. ``checkpoint_every`` opts deep
    loops (tens of iterations, where plan growth dominates) into
    ``localCheckpoint`` rank truncation — faster planning but a lost
    executor then FAILS the job loudly (localCheckpoint blocks are not
    recomputable, by Spark contract); rerun or use a reliable checkpoint
    dir when preemption is routine.

    ``exact_hashes``: True (default) uses the two-level fixed-order fold —
    bit-identical results across engines/partitionings, priced at the
    bucketed collect stage. False is PRODUCTION mode: plain ``F.sum``
    (partial-aggregatable, map-side combined, no arrays at all) — results
    differ from the exact mode only by float-addition reassociation
    (~1 ulp per term), verified by the tolerance test in
    ``tests/test_graph_and_series.py``.

    |V| is an IN-PLAN broadcast scalar (round 11): the earlier
    ``nodes.count()`` driver probe was a second full action that re-paid
    the whole edge derivation before the main query ran — folding it into
    the plan as a one-row aggregate cross join (the oracle's ``nstats``
    CTE, so the two shapes were always in lockstep) lets ReusedExchange
    dedup the derivation inside the single action. ``1/n`` and
    ``(1-d)/n`` stay single IEEE divisions either way — bit-identical
    ranks (OPTIMIZATION_r11.md, applied optimization 2: min-of-5 4.82 s
    -> 4.40 s at sf0.1)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nstats = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    outdeg = edges.groupBy("src").agg(F.sum("weight").alias("outdeg"))
    e = edges.join(outdeg, "src").select(
        "src",
        "dst",
        (F.col("weight").cast("double") / F.col("outdeg").cast("double")).alias(
            "share"
        ),
        # de-skew bucket: portable (md5 exists in both engines), uniform,
        # type-agnostic; paid once here, reused by every iteration.
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("src").cast("string")), 1, 8), 16, 10
            ).cast("bigint"),
            F.lit(fold_buckets),
        ).alias("bkt"),
    )
    # n_nodes rides the rank frame as a column (one row per node, +8
    # bytes/row): re-deriving nodes + nstats INSIDE every iteration
    # re-embedded ~4 copies of the whole edge-derivation subtree per
    # round, growing the static plan to ~2.5k operators at 4 iterations —
    # Catalyst + AQE planning over that tree was the dominant per-round
    # cost (guide §3.3/§7.3: planning time on very large plans), and at
    # tens of iterations it is the driver bottleneck at any scale. The
    # update joins FROM the previous rank frame instead (same node set by
    # construction — one row per node survives every round), so each
    # round adds one join + the fold aggregates, not a fresh nodes tree;
    # both join inputs already hash-cluster on the key (node / dst).
    # Arithmetic is unchanged: (1-d)/n and 1/n stay the same single IEEE
    # divisions, so ranks remain bit-identical.
    ranks = nodes.crossJoin(F.broadcast(nstats)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank"), "n_nodes"
    )
    for it in range(iterations):
        if checkpoint_every and it and it % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
        contribs = e.join(ranks, e["src"] == ranks["node"]).select(
            "dst", "src", "bkt", (F.col("rank") * F.col("share")).alias("contrib")
        )
        if exact_hashes:
            # two-level fixed-order fold (src unique per dst — edges are
            # pre-aggregated): level 1 folds each src-hash bucket in src
            # order, level 2 folds the ≤fold_buckets partials in bucket
            # order; no array ever exceeds O(max_indeg / fold_buckets).
            level1 = contribs.groupBy("dst", "bkt").agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("src", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("bsum")
            )
            summed = level1.groupBy("dst").agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("bkt", "bsum"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["bsum"],
                ).alias("in_sum")
            )
        else:
            # production mode: associativity-tolerant plain sum — partial
            # aggregation, map-side combine, zero array state.
            summed = contribs.groupBy("dst").agg(F.sum("contrib").alias("in_sum"))
        ranks = ranks.join(summed, ranks["node"] == summed["dst"], "left").select(
            "node",
            (
                (F.lit(1.0) - F.lit(damping)) / F.col("n_nodes")
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
            "n_nodes",
        )
    return ranks.select("node", "rank").orderBy("node")


def pagerank_sql(
    edges_fragment: str,
    *,
    iterations: int = PR_ITERATIONS,
    damping: float = PR_DAMPING,
    fold_buckets: int = PR_FOLD_BUCKETS,
) -> str:
    """DuckDB query matching :func:`pagerank` round-for-round: the fixed
    iteration count unrolls into chained CTEs; per-node sums use the SAME
    two-level fixed-order fold (bucket by ``src % B``, ``list(... ORDER BY
    src)`` + ``list_reduce`` within buckets, then ``ORDER BY bkt`` across
    bucket partials) so the float association order is identical."""
    parts = [
        f"WITH edges AS ({edges_fragment})",
        """nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst AS node FROM edges
            )
        )""",
        "nstats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        f"""e AS (
            SELECT edges.src, edges.dst,
                   CAST(weight AS DOUBLE) / CAST(outdeg AS DOUBLE) AS share,
                   ('0x' || substr(md5(CAST(edges.src AS VARCHAR)), 1, 8))::BIGINT
                       % {fold_buckets} AS bkt
            FROM edges JOIN (
                SELECT src, SUM(weight) AS outdeg FROM edges GROUP BY src
            ) o USING (src)
        )""",
        "r0 AS (SELECT node, 1.0 / s.n AS rank FROM nodes CROSS JOIN nstats s)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""r{i} AS (
            SELECT nd.node,
                   (1.0 - {damping}) / s.n
                   + {damping} * COALESCE(t.in_sum, 0.0) AS rank
            FROM nodes nd CROSS JOIN nstats s
            LEFT JOIN (
                SELECT dst, list_reduce(
                           list_prepend(0.0, list(bsum ORDER BY bkt)),
                           (acc, x) -> acc + x
                       ) AS in_sum
                FROM (
                    SELECT dst, bkt, list_reduce(
                               list_prepend(0.0, list(contrib ORDER BY src)),
                               (acc, x) -> acc + x
                           ) AS bsum
                    FROM (
                        SELECT e.dst, e.src, e.bkt,
                               r.rank * e.share AS contrib
                        FROM e JOIN r{i - 1} r ON e.src = r.node
                    )
                    GROUP BY dst, bkt
                )
                GROUP BY dst
            ) t ON nd.node = t.dst
        )""")
    return (
        ",\n".join(parts)
        + f"\nSELECT node, rank FROM r{iterations} ORDER BY node"
    )


def reachability(
    edges: DataFrame, seeds: DataFrame, *, max_hops: int = 3
) -> DataFrame:
    """Min-depth BFS from a seed set, ``max_hops`` rounds: per hop one
    hash join (frontier ⋈ edges on src), a distinct, and an anti-join
    against the visited set — frontier and visited are both bounded by
    |V|, so a hop never materializes path multiplicity (the recursive-CTE
    UNION ALL blowup). Returns (node, depth) with the first-reached
    (minimum) depth per node, seeds at depth 0."""
    visited = seeds.select("node", F.lit(0).alias("depth"))
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("depth"))
        )
        visited = visited.unionAll(nxt)
        frontier = nxt.select("node")
    return visited.orderBy("node")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts via degree-ordered edge
    orientation (the node-iterator++ scheme of Schank/Wagner, the shape
    every distributed triangle counter uses).

    The naive wedge enumeration joins edges on their shared endpoint, so a
    power-law hub with in-degree d materializes d² wedges — the quadratic
    skew-killer. Orienting every undirected edge from the
    lexicographically smaller ``(degree, node)`` endpoint to the larger
    caps every node's ORIENTED out-degree at O(√m), which bounds total
    wedges at O(m^1.5) regardless of hub size; each triangle
    ``{x, y, z}`` (ranks x < y < z) survives exactly once as the wedge
    ``x→y→z`` closed by the oriented edge ``x→z``.

    Scale shape: degree is one map-side-combined aggregate; the rank
    attach is two keyed joins against the O(|V|) degree table (NOT a
    broadcast — |V| is data-sized at 100 TB, AQE may still elect one at
    small SF); the wedge join keys on the middle vertex whose fan-out is
    the √m-capped oriented out-degree; the closing probe is an equi-join
    on the (src, dst) pair. All-BIGINT arithmetic — trivially
    hash-stable cross-engine. Returns ``(node, n_triangles)`` for nodes
    in ≥1 triangle.
    """
    # und is referenced by both degree scans + the rank attach, oriented
    # by both wedge arms + the closing probe — deliberately NOT cached:
    # every expensive boundary in those subtrees ends in an Exchange
    # (distinct, joins), and identical exchanges are deduplicated by
    # ReusedExchange on cluster and local alike, so only the cheap
    # post-exchange projections replay. Measured both ways at sf0.1
    # under bench-style cache isolation: caching adds ~40% wall (the
    # synchronous materialization) for no recompute saved.
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    e1 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    wedges = e1.join(e2, "y")
    closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tris = wedges.join(closing, ["x", "z"])
    members = (
        tris.select(F.col("x").alias("node"))
        .unionAll(tris.select(F.col("y").alias("node")))
        .unionAll(tris.select(F.col("z").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def triangle_counts_sql(edges_cte: str) -> str:
    """DuckDB fragment matching :func:`triangle_counts`; ``edges_cte`` is
    the name of a CTE providing directed (src, dst) rows."""
    return f"""
        und AS (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM {edges_cte} WHERE src <> dst
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
            ) GROUP BY node
        ),
        oriented AS (
            SELECT CASE WHEN (da.deg < db.deg)
                          OR (da.deg = db.deg AND u.a < u.b)
                        THEN u.a ELSE u.b END AS src,
                   CASE WHEN (da.deg < db.deg)
                          OR (da.deg = db.deg AND u.a < u.b)
                        THEN u.b ELSE u.a END AS dst
            FROM und u
            JOIN deg da ON da.node = u.a
            JOIN deg db ON db.node = u.b
        ),
        tris AS (
            SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
            FROM oriented e1
            JOIN oriented e2 ON e2.src = e1.dst
            JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        tri_members AS (
            SELECT x AS node FROM tris
            UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris
        )
    """


KCORE_CHECKPOINT_EVERY = 5  # truncate edge lineage every N peel rounds
#: LPA truncates every 3 rounds so the default iterations=4 run fires it
#: (review catch: reusing the k-core constant 5 made the branch dead code
#: at the default setting)
LPA_CHECKPOINT_EVERY = 3


def k_core(edges: DataFrame, k: int, *, max_rounds: int = 30) -> DataFrame:
    """The k-core of the undirected graph: the maximal subgraph where every
    node has degree >= k, computed by iterative peeling (drop nodes with
    degree < k, repeat until fixpoint) — the standard dense-subgraph /
    influence-zone primitive.

    Scale shape: each peel round is one map-side-combined degree
    aggregate, one low-degree filter, and two anti-joins dropping incident
    edges — all keyed on node id, nothing pairwise. Converges in
    O(peel depth) rounds; a fixpoint check (``low.isEmpty()``, a scalar
    control-plane probe like connected_components' change count) exits
    early, ``max_rounds`` is the runaway guard that fails LOUDLY (a
    truncated peel returns a SUPERSET of the k-core — silently wrong),
    and the surviving edge frame is ``localCheckpoint``-ed every
    ``KCORE_CHECKPOINT_EVERY`` rounds against geometric lineage growth.
    Returns ``(node, core_degree)`` for the surviving nodes.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )

    for i in range(max_rounds):
        deg = degrees(und)
        low = deg.filter(F.col("deg") < k).select("node")
        if low.isEmpty():
            return deg.select("node", F.col("deg").alias("core_degree"))
        und = und.join(
            low.select(F.col("node").alias("a")), "a", "left_anti"
        ).join(low.select(F.col("node").alias("b")), "b", "left_anti")
        if (i + 1) % KCORE_CHECKPOINT_EVERY == 0:
            und = und.localCheckpoint()
    raise RuntimeError(
        f"k_core did not reach a fixpoint in max_rounds={max_rounds} peel "
        "rounds — a truncated peel is a SUPERSET of the k-core; raise "
        "max_rounds for deep-onion graphs"
    )


def label_propagation(edges: DataFrame, *, iterations: int = 4) -> DataFrame:
    """Deterministic community detection by label propagation: every node
    repeatedly adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label — the determinism policy that replaces
    the algorithm's classic random tie-break (and random visit order), so
    results are reproducible across runs, partitionings, and engines.

    Scale shape: each round is one keyed join (edges ⋈ labels on the
    neighbor id), one (node, label) count aggregate (map-side combined),
    and one per-node argmax via WindowGroupLimit — all shuffle-keyed on
    node id; a hub node costs a wide aggregate group, never a collected
    array. Fixed ``iterations`` (semi-synchronous LPA converges in a few
    rounds on community-structured graphs; it may oscillate on bipartite
    structures, which a fixed round count also bounds). Returns
    ``(node, community)``.
    """
    sym = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    labels = (
        sym.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("community")
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("community").asc()
    )
    for i in range(iterations):
        msgs = sym.join(
            labels.select(F.col("node").alias("dst"), "community"), "dst"
        ).select(F.col("src").alias("node"), "community")
        counts = msgs.groupBy("node", "community").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "community")
        )
        if (i + 1) % LPA_CHECKPOINT_EVERY == 0:
            labels = labels.localCheckpoint()
    return labels
