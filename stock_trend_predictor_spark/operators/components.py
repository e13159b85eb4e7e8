"""Connected components over a pair graph — the step that turns
near-duplicate PAIRS into duplicate CLUSTERS (one keeper per cluster).

Pairwise dedup output (MinHash/LSH, embedding-cosine, blocked Jaccard)
is a graph; transitive closure is what defines a duplicate group:
if A~B and B~C, then {A,B,C} is one cluster even when A~C was never
scored. The standard scale algorithm is iterative min-label
propagation (the hashing-free core of the small-star/large-star
map-reduce CC construction, cf. Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14):

    label(v) := v
    repeat: label(v) := min(label(v), min_{(u,v) in E} label(u))
    until no label changes

Each round is one join + one min-aggregate — all DataFrame ops, one
shuffle each on the node id. Rounds needed = graph diameter; near-dup
clusters are star-like (diameter 2-4), so convergence is fast, and
rounds are BATCHED between driver syncs (see the loop comment) so a
pathological high-diameter component pays the per-job scheduling
floor once per K rounds, not per round. The only driver-side action
per batch is a single boolean "did any label change" count — a
convergence flag, never data (same policy as the IVF Lloyd
iterations in operators/ivf.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
    broadcast_edges: bool = False,
) -> DataFrame:
    """Resolve undirected edges into components.

    Returns (node, component) where component = the smallest node id
    reachable from ``node`` — deterministic, partition-layout
    independent. Nodes appearing only as isolated endpoints of no edge
    are the caller's concern (a pair graph has no isolated nodes).

    ``max_iter`` is a runaway guard, not a budget: the loop exits the
    round after no label changes, so star-like dedup graphs (diameter
    2-4) never go near it. High-diameter graphs do not run to their
    diameter either: each batch of rounds propagates over the edge
    list AUGMENTED with the batch-start label tree (see the loop
    comment), so reach grows geometrically — a diameter-d component
    converges in O(log d) rounds, the r11 cure for the sf0.1
    chain-shaped component that needed 28 plain propagation rounds.
    64 is headroom far past anything that leaves.

    ``broadcast_edges=True`` hints each round's join to broadcast the
    (augmented) edge list — checkpointed frames report no stats, so
    AQE never auto-broadcasts them (the pagerank ``broadcast_ranks``
    precedent). Per round the only exchange is then the min-groupBy,
    and one chained batch of K rounds reuses a single broadcast
    build. Correct whenever the caller KNOWS the edge list is
    bounded (the fold merges' rep graphs are ≤ 2 rows per new pair
    by construction); leave False for corpus-sized pair graphs.
    Results are identical either way — join strategy never changes
    the propagated min.
    """
    # undirect once; labels seeded with each node's own id.
    # localCheckpoint (NOT plain persist) after every round: an
    # iterative DataFrame loop otherwise accumulates the whole
    # iteration history in one logical plan — analysis cost grows
    # superlinearly and the plan alone can OOM the driver after a few
    # rounds (observed at round ~4 on this graph). Checkpointing
    # truncates lineage so every round optimizes a constant-size plan.
    und = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    from stock_trend_predictor_spark.operators.checkpoints import (
        job_phase,
        release_local_checkpoints,
    )

    spark = edges.sparkSession
    with job_phase(spark, "cc:init"):
        und = und.localCheckpoint(eager=True)
        labels = (
            und.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=True)
        )
    prev_cp = labels
    # Rounds are batched ``_ROUNDS_PER_SYNC`` at a time between driver
    # syncs: K propagation rounds are chained LAZILY and materialized
    # by ONE localCheckpoint, with ONE convergence probe per batch,
    # instead of a checkpoint + probe job pair per round. Two things
    # make the lazy chain linear-cost:
    #
    # 1. Each round consumes the previous round's frame ONCE — the
    #    label table left-joins the (checkpointed) edge list and each
    #    row fans out its label to itself and to its neighbor via an
    #    inline 2-struct explode, then one min-groupBy on the receiving
    #    node. The older spelling (separate neighbor-min aggregate
    #    joined BACK against the label table) references the previous
    #    round twice; without a checkpoint between rounds Spark
    #    recomputes an unmaterialized subplan per consumer, i.e.
    #    2^K round-works per batch (measured: ~30 s on a 482-node
    #    graph at K=4). Single-consumer chaining executes K rounds in
    #    one linear job.
    # 2. The convergence probe costs ZERO jobs: the batch-start label
    #    rides through the rounds as the ``_old`` column (each node's
    #    self-contribution carries it; neighbor contributions carry
    #    null; the per-node max recovers it), and the "did the batch
    #    change anything" count RIDES the checkpoint pass itself via
    #    ``df.observe`` (r11) — not a separate scan job, let alone the
    #    shuffle join a naive old-vs-new comparison would be. Exact
    #    per-node equality, any id type (the entity-resolution caller
    #    feeds STRING node ids; labels only decrease, so `<` is the
    #    test).
    #
    # A converged graph re-propagating is a row-level no-op, so the
    # up-to-K-1 rounds a batch overshoots by cannot change any label —
    # the fixpoint (min reachable id) is identical to the per-round
    # loop. Plan depth per materialization is a constant K (the
    # lineage-growth OOM the per-batch checkpoint guards against
    # needs unbounded depth).
    # The batch size GROWS 1, 1, 2, 2, ... (capped below): the common
    # star-like graph converges within the first couple of rounds, so
    # the first two batches probe after every round exactly like the
    # classic loop (no wasted rounds, no extra latency to detect
    # convergence). The cap is 2, NOT larger, BECAUSE of the
    # augmentation: reach multiplies when the label tree refreshes —
    # i.e. per BATCH — so rounds late in a long batch add +1 hop each
    # while the first rounds of the next batch add a multiple; short
    # batches also waste fewer overshoot rounds once converged.
    # Simulated on diameter-60/200 chains: max_k=2 converges in 12-14
    # total rounds (~26-30 jobs) vs 24 rounds (~36 jobs) at the old
    # max_k=8 — and the total is diameter-independent either way
    # (O(log d) batches). The fixpoint is identical at any cap.
    _max_k = 2
    rounds_done = 0
    next_k = 1
    first_batch = True
    while rounds_done < max_iter:
        k = min(next_k, _max_k, max_iter - rounds_done)
        if first_batch:
            first_batch = False
        else:
            next_k = min(next_k * 2, _max_k)
        id_type = labels.schema["component"].dataType
        # PATH-SHORTCUT AUGMENTATION (r11): each batch propagates over
        # the edge list UNIONED with the batch-start label tree (both
        # orientations of (node, component), self-labeled roots
        # dropped). A label edge connects two nodes of one und
        # component — label(v) is always the id of a node REACHABLE
        # from v (induction: seeds are self-ids; every received label
        # is the label of an aug-neighbor, and aug-neighbors are
        # reachable) — so the augmented graph has exactly the und
        # components and the fixpoint (min reachable id) is untouched.
        # What changes is the RATE: information crosses a label edge
        # in one round, and label edges span the distance already
        # propagated, so reach multiplies per batch instead of adding
        # 1 per round (the pointer-doubling idea, but expressed as
        # extra EDGES so each round keeps the single-consumer fan-out
        # shape that makes lazy chaining linear). A diameter-40
        # component measured 40 rounds / 8 syncs without this, 8
        # rounds / 4 syncs with it. Star graphs converge in the first
        # batches where labels == seeds, so lab_e is empty and the
        # plan is the plain edge join.
        lab_e = labels.where(F.col("component") != F.col("node"))
        aug = und.unionByName(
            lab_e.select(
                F.col("node").alias("a"), F.col("component").alias("b")
            )
        ).unionByName(
            lab_e.select(
                F.col("component").alias("a"), F.col("node").alias("b")
            )
        )
        if broadcast_edges:
            aug = F.broadcast(aug)
        cur = labels.withColumn("_old", F.col("component"))
        for _ in range(k):
            fan = F.array(
                F.struct(
                    F.col("node").alias("n"),
                    F.col("component").alias("c"),
                    F.col("_old").alias("o"),
                ),
                F.struct(
                    F.col("b").alias("n"),
                    F.col("component").alias("c"),
                    F.lit(None).cast(id_type).alias("o"),
                ),
            )
            cur = (
                cur.join(aug, cur["node"] == aug["a"], "left")
                .select(F.explode(fan).alias("p"))
                .where(F.col("p.n").isNotNull())
                .groupBy(F.col("p.n").alias("node"))
                .agg(
                    F.min("p.c").alias("component"),
                    F.max("p.o").alias("_old"),
                )
            )
        with job_phase(spark, f"cc:rounds+{k}@{rounds_done}"):
            # the convergence probe RIDES the checkpoint pass itself
            # (df.observe: metrics computed during the materialization
            # action — no separate probe job per sync at all; the r10
            # design's scan-probe was already join-free, this removes
            # even the scan)
            from pyspark.sql import Observation

            obs = Observation()
            updated = cur.observe(
                obs,
                F.sum(
                    (F.col("component") < F.col("_old")).cast("long")
                ).alias("changed"),
            ).localCheckpoint(eager=True)
            rounds_done += k
            changed = obs.get["changed"] or 0
        labels = updated.select("node", "component")
        # the superseded batch's blocks are dead once the next batch
        # is materialized — release them so an iterative call inside a
        # long-running fold sink holds at most ONE batch of storage
        release_local_checkpoints(prev_cp)
        prev_cp = updated
        if changed == 0:
            break
    # re-checkpoint the 2-col projection so the RETURNED frame is
    # itself a checkpoint root the caller can release directly (the
    # r9 ownership rule: release_local_checkpoints frees only roots,
    # never walks a derived plan to someone else's leaves), then
    # free the final round's 3-col frame and the undirected edges
    with job_phase(spark, "cc:out"):
        out = labels.localCheckpoint(eager=True)
    release_local_checkpoints(prev_cp, und)
    return out


def components_recursive_sql(edges_cte: str) -> str:
    """DuckDB oracle for :func:`connected_components`: min reachable
    node via recursive transitive closure over the same edge set.
    ``edges_cte`` must define a relation ``edges(src, dst)``.
    Quadratic in cluster size — fine for oracle scales, which is why
    the engine side uses label propagation instead.
    """
    return f"""
WITH RECURSIVE {edges_cte},
und AS (
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst AS a, src AS b FROM edges
),
reach(a, b) AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS node,
       least(a, min(b)) AS component
FROM reach GROUP BY a
"""


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    d: float = 0.85,
    iters: int = 6,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list, with
    dangling-mass redistribution. Returns (node, od, rank).

    Per iteration — all set-oriented, one shuffle each:
      contrib: edges ⨝ ranks on src, aggregated by dst (the one
               edge-sized exchange);
      dangling: Σ rank over out-degree-0 nodes — a SCALAR aggregate
               that broadcasts back (never a driver round-trip);
      update:  rank' = (1-d)/N + d * (contrib + dangling/N).

    Lineage is truncated with localCheckpoint(eager=True) every round
    — iterative DataFrame loops otherwise accumulate a plan whose
    string alone OOMs the driver (same policy as
    :func:`connected_components` and the IVF Lloyd loop).

    N (node count) is collected once — a convergence-style scalar,
    not data. The whole computation is plain double arithmetic in a
    fixed expression order, so a SQL engine running the identically
    unrolled iterations reproduces it to the last ~ulp
    (oracle-checked in plans/graph_queries.py after stable rounding).

    ``broadcast_ranks=True`` hints both per-iteration joins to
    broadcast the rank table (checkpointed DataFrames report no stats,
    so AQE never auto-broadcasts them): the edge list is then NEVER
    shuffled — per iteration the only exchange is the per-dst partial
    aggregate (#nodes rows). Correct plan whenever the node set fits
    an executor (ranks are 3 columns/node); leave False for
    web-scale node counts, where the co-partitioned shuffle join is
    the right shape. Results are identical either way (join strategy
    does not change the aggregation's value).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("od")
    )
    base = (
        nodes.join(outdeg, "node", "left")
        .select("node", F.coalesce("od", F.lit(0)).alias("od"))
        .localCheckpoint(eager=True)
    )
    n = base.count()
    ranks = base.withColumn("r", F.lit(1.0) / F.lit(n))
    hint = F.broadcast if broadcast_ranks else (lambda df: df)
    # Two power iterations per checkpoint (round-4 tuning): each
    # materialization costs a fixed job + block round-trip that
    # dominates at moderate SF; the second iteration's joins re-derive
    # the first lazily from the previous checkpoint (broadcast-sized
    # re-work when broadcast_ranks). Arithmetic is identical — the
    # checkpoint is a lineage cut, not a value change — so the
    # unrolled-CTE oracle still matches to the ulp.
    done = 0
    while done < iters:
        batch = min(2, iters - done)
        for _ in range(batch):
            contrib = (
                e.join(hint(ranks), e["src"] == ranks["node"])
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("r") / F.col("od")).alias("c"))
            )
            # coalesce: a graph with no dangling nodes sums over an
            # empty set -> NULL, which would poison every rank
            dangling = ranks.where(F.col("od") == 0).agg(
                F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm")
            )
            ranks = (
                base.join(hint(contrib), "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    "od",
                    (
                        F.lit((1.0 - d)) / F.lit(n)
                        + F.lit(d)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("dm") / F.lit(n)
                        )
                    ).alias("r"),
                )
            )
        ranks = ranks.localCheckpoint(eager=True)
        done += batch
    return ranks


def oriented_triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count via degree-ordered edge orientation.

    ``edges`` is an undirected distinct edge list ``(a, b)`` with
    ``a != b`` and each pair present once. Every edge is oriented from
    the endpoint that is earlier in the total order ``(degree, id)``
    to the later one; a triangle ``u < v < w`` (in that order) is then
    counted exactly once as the wedge ``u->v, u->w`` closed by
    ``v->w``.

    This is the standard scale-out construction (Suri & Vassilvitskii
    "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    orientation bounds every out-degree by O(sqrt(m)), so the wedge
    join materializes at most m^(3/2) candidates no matter how skewed
    the raw degree distribution is — the hub vertex that would produce
    deg^2 wedges undirected produces almost none oriented, because
    hubs sort last. Both joins are plain shuffled equi-joins on small
    (src) / (dst1, dst2) keys; nothing is collected.

    Returns a 1-row DataFrame: n_vertices, n_edges, n_wedges
    (undirected open wedges), n_triangles, transitivity
    (= 3*T / wedges, the global clustering coefficient).
    """
    from stock_trend_predictor_spark.sources.tables import materialize_once

    # The edge list is consumed four times (both degree unions, the
    # orientation join, the edge count) and is usually itself derived
    # from an expensive join — compute it once. Same for the oriented
    # list, which feeds both wedge sides and the closing join. This is
    # the standard MR triangle-counting shape: materialize the oriented
    # edges, then join; blocks are edge-sized, freed with the result.
    edges = materialize_once(edges)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        edges.join(deg.withColumnRenamed("v", "a"), "a")
        .withColumnRenamed("deg", "da")
        .join(
            deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b"
        )
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = materialize_once(
        with_deg.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("ddst"),
        )
    )
    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("v"), F.col("ddst").alias("dv")
    )
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("ddst").alias("dw")
    )
    wedges = e1.join(e2, "src").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("transitivity_raw"),
        )
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """(v, deg) over an undirected (a < b) edge table."""
    return (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def kcore_subgraph(edges: DataFrame, k: int, max_rounds: int = 64) -> DataFrame:
    """Vertices of the k-core (the maximal subgraph where every vertex
    has degree >= k) with their in-core degrees.

    Iterative peeling: drop every vertex with degree < k, delete its
    edges (two anti-joins), repeat to fixpoint. The k-core is unique,
    so peeling order doesn't matter and the result is deterministic
    under any partitioning. Each round is one degree aggregate + two
    anti-joins over the SURVIVING edges only (the edge set shrinks
    monotonically); ``localCheckpoint`` truncates the lineage per
    round, so the plan stays round-sized. Every count the loop needs
    (fixpoint probe, fringe-cap probe) RIDES its frame's checkpoint
    pass via ``df.observe`` — zero dedicated probe jobs per round,
    same discipline as label propagation above. Rounds are
    bounded by the degeneracy ordering depth (worst case a path:
    O(|V|/1) — ``max_rounds`` is a safety rail; real co-occurrence
    graphs converge in a handful of rounds).
    """
    from pyspark.sql import Observation

    _cnt = F.count(F.lit(1)).alias("n")
    obs0 = Observation()
    e = edges.select("a", "b").observe(obs0, _cnt).localCheckpoint()
    n_prev = obs0.get["n"] or 0  # rides the checkpoint pass (no count job)
    # Fringe-cascade peel (round-4 tuning). The naive peel runs ONE
    # degree level per materialized round; at the bench SF that is ~14
    # rounds, most of them a long tail removing <1% of edges each —
    # wall-clock is rounds x fixed job overhead, not data. Instead,
    # each outer round peels the ENTIRE cascade that stays inside the
    # "fringe" {v : deg(v) < 2k} in one Arrow task:
    #   - Only fringe vertices are removal candidates this round, and
    #     their degrees (full-graph) and fringe-internal adjacency are
    #     exact, so every removal the local cascade makes has true
    #     current degree < k — a VALID removal. The k-core is the
    #     unique fixpoint of valid removals under ANY schedule, so the
    #     result is exact; anything the fringe missed (a high-degree
    #     vertex dragged under k, a vertex entering the fringe) is
    #     caught by the next outer round's fresh degree pass.
    #   - The fringe is a degree-band, so its edge count is bounded by
    #     2k x |fringe|; if it still exceeds ``_FRINGE_CAP`` rows the
    #     round falls back to the plain one-level peel (the standard
    #     distributed shape) — same guarded small-side-sequential
    #     pattern AQE uses for broadcast selection.
    # Bench SF effect: 14 rounds -> 2 (measured), fixpoint laws green.
    for _ in range(max_rounds):
        d1 = _degrees(e)
        # checkpoint the band ONCE: it feeds both fe joins and the
        # cascade's degree rows (re-deriving it per consumer would
        # re-run the degrees shuffle)
        fringe = d1.where(F.col("deg") < 2 * k).localCheckpoint()
        obs_fe = Observation()
        fe = (
            e.join(
                F.broadcast(
                    fringe.select(
                        F.col("v").alias("a"), F.col("deg").alias("da")
                    )
                ),
                "a",
            )
            .join(
                F.broadcast(
                    fringe.select(
                        F.col("v").alias("b"), F.col("deg").alias("db")
                    )
                ),
                "b",
            )
            .select("a", "b", "da", "db")
            .observe(obs_fe, _cnt)
            # checkpointed: consumed by the cap probe AND the cascade
            .localCheckpoint()
        )
        n_fringe_edges = obs_fe.get["n"] or 0
        if n_fringe_edges <= _FRINGE_CAP:
            removed = _cascade_removals(fringe, fe, k)
        else:  # pragma: no cover - exercised only at very large SF
            removed = d1.where(F.col("deg") < k).select("v")
        obs2 = Observation()
        e2 = (
            e.join(removed.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(removed.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b")
            .observe(obs2, _cnt)
            .localCheckpoint()
        )
        n2 = obs2.get["n"] or 0
        # a removable vertex with any edge shrinks the edge set, and
        # zero-degree vertices aren't in the degree table at all — so
        # an unchanged count IS the fixpoint (the count now RIDES the
        # checkpoint pass via df.observe — zero probe jobs per round)
        if n2 == n_prev:
            return _degrees(e2)
        e, n_prev = e2, n2
    return _degrees(e)


#: Fringe-subgraph row cap for the single-task cascade inside
#: kcore_subgraph; above this the round falls back to the distributed
#: one-level peel.
_FRINGE_CAP = 5_000_000


def _cascade_removals(fringe: DataFrame, fringe_edges: DataFrame, k: int) -> DataFrame:
    """All vertices removable by cascading the peel INSIDE the fringe:
    classic O(E) bucket peel over (full-graph degree, fringe
    adjacency), run in one Arrow batch on the banded subgraph. Fringe
    vertices with no fringe-internal edge but deg < k are removable
    too (their neighbors are all outside and never removed here)."""
    import pandas as pd

    # ids travel as STRINGS through the NULL-padded union: mixing rows
    # with nulls makes pandas coerce bigint columns to float64, which
    # silently corrupts ids >= 2^53 (ADVICE r4). String transport is
    # exact for any id width; `deg` stays numeric (degree <= |V|,
    # float64-exact far beyond any real graph).
    deg_part = fringe.select(F.col("v").cast("string").alias("v"), "deg")
    edge_part = fringe_edges.select(
        F.col("a").cast("string").alias("a"),
        F.col("b").cast("string").alias("b"),
    )

    # one task sees every row: a vertex-rows frame and an edge-rows
    # frame unioned on a compatible schema, coalesced to 1 partition
    unioned = deg_part.select(
        "v",
        "deg",
        F.lit(None).cast("string").alias("a"),
        F.lit(None).cast("string").alias("b"),
    ).unionByName(
        edge_part.select(
            F.lit(None).cast("string").alias("v"),
            F.lit(None).cast("long").alias("deg"),
            "a",
            "b",
        )
    )

    def peel_rows(batches):
        deg: dict = {}
        adj: dict = {}
        for pdf in batches:
            vm = pdf["v"].notna()
            for v, d in zip(pdf.loc[vm, "v"], pdf.loc[vm, "deg"]):
                deg[v] = int(d)
            em = pdf["a"].notna()
            for a, b in zip(pdf.loc[em, "a"], pdf.loc[em, "b"]):
                adj.setdefault(a, []).append(b)
                adj.setdefault(b, []).append(a)
        stack = [v for v, d in deg.items() if d < k]
        removed = set(stack)
        while stack:
            v = stack.pop()
            for u in adj.get(v, ()):
                if u in removed:
                    continue
                deg[u] -= 1
                if deg[u] < k:
                    removed.add(u)
                    stack.append(u)
        yield pd.DataFrame({"v": sorted(removed)})

    out_type = fringe.schema["v"].dataType.simpleString()
    return (
        unioned.coalesce(1)
        .mapInPandas(peel_rows, schema="v string")
        .select(F.col("v").cast(out_type).alias("v"))
    )
