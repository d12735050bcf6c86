"""Distributed graph reachability (transitive closure).

Replaces the reference's per-member DFS over the Wikidata ``subclass_of``
ontology (reference: airflow/dags/create_collections.py:548-606 — a RocksDB
point-lookup DFS with an lru_cache) with a set-at-a-time iterative
frontier expansion, so validation becomes ONE semi-join instead of 29M
driver-side graph walks (SURVEY.md §2.3 J13, §7 step 4).

Scale notes (the subclass graph is ~3.4M edges, the instance set ~100M):
- We never materialize the full closure of the *instance* layer — only the
  closure of the small class-level graph, then semi-join instances to it.
- One frontier loop (``_expand``) serves ``transitive_closure``,
  ``reachable_from`` (and, through it, ontology validation) and
  ``bfs_layers``. Each sweep is join + distinct + anti-join; the loop's
  one lineage-cut rule is stated in its docstring: cut each sweep's new
  pairs, never re-cut the running union of those cut leaves.
- Cycles are tolerated: ``distinct`` + the subtract-known step make every
  frontier strictly new pairs, so a cycle converges instead of looping.
- Skew: the ancestor side of popular classes (Q5 "human" subtree) is hot;
  AQE skew-join handles it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """All (src, dst) pairs such that dst is reachable from src.

    ``edges`` is a DataFrame with columns ``src``/``dst`` (direct edges are
    included in the result). Stops early when a fixpoint is reached.
    Seeds :func:`_expand` with the distinct, lineage-cut edge set itself:
    each edge is a (seed, reached) pair one hop long.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    pairs = e.select(
        F.col("src").alias("seed"), F.col("dst").alias("node"), F.lit(0).alias("hop")
    )
    closure = _expand(pairs, e, max_iterations)
    return closure.select(F.col("seed").alias("src"), F.col("node").alias("dst"))


def reachable_from(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """BFS from a seed set: returns (seed, node) pairs, including
    (seed, seed).

    Cheaper than a full closure when only a subset of nodes matters (the
    reference only ever asks "is collection-type reachable from member-type",
    so seeding with the distinct member types bounds the state). Ontology
    validation walks the subclass edges backwards from the collection types
    by passing ``src="dst", dst="src"``. The edge side is not de-duplicated:
    the per-sweep ``distinct`` already collapses duplicate expansions.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    seeds = sources.select(F.col(sources.columns[0]).alias("seed")).distinct()
    reached = (
        seeds.select("seed", F.col("seed").alias("node"))
        .localCheckpoint(eager=True)
        .withColumn("hop", F.lit(0))
    )
    return _expand(reached, e, max_iterations).select("seed", "node")


def _expand(reached: DataFrame, e: DataFrame, max_iterations: int) -> DataFrame:
    """The seeded frontier loop: grow the (seed, node, hop) rows
    ``reached`` along the (src, dst) edges ``e`` until no new (seed, node)
    pair appears or ``max_iterations`` sweeps have run. Sweep ``i`` tags
    the pairs it first reaches with ``hop = i``; seed rows keep the hop
    their caller gave them.

    Each sweep joins only the newest pairs against the edges and keeps
    the pairs not yet reached. Cycles converge because every frontier is
    strictly new pairs.

    Lineage-cut rule (the one policy of this loop):
    - each sweep's new pairs are cut eagerly: they feed the emptiness
      test, the running union and the next sweep's join;
    - the running union ``reached`` is never re-cut: it is a union of
      leaves that are already cut (the caller's seeds plus every sweep's
      new pairs), so consumers rescan those blocks and a re-cut would
      only re-write them in one extra job per sweep.
    """
    frontier = reached
    for hop in range(1, max_iterations + 1):
        # expand: follow one more edge from the current frontier
        grown = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.node") == F.col("e.src"))
            .select("f.seed", F.col("e.dst").alias("node"))
            .distinct()
        )
        new_pairs = (
            grown.join(reached, ["seed", "node"], "left_anti")
            .withColumn("hop", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if new_pairs.isEmpty():
            break
        reached = reached.unionByName(new_pairs)
        frontier = new_pairs
    return reached


def _symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The distinct directed edge set of the undirected view:
    (src, dst) ∪ (dst, src), as columns ``src``/``dst``. Returned uncut;
    each caller picks its own lineage cut."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _rank_inputs(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The loop-invariant inputs of the rank sweeps: (nodes, out-degrees,
    edges ⋈ out-degrees) with columns (node), (node, ___out) and
    (___src, ___dst, ___out).

    Lazy local checkpoints: the edge list, node set and out-degree table
    are referenced in EVERY sweep, and each reference would otherwise
    recompute the caller's full edge-derivation plan (measured 11.5 s →
    2.9 s at sf0.1 for 3 sweeps over the customer↔supplier graph).
    Iterative dataflow is the one shape where materializing the
    loop-invariant inputs is mandatory — the same reason GraphX caches
    its edge RDD. Lazy, so building the plan still triggers no job.

    outdeg ⋈ edges is LOOP-INVARIANT too: joining it once here (r16)
    removes one SortMergeJoin + its sort from EVERY sweep —
    the unrolled plan shrinks by a join per iteration, which is also
    query-planning and AQE-stage cost (this family is plan-floor-bound
    at bench scale: sf0.001 ≈ half the sf0.1 wall). Inner-join order is
    exact: sources without out-edges appear in neither edges nor
    outdeg⋈edges, so per-edge contributions are identical.
    """
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("___out")
    ).localCheckpoint(eager=False)
    e = edges.select(
        F.col(src_col).alias("___src"), F.col(dst_col).alias("___dst")
    ).join(
        outdeg.select(F.col("node").alias("___src"), "___out"), "___src"
    ).localCheckpoint(eager=False)
    return nodes, outdeg, e


def _spread(ranks: DataFrame, e: DataFrame) -> DataFrame:
    """One rank sweep's spread Σ_{u→v} round(p(u)/out(u), 9) as (node,
    ___s): ``ranks`` (node, pr) joined to the ``_rank_inputs`` edges
    (___src, ___dst, ___out), each contribution 9dp-rounded before the
    map-side-combined sum. Nodes without in-edges are absent."""
    return (
        ranks.join(e, ranks["node"] == e["___src"])
        .select(
            F.col("___dst").alias("node"),
            F.round(F.col("pr") / F.col("___out"), 9).alias("___c"),
        )
        .groupBy("node")
        .agg(F.sum("___c").alias("___s"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank — the canonical iterative-dataflow
    benchmark, expressed as the unrolled join/aggregate chain Catalyst
    can plan as ordinary shuffles (no driver loop state beyond the plan
    builder's Python `for`):

        p₀(v)   = 1/N
        pᵢ₊₁(v) = (1−d)/N + d·Σ_{u→v} round(pᵢ(u)/out(u), 9)

    Dangling nodes (no out-edges) leak their mass in the simple variant
    (``redistribute_dangling=False`` — stated in the docstring so the
    oracle matches by construction). With ``redistribute_dangling=True``
    (r6 verdict #6; real web graphs are ~25 % dangling, so leaked mass
    drifts every rank low) each sweep adds the standard uniform
    redistribution term:

        pᵢ₊₁(v) = (1−d)/N + d·(Σ_{u→v} round(pᵢ(u)/out(u), 9) + Dᵢ/N)
        Dᵢ     = round(Σ_{dangling u} pᵢ(u), 9)

    — Dᵢ is ONE scalar aggregate per sweep (an anti-join of the rank
    vector against the out-degree table), broadcast back, so the extra
    cost is a single short job, not a new shuffle of the edge list.
    Determinism: every per-edge contribution is 9dp-rounded before the
    sum and every iterate is 9dp-rounded after (the repo's fp
    convention), so the DuckDB replay hash-matches. Returns (node,
    pagerank) with the final 6dp rounding.

    Scale shape: per iteration ONE join of the rank vector against the
    edge list (shuffle keyed on src) + ONE dst-keyed aggregate —
    both map-side combined; out-degrees computed once. A fixed
    iteration count is the production norm for ranking signals (e.g.
    3–5 sweeps), which is exactly what makes the unrolled plan and its
    engine replay possible."""
    nodes, outdeg, e = _rank_inputs(edges, src_col, dst_col)
    n_nodes = nodes.agg(F.count("*").alias("___n"))
    ranks = nodes.join(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("___n")).alias("pr")
    )
    for _ in range(iterations):
        if redistribute_dangling:
            # The rank iterate is consumed TWICE per sweep here (the
            # spread join and the dangling-mass anti-join aggregate),
            # so without a lineage cut the plan tree doubles each
            # iteration (2^iterations copies of the sweep subtree) —
            # the exact dual-consumer shape hits() already guards
            # (r7 advice). Lazy, so plan building stays job-free; the
            # simple variant has a single consumer and needs no cut.
            ranks = ranks.localCheckpoint(eager=False)
        summed = _spread(ranks, e)
        if redistribute_dangling:
            dang = ranks.join(outdeg, "node", "left_anti").agg(
                F.round(
                    F.coalesce(F.sum("pr"), F.lit(0.0)), 9
                ).alias("___dm")
            )
            ranks = (
                nodes.join(summed, "node", "left")
                .join(F.broadcast(n_nodes))
                .join(F.broadcast(dang))
                .select(
                    "node",
                    F.round(
                        (1.0 - damping) / F.col("___n")
                        + damping
                        * (
                            F.coalesce(F.col("___s"), F.lit(0.0))
                            + F.col("___dm") / F.col("___n")
                        ),
                        9,
                    ).alias("pr"),
                )
            )
        else:
            ranks = (
                nodes.join(summed, "node", "left")
                .join(F.broadcast(n_nodes))
                .select(
                    "node",
                    F.round(
                        (1.0 - damping) / F.col("___n")
                        + damping * F.coalesce(F.col("___s"), F.lit(0.0)),
                        9,
                    ).alias("pr"),
                )
            )
    return ranks.select("node", F.round("pr", 6).alias("pagerank"))


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) — hubs & authorities as the
    same unrolled join/aggregate chain as ``pagerank``:

        a(v) ← Σ_{u→v} round(h(u), 9), then a ← round(a / max(a), 9)
        h(u) ← Σ_{u→v} round(a(v), 9), then h ← round(h / max(h), 9)

    Max-normalization instead of the textbook L2: the max of 9dp-rounded
    scores is an exact comparison, so the DuckDB replay reproduces the
    identical normalizer without order-dependent sqrt-of-sum-of-squares.
    Nodes outside an aggregation keep 0.0 (in a bipartite src→dst graph
    the dst side has hub 0 and the src side authority 0 — stated so the
    oracle matches by construction). Returns (node, hub, authority)
    rounded 6dp.

    Scale shape: per half-sweep ONE join of the score vector against the
    edge list + ONE map-side-combined aggregate, same as pagerank; the
    normalizer is a single scalar max broadcast back.

    No reference counterpart (public algorithm); part of the
    beyond-reference graph family alongside pagerank/transitive closure.
    """
    edges = edges.localCheckpoint(eager=False)
    e = edges.select(
        F.col(src_col).alias("___src"), F.col(dst_col).alias("___dst")
    )
    nodes = (
        e.select(F.col("___src").alias("node"))
        .union(e.select(F.col("___dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = nodes.select("node", F.lit(1.0).alias("h"))
    auth = nodes.select("node", F.lit(0.0).alias("a"))
    for _ in range(iterations):
        a_raw = (
            hub.join(e, hub["node"] == e["___src"])
            .select(
                F.col("___dst").alias("node"),
                F.round(F.col("h"), 9).alias("___c"),
            )
            .groupBy("node")
            .agg(F.round(F.sum("___c"), 9).alias("___s"))
        )
        a_max = a_raw.agg(F.max("___s").alias("___mx"))
        # lazy checkpoint: each score vector feeds BOTH the next
        # half-sweep and the final (hub ⋈ authority) output, and without
        # the cut the deepest chain is recomputed once per consumer
        auth = (
            nodes.join(a_raw, "node", "left")
            .join(F.broadcast(a_max))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("___s"), F.lit(0.0)) / F.col("___mx"),
                    9,
                ).alias("a"),
            )
            .localCheckpoint(eager=False)
        )
        h_raw = (
            auth.join(e, auth["node"] == e["___dst"])
            .select(
                F.col("___src").alias("node"),
                F.round(F.col("a"), 9).alias("___c"),
            )
            .groupBy("node")
            .agg(F.round(F.sum("___c"), 9).alias("___s"))
        )
        h_max = h_raw.agg(F.max("___s").alias("___mx"))
        hub = (
            nodes.join(h_raw, "node", "left")
            .join(F.broadcast(h_max))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("___s"), F.lit(0.0)) / F.col("___mx"),
                    9,
                ).alias("h"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        hub.join(auth, "node")
        .select(
            "node",
            F.round("h", 6).alias("hub"),
            F.round("a", 6).alias("authority"),
        )
    )


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The canonical undirected edge set: distinct (a, b) with a < b
    (self-loops dropped), behind an eager lineage cut.

    Every caller consumes it more than once (degree scans plus the
    per-edge joins); without the cut the whole upstream edge construction
    runs once per consumer (measured 3× the projection cost on the
    co-purchase bank row).
    """
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _degrees(e: DataFrame, node: str = "n", degree: str = "d") -> DataFrame:
    """(node, degree): each node's degree over the canonical edge set ``e``."""
    return (
        e.select(F.col("a").alias(node))
        .unionAll(e.select(F.col("b").alias(node)))
        .groupBy(node)
        .agg(F.count(F.lit(1)).alias(degree))
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation —
    the join formulation of Suri & Vassilvitskii (WWW 2011) / the
    Chiba–Nishizeki arboricity bound.

    Plan: distinct undirected edges (min, max); one degree aggregate
    (node-sized, eagerly checkpointed — it feeds BOTH endpoint joins,
    and without the cut each join side re-runs the union+aggregate over
    the edge table); each edge oriented AWAY from its (degree,
    id)-smaller endpoint, so every node's out-degree is O(√m) no matter
    how skewed the real degree distribution is — a hub of degree 10⁶
    contributes wedges only through its (few) higher-keyed neighbors.
    Wedges are bucket-collect over the checkpointed oriented edges
    (r15; repo rule: prefer bucket-collect over bucket self-joins): one
    shuffle groups each tail's out-neighbors into a kv-sorted array
    (O(√m)-bounded, never hot) and posexplode + slice-explode
    enumerates the ordered pairs — same Σ outdeg² ≤ m^1.5 row bound as
    the old self-join with one Exchange of o instead of two and no
    sorts. One more join against the oriented edges finds each triangle
    exactly once, and a posexplode + count rolls the per-corner credit
    up per node. Nodes in no triangle are absent (callers left-join and
    zero-fill).

    No reference counterpart (the reference's graph work is the ontology
    BFS, SURVEY §2.3 J13); this is the LLM/graph-analytics extension
    suite alongside pagerank/HITS.
    """
    return _triangles(_canonical_edges(edges, src, dst))


def _triangles(e: DataFrame) -> DataFrame:
    """:func:`triangle_count` over the canonical edge set ``e`` (a, b)."""
    deg = _degrees(e).localCheckpoint(eager=True)
    keyed = e.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    fwd = F.struct(
        F.col("da").alias("kd"), F.col("a").alias("kn")
    ) < F.struct(F.col("db").alias("kd"), F.col("b").alias("kn"))
    o = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(
            fwd, F.struct(F.col("db").alias("kd"), F.col("b").alias("kn"))
        )
        .otherwise(F.struct(F.col("da").alias("kd"), F.col("a").alias("kn")))
        .alias("kv"),
    ).localCheckpoint(eager=True)
    onb = o.groupBy("u").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("kv"), F.col("v")))
        ).alias("___nb")
    )
    wedges = onb.select(
        F.col("u").alias("t1"),
        F.posexplode("___nb").alias("___i", "___x"),
        "___nb",
    ).select(
        "t1",
        F.col("___x.v").alias("t2"),
        F.explode(
            F.slice(
                F.col("___nb"), F.col("___i") + F.lit(2), F.size("___nb")
            )
        ).alias("___y"),
    ).select("t1", "t2", F.col("___y.v").alias("t3"))
    tri = wedges.join(
        o.select(F.col("u").alias("t2"), F.col("v").alias("t3")),
        ["t2", "t3"],
    )
    return (
        tri.select(F.explode(F.array("t1", "t2", "t3")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def label_propagation(
    edges: DataFrame,
    left: str = "u",
    right: str = "v",
    iterations: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007), made engine-replayable: every node starts
    labeled with its own id; each sweep every node SIMULTANEOUSLY
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label; a FIXED iteration count. Asynchronous LPA (the
    paper's default) is order-dependent and unreproducible across
    partitionings — the synchronous variant with a total tie order is a
    pure function of (edges, iterations), which is what lets a DuckDB
    oracle replay it sweep for sweep. Output: (node, community).

    Scale: per sweep, one |E|-row equi-join (neighbor labels), one
    map-side-combined (node, label) count, one per-node argmax window
    — the window input is at most the distinct (node, label) pairs,
    degree-bounded per node. Labels are checkpointed per sweep so the
    plan doesn't grow with the sweep count. Isolated nodes never
    appear in ``edges`` and are simply absent (callers coalesce to
    self, the connected_components convention).
    """
    from pyspark.sql import Window

    # LAZY checkpoints throughout (r16): this row is job-floor-bound —
    # at bench scale sf0.001 measured SLOWER than sf0.1 (2.0 s vs
    # 1.8 s), i.e. the serialized per-sweep eager-checkpoint jobs WERE
    # the cost, not data. Lazy keeps every plan cut (each sweep's plan
    # still ends at the previous sweep's ExistingRDD) but materializes
    # all of them inside the single final action instead of 1 + sweeps
    # driver-blocking jobs. und is multi-consumed (every sweep) and
    # labels single-consumed (next sweep) — both materialize exactly
    # once either way.
    und = _symmetric_edges(edges, left, right).localCheckpoint(eager=False)
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("node").orderBy(
        F.desc("___n"), F.asc("community")
    )
    for _ in range(iterations):
        freq = (
            und.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("community"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "community")
            .agg(F.count(F.lit(1)).alias("___n"))
        )
        labels = (
            freq.withColumn("___rn", F.row_number().over(w))
            .filter(F.col("___rn") == 1)
            .select("node", "community")
            .localCheckpoint(eager=False)
        )
    return labels


def kcore_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    sweeps: int = 4,
) -> DataFrame:
    """Fixed-sweep k-core peeling summary: repeatedly drop nodes of
    degree < k and the edges touching them, reporting nodes/edges
    remaining after each sweep — the degeneracy-ordering workhorse
    (Matula & Beck 1983) that bounds community cores and feeds
    graph-sampling curricula. A FIXED sweep count (like the pagerank /
    HITS / LPA rows) keeps the operator replayable: run-to-convergence
    is data-dependent, per-sweep state is not.

    Plan per sweep: one degree aggregate over the current edge table
    (map-side combined), a broadcast-or-shuffle semi-join of survivors
    back onto both endpoints, and an eager localCheckpoint to cut the
    iterative lineage (the pagerank convention). All counts are
    integers — nothing to round.

    Output: ``sweeps`` rows (sweep, n_nodes, n_edges) where sweep i
    describes the graph AFTER i peels; a sweep that removes nothing is
    the fixed point (k-core reached).
    """
    e = _canonical_edges(edges, src, dst)
    out = None
    for sweep in range(1, sweeps + 1):
        keep = _degrees(e).filter(F.col("d") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        stats = (
            e.select(F.explode(F.array("a", "b")).alias("n"))
            .agg(
                F.lit(sweep).alias("sweep"),
                F.count_distinct("n").cast("long").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


def link_prediction_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int = 64,
    k: int = 20,
) -> DataFrame:
    """Common-neighbor link prediction: for every NON-adjacent node
    pair sharing at least one neighbor, score by neighbor-set Jaccard
    cn/(d_a + d_b − cn) and return the top ``k`` — the classic
    missing-edge recommender (Liben-Nowell & Kleinberg 2003).

    Skew safety: wedges are generated only through CENTER nodes of
    degree ≤ ``max_center_degree`` (the PPJoin-style hot-node cap used
    across the dedup family, replayed identically by the oracle) — a
    hub with 10⁶ neighbors would otherwise fan out 10¹² candidate
    pairs. Degrees in the Jaccard denominator stay the TRUE degrees;
    the cap only bounds which wedges generate candidates.

    Determinism: counts/degrees are integers; jaccard = cn/(da+db−cn)
    is one exact-input division rounded to 6dp; top-k orders by
    (jaccard desc, cn desc, a, b) — total.

    Plan: one distinct + degree aggregate (node-sized, NOT checkpointed
    — an eager cut was tried and REJECTED at +0.7 s, r15: the subtree
    is deterministic, so AQE's runtime exchange reuse already dedups
    the consumers and the serial materialization job is pure cost; the
    initial explain shows 4 copies, but only non-reusable subtrees —
    nondeterministic UDFs, divergent pushdown — actually re-run), one
    capped wedge enumeration, one count aggregate, an
    anti-join against the edge set (existing edges are not
    "predictions"), two degree joins, TakeOrdered. Wedges are
    bucket-collect (repo rule: prefer bucket-collect over bucket
    self-joins): the capped adjacency groups ONCE per center into a
    sorted neighbor array and pairs are enumerated by posexplode +
    slice-explode (plain codegen'd expressions, no interpreted
    higher-order lambda, no second shuffle of the adjacency, and the
    degree-cap semi-join runs once instead of once per join side).
    ``max_center_degree`` bounds every array at 64 so a bucket is never
    hot. The degree joins carry NO broadcast hint: the degree table is
    O(|nodes|), so a forced hint would override Catalyst's size-based
    choice and OOM on a billion-node graph — AQE still broadcasts it
    when it is small.
    """
    e = _canonical_edges(edges, src, dst)
    adj = e.select(F.col("a").alias("n"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("n"), F.col("a").alias("nbr"))
    )
    deg = _degrees(e)
    centers = deg.filter(F.col("d") <= max_center_degree).select("n")
    adjc = adj.join(centers, "n", "left_semi")
    nbrs = adjc.groupBy("n").agg(
        F.sort_array(F.collect_list("nbr")).alias("___nb")
    )
    wedges = nbrs.select(
        F.posexplode("___nb").alias("___i", "a"), "___nb"
    ).select(
        "a",
        F.explode(
            F.slice(
                F.col("___nb"), F.col("___i") + F.lit(2), F.size("___nb")
            )
        ).alias("b"),
    )
    cn = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn"))
    fresh = cn.join(e, ["a", "b"], "left_anti")
    scored = (
        fresh.join(
            deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
        )
        .join(
            deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b"
        )
        .select(
            "a",
            "b",
            F.col("cn").cast("long").alias("cn"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(),
        F.col("cn").desc(),
        F.col("a").asc(),
        F.col("b").asc(),
    ).limit(k)


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over all edges (each undirected
    edge contributing both orientations) — positive means hubs attach
    to hubs (social nets), negative means hubs attach to leaves
    (bipartite/technological nets; this corpus's customer-part graph is
    strongly negative by construction).

    Determinism is total: degrees are integers, so Σjk, Σ(j+k), Σ(j²+k²)
    are exact integer sums; r = (S_jk/M − (S_sum/2M)²) / (S_sq/2M −
    (S_sum/2M)²) is one exact-input formula rounded 6dp.

    Scale shape: one distinct + degree aggregate (node-sized, NOT
    checkpointed — tried and REJECTED at +0.17 s, r15: the subtree is
    deterministic so runtime exchange reuse covers its consumers and
    the materialization job is pure cost), ONE degree join onto the edge table
    (r15: Σ(j+k) = Σd², Σ(j²+k²) = Σd³ and M = Σd/2 are pure degree
    moments — every node of degree d lies on d edges, contributing d,
    d² to those edge sums — so only Σjk needs the edge pairing, and even
    that needs a single join: attach d_a per edge, pre-aggregate Σd_a by
    b, then weight the node-sized partial by d_b; all sums stay exact
    integers, identical to the two-join form), two single-row reduces.
    No broadcast hint on the degree join — the degree table is
    O(|nodes|); AQE broadcasts it when small, shuffles it when not.
    Output: (n_nodes, n_edges, assortativity).
    """
    e = _canonical_edges(edges, src, dst)
    deg = _degrees(e)
    moments = deg.groupBy().agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # coalesce: an empty graph must report n_edges = 0 (the old
        # count(*) form), not NULL
        F.coalesce(F.sum("d"), F.lit(0)).alias("s_d"),
        F.sum(F.col("d") * F.col("d")).alias("s_sum"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).alias("s_sq"),
    )
    sjk = (
        e.join(
            deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
        )
        .groupBy("b")
        .agg(F.sum("da").alias("___sda"))
        .join(
            deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b"
        )
        .groupBy()
        .agg(F.sum(F.col("db") * F.col("___sda")).alias("s_jk"))
    )
    m = F.col("s_d").cast("double") / F.lit(2.0)
    mean_term = F.col("s_sum").cast("double") / (F.lit(2.0) * m)
    r = F.try_divide(
        F.col("s_jk").cast("double") / m - mean_term * mean_term,
        F.col("s_sq").cast("double") / (F.lit(2.0) * m)
        - mean_term * mean_term,
    )
    return (
        moments.withColumn("_k", F.lit(1))
        .join(F.broadcast(sjk.withColumn("_k", F.lit(1))), "_k")
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            (F.col("s_d") / F.lit(2)).cast("long").alias("n_edges"),
            F.round(r, 6).alias("assortativity"),
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient c_v = 2·T_v / (d_v·(d_v−1)) — how
    close each node's neighborhood is to a clique (Watts–Strogatz 1998),
    composed from :func:`triangle_count` (the hub-safe oriented wedge
    join) and one degree aggregate. Nodes of degree < 2 report 0 (no
    possible triangle — stated, not NULL).

    Determinism: triangles and degrees are integers; the coefficient is
    one exact-input division rounded 6dp. Scale shape: triangle_count's
    O(m^1.5) wedge bound + a degree aggregate + a broadcast join.
    Output: (node, degree, n_triangles, clustering_coeff).
    """
    e = _canonical_edges(edges, src, dst)
    # triangles over the same cut canonical set, not a second distinct +
    # checkpoint of identical rows (r15: one Exchange + one
    # materialization job less)
    tri = _triangles(e)
    deg = _degrees(e, "node", "degree")
    joined = deg.join(tri, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
    )
    cc = F.when(
        F.col("degree") >= 2,
        F.round(
            F.lit(2.0) * F.col("n_triangles").cast("double")
            / (
                F.col("degree").cast("double")
                * (F.col("degree").cast("double") - F.lit(1.0))
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return joined.withColumn("clustering_coeff", cc)


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Layered BFS from a seed set over the UNDIRECTED graph: per
    reached node the minimum hop distance, returned as the layer
    histogram (hop, n_nodes) — the reachability profile
    (``reachable_from``'s distance-annotated sibling; the reference
    only asks boolean reachability, /root/reference/airflow/dags/
    create_custom.py's ontology walk).

    Integer-exact throughout. Runs :func:`_expand` (frontier-only
    joins, per-sweep work O(frontier-adjacent edges)) from one shared
    seed id over the eagerly cut symmetric edge set, so a pair's
    ``hop`` is the sweep that first reached its node; ``max_hops``
    bounds the sweep count exactly like kcore_stats' fixed peels.
    """
    und = _symmetric_edges(edges, src, dst).localCheckpoint(eager=True)
    # the seed id and hop are literals above the cut: the first sweep's
    # join (on node) and anti-join (on seed, node) then shuffle the seed
    # set once; a checkpointed seed column measured one job more
    start = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
        .select(F.lit(0).alias("seed"), "node", F.lit(0).alias("hop"))
    )
    return (
        _expand(start, und, max_hops)
        .groupBy("hop")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("hop")
    )


def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Bounded-hop single-source(-set) shortest paths over the
    UNDIRECTED weighted graph: per reached node the minimum
    path weight using at most ``max_hops`` edges — Bellman–Ford with
    frontier pruning (only nodes whose distance improved last sweep
    are re-relaxed; standard SPFA argument: after sweep k both the
    frontier and the full-relaxation form hold exactly the ≤k-edge
    shortest distances, which is what makes the chained-CTE oracle
    replay the loop bit-for-bit).

    INTEGER weights by contract: every candidate distance is an exact
    long, min() is order-free, so the result is engine-deterministic
    with no rounding anywhere (the repo has no float-min determinism
    story and doesn't need one here).

    Scale shape: the Pregel loop of :func:`_expand` with a weight
    accumulator — per sweep ONE frontier⋈edges shuffle keyed on node
    id, a map-side-combined min per dst, and an improvement anti-check
    against the running dist table; eager localCheckpoints cut the
    multi-consumer lineage (dist feeds both the next improvement
    check and the union — the r10/r12 lineage rule). max_hops bounds
    sweeps; at 100 TB the edge table is bucketed by src so sweeps
    after the first are exchange-free.
    """
    fwd = edges.select(
        F.col(src).alias("s"),
        F.col(dst).alias("d"),
        F.col(weight).cast("long").alias("w"),
    )
    und = (
        fwd.unionByName(
            fwd.select(
                F.col("d").alias("s"), F.col("s").alias("d"), "w"
            )
        )
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_hops):
        best = (
            frontier.join(und, frontier["node"] == und["s"])
            .select(
                und["d"].alias("node"),
                (frontier["dist"] + und["w"]).alias("nd"),
            )
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        fresh = (
            best.join(dist, "node", "left_outer")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if fresh.isEmpty():
            break
        # dist's checkpoint stays EAGER (r16 A/B): a lazy cut here
        # measured SLOWER (+0.10 s paired, +0.79 s bench) — the
        # anti-join rewrite is multi-consumed and deferring its
        # materialization into the next sweep's fresh job serializes
        # the two shuffles back-to-back in one job instead of
        # pipelining across jobs.
        dist = (
            dist.join(fresh, "node", "left_anti")
            .unionByName(fresh)
            .localCheckpoint(eager=True)
        )
        frontier = fresh
    return dist


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank from a seed set — the recommendation /
    related-entities variant of :func:`pagerank`: teleportation goes to
    the seeds instead of the uniform vector, so rank mass measures
    proximity to the seed neighborhood (Jeh & Widom 2003; the standard
    "related items for THESE users" primitive).

        r(v)    = 1/|S| if v ∈ S else 0
        p₀      = r
        pᵢ₊₁(v) = (1−d)·r(v) + d·Σ_{u→v} round(pᵢ(u)/out(u), 9)

    with every contribution 9dp-rounded before the sum and every
    iterate 9dp-rounded after (the pagerank determinism convention).
    Intended for graphs where every node has out-edges (e.g. an
    undirected projection); with no dangling nodes the update
    conserves mass without a redistribution term — callers with
    genuinely directed graphs should pre-project or use
    :func:`pagerank`'s dangling machinery.

    Scale shape identical to :func:`pagerank`: loop-invariant edge /
    out-degree tables lineage-cut once, per sweep one src-keyed join +
    one dst-keyed map-side-combined aggregate; the seed table is a
    second loop-invariant broadcast. Returns (node, ppr) 6dp.
    """
    nodes, _, e = _rank_inputs(edges, src_col, dst_col)
    seed_nodes = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .localCheckpoint(eager=False)
    )
    n_seeds = seed_nodes.agg(F.count("*").alias("___ns"))
    seeded = nodes.join(
        seed_nodes.withColumn("___is_seed", F.lit(1)), "node", "left"
    ).join(F.broadcast(n_seeds))
    restart = F.when(
        F.col("___is_seed") == 1,
        F.lit(1.0) / F.col("___ns").cast("double"),
    ).otherwise(F.lit(0.0))
    base = seeded.select("node", restart.alias("___r")).localCheckpoint(
        eager=False
    )
    ranks = base.select("node", F.col("___r").alias("pr"))
    d = float(damping)
    for _ in range(iterations):
        summed = _spread(ranks, e)
        ranks = (
            base.join(summed, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(1.0 - d) * F.col("___r")
                    + F.lit(d) * F.coalesce(F.col("___s"), F.lit(0.0)),
                    9,
                ).alias("pr"),
            )
        )
    return ranks.select("node", F.round("pr", 6).alias("ppr"))
