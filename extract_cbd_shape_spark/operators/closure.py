"""Graph fixpoint operators: transitive closure and connected components.

* transitive_closure — the bulk form of the reference's MultiPath BFS
  (lib/Path.ts:227-287) over an arbitrary edge DataFrame: iterative
  frontier join with a visited anti-join, persist/localCheckpoint per
  wave to cut lineage.
* connected_components — alternating large-star/small-star (Kiveris et
  al.), the canonicalization step of the KG pipeline (owl:sameAs /
  same-URL clusters). Converges in O(log n) rounds; each round is two
  groupBy/join passes, AQE handles skewed hubs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from extract_cbd_shape_spark.model import rows_to_df


def transitive_closure(edges: DataFrame, seeds: DataFrame,
                       max_iters: int = 50,
                       include_seeds: bool = True,
                       method: str = "auto") -> DataFrame:
    """All nodes reachable from seeds. edges: (src, dst); seeds: (node).
    Returns (seed, node) pairs — ``seed`` is the originating seed.

    ``method``:

    * ``"bfs"`` — one frontier join per round; rounds = graph diameter.
      The safe default shape for arbitrary fan-out: per-round state is
      the frontier, never more than the output.
    * ``"jump"`` — pointer jumping for FUNCTIONAL graphs (out-degree
      <= 1, e.g. next-in-chain edges): the successor map is squared
      each round (exactly-2^k-step hops stay <= |V| rows when
      out-degree is <= 1), so a depth-D chain closes in ceil(log2 D)
      rounds instead of D. On a fan-out graph the squared map is
      path-counting and can explode — callers force this only for
      functional edge sets.
    * ``"auto"`` — one map-side-combinable aggregation probes
      max out-degree and picks ``jump`` iff the edges are functional.

    Both methods return identical (seed, node) sets (parity-tested);
    ``max_iters`` caps rounds — depth ``max_iters`` for bfs,
    ``2^max_iters - 1`` for jump. A seed re-reached through a cycle is
    anti-joined out by the identity part in both methods.
    """
    # Edges partitioned by the join key ONCE and checkpointed BEFORE
    # the auto probe, so probing never recomputes the caller's edge
    # plan (e.g. a window), and every round's join reuses the one
    # clustering — only the (small) frontier side shuffles per round.
    e = edges.select("src", "dst").repartition(F.col("src")).localCheckpoint()
    if method == "auto":
        # countDistinct: duplicate (src, dst) rows are still functional
        fanout = e.groupBy("src").agg(F.countDistinct("dst").alias("c"))
        method = "jump" if fanout.filter(F.col("c") > 1).isEmpty() else "bfs"
    if method not in ("bfs", "jump"):
        raise ValueError(f"unknown transitive_closure method {method!r}")
    jump = method == "jump"
    # dedupe the 1-hop successor map so squaring cannot multiply
    # duplicate rows; HashPartitioning(src) satisfies the (src, dst)
    # clustered distribution, so this adds no exchange
    succ = e.distinct() if jump else e
    ident = seeds.select(
        F.col("node").alias("seed"), F.col("node")
    ).localCheckpoint()
    # reached = LAZY union of per-round checkpointed parts (each part
    # materialized once) — re-checkpointing the whole reached set per
    # round copied O(rounds * reached) to executor storage.
    parts = [ident]
    frontier = ident
    for _ in range(max_iters):
        reached = _union(parts)
        # bfs steps only the newest frontier through 1-hop edges; jump
        # steps the FULL reached set through the exactly-2^k-hop map
        # (round k covers distances [2^k, 2^(k+1)) — reached holds
        # everything below 2^k)
        src_side = reached if jump else frontier
        nxt = (
            src_side.join(succ, src_side.node == succ.src)
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(reached, ["seed", "node"], "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        parts.append(nxt)
        frontier = nxt
        if jump:
            succ = (
                succ.alias("a")
                .join(succ.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(
                    F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
                )
                .repartition(F.col("src"))
                .localCheckpoint()
            )
            if succ.isEmpty():
                break
    if not include_seeds:
        parts = parts[1:] if len(parts) > 1 else [parts[0].limit(0)]
    return _union(parts)


def _union(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def connected_components(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """(node, component) with component = min node id of the cluster.
    edges: (src, dst), undirected interpretation; node ids orderable."""
    # Neighbor pairs both directions + self to keep isolated endpoints.
    nbrs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    # parent(u) = min(neighborhood incl. self)
    parent = (
        nbrs.unionByName(nbrs.select(F.col("u"), F.col("u").alias("v")))
        .groupBy("u")
        .agg(F.min("v").alias("p"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        # path halving: p2(u) = parent(parent(u))
        g = parent.select(F.col("u").alias("pu"), F.col("p").alias("pp"))
        hopped = (
            parent.join(g, parent.p == g.pu, "left")
            .select("u", F.coalesce("pp", "p").alias("p_new"), "p")
        )
        # min over (own parent-of-parent, neighbors' parents)
        nbr_min = (
            nbrs.join(
                parent.select(F.col("u").alias("v"), F.col("p").alias("np")), "v"
            )
            .groupBy("u")
            .agg(F.min("np").alias("nmin"))
        )
        new_parent = (
            hopped.join(nbr_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("p_new"), F.coalesce(F.col("nmin"), F.col("p_new"))
                ).alias("p"),
                F.col("p").alias("_old"),
            )
            .localCheckpoint()
        )
        changed = new_parent.filter(F.col("p") != F.col("_old")).isEmpty()
        parent = new_parent.drop("_old")
        if changed:
            break
    return parent.select(F.col("u").alias("node"), F.col("p").alias("component"))


def connected_components_driver(edges: DataFrame) -> DataFrame:
    """Driver-side union-find for SMALL edge sets — same contract as
    `connected_components` ((node, component), component = min node id
    of the cluster), computed in one collect + O(E α(E)) Python.

    The distributed loop pays several fixed-cost Spark rounds per
    iteration (joins, checkpoints, emptiness probes) — the right shape
    for billions of edges, pure overhead for thousands. Callers that
    already KNOW the edge count (e.g. a snapshot manifest's row count)
    route small graphs here and never pay a probe job; the KG
    pipeline's canonicalize stage does exactly that (its link graph is
    orders of magnitude smaller than the corpus). Collect volume is
    the caller's responsibility — bound it by the known row count.
    """
    rows = edges.select("src", "dst").collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    def union(a, b):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-root keeps the component label = min node id
            lo, hi = (ra, rb) if ra <= rb else (rb, ra)
            parent[hi] = lo

    for r in rows:
        union(r.src, r.dst)
    node_type = edges.schema["src"].dataType
    return rows_to_df(
        edges.sparkSession, [(n, find(n)) for n in parent],
        T.StructType([T.StructField("node", node_type),
                      T.StructField("component", node_type)]))
