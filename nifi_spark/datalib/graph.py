"""Link-graph analytics for web-corpus curation: fixed-point PageRank.

Host-level PageRank is a standard web-corpus quality prior (rank hosts by
link authority, then weight or filter documents by their host's score —
the CommonCrawl host-ranking layout). This implementation is:

* INTEGER fixed-point (ranks scaled by ``scale``; damping as the rational
  ``d_num/d_den``; per-edge contribution ``r(u) div deg(u)``), so every
  iteration is exact integer arithmetic and the whole run is replayable
  bit-for-bit by a generated SQL twin (``pagerank_oracle_sql`` — the same
  unrolled-CTE pattern as curation.perceptron_oracle_sql).
* Scale-shaped: edges are degree-joined ONCE, hash-partitioned on the
  source key and persisted — each iteration then shuffles only the
  (node, rank) table (nodes << edges on the web graph) into the join,
  aggregates contributions per target with map-side partial combine, and
  localCheckpoints the new rank table so lineage stays flat (the
  near_dup_clusters lesson: iterative plans without per-round truncation
  re-execute the whole history every round).

Dangling nodes (no out-links) keep receiving the teleport term but their
mass is dropped, the common simplification; redistribute upstream by
adding sink edges if mass conservation matters.

Reference: NiFi has no graph operator; this extends §2.13 (training-data
pipeline mandate). Deterministic + oracle-checked like every datalib op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
             iters: int = 5, d_num: int = 85, d_den: int = 100,
             scale: int = 1_000_000,
             partitions: int | None = None) -> DataFrame:
    """Returns (node, rank) after `iters` exact fixed-point iterations:
    ``r'(v) = ((d_den - d_num) * scale + d_num * sum_{u->v} (r(u) div
    deg(u))) div d_den`` with ``r0 = scale`` for every node appearing as
    a source or target. Multi-edges count once each (multigraph PR)."""
    spark = edges.sparkSession
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ep = e.join(deg, "src")
    if partitions:
        ep = ep.repartition(partitions, "src")
    # one shuffle for edges, reused every iteration (InMemoryTableScan
    # preserves the hash partitioning, so only ranks shuffle per round)
    ep = ep.persist()
    nodes = nodes.localCheckpoint()

    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = (ep.join(ranks.withColumnRenamed("node", "src"), "src")
                   .withColumn("c", F.expr("r div deg"))
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum("c").alias("s")))
        # integer `div`, never float `/` — exactness is the contract
        ranks = (nodes.join(contrib, "node", "left")
                 .withColumn("s", F.coalesce(F.col("s"), F.lit(0)))
                 .withColumn("r", F.expr(
                     f"({(d_den - d_num) * scale} + {d_num} * s) "
                     f"div {d_den}").cast("long"))
                 .select("node", "r")
                 .localCheckpoint())
    ep.unpersist()
    return ranks.withColumnRenamed("r", "rank")


def connected_components(edges: DataFrame, src_col: str = "src",
                         dst_col: str = "dst",
                         max_iters: int = 40) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al. 2014): returns (node, component) with component =
    min node id in the component. `src_col` and `dst_col` must share a
    type; any orderable id (long, string, ...) works and keeps its type.

    Star contraction converges in O(log n) rounds on ANY topology —
    near-dup pair graphs (shallow cliques/chains of a viral doc) as well
    as web link graphs and follower graphs where million-hop paths are
    real. Each round is two grouped aggregations over the edge list (no
    windows, no collects); the edge list shrinks toward the star fixed
    point, and each round localCheckpoints to keep lineage flat.

    * large-star: for each node u, hang every LARGER neighbor v > u onto
      m = min(Γ(u) ∪ {u}).
    * small-star: orient edges (hi, lo); for each hi, hang lo-neighbors
      and hi itself onto m = min(N(hi) ∪ {hi}).

    Both preserve connectivity and map stars to themselves; convergence
    is two consecutive rounds with the same (count, checksum) of the
    canonical edge set, so a graph at its fixed point after round r
    stops after round r+1. If `max_iters` rounds pass without that, it
    raises RuntimeError — it never returns unconverged components.

    Per-round action budget: ONE localCheckpoint per round — large-star
    and small-star are fused into a single lineage chain; the
    large-star intermediate feeds both the small-star min-agg and its
    join-back through the SAME hash-partition(hi) exchange, so
    ReuseExchange computes it once. The convergence probe scans the
    already-materialized checkpoint, so it costs a fraction of a
    round."""
    raw = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    # nodes is consumed exactly once (the final join-back), so it needs
    # no checkpoint and no count action — one setup action total (E)
    nodes = (raw.select(F.col("a").alias("node"))
             .unionByName(raw.select(F.col("b").alias("node")))
             .distinct())
    e = raw.filter(F.col("a") != F.col("b"))
    # canonical (hi, lo), hi > lo
    E = (e.select(F.greatest("a", "b").alias("hi"),
                  F.least("a", "b").alias("lo"))
         .distinct().localCheckpoint())

    def _signature(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("hi", "lo")
                             .cast("decimal(38,0)")),
                       F.lit(0).cast("decimal(38,0)")).alias("h")).first()
        return (row["n"], row["h"])

    sig = None
    for _ in range(max_iters):
        # large-star over the symmetric neighborhood
        sym = E.select(F.col("hi").alias("u"), F.col("lo").alias("v")) \
               .unionAll(E.select(F.col("lo").alias("u"),
                                  F.col("hi").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", "u").alias("m")))
        # no distinct on the large-star output: a (v, m) edge can be
        # emitted once per center u that has v as a larger neighbor and
        # shares the same neighborhood minimum — O(fan-in) duplication
        # on hub-heavy graphs, NOT bounded by 2. Correctness is safe
        # (small-star's min-agg + distinct collapse them); the trade is
        # one fewer exchange per round vs a fatter intermediate, which
        # profiling on the near-dup graphs has so far favored.
        L = (sym.join(mins, "u")
             .filter(F.col("v") > F.col("u"))
             .select(F.col("v").alias("hi"), F.col("m").alias("lo")))
        # small-star over the (hi, lo) orientation — join-back, never a
        # per-node collect (viral hubs stay row-shaped). Both branches
        # partition L by hi → one reused exchange, and the whole round
        # materializes in the single localCheckpoint below.
        sm = L.groupBy("hi").agg(F.min("lo").alias("m"))
        hang_lo = (L.join(sm, "hi")
                   .filter(F.col("lo") != F.col("m"))
                   .select(F.col("lo").alias("hi"), F.col("m").alias("lo")))
        hang_hi = sm.select("hi", F.col("m").alias("lo"))
        E = (hang_lo.unionAll(hang_hi)
             .distinct().localCheckpoint())
        new_sig = _signature(E)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components did not converge in "
                           f"{max_iters} rounds")
    return (nodes.join(E.select(F.col("hi").alias("node"),
                                F.col("lo").alias("comp")), "node", "left")
            .groupBy("node")
            .agg(F.coalesce(F.min("comp"), F.first("node"))
                 .alias("component")))


def pagerank_oracle_sql(edges_sql: str, iters: int, d_num: int = 85,
                        d_den: int = 100, scale: int = 1_000_000) -> str:
    """SQL twin of ``pagerank`` (generated from the same parameters so
    the unrolled CTEs cannot drift): ``edges_sql`` must yield (src, dst).
    Returns (node, rank) after `iters` exact iterations."""
    base = (d_den - d_num) * scale
    ctes = [
        f"e AS ({edges_sql})",
        "n AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)",
        f"r0 AS (SELECT node, {scale}::BIGINT AS r FROM n)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"c{t} AS (SELECT e.dst AS node, sum(r.r // deg.d)::BIGINT AS s"
            f" FROM e JOIN deg USING (src)"
            f" JOIN r{t - 1} r ON e.src = r.node GROUP BY e.dst)")
        ctes.append(
            f"r{t} AS (SELECT n.node,"
            f" (({base} + {d_num} * coalesce(c.s, 0)) // {d_den})::BIGINT"
            f" AS r FROM n LEFT JOIN c{t} c USING (node))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, r AS rank FROM r{iters}")
