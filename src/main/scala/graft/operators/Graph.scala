package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Distributed graph analytics over edge-list DataFrames — the
  * Pregel-style iterate-as-joins shape (Malewicz et al. SIGMOD'10;
  * GraphX's Spark formulation, Gonzalez et al. OSDI'14) expressed
  * directly in the SQL engine so Catalyst/AQE own every shuffle.
  * Complements Dedup.components (connected components): PageRank for
  * influence/centrality over weighted digraphs, degree distributions
  * for shape profiling, triangle counting for local density.
  *
  * Scale: every iteration is (edges ⋈ ranks → groupBy dst) — the
  * canonical message-passing join. Edges persist once (at cluster
  * scale, pre-bucketed by src so the rank join co-locates); ranks are
  * |V| narrow rows re-shuffled per round; nothing node-sized ever
  * reaches the driver (the only driver scalar is |V|).
  *
  * Storage contract: every iterative op here returns an eagerly
  * PINNED frame (its lineage was truncated, so the blocks ARE the
  * data); intermediate rounds release via [[Pins.release]] as they
  * go. The returned pin and every frame an operator persists for its
  * result belong to the enclosing [[Pins.scoped]] block — plain
  * Dataset.unpersist() cannot reach a checkpoint's blocks.
  */
object Graph {

  /** Weighted PageRank with a FIXED iteration count and deterministic
    * arithmetic (PageRank: Brin & Page '98; fixed rounds rather than
    * convergence detection keep the job count static and the result a
    * pure function of the input — the twin replays the same rounds).
    *
    * edges: (src, dst, w) — string node ids, long weights; parallel
    * edges are pre-summed. Per round, every node's new rank is
    *
    *   (1−d)/N + d·(Σ_{(u,v)∈E} rank(u)·w(u,v)/outw(u) + dang/N)
    *
    * where dang = Σ ranks of sink nodes (no out-edges) — the standard
    * uniform redistribution of dangling mass, computed as a one-row
    * aggregate broadcast into the update (never a driver round-trip).
    *
    * Numeric policy (SURVEY §5): per-edge contributions round to 12dp
    * and accumulate as DECIMAL(26,12) — addition-order-free, so the
    * groupBy(dst) sum is reproducible cross-engine; the affine update
    * evaluates in double from those exact sums with a fixed expression
    * shape, then re-rounds to 12dp for the next round.
    *
    * Each round's ranks are PINNED — lineage truncated via a reliable
    * checkpoint when the session has a checkpoint dir (cluster
    * deployments), else an eager localCheckpoint. Plain persist() is
    * NOT enough for an iterative frame referenced twice per round
    * (contribution join + dangling aggregate): the logical plan
    * doubles every iteration even though execution reads the cache,
    * and by round 5 the DRIVER's analyze/optimize pass costs multiples
    * of the actual cluster work (measured: rounds of 1.2 s execution
    * ballooning to 8-9 s of planning at sf0.1). Truncation keeps every
    * round's plan constant-size, and lets the previous round's blocks
    * free immediately. Returns (node, rank DECIMAL(26,12)) — |V|
    * rows, unordered.
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val e = edges.select(F.col("src"), F.col("dst"), F.col("w").cast("long").as("w"))
      .persist()
    // |E| drives the support frames' partition counts (guide §2:
    // size-derived, not the session constant): the cached edge/node
    // frames feed EVERY round's map stages, so right-sizing them once
    // removes rounds × parallelism near-empty task launches on small
    // graphs while big graphs still split at ~1M rows/task. The count
    // doubles as e's materializing action.
    val m = e.count()
    val par = e.sparkSession.sparkContext.defaultParallelism
    val pE = Pins.partsForRows(m, par)
    val outw = e.groupBy("src").agg(F.sum("w").as("outw"))
    // ew/nodes are PINNED, not persisted: a persisted support keeps
    // the caller's whole edge-construction lineage in its plan and
    // every round's action re-optimizes that tree on the driver
    // (the dedup components loop measured ~0.3-0.5 s of between-stage
    // driver time per job from exactly this); the eager pin truncates
    // the plan to a leaf once
    // HASH-partitioned by dst, the per-round aggregation key (r21,
    // guide §2.4 "two operations keyed the same way share one
    // exchange"): the round's contribution join broadcasts the rank
    // side, so the streamed edge frame KEEPS this partitioning and
    // the groupBy(dst) needs no per-round exchange — one setup
    // shuffle replaces rounds× shuffles (and a keyed repartition
    // skips the keyless variant's SPARK-23207 local sort).
    val ew = Pins.pin(e.join(outw, "src")
      .select(F.col("src"), F.col("dst"),
        (F.col("w").cast("double") / F.col("outw").cast("double")).as("frac"))
      .repartition(pE, F.col("dst")))
    // node table carries its sink flag (no out-edges) so the per-round
    // dangling-mass aggregate is a filter over the rank frame itself,
    // not an extra join
    val nodes = Pins.pin(e.select(F.col("src").as("node"))
      .unionAll(e.select(F.col("dst").as("node")))
      .distinct()
      .join(outw.select(F.col("src").as("node"), F.lit(false).as("__src")),
        Seq("node"), "left")
      .select(F.col("node"), F.coalesce(F.col("__src"), F.lit(true)).as("is_sink"))
      .repartition(pE))
    val n = nodes.count() // the one driver scalar — |V| as a long
    require(n > 0, "pageRank: empty edge list")
    // checkpointed rank frames carry no size statistics, so without a
    // hint every round's contribution join re-plans as sort-merge and
    // re-shuffles the cached edge frame (guide §3.1); when |V| ≤ m is
    // measured small, broadcast the rank slice instead — the edge side
    // then never moves
    def small(df: DataFrame): DataFrame =
      if (n <= Pins.BroadcastRows) F.broadcast(df) else df
    var ranks = Pins.pin(nodes.select(F.col("node"), F.col("is_sink"),
      F.round(F.lit(1.0 / n), 12).cast("decimal(26,12)").as("rank")))
    for (_ <- 1 to iters) {
      val contrib = ew.join(
          small(ranks.select(F.col("node").as("src"), F.col("rank"))), "src")
        .select(F.col("dst").as("node"),
          F.round(F.col("rank").cast("double") * F.col("frac"), 12)
            .cast("decimal(26,12)").as("c"))
      val inSum = contrib.groupBy("node").agg(F.sum("c").as("insum"))
      val dang = ranks.where(F.col("is_sink"))
        .agg(F.coalesce(F.sum("rank"), F.lit(0).cast("decimal(26,12)"))
          .as("dang"))
      val next = Pins.pin(nodes.join(small(inSum), Seq("node"), "left")
        .crossJoin(F.broadcast(dang))
        .select(F.col("node"), F.col("is_sink"),
          F.round(F.lit((1.0 - damping) / n) + F.lit(damping) *
            (F.coalesce(F.col("insum"), F.lit(0).cast("decimal(36,12)")).cast("double")
              + F.col("dang").cast("double") / F.lit(n.toDouble)), 12)
            .cast("decimal(26,12)").as("rank")))
      Pins.release(ranks)
      ranks = next
    }
    e.unpersist(); Pins.release(ew); Pins.release(nodes)
    ranks.select("node", "rank")
  }

  /** Personalized PageRank (Page et al. '99 §6 — the proximity score
    * behind seeded recommendation and related-entity search): teleport
    * mass AND dangling mass return uniformly to a SEED set instead of
    * to all nodes, so rank concentrates in the seeds' neighborhoods
    * and is exactly 0 on nodes unreachable from them. Same
    * deterministic machinery as [[pageRank]] — fixed rounds, 12dp
    * decimal contribution accumulation (order-free groupBy sums),
    * double affine update with a fixed expression shape, per-round
    * lineage pinning. `seeds` is a (node) frame; seeds absent from
    * the graph are ignored (|S| counts present seeds only). Returns
    * (node, rank DECIMAL(26,12)), |V| rows, unordered.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val e = edges.select(F.col("src"), F.col("dst"), F.col("w").cast("long").as("w"))
      .persist()
    // size-derived support partitioning + measured-small broadcast
    // hints — see [[pageRank]] (same loop, same round cost anatomy)
    val m = e.count()
    val par = e.sparkSession.sparkContext.defaultParallelism
    val pE = Pins.partsForRows(m, par)
    val outw = e.groupBy("src").agg(F.sum("w").as("outw"))
    // hash-partitioned by dst — see [[pageRank]] (one setup shuffle
    // serves every round's groupBy(dst))
    val ew = Pins.pin(e.join(outw, "src")
      .select(F.col("src"), F.col("dst"),
        (F.col("w").cast("double") / F.col("outw").cast("double")).as("frac"))
      .repartition(pE, F.col("dst")))
    val nodes = Pins.pin(e.select(F.col("src").as("node"))
      .unionAll(e.select(F.col("dst").as("node")))
      .distinct()
      .join(outw.select(F.col("src").as("node"), F.lit(false).as("__src")),
        Seq("node"), "left")
      .join(seeds.select(F.col("node")).distinct()
        .withColumn("__seed", F.lit(true)), Seq("node"), "left")
      .select(F.col("node"),
        F.coalesce(F.col("__src"), F.lit(true)).as("is_sink"),
        F.coalesce(F.col("__seed"), F.lit(false)).as("is_seed"))
      .repartition(pE))
    // ONE aggregate yields both driver scalars: |V| (the broadcast
    // gate — the frames hinted below are |V|-row rank tables, so
    // gating on m as before could force broadcasts of up to 2m rows,
    // double the documented Pins.BroadcastRows bound, and conversely
    // skipped tiny-|V| graphs with many edges) and |S| (the teleport
    // mass denominator).
    val nsRow = nodes.agg(F.count(F.lit(1)).as("n"),
      F.coalesce(F.sum(F.when(F.col("is_seed"), 1L).otherwise(0L)), F.lit(0L))
        .as("s")).head()
    val n = nsRow.getLong(0)
    val s = nsRow.getLong(1)
    require(s > 0, "personalizedPageRank: no seed present in the graph")
    def small(df: DataFrame): DataFrame =
      if (n <= Pins.BroadcastRows) F.broadcast(df) else df
    var ranks = Pins.pin(nodes.select(F.col("node"), F.col("is_sink"), F.col("is_seed"),
      F.when(F.col("is_seed"), F.round(F.lit(1.0 / s), 12))
        .otherwise(F.lit(0.0)).cast("decimal(26,12)").as("rank")))
    for (_ <- 1 to iters) {
      val contrib = ew.join(
          small(ranks.select(F.col("node").as("src"), F.col("rank"))), "src")
        .select(F.col("dst").as("node"),
          F.round(F.col("rank").cast("double") * F.col("frac"), 12)
            .cast("decimal(26,12)").as("c"))
      val inSum = contrib.groupBy("node").agg(F.sum("c").as("insum"))
      val dang = ranks.where(F.col("is_sink"))
        .agg(F.coalesce(F.sum("rank"), F.lit(0).cast("decimal(26,12)"))
          .as("dang"))
      val next = Pins.pin(nodes.join(small(inSum), Seq("node"), "left")
        .crossJoin(F.broadcast(dang))
        .select(F.col("node"), F.col("is_sink"), F.col("is_seed"),
          F.round(
            F.when(F.col("is_seed"), F.lit((1.0 - damping) / s))
              .otherwise(F.lit(0.0)) +
              F.lit(damping) *
                (F.coalesce(F.col("insum"), F.lit(0).cast("decimal(36,12)"))
                  .cast("double") +
                  F.when(F.col("is_seed"),
                    F.col("dang").cast("double") / F.lit(s.toDouble))
                    .otherwise(F.lit(0.0))), 12)
            .cast("decimal(26,12)").as("rank")))
      Pins.release(ranks)
      ranks = next
    }
    e.unpersist(); Pins.release(ew); Pins.release(nodes)
    ranks.select("node", "rank")
  }

  /** Degree distribution of a directed edge list: for each side
    * (out = per-src, in = per-dst), how many nodes have each degree.
    * Two narrow aggregations — degree per node, then node count per
    * degree; output (side, degree, n_nodes).
    */
  def degreeDistribution(edges: DataFrame): DataFrame = {
    def side(col: String, name: String) = edges
      .groupBy(F.col(col).as("node"))
      .agg(F.count(F.lit(1)).as("degree"))
      .groupBy("degree").agg(F.count(F.lit(1)).as("n_nodes"))
      .select(F.lit(name).as("side"), F.col("degree"), F.col("n_nodes"))
    side("src", "out").unionAll(side("dst", "in"))
  }

  /** Connected components over an arbitrary undirected edge list
    * (a, b) — the generic exposure of the dedup clusterer's machinery
    * (graft.dedup.Dedup.components, which is already id-generic):
    * driver union-find when the edge list fits a heap-derived budget
    * (component graphs are usually tiny relative to the node corpus),
    * else distributed min-label propagation with pointer jumping
    * (O(log diameter) rounds, each one join + one aggregate) and
    * lineage truncation per round. Returns (id, component) for every
    * node in the edge list, component = min reachable id.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    graft.dedup.Dedup.components(
      edges.select(F.col("a").as("id1"), F.col("b").as("id2")), maxIter)

  /** Modularity report for a community assignment (Newman & Girvan,
    * Phys. Rev. E 2004) — the quality score that adjudicates a
    * clustering, DIVISION-FREE: instead of Q = Σ_c (e_c/m −
    * (d_c/2m)²) with its cross-engine double division, every row
    * carries q_num = 4m·e_c − d_c², so Σ q_num = Q·4m² — exact
    * integers (the ×200-Tukey-fence policy applied to graph metrics).
    * Positive q_num = the community beats the random-graph
    * expectation for its degree mass.
    *
    * pairs: undirected canonical (a, b), one row per edge (m = row
    * count); communities: (node, community). Cost: one degree count,
    * one two-sided label join over the EDGE list (bounded by m), one
    * groupBy per community — no iteration, composes with
    * [[labelPropagation]]. m rides as a one-row broadcast, never a
    * driver round-trip. Returns (community, n_nodes, intra_edges,
    * degree_sum, q_num), |communities| rows, unordered.
    */
  def modularity(pairs: DataFrame, communities: DataFrame): DataFrame = {
    // canonical-input normalization (r15): self-loops dropped, both
    // orientations + duplicates collapsed to one canonical (a<b) row —
    // so m, degrees and intra counts are well-defined for ANY input,
    // not only pre-canonicalized ones (the wired graphs were already
    // canonical; arbitrary callers may not be). One distinct shuffle
    // at |E| — the price of an honest contract.
    // persisted (r20): the canonicalized pair table feeds the doubled
    // edge list (twice), the m aggregate and the intra join — four
    // occurrences of the distinct in one plan, each a full shuffle of
    // the input when unpersisted
    val p = Pins.persist(pairs.select(F.least(F.col("a"), F.col("b")).as("a"),
        F.greatest(F.col("a"), F.col("b")).as("b"))
      .where(F.col("a") =!= F.col("b"))
      .distinct())
    val e = p.unionAll(p.select(F.col("b").as("a"), F.col("a").as("b")))
    val mRow = p.agg(F.count(F.lit(1)).as("m"))
    val deg = e.groupBy(F.col("a").as("node")).agg(F.count(F.lit(1)).as("d"))
    val lab = communities.select(F.col("node"), F.col("community"))
    val intra = p
      .join(lab.select(F.col("node").as("a"), F.col("community").as("ca")), "a")
      .join(lab.select(F.col("node").as("b"), F.col("community").as("cb")), "b")
      .where(F.col("ca") === F.col("cb"))
      .groupBy(F.col("ca").as("community"))
      .agg(F.count(F.lit(1)).as("intra_edges"))
    val dc = lab.join(deg, "node")
      .groupBy("community")
      .agg(F.count(F.lit(1)).as("n_nodes"), F.sum(F.col("d")).as("degree_sum"))
    // products in DECIMAL, never Long (the seasonalAnomalies policy):
    // at m ~ 1e10 edges the 4m·intra INTERMEDIATE overflows Long —
    // ANSI throws — even when q_num itself is tiny (Q ≈ 0, the
    // well-mixed common case). decimal(19,0) terms keep every product
    // exact to 1e38; the output cast back to long then only fails,
    // loudly, when q_num itself cannot be represented.
    val m19 = F.col("m").cast("decimal(19,0)")
    val intra19 = F.coalesce(F.col("intra_edges"), F.lit(0L)).cast("decimal(19,0)")
    val d19 = F.col("degree_sum").cast("decimal(19,0)")
    dc.join(intra, Seq("community"), "left")
      .crossJoin(F.broadcast(mRow))
      .select(F.col("community"), F.col("n_nodes"),
        F.coalesce(F.col("intra_edges"), F.lit(0L)).as("intra_edges"),
        F.col("degree_sum"),
        (F.lit(4L).cast("decimal(19,0)") * m19 * intra19 - d19 * d19)
          .cast("long").as("q_num"))
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara, Phys. Rev. E 2007) over an undirected pair list
    * (a, b), made DETERMINISTIC the way this repo's pageRank is: a
    * FIXED iteration count (static job count; the twin replays the
    * same rounds) and a total tie-break order — each round every node
    * adopts the label most frequent among its neighbors, ties broken
    * by smallest label. Asynchronous/randomized update order (the
    * paper's default) is irreproducible cross-engine; synchronous
    * rounds with a total order are a pure function of the input.
    *
    * Scale: each round is one (edges ⋈ labels → count → per-node
    * argmax) — the canonical message-passing join; labels are |V|
    * narrow rows, the per-node argmax is a (node)-partitioned window
    * over ≤ deg(v) label-count rows. Per-round lineage pinning via
    * checkpoint/localCheckpoint (the pageRank fix — plain persist
    * doubles the logical plan every round). Returns
    * (node, community), |V| rows, unordered.
    */
  def labelPropagation(pairs: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, "at least one iteration")
    // canonical-input normalization (r15): self-loops dropped (a node
    // voting for its own label would bias every round; a node with
    // ONLY self-loops has no neighbors and is dropped from the
    // output), parallel edges collapse in the existing distinct
    val e0 = pairs.select(F.col("a"), F.col("b"))
      .unionAll(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .where(F.col("a") =!= F.col("b"))
      .distinct().persist()
    // r21, the pageRank loop treatment (guide §2.4, §3.1): |E| is
    // measured once (doubles as e0's materializing action) to
    // size-derive the support's partition count, the edge frame pins
    // HASH-PARTITIONED BY `a` — the key of BOTH the per-round vote
    // aggregate and the tie-break window — and the measured-small
    // label side joins with an explicit broadcast hint (a pinned
    // label frame has no stats, so the planner would sort-merge and
    // re-shuffle the edge frame every round). With the broadcast join
    // preserving the streamed side's layout, a round's
    // join → groupBy(a, lbl) → window(a) chain runs with ZERO
    // exchanges (hash(a) clusters both the aggregate's and the
    // window's keys); before, each round paid three.
    val m = e0.count()
    val par = e0.sparkSession.sparkContext.defaultParallelism
    val pE = Pins.partsForRows(m, par)
    val e = Pins.pin(e0.repartition(pE, F.col("a")))
    // every node of an undirected edge list appears as `a`
    var labels = Pins.pin(e.select(F.col("a").as("node")).distinct()
      .select(F.col("node"), F.col("node").as("lbl")))
    val n = labels.count()
    e0.unpersist()
    def small(df: DataFrame): DataFrame =
      if (n <= Pins.BroadcastRows) F.broadcast(df) else df
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(F.col("c").desc, F.col("lbl").asc)
    for (_ <- 1 to iters) {
      val next = Pins.pin(e
        .join(small(labels.select(F.col("node").as("b2"), F.col("lbl"))),
          F.col("b") === F.col("b2"))
        .groupBy(F.col("a"), F.col("lbl")).agg(F.count(F.lit(1)).as("c"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") === 1)
        .select(F.col("a").as("node"), F.col("lbl")))
      Pins.release(labels)
      labels = next
    }
    Pins.release(e)
    labels.select(F.col("node"), F.col("lbl").as("community"))
  }

  /** k-core decomposition by synchronous peeling (Seidman, Social
    * Networks 1983; the distributed fixed-round formulation follows
    * Montresor et al. ICDCS'13's message-passing shape): repeatedly
    * delete every node whose degree in the SURVIVING subgraph is
    * below k, a FIXED `rounds` times — fixed rounds rather than a
    * convergence test keep the job count static and the result a pure
    * function of the input (the twin replays the same rounds; on a
    * converged graph extra rounds are no-ops, and on a still-shrinking
    * one both sides truncate identically).
    *
    * pairs: undirected (a, b). Each round is one degree count (groupBy
    * over the surviving edges) + two semi-joins re-filtering the edge
    * list to kept endpoints — the edge list only ever SHRINKS, so
    * per-round cost is bounded by the previous round's |E|. Per-round
    * lineage pinning via checkpoint/localCheckpoint (the pageRank
    * fix). Returns (node, degree) for nodes whose final-subgraph
    * degree is still ≥ k — their degree in the k-core. |V_core| rows,
    * unordered.
    */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    def degrees(e: DataFrame): DataFrame =
      e.groupBy(F.col("a")).agg(F.count(F.lit(1)).as("deg"))
    // canonical-input normalization (r15): self-loops dropped (a loop
    // is not a neighbor for coreness; a loop-only node has degree 0
    // and can never be in a k-core), parallel edges collapse in the
    // existing distinct
    var e = Pins.pin(pairs.select(F.col("a"), F.col("b"))
      .unionAll(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .where(F.col("a") =!= F.col("b"))
      .distinct())
    for (_ <- 1 to rounds) {
      val keep = degrees(e).where(F.col("deg") >= k).select(F.col("a").as("n"))
      val next = Pins.pin(e
        .join(keep, F.col("a") === F.col("n"), "left_semi")
        .join(keep, F.col("b") === F.col("n"), "left_semi"))
      Pins.release(e) // next is eagerly pinned; release the old round's blocks
      e = next
    }
    degrees(e).where(F.col("deg") >= k)
      .select(F.col("a").as("node"), F.col("deg").as("degree"))
  }

  /** Multi-source BFS: minimum hop count from a seed set over an
    * undirected pair list, bounded to a FIXED round budget (hop
    * distances > rounds report as unreached — the bounded-frontier
    * contract; fixed rounds keep the job count static and the twin
    * replays the same rounds). Seeds with no edges still report
    * hop 0 — distance-from-seed-set includes the seeds.
    *
    * Scale: per round one (frontier ⋈ edges → groupBy min) — the
    * message-passing join again; the distance table is |reached|
    * narrow rows. The union references the previous round twice, so
    * every round is lineage-pinned (checkpoint/localCheckpoint —
    * plain persist doubles the logical plan per round). Returns
    * (node, hops) for reached nodes, unordered.
    */
  def shortestHops(pairs: DataFrame, sources: DataFrame,
                   rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "at least one round")
    val e = pairs.select(F.col("a"), F.col("b"))
      .unionAll(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct().persist()
    var dist = Pins.pin(sources.select(F.col("node")).distinct()
      .withColumn("h", F.lit(0)))
    for (_ <- 1 to rounds) {
      val next = Pins.pin(dist
        .unionAll(dist
          .join(e, dist("node") === e("a"))
          .select(e("b").as("node"), (dist("h") + F.lit(1)).as("h")))
        .groupBy("node").agg(F.min("h").as("h")))
      Pins.release(dist) // next is eagerly pinned; release the old round's blocks
      dist = next
    }
    e.unpersist()
    dist.select(F.col("node"), F.col("h").as("hops"))
  }

  /** Bounded-round single-source(-set) shortest paths over an
    * undirected WEIGHTED pair list (a, b, cost) — [[shortestHops]]'s
    * min-plus generalization (Bellman-Ford rounds; fixed `rounds`
    * bounds path LENGTH in hops, so costs are exact for paths of ≤
    * rounds edges and nodes only reachable by longer paths are
    * absent — the bounded-frontier contract, replayed by the twin).
    * Costs are integer longs: the per-round groupBy min is exact.
    *
    * Scale: identical shape to [[shortestHops]] — per round one
    * (distances ⋈ edges → groupBy min), distance table referenced
    * twice per round so rounds lineage-pin. Returns (node, dist),
    * reached nodes only, unordered.
    */
  def shortestPaths(pairs: DataFrame, sources: DataFrame,
                    rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "at least one round")
    val e = pairs.select(F.col("a"), F.col("b"), F.col("cost").cast("long").as("cost"))
      .unionAll(pairs.select(F.col("b").as("a"), F.col("a").as("b"),
        F.col("cost").cast("long").as("cost")))
      .distinct().persist()
    var dist = Pins.pin(sources.select(F.col("node")).distinct()
      .withColumn("d", F.lit(0L)))
    for (_ <- 1 to rounds) {
      val next = Pins.pin(dist
        .unionAll(dist
          .join(e, dist("node") === e("a"))
          .select(e("b").as("node"), (dist("d") + e("cost")).as("d")))
        .groupBy("node").agg(F.min("d").as("d")))
      Pins.release(dist) // next is eagerly pinned; release the old round's blocks
      dist = next
    }
    e.unpersist()
    dist.select(F.col("node"), F.col("d").as("dist"))
  }

  /** Seed-set harmonic centrality (Boldi & Vigna, Internet Math 2014
    * — the closeness variant that is well-defined on DISCONNECTED
    * graphs: unreachable pairs contribute 0 instead of poisoning the
    * mean): for each node v, H(v) = Σ_{s∈S, 1≤d(s,v)≤rounds} 1/d(s,v)
    * over a caller-chosen seed set S — the Eppstein-Wang estimator's
    * sampled-pivots shape, with the sample made deterministic by the
    * caller (e.g. a modulus predicate on the id).
    *
    * DIVISION-FREE (the ×200-fence policy): every reciprocal is
    * scaled by lcm(1..rounds), so each contribution `scale div d` is
    * an EXACT integer (d divides scale by construction) and h_num =
    * H(v)·scale — integer-comparable cross-engine, no float ever.
    *
    * Scale: [[shortestHops]] per seed — the distance table carries
    * (seed, node, h), so per-round cost is |S| × |reached| narrow
    * rows through one join + one groupBy min; rounds lineage-pin and
    * release via [[Pins]]. |S| is the cost knob: harmonic centrality
    * over a pivot SAMPLE is the standard estimator at scale. Returns
    * (node, n_reach, h_num) for nodes some seed reaches at d ≥ 1
    * (seeds count toward other seeds, never themselves), unordered.
    */
  def harmonicCentrality(pairs: DataFrame, seeds: DataFrame,
                         rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "1 <= rounds <= 20")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val scale = (1L to rounds.toLong).reduce((a, b) => a / gcd(a, b) * b)
    val e = pairs.select(F.col("a"), F.col("b"))
      .unionAll(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct().persist()
    var dist = Pins.pin(seeds.select(F.col("node")).distinct()
      .select(F.col("node").as("seed"), F.col("node"), F.lit(0).as("h")))
    for (_ <- 1 to rounds) {
      val next = Pins.pin(dist
        .unionAll(dist
          .join(e, dist("node") === e("a"))
          .select(dist("seed"), e("b").as("node"),
            (dist("h") + F.lit(1)).as("h")))
        .groupBy("seed", "node").agg(F.min("h").as("h")))
      Pins.release(dist) // next is eagerly pinned; release the old round's blocks
      dist = next
    }
    e.unpersist()
    dist.where(F.col("h") >= 1)
      .groupBy("node")
      .agg(F.count(F.lit(1)).as("n_reach"),
        F.sum(F.expr(s"CAST($scale AS BIGINT) div h")).as("h_num"))
  }

  /** Link-prediction scores over an undirected pair list (Liben-Nowell
    * & Kleinberg, CIKM 2003): for each NON-adjacent pair within two
    * hops, the common-neighbor count (the paper's strongest simple
    * predictor) and the preferential-attachment product
    * deg(u)·deg(v) — the two classic integer-exact features, ranked
    * (cn desc, pa desc, pair asc) top-k. No float anywhere: cn and pa
    * are exact integers (pa multiplies in DECIMAL first — the
    * sampleKey overflow policy; two 3e9-degree hubs would wrap a Long
    * product).
    *
    * Scale: candidate generation is one self-join of the adjacency
    * list on the PIVOT node — inherently Σ_w deg(w)², so pivots above
    * `maxPivotDegree` are excluded BY CONTRACT (the field's standard
    * mitigation: a super-hub's endorsement is the WEAKEST evidence —
    * Adamic-Adar down-weights it toward 0 — while costing the most to
    * emit; the degree-ordered trick that saves triangle COUNTING
    * cannot save pair ENUMERATION, which needs every pivot's full
    * neighbor square). The cap bounds the join at
    * |pivots|·maxPivotDegree², a caller-visible knob; endpoint
    * degrees in pa stay FULL degrees. Returns (a, b, cn, pa), k rows
    * via TakeOrderedAndProject — k rows per partition move, never a
    * global sort.
    */
  def linkPrediction(pairs: DataFrame, maxPivotDegree: Int = 1000,
                     k: Int = 100): DataFrame = {
    require(maxPivotDegree >= 1 && k >= 1, "positive cap and k")
    // self-loops dropped: a looped node would otherwise pivot for its
    // own incident pairs and count ITSELF as a "common neighbor"
    val e = Pins.persist(pairs.select(F.col("a"), F.col("b"))
      .unionAll(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .where(F.col("a") =!= F.col("b"))
      .distinct())
    val deg = e.groupBy(F.col("a").as("node")).agg(F.count(F.lit(1)).as("deg"))
    val byPivot = e.select(F.col("a").as("w"), F.col("b").as("n"))
      .join(deg.where(F.col("deg") <= maxPivotDegree)
        .select(F.col("node").as("w")), Seq("w"), "left_semi")
    val cand = byPivot.as("x").join(byPivot.as("y"),
        F.col("x.w") === F.col("y.w") && F.col("x.n") < F.col("y.n"))
      .groupBy(F.col("x.n").as("a"), F.col("y.n").as("b"))
      .agg(F.count(F.lit(1)).as("cn"))
    cand
      .join(e.where(F.col("a") < F.col("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(F.col("node").as("a"), F.col("deg").as("deg_a")), "a")
      .join(deg.select(F.col("node").as("b"), F.col("deg").as("deg_b")), "b")
      .select(F.col("a"), F.col("b"), F.col("cn"),
        (F.col("deg_a").cast("decimal(19,0)") *
          F.col("deg_b").cast("decimal(19,0)")).cast("long").as("pa"))
      .orderBy(F.col("cn").desc, F.col("pa").desc,
        F.col("a").asc, F.col("b").asc)
      .limit(k)
  }

  /** Integer-scaled 1/ln(d) lookup for Adamic-Adar (Adamic & Adar,
    * Social Networks 2003): entry d → floor(scale / ln d) for
    * 2 ≤ d ≤ cap (a common neighbor has degree ≥ 2 by definition, so
    * ln is never 0). Generated ONCE here and embedded as a PLAN
    * LITERAL by both the Spark operator and the DuckDB twin
    * (OracleSql calls this same function to print its VALUES list),
    * so cross-engine exactness never depends on runtime float math —
    * both engines only SUM the shared integers. The fixed-point
    * policy's answer to "AA needs 1/ln(deg) floats": under a pivot
    * cap the domain is finite, so the whole function is a table.
    */
  def aaTable(cap: Int, scale: Long = 1000000L): Seq[(Int, Long)] = {
    require(cap >= 2 && scale >= 1, "cap >= 2 and positive scale")
    (2 to cap).map(d => d -> (scale / math.log(d.toDouble)).toLong)
  }

  /** [[linkPrediction]] extended with the Adamic-Adar score (the
    * strongest predictor in Liben-Nowell & Kleinberg's comparison
    * table): aa_num = Σ_{w ∈ CN(a,b)} floor(scale/ln deg(w)) — each
    * common neighbor's evidence down-weighted by its degree, from the
    * shared integer [[aaTable]] (pivot degrees are ≤ maxPivotDegree
    * by the cap, so the table covers every pivot). Candidate
    * generation, the pivot-degree cap, and the non-adjacency filter
    * are identical to [[linkPrediction]]; ranking is
    * (aa_num desc, cn desc, pa desc, pair asc) top-k. Returns
    * (a, b, cn, pa, aa_num).
    */
  def linkPredictionAA(pairs: DataFrame, maxPivotDegree: Int = 1000,
                       k: Int = 100, aaScale: Long = 1000000L): DataFrame = {
    require(maxPivotDegree >= 2 && k >= 1, "cap >= 2 and positive k")
    val e = Pins.persist(pairs.select(F.col("a"), F.col("b"))
      .unionAll(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .where(F.col("a") =!= F.col("b"))
      .distinct())
    val deg = e.groupBy(F.col("a").as("node")).agg(F.count(F.lit(1)).as("deg"))
    val tbl = F.typedlit(aaTable(maxPivotDegree, aaScale)
      .map { case (d, v) => d.toLong -> v }.toMap)
    val byPivot = e.select(F.col("a").as("w"), F.col("b").as("n"))
      .join(deg.where(F.col("deg") <= maxPivotDegree)
        .select(F.col("node").as("w"), F.col("deg").as("wdeg")), "w")
      .withColumn("aaw", F.element_at(tbl, F.col("wdeg")))
    val cand = byPivot.as("x").join(byPivot.as("y"),
        F.col("x.w") === F.col("y.w") && F.col("x.n") < F.col("y.n"))
      .groupBy(F.col("x.n").as("a"), F.col("y.n").as("b"))
      .agg(F.count(F.lit(1)).as("cn"), F.sum(F.col("x.aaw")).as("aa_num"))
    cand
      .join(e.where(F.col("a") < F.col("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(F.col("node").as("a"), F.col("deg").as("deg_a")), "a")
      .join(deg.select(F.col("node").as("b"), F.col("deg").as("deg_b")), "b")
      .select(F.col("a"), F.col("b"), F.col("cn"),
        (F.col("deg_a").cast("decimal(19,0)") *
          F.col("deg_b").cast("decimal(19,0)")).cast("long").as("pa"),
        F.col("aa_num"))
      .orderBy(F.col("aa_num").desc, F.col("cn").desc, F.col("pa").desc,
        F.col("a").asc, F.col("b").asc)
      .limit(k)
  }

  /** Degree-ordered orientation of an undirected canonical pair list
    * (a < b): each edge is re-pointed from its LOWER-ranked endpoint
    * to its higher-ranked one under the total order (degree, node) —
    * the classic compact-forward / degree-ordering trick (Latapy TCS
    * 2008; Suri & Vassilvitskii WWW'11 use the same order for their
    * partitioned count). Out-degrees under this orientation are
    * bounded by O(√m) on any graph (more tightly, by arboricity), so
    * the 2-path join cost Σ outdeg² never explodes on a hub — a
    * million-follower node contributes ZERO 2-paths as a pivot
    * because every incident edge points INTO it. Returns
    * (src, dst, ddeg) where ddeg is dst's degree (carried so the
    * 2-path join can order its two legs without another join).
    */
  private[graft] def orientByDegree(pairs: DataFrame): DataFrame = {
    val und = pairs.select(F.col("a"), F.col("b"))
    val deg = und.select(F.col("a").as("node"))
      .unionAll(und.select(F.col("b").as("node")))
      .groupBy("node").agg(F.count(F.lit(1)).as("deg"))
    val withDeg = und
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "adeg"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "bdeg"), "b")
    val aLower = F.struct(F.col("adeg"), F.col("a")) <
      F.struct(F.col("bdeg"), F.col("b"))
    withDeg.select(
      F.when(aLower, F.col("a")).otherwise(F.col("b")).as("src"),
      F.when(aLower, F.col("b")).otherwise(F.col("a")).as("dst"),
      F.when(aLower, F.col("bdeg")).otherwise(F.col("adeg")).as("ddeg"))
  }

  /** Per-node triangle participation over an UNDIRECTED edge list
    * given as canonical pairs (a < b, deduplicated). Distributed
    * exact counting via DEGREE-ORDERED orientation ([[orientByDegree]];
    * Latapy TCS'08, Suri & Vassilvitskii WWW'11): every triangle
    * {x, y, z} has exactly ONE node with two out-edges under the
    * orientation (its lowest-(deg,node) member), so joining the
    * oriented list with itself on the source — ordering the two legs
    * by the carried destination rank — enumerates each triangle's
    * unique 2-path once, and a final equi-join closes it. Returns
    * (node, n_triangles) for nodes in ≥1 triangle.
    *
    * Scale: the 2-path join's output is Σ_v outdeg(v)², which the
    * orientation bounds by O(m^1.5) overall (arboricity-bounded per
    * node) — versus Σ deg² for a middle-vertex join, which a single
    * hub turns quadratic. AQE's skew split handles residual imbalance;
    * call sites can still pre-filter low-support edges (the wired
    * query keeps co-occurrence ≥ 2).
    */
  def triangleParticipation(pairs: DataFrame): DataFrame = {
    // persist the undirected input once (r20): orientByDegree
    // references it FIVE times in one plan (twice per degree-join leg
    // plus the edge list itself), so an unpersisted upstream — e.g.
    // the wired co-occurrence self-join + aggregate — re-ran five
    // times per build (measured: ~5x the upstream's task time behind
    // graph_clustering/triangles/modularity). An input that arrives
    // already persisted (clusteringCoefficient shares its own copy)
    // is not double-cached — the components() discipline.
    val alreadyCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und = if (alreadyCached) pairs
      else Pins.persist(pairs.select(F.col("a"), F.col("b")))
    val e = Pins.persist(orientByDegree(und))
    val tri = Pins.persist(e.as("e1")
      .join(e.as("e2"),
        F.col("e1.src") === F.col("e2.src") &&
          (F.struct(F.col("e1.ddeg"), F.col("e1.dst")) <
            F.struct(F.col("e2.ddeg"), F.col("e2.dst"))))
      .join(e.as("e3"),
        F.col("e1.dst") === F.col("e3.src") && F.col("e2.dst") === F.col("e3.dst"))
      .select(F.col("e1.src").as("x"), F.col("e1.dst").as("y"),
        F.col("e2.dst").as("z")))
    tri.select(F.col("x").as("node"))
      .unionAll(tri.select(F.col("y").as("node")))
      .unionAll(tri.select(F.col("z").as("node")))
      .groupBy("node").agg(F.count(F.lit(1)).as("n_triangles"))
  }

  /** Per-node LOCAL clustering coefficient (Watts & Strogatz '98)
    * over canonical undirected pairs: lcc(v) = 2·tri(v) / (deg(v)·
    * (deg(v)−1)) for deg ≥ 2, reported as an exact truncating ppm —
    * (2·tri·1e6) div (deg·(deg−1)) with every product in
    * DECIMAL(38)/HUGEINT (tri(v) ≤ deg², so the Long-wrap cliff is
    * real at hub degrees) and non-negative operands throughout, so
    * Spark `div` == DuckDB `//`. Triangle counts come from the
    * degree-ordered orientation ([[triangleParticipation]] — the
    * O(m^1.5) bound); degrees from one groupBy; zero-triangle nodes
    * report lcc 0, degree-1 nodes are excluded (the coefficient is
    * undefined, not zero). Returns (node, deg, n_triangles, lcc_ppm).
    */
  def clusteringCoefficient(pairs: DataFrame): DataFrame = {
    // ONE persisted copy of the undirected input shared between the
    // degree count here and the triangle pass (which sees it already
    // cached and does not re-persist) — unpersisted, the upstream pair
    // builder ran ~7x in one plan (see triangleParticipation)
    val und = Pins.persist(pairs.select(F.col("a"), F.col("b")))
    val deg = und.select(F.col("a").as("node"))
      .unionAll(und.select(F.col("b").as("node")))
      .groupBy("node").agg(F.count(F.lit(1)).as("deg"))
    val tri = triangleParticipation(und)
    deg.where(F.col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(F.col("node"), F.col("deg"),
        F.coalesce(F.col("n_triangles"), F.lit(0L)).as("n_triangles"),
        F.expr("CAST((CAST(2 AS DECIMAL(38,0)) * " +
          "CAST(coalesce(n_triangles, 0) AS DECIMAL(38,0)) * " +
          "CAST(1000000 AS DECIMAL(38,0))) div " +
          "(CAST(deg AS DECIMAL(38,0)) * CAST(deg - 1 AS DECIMAL(38,0))) " +
          "AS BIGINT)").as("lcc_ppm"))
  }
}
