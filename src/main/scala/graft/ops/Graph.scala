package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Distributed graph analytics over edge lists — the link-importance
  * primitives a training-data pipeline uses to weight crawl sources
  * (host/page authority) before sampling. Companion of the dedup
  * family's connected components (TextDedup.duplicateGroups): same
  * Pregel-by-DataFrame shape — a bounded per-iteration join+aggregate
  * keyed on the vertex id, lineage truncated by lazy localCheckpoints.
  * Graphs that fit on the driver run the identical recurrence there
  * instead (ScalePath decides; OpsSpec pins each pair bit-equal).
  */
object Graph {

  /** Weighted PageRank in EXACT Int64 arithmetic — rank mass is carried
    * in integer `scale` units and every division is a truncating integer
    * division, so the result is bit-identical regardless of
    * partitioning, merge order, or engine (the DuckDB oracle replays
    * the same formula).
    *
    * Per iteration:
    *   rank'(v) = teleport + (dampNum · Σ_u floor(rank(u)·w(u,v) / W(u))) div dampDen
    * with teleport = (dampDen − dampNum)·scale div dampDen, W(u) the
    * total out-weight of u. Ranks start at `scale` (total mass N·scale;
    * PageRank up to that constant factor). Dangling-node mass is dropped
    * — deterministically, identically on every engine.
    *
    * Scale shape: each iteration is ONE join of the (checkpointed,
    * out-weight-annotated) edge list with the current rank vector keyed
    * on src, then ONE aggregation keyed on dst — the standard
    * Pregel-on-shuffle layout; state per executor is bounded by the
    * edge/vertex partitions, never the whole graph. 10 iterations on a
    * 1000-executor cluster is 20 shuffles of edge-list size, with
    * map-side combine shrinking the aggregate to vertex cardinality.
    * Edge lists within ScalePath.DriverRows run on the driver.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
               iters: Int = 10, scale: Long = 1000000L,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    rankFlow(edges, srcCol, dstCol, wCol, None, iters, scale, dampNum, dampDen)

  /** pageRank's recurrence; `seeds` None teleports to every node. */
  private def rankFlow(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
                       seeds: Option[Set[Long]], iters: Int, scale: Long,
                       dampNum: Long, dampDen: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1L && dampNum >= 0L && dampDen >= 1L && dampNum <= dampDen,
      s"need scale >= 1 and 0 <= dampNum <= dampDen, got scale=$scale damp=$dampNum/$dampDen")
    val e = edges.select(
      edges(srcCol).cast(LongType).as("src"),
      edges(dstCol).cast(LongType).as("dst"),
      edges(wCol).cast(LongType).as("w"))
      // non-positive weights carry no rank mass; dropping them up front
      // also guarantees every out-weight is > 0, so the fast path's Java
      // division and the distributed `div` can never divide by zero (and
      // therefore cannot diverge — one would throw, the other null→0)
      .where(col("w") > 0)
    // out-weight annotated edges are loop-invariant: compute once,
    // truncate lineage so 10 iterations don't replay the edge pipeline
    val ew = e.join(e.groupBy("src").agg(sum("w").as("ow")), "src")
      .select("src", "dst", "w", "ow")
      .localCheckpoint(false)
    val teleport = (dampDen - dampNum) * scale / dampDen
    // Link graphs are often TINY next to the corpus they weight (hosts,
    // not pages): on the driver, one collect + the identical integer
    // recurrence replaces iters×2 scheduled shuffles
    ScalePath.collectIfSmall(ew) match {
      case Some(rows) =>
        val spark = edges.sparkSession
        import spark.implicits._
        val es = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val nodes = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct.sorted
        val seeded: Long => Boolean = seeds.getOrElse(_ => true)
        var rank = nodes.map(n => n -> (if (seeded(n)) scale else 0L)).toMap
        for (_ <- 1 to iters) {
          val in = new scala.collection.mutable.HashMap[Long, Long]()
          es.foreach { case (s, d, w, ow) =>
            in(d) = in.getOrElse(d, 0L) + rank(s) * w / ow
          }
          rank = nodes.map(n => n ->
            ((if (seeded(n)) teleport else 0L) + dampNum * in.getOrElse(n, 0L) / dampDen)).toMap
        }
        nodes.map(n => (n, rank(n))).toSeq.toDF("node", "rank")
      case None =>
        val nodes = ew.select(col("src").as("node"))
          .union(ew.select(col("dst").as("node")))
          .distinct()
          .localCheckpoint(false)
        // v on seeded nodes, 0 elsewhere
        def seedOnly(v: Long) = seeds.fold(lit(v))(s =>
          when(col("node").isInCollection(s), lit(v)).otherwise(lit(0L)))
        var ranks = nodes.withColumn("rank", seedOnly(scale))
        for (_ <- 1 to iters) {
          val contrib = ew.join(ranks, ew("src") === ranks("node"))
            .select(col("dst"), expr("(rank * w) div ow").as("c"))
            .groupBy("dst").agg(sum("c").as("s"))
          ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
            .select(col("node"),
              (seedOnly(teleport) +
                expr(s"($dampNum * coalesce(s, 0L)) div $dampDen")).as("rank"))
            .localCheckpoint(false)
        }
        ranks
    }
  }

  /** Bounded-depth reachability with walk counting from a single start
    * node — the influence/expansion primitive behind "what does this seed
    * reach in ≤k hops, and how strongly" (crawl frontier scoring,
    * recommendation expansion). Semantics are EXACTLY the recursive-CTE
    * formulation both DuckDB and Spark 4.1 (`WITH RECURSIVE` / UnionLoop)
    * evaluate:
    *
    *   reach(node, depth): anchor (start, 0); step joins reach rows with
    *   depth < maxDepth to edges on src = node. Output per node:
    *   hops = MIN(depth), n_paths = COUNT(*) = number of distinct walks
    *   of length ≤ maxDepth from start (walks may revisit nodes).
    *
    * Rather than running the raw recursive CTE — whose loop step replays
    * the full edge-derivation subplan every iteration (UnionLoop inlines
    * the CTE body; measured 32 s vs <1 s for this shape at sf0.01) — the
    * walk counts follow the closed recurrence
    *
    *   walks(v, 0)   = [v = start]
    *   walks(v, d+1) = Σ_{(u,v) ∈ E} walks(u, d)
    *
    * over a ONCE-materialized edge list: per depth, one join of the
    * frontier (node, cnt) with the checkpointed edges + one map-side-
    * combined aggregate on dst — the pageRank shuffle layout, except the
    * frontier is walk-count-weighted and iteration stops early when it
    * empties. All arithmetic is Int64 adds, so results are partition- and
    * engine-independent. Same dd6/pageRank scale split: seed graphs that
    * fit on the driver run the identical recurrence locally instead of
    * paying 2·maxDepth scheduled shuffles.
    */
  def reachability(edges: DataFrame, srcCol: String, dstCol: String,
                   start: Long, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(
      edges(srcCol).cast(LongType).as("src"),
      edges(dstCol).cast(LongType).as("dst"))
      .localCheckpoint(false)
    ScalePath.collectIfSmall(e) match {
      case Some(rows) =>
        val adj = rows.map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
        val hops = scala.collection.mutable.HashMap(start -> 0L)
        val paths = scala.collection.mutable.HashMap(start -> 1L)
        var frontier = Map(start -> 1L)
        var d = 0L
        while (d < maxDepth && frontier.nonEmpty) {
          val next = scala.collection.mutable.HashMap[Long, Long]()
          frontier.foreach { case (u, c) =>
            adj.getOrElse(u, Array.empty[Long]).foreach { v =>
              next(v) = next.getOrElse(v, 0L) + c
            }
          }
          d += 1
          next.foreach { case (v, c) =>
            if (!hops.contains(v)) hops(v) = d
            paths(v) = paths.getOrElse(v, 0L) + c
          }
          frontier = next.toMap
        }
        hops.keys.toSeq.sorted.map(n => (n, hops(n), paths(n)))
          .toDF("node", "hops", "n_paths")
      case None =>
        var frontier = Seq((start, 1L)).toDF("node", "cnt").localCheckpoint(false)
        var acc = frontier.select(col("node"), lit(0L).as("depth"), col("cnt"))
        var d = 0L
        var drained = false
        while (d < maxDepth && !drained) {
          val next = e.join(frontier, e("src") === frontier("node"))
            .select(col("dst").as("node"), col("cnt"))
            .groupBy("node").agg(sum("cnt").as("cnt"))
            .localCheckpoint(false)
          d += 1
          if (next.isEmpty) drained = true
          else {
            acc = acc.union(next.select(col("node"), lit(d).as("depth"), col("cnt")))
            frontier = next
          }
        }
        acc.groupBy("node")
          .agg(min("depth").as("hops"), sum("cnt").as("n_paths"))
    }
  }

  /** Per-node triangle counts over an undirected graph — the local
    * clustering / community-density primitive (spam-farm detection and
    * link-quality weighting in crawl pipelines lean on triangle density).
    *
    * Algorithm: degree orientation ("compact-forward", Latapy 2008 /
    * Cohen's MapReduce formulation). Each undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger one, so every
    * triangle is generated by EXACTLY ONE wedge (two out-edges of its
    * smallest-key vertex) closed by one oriented edge. Out-degrees under
    * this orientation are O(√m) regardless of skew — a celebrity node
    * with 10⁸ followers contributes wedges only through its few
    * HIGHER-degree neighbors, so the wedge join's fan-out is bounded and
    * the plan survives power-law graphs that break naive neighbor
    * self-joins.
    *
    * Shuffle shape: one distinct on the canonical edge, one map-side-
    * combined degree aggregate, two joins to annotate endpoint degrees,
    * one self-join keyed on the wedge apex, one join keyed on the closing
    * (x, y) pair, one final count aggregate. No step materializes
    * anything driver-side.
    *
    * Output: (node, triangles) for every vertex in ≥1 triangle — counts
    * are orientation-independent, so the id-ordered SQL oracle matches.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(
        least(edges(srcCol), edges(dstCol)).cast(LongType).as("a"),
        greatest(edges(srcCol), edges(dstCol)).cast(LongType).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a→b when (deg(a), a) < (deg(b), b); a < b already, so ties
    // on degree keep the id order — a strict total order either way
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"),
        when(col("da") <= col("db"), col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(false)
    // wedges (x, y) out of apex u, ordered by the SAME (deg, id) key the
    // orientation uses — the closing edge, if present, is exactly x→y
    val w1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val w2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = w1.join(w2, "u")
      .where(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
    val tri = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    tri.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Bounded-hop single-source shortest paths — gr2's reachability with
    * min-plus (tropical) semantics instead of counting: dist(v) = the
    * minimum total edge cost over all walks of ≤ `maxDepth` edges from
    * `start`, i.e. `maxDepth` synchronous Bellman–Ford relaxation rounds.
    * Exactly the recursive-CTE formulation (anchor (start, 0); step joins
    * rows with depth < maxDepth to edges and adds the cost; final
    * MIN(dist) per node) — but evaluated as the relaxation recurrence
    * over a ONCE-materialized edge list, because the raw UnionLoop plan
    * replays the edge subplan every iteration AND enumerates every walk;
    * the frontier here carries only the nodes whose best-known distance
    * IMPROVED last round, so work per round is frontier×edges, not
    * walk-count. All arithmetic is Int64 adds and MINs — partition- and
    * engine-independent. Early exit when no distance improves. Same
    * dd6/pageRank driver fast path.
    * Returns (node, dist) for every node reached within maxDepth hops.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    costCol: String, start: Long, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(
        edges(srcCol).cast(LongType).as("src"),
        edges(dstCol).cast(LongType).as("dst"),
        edges(costCol).cast(LongType).as("cost"))
      // negative costs break Bellman-Ford's bounded-walk = relaxation
      // equivalence only at negative cycles; refuse them loudly so the
      // recursive-CTE oracle semantics and the relaxation always agree
      .where(col("cost") >= 0)
      .localCheckpoint(false)
    ScalePath.collectIfSmall(e) match {
      case Some(rows) =>
        val adj = rows.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
        val dist = scala.collection.mutable.HashMap(start -> 0L)
        var frontier = Map(start -> 0L)
        var d = 0
        while (d < maxDepth && frontier.nonEmpty) {
          val improved = scala.collection.mutable.HashMap[Long, Long]()
          frontier.foreach { case (u, du) =>
            adj.getOrElse(u, Array.empty[(Long, Long)]).foreach { case (v, c) =>
              val nd = du + c
              if (nd < dist.getOrElse(v, Long.MaxValue) &&
                nd < improved.getOrElse(v, Long.MaxValue)) improved(v) = nd
            }
          }
          improved.foreach { case (v, nd) => dist(v) = nd }
          frontier = improved.toMap
          d += 1
        }
        dist.toSeq.sortBy(_._1).toDF("node", "dist")
      case None =>
        var dist = Seq((start, 0L)).toDF("node", "dist").localCheckpoint(false)
        var frontier = dist
        var d = 0
        var drained = false
        while (d < maxDepth && !drained) {
          val cand = e.join(frontier, e("src") === frontier("node"))
            .select(col("dst").as("node"), (col("dist") + col("cost")).as("nd"))
            .groupBy("node").agg(min("nd").as("nd"))
          val improved = cand.join(dist.select(col("node"), col("dist").as("old")),
              Seq("node"), "left")
            .where(col("old").isNull || col("nd") < col("old"))
            .select(col("node"), col("nd").as("dist"))
            .localCheckpoint(false)
          d += 1
          if (improved.isEmpty) drained = true
          else {
            dist = dist.join(improved.select(col("node").as("__in"), col("dist").as("__nd")),
                dist("node") === col("__in"), "full_outer")
              .select(coalesce(col("node"), col("__in")).as("node"),
                coalesce(col("__nd"), col("dist")).as("dist"))
              .localCheckpoint(false)
            frontier = improved
          }
        }
        dist
    }
  }

  /** Fixed-round k-core peeling ("onion decomposition", Batagelj–Zaveršnik
    * peeling run breadth-synchronously) over an undirected edge list — the
    * engagement-density primitive behind "which users/items sit in a
    * mutually-dense sub-community" (spam-ring and bot-farm screening,
    * community coreness weighting before sampling).
    *
    * Each round simultaneously removes EVERY surviving node whose degree
    * within the surviving subgraph is < k, for `rounds` rounds. Output is
    * (node, peel_round): the 1-based round a node was peeled in, 0 = still
    * in the k-core when the rounds ran out. The per-round removal set is a
    * pure function of the surviving vertex SET — no ordering, hashing or
    * float anywhere — so the decomposition is partition-, retry- and
    * engine-independent, and a SQL oracle can replay it exactly by
    * unrolling the rounds as chained CTEs.
    *
    * Scale shape: the doubled edge list is checkpointed once; per round it
    * is restricted to surviving endpoints by two semi-joins keyed on the
    * vertex id and degree-counted by one map-side-combined aggregate (the
    * pageRank shuffle layout — shuffles bounded by the CURRENT subgraph,
    * which only shrinks), and the loop exits early at the fixpoint.
    * Lineage is truncated every round with lazy localCheckpoints. Same
    * dd6/pageRank driver fast path: link graphs that fit on the driver
    * run the identical set recurrence locally — bit-equal results
    * (OpsSpec asserts both paths agree).
    */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String, k: Int,
                rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(
        edges(aCol).cast(StringType).as("a"),
        edges(bCol).cast(StringType).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    // doubled (both directions) so degree = count of rows keyed on "a"
    val ue = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(false)
    ScalePath.collectIfSmall(ue) match {
      case Some(rows) =>
        val adj: Map[String, Array[String]] = rows.map(r => (r.getString(0), r.getString(1)))
          .groupBy(_._1).map { case (n, a) => n -> a.map(_._2) }
        var alive: Set[String] = adj.keySet
        val peeled = scala.collection.mutable.HashMap[String, Long]()
        var r = 1
        var done = false
        while (r <= rounds && !done) {
          val dead = alive.filter(n => adj(n).count(alive.contains) < k)
          if (dead.isEmpty) done = true
          else {
            dead.foreach(n => peeled(n) = r.toLong)
            alive = alive -- dead
            r += 1
          }
        }
        (peeled.toSeq ++ alive.toSeq.map(_ -> 0L)).toDF("node", "peel_round")
      case None =>
        var alive = ue.select(col("a").as("node")).distinct().localCheckpoint(false)
        var removed = spark.emptyDataset[(String, Long)].toDF("node", "peel_round")
        var r = 1
        var done = false
        while (r <= rounds && !done) {
          val deg = ue
            .join(alive.select(col("node").as("a")), "a", "left_semi")
            .join(alive.select(col("node").as("b")), "b", "left_semi")
            .groupBy("a").agg(count(lit(1)).as("d"))
          val survivors = deg.where(col("d") >= k)
            .select(col("a").as("node"))
            .localCheckpoint(false)
          val dead = alive.join(survivors, Seq("node"), "left_anti")
            .localCheckpoint(false)
          if (dead.isEmpty) done = true
          else {
            removed = removed
              .union(dead.select(col("node"), lit(r.toLong).as("peel_round")))
              .localCheckpoint(false)
            alive = survivors
            r += 1
          }
        }
        removed.union(alive.select(col("node"), lit(0L).as("peel_round")))
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) — `iters` UNNORMALIZED
    * mutual-reinforcement rounds in exact Int64: a'(v) = Σ_{u→v} h(u),
    * then h'(u) = Σ_{u→v} a'(v), starting from h = a = 1. Per-iteration
    * L2 normalization only rescales the ranking, so dropping it keeps
    * every value an exact integer (engine-portable; an unrolled-CTE
    * oracle replays the identical sums) — callers cap `iters` so scores
    * stay in Int64 (growth ≈ (max degree)^{2·iters}; the guard below
    * fails loudly on overflow rather than wrapping). Same shuffle
    * layout as pageRank: one edge join + one map-side-combined dst/src
    * aggregate per half-round over a checkpointed edge list; driver
    * fast path under the shared edge budget.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(
        edges(srcCol).cast(LongType).as("src"),
        edges(dstCol).cast(LongType).as("dst"))
      .distinct()
      .localCheckpoint(false)
    // pre-flight overflow bound covering BOTH paths (the distributed
    // loop's sums are plain non-ANSI Long adds, which would WRAP):
    // h_t <= (maxInDeg · maxOutDeg)^t, so require the bound fits Int64.
    // Two map-side-combined aggregates over the checkpointed edges.
    val maxOut = e.groupBy("src").agg(count(lit(1)).as("c"))
      .agg(max("c")).head.getLong(0)
    val maxIn = e.groupBy("dst").agg(count(lit(1)).as("c"))
      .agg(max("c")).head.getLong(0)
    val growthBits = iters *
      (math.log(maxIn.toDouble * maxOut.toDouble) / math.log(2.0))
    require(growthBits < 62.0,
      s"HITS unnormalized growth bound 2^$growthBits exceeds Int64 " +
        s"(maxInDeg=$maxIn, maxOutDeg=$maxOut, iters=$iters) — lower iters")
    def checkedAdd(x: Long, y: Long): Long = {
      val r = x + y
      if (((x ^ r) & (y ^ r)) < 0) throw new ArithmeticException(
        s"HITS overflow after unnormalized growth — lower iters")
      r
    }
    ScalePath.collectIfSmall(e) match {
      case Some(rows) =>
        val es = rows.map(r => (r.getLong(0), r.getLong(1)))
        val nodes = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct
        var h = nodes.map(_ -> 1L).toMap
        var a = nodes.map(_ -> 1L).toMap
        for (_ <- 1 to iters) {
          val a1 = scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
          es.foreach { case (u, v) => a1(v) = checkedAdd(a1(v), h(u)) }
          a = nodes.map(n => n -> a1(n)).toMap
          val h1 = scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
          es.foreach { case (u, v) => h1(u) = checkedAdd(h1(u), a(v)) }
          h = nodes.map(n => n -> h1(n)).toMap
        }
        nodes.sorted.map(n => (n, h(n), a(n))).toSeq.toDF("node", "hub", "auth")
      case None =>
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node")))
          .distinct()
          .localCheckpoint(false)
        var h = nodes.withColumn("hub", lit(1L))
        var a = nodes.withColumn("auth", lit(1L))
        for (_ <- 1 to iters) {
          val aIn = e.join(h.select(col("node").as("src"), col("hub")), "src")
            .groupBy(col("dst").as("node")).agg(sum("hub").as("s"))
          a = nodes.join(aIn, Seq("node"), "left")
            .select(col("node"), coalesce(col("s"), lit(0L)).as("auth"))
            .localCheckpoint(false)
          val hOut = e.join(a.select(col("node").as("dst"), col("auth")), "dst")
            .groupBy(col("src").as("node")).agg(sum("auth").as("s"))
          h = nodes.join(hOut, Seq("node"), "left")
            .select(col("node"), coalesce(col("s"), lit(0L)).as("hub"))
            .localCheckpoint(false)
        }
        h.join(a, "node").select(col("node"), col("hub"), col("auth"))
    }
  }

  /** PERSONALIZED PageRank — pageRank with the teleport mass restricted
    * to a seed set: rank flows out from the seeds through the weighted
    * edges, giving "importance relative to THESE nodes" — the
    * recommendation-expansion / related-items primitive (vs global
    * PageRank's "importance overall"). `pageRank` is this recurrence
    * with every node seeded; the only change is the teleport vector:
    *
    *   rank₀(v)    = scale·[v ∈ S]
    *   rank_{t+1}(v) = teleport·[v ∈ S] + d·Σ_{(u,v)} rank_t(u)·w/ow
    *
    * Seeds are a plan-baked literal set (bounded — personalization seeds
    * are a user's handful of items, never data-sized). Nodes unreachable
    * from the seeds hold rank 0.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           wCol: String, seeds: Set[Long], iters: Int = 10,
                           scale: Long = 1000000L,
                           dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(seeds.nonEmpty, "need a non-empty seed set")
    rankFlow(edges, srcCol, dstCol, wCol, Some(seeds), iters, scale, dampNum, dampDen)
  }

  /** Synchronous weighted label propagation — community detection with a
    * fixed round count and a DETERMINISTIC update rule, so results are
    * partition-order-free and oracle-replayable (vanilla async LPA is
    * famously run-order dependent; this is the synchronous variant the
    * distributed implementations use). Directed input edges are
    * symmetrized (parallel weights summed), every node starts labeled
    * with itself, and each round every node adopts
    *
    *   argmax_label Σ w(neighbor with that label),  ties → MIN label
    *
    * computed as one (node, label) weight aggregate + one per-node
    * struct-MAX aggregate — two map-side-combined hash aggregations per
    * round over the checkpointed adjacency, NO per-node sort and no
    * window (the tie-break rides max(struct(wsum, -label))). Same scale
    * split as pageRank/hits: graphs that fit on the driver run the
    * identical recurrence there (link/item graphs are usually tiny next
    * to the corpus); the loop below is the 100 TB path.
    * Returns (node, community) where community is the round-`iters`
    * label.
    */
  def lpaCommunities(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
                     iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    import spark.implicits._
    val dir = edges.select(
        edges(srcCol).cast(LongType).as("a"),
        edges(dstCol).cast(LongType).as("b"),
        edges(wCol).cast(LongType).as("w"))
      .where(col("a") =!= col("b") && col("w") > 0)
    // symmetrize + merge parallel edges: adjacency (node, nb, w) with
    // w = total weight between the endpoints in either direction
    val und = dir.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum("w").as("w"))
    val adj = und.select(col("a").as("node"), col("b").as("nb"), col("w"))
      .union(und.select(col("b").as("node"), col("a").as("nb"), col("w")))
      .localCheckpoint(false)
    // the adjacency holds every undirected edge twice
    ScalePath.collectIfSmall(adj, 2 * ScalePath.DriverRows) match {
      case Some(rows) =>
        val es = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val nodes = es.map(_._1).distinct
        var lab = nodes.map(n => n -> n).toMap
        for (_ <- 1 to iters) {
          val best = bestLabels(es.iterator.map { case (v, u, w) => (v, lab(u), w) })
          lab = nodes.map(n => n -> best(n)).toMap
        }
        nodes.sorted.map(n => (n, lab(n))).toSeq.toDF("node", "community")
      case None =>
        var labels = adj.select(col("node")).distinct()
          .withColumn("lab", col("node"))
          .localCheckpoint(false)
        for (_ <- 1 to iters) {
          val scored = adj.join(labels.select(col("node").as("nb"), col("lab")), "nb")
            .groupBy("node", "lab").agg(sum("w").as("ws"))
          labels = scored
            .groupBy("node")
            .agg(max(struct(col("ws"), (-col("lab")).as("nl"))).as("best"))
            .select(col("node"), (-col("best.nl")).as("lab"))
            .localCheckpoint(false)
        }
        labels.select(col("node"), col("lab").as("community"))
    }
  }

  /** The driver twin of the distributed max(struct(score, -label)):
    * per node, the label whose (node, label, weight) votes sum highest,
    * ties → MIN label. */
  private def bestLabels(votes: Iterator[(Long, Long, Long)]): Map[Long, Long] = {
    val score = new scala.collection.mutable.HashMap[(Long, Long), Long]()
    votes.foreach { case (v, l, w) => score((v, l)) = score.getOrElse((v, l), 0L) + w }
    val best = new scala.collection.mutable.HashMap[Long, (Long, Long)]()
    score.foreach { case ((v, l), s) =>
      best.get(v) match {
        case Some((bl, bs)) if s < bs || (s == bs && l > bl) => ()
        case _ => best(v) = (l, s)
      }
    }
    best.iterator.map { case (v, (l, _)) => v -> l }.toMap
  }

  /** SEEDED (semi-supervised) label spread — lpaCommunities' recurrence
    * with a CLAMPED seed set (Zhu & Ghahramani 2002's label propagation,
    * hard-label majority-vote variant): seeds keep their label every
    * round, every other node adopts the majority label of its labeled
    * neighbors (ties → MIN label) and keeps its current label — initially
    * none — when no neighbor is labeled yet. The pipeline use: spread a
    * small human/classifier-labeled sample over the kNN similarity graph
    * to pseudo-label a corpus.
    *
    * Determinism and plan shape are lpaCommunities': synchronous rounds,
    * unweighted symmetrized edges, two map-side-combined hash aggregates
    * per round over a checkpointed adjacency, the tie-break inside
    * max(struct(votes, -label)) — no window, no sort, nothing collected.
    * `seeds` must be (node, label) with one row per seeded node.
    * Returns (node, lab) for every graph node; lab is null where no
    * label has reached the node after `iters` rounds.
    */
  def labelSpread(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedNodeCol: String, seedLabCol: String,
                  iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dir = edges.select(edges(srcCol).cast(LongType).as("a"),
        edges(dstCol).cast(LongType).as("b"))
      .where(col("a") =!= col("b"))
    val und = dir.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("node"), col("b").as("nb"))
      .union(und.select(col("b").as("node"), col("a").as("nb")))
      .localCheckpoint(false)
    val sd = seeds.select(seeds(seedNodeCol).cast(LongType).as("node"),
      seeds(seedLabCol).cast(LongType).as("slab"))
    // Same dd6/pageRank/lpa scale split: kNN label graphs are usually
    // tiny next to the corpus they pseudo-label — when the adjacency
    // fits on the driver, one collect + the identical local recurrence
    // replaces iters × (join + 2 aggregates) scheduled shuffles. The
    // loop below stays the 100 TB path.
    ScalePath.collectIfSmall(adj, 2 * ScalePath.DriverRows) match {
      case Some(rows) =>
        val spark = edges.sparkSession
        import spark.implicits._
        val es = rows.map(r => (r.getLong(0), r.getLong(1)))
        val nodes = es.map(_._1).distinct
        val nodeSet = nodes.toSet
        // clamp labels: only seeds of graph nodes participate, exactly the
        // distributed left join; a null seed label means "unseeded"
        val slab = new scala.collection.mutable.HashMap[Long, Long]()
        sd.collect().foreach { r =>
          if (!r.isNullAt(1) && nodeSet.contains(r.getLong(0)))
            slab(r.getLong(0)) = r.getLong(1)
        }
        var lab: Map[Long, Option[Long]] = nodes.map(n => n -> slab.get(n)).toMap
        for (_ <- 1 to iters) {
          // majority over LABELED neighbors
          val best = bestLabels(es.iterator.flatMap { case (v, u) => lab(u).map(l => (v, l, 1L)) })
          lab = nodes.map(n => n -> slab.get(n).orElse(best.get(n)).orElse(lab(n))).toMap
        }
        nodes.sorted.map(n => (n, lab(n))).toSeq.toDF("node", "lab")
      case None =>
        // (node, slab, lab): slab the clamp, lab the current assignment
        var lab = adj.select(col("node")).distinct()
          .join(sd, Seq("node"), "left")
          .withColumn("lab", col("slab"))
          .localCheckpoint(false)
        for (_ <- 1 to iters) {
          val votes = adj
            .join(lab.where(col("lab").isNotNull)
              .select(col("node").as("nb"), col("lab").as("nblab")), "nb")
            .groupBy("node", "nblab").agg(count(lit(1)).as("c"))
            .groupBy("node")
            .agg(max(struct(col("c"), (-col("nblab")).as("nl"))).as("best"))
            .select(col("node"), (-col("best.nl")).as("vlab"))
          lab = lab.join(votes, Seq("node"), "left")
            .select(col("node"), col("slab"),
              coalesce(col("slab"), coalesce(col("vlab"), col("lab"))).as("lab"))
            .localCheckpoint(false)
        }
        lab.select(col("node"), col("lab"))
    }
  }

  /** The events-table item graph: consecutive items (props.k) per user in
    * (ts, event_id) order become directed edges src→dst, self-loops
    * dropped, multiplicity as the edge weight. One window shuffle keyed
    * on user_id, one aggregation keyed on the edge. */
  def itemTransitionEdges(events: DataFrame): DataFrame = {
    val it = events.select(
      col("user_id"),
      unix_micros(col("ts")).as("tus"),
      col("event_id"),
      graft.ops.EventProps.propsK(col("props")).as("item"))
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    it.withColumn("src", lag("item", 1).over(w))
      .where(col("src").isNotNull && col("src") =!= col("item"))
      .groupBy(col("src"), col("item").as("dst"))
      .agg(count(lit(1)).as("w"))
  }
}
