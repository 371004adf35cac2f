package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph analytics over edge tables — link-quality weighting for
  * corpus curation (PageRank over a citation/link graph is the classic
  * quality prior for web-scale training data) and local clustering structure
  * (triangle counts). Complements [[Components]] (connected components).
  *
  * Shape at 100 TB: both operators keep the graph as a distributed edge
  * table and never collect it. PageRank is the textbook synchronous power
  * iteration — each round is one join of the rank vector against the edge
  * table (both hash-partitioned on the source id, so the join co-locates
  * after the first shuffle) and one aggregation by destination. Skewed
  * in-degree (celebrity nodes) is absorbed by partial aggregation: the
  * map-side combine sums contributions per destination before the shuffle.
  * Triangle counting uses the degree-ordered orientation (count each
  * triangle at its lowest-degree vertex), which bounds the wedge explosion
  * to O(m^1.5) regardless of hub degree — the plain wedge join would
  * generate deg² candidates on hubs.
  */
object Graphs {

  /** Union-find `find` with two-pass path compression, iterative on
    * purpose: the driver tails ([[boruvkaMsf]]'s Kruskal pass and merge
    * step) run at the `maxLocalEdges`/`maxLocalMerge` bounds (1–2M
    * entries), where a recursive find on an adversarial parent chain
    * would overflow the driver stack. Pass 1 walks to the root; pass 2
    * re-walks pointing every visited node at it. */
  private[operators] def ufFind(
      parent: scala.collection.mutable.Map[Long, Long], x: Long): Long = {
    parent.getOrElseUpdate(x, x)
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (c != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Symmetrise + dedup an edge list: returns both directions of each
    * distinct undirected {src, dst} pair, self-loops dropped. */
  def symmetrize(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Synchronous PageRank over a directed edge table `(src, dst)` with
    * damping `d`, run for a fixed `iters` rounds. Every node appearing as a
    * source or destination is ranked; nodes with no out-edges (dangling)
    * redistribute their mass uniformly each round, so total rank mass is
    * conserved at 1.0. Returns `(node, rank)`.
    *
    * Each iteration: contributions = ranks ⋈ edges on src (ranks and edges
    * are both partitioned by src; the edge table is persisted once and
    * reused every round) → groupBy dst sum (map-side partial aggregation
    * soaks hub skew) → add the teleport and dangling terms (two scalar
    * broadcasts). Lineage is truncated by persisting each round's rank
    * vector and unpersisting the previous one, so the plan stays O(1) deep.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, d: Double = 0.85): DataFrame = {
    val e = edges.toDF("src", "dst").distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count().toDouble
    val outDeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one up-front check: a graph with no dangling nodes (e.g. any
    // symmetrised graph) needs no per-round mass scalar, so the whole
    // power iteration stays ONE lazy plan — no driver action per round
    val hasDangling = nodes
      .join(outDeg, nodes("node") === outDeg("src"), "left_anti")
      .limit(1).count() > 0
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val withDeg = ranks.join(outDeg, ranks("node") === outDeg("src"), "left")
      // mass held by dangling nodes this round (scalar, broadcast back);
      // the action also materialises `ranks`, so lineage stays O(1) deep
      val danglingMass = if (!hasDangling) 0.0
        else withDeg.filter(col("deg").isNull)
          .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      val contribs = withDeg.filter(col("deg").isNotNull)
        .select(col("node").as("src"), (col("rank") / col("deg")).as("c"))
        .join(e, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("inflow"))
      val next = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - d) / n) + lit(d) *
            (coalesce(col("inflow"), lit(0.0)) + lit(danglingMass / n)))
            .as("rank"))
      if (hasDangling) {
        val p = next.persist(StorageLevel.MEMORY_AND_DISK)
        p.count() // materialise before dropping the previous round
        ranks.unpersist()
        ranks = p
      } else ranks = next
    }
    ranks
  }

  /** Per-node triangle participation counts over an undirected graph given
    * as distinct canonical edges `(a, b)` with `a < b`. Returns
    * `(node, tri_cnt)` for nodes in at least one triangle.
    *
    * Orientation: each edge points from its lower-degree endpoint to the
    * higher (ties by id). Wedges are enumerated at the lowest vertex of the
    * orientation order and closed against the oriented edge set, so each
    * triangle is found exactly once and hub vertices never enumerate their
    * full neighbourhood square.
    */
  def triangleCounts(canonEdges: DataFrame): DataFrame = {
    val e = canonEdges.toDF("a", "b")
      .filter(col("a") < col("b")).distinct()
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient: src = endpoint with (deg, id) smaller; total order → acyclic
    val withDeg = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    val oriented = withDeg.select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at the orientation-least vertex; close with an oriented edge
    val e1 = oriented.select(col("src"), col("dst").as("v1"))
    val e2 = oriented.select(col("src"), col("dst").as("v2"))
    val wedges = e1.join(e2, "src").filter(col("v1") < col("v2"))
    val closer = oriented.select(
      least(col("src"), col("dst")).as("v1"),
      greatest(col("src"), col("dst")).as("v2"))
    val tris = wedges.join(closer, Seq("v1", "v2"))
      .select(col("src").as("x"), col("v1").as("y"), col("v2").as("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }

  /** Multi-source BFS: minimum hop count from any seed node, expanded
    * to at most `maxHops` rounds — "how far is every page from the
    * trusted set" (TrustRank-style distance priors) or blast-radius
    * queries over lineage graphs.
    *
    * Synchronous frontier expansion: each round is ONE join of the
    * current frontier (nodes first reached last round) against the edge
    * table plus an anti-join against the visited set — the frontier
    * never re-expands visited nodes, so total work is O(edges touched),
    * not O(edges × hops). Frontier and visited `localCheckpoint` per
    * round — same lineage discipline as [[kCore]] and
    * [[Components.connectedComponents]]: persist alone caches data but
    * the logical plan still grows a union per hop, so the optimizer
    * re-walks an O(maxHops)-deep tree each round; eager checkpointing
    * keeps plan depth O(1) per hop. Rounds are fixed at `maxHops` — no
    * per-round driver data action; an empty frontier makes the remaining
    * joins no-ops. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16, "maxHops in [0, 16]")
    val e = edges.toDF("src", "dst").distinct().localCheckpoint(true)
    var visited = seeds.toDF("node").distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint(true)
    var frontier = visited.select("node")
    for (h <- 1 to maxHops) {
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(h.toLong))
        .localCheckpoint(true)
      visited = visited.union(next).localCheckpoint(true)
      frontier = next.select("node")
    }
    visited
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, public algorithm) over an undirected edge table, run for a
    * fixed `rounds` — the scalable form of LPA (the classic sequential
    * sweep is inherently serial; synchronous rounds are one keyed shuffle
    * each). Fully deterministic: every node starts labelled with itself;
    * each round every node adopts the most frequent label among its
    * neighbours, ties to the SMALLEST label. Per round: one edge⋈labels
    * join (both sides hash-partitioned), one (node,label) count with
    * map-side partials, one per-node argmax as a struct max — no window,
    * no collect; lineage truncated per round like [[kCorePeel]].
    * Deterministic fixed rounds + deterministic tie-break make the whole
    * evolution restatable in SQL (q222's 3-round nested-CTE oracle).
    * Returns (node, label). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds in [1,16]")
    val e = symmetrize(edges).localCheckpoint(true)
    // symmetrized: every node occurs as src, and every node has >= 1
    // neighbour, so the per-round argmax covers the full node set
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      labels = e
        .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src").as("node"))
        // negation-free tie-break: min over (-cnt, label) = most frequent
        // label, ties to the SMALLEST label. Negating `cnt` (always a
        // count) instead of `label` keeps string/any-typed node ids
        // working — negating a string label casts to null (non-ANSI) and
        // silently collapses every label.
        .agg(min(struct((-col("cnt")).as("_nc"), col("label").as("_l")))
          .as("_m"))
        .select(col("node"), col("_m._l").as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Fixed-round k-core peeling: each round drops every node whose degree
    * in the SURVIVING subgraph is < k (then the edges touching it). A
    * bounded number of synchronous rounds — each one degree aggregate plus
    * two semi-joins, all distributed — approaches the true k-core from
    * above; the `converged` column reports whether the LAST round removed
    * anything, so callers know when the fixpoint is reached. (The exact
    * sequential algorithm — degeneracy-ordered peeling — is inherently
    * serial; synchronous rounds are the scalable form, like [[pageRank]]'s
    * synchronous iterations.) `edges` must be symmetric ([[symmetrize]]).
    *
    * Output: (node, degree, converged) for survivors after `rounds` —
    * degree measured in the FINAL induced subgraph (possibly < k when not
    * yet converged; survivors that lost every edge report 0).
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 16)
    // localCheckpoint per round: persist alone caches DATA but the
    // LOGICAL PLAN still grows by three joins every round — by round ~12
    // even printing the plan OOMs the driver. Eager local checkpoints
    // truncate lineage to the materialized blocks each round (the
    // standard iterative-graph discipline); stale checkpoint blocks are
    // released by the ContextCleaner as references drop.
    var e = edges.toDF("src", "dst").distinct().localCheckpoint(true)
    // seed "previous survivors" with the full node set so a single round
    // reports converged ⇔ it removed nothing at all
    var survivors: DataFrame =
      e.select(col("src").as("node")).distinct().localCheckpoint(true)
    var prevSurvivors: DataFrame = survivors
    for (_ <- 1 to rounds) {
      prevSurvivors = survivors
      survivors = e.groupBy("src").agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k).select(col("src").as("node"))
        .localCheckpoint(true)
      e = e.join(survivors.select(col("node").as("src")), Seq("src"),
          "left_semi")
        .join(survivors.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(true)
    }
    val finalDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    val convergedDf = survivors.agg(count(lit(1)).as("_a"))
      .crossJoin(prevSurvivors.agg(count(lit(1)).as("_b")))
      .select((col("_a") === col("_b")).as("converged"))
    survivors
      .join(finalDeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("degree"), lit(0L)).as("degree"))
      .crossJoin(convergedDf)
  }

  /** Borůvka minimum spanning forest over a weighted undirected edge
    * table `(src, dst, w)`: each round every component picks its
    * lightest outgoing edge (total order `(w, src, dst)` — ties can't
    * produce a cycle or nondeterminism), the chosen edges join the
    * forest, and components merge over the (component-count-sized)
    * chosen-edge graph. Component count at least halves per round, so
    * `maxRounds = 20` covers any graph a cluster can hold; per-round
    * work is one labels⋈edges join + one min-struct aggregate — all
    * partial-aggregable, lineage checkpointed per round (the
    * iterative-graph discipline shared with kCorePeel).
    *
    * The merge is hybrid, the standard Borůvka practice: while the
    * chosen-edge graph exceeds `maxLocalMerge` rows it merges with the
    * distributed [[Components.connectedComponents]] loop; once it fits
    * (components shrink geometrically, so this is every round but the
    * first few even at petabyte scale) a driver union-find resolves it
    * in one pass — ~16 synchronous barriers saved per round on a graph
    * whose remaining size is megabytes. Long-typed node ids take the
    * driver path; any other id type always uses the distributed loop.
    *
    * Returns the forest edges `(src, dst, w, component)` with the final
    * component label each edge belongs to — |V| − |components| rows, the
    * certificate a caller can audit (cycle-free by construction, one
    * component per input component). */
  def boruvkaMsf(edges: DataFrame, maxRounds: Int = 20,
      maxLocalMerge: Long = 2000000L,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 24)
    val spark = edges.sparkSession
    // canonical undirected weighted edges, deduped on (src,dst) keeping
    // the min weight; self-loops dropped
    val e0 = edges.toDF("src", "dst", "w")
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("w"))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .localCheckpoint(true)
    var labels = e0.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct().select(col("node"), col("node").as("comp"))
      .localCheckpoint(true)
    // the surviving (still cross-component) edge table: an edge that went
    // intra-component stays intra forever, so each round's filter SHRINKS
    // the join input — in a connected graph most edges die in 1-2 rounds
    var eCur = e0
    var forest: DataFrame = null
    var round = 0
    var done = false
    val longIds = e0.schema("src").dataType ==
      org.apache.spark.sql.types.LongType
    while (round < maxRounds && !done) {
      round += 1
      // driver Kruskal tail, the boruvka analogue of the SCC Kosaraju
      // pass: the surviving cross-edge set shrinks every round; once it
      // fits, one union-find sweep replaces the remaining rounds' ~10
      // barriers each. Both paths spec-pinned ≡ each other and Kruskal.
      if (longIds && eCur.count() <= maxLocalEdges) {
        val es = eCur
          .join(labels.select(col("node").as("src"), col("comp").as("ca")),
            Seq("src"))
          .join(labels.select(col("node").as("dst"), col("comp").as("cb")),
            Seq("dst"))
          .select(col("src").cast("long"), col("dst").cast("long"),
            col("w").cast("double"), col("ca").cast("long"),
            col("cb").cast("long"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getLong(3), r.getLong(4)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = ufFind(parent, x)
        val chosen = Vector.newBuilder[(Long, Long, Double)]
        // the same (w, src, dst) total order the distributed rounds use
        es.sortBy(t => (t._3, t._1, t._2)).foreach {
          case (s0, d0, w0, ca, cb) =>
            val (ra, rb) = (find(ca), find(cb))
            if (ra != rb) { parent(ra) = rb; chosen += ((s0, d0, w0)) }
        }
        import spark.implicits._
        forest = {
          val tail = chosen.result().toDF("src", "dst", "w")
            .select(col("src").cast(e0.schema("src").dataType).as("src"),
              col("dst").cast(e0.schema("dst").dataType).as("dst"),
              col("w").cast(e0.schema("w").dataType).as("w"))
          if (forest == null) tail else forest.unionByName(tail)
        }
        // final labels: comp -> union-find root min; resolve via the
        // same min-per-set convention as the distributed merge
        val minOf = scala.collection.mutable.Map.empty[Long, Long]
        val members = parent.keys.toArray
        members.foreach { m =>
          val r = find(m)
          minOf(r) = math.min(minOf.getOrElse(r, m), m)
        }
        val mapping = members.map(m => (m, minOf(find(m)))).toSeq
          .toDF("comp0", "compNew")
          .select(col("comp0").cast(e0.schema("src").dataType).as("comp"),
            col("compNew").cast(e0.schema("src").dataType).as("_new"))
        labels = labels.join(broadcast(mapping), Seq("comp"), "left")
          .select(col("node"), coalesce(col("_new"), col("comp")).as("comp"))
          .localCheckpoint(true)
        done = true
      } else {
      val cross = eCur
        .join(labels.select(col("node").as("src"), col("comp").as("ca")),
          Seq("src"))
        .join(labels.select(col("node").as("dst"), col("comp").as("cb")),
          Seq("dst"))
        .filter(col("ca") =!= col("cb"))
        .localCheckpoint(true) // reused: min-edge agg + next round's input
      if (cross.isEmpty) done = true
      else {
        // each component's lightest outgoing edge, from either side; the
        // struct carries (ca, cb) through the argmin so the merge step
        // needs NO further join against the labels
        val perComp = cross
          .select(explode(array(col("ca"), col("cb"))).as("comp"),
            struct(col("w"), col("src"), col("dst"),
              col("ca"), col("cb")).as("e"))
          .groupBy("comp").agg(min("e").as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.w").as("w"), col("e.ca").as("ca"), col("e.cb").as("cb"))
          .distinct() // the same edge may be two components' minimum
          .localCheckpoint(true)
        // plain union: depth is ≤ maxRounds over already-checkpointed
        // inputs, so no per-round materialization is needed here
        forest = if (forest == null) perComp.select("src", "dst", "w")
          else forest.unionByName(perComp.select("src", "dst", "w"))
        // merge: components over the chosen-edge COMPONENT graph (≤ one
        // edge per component — tiny relative to the input). Driver
        // union-find once it fits; distributed loop while it doesn't.
        val longIds = perComp.schema("ca").dataType ==
          org.apache.spark.sql.types.LongType
        val merged: DataFrame =
          if (longIds && perComp.count() <= maxLocalMerge) {
            val pairs = perComp.select(col("ca").cast("long"),
              col("cb").cast("long"))
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val parent = scala.collection.mutable.Map.empty[Long, Long]
            def find(x: Long): Long = ufFind(parent, x)
            pairs.foreach { case (a, b) =>
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) parent(ra) = rb
            }
            // deterministic labels: every member maps to its set's MIN
            val minOf = scala.collection.mutable.Map.empty[Long, Long]
            val members = parent.keys.toArray
            members.foreach { m =>
              val r = find(m)
              minOf(r) = math.min(minOf.getOrElse(r, m), m)
            }
            import spark.implicits._
            members.map(m => (m, minOf(find(m)))).toSeq
              .toDF("node", "component")
          } else Components.connectedComponents(
            perComp.select("ca", "cb"), "ca", "cb")
        labels = labels
          .join(merged.withColumnRenamed("node", "comp"), Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("component"), col("comp")).as("comp"))
          .localCheckpoint(true)
        eCur = cross.select("src", "dst", "w")
      }
      }
    }
    if (forest == null) {
      import spark.implicits._
      Seq.empty[(Long, Long, Double, Long)].toDF("src", "dst", "w", "component")
    } else {
      forest
        .join(labels.select(col("node").as("src"), col("comp").as("component")),
          Seq("src"))
    }
  }

  /** Strongly connected components of a DIRECTED edge table — the
    * Orzan coloring algorithm, the standard label-propagation SCC for
    * vertex-centric engines (Tarjan's stack is inherently sequential):
    * per peel round,
    *   1. TRIM: nodes with no remaining in-edges or no remaining
    *      out-edges are singleton SCCs (repeatedly — trimming exposes
    *      more trims); on DAG-like graphs this alone finishes the job;
    *   2. COLOR: propagate min node id FORWARD along edges to fixpoint
    *      — color(v) = the smallest id that reaches v;
    *   3. BACKWARD REACH: flag the color roots (v = color(v)) and
    *      propagate the flag BACKWARD along edges restricted to equal
    *      colors: the flagged set of color c is exactly the SCC of c
    *      (reaches c forward by coloring, reached from c backward by
    *      the flag);
    *   4. peel the found SCCs out of the edge set and repeat.
    * Every peel removes at least one SCC per color root, so `maxPeels`
    * bounds rounds; all propagation loops are label-table shuffles with
    * eager checkpoints (the kCore/components discipline).
    *
    * Like [[boruvkaMsf]], the loop is hybrid: while the remaining edge
    * set exceeds `maxLocalEdges` it peels distributively; once the
    * residue fits (trim + the first peels shrink it geometrically) a
    * driver Kosaraju pass finishes in one step — the tail of a peel
    * loop is megabytes, and each distributed peel costs ~30 synchronous
    * barriers. Long node ids take the driver path; other id types stay
    * fully distributed. Returns (node, scc) with scc = min node id of
    * the component. */
  def stronglyConnectedComponents(edges: DataFrame, maxPeels: Int = 8,
      maxPropRounds: Int = 40, maxLocalEdges: Long = 2000000L): DataFrame = {
    require(maxPeels >= 1 && maxPeels <= 16)
    val spark = edges.sparkSession
    import spark.implicits._
    var e = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    var result = Seq.empty[(Long, Long)].toDF("node", "scc")
      .select(col("node").cast(e.schema("src").dataType),
        col("scc").cast(e.schema("src").dataType))
    var nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val longIds = e.schema("src").dataType ==
      org.apache.spark.sql.types.LongType
    var peel = 0
    var localDone = false
    while (peel < maxPeels && !localDone && !nodes.isEmpty) {
      peel += 1
      if (longIds && e.count() <= maxLocalEdges) {
        // driver Kosaraju over the residue (order-of-megabytes by now)
        val es = e.select(col("src").cast("long"), col("dst").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val isolated = nodes // nodes with no remaining edges still need labels
          .select(col("node").cast("long")).collect().map(_.getLong(0))
          .filterNot((es.map(_._1) ++ es.map(_._2)).toSet)
        val comp = kosarajuScc(es) ++ isolated.map(n => (n, n))
        result = result.unionByName(
          comp.toSeq.toDF("node", "scc")
            .select(col("node").cast(e.schema("src").dataType).as("node"),
              col("scc").cast(e.schema("src").dataType).as("scc")))
        nodes = nodes.limit(0).localCheckpoint(true)
        localDone = true
      } else {
      // 1. trim to exhaustion: anything not on a cycle through both an
      // in- and an out-edge peels as a singleton
      var trimmed = true
      while (trimmed) {
        val keep = nodes
          .join(e.select(col("src").as("node")).distinct(), Seq("node"),
            "left_semi")
          .join(e.select(col("dst").as("node")).distinct(), Seq("node"),
            "left_semi")
          .localCheckpoint(true)
        val dropped = nodes.join(keep, Seq("node"), "left_anti")
        trimmed = !dropped.isEmpty
        if (trimmed) {
          result = result
            .unionByName(dropped.select(col("node"), col("node").as("scc")))
            .localCheckpoint(true)
          nodes = keep
          e = e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .select("src", "dst").localCheckpoint(true)
        }
      }
      if (!nodes.isEmpty) {
        // 2. forward min-color propagation to fixpoint. Round budget is
        // ADAPTIVE (round 10): maxPropRounds is the expected-diameter
        // budget, but a graph one hop deeper than expected should cost
        // one more barrier, not a caller retry — propagation continues
        // to a 16× hard cap and only THEN fails loudly (the cap keeps a
        // pathological million-hop chain from spinning barriers forever).
        val hardCap = maxPropRounds.toLong * 16
        var colors = nodes.select(col("node"), col("node").as("color"))
          .localCheckpoint(true)
        var it = 0; var stable = false
        while (it < hardCap && !stable) {
          it += 1
          val inbound = e
            .join(colors.select(col("node").as("src"), col("color").as("c")),
              Seq("src"))
            .groupBy(col("dst").as("node")).agg(min("c").as("inC"))
          val next = colors.join(inbound, Seq("node"), "left")
            .select(col("node"),
              least(col("color"), coalesce(col("inC"), col("color")))
                .as("color"),
              (col("inC") < col("color")).as("_chg"))
            .localCheckpoint(true)
          stable = next.filter(col("_chg")).isEmpty
          colors = next.drop("_chg")
        }
        // a non-fixpoint coloring silently splits SCCs (a node the min id
        // hasn't reached yet keeps a wrong color and the backward pass
        // flags only a subset) — fail loudly instead of returning them
        require(stable, s"stronglyConnectedComponents: forward coloring " +
          s"did not reach a fixpoint within 16×maxPropRounds=$hardCap " +
          "rounds; raise maxPropRounds (graph diameter vastly exceeds it)")
        // 3. backward flag propagation within equal colors, from roots
        val colored = e
          .join(colors.select(col("node").as("src"), col("color").as("cs")),
            Seq("src"))
          .join(colors.select(col("node").as("dst"), col("color").as("cd")),
            Seq("dst"))
          .filter(col("cs") === col("cd"))
          .select(col("src"), col("dst"), col("cs").as("color"))
          .localCheckpoint(true)
        var flagged = colors.filter(col("node") === col("color"))
          .select(col("node"), col("color")).localCheckpoint(true)
        it = 0; stable = false
        while (it < hardCap && !stable) {
          it += 1
          val reach = colored
            .join(flagged.select(col("node").as("dst"),
              col("color").as("fc")), Seq("dst"))
            .filter(col("color") === col("fc"))
            .select(col("src").as("node"), col("color")).distinct()
          val grown = flagged.unionByName(reach).distinct()
            .localCheckpoint(true)
          stable = grown.count() == flagged.count()
          flagged = grown
        }
        require(stable, s"stronglyConnectedComponents: backward reach " +
          s"did not reach a fixpoint within 16×maxPropRounds=$hardCap " +
          "rounds; raise maxPropRounds (SCC-internal distance vastly " +
          "exceeds it)")
        result = result
          .unionByName(flagged.select(col("node"), col("color").as("scc")))
          .localCheckpoint(true)
        // 4. peel
        nodes = nodes.join(flagged.select("node"), Seq("node"), "left_anti")
          .localCheckpoint(true)
        e = e.join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst").localCheckpoint(true)
      }
      }
    }
    require(nodes.isEmpty,
      s"stronglyConnectedComponents: not converged within $maxPeels peels")
    result
  }

  /** Iterative Kosaraju SCC on a driver-resident edge list: DFS finish
    * order on G, then DFS on Gᵀ in reverse finish order; each second-pass
    * tree is one SCC, labelled by its min member. (Deliberately a
    * DIFFERENT algorithm from the spec's Tarjan reference and the
    * distributed Orzan loop — three independent implementations must
    * agree.) */
  private[operators] def kosarajuScc(
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val fwd = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val rev = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val visited = scala.collection.mutable.Set.empty[Long]
    val finish = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (start <- nodes if !visited(start)) {
      val stack = scala.collection.mutable.ArrayBuffer(
        (start, fwd.getOrElse(start, Array.empty[Long]).iterator))
      visited += start
      while (stack.nonEmpty) {
        val (v, it) = stack.last
        if (it.hasNext) {
          val w = it.next()
          if (!visited(w)) {
            visited += w
            stack += ((w, fwd.getOrElse(w, Array.empty[Long]).iterator))
          }
        } else { stack.remove(stack.length - 1); finish += v }
      }
    }
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- finish.reverseIterator if !comp.contains(start)) {
      val members = scala.collection.mutable.ArrayBuffer(start)
      comp(start) = start
      val stack = scala.collection.mutable.ArrayBuffer(start)
      while (stack.nonEmpty) {
        val v = stack.remove(stack.length - 1)
        rev.getOrElse(v, Array.empty[Long]).foreach { w =>
          if (!comp.contains(w)) {
            comp(w) = start; members += w; stack += w
          }
        }
      }
      val m = members.min
      members.foreach(comp(_) = m)
    }
    comp.toMap
  }

  /** Adamic–Adar link prediction: for every non-adjacent node pair with
    * at least one common neighbour, score = Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg z)
    * — common neighbours weighted by how selective they are (a shared
    * rare collaborator says more than a shared hub). The standard
    * "which links are missing" primitive for graph-structured training
    * data.
    *
    * Two-hop pairs enumerate by joining the symmetrized edge table with
    * itself THROUGH the shared neighbour, so the work per neighbour z is
    * deg(z)² — the same hub blow-up every wedge enumeration has. `maxDeg`
    * caps it the way the inverted index's df cutoff does: neighbours
    * above the cap are dropped from the wedge scan (a z with deg > maxDeg
    * contributes < 1/ln(maxDeg) per pair anyway — the discarded signal is
    * the weakest by construction), making the worst task maxDeg²-bounded
    * at any graph size. Known-edge pairs are anti-joined out. Output:
    * (node_a, node_b, n_common, aa_score) for surviving pairs with
    * degree-capped common-neighbour count ≥ 1; aa_score rounded 6 dp. */
  def adamicAdar(edges: DataFrame, maxDeg: Int = 64): DataFrame = {
    require(maxDeg >= 2, s"adamicAdar: maxDeg=$maxDeg must be >= 2")
    val e = symmetrize(edges).localCheckpoint(true)
    val deg = e.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    val bounded = e.select(col("src").as("z"), col("dst").as("n"))
      .join(deg.filter(col("deg") <= maxDeg), Seq("z"))
    val wedges = bounded.select(col("z"), col("n").as("a"), col("deg"))
      .join(bounded.select(col("z"), col("n").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
    val scored = wedges.groupBy(col("a").as("node_a"), col("b").as("node_b"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(lit(1.0) / log(col("deg").cast("double"))), 6)
          .as("aa_score"))
    scored.join(
      e.select(col("src").as("node_a"), col("dst").as("node_b")),
      Seq("node_a", "node_b"), "left_anti")
  }
}
