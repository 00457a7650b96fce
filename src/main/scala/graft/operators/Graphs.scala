package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Link-graph analytics for corpus curation: rank hosts/domains by the
 * structure of who links to whom. Web-scale training corpora weight
 * documents by source authority (the public Common Crawl curation
 * recipe — PageRank, Page/Brin/Motwani/Winograd 1999; harmonic
 * centrality in CC's own ranking releases) — a capability the
 * reference's snapshot-query engine has no analogue for (its tables
 * carry no link structure; `app/schema/crawler.py` crawls schema
 * metadata, not content graphs). The host graph feeding this comes
 * from the same URL extraction the oracle suite already pins
 * (`TextAnalysis.extractUrls` / `x_url_extract`).
 *
 * Scale design: one iteration = one equi-join of the edge list with
 * the key-sized rank frame on `src` (broadcast when ranks fit, shuffle
 * hash otherwise — AQE picks) + one map-side-combined aggregation on
 * `dst`. State between iterations is NODE-sized, never edge-sized;
 * each round persists + `localCheckpoint`s the rank frame so the plan
 * does not grow with iteration count (the same lineage-truncation
 * discipline as [[Dedup.duplicateGroups]]' label propagation). The
 * dangling-mass term is a single-row aggregate folded into the same
 * job through a broadcast cross join — one action per iteration, no
 * separate driver-side collect.
 */
object Graphs {

  /**
   * PageRank with uniform teleport and dangling-mass redistribution,
   * fixed iteration count (the deterministic form — convergence
   * thresholds make results fixture-dependent):
   *
   *   pr'(v) = (1−d)/N + d · (Σ_{u→v} pr(u)/outdeg(u) + dangling/N)
   *
   * where `dangling` is the total rank held by nodes with no
   * out-edges. Edges are deduplicated; multi-edges do not double a
   * node's vote. Returns `(node, pr)` with Σ pr = 1 at every step.
   */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      smallGraphThreshold: Long = 200000L): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val n = nodes.count() // scalar: graph order, needed in the teleport term
    if (n == 0) { e.unpersist(); nodes.unpersist()
      return spark.emptyDataFrame.withColumn("node", lit("")).withColumn("pr", lit(0.0)).limit(0) }
    // Small-graph fast path: below the threshold the per-iteration cost
    // is pure job-scheduling latency, not data — same hybrid as
    // [[Dedup.duplicateGroups]]' driver union-find. Host graphs are
    // node-sized (hosts, not pages), so fixture-scale graphs take this
    // path; the distributed loop below is the 100 TB path (force-scaled
    // at 10M edges in ProbeForceScale11, pinned distributed in
    // PlanQualitySpec via smallGraphThreshold = 0).
    if (e.count() <= smallGraphThreshold) {
      val pr = pageRankLocal(e, nodes, n.toInt, iterations, damping)
      e.unpersist(); nodes.unpersist()
      return pr
    }
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()

    var pr = nodes.withColumn("pr", lit(1.0 / n)).localCheckpoint(true)
    for (_ <- 1 to iterations) {
      // rank held by nodes that link nowhere — redistributed uniformly.
      // A single-row frame folded into the next-rank job via a
      // broadcast cross join, NOT a separate driver action: one Spark
      // action per iteration (the eager checkpoint), so the per-round
      // fixed scheduling latency is paid once, not three times.
      val dangling = pr.join(outDeg, pr("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dangling"))
      val contrib = e.join(pr, e("src") === pr("node"))
        .join(outDeg, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("deg")).as("w"))
      val next = nodes.join(contrib, Seq("node"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("w"), lit(0.0)) +
              col("__dangling") / lit(n.toDouble)))
            .as("pr"))
        .localCheckpoint(true)
      pr.unpersist()
      pr = next
    }
    e.unpersist(); nodes.unpersist(); outDeg.unpersist()
    pr
  }

  /** Driver-side power iteration for sub-threshold graphs: identical
    * algebra to the distributed loop (teleport + damped contributions +
    * uniform dangling-mass redistribution), O(edges) per round on
    * collected arrays. Double accumulation order differs from the
    * distributed path by ~1e-15 relative — callers comparing across
    * paths round (the x_pagerank oracle rounds at 4 decimals). */
  private def pageRankLocal(e: DataFrame, nodes: DataFrame, n: Int,
      iterations: Int, damping: Double): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = e.sparkSession
    val nodeRows = nodes.collect()
    val idx = nodeRows.iterator.map(_.get(0)).zipWithIndex.toMap
    val es = e.collect().map(r => (idx(r.get(0)), idx(r.get(1))))
    val out = new Array[Int](n)
    es.foreach { case (s, _) => out(s) += 1 }
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      var dangling = 0.0
      var i = 0
      while (i < n) { if (out(i) == 0) dangling += pr(i); i += 1 }
      val contrib = new Array[Double](n)
      es.foreach { case (s, d) => contrib(d) += pr(s) / out(s) }
      pr = Array.tabulate(n)(j =>
        (1.0 - damping) / n + damping * (contrib(j) + dangling / n))
    }
    val schema = StructType(nodes.schema.fields :+ StructField("pr", DoubleType, nullable = false))
    val rows = nodeRows.zipWithIndex.map { case (r, j) =>
      org.apache.spark.sql.Row(r.get(0), pr(j)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /**
   * Multi-source BFS reachability: (node, depth) for every node
   * reachable from `sources` within `maxDepth` DIRECTED hops, depth =
   * the minimum hop count (sources themselves at depth 0). The
   * frontier-iteration (Pregel-style) pattern: each level is one
   * key-partitioned join of the CURRENT frontier against the edge
   * list plus an anti-join against the visited set, so per-level cost
   * is O(|frontier's out-edges|) — never |nodes|² and never the
   * exponential path blow-up a naive recursive UNION ALL walk hits on
   * cyclic graphs. The driver loop carries only the level counter;
   * frontier/visited stay distributed (localCheckpoint per level cuts
   * the growing lineage — the iterative-plan lesson from pageRank),
   * and the walk EXITS EARLY the first level the frontier empties,
   * so maxDepth is a ceiling, not a cost.
   *
   * The SQL sibling is a recursive CTE with UNION-distinct semantics
   * (the x_graph_reach oracle); this operator is the shape that
   * scales when the edge list does not fit a recursive CTE's
   * single-node iteration.
   */
  def reachability(edges: DataFrame, sources: DataFrame, maxDepth: Int = 10,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node", smallGraphThreshold: Long = 200000L): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint()
    // Small-graph fast path (round-18 measurement: the distributed loop
    // paid 39 scheduler rounds — ~1.2s — for a 31-node fixture graph):
    // below the threshold each level is pure job-scheduling latency, so
    // BFS runs on collected arrays instead — the same size-adaptive
    // hybrid as [[pageRank]] / [[Dedup.duplicateGroups]], and exactly
    // reproducible (integer depths, no float accumulation). The
    // distributed loop below remains the at-scale path (force-scaled in
    // ProbeReachScale; pass smallGraphThreshold = 0 to pin it).
    // The distinct sources are built once: the fast path collects them,
    // the distributed loop starts from them as level 0.
    val src = sources.select(col(nodeCol).as("node")).distinct()
      .localCheckpoint()
    // the fast path collects SOURCES too, so it must also be bounded on
    // the source count (r18 ADVICE: a tiny edge list paired with a huge
    // sources frame would otherwise collect unbounded) — an oversized
    // source set falls through to the distributed loop
    if (e.count() <= smallGraphThreshold && src.count() <= smallGraphThreshold)
      return reachabilityLocal(e, src, maxDepth)
    // visited is the LAZY union of checkpointed per-level frames:
    // only each level's NEW nodes are ever materialized, so the total
    // write cost is O(|reached|), not O(levels × |visited|) — the
    // probe measured 1.7× (125s → 72s) on a 50M-edge walk vs
    // re-checkpointing the accumulated set every level. The anti-join
    // still reads the full union per level (that read is what keeps
    // levels disjoint).
    val levels = scala.collection.mutable.ListBuffer(src.withColumn("depth", lit(0)))
    var frontier = levels.head
    var d = 0
    while (d < maxDepth && !frontier.isEmpty) {
      d += 1
      val visited = levels.map(_.select("node")).reduce(_ unionByName _)
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("depth", lit(d))
        .localCheckpoint()
      levels += next
      frontier = next
    }
    levels.reduce(_ unionByName _)
  }

  /** Driver-side BFS for sub-threshold graphs: identical semantics to
    * the distributed frontier loop (min hop depth, sources at 0, early
    * exit on an empty frontier, `maxDepth` cap) over collected edge /
    * source arrays. Depths are integers, so unlike [[pageRankLocal]]
    * there is no accumulation-order caveat — local ≡ distributed
    * bit-for-bit. */
  private def reachabilityLocal(e: DataFrame, src: DataFrame,
      maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = e.sparkSession
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    e.collect().foreach { r =>
      adj.getOrElseUpdate(r.get(0),
        scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
    }
    val depth = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    var frontier = src.collect().map(_.get(0)).toSeq
    frontier.foreach(s => depth.getOrElseUpdate(s, 0))
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      val next = scala.collection.mutable.ArrayBuffer.empty[Any]
      frontier.foreach { u =>
        adj.get(u).foreach(_.foreach { v =>
          if (!depth.contains(v)) { depth(v) = d; next += v }
        })
      }
      frontier = next.toSeq
    }
    val schema = StructType(Seq(src.schema.fields(0).copy(name = "node"),
      StructField("depth", IntegerType, nullable = false)))
    val rows = depth.toSeq.map { case (n, dd) => org.apache.spark.sql.Row(n, dd) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /** Degree statistics per node: out-degree, in-degree — the cheap
    * companion profile (one aggregation per direction, full-outer
    * merged on the node key). */
  def degreeStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /**
   * Exact triangle census of the UNDIRECTED simple graph underlying
   * `edges` (direction ignored, self-loops and duplicates dropped):
   * (n_nodes, n_edges, n_triangles, global_clustering) where
   * global_clustering = 3·triangles / wedges (Newman's transitivity).
   *
   * Scale: the degree-ORDERED edge orientation (each edge points to
   * its (degree, id)-larger endpoint) is the standard skew bound —
   * oriented out-degree is O(√m) on any graph, so the wedge join's
   * per-node fan-out never explodes on hubs (a celebrity node of
   * degree 10⁶ contributes wedges only through its ~√m oriented
   * out-edges, not deg² pairs). Both joins shuffle on node keys;
   * wedges close via one LeftSemi probe — each unordered wedge
   * (v,w)/(w,v) matches the orientation total order exactly once, so
   * the count is exact without a post-hoc division. Wedge totals for
   * the clustering coefficient come from the degree frame (|nodes|
   * rows), not from materializing wedges.
   */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint() // read 4× below (degrees, both join sides, counts)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val higher = // orientation: true when b is the (deg, id)-larger endpoint
      col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(higher, col("a")).otherwise(col("b")).as("u"),
        when(higher, col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint()
    val wedges = oriented.join(oriented.select(col("u"), col("v").as("w")), "u")
      .where(col("v") =!= col("w"))
    val closed = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
    val triangles = closed.agg((count(lit(1))).as("n_triangles"))
    val totals = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("__wedges"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    totals.crossJoin(nEdges).crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(when(col("__wedges") > 0,
          lit(3.0) * col("n_triangles") / col("__wedges")).otherwise(0.0), 6)
          .as("global_clustering"))
  }
}
