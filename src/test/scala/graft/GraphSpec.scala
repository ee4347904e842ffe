package graft

import graft.operators.Graph

/** q138 — the distributed PageRank loop pinned against an independent
  * dense power iteration in plain Scala (arrays and maps, no Spark
  * expressions): same damping, same uniform teleport, same
  * dangling-mass redistribution, run on the same supplier→part edge
  * set. Also asserts the invariants the recurrence guarantees — rank
  * mass conservation and in-degree monotonicity on this bipartite
  * fixture. */
class GraphSpec extends SparkTestBase {

  test("q138 top-20 matches an independent dense power iteration") {
    val edges = graft.sources.Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_partkey").collect()
      .map(r => (s"s${r.getLong(0)}", s"p${r.getLong(1)}")).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = nodes.length
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to Graph.Iterations) {
      val next = Array.fill(n)(0.0)
      var dangling = 0.0
      nodes.zipWithIndex.foreach { case (node, i) =>
        out.get(node) match {
          case Some(dsts) =>
            val share = r(i) / dsts.length
            dsts.foreach(d => next(idx(d)) += share)
          case None => dangling += r(i)
        }
      }
      r = next.map(c => 0.15 / n + 0.85 * (c + dangling / n))
    }
    // mass conservation: teleport + damping keep total rank at 1
    assert(math.abs(r.sum - 1.0) < 1e-9)
    val expected = nodes.zip(r)
      .map { case (node, rank) =>
        (node, BigDecimal(rank).setScale(8,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (node, rank) => (-rank, node) }
      .take(20)
    val rows = Graph.q138PageRank(spark, sf).collect()
    val got = rows.map(row => (row.getString(0), row.getDouble(1))).toSeq
    assert(got == expected.toSeq,
      s"top-20 diverges:\n got=$got\n exp=${expected.toSeq}")
    // bipartite fixture law: every supplier keeps out-edges, so only
    // part nodes can be dangling and the top ranks are parts (they
    // receive ~85% of all supplier mass each round)
    assert(got.forall(_._1.startsWith("p")))
    // this graph is NOT at its fixed point after 5 rounds: the early
    // exit must not have fired (all Iterations rounds ran, flag false)
    assert(rows.forall(!_.getBoolean(2)))
  }

  test("q138 early exit: a rank-uniform fixed-point graph reports " +
      "converged and stays uniform") {
    import org.apache.spark.sql.functions._
    val sess = spark
    import sess.implicits._
    // complete digraph K5 (every ordered pair): uniform ranks are an
    // EXACT fixed point of the recurrence, so round 1 reproduces round 0
    // up to fp noise (~1e-16 << ConvergenceEps) and the L1-delta exit
    // must fire instead of burning the remaining rounds
    val ids = 0 until 5
    val edges = (for { a <- ids; b <- ids if a != b }
      yield (s"n$a", s"n$b")).toDF("src", "dst")
    val nodes = edges.select(col("src").as("node")).distinct()
    val outdeg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    val edgesD = edges.join(outdeg.withColumnRenamed("node", "src"), Seq("src"))
    val ranks = Graph.pagerankRanks(nodes, edgesD, outdeg, 5L).collect()
    assert(ranks.length == 5)
    assert(ranks.forall(_.getBoolean(2)), "fixed point must report converged")
    ranks.foreach(r => assert(math.abs(r.getDouble(1) - 0.2) < 1e-12,
      s"uniform fixed point must stay uniform: $r"))
  }

  test("q140 matches a brute-force adjacency-set triangle recompute") {
    val row = Graph.q140TriangleCount(spark, sf).collect().head
    // independent reconstruction: co-purchase pairs with support >= 2,
    // triangles counted by neighbor-set intersection over each edge
    val byOrder = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).values.map(_.map(_._2))
    val support = collection.mutable.Map.empty[(Long, Long), Int]
      .withDefaultValue(0)
    byOrder.foreach { parts =>
      for (x <- parts; y <- parts if x < y) support((x, y)) += 1
    }
    val edges = support.filter(_._2 >= 2).keys.toVector
    val adj = collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) += v; adj(v) += u
    }
    val nodes = adj.keys.toVector
    // each triangle counted once: intersect neighbors above the edge
    val triangles = edges.map { case (u, v) =>
      (adj(u) & adj(v)).count(w => w > v)
    }.sum
    val wedges = nodes.map { n =>
      val d = adj(n).size.toLong; d * (d - 1) / 2
    }.sum
    assert(row.getLong(0) == nodes.size.toLong, "n_nodes")
    assert(row.getLong(1) == edges.size.toLong, "n_edges")
    assert(row.getLong(2) == wedges, "n_wedges")
    assert(row.getLong(3) == triangles.toLong, "n_triangles")
    assert(row.getDouble(4) ==
      BigDecimal(3.0 * triangles / wedges).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, "clustering_coeff")
    assert(triangles > 0, "fixture must contain triangles")
  }

  test("q141 matches a brute-force Adamic-Adar recompute over " +
      "non-adjacent distance-2 pairs") {
    val got = Graph.q141AdamicAdar(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // rebuild the support>=2 co-purchase graph independently
    val byOrder = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).values.map(_.map(_._2))
    val support = collection.mutable.Map.empty[(Long, Long), Int]
      .withDefaultValue(0)
    byOrder.foreach { parts =>
      for (x <- parts; y <- parts if x < y) support((x, y)) += 1
    }
    val edgeSet = support.filter(_._2 >= 2).keySet.toSet
    val adj = collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edgeSet.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    val nodes = adj.keys.toVector.sorted
    // same hub rule as the engine: only nodes with degree <= 64 serve
    // as wedge centers (inactive on this fixture — asserted below)
    assert(adj.values.map(_.size).max <= 64,
      "cap must be inactive at test SF so the exact measure is pinned")
    val scored = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      a = nodes(i); b = nodes(j)
      if !edgeSet.contains((a, b))
      common = (adj(a) & adj(b)).filter(w => adj(w).size <= 64)
      if common.nonEmpty
    } yield {
      val score = common.toSeq.map(w => 1.0 / math.log(adj(w).size)).sum
      (a, b, common.size.toLong,
        BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }
    val expected = scored
      .sortBy { case (a, b, _, s) => (-s, a, b) }.take(20)
    assert(got == expected,
      s"top-20 diverges:\n got=$got\n exp=$expected")
    // sanity: candidates exist and scores are positive finite
    assert(got.nonEmpty && got.forall(t => t._4 > 0 && !t._4.isInfinite))
  }

  test("q142 matches a sequential peel recompute and converges to the " +
      "true k-core within the round budget") {
    val row = Graph.q142KCore(spark, sf).collect().head
    // independent sequential peel over plain Scala sets
    val byOrder = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).values.map(_.map(_._2))
    val support = collection.mutable.Map.empty[(Long, Long), Int]
      .withDefaultValue(0)
    byOrder.foreach { parts =>
      for (x <- parts; y <- parts if x < y) support((x, y)) += 1
    }
    var edges = support.filter(_._2 >= 2).keySet.toSet
    var keepCounts = Vector.empty[Int]
    (1 to Graph.PeelRounds).foreach { _ =>
      val deg = collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      edges.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
      val keep = deg.filter(_._2 >= Graph.CoreK).keySet.toSet
      keepCounts :+= keep.size
      edges = edges.filter { case (u, v) =>
        keep.contains(u) && keep.contains(v)
      }
    }
    assert(row.getLong(0) == keepCounts.last.toLong, "core_nodes")
    assert(row.getLong(1) == edges.size.toLong, "core_edges")
    val expConverged =
      keepCounts(Graph.PeelRounds - 1) == keepCounts(Graph.PeelRounds - 2)
    assert(row.getBoolean(2) == expConverged, "converged flag")
    // the fixture must actually reach the fixed point AND the peel must
    // have removed something, or the operator is untested
    assert(row.getBoolean(2), "peel must converge within the budget")
    assert(keepCounts.last < keepCounts.head || keepCounts.head == 0 ||
      keepCounts.last > 0)
    // final survivors all have degree >= k within the core (the k-core
    // defining property)
    val deg = collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    edges.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
    assert(deg.values.forall(_ >= Graph.CoreK))
  }
}
