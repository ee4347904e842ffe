package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.plans.{AsofJoin, AsofJoinExec}

/** The custom as-of join operator: semantics on constructed edges,
  * equivalence with both the composition-based q30 and (via Verify) the
  * DuckDB ASOF JOIN oracle, and the physical plan shape. */
class AsofJoinSpec extends SparkTestBase {

  import spark.implicits._

  private def asof(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame) =
    AsofJoin.asofJoin(l, r, Seq("k"), Seq("rk"), "t", "rt")

  test("picks greatest right time <= left time, inclusive, per key") {
    val left = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "t")
    val right = Seq(("a", 10L, "x"), ("a", 15L, "y"), ("a", 25L, "z"),
      ("b", 6L, "late")).toDF("rk", "rt", "v")
    val got = asof(left, right).select("k", "t", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(
      ("a", 10L, "x"),   // inclusive match at equal time
      ("a", 20L, "y"),   // greatest <= 20 is 15
      ("b", 5L, null)))  // only right time is later -> null
  }

  test("left rows with unmatched keys null-extend; right dups take latest") {
    val left = Seq(("a", 100L), ("c", 100L)).toDF("k", "t")
    val right = Seq(("a", 1L, "old"), ("a", 50L, "new")).toDF("rk", "rt", "v")
    val got = asof(left, right).select("k", "v").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "new"), ("c", null)))
  }

  test("survives multi-partition shuffles (keys spread over partitions)") {
    val left = (1 to 500).map(i => (s"k${i % 50}", i.toLong * 2))
      .toDF("k", "t").repartition(13)
    val right = (1 to 500).map(i => (s"k${i % 50}", i.toLong * 2 - 1, i))
      .toDF("rk", "rt", "v").repartition(7)
    val out = asof(left, right)
    // every left row has some right row with rt <= t for its key
    assert(out.filter(col("v").isNull).count() == 0)
    // spot-check: the chosen v is the max rt <= t per (k, t)
    val byKey = right.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1)
    out.collect().foreach { r =>
      val (k, t, v) = (r.getString(0), r.getLong(1), r.getInt(4))
      val expect = byKey(k).filter(_._2 <= t).maxBy(_._2)._3
      assert(v == expect, s"key $k t $t: got $v expect $expect")
    }
  }

  test("q70 native as-of equals the q30 union+window composition") {
    val native = Relational.q70AsofNative(spark, sf).collect().map(_.toString)
    val composed = Relational.q30AsofJoin(spark, sf).collect().map(_.toString)
    assert(native.sameElements(composed))
  }

  test("tolerance bounds the match gap (merge_asof semantics)") {
    val left = Seq(("a", 100L), ("a", 200L)).toDF("k", "t")
    val right = Seq(("a", 95L, "near"), ("a", 50L, "far")).toDF("rk", "rt", "v")
    val got = AsofJoin.asofJoin(left, right,
        Seq("k"), Seq("rk"), "t", "rt", toleranceMicros = Some(10L))
      .select("t", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // t=100 matches rt=95 (gap 5 <= 10); t=200's best is rt=95 (gap 105
    // > 10) -> null, NOT the even-older rt=50
    assert(got == Set((100L, "near"), (200L, null)))
    // invalid tolerance configs fail at build time
    intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt",
        toleranceMicros = Some(-1L))
    }
  }

  test("property: random inputs match a brute-force as-of reference") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val nKeys = 1 + rnd.nextInt(6)
      val leftRows = (1 to 120).map { _ =>
        (s"k${rnd.nextInt(nKeys)}", rnd.nextInt(40).toLong)
      }
      // unique (key, time) on the right so the winner is unambiguous
      val rightRows = (1 to 120).map { i =>
        (s"k${rnd.nextInt(nKeys + 1)}", rnd.nextInt(40).toLong, i)
      }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val out = asof(
          leftRows.toDF("k", "t").repartition(1 + rnd.nextInt(8)),
          rightRows.toDF("rk", "rt", "v").repartition(1 + rnd.nextInt(8)))
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(4)) None else Some(r.getInt(4))))
        .sorted
      val expected = leftRows.map { case (k, t) =>
        val cands = rightRows.filter(r => r._1 == k && r._2 <= t)
        val pick = if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3)
        (k, t, pick)
      }.sorted
      assert(out.toSeq == expected.toSeq, s"trial $trial mismatch")
    }
  }

  test("forward direction picks smallest right time >= left time") {
    val left = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 1L))
      .toDF("k", "t")
    val right = Seq(("a", 10L, "x"), ("a", 15L, "y"), ("a", 25L, "z"),
      ("b", 3L, "early")).toDF("rk", "rt", "v")
    val got = AsofJoin.asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt",
        direction = "forward")
      .select("k", "t", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(
      ("a", 10L, "x"),   // inclusive match at equal time
      ("a", 20L, "z"),   // smallest >= 20 is 25
      ("b", 5L, null),   // only right time is earlier -> null
      ("c", 1L, null)))  // unmatched key -> null
    intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt",
        direction = "sideways")
    }
  }

  test("forward tolerance bounds the gap; one right row serves many lefts") {
    val left = Seq(("a", 100L), ("a", 101L), ("a", 200L)).toDF("k", "t")
    val right = Seq(("a", 105L, "soon"), ("a", 400L, "late"))
      .toDF("rk", "rt", "v")
    val got = AsofJoin.asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt",
        toleranceMicros = Some(10L), direction = "forward")
      .select("t", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // 100 and 101 both match 105 (gaps 5, 4); 200's nearest following is
    // 400 (gap 200 > 10) -> null, NOT skipped ahead to nothing
    assert(got == Set((100L, "soon"), (101L, "soon"), (200L, null)))
  }

  test("property: forward random inputs match a brute-force reference") {
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { trial =>
      val nKeys = 1 + rnd.nextInt(6)
      val leftRows = (1 to 120).map { _ =>
        (s"k${rnd.nextInt(nKeys)}", rnd.nextInt(40).toLong)
      }
      val rightRows = (1 to 120).map { i =>
        (s"k${rnd.nextInt(nKeys + 1)}", rnd.nextInt(40).toLong, i)
      }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val out = AsofJoin.asofJoin(
          leftRows.toDF("k", "t").repartition(1 + rnd.nextInt(8)),
          rightRows.toDF("rk", "rt", "v").repartition(1 + rnd.nextInt(8)),
          Seq("k"), Seq("rk"), "t", "rt", direction = "forward")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(4)) None else Some(r.getInt(4))))
        .sorted
      val expected = leftRows.map { case (k, t) =>
        val cands = rightRows.filter(r => r._1 == k && r._2 >= t)
        val pick = if (cands.isEmpty) None else Some(cands.minBy(_._2)._3)
        (k, t, pick)
      }.sorted
      assert(out.toSeq == expected.toSeq, s"trial $trial mismatch")
    }
  }

  test("ambiguous column names are rejected, resolution is case-aware") {
    val left = Seq(("a", 1L)).toDF("k", "t")
    val dup = left.select(col("k"), col("t"), col("t").as("T2"))
      .withColumnRenamed("T2", "t") // two columns literally named t
    val right = Seq(("a", 1L)).toDF("rk", "rt")
    intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(dup, right, Seq("k"), Seq("rk"), "t", "rt")
    }
    // default session is case-insensitive: 'T' resolves to column t
    val got = AsofJoin.asofJoin(left, right, Seq("K"), Seq("RK"), "T", "RT")
    assert(got.count() == 1)
  }

  test("q128 SCD2 point-in-time attach matches a scala recompute") {
    val orders = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toInstant.toEpochMilli, r.getString(3)))
    // independent SCD2 chain: change points per customer in
    // (date, orderkey) order, version start = min date of the run,
    // end-of-day dedup = max version per start date
    val hist = orders.groupBy(_._2).map { case (ck, os) =>
      val sorted = os.sortBy(o => (o._3, o._1))
      val versions = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, Long)] // (version, prio, from-millis)
      var v = 0
      sorted.foreach { o =>
        if (versions.isEmpty || versions.last._2 != o._4) {
          v += 1
          versions += ((v, o._4, o._3))
        }
      }
      val endOfDay = versions.groupBy(_._3).map { case (_, vs) =>
        vs.maxBy(_._1)
      }.toSeq.sortBy(_._3)
      ck -> endOfDay
    }
    val expect = orders.groupBy(_._2).map { case (ck, os) =>
      val eod = hist(ck)
      var consistent = 0L
      var maxV = 0
      os.foreach { o =>
        val pit = eod.filter(_._3 <= o._3).maxBy(_._3)
        if (pit._2 == o._4) consistent += 1
        maxV = math.max(maxV, pit._1)
      }
      ck -> ((os.length.toLong, consistent, maxV))
    }
    val got = graft.operators.Audit.q128Scd2PitJoin(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got == expect)
    // the law that defines point-in-time correctness: overwhelmingly,
    // each order sees its own contemporaneous attribute (only
    // same-date priority flips attach to the end-of-day version)
    val (n, c) = got.values.foldLeft((0L, 0L)) {
      case ((an, ac), (on, oc, _)) => (an + on, ac + oc) }
    assert(c.toDouble / n >= 0.9, s"PIT consistency $c/$n")
  }

  test("physical plan uses AsofJoinExec with one exchange per side") {
    // AQE wraps the plan in a leaf AdaptiveSparkPlanExec; disable it so
    // the static plan is inspectable. Multi-split input: over one-split
    // scans both sides are already in one partition and need no exchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try Relational.q70AsofNative(spark, MultiSplitSf(sf)).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val asofNodes = plan.collect { case e: AsofJoinExec => e }
    assert(asofNodes.nonEmpty, s"no AsofJoinExec in:\n$plan")
    val exchanges = asofNodes.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 2, s"expected 2 exchanges, got $exchanges")
  }
}
