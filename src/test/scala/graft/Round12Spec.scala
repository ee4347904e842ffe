package graft

import graft.operators.{Governance, InvertedIndex, SketchAlgebra, StorageLayout}
import org.apache.spark.sql.functions._

/** Round-12 additions (q374–q377): each checked against an
  * INDEPENDENT sequential recompute (different formulation than the
  * registered plan), the repo's spec discipline. */
class Round12Spec extends SparkTestBase {

  test("q374 QL scores equal a sequential Dirichlet-LM replay and " +
      "rank all docs (smoothing floors absent terms)") {
    val rows = InvertedIndex.q374QueryLikelihood(spark, sf).collect()
    assert(rows.length == 20)
    // sequential replay: tokenize in plain Scala, pick the same query,
    // score every doc with the same micro-quantization
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ").toSeq)
    val tf = docs.map { case (id, ws) =>
      id -> ws.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    }.toMap
    val ctf = docs.flatMap(_._2).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val t = ctf.values.sum
    val dfm = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (w, g) => w -> g.size }
    val q = dfm.toSeq.sortBy { case (w, d) => (-d, w) }.take(3).map(_._1)
    val scores = tf.map { case (id, m) =>
      val dl = m.values.sum
      val s = q.map { w =>
        val num = (m.getOrElse(w, 0L) * t + InvertedIndex.QlMu * ctf(w)).toDouble
        val den = ((dl + InvertedIndex.QlMu) * t).toDouble
        BigDecimal(math.log(num / den) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      id -> s
    }
    val expTop = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(20)
    rows.zip(expTop).zipWithIndex.foreach { case ((r, (id, s)), i) =>
      assert(r.getInt(0) == i + 1)
      assert(r.getLong(1) == id, s"rank ${i + 1} doc mismatch")
      assert(math.abs(r.getDouble(2) - s / 1e6) < 1e-9)
    }
    // absent-term floor: a doc with zero matched tokens still scores
    assert(scores.size == docs.length)
  }

  test("q375 sketch estimates are within the declared relative error " +
      "of the exact quantiles and the merge is lossless") {
    val rows = SketchAlgebra.q375DdsketchQuantiles(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(7)),
      "merge_lossless must hold on every type")
    val byType = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val (tpe, pm, est) = (r.getString(0), r.getInt(1), r.getLong(3))
      val xs = byType(tpe)
      // q373 ceil-rank rule: the pm-per-mille order statistic
      val exact = xs(((pm.toLong * xs.length + 999) / 1000).toInt - 1)
      val relErr = math.abs(est - exact).toDouble / exact
      // + 0.5/exact: integer rounding slack of the pinned midpoint
      assert(relErr <= SketchAlgebra.DdAlpha + 0.5 / exact + 1e-12,
        s"$tpe p$pm: est $est vs exact $exact (relErr $relErr)")
    }
    assert(rows.length == byType.size * SketchAlgebra.DdPerMille.size)
  }

  test("q380 day-prefix p95 trajectory equals a sequential " +
      "merge-and-read replay and the last point equals the full sketch") {
    val rows = SketchAlgebra.q380QuantileTrajectory(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
      .select(to_date(col("ts")).as("d"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = ev.map(_._1).distinct.sorted(
      Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
    assert(rows.length == days.length)
    val state = Array.fill(SketchAlgebra.DdBounds.length + 1)(0L)
    rows.zip(days).foreach { case (r, day) =>
      // sequential prefix merge: add this day's histogram to the state
      ev.filter(_._1 == day).foreach { case (_, c) =>
        state(SketchAlgebra.DdBounds.count(_ < c)) += 1L
      }
      val n = state.sum
      val target = (SketchAlgebra.TrajPerMille * n + 999) / 1000
      var cum = 0L
      val bucket = state.indices.find { i =>
        cum += state(i); cum >= target
      }.get
      assert(r.getDate(0).toLocalDate == day)
      assert(r.getLong(1) == n, s"$day n_cum")
      assert(r.getInt(2) == bucket, s"$day bucket")
      assert(r.getLong(3) == SketchAlgebra.DdMids(bucket), s"$day p95")
    }
  }

  test("q376 bins equal a sequential size-desc pack and conserve bytes") {
    val rows = StorageLayout.q376CompactionPlanner(spark, sf).collect()
    val daily = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getDate(0), r.getLong(1) * StorageLayout.CompactRowBytes))
    // sequential replay of the contiguous pack
    val sorted = daily.sortBy { case (d, b) => (-b, d.getTime) }
    var cum = 0L
    val binOf = sorted.map { case (_, b) =>
      val bin = cum / StorageLayout.CompactTargetBytes; cum += b; bin
    }
    val expBins = sorted.zip(binOf).groupBy(_._2).view
      .mapValues(g => (g.length.toLong, g.map(_._1._2).sum)).toMap
    assert(rows.length == expBins.size)
    rows.foreach { r =>
      val (n, bytes) = expBins(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == bytes,
        s"bin ${r.getLong(0)} mismatch")
    }
    assert(rows.map(_.getLong(2)).sum == daily.map(_._2).sum,
      "every byte must land in exactly one bin")
  }

  test("q378 suppression equals a sequential greedy replay and every " +
      "multi-cell segment column ends 0-or-≥2 suppressed") {
    val rows = Governance.q378CellSuppression(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getString(3))))
    // sequential replay: cells, primary, row pass, column pass
    val cells = rows.map { case ((n, s), (c, _)) => (n, s, c) }
    var supp = cells.filter(_._3 < Governance.SuppressK)
      .map(t => (t._1, t._2) -> "primary").toMap
    cells.groupBy(_._1).foreach { case (nation, cs) =>
      val sup = cs.filter(c => supp.contains((c._1, c._2)))
      val open = cs.filterNot(c => supp.contains((c._1, c._2)))
        .sortBy(c => (c._3, c._2))
      if (sup.length == 1 && open.nonEmpty)
        supp += (open.head._1, open.head._2) -> "row_complement"
    }
    cells.groupBy(_._2).foreach { case (segment, cs) =>
      val sup = cs.filter(c => supp.contains((c._1, c._2)))
      val open = cs.filterNot(c => supp.contains((c._1, c._2)))
        .sortBy(c => (c._3, c._1))
      if (sup.length == 1 && open.nonEmpty)
        supp += (open.head._1, open.head._2) -> "col_complement"
    }
    rows.foreach { case (key, (_, reason)) =>
      assert(supp.getOrElse(key, "none") == reason, s"cell $key")
    }
    assert(rows.exists(_._2._2 != "none"),
      "fixture must actually exercise suppression")
    // disclosure-safety law on the last pass: no multi-cell segment
    // column ends with exactly one suppressed cell
    rows.groupBy(_._1._2).foreach { case (seg, cs) =>
      if (cs.length >= 2) {
        val n = cs.count(_._2._2 != "none")
        assert(n != 1, s"segment $seg left singly-suppressed")
      }
    }
  }

  test("q379 retention sweep equals a sequential recompute") {
    val rows = Governance.q379RetentionSweep(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val cutoff = ev.map(_._2).max.minusDays(Governance.RetentionDays)
    rows.foreach { r =>
      val t = ev.filter(_._1 == r.getString(0))
      assert(r.getLong(1) == t.length.toLong)
      assert(r.getLong(2) == t.count(_._2.isBefore(cutoff)).toLong)
      assert(r.getDate(5).toLocalDate == cutoff)
    }
    assert(rows.length == ev.map(_._1).distinct.length)
  }

  test("q381 estimates equal a sequential hash-sample replay and the " +
      "true counts equal key-set joins") {
    import graft.functions.Hashing
    val rows = StorageLayout.q381SampleCardinality(spark, sf).collect()
    assert(rows.length == 3)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getLong(2), r.getLong(3)))
    val pk = graft.sources.Tables.part(spark, sf)
      .filter(col("p_size") <= StorageLayout.AdvisorPartMaxSize)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val sk = graft.sources.Tables.supplier(spark, sf)
      .filter(col("s_nationkey") <= StorageLayout.AdvisorSuppMaxNation)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    def inSample(ok: Long, ln: Long): Boolean =
      Hashing.md5Hash60Value(s"cardsample:$ok:$ln") %
        StorageLayout.CardSampleMod == 0L
    def counts(wp: Boolean, ws: Boolean): (Long, Long) = {
      val hits = li.filter(t => (!wp || pk(t._3)) && (!ws || sk(t._4)))
      (hits.count(t => inSample(t._1, t._2)).toLong, hits.length.toLong)
    }
    val exp = Map(
      "part_and_supplier" -> counts(wp = true, ws = true),
      "part_filter" -> counts(wp = true, ws = false),
      "supplier_filter" -> counts(wp = false, ws = true))
    rows.foreach { r =>
      val (sn, actual) = exp(r.getString(0))
      assert(r.getLong(1) == sn, s"${r.getString(0)} sample_n")
      assert(r.getLong(2) == sn * StorageLayout.CardSampleMod)
      assert(r.getLong(3) == actual, s"${r.getString(0)} actual")
    }
    // the estimator must be in the right ballpark on this fixture
    // (1-in-64 sampling of >10k matching rows)
    rows.foreach(r => assert(math.abs(r.getDouble(4)) < 0.5,
      s"${r.getString(0)} rel_err ${r.getDouble(4)}"))
  }

  test("q377 estimates follow the independence model and the actual " +
      "count matches a sequential filtered star join") {
    val rows = StorageLayout.q377JoinOrderAdvisor(spark, sf).collect()
    assert(rows.length == 3)
    // selectivity ordering: ascending ppm with name tie-break
    val ppms = rows.map(_.getLong(4))
    assert(ppms.sameElements(ppms.sorted), "most-selective-first order")
    // independence estimate replay (same left-to-right association)
    val sels = rows.map(r =>
      r.getLong(3).toDouble / r.getLong(2).toDouble)
    val nFact = graft.sources.Tables.lineitem(spark, sf).count()
    var est = nFact.toDouble
    rows.zip(sels).foreach { case (r, s) =>
      est = est * s
      assert(math.abs(r.getDouble(5) - BigDecimal(est).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6)
    }
    // actual: sequential filter + key-set intersection
    val pk = graft.sources.Tables.part(spark, sf)
      .filter(col("p_size") <= StorageLayout.AdvisorPartMaxSize)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val sk = graft.sources.Tables.supplier(spark, sf)
      .filter(col("s_nationkey") <= StorageLayout.AdvisorSuppMaxNation)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    val ok = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === StorageLayout.AdvisorOrderPriority)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val actual = graft.sources.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey", "l_orderkey").collect()
      .count(r => pk(r.getLong(0)) && sk(r.getLong(1)) && ok(r.getLong(2)))
    rows.foreach(r => assert(r.getLong(6) == actual.toLong))
  }
}
