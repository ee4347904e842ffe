package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Governance, Lifecycle, Relational, StorageLayout, TextProfile}
import graft.sources.Tables

/** Round-11 second batch (q356–q362): independent sequential
  * recomputes / law checks per operator. */
class Round11fSpec extends SparkTestBase {

  test("q356 broadcast advisor matches exact byte folds and flags " +
      "every small dim broadcastable at this SF") {
    val out = StorageLayout.q356BroadcastAdvisor(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(4))).toMap
    val cust = Tables.customer(spark, sf)
      .select("c_name", "c_mktsegment").collect()
    val expBytes = cust.map(r =>
      r.getString(0).length + r.getString(1).length + 20L).sum
    assert(out("customer") == ((cust.length.toLong, expBytes, true)))
    assert(out.keySet ==
      Set("customer", "nation", "part", "region", "supplier"))
    assert(out.values.forall(_._3), "all dims broadcastable at test SF")
  }

  test("q357 novelty curve: buckets partition the corpus shingles, " +
      "cumulative reaches 1, first bucket dominates novelty") {
    val rows = TextProfile.q357NoveltyCurve(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 9L))
    val total = rows.map(_.getLong(1)).sum
    assert(rows.last.getLong(2) == total, "cumulative must reach total")
    assert(rows.last.getDouble(4) == 1.0)
    // distinct shingle count equals the bucket partition total
    val nShingles = graft.operators.Dedup.shingleRows(
        Tables.documents(spark, sf))
      .select("shingle").distinct().count()
    assert(total == nShingles)
    assert(rows.head.getLong(1) >= rows.last.getLong(1),
      "novelty must not grow from first to last tranche")
  }

  test("q358 trade flows: totals match the fact join and net is " +
      "antisymmetric") {
    val rows = Relational.q358TradeFlows(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val totalCents = rows.values.map(_._2).sum
    val factCents = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)")))
      .collect().head.getLong(0)
    assert(totalCents == factCents)
    rows.foreach { case ((a, b), (_, cents, net)) =>
      val rev = rows.get((b, a)).map(_._2).getOrElse(0L)
      assert(net == cents - rev, s"net($a,$b) diverged")
      rows.get((b, a)).foreach { case (_, _, netRev) =>
        assert(net == -netRev, s"net not antisymmetric for ($a,$b)")
      }
    }
  }

  test("q359 LTV curve equals a sequential recompute with " +
      "right-censored at-risk mass") {
    val out = Lifecycle.q359LtvCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("cast(round(value * 100, 0) as bigint)").as("c")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val d0 = ev.map(_._2).min
    val base = ev.map { case (u, d, c) =>
      (u, java.time.temporal.ChronoUnit.DAYS.between(d0, d) / 7, c)
    }
    val coh = base.groupBy(_._1).map { case (u, g) =>
      u -> g.map(_._2).min }
    val maxW = base.map(_._2).max
    val sizes = coh.values.groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val byK = base.groupBy(r => r._2 - coh(r._1)).map { case (k, g) =>
      k -> (g.map(_._3).sum, g.map(_._1).distinct.length.toLong)
    }
    var cum = 0L
    byK.keys.toSeq.sorted.foreach { k =>
      val (cents, nActive) = byK(k)
      val nObs = sizes.filter { case (w, _) => w + k <= maxW }
        .values.sum
      val incr = math.round(cents.toDouble * 10000 / nObs)
      cum += incr
      val (oObs, oAct, oCents, oIncr, oLtv) = out(k)
      assert(oObs == nObs && oAct == nActive && oCents == cents)
      assert(oIncr == r6(incr / 1e6) && oLtv == r6(cum / 1e6),
        s"offset $k diverged")
    }
    assert(out.keySet == byK.keySet)
  }

  test("q360 encoding advisor: enum columns dictionary-friendly, " +
      "key column not, ndv exact") {
    val out = StorageLayout.q360EncodingAdvisor(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(5))).toMap
    val orders = Tables.orders(spark, sf).collect()
    val n = orders.length.toLong
    val ndvPrio = orders.map(_.getString(5)).distinct.length.toLong
    assert(out("o_orderpriority") == ((n, ndvPrio, ndvPrio * 10 < n)))
    assert(out("o_orderstatus")._3, "status must be dictionary-friendly")
    assert(!out("o_custkey")._3 || out("o_custkey")._2 * 10 <
      out("o_custkey")._1)
  }

  test("q361 pseudonymization audit: collision-free, fk preserved, " +
      "hash matches the Scala twin") {
    val row = Governance.q361PseudonymizeAudit(spark, sf).collect().head
    assert(row.getBoolean(3), "collision found at test SF")
    assert(row.getBoolean(4), "fk not preserved")
    val users = Tables.events(spark, sf).select("user_id").distinct()
      .collect().map(_.getLong(0))
    assert(row.getLong(0) == users.length.toLong)
    val pseuds = users.map(u => Hashing.md5Hash60Value(s"pseud:$u"))
    assert(row.getLong(1) == pseuds.distinct.length.toLong)
  }

  test("q362 shard rebalance: hash-modulo moves ~32/33 of keys, " +
      "rendezvous ~1/33, both match a sequential recompute") {
    val row = StorageLayout.q362ShardRebalance(spark, sf).collect().head
    val users = Tables.events(spark, sf).select("user_id").distinct()
      .collect().map(_.getLong(0))
    def hrw(u: Long, k: Int): Long =
      (0 until k).map { s =>
        (Hashing.md5Hash60Value(s"hrw:$u:$s") / 64) * 64 + s
      }.max % 64
    val modMoved = users.count { u =>
      val h = Hashing.md5Hash60Value(s"shard:$u")
      h % 32 != h % 33
    }.toLong
    val hrwMoved = users.count(u => hrw(u, 32) != hrw(u, 33)).toLong
    assert(row.getLong(0) == users.length.toLong)
    assert(row.getLong(1) == modMoved)
    assert(row.getLong(3) == hrwMoved)
    // the audit's point: rendezvous placement moves an order of
    // magnitude less state than modulo when adding one shard
    assert(row.getDouble(4) * 5 < row.getDouble(2),
      s"hrw ${row.getDouble(4)} not well below mod ${row.getDouble(2)}")
  }
}
