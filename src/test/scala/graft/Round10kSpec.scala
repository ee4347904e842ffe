package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph3, Keyphrase, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 tenth batch (q268
  * periodogram, q269 assortativity, q270 RAKE keyphrases, q271
  * forecast backtest). */
class Round10kSpec extends SparkTestBase {

  private lazy val daily: Map[(String, Long), Long] = {
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts"))).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = evs.map(_._2).min
    evs.groupBy(e => (e._1,
      java.time.temporal.ChronoUnit.DAYS.between(d0, e._2)))
      .map { case (k, v) => k -> v.size.toLong }
  }

  test("q268 seasonal amplitude equals a sequential pinned-table DFT " +
      "replay and is nonnegative") {
    val out = TimeSeries2.q268Periodogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val types = daily.keys.map(_._1).toSeq.distinct
    types.foreach { t =>
      val series = daily.collect { case ((`t`, d), n) => (d, n) }.toSeq
      TimeSeries2.SeasonPeriods.foreach { p =>
        val cos = TimeSeries2.cos6(p); val sin = TimeSeries2.sin6(p)
        val nDays = series.size.toLong
        val total = series.map(_._2).sum
        val cS = series.map(s => cos((s._1 % p).toInt)).sum
        val sS = series.map(s => sin((s._1 % p).toInt)).sum
        val aS = series.map(s => s._2 * cos((s._1 % p).toInt)).sum
        val bS = series.map(s => s._2 * sin((s._1 % p).toInt)).sum
        val x = aS * nDays - total * cS
        val y = bS * nDays - total * sS
        val amp = r6(2.0 * math.sqrt(
          x.toDouble * x.toDouble + y.toDouble * y.toDouble) /
          (1e6 * nDays.toDouble * total.toDouble))
        assert(out((t, p)) == ((nDays, total, amp)), s"($t, $p) diverged")
        assert(amp >= 0.0)
      }
    }
    assert(out.size == types.size * TimeSeries2.SeasonPeriods.size)
  }

  test("q269 assortativity equals a sequential degree-correlation " +
      "replay and sits in [-1, 1]") {
    val row = Graph3.q269Assortativity(spark, sf).collect().head
    val edges = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_partkey").collect()
      .map(r => ("s" + r.getLong(0), "p" + r.getLong(1))).distinct
    val und = edges ++ edges.map(e => (e._2, e._1))
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val m = und.length.toLong
    val sJ = und.map(e => deg(e._1)).sum
    val sJ2 = und.map(e => deg(e._1) * deg(e._1)).sum
    val sJk = und.map(e => deg(e._1) * deg(e._2)).sum
    assert(row.getLong(0) == deg.size.toLong)
    assert(row.getLong(1) == edges.length.toLong)
    assert(row.getLong(2) == deg.values.max)
    assert((row.getLong(3), row.getLong(4), row.getLong(5)) ==
      ((sJk, sJ, sJ2)))
    val den = m.toDouble * sJ2.toDouble - sJ.toDouble * sJ.toDouble
    if (den != 0.0) {
      val r = r6((m.toDouble * sJk.toDouble - sJ.toDouble * sJ.toDouble)
        / den)
      assert(row.getDouble(6) == r)
      assert(math.abs(r) <= 1.0 + 1e-9)
    } else assert(row.isNullAt(6))
  }

  test("q270 RAKE scores equal a sequential island/degree replay") {
    val out = Keyphrase.q270RakeKeyphrases(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val stop = Keyphrase.Stopwords.toSet
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // islands of consecutive non-stopword tokens per doc
    val islands = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("[^a-z0-9]+", -1).zipWithIndex
        .filter { case (t, _) => t.nonEmpty && !stop(t) }
      // .values (not Map.map — tuple-mapping a Map dedups by key)
      toks.zipWithIndex
        .groupBy { case ((_, pos), rank) => pos - rank }
        .values.toSeq
        .map(ws => (id, ws.sortBy(_._1._2).map(_._1._1).toSeq))
    }.filter(_._2.size <= Keyphrase.MaxPhraseLen)
    val wordOcc = islands.flatMap { case (_, ws) =>
      ws.map(w => (w, ws.size.toLong)) }
    val wMicro = wordOcc.groupBy(_._1).map { case (w, os) =>
      w -> rl(os.map(_._2).sum.toDouble * 1e6 / os.size.toDouble) }
    val scored = islands
      .map { case (_, ws) => (ws.mkString(" "), ws.size.toLong,
        ws.map(wMicro).sum) }
      .groupBy(_._1).map { case (ph, os) =>
        (ph, os.head._2, os.size.toLong, os.head._3) }.toSeq
    val expect = scored.sortBy(t => (-t._4, t._1)).take(Keyphrase.RakeTopK)
      .map(t => (t._1, t._2, t._3, r6(t._4.toDouble / 1e6)))
    assert(out.toSeq == expect)
    out.foreach(p => assert(p._2 <= Keyphrase.MaxPhraseLen))
  }

  test("q271 backtest MAEs equal a sequential lag replay and the " +
      "winner follows the exact error sums") {
    val out = TimeSeries2.q271ForecastBacktest(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getString(4))).toMap
    val types = daily.keys.map(_._1).toSeq.distinct
    types.foreach { t =>
      val series = daily.collect { case ((`t`, d), n) => (d, n) }.toMap
      val evalDays = series.keys.filter(d =>
        series.contains(d - 1) && series.contains(d - 7)).toSeq
      if (evalDays.nonEmpty) {
        val ae1 = evalDays.map(d => math.abs(series(d) - series(d - 1))).sum
        val ae7 = evalDays.map(d => math.abs(series(d) - series(d - 7))).sum
        val n = evalDays.size.toLong
        val winner = if (ae7 < ae1) "seasonal_naive"
          else if (ae1 < ae7) "naive" else "tie"
        assert(out(t) == ((n, r4(ae1.toDouble / n), r4(ae7.toDouble / n),
          winner)), s"type $t diverged")
      } else assert(!out.contains(t))
    }
  }
}
