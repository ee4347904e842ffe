package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Experiment, Linkage, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 fifth batch (q246
  * linear interpolation, q247 clone rate, q248 diff-in-diff). q247's
  * replay carries its own dynamic-programming edit distance, so the
  * engines' builtin levenshtein is itself under test. */
class Round10eSpec extends SparkTestBase {

  test("q246 linear interpolation equals a sequential spine replay; " +
      "observed hours pass through exactly") {
    val out = TimeSeries2.q246LinearInterpolate(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getBoolean(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"),
        (unix_micros(date_trunc("hour", col("ts")))).as("hus")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val h0 = evs.map(_._2).min
    val hmax = evs.map(_._2).max
    val hours = ((hmax - h0) / 3600000000L).toInt
    val types = evs.map(_._1).distinct.sorted
    val counts = evs.groupBy(e =>
      (e._1, ((e._2 - h0) / 3600000000L))).map { case (k, v) =>
      k -> v.size.toLong }
    types.foreach { t =>
      val obs = (0 to hours).map(h => h.toLong ->
        counts.get((t, h.toLong))).toMap
      (0 to hours).foreach { h =>
        val key = (t, (h0 + h * 3600000000L) / 1000L)
        val (n, isGap, interp) = out(key)
        obs(h.toLong) match {
          case Some(c) =>
            assert(n == c && !isGap && interp.contains(c.toDouble),
              s"observed cell ($t, $h) diverged")
          case None =>
            assert(n == 0L && isGap, s"gap cell ($t, $h) diverged")
            val prev = (h - 1 to 0 by -1)
              .collectFirst { case p if obs(p.toLong).isDefined =>
                (p.toLong, obs(p.toLong).get) }
            val next = (h + 1 to hours)
              .collectFirst { case q if obs(q.toLong).isDefined =>
                (q.toLong, obs(q.toLong).get) }
            val expected = for { (ph, pn) <- prev; (nh, nn) <- next }
              yield r4(pn.toDouble +
                (nn - pn).toDouble * (h - ph).toDouble / (nh - ph).toDouble)
            assert(interp == expected, s"interp at ($t, $h) diverged")
        }
      }
    }
  }

  private def editDistance(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  test("q247 clone rate equals a sequential hash-chain replay with an " +
      "independent DP edit distance; probes are linear in block size") {
    val out = Linkage.q247CloneRate(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)), r.getDouble(5))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val journeys = evs.groupBy(_._1).map { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
      (u, ordered.take(Linkage.CloneJourneyDepth).mkString(">"),
        ordered.take(Linkage.ClonePrefixDepth).mkString(">"))
    }.toSeq
    journeys.groupBy(_._3).foreach { case (prefix, members) =>
      val chain = members.sortBy(m =>
        (Hashing.md5Hash60Value(s"clone:${m._1}"), m._1))
      if (chain.length < 2) assert(!out.contains(prefix))
      else {
        val dists = chain.zip(chain.drop(1)).map { case (a, b) =>
          editDistance(a._2, b._2) }
        val clones = dists.count(_ <= Linkage.CloneMaxEdit).toLong
        assert(out(prefix) == (((members.length.toLong,
          dists.length.toLong, clones, dists.min),
          r6(clones.toDouble / dists.length))), s"block $prefix diverged")
        assert(dists.length == members.length - 1,
          s"probe count must be linear in block size ($prefix)")
      }
    }
  }

  test("q248 diff-in-diff equals a sequential panel recompute and the " +
      "estimate is consistent with the four cells") {
    val out = Experiment.q248DiffInDiff(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)), r.getDouble(4))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cut = (evs.map(_._2).min + evs.map(_._2).max) / 2
    val panel = evs.groupBy(e =>
      (e._1, if (e._2 < cut) "pre" else "post")).map { case (k, rs) =>
      (k._1, k._2, rs.map(r => math.round(r._3 * 100)).sum)
    }
    val cells = panel.groupBy(p =>
      (if (Hashing.md5Hash60Value(s"did:${p._1}") % 2 == 0) "treat"
       else "control", p._2)).map { case (k, us) =>
      k -> (us.size.toLong,
        us.map(_._3).sum.toDouble / us.size.toDouble)
    }
    val did = (cells(("treat", "post"))._2 - cells(("treat", "pre"))._2) -
      (cells(("control", "post"))._2 - cells(("control", "pre"))._2)
    cells.foreach { case (k, (n, mean)) =>
      assert(out(k) == (((n, r4(mean / 100.0)), r4(did / 100.0))),
        s"cell $k diverged")
    }
    assert(out.size == 4, "exactly four group x period cells")
  }
}
