package graft

import org.apache.spark.sql.functions._

import graft.plans.GearCdc
import graft.sources.Tables

/** `graft_gear_ends` — the FastCDC-style rolling-hash chunk-boundary
  * kernel — checked against an independent Scala reference (its own
  * LCG table rebuild and scan loop, no shared code path beyond the
  * published constants), plus the self-synchronization property that
  * justifies CDC over fixed-stride windows, on both eval paths. */
class GearCdcSpec extends SparkTestBase {

  // independent reference: rebuilds the gear table from the documented
  // seed/multipliers and re-implements the scan as plain recursion
  private val refGear: Array[Long] = {
    var x = 42L
    Array.fill(256) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x
    }
  }

  private def refEnds(s: String): List[Int] = {
    val bytes = s.getBytes("UTF-8")
    def scan(p: Int, last: Int, h: Long, acc: List[Int]): List[Int] =
      if (p >= bytes.length) {
        if (last < bytes.length) (bytes.length :: acc).reverse
        else acc.reverse
      } else {
        val h2 = (h << 1) + refGear(bytes(p) & 0xff)
        val len = p + 1 - last
        if ((len >= GearCdc.MinLen &&
            (h2 >>> (64 - GearCdc.MaskBits)) == 0L) ||
            len >= GearCdc.MaxLen)
          scan(p + 1, p + 1, h2, (p + 1) :: acc) // h rolls on, no reset
        else scan(p + 1, last, h2, acc)
      }
    scan(0, 0, 0L, Nil)
  }

  test("kernel boundaries == independent scala reference on real docs") {
    val sess = spark
    val got = Tables.documents(sess, sf)
      .selectExpr("doc_id", "text", "graft_gear_ends(text) AS ends")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Int](2).toList))
    assert(got.nonEmpty)
    got.foreach { case (id, text, ends) =>
      assert(ends == refEnds(text), s"doc $id boundary mismatch")
      if (text.nonEmpty)
        assert(ends.lastOption.contains(text.getBytes("UTF-8").length),
          s"doc $id final end")
      assert(ends == ends.sorted && ends.distinct == ends)
    }
    // chunk lengths respect the forced-cut bound and average near AvgLen
    val lens = got.flatMap { case (_, _, ends) =>
      (0 :: ends).sliding(2).collect { case List(a, b) => b - a } }
    assert(lens.forall(l => l >= 1 && l <= GearCdc.MaxLen))
    val avg = lens.sum.toDouble / lens.size
    assert(avg > GearCdc.MinLen && avg < 3 * GearCdc.AvgLen,
      s"avg chunk length $avg")
  }

  test("self-synchronization: a head insertion re-aligns >= 80% of " +
      "chunks against the original") {
    val text = Tables.documents(spark, sf)
      .orderBy(desc("n_chars"), asc("doc_id")).limit(1)
      .collect().head.getString(1)
    def chunksOf(t: String): Seq[String] = {
      val ends = refEnds(t)
      (0 :: ends).sliding(2).collect {
        case List(a, b) => t.substring(a, b) }.toSeq
    }
    val orig = chunksOf(text).toSet
    val post = chunksOf("an inserted preamble " + text)
    val realigned = post.count(orig)
    assert(realigned.toDouble / post.size >= 0.8,
      s"only $realigned/${post.size} gear chunks re-aligned")
  }

  test("null text -> NULL ends; empty text -> empty array (both paths)") {
    val sess = spark
    import sess.implicits._
    val rows = Seq(Option("key agg row scan slow fast table value"),
        Option(""), Option.empty[String])
      .toDF("text")
      .repartition(1) // keep ConvertToLocalRelation from folding
      .selectExpr("graft_gear_ends(text) AS ends")
      .collect()
    assert(rows.count(_.isNullAt(0)) == 1)
    val nonNull = rows.filter(!_.isNullAt(0)).map(_.getSeq[Int](0).toList)
    assert(nonNull.contains(Nil))
    assert(nonNull.exists(_.nonEmpty))
  }

  test("byte-oriented slicing keeps multibyte text exact: twin docs " +
      "with non-ASCII chars are fully chunk-shared") {
    val sess = spark
    import sess.implicits._
    // 300+ bytes with multibyte chars early, two identical copies plus
    // a distinct third doc; byte-accurate slicing must mark the twins
    // 100% shared (char-based slicing would shift every chunk after
    // the first multibyte char — both twins the same way, but the
    // boundary array length then disagrees with the char count and
    // zip_with produces malformed trailing chunks)
    val t = "café déjà-vu — " + ("der schnelle braune Fuchs springt " * 12)
    val df = Seq((1L, t), (2L, t), (3L, t.replace("braune", "graue")))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        expr("graft_gear_ends(text)").as("ends"))
    val chunks = df.select(col("doc_id"), explode(expr(
        """zip_with(concat(array(0), slice(ends, 1, size(ends) - 1)), ends,
          |         (s, e) -> substring(payload, s + 1, e - s))""".stripMargin))
        .as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).as("clen")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // reconstruct: per doc, total chunk bytes == utf-8 byte length
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc(1L).map(_._3).sum == t.getBytes("UTF-8").length)
    // the twins' chunk hash multisets are identical
    assert(byDoc(1L).map(_._2).sorted.toSeq ==
      byDoc(2L).map(_._2).sorted.toSeq)
    // and differ from the edited doc's
    assert(byDoc(1L).map(_._2).sorted.toSeq !=
      byDoc(3L).map(_._2).sorted.toSeq)
  }

  test("q125 contract flags hold and the twin law is non-vacuous " +
      "wherever exact twins exist") {
    val row = graft.operators.Curation.q125CdcGear(spark, sf)
      .collect().head
    assert(row.getLong(0) > 0)
    assert(row.getBoolean(1), "twin_dup_ok")
    assert(row.getBoolean(2), "max_len_ok")
  }
}
