package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** [EXT] greedy maximum-coverage subset selection (q163) — the
  * submodular "pick the K most COMPLEMENTARY documents" primitive
  * behind diversity-aware corpus curation: where q130 ranks by
  * standalone quality and q147 by target-likeness, max-cover scores a
  * candidate by what it adds OVER THE ALREADY-CHOSEN set (marginal
  * gain), the difference between "K good documents" and "K documents
  * that together span the corpus". Greedy is the canonical algorithm
  * (provably ≥ (1 − 1/e) of the optimal coverage — the classic
  * submodularity bound).
  *
  * Round shape (K fixed, small): DELTA-MAINTAINED greedy (the
  * distributed realization of CELF/lazy-greedy, VERDICT r08 #3) —
  * a doc's marginal gain only changes when the round's winner covers
  * one of its shingles, so instead of re-aggregating gains over ALL
  * remaining (doc, shingle) pairs each round, the per-doc gains table
  * is maintained incrementally: one join marks the pairs hit by the
  * winner's newly covered shingles (a shingle-key shuffle bounded by
  * the winner's postings), the hit counts decrement the gains table
  * (docs-sized), and unhit docs carry their gains forward untouched —
  * the re-evaluations CELF's priority queue skips are exactly the
  * ones this plan never computes. Output is provably identical to
  * eager greedy (same argmax over the same exact gains), so the
  * mechanically-unrolled eager DuckDB oracle is unchanged and
  * MaxCoverSpec's sequential recompute pins both. The argmax is a
  * 1-row TakeOrdered collect (q137's scalar-per-round discipline);
  * the marked pair table, which only SHRINKS, is re-materialized per
  * round via localCheckpoint (the q138/q142 recurrence-plan lesson).
  * At 100 TB: K × (one shuffle over the remaining pairs for the mark)
  * with no pairwise joins anywhere, and the gains argmax runs on a
  * #docs-sized table instead of a fresh full-pair aggregation.
  */
object MaxCover {

  /** Picks per campaign — fixed so the DuckDB oracle can unroll the
    * recurrence mechanically (the q138 pattern). The lazy `remaining`
    * chain is K anti-joins deep (O(K²) rescans of the cached shingle
    * table); a large-K variant would need a `localCheckpoint` cadence. */
  private[graft] val K = 5

  /** Hard cap on the per-round driver collect of the winner's posting
    * list (VERDICT r15 #6): the collect is bounded by ONE document's
    * distinct-shingle count — fine for any sane document (shingles ≈
    * tokens), but a pathological mega-document would otherwise pull
    * its whole posting list to the driver unannounced. 4M shingle
    * strings ≈ 100 MB collected — well inside the 1 GB default
    * spark.driver.maxResultSize; beyond it the query fails loudly
    * instead of OOMing the driver. */
  private[graft] val MaxDriverPostings = 4_000_000L

  /** q163 — greedy max-cover over distinct word-3-gram shingles: per
    * round the doc with the most not-yet-covered shingles
    * (gain DESC, doc_id tie-break), its shingles marked covered.
    * Output: (round, doc_id, gain, covered_total) — exact integers. */
  def q163MaxCover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var remaining = Dedup.shingles(spark, dir)
    // gains are aggregated ONCE from the full pair table, then
    // delta-maintained (docs with zero remaining gain drop out, as in
    // the eager formulation where they vanish from the aggregation)
    var gains = remaining.groupBy("doc_id").agg(count(lit(1)).as("gain"))
      .localCheckpoint()
    val picks = Seq.newBuilder[(Int, Long, Long, Long)]
    var coveredTotal = 0L
    def best() = gains
      .orderBy(col("gain").desc, col("doc_id")).limit(1)
      .collect().headOption
    // a round with nothing left to cover (an empty corpus, or one that
    // fewer than K picks cover) ends the campaign, as the oracle's
    // LIMIT 1 over an empty round picks nothing
    var r = 1
    var top = best()
    while (top.isDefined) {
      val (docId, gain) = (top.get.getLong(0), top.get.getLong(1))
      coveredTotal += gain
      picks += ((r, docId, gain, coveredTotal))
      // r15: the winner's still-uncovered postings are DOC-BOUNDED
      // (≤ one document's shingle count), so they come to the driver
      // once and re-enter as a broadcast local relation — the old
      // shape localCheckpoint'ed the ENTIRE remaining pair table every
      // round just to read the winner's hits out of it (K full
      // materializations of a corpus-sized table; measured as the
      // bulk of the query's 3.3 s own time). Now the decrement join
      // and the survivor filter are map-side broadcast hash joins over
      // the winner's postings; `remaining` stays a LAZY chain of K
      // doc-bounded anti-joins off the cached shingle table (linear
      // plan depth — the exponential-replan hazard needed the same
      // subtree referenced twice per round, which the driver-collected
      // postings break). Gains stay delta-maintained on doc-sized
      // checkpoints; picks and decrements are exact integers, so the
      // greedy trajectory is unchanged.
      // the winner's gain IS its uncovered posting count, so the
      // driver-collect bound is checkable BEFORE collecting
      require(gain <= MaxDriverPostings,
        s"q163 round $r winner $docId has $gain uncovered shingles — " +
          s"over the $MaxDriverPostings driver-collect cap (see " +
          "docs/SCALE.md q163)")
      val wonShingles = remaining.filter(col("doc_id") === docId)
        .select("shingle").as[String].collect().toSeq
      val won = broadcast(wonShingles.toDF("shingle"))
      val delta = remaining.join(won, Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("dec"))
      gains = gains.join(delta, Seq("doc_id"), "left")
        .filter(col("doc_id") =!= docId)
        .select(col("doc_id"),
          (col("gain") - coalesce(col("dec"), lit(0L))).as("gain"))
        .filter(col("gain") > 0)
        .localCheckpoint()
      remaining = remaining.join(won, Seq("shingle"), "left_anti")
        .filter(col("doc_id") =!= docId)
      r += 1
      top = if (r <= K) best() else None
    }
    import spark.implicits._
    picks.result().toDF("round", "doc_id", "gain", "covered_total")
      .orderBy("round")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q163_max_cover", q163MaxCover _,
      {
      // mechanical unrolling: round r picks from u{r-1}, covers c{r},
      // leaves u{r} (MATERIALIZED: each CTE is read by pick, cover,
      // and the next round — DuckDB's default inlining would expand
      // the chain exponentially, the q142 lesson)
      val rounds = (1 to K).map { r =>
        s"""p$r AS MATERIALIZED (
           |  SELECT doc_id, count(*) AS gain FROM u${r - 1}
           |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
           |u$r AS MATERIALIZED (
           |  SELECT u.doc_id, u.shingle FROM u${r - 1} u
           |  WHERE u.doc_id <> (SELECT doc_id FROM p$r)
           |    AND u.shingle NOT IN (
           |      SELECT shingle FROM u${r - 1}
           |      WHERE doc_id = (SELECT doc_id FROM p$r)))""".stripMargin
      }.mkString(",\n")
      val union = (1 to K).map { r =>
        s"SELECT $r AS round, doc_id, gain FROM p$r"
      }.mkString("\nUNION ALL ")
      s"""WITH ${Dedup.shinglesCte},
         |u0 AS MATERIALIZED (SELECT doc_id, shingle FROM shingles),
         |$rounds,
         |picks AS ($union)
         |SELECT CAST(round AS INTEGER) AS round, doc_id,
         |       CAST(gain AS BIGINT) AS gain,
         |       CAST(sum(gain) OVER (ORDER BY round) AS BIGINT)
         |         AS covered_total
         |FROM picks ORDER BY round""".stripMargin
    }))
}
