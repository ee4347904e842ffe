package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] K-CENTER CORESET SELECTION (q243) — greedy farthest-point
  * traversal over the embedding table: start from the smallest vec_id,
  * then repeatedly pick the point FARTHEST from everything already
  * chosen (Gonzalez 1985 — the classic 2-approximation for the
  * k-center cover, and the standard geometric coreset / diversity
  * pruner in training-data curation: [[CoresetK]] centers such that
  * every point is within the reported covering radius of one). q224's
  * MMR diversifies a RANKING per query; this selects a global cover of
  * the corpus itself, and the final `cover2` IS the quality
  * certificate (max over points of squared distance to the chosen
  * set).
  *
  * Exactness: vectors micro-quantize to BIGINT once; every squared L2
  * distance is d²(a,b) = ‖a‖² + ‖b‖² − 2·a·b over exact integers, so
  * the ENTIRE operator — state, argmax, output — is integer
  * arithmetic with (dist² desc, vec_id) tie-breaks. There is not a
  * single float anywhere, which is why the oracle chain matches
  * bit-for-bit with no rounding argument at all.
  *
  * Scale shape: the per-round state is ONE (vec_id, min-dist²) column
  * updated by a broadcast join against the single newly-chosen vector
  * (O(n·d) per round, k rounds — the k-means-iteration cost class);
  * the argmax is a TakeOrdered(1). `localCheckpoint` per round keeps
  * the recurrence flat (the q138/q224 lesson). Already-chosen points
  * sit at min-dist² = 0, so no anti-join is ever needed. */
object Coreset {

  /** Centers selected (including the deterministic seed). */
  private[graft] val CoresetK = 8

  private def intVec(c: Column): Column =
    expr(s"transform(${c.toString}, v -> " +
      "cast(round(cast(v as double) * 1000000, 0) as bigint))")

  private def dotL(a: Column, b: Column): Column =
    expr(s"aggregate(zip_with(${a.toString}, ${b.toString}, " +
      "(x, y) -> x * y), cast(0 as bigint), (acc, t) -> acc + t)")

  /** q243 — greedy k-center picks + covering radius; see module doc. */
  def q243KCenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), intVec(col("embedding")).as("iv"))
      .withColumn("n2", dotL(col("iv"), col("iv")))
    val seed = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cid"), col("iv").as("cv"),
        col("n2").as("cn2"))
    def distToPick: Column =
      col("n2") + col("cn2") - lit(2L) * dotL(col("iv"), col("cv"))
    // state: per vec, squared distance to the nearest chosen center
    var state = emb.crossJoin(broadcast(seed))
      .select(col("vec_id"), col("iv"), col("n2"),
        distToPick.as("mind"))
      .localCheckpoint()
    var chosen = seed.select(col("cid").as("vec_id"), lit(1).as("pick_round"),
      lit(null).cast("long").as("dist2_at_pick"))
    for (r <- 2 to CoresetK) {
      val pick = state.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("cid"), col("iv").as("cv"),
          col("n2").as("cn2"), col("mind").as("pick_d2"))
      state = state.crossJoin(broadcast(pick))
        .select(col("vec_id"), col("iv"), col("n2"),
          least(col("mind"), distToPick).as("mind"))
        .localCheckpoint()
      chosen = chosen.unionByName(
        pick.select(col("cid").as("vec_id"), lit(r).as("pick_round"),
          col("pick_d2").as("dist2_at_pick")))
    }
    val cover = state.agg(max(col("mind")).as("cover2"))
    chosen.crossJoin(broadcast(cover))
      .select(col("pick_round"), col("vec_id"), col("dist2_at_pick"),
        col("cover2"))
      .orderBy("pick_round")
  }

  /** Oracle: the same greedy mechanically unrolled — integer
    * micro-vectors via per-position unnest joins, then [[CoresetK]]−1
    * MATERIALIZED state rounds (the q224 chain discipline; everything
    * is exact BIGINT, so the chain needs no rounding at all). */
  private def kCenterSql: String = {
    val base =
      """WITH iv AS (
        |  SELECT vec_id, i AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
        |              AS BIGINT) AS v
        |  FROM (SELECT vec_id, embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |n2 AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS nn
        |       FROM iv GROUP BY 1),
        |seed AS (SELECT min(vec_id) AS cid FROM n2),
        |state1 AS MATERIALIZED (
        |  SELECT a.vec_id,
        |         CAST(na.nn + nc.nn - 2 * d.dot AS BIGINT) AS mind
        |  FROM n2 a
        |  JOIN n2 na ON na.vec_id = a.vec_id
        |  JOIN n2 nc ON nc.vec_id = (SELECT cid FROM seed)
        |  JOIN (SELECT x.vec_id, CAST(sum(x.v * y.v) AS BIGINT) AS dot
        |        FROM iv x JOIN iv y
        |          ON y.vec_id = (SELECT cid FROM seed) AND y.pos = x.pos
        |        GROUP BY 1) d ON d.vec_id = a.vec_id)""".stripMargin
    val rounds = (2 to CoresetK).map { r =>
      val p = r - 1
      s"""pick$r AS MATERIALIZED (
         |  SELECT vec_id AS cid, mind AS pick_d2 FROM state$p
         |  ORDER BY mind DESC, vec_id LIMIT 1),
         |state$r AS MATERIALIZED (
         |  SELECT s.vec_id,
         |         least(s.mind,
         |               CAST(na.nn + nc.nn - 2 * d.dot AS BIGINT)) AS mind
         |  FROM state$p s
         |  JOIN n2 na ON na.vec_id = s.vec_id
         |  JOIN n2 nc ON nc.vec_id = (SELECT cid FROM pick$r)
         |  JOIN (SELECT x.vec_id, CAST(sum(x.v * y.v) AS BIGINT) AS dot
         |        FROM iv x JOIN iv y
         |          ON y.vec_id = (SELECT cid FROM pick$r) AND y.pos = x.pos
         |        GROUP BY 1) d ON d.vec_id = s.vec_id)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val picks = (2 to CoresetK).map(r =>
      s"SELECT $r AS pick_round, cid AS vec_id, pick_d2 AS dist2_at_pick " +
        s"FROM pick$r").mkString(" UNION ALL ")
    s"""$base$rounds,
       |cover AS (SELECT CAST(max(mind) AS BIGINT) AS cover2
       |          FROM state$CoresetK),
       |chosen AS (
       |  SELECT 1 AS pick_round, (SELECT cid FROM seed) AS vec_id,
       |         CAST(NULL AS BIGINT) AS dist2_at_pick
       |  UNION ALL $picks)
       |SELECT CAST(pick_round AS INTEGER) AS pick_round, vec_id,
       |       CAST(dist2_at_pick AS BIGINT) AS dist2_at_pick,
       |       (SELECT cover2 FROM cover) AS cover2
       |FROM chosen ORDER BY pick_round""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q243_kcenter_coreset", q243KCenterCoreset _, kCenterSql))
}
