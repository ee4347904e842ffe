package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] CUPED variance reduction (q167) — the covariate-adjustment
  * layer experimentation platforms run on top of the plain Welch test
  * (q165): each user's PRE-experiment activity predicts their
  * in-experiment metric, so regressing it out (ŷ = y − θ(x − x̄),
  * θ = cov(x,y)/var(x) pooled) shrinks metric variance without biasing
  * the treatment contrast — smaller confidence intervals from the
  * same traffic. Here the pre-period is the first half of the stream
  * (q151's data-derived midpoint), the covariate each user's
  * pre-period spend, the metric their post-period spend; heavy users
  * are heavy in both halves, so the correlation — and the reduction —
  * is genuine, not seeded.
  *
  * The q165 determinism contract extends verbatim: the engine folds
  * ONLY exact integer sufficient statistics per arm —
  * (n, Σx, Σy, Σx², Σy², Σxy) in BIGINT cents, order-free, sub-2^53 —
  * and θ, both t statistics, and the variance-reduction ratio are ONE
  * fixed arithmetic expression over those twelve integers, evaluated
  * identically in the oracle: bit-identical doubles. Scale: one
  * user-grain aggregate (the per-user x/y fold) + one scalar
  * aggregate — the platform's stored-sufficient-statistics shape. */
object Cuped {

  /** q167 — one audit row: arm sizes, pooled θ, raw and CUPED Welch t,
    * and the pooled variance-reduction ratio. */
  def q167Cuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val perUser = ev.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(sum(when(col("us") < col("cut"), col("cents")).otherwise(0L))
          .as("x"),
        sum(when(col("us") >= col("cut"), col("cents")).otherwise(0L))
          .as("y"))
      .withColumn("in_a",
        pmod(Hashing.md5Hash60(concat(lit("arm:"), col("user_id"))),
          lit(2)) === 0)
    def armSum(flag: Column, c: Column) = sum(when(flag, c).otherwise(0L))
    val stats = perUser.agg(
      armSum(col("in_a"), lit(1L)).as("na"),
      armSum(col("in_a"), col("x")).as("sxa"),
      armSum(col("in_a"), col("y")).as("sya"),
      armSum(col("in_a"), col("x") * col("x")).as("sxxa"),
      armSum(col("in_a"), col("y") * col("y")).as("syya"),
      armSum(col("in_a"), col("x") * col("y")).as("sxya"),
      armSum(!col("in_a"), lit(1L)).as("nb"),
      armSum(!col("in_a"), col("x")).as("sxb"),
      armSum(!col("in_a"), col("y")).as("syb"),
      armSum(!col("in_a"), col("x") * col("x")).as("sxxb"),
      armSum(!col("in_a"), col("y") * col("y")).as("syyb"),
      armSum(!col("in_a"), col("x") * col("y")).as("sxyb"))
    val d = (c: String) => col(c).cast("double")
    val n = d("na") + d("nb")
    val sx = d("sxa") + d("sxb"); val sy = d("sya") + d("syb")
    val sxx = d("sxxa") + d("sxxb"); val syy = d("syya") + d("syyb")
    val sxy = d("sxya") + d("sxyb")
    val theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    // per-arm raw means/variances
    val mya = d("sya") / d("na"); val myb = d("syb") / d("nb")
    val vya = (d("syya") - d("sya") * mya) / (d("na") - 1)
    val vyb = (d("syyb") - d("syb") * myb) / (d("nb") - 1)
    val tRaw = (mya - myb) / sqrt(vya / d("na") + vyb / d("nb"))
    // adjusted ŷ = y − θx: per-arm sums/squares via the same integers
    val saA = d("sya") - theta * d("sxa")
    val saB = d("syb") - theta * d("sxb")
    val sqA = d("syya") - lit(2) * theta * d("sxya") + theta * theta * d("sxxa")
    val sqB = d("syyb") - lit(2) * theta * d("sxyb") + theta * theta * d("sxxb")
    val vaA = (sqA - saA * (saA / d("na"))) / (d("na") - 1)
    val vaB = (sqB - saB * (saB / d("nb"))) / (d("nb") - 1)
    val tCuped = (saA / d("na") - saB / d("nb")) /
      sqrt(vaA / d("na") + vaB / d("nb"))
    // pooled (arm-blind) variance-reduction ratio for the audit
    val vRaw = (syy - sy * (sy / n)) / (n - 1)
    val vAdj = (sqA + sqB - (saA + saB) * ((saA + saB) / n)) / (n - 1)
    stats.select(col("na"), col("nb"),
      round(theta, 6).as("theta"),
      round(tRaw, 6).as("t_raw"),
      round(tCuped, 6).as("t_cuped"),
      round(lit(1) - vAdj / vRaw, 6).as("var_reduction"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q167_cuped", q167Cuped _,
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |per_user AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN us < (SELECT cut FROM cut)
        |                       THEN cents ELSE 0 END) AS BIGINT) AS x,
        |         CAST(sum(CASE WHEN us >= (SELECT cut FROM cut)
        |                       THEN cents ELSE 0 END) AS BIGINT) AS y,
        |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
        |           % 2 = 0 AS in_a
        |  FROM ev GROUP BY user_id),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN in_a THEN x ELSE 0 END) AS BIGINT) AS sxa,
        |    CAST(sum(CASE WHEN in_a THEN y ELSE 0 END) AS BIGINT) AS sya,
        |    CAST(sum(CASE WHEN in_a THEN x*x ELSE 0 END) AS BIGINT) AS sxxa,
        |    CAST(sum(CASE WHEN in_a THEN y*y ELSE 0 END) AS BIGINT) AS syya,
        |    CAST(sum(CASE WHEN in_a THEN x*y ELSE 0 END) AS BIGINT) AS sxya,
        |    CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN NOT in_a THEN x ELSE 0 END) AS BIGINT) AS sxb,
        |    CAST(sum(CASE WHEN NOT in_a THEN y ELSE 0 END) AS BIGINT) AS syb,
        |    CAST(sum(CASE WHEN NOT in_a THEN x*x ELSE 0 END) AS BIGINT) AS sxxb,
        |    CAST(sum(CASE WHEN NOT in_a THEN y*y ELSE 0 END) AS BIGINT) AS syyb,
        |    CAST(sum(CASE WHEN NOT in_a THEN x*y ELSE 0 END) AS BIGINT) AS sxyb
        |  FROM per_user),
        |calc AS (
        |  SELECT na, nb,
        |    (CAST(sxya + sxyb AS DOUBLE)
        |      - CAST(sxa + sxb AS DOUBLE) * CAST(sya + syb AS DOUBLE)
        |        / CAST(na + nb AS DOUBLE))
        |    / (CAST(sxxa + sxxb AS DOUBLE)
        |      - CAST(sxa + sxb AS DOUBLE) * CAST(sxa + sxb AS DOUBLE)
        |        / CAST(na + nb AS DOUBLE)) AS theta,
        |    sxa, sya, sxxa, syya, sxya, sxb, syb, sxxb, syyb, sxyb
        |  FROM s),
        |calc2 AS (
        |  SELECT na, nb, theta,
        |    CAST(sya AS DOUBLE) / na AS mya, CAST(syb AS DOUBLE) / nb AS myb,
        |    (CAST(syya AS DOUBLE) - CAST(sya AS DOUBLE)
        |      * (CAST(sya AS DOUBLE) / na)) / (na - 1) AS vya,
        |    (CAST(syyb AS DOUBLE) - CAST(syb AS DOUBLE)
        |      * (CAST(syb AS DOUBLE) / nb)) / (nb - 1) AS vyb,
        |    CAST(sya AS DOUBLE) - theta * CAST(sxa AS DOUBLE) AS saa,
        |    CAST(syb AS DOUBLE) - theta * CAST(sxb AS DOUBLE) AS sab,
        |    CAST(syya AS DOUBLE) - 2 * theta * CAST(sxya AS DOUBLE)
        |      + theta * theta * CAST(sxxa AS DOUBLE) AS sqa,
        |    CAST(syyb AS DOUBLE) - 2 * theta * CAST(sxyb AS DOUBLE)
        |      + theta * theta * CAST(sxxb AS DOUBLE) AS sqb,
        |    CAST(sya + syb AS DOUBLE) AS sy_t,
        |    CAST(syya + syyb AS DOUBLE) AS syy_t,
        |    CAST(na + nb AS DOUBLE) AS n_t
        |  FROM calc)
        |SELECT na, nb,
        |  round(theta, 6) AS theta,
        |  round((mya - myb) / sqrt(vya / na + vyb / nb), 6) AS t_raw,
        |  round((saa / na - sab / nb)
        |        / sqrt(((sqa - saa * (saa / na)) / (na - 1)) / na
        |               + ((sqb - sab * (sab / nb)) / (nb - 1)) / nb), 6)
        |    AS t_cuped,
        |  round(1 - ((sqa + sqb - (saa + sab) * ((saa + sab) / n_t))
        |             / (n_t - 1))
        |          / ((syy_t - sy_t * (sy_t / n_t)) / (n_t - 1)), 6)
        |    AS var_reduction
        |FROM calc2""".stripMargin))
}
