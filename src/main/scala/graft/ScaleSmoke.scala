package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: build the scaling datasets under /tmp from sf0.1, and run
  * the one-off scaling recipes that are not registered queries
  * (docs/SCALE.md). Correctness at these sizes is NOT oracle-checked
  * (DuckDB would take minutes); the same plans are bit-verified at
  * sf0.01/sf0.1.
  *
  * Timing a registered query at scale is a Bench run on the built dir,
  * e.g. `SPARK_GRAFT_SF_DIR=/tmp/graft_sfx1 SPARK_GRAFT_BENCH_ONLY=...`,
  * compared with the same subset on sf0.1 (docs/SCALE.md "Measured
  * scaling" keeps the subsets per axis).
  *
  * Usage: runMain graft.ScaleSmoke <build|dimbuild|usrbuild|recipes>
  *   build     pseudo-sf1: facts 10x (key-shifted copies), dims as-is
  *   dimbuild  customer/part 10x, facts re-keyed to the dim copies
  *   usrbuild  events 10x as new users
  *   recipes   (after build + dimbuild) q34/q35 after exact dedup on
  *             pseudo-sf1; q200/q203 candidate-pair mass, sf0.1 vs sfdim
  */
object ScaleSmoke {
  private val SrcDir = "/root/testdata/sf0.1"
  private val OutDir = "/tmp/graft_sfx1"
  private val DimDir = "/tmp/graft_sfdim"
  private val UsrDir = "/tmp/graft_sfusr"
  private val Copies = 10

  private def replicate(spark: SparkSession, table: String,
      keyOffsets: Seq[(String, Long)]): DataFrame = {
    val base = spark.read.parquet(s"$SrcDir/$table.parquet")
    val offs = keyOffsets.toMap
    base.crossJoin(
        spark.range(Copies).select(col("id").as("__copy")))
      .select(base.columns.map { c =>
        offs.get(c) match {
          case Some(off) => (col(c) + col("__copy") * off).as(c)
          case None      => col(c)
        }
      }: _*)
  }

  def build(spark: SparkSession): Unit = {
    // facts scale 10x with shifted keys; dims stay (same selectivity
    // shape as a bigger SF: more facts per dim row)
    Seq(
      ("lineitem", Seq("l_orderkey" -> 100000000L)),
      ("orders", Seq("o_orderkey" -> 100000000L)),
      ("events", Seq("event_id" -> 100000000L)),
      ("documents", Seq("doc_id" -> 10000000L)),
      ("embeddings", Seq("vec_id" -> 10000000L))
    ).foreach { case (t, keys) =>
      replicate(spark, t, keys)
        .write.mode("overwrite").parquet(s"$OutDir/$t.parquet")
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$SrcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$OutDir/$t.parquet")
    }
    println(s"[scale] built $OutDir")
  }

  /** Dim-growth dataset (VERDICT r08 #4): pseudo-sf1 grows facts but
    * keeps dims/users constant, so customer-/part-quadratic effects
    * are structurally unmeasured there. This build grows CUSTOMER and
    * PART 10x (key-shifted copies), and re-keys the fact copies so
    * copy i references dim copy i — fact-per-dim density stays
    * constant, the dimension tables themselves grow, which is exactly
    * the axis that stresses dimension-blocked pair generation (q200,
    * q79), dimension-wide windows/sorts (q185, q192, q184), and
    * fact-pair profiles keyed by dimension (q183, q193). */
  def buildDim(spark: SparkSession): Unit = {
    val cOff = 10000000L; val pOff = 10000000L; val oOff = 100000000L
    Seq(
      ("part", Seq("p_partkey" -> pOff)),
      ("orders", Seq("o_orderkey" -> oOff, "o_custkey" -> cOff)),
      ("lineitem", Seq("l_orderkey" -> oOff, "l_partkey" -> pOff))
    ).foreach { case (t, keys) =>
      replicate(spark, t, keys)
        .write.mode("overwrite").parquet(s"$DimDir/$t.parquet")
    }
    // customer copies are NEW IDENTITIES, not clones: the key shifts
    // AND the name gets a per-copy suffix (a clone corpus is the
    // q158/q202 twins harness; dimension growth means new people with
    // new names but the same low-cardinality nat/seg/bucket attrs —
    // exactly the axis that breaks attribute blocking while
    // name-keyed blocking keeps block sizes constant)
    replicate(spark, "customer", Seq("c_custkey" -> cOff))
      .withColumn("__copy", expr(s"c_custkey div $cOff"))
      .withColumn("c_name",
        when(col("__copy") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("~"), col("__copy"))))
      .drop("__copy")
      .write.mode("overwrite").parquet(s"$DimDir/customer.parquet")
    Seq("region", "nation", "supplier", "events", "documents",
      "embeddings").foreach { t =>
      spark.read.parquet(s"$SrcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$DimDir/$t.parquet")
    }
    println(s"[scale] built $DimDir")
  }

  /** User-growth dataset (VERDICT r11 #5): the five round-11 queries
    * keyed on events.user_id (cohorts, holdout, session paths, LTV,
    * pseudonymization) are stressed by USER-DIMENSION growth, which
    * neither pseudo-sf1 (10× events per user, users constant) nor the
    * customer/part dim build (events copied unchanged) exercises.
    * Here events replicate with user_id AND event_id both shifted —
    * 10× users as NEW identities, per-user history constant — so a
    * per-user window grows its partition COUNT, not partition size,
    * and user-profile tables grow 10×. All other tables copy as-is. */
  def buildUsr(spark: SparkSession): Unit = {
    replicate(spark, "events",
        Seq("event_id" -> 100000000L, "user_id" -> 100000000L))
      .write.mode("overwrite").parquet(s"$UsrDir/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$SrcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$UsrDir/$t.parquet")
    }
    println(s"[scale] built $UsrDir")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Scaling measurements that are not registered queries. Each wall
    * includes every shared build the recipe touches (no DfCache build
    * timing): these are whole-recipe numbers, not Bench rows. */
  def recipes(spark: SparkSession): Unit = {
    Seq(OutDir -> "build", DimDir -> "dimbuild").foreach { case (d, m) =>
      require(new java.io.File(d).isDirectory,
        s"$d is missing: run `ScaleSmoke $m` first")
    }
    // warm the recipes' kernels at the smallest SF first (same rationale
    // as Bench's warm-up): the walls below measure the engine, not JIT
    val warm = "/root/testdata/sf0.001"
    noop(operators.Dedup.q34DedupNgramJaccard(spark, warm))
    noop(operators.DedupEmbedding.q35DedupEmbedding(spark, warm))
    operators.Linkage.estimationPairs(spark, warm).count()
    operators.Linkage.retrievedPairs(spark, warm).count()
    // the documented production order for near-dup at scale: exact
    // dedup FIRST (collapses identical-text clusters), then Jaccard
    // over the survivors — measure the difference on the pathological
    // 10-identical-copies corpus
    graft.sources.DfCache.clear(spark)
    val t0 = System.nanoTime()
    val survivors = operators.Dedup.q31DedupExact(spark, OutDir)
      .filter(!col("is_duplicate")).select("doc_id")
    val survivorDocs = spark.read.parquet(s"$OutDir/documents.parquet")
      .join(survivors, Seq("doc_id"))
    val tmpSurv = s"$OutDir/__survivors"
    survivorDocs.write.mode("overwrite")
      .parquet(s"$tmpSurv/documents.parquet")
    noop(operators.Dedup.q34DedupNgramJaccard(spark, tmpSurv))
    println(f"[scale] q34_after_exact_dedup sfx1: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // same recipe for embeddings: identical-VECTOR dedup first, then
    // banded near-dup over survivors. The proportional hot-bucket cap
    // keeps q35's recall honest as occupancy grows, so on a
    // mass-duplicate corpus the twin buckets are legitimately heavy
    // and the bucket join pays bucket^2 on them — removing exact
    // twins first (flat cost) is the production order, exactly as for
    // q34's shingle join.
    graft.sources.DfCache.clear(spark)
    val t1 = System.nanoTime()
    val emb = spark.read.parquet(s"$OutDir/embeddings.parquet")
    val firstIds = emb
      .select(col("vec_id"), md5(to_json(col("embedding"))).as("h"))
      .groupBy("h").agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id")
    val tmpEmb = s"$OutDir/__emb_survivors"
    emb.join(firstIds, Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$tmpEmb/embeddings.parquet")
    noop(operators.DedupEmbedding.q35DedupEmbedding(spark, tmpEmb))
    println(f"[scale] q35_after_exact_dedup sfx1: ${(System.nanoTime() - t1) / 1e9}%.2f s")
    // the linkage metric: candidate-pair MASS under dimension growth
    // (blocking quality, not just wall-clock). q200's registered plan
    // blocks the bounded hash sample (expected ~flat), q203 retrieves
    // on the name prefix whose cardinality grows with the dimension
    // (expected ~linear). The FULL attribute-blocked set
    // (Linkage.candidatePairs) is the documented quadratic
    // counter-example — its round-9 sfdim measurement (100x pairs at 10x
    // customers) stands in docs/SCALE.md; not re-counted here (minutes
    // of join time for a number that cannot change).
    Seq(SrcDir -> "sf0.1", DimDir -> "sfdim").foreach { case (dir, label) =>
      graft.sources.DfCache.clear(spark)
      val e = operators.Linkage.estimationPairs(spark, dir).count()
      val r = operators.Linkage.retrievedPairs(spark, dir).count()
      val c = spark.read.parquet(s"$dir/customer.parquet").count()
      println(s"[scale] q200_estimation_pairs $label: $e pairs over $c customers")
      println(s"[scale] q203_retrieved_pairs $label: $r pairs over $c customers")
    }
  }

  def main(args: Array[String]): Unit = {
    val modes = Map[String, SparkSession => Unit]("build" -> build,
      "dimbuild" -> buildDim, "usrbuild" -> buildUsr, "recipes" -> recipes)
    val mode = args.headOption.getOrElse("")
    require(modes.contains(mode),
      s"usage: ScaleSmoke <${modes.keys.toSeq.sorted.mkString("|")}>")
    val spark = DevSession.make()
    spark.sparkContext.setLogLevel("WARN")
    modes(mode)(spark)
    spark.stop()
  }
}
