package graft

import org.apache.spark.sql.functions._

import graft.functions.{Hashing, MinHashAggregator}
import graft.operators.Skew

/** Mergeable-sketch and skew-handling semantics. */
class AggregatorSkewSpec extends SparkTestBase {

  test("MinHashAggregator signature == q32 pipeline signature") {
    val sess = spark
    import sess.implicits._
    // per-doc signatures via the typed Aggregator
    val docs = graft.sources.Tables.documents(spark, sf)
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingle", explode(expr(
        """CASE WHEN size(words) >= 3
          |     THEN transform(sequence(1, size(words) - 2),
          |                    i -> concat_ws(' ', slice(words, i, 3)))
          |     ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)))
      .select(col("doc_id"), col("shingle")).distinct()
      .withColumn("x", Hashing.md5Hash60(col("shingle")))
    val viaAgg = docs.select(col("doc_id"), col("x")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(MinHashAggregator.toColumn.name("sig"))
      .collect().toMap
    // same signatures via the relational groupBy-min formulation
    val viaSql = docs
      .withColumn("j", explode(sequence(lit(0), lit(15))))
      .withColumn("h", Hashing.minHashPerm(col("j"), col("x")))
      .groupBy("doc_id", "j").agg(min("h").as("mh"))
      .groupBy("doc_id")
      .agg(expr("transform(sort_array(collect_list(struct(j, mh))), s -> s.mh)").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaAgg.keySet == viaSql.keySet)
    viaAgg.foreach { case (id, sig) =>
      assert(sig.toSeq == viaSql(id).toSeq, s"doc $id")
    }
  }

  test("MinHash sketches merge associatively (split-and-merge == whole)") {
    val xs = (1L to 1000L).map(i => Hashing.md5Hash60Value(s"shingle-$i"))
    val whole = xs.foldLeft(MinHashAggregator.zero)(MinHashAggregator.reduce)
    val (l, r) = xs.splitAt(317)
    val merged = MinHashAggregator.merge(
      l.foldLeft(MinHashAggregator.zero)(MinHashAggregator.reduce),
      r.foldLeft(MinHashAggregator.zero)(MinHashAggregator.reduce))
    assert(whole.toSeq == merged.toSeq)
    assert(MinHashAggregator.estimateJaccard(whole, merged) == 1.0)
  }

  test("graft_dot evaluates via SQL and the extensions injector applies") {
    // injector is structurally sound (what spark.sql.extensions invokes)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    // runtime registration path + SQL evaluation + null/length semantics
    val s2 = spark.newSession()
    Graft.registerFunctions(s2)
    val r = s2.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_dot(array(CAST(1.0 AS FLOAT)), array(2.0D, 9.0D)) AS mixed,
        |       graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS n
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 2.0) // min-length semantics
    assert(r.isNullAt(2))
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    // one hot key holding ~95% of the left side; thresholds lowered so
    // the toy volume trips the same machinery that fires at TB scale
    val sess = spark
    import sess.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pad = "x" * 64
      val left = spark.range(200000)
        .select((col("id") % 20 === 0).cast("int").as("flag"), col("id"))
        .select(when(col("flag") === 1, col("id") % 50 + 1).otherwise(0L)
          .as("k"), concat(lit(pad), col("id")).as("payload"))
      val right = spark.range(51).select(col("id").as("k"),
        concat(lit("r"), col("id")).as("rv"))
      val joined = left.join(right, Seq("k"))
      // execute THIS dataframe's own plan (count() would plan separately
      // and leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted aggregation equals plain groupBy aggregation") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val salted = Skew.saltedAggSum(li, Seq("l_returnflag"), "l_quantity")
      .select(col("l_returnflag"), round(col("sum_l_quantity"), 2).as("s"),
        col("n_rows"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val plain = li.groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }
}
