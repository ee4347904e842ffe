package graft

import org.apache.spark.sql.functions._

/** Source/sink format breadth: values survive CSV and JSON round-trips
  * with explicit schemas (the formats a heterogeneous 100 TB lake mixes
  * with parquet). Timestamps written/read in UTC session time. */
class FormatsSpec extends SparkTestBase {

  private def sample = graft.sources.Tables.lineitem(spark, sf)
    .orderBy("l_orderkey", "l_linenumber").limit(200)

  private def canon(df: org.apache.spark.sql.DataFrame) = df
    .select(col("l_orderkey"), col("l_linenumber"),
      round(col("l_extendedprice"), 2).as("p"), col("l_returnflag"),
      col("l_shipdate").cast("long").as("ship_epoch"))
    .orderBy("l_orderkey", "l_linenumber")
    .collect().map(_.toSeq).toSeq

  test("CSV round-trip with explicit schema preserves values") {
    withTempDir("graft_csv") { path =>
      val tmp = path.toString
      sample.write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/li_csv")
      val back = spark.read
        .schema(graft.sources.Tables.lineitemSchema)
        .option("header", "true")
        .csv(s"$tmp/li_csv")
      assert(canon(back) == canon(sample))
    }
  }

  test("JSON round-trip with explicit schema preserves values") {
    withTempDir("graft_json") { path =>
      val tmp = path.toString
      sample.write.mode("overwrite").json(s"$tmp/li_json")
      val back = spark.read
        .schema(graft.sources.Tables.lineitemSchema)
        .json(s"$tmp/li_json")
      assert(canon(back) == canon(sample))
    }
  }

  test("malformed CSV rows: PERMISSIVE captures, FAILFAST raises") {
    withTempDir("graft_bad") { path =>
      val tmp = path.toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/bad.csv"),
        "k,v\n1,10\nnot_a_number,20\n3,30\n")
      val schema = "k LONG, v LONG, _corrupt STRING"
      val permissive = spark.read
        .schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(s"$tmp/bad.csv")
      val rows = permissive.cache()
      assert(rows.count() == 3)
      assert(rows.filter(col("_corrupt").isNotNull).count() == 1)
      assert(rows.filter(col("k").isNull).count() == 1)
      val failfast = spark.read
        .schema("k LONG, v LONG")
        .option("header", "true").option("mode", "FAILFAST")
        .csv(s"$tmp/bad.csv")
      intercept[org.apache.spark.SparkException] { failfast.collect() }
      rows.unpersist()
    }
  }

  test("zstd-compressed parquet round-trips") {
    withTempDir("graft_zstd") { path =>
      val tmp = path.toString
      sample.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$tmp/li_zstd")
      assert(canon(spark.read.parquet(s"$tmp/li_zstd")) == canon(sample))
    }
  }

  test("ORC round-trip preserves values (schema embedded)") {
    withTempDir("graft_orc") { path =>
      val tmp = path.toString
      sample.write.mode("overwrite").orc(s"$tmp/li_orc")
      val back = spark.read.orc(s"$tmp/li_orc")
      assert(canon(back) == canon(sample))
    }
  }

  test("partitioned write prunes partitions on read (scale path)") {
    withTempDir("graft_part") { path =>
      val tmp = path.toString
      sample.withColumn("flag", col("l_returnflag"))
        .write.mode("overwrite").partitionBy("flag").parquet(s"$tmp/li_part")
      val flags = sample.select("l_returnflag").distinct()
        .collect().map(_.getString(0))
      assert(flags.length > 1)
      val one = spark.read.parquet(s"$tmp/li_part")
        .filter(col("flag") === flags.head)
      // the partition filter must prune directories, not scan-and-filter
      val scan = one.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.partitionFilters.nonEmpty, "partition filter not pushed")
      assert(one.count() ==
        sample.filter(col("l_returnflag") === flags.head).count())
    }
  }

  test("variant semantics: JSON null vs absent path are distinguishable") {
    import org.apache.spark.sql.functions._
    val row = spark.range(1)
      .select(parse_json(lit("""{"a": null, "k": 7}""")).as("v"))
      .select(
        expr("is_variant_null(variant_get(v, '$.a'))").as("a_is_json_null"),
        expr("variant_get(v, '$.a', 'string')").as("a_str"),
        expr("variant_get(v, '$.absent', 'string')").as("absent_str"),
        expr("is_variant_null(variant_get(v, '$.absent'))").as("absent_is_json_null"),
        expr("variant_get(v, '$.k', 'int')").as("k"))
      .collect().head
    assert(row.getBoolean(0))        // JSON null IS a variant null
    assert(row.isNullAt(1))          // ...and reads as SQL NULL
    assert(row.isNullAt(2))          // absent path -> SQL NULL, no error
    assert(!row.getBoolean(3))       // ...but is NOT a JSON null
    assert(row.getInt(4) == 7)
  }

  test("Morton interleave matches a bit-by-bit reference on random inputs") {
    val sess = spark
    import sess.implicits._
    def reference(a: Int, b: Int): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc |
          (((a >> i) & 1).toLong << (2 * i)) |
          (((b >> i) & 1).toLong << (2 * i + 1))
      }
    val rnd = new scala.util.Random(5)
    val rows = Seq((0, 0), (65535, 65535), (1, 0), (0, 1)) ++
      (1 to 200).map(_ => (rnd.nextInt(65536), rnd.nextInt(65536)))
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.functions.Zorder.interleave16(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getInt(0), r.getInt(1), r.getLong(2))
      assert(z == reference(a, b), s"interleave16($a, $b)")
    }
  }

  test("z-order layout prunes multi-dim range scans that random layout can't") {
    withTempDir("graft_zorder") { path =>
      val tmp = path.toString
      val li = graft.sources.Tables.lineitem(spark, sf)
        .select("l_partkey", "l_suppkey", "l_extendedprice")
      // baseline: 16 arbitrary slices — every file spans the full value
      // range of both dims, so row-group stats prune nothing
      li.repartition(16).write.mode("overwrite").parquet(s"$tmp/random")
      // z-ordered: range-partition + sort by the Morton key, so each file
      // covers a narrow box in (partkey, suppkey) space
      li.withColumn("zkey", graft.functions.Zorder.interleave16(
          col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(16, col("zkey")).sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite").parquet(s"$tmp/zordered")
      val Seq(pMax, sMax) = li.agg(max("l_partkey"), max("l_suppkey"))
        .collect().map(r => Seq(r.getLong(0), r.getLong(1))).head
      def scanned(path: String): (Long, Seq[Seq[Any]]) = {
        val df = spark.read.parquet(path)
          .filter(col("l_partkey") <= pMax / 4 && col("l_suppkey") <= sMax / 4)
        val answer = df.collect().map(_.toSeq).toSeq
          .sortBy(_.mkString(","))
        val rows = df.queryExecution.executedPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numOutputRows").value
        }.get
        (rows, answer)
      }
      val (randomScanned, randomAnswer) = scanned(s"$tmp/random")
      val (zScanned, zAnswer) = scanned(s"$tmp/zordered")
      // identical answers (pruning must drop only non-matching row
      // groups), far fewer rows surfaced by the z-ordered scan
      assert(zAnswer == randomAnswer, "layouts must return the same rows")
      assert(zScanned < randomScanned / 2,
        s"z-order should prune: random=$randomScanned z=$zScanned")
    }
  }

  test("testdata physical-schema contract: inferred parquet types match " +
      "the declared Tables schemas (VERDICT r07 #5)") {
    // a driver regeneration that changes any physical type must fail in
    // THIS named test, not in eleven downstream query hashes
    import org.apache.spark.sql.types._
    val T = graft.sources.Tables
    val declared = Seq(
      "region" -> T.regionSchema, "nation" -> T.nationSchema,
      "customer" -> T.customerSchema, "supplier" -> T.supplierSchema,
      "part" -> T.partSchema, "orders" -> T.ordersSchema,
      "lineitem" -> T.lineitemSchema, "documents" -> T.documentsSchema,
      "embeddings" -> T.embeddingsSchema)
    // NTZ-annotated (isAdjustedToUTC=false) timestamp columns resolve
    // to a declared TimestampType at the scan with identical micros
    // under the project-wide UTC session timezone — the one compatible
    // pairing; anything else is drift
    def compatible(declaredT: DataType, inferredT: DataType): Boolean =
      declaredT == inferredT ||
        (declaredT == TimestampType && inferredT == TimestampNTZType)
    declared.foreach { case (name, schema) =>
      val inferred = spark.read.parquet(s"$sf/$name.parquet").schema
      assert(inferred.map(_.name) == schema.map(_.name),
        s"$name.parquet column set drifted from the declared contract")
      schema.foreach { f =>
        assert(compatible(f.dataType, inferred(f.name).dataType),
          s"$name.$f drifted: declared ${f.dataType}, " +
            s"file has ${inferred(f.name).dataType}")
      }
    }
    // events.ts is driver-owned and may legitimately change encoding;
    // the inferred type must be one the sniffing decoder handles, and
    // the normalized reader must always surface TimestampType
    val evInferred = spark.read.parquet(s"$sf/events.parquet").schema
    assert(evInferred.map(_.name) == T.eventsSchema.map(_.name))
    val tsType = evInferred("ts").dataType
    assert(Set[DataType](TimestampType, TimestampNTZType, LongType)(tsType),
      s"events.ts encoding $tsType is outside the decoder's contract")
    assert(T.events(spark, sf).schema("ts").dataType == TimestampType)
  }

  test("bucketed tables co-locate joins: no exchange in the join plan") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    sample.select("l_orderkey", "l_extendedprice")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").limit(500)
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed").join(
        spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("schema evolution: files written before a column-add read as NULL " +
      "under the evolved declared schema") {
    // the Tables.scala failure mode, inverted: a declared-schema reader
    // must tolerate ADDITIVE evolution (new column, old files) — the
    // one schema change a lake performs routinely — while the encoding
    // sniff (ExpectationsSpec) guards the breaking kind
    withTempDir("graft_evolve") { tmp =>
      val dir = tmp.toString
      val v1 = graft.sources.Tables.region(spark, sf)
      v1.write.mode("overwrite").parquet(s"$dir/t")
      val v2 = v1.withColumn("r_tier",
        when(col("r_regionkey") % 2 === 0, "gold").otherwise("standard"))
      v2.write.mode("append").parquet(s"$dir/t")
      val evolved = org.apache.spark.sql.types.StructType(
        graft.sources.Tables.regionSchema :+
          org.apache.spark.sql.types.StructField("r_tier",
            org.apache.spark.sql.types.StringType))
      val back = spark.read.schema(evolved).parquet(s"$dir/t")
      val n = v1.count()
      assert(back.count() == 2 * n)
      // old files: NULL tier; new files: populated per the v2 rule
      assert(back.filter(col("r_tier").isNull).count() == n)
      assert(back.filter(col("r_tier") === "gold").count() ==
        v1.filter(col("r_regionkey") % 2 === 0).count())
      // and mergeSchema infers the union without a declared schema
      val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
      assert(merged.columns.toSet == evolved.fieldNames.toSet)
    }
  }
}
