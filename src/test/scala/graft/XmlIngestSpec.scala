package graft

import org.apache.spark.sql.functions._

import graft.operators.{Relational, XmlShred}

/** XML shredding parity (S1-S3) against the reference's document shapes,
  * write-mode/DDL surface (S4/S5/S7/S8), and the approx-distinct error
  * bound (A5). */
class XmlIngestSpec extends SparkTestBase {

  test("reps XML shape: attribute + positional children shred losslessly (S1-S3)") {
    // rebuild the reference's pharmaReps.xml shape (FIXTURES.md §A.1)
    // from the fixture dim, shred it back, assert exact equality
    val dir = getClass.getResource("/pharma").getPath
    val reps = spark.read.parquet(s"$dir/reps.parquet")
    val xml = reps.select(concat(
      lit("<rep rID=\""), col("rep_id"), lit("\">"),
      lit("<first>"), col("first_name"), lit("</first>"),
      lit("<last>"), col("last_name"), lit("</last>"),
      lit("<territory>"), col("territory"), lit("</territory>"),
      lit("</rep>")).as("xml"))
    val shredded = xml.select(
      xpath_string(col("xml"), lit("//rep/@rID")).as("rep_id"),
      xpath_string(col("xml"), lit("//first[1]")).as("first_name"),
      xpath_string(col("xml"), lit("//last[1]")).as("last_name"),
      xpath_string(col("xml"), lit("//territory[1]")).as("territory"))
    val orig = reps.collect().map(_.toSeq).toSet
    val back = shredded.collect().map(_.toSeq).toSet
    assert(back == orig)
  }

  test("whole XML FILE of repeated records ingests via wholetext + explode (S1)") {
    // the reference's actual input: one file, root element, repeated
    // <rep> records (LoadXML2DB shape). wholetext read -> from_xml with
    // an array schema -> explode = the distributed file-ingest path.
    val dir = getClass.getResource("/pharma").getPath
    val reps = spark.read.parquet(s"$dir/reps.parquet")
    val doc = reps.collect().map { r =>
      s"""<rep rID="${r.getString(0)}"><first>${r.getString(1)}</first>""" +
        s"<last>${r.getString(2)}</last>" +
        s"<territory>${r.getString(3)}</territory></rep>"
    }.mkString("<reps>", "", "</reps>")
    withTempDir("graft_xmlfile") { tmp =>
      java.nio.file.Files.writeString(tmp.resolve("pharmaReps.xml"), doc)
      val schema =
        "`rep` ARRAY<STRUCT<`_rID`: STRING, `first`: STRING, `last`: STRING, `territory`: STRING>>"
      val back = spark.read.option("wholetext", "true")
        .text(tmp.toString)
        .select(explode(from_xml(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(schema).asInstanceOf[org.apache.spark.sql.types.StructType]
        ).getField("rep")).as("r"))
        .select(col("r._rID").as("rep_id"), col("r.first").as("first_name"),
          col("r.last").as("last_name"), col("r.territory").as("territory"))
      assert(back.collect().map(_.toSeq).toSet ==
        reps.collect().map(_.toSeq).toSet)
    }
  }

  test("q48 txn XML round-trip preserves doubles and keys") {
    val n = XmlShred.shred(XmlShred.ordersAsXml(spark, sf)).count()
    val base = graft.sources.Tables.orders(spark, sf).count()
    assert(n == base)
  }

  test("write modes overwrite/append model T1 incremental ingest (S4/S5)") {
    withTempDir("graft_ingest") { path =>
      val tmp = path.toString
      val li = graft.sources.Tables.lineitem(spark, sf).limit(100)
      li.write.mode("overwrite").parquet(s"$tmp/t")
      li.write.mode("append").parquet(s"$tmp/t")
      assert(spark.read.parquet(s"$tmp/t").count() == 200)
      li.write.mode("overwrite").parquet(s"$tmp/t")
      assert(spark.read.parquet(s"$tmp/t").count() == 100)
    }
  }

  test("DDL + CTAS: CREATE TABLE AS SELECT and DROP (S7/S8)") {
    spark.sql("DROP TABLE IF EXISTS graft_ctas_t")
    graft.sources.Tables.nation(spark, sf).createOrReplaceTempView("nation_v")
    spark.sql(
      """CREATE TABLE graft_ctas_t USING parquet AS
        |SELECT n_regionkey, count(*) AS n FROM nation_v GROUP BY 1""".stripMargin)
    assert(spark.table("graft_ctas_t").count() == 5)
    spark.sql("DROP TABLE graft_ctas_t")
    assert(!spark.catalog.tableExists("graft_ctas_t"))
  }

  test("file-source streaming reads events (S10)") {
    withTempDir("graft_stream") { streamDir =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        streamDir.resolve("events-000.parquet"))
      val q = graft.streaming.Streams.eventsStream(spark, streamDir.toString)
        .groupBy("event_type").count()
        .writeStream.format("memory").queryName("file_stream_t")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val n = spark.table("file_stream_t")
        .agg(sum("count")).collect()(0).getLong(0)
      assert(n == graft.sources.Tables.events(spark, sf).count())
    }
  }

  test("approx_count_distinct accuracy contract holds (A5)") {
    val rows = Relational.q49ApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2),
        s"${r.getString(0)}: exact=${r.getLong(1)} outside 15% bound")
    }
  }
}
