package graft

import graft.operators.Expectations

/** q139 — the expectation suite pinned against independent per-row Scala
  * recomputes of every metric, including the two expectations tuned to
  * fail on this corpus (they must FAIL — a suite that can only
  * rubber-stamp is not a gate). */
class ExpectationsSpec extends SparkTestBase {

  test("q139 metrics match per-row recomputes; tuned failures fail") {
    val got = Expectations.q139DataExpectations(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val ord = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
      .collect()
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_returnflag").collect()
    val orderKeys = ord.map(_.getLong(0))
    val pkDups = (orderKeys.length - orderKeys.distinct.length).toLong
    val priceBad = ord.count(r => r.isNullAt(1) || r.getDouble(1) <= 0).toLong
    val prioNull = ord.count(_.isNullAt(3)).toLong
    val maxDate = ord.map(_.getTimestamp(2)).max.toLocalDateTime.toLocalDate
    val lagDays = java.time.temporal.ChronoUnit.DAYS.between(
      maxDate, java.time.LocalDate.parse("2001-12-31"))
    val keySet = orderKeys.toSet
    val fkBad = li.count(r => !keySet.contains(r.getLong(0))).toLong
    val qtyRangeBad =
      li.count(r => r.getDouble(1) < 1 || r.getDouble(1) > 50).toLong
    val qtyGt40 = li.count(_.getDouble(1) > 40).toLong
    val flagBad =
      li.count(r => !Set("A", "N", "R").contains(r.getString(2))).toLong
    val evTs = graft.sources.Tables.events(spark, sf).select("ts").collect()
    val tsNull = evTs.count(_.isNullAt(0)).toLong
    val tsYearBad = evTs.count { r =>
      !r.isNullAt(0) && {
        // year in UTC (the session timezone) — toLocalDateTime would
        // render in the JVM default zone and misclassify year-boundary
        // events on a non-UTC host
        val y = r.getTimestamp(0).toInstant
          .atZone(java.time.ZoneOffset.UTC).getYear
        y < 2000 || y > 2100
      }
    }.toLong
    assert(got == Map(
      "events_ts_nonnull" -> ((tsNull, tsNull == 0)),
      "events_ts_year_in_2000_2100" -> ((tsYearBad, tsYearBad == 0)),
      "lineitem_fk_into_orders" -> ((fkBad, fkBad == 0)),
      "lineitem_quantity_in_1_50" -> ((qtyRangeBad, qtyRangeBad == 0)),
      "lineitem_quantity_le_40" -> ((qtyGt40, qtyGt40 == 0)),
      "lineitem_returnflag_domain" -> ((flagBad, flagBad == 0)),
      "orders_fresh_within_90d" -> ((lagDays, lagDays <= 90)),
      "orders_pk_unique" -> ((pkDups, pkDups == 0)),
      "orders_priority_nonnull" -> ((prioNull, prioNull == 0)),
      "orders_totalprice_positive" -> ((priceBad, priceBad == 0))))
    // the gate must demonstrably detect: the two tuned expectations fail
    assert(!got("lineitem_quantity_le_40")._2 &&
      got("lineitem_quantity_le_40")._1 > 0)
    assert(!got("orders_fresh_within_90d")._2 &&
      got("orders_fresh_within_90d")._1 > 90)
    // and the genuine integrity expectations hold on this corpus
    assert(got("orders_pk_unique") == ((0L, true)))
    assert(got("lineitem_fk_into_orders") == ((0L, true)))
    // the encoding-contract rows hold on a correctly-decoded corpus —
    // a 1000x-rescaled ts (the r07 silent-decode failure mode) would
    // land every event in 1970 and turn the year-range row red
    assert(got("events_ts_nonnull") == ((0L, true)))
    assert(got("events_ts_year_in_2000_2100") == ((0L, true)))
  }

  test("a mis-decoded ts is detected: 1000x-collapsed timestamps turn " +
      "the year-range expectation red") {
    import org.apache.spark.sql.functions._
    val collapsed = graft.sources.Tables.events(spark, sf)
      .withColumn("ts",
        timestamp_micros((unix_micros(col("ts")) / 1000).cast("long")))
    val bad = collapsed
      .agg(sum(when(col("ts").isNotNull &&
        !year(col("ts")).between(2000, 2100), 1L).otherwise(0L)))
      .collect().head.getLong(0)
    assert(bad == collapsed.count(),
      "every collapsed row must violate the year-range expectation")
  }

  test("an unrecognized events.ts physical encoding fails loudly at the " +
      "source instead of being silently rescaled") {
    import org.apache.spark.sql.functions._
    withTempDir("graft_bad_events") { path =>
      val dir = path.toString
      graft.sources.Tables.events(spark, sf).limit(10)
        .withColumn("ts", col("ts").cast("string"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val e = intercept[IllegalStateException] {
        graft.sources.Tables.events(spark, dir)
      }
      assert(e.getMessage.contains("unsupported parquet type"))
      // same drift class: a schema with no ts column at all
      withTempDir("graft_nots_events") { path2 =>
        val dir2 = path2.toString
        graft.sources.Tables.events(spark, sf).limit(10)
          .drop("ts")
          .write.mode("overwrite").parquet(s"$dir2/events.parquet")
        val e2 = intercept[IllegalStateException] {
          graft.sources.Tables.events(spark, dir2)
        }
        assert(e2.getMessage.contains("unsupported parquet type"))
      }
    }
  }

  test("a MIXED events directory (legacy long files next to logical " +
      "timestamp files) fails loudly instead of decoding one recipe") {
    import org.apache.spark.sql.functions._
    withTempDir("graft_mixed_events") { path =>
      val dir = path.toString
      val ev = graft.sources.Tables.events(spark, sf).limit(5)
      // one file surfaces ts as a raw long (the legacy shape), one as a
      // logical timestamp — the mid-migration lake layout
      ev.withColumn("ts", unix_micros(col("ts")))
        .write.mode("append").parquet(s"$dir/events.parquet")
      ev.write.mode("append").parquet(s"$dir/events.parquet")
      val e = intercept[IllegalStateException] {
        graft.sources.Tables.events(spark, dir)
      }
      assert(e.getMessage.contains("mixes incompatible ts encodings"))
    }
  }
}
