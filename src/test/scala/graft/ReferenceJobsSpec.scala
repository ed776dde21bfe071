package graft

import graft.jobs.ReferenceJobs
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The reference-replay layer on small files in the reference's own input
  * formats (FIXTURES.md §A; `src/test/resources/reference`) with the
  * reference's parameters — the "switch engines, keep your data and jobs"
  * claim, checked against independently-computed expectations on the
  * collected rows. Each fixture carries the edge its test names: fail
  * pairs inside/at/over the 2 s gap, a success reset and same-second ties
  * (LoginLog); orders paid in time, at the 900 s boundary, late, never, a
  * pay with an empty txId, and a pay read before its create in the same
  * second (OrderLog); three clicks of one (user, ad) on one day
  * (AdClickLog); receipts inside and on the
  * [pay−3 s, pay+5 s] edges, one just outside and one with no pay
  * (ReceiptLog); a URL-count tie and more than five URLs in one window
  * (apache.log).
  */
class ReferenceJobsSpec extends SparkSuite {

  private val res = new java.io.File(getClass.getResource("/reference").toURI).getPath
  private lazy val all = ReferenceJobs.runAll(spark, res)

  test("every file-driven reference job returns rows on its bundled input") {
    withoutCodegenFallback {
      all.foreach { case (name, df) =>
        assert(df.count() > 0, s"$name returned no rows")
      }
      val clicks = graft.sources.ReferenceData
        .readCsv(spark, s"$res/AdClickLog.csv", graft.sources.ReferenceData.adClickSchema)
        .select("province", "ts").collect().toSeq
      val geo = all("ad_geo").collect()
        .map(r => (r.getLong(0), Seq[Any](r.getString(1))) -> r.getLong(2)).toMap
      assert(geo == SlidingCountsSpec.fold(clicks, 3600, 5))
    }
  }

  test("login fail: pairs match a hand-rolled scan of LoginLog") {
    val rows = graft.sources.ReferenceData
      .readCsv(spark, s"$res/LoginLog.csv", graft.sources.ReferenceData.loginSchema)
      .select("userId", "eventType", "ts_sec", "ip").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
      evs.toSeq.sortBy(e => (e._3, e._4)).sliding(2).collect {
        case Seq((_, "fail", e1, _), (_, "fail", e2, _)) if e2 - e1 <= 2 =>
          (uid, e1, e2)
      }
    }.toSet
    val got = all("login_fail").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    assert(got.contains((7233L, 1558430900L, 1558430900L)), "same-second tie pair missing")
  }

  test("order timeout: every created order gets exactly one outcome") {
    val out = all("order_timeout")
    val creates = graft.sources.ReferenceData
      .readCsv(spark, s"$res/OrderLog.csv", graft.sources.ReferenceData.orderSchema)
      .filter(col("eventType") === "create").count()
    assert(out.count() == creates)
    val msgs = out.groupBy("result_msg").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(msgs.keySet.subsetOf(
      Set("payed successfully", "payed but already timeout", "order timeout")))
    assert(msgs.getOrElse("payed successfully", 0L) > 0)
    assert(msgs.size == 3, s"fixture must hit all three outcomes: $msgs")
    // order 34750's pay line precedes its create line in the same second;
    // (ts, eventType) order puts the create first whatever the arrival order
    assert(out.filter(col("orderId") === 34750L).select("result_msg").collect()
      .map(_.getString(0)).toSeq == Seq("payed successfully"))
  }

  test("ad blacklist at threshold 2 == a per-(user, ad, day) fold over AdClickLog") {
    val clicks = graft.sources.ReferenceData
      .readCsv(spark, s"$res/AdClickLog.csv", graft.sources.ReferenceData.adClickSchema)
    val rows = clicks.select("userId", "adId", "province", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val expected = rows.groupBy(r => (r._1, r._2, Math.floorDiv(r._4, 86400L))).values
      .flatMap(_.sortBy(r => (r._4, r._3)).take(3).zipWithIndex.map { case ((u, a, p, t), i) =>
        (if (i < 2) "click" else "blacklist_warning", u, a, p, t)
      }).toSet
    val got = ReferenceJobs.adBlacklist(clicks, threshold = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSet
    assert(got == expected)
    assert(got.filter(_._1 == "blacklist_warning") ==
      Set(("blacklist_warning", 543462L, 1715L, "beijing", 1511661600L)))
  }

  test("tx match: matched + unmatched_pay partitions the pay events") {
    val out = all("tx_match")
    val pays = graft.sources.ReferenceData
      .readCsv(spark, s"$res/OrderLog.csv", graft.sources.ReferenceData.orderSchema)
      .filter(col("eventType") === "pay" && col("txId") =!= "").count()
    val sides = out.groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sides.getOrElse("matched", 0L) + sides.getOrElse("unmatched_pay", 0L) == pays)
    assert(sides.getOrElse("matched", 0L) > 0)
    assert(sides.getOrElse("unmatched_receipt", 0L) > 0)
  }

  test("network flow ranks URLs within each 10min/5s window") {
    val nf = all("network_flow")
    assert(nf.filter(col("rnk") > 5).count() == 0)
    assert(nf.filter(col("rnk") === 1).count() > 0)
    // within a window, rank order is (cnt desc, url asc) — ties included
    val byWindow = nf.collect().groupBy(_.getAs[Long]("window_start")).values
    byWindow.foreach { rows =>
      val ranked = rows.sortBy(_.getAs[Long]("rnk")).toSeq
      assert(ranked.map(_.getAs[Long]("rnk")) == (1L to ranked.size.toLong))
      assert(ranked == ranked.sortBy(r => (-r.getAs[Long]("cnt"), r.getAs[String]("url"))))
    }
    assert(byWindow.exists(rows => rows.map(_.getAs[Long]("cnt")).distinct.size < rows.length),
      "fixture has no URL-count tie inside a ranked window")
  }

  test("HotItemsWithSql: SQL surface == DataFrame surface row-for-row") {
    // the DataFrame surface counts through Sliding.slidingCounts, the SQL
    // surface through window()'s Expand: the two agree at 12 panes
    import spark.implicits._
    val t0 = Timestamp.valueOf("2017-11-26 09:00:00").getTime / 1000
    val ub = (0 until 400).map { i =>
      (i.toLong % 40, i.toLong % 11, 1, if (i % 7 == 0) "cart" else "pv", t0 + i * 17)
    }.toDF("userId", "itemId", "categoryId", "behavior", "ts_sec")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val df = ReferenceJobs.hotItems(ub).collect().toSeq
    val sql = ReferenceJobs.hotItemsSql(spark, ub).collect().toSeq
    assert(df == sql)
    assert(df.nonEmpty)
  }

  test("hot items + page view + UV on a synthetic UserBehavior frame") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2017-11-26 09:00:00").getTime / 1000
    val rows = (0 until 600).map { i =>
      (i.toLong % 50, i.toLong % 7, 1, if (i % 5 == 0) "buy" else "pv", t0 + i * 13)
    }
    val ub = rows.toDF("userId", "itemId", "categoryId", "behavior", "ts_sec")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val hot = ReferenceJobs.hotItems(ub)
    assert(hot.filter(col("rnk") > 3).count() == 0 && hot.count() > 0)
    val pv = ReferenceJobs.pageView(ub).agg(sum("pv_count")).collect()(0).getLong(0)
    assert(pv == rows.count(_._4 == "pv"))
    val uv = ReferenceJobs.uniqueVisitor(ub)
    assert(uv.agg(max("uv_count")).collect()(0).getLong(0) <= 50)
    val uva = ReferenceJobs.uniqueVisitorApprox(ub)
    assert(uva.count() == uv.count())
    // exact per-hour counts against a fold; the estimate within its rsd
    val byHour = rows.filter(_._4 == "pv").groupBy(r => Math.floorDiv(r._5, 3600L) * 3600)
      .toSeq.sortBy(_._1)
    val pvWant = byHour.map { case (h, rs) => (h, rs.size.toLong) }
    val uvWant = byHour.map { case (h, rs) => (h, rs.map(_._1).distinct.size.toLong) }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pvWant.size > 1)
    assert(pairs(ReferenceJobs.pageView(ub)) == pvWant)
    assert(pairs(uv) == uvWant)
    val approx = pairs(uva)
    assert(approx.map(_._1) == uvWant.map(_._1))
    approx.zip(uvWant).foreach { case ((h, est), (_, exact)) =>
      assert(math.abs(est - exact) <= 0.02 * exact, s"window $h: $est vs $exact")
    }
  }
}
