package graft

import graft.model.Event
import graft.ops.EventWindows
import graft.plans.GraftExtensions
import graft.streaming.StreamJobs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** SQL-surface registration, the synthetic rate source, and sessionization
  * streaming parity.
  */
class ExtensionsSpec extends SparkSuite {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("vec_dot is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf()).limit(10).createOrReplaceTempView("emb10")
    val out = spark.sql(
      """SELECT a.vec_id, b.vec_id, vec_dot(a.embedding, b.embedding) AS d
        |FROM emb10 a JOIN emb10 b ON a.vec_id < b.vec_id""".stripMargin).collect()
    assert(out.length == 45 && out.forall(r => !r.isNullAt(2)))
  }

  test("vec_dot matches the composable zip_with/aggregate form bit-for-bit") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf()).limit(50)
    val both = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.functions.VecFunctions.vecDot(col("a.embedding"), col("b.embedding")).as("native"),
        aggregate(zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("lambda"))
    assert(both.filter(col("native") =!= col("lambda")).count() == 0)
  }

  /** `marketByChannelFine` against the Scala fold over its channel rows, with
    * whole-stage codegen fallback off; returns the window count. */
  private def fineMatchesFold(events: org.apache.spark.sql.DataFrame, windowSec: Long,
      slideSec: Long): Int = withoutCodegenFallback {
    val rows = EventWindows.channelRows(events).select("channel", "behavior", "ts").collect().toSeq
    val fine = EventWindows.marketByChannelFine(events, windowSec, slideSec).collect()
      .map(r => (r.getLong(0), Seq[Any](r.getString(1), r.getString(2))) -> r.getLong(3))
    assert(fine.toMap.size == fine.length, "a window was emitted twice")
    assert(fine.toMap == SlidingCountsSpec.fold(rows, windowSec, slideSec))
    fine.length
  }

  test("fine-slide range-sum form == naive pane-explode sliding window") {
    // the naive reference is the per-event fold over every window an event
    // lies in (60 per event at 1 h / 1 min), not a pane explode in Spark
    assert(fineMatchesFold(Tables.events(spark, sf()), 3600, 60) > 0)
  }

  test("fine-slide runs the reference's ACTUAL 1 h / 1 s shape (3600 panes)") {
    import org.apache.spark.sql.functions._
    // The reference's AppMarketingByChannel slides 1 h windows every 1 s
    // (3600 panes/event under a pane-explode). The registered query is the
    // documented 1-min re-parameterization; this test runs the SAME
    // operator at the true 1 s slide. The sf events span 30 days, so they
    // are time-compressed 256× (span → ~2.8 h) while keeping their full key
    // diversity, and checked against the Scala fold at 1 h / 1 s.
    val raw = Tables.events(spark, sf())
    val minE = raw.agg(min(unix_timestamp(col("ts")))).head().getLong(0)
    val events = raw.withColumn("ts",
      timestamp_seconds(lit(minE) + (unix_timestamp(col("ts")) - minE) / 256))
    val windows = fineMatchesFold(events, 3600, 1)
    // the dense per-second series really materializes, without ever
    // exploding an event
    assert(windows > 100000, s"expected a dense 1 s pane series, got $windows")
  }

  test("synthetic marketing source emits well-formed rows") {
    val q = StreamJobs.syntheticMarketingSource(spark, rowsPerSecond = 500)
      .writeStream.format("memory").queryName("synth").outputMode("append").start()
    try {
      Thread.sleep(2500)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("synth")
    assert(rows.count() > 0)
    val bad = rows.filter(
      !org.apache.spark.sql.functions.col("behavior")
        .isin("BROWSE", "CLICK", "PURCHASE", "UNINSTALL") ||
        !org.apache.spark.sql.functions.col("channel")
          .isin("AppStore", "XiaomiStore", "HuaweiStore", "weibo", "wechat", "tieba"))
    assert(bad.count() == 0)
  }

  test("update-mode UV stream: final snapshot per window == batch approx UV") {
    val sample = Tables.events(spark, sf())
      .filter("ts < timestamp'2024-01-05 00:00:00'")
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val q = StreamJobs.uvHourlyRunningStream(ms.toDS().toDF())
      .writeStream.format("memory").queryName("uv_running").outputMode("update").start()
    val (b1, b2) = sample.splitAt(sample.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    // update mode re-emits a window each batch it changes: the LAST emission
    // per window must equal the batch aggregate over all data
    val df = spark.table("uv_running")
    val last = df.withColumn("seq", org.apache.spark.sql.functions.monotonically_increasing_id())
      .groupBy("window_start")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.col("uv_approx"),
        org.apache.spark.sql.functions.col("seq")).as("uv_approx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.EventWindows.uvHourlyApproxRaw(sample.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(last == batch)
    assert(batch.nonEmpty)
  }

  test("salted join is row-identical to the plain join") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sf()).selectExpr("event_id", "user_id", "value")
    val users = Tables.customer(spark, sf())
      .selectExpr("c_custkey AS user_id", "c_mktsegment")
    val plain = events.join(users, Seq("user_id"))
      .selectExpr("event_id", "user_id", "c_mktsegment").collect().toSet
    val salted = graft.ops.Skew.saltedJoin(events, users, "user_id",
      saltBy = col("event_id"), saltFactor = 8)
      .selectExpr("event_id", "user_id", "c_mktsegment").collect().toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("bucketed tables join without a shuffle exchange") {
    import graft.ops.Bucketing
    val events = Tables.events(spark, sf()).selectExpr("event_id", "user_id", "event_type")
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // dir survives — clear it so saveAsTable can recreate the location
    val loc = new java.io.File("spark-warehouse/events_bucketed")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(loc)
    }
    Bucketing.writeBucketed(events, "events_bucketed", "user_id", 4)
    val t = Bucketing.readTable(spark, "events_bucketed")
    // the session broadcasts on no estimate, so the plan shows the
    // bucketed (non-broadcast) path a large-large join takes at scale
    val joined = t.as("a").join(t.as("b"),
      org.apache.spark.sql.functions.col("a.user_id") ===
        org.apache.spark.sql.functions.col("b.user_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("sessionization: streaming session_window == batch") {
    val sample = Tables.events(spark, sf())
      .filter("ts < timestamp'2024-01-08 00:00:00'")
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val q = StreamJobs.sessionizeStream(ms.toDS().toDF())
      .writeStream.format("memory").queryName("sess_parity").outputMode("append").start()
    ms.addData(sample); q.processAllAvailable()
    val s1 = Event(-1L, Timestamp.valueOf("2024-06-01 00:00:00"), -1L, "click")
    ms.addData(Seq(s1)); q.processAllAvailable()
    ms.addData(Seq(s1.copy(event_id = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table("sess_parity")
      .filter("session_start < 1717200000").collect().toSet
    val batch = EventWindows.sessionizeCore(sample.toDF()).collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }
}
