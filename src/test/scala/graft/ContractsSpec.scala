package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The malformed-row contracts (FIXTURES.md §C2), pinned as unit tests so a
  * refactor cannot silently lose them between adversarial-gate runs:
  *
  *  - [[pipeline.Knn.validVecs]]: NULL / empty / all-zero / NaN-poisoned
  *    embeddings are excluded from every geometry operator. The NaN case is
  *    the trap: Spark SQL's `>` on doubles is the NaN-largest TOTAL order,
  *    so a bare `dot(v,v) > 0` gate PASSES a NaN vector.
  *  - [[C.nanNull]]: a NaN measure becomes NULL (excluded from sums), and
  *    never reaches an ANSI BIGINT/DECIMAL cast as NaN.
  *  - [[pipeline.Multimodal.extractFeatures]]: a NULL payload yields NULL
  *    features (Option fields), never NOT_NULL_ASSERT_VIOLATION.
  *  - event-time drop: timestamp-less rows take no part in windowed /
  *    time-ordered operators (checked end-to-end through uvHourlyBloom,
  *    whose manual distinct+count was the one UV variant that counted a
  *    NULL visitor).
  */
class ContractsSpec extends SparkSuite {

  private def vecDf(rows: Seq[(Long, Array[Float])]) = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v, 0) }),
      schema)
  }

  test("validVecs keeps exactly the non-null, non-empty, NaN-free, positive-norm vectors") {
    val rows = Seq(
      0L -> Array(1.0f, 2.0f), // valid
      1L -> null, // NULL embedding
      2L -> Array.empty[Float], // len 0
      3L -> Array(0.0f, 0.0f), // zero norm
      4L -> Array(Float.NaN, 0.5f), // NaN component
      5L -> Array(1e-30f, 0.0f), // tiny but positive double-accumulated norm
      6L -> Array(Float.PositiveInfinity, 0.5f)) // infinite norm
    val kept = pipeline.Knn.validVecs(vecDf(rows))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 5L))
  }

  test("Spark SQL '>' is the NaN-largest total order — the isnan conjunct is load-bearing") {
    import spark.implicits._
    // if this ever flips to false, validVecs' explicit isnan clause becomes
    // redundant (not wrong) — the gate's semantics must then be re-proven
    val r = Seq(Double.NaN).toDF("x").select(col("x") > 0.0).head().getBoolean(0)
    assert(r, "NaN > 0.0 expected TRUE under Spark SQL total ordering")
  }

  test("nanNull: non-finite measure -> NULL; finite values and NULL pass through") {
    import spark.implicits._
    val out = Seq(1.5, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("v").select(C.nanNull(col("v")).as("c")).collect()
    assert(out(0).getDouble(0) == 1.5)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0) && out(3).isNullAt(0))
    // the money path: the cast that kills the job on raw NaN/Inf is safe
    val cents = Seq(Double.NaN, Double.PositiveInfinity).toDF("v")
      .select(round(C.nanNull(col("v")) * 100).cast("long").as("c")).collect()
    assert(cents(0).isNullAt(0) && cents(1).isNullAt(0))
  }

  test("extractFeatures: NULL payload -> NULL features, not a crash") {
    import spark.implicits._
    val m = Seq(pipeline.Multimodal.MediaRow(7L, "image", null, 1, 1, 1)).toDS()
    val f = pipeline.Multimodal.extractFeatures(m).collect()(0)
    assert(f.media_id == 7L && f.kind == "image")
    assert(f.n_bytes.isEmpty && f.byte_mean.isEmpty &&
      f.first_byte.isEmpty && f.last_byte.isEmpty)
  }

  test("every geometry plan that scans embeddings parquet carries the validity gate") {
    // plan-level twin of the adversarial gate: a refactor that drops
    // validVecs from one operator would otherwise only fail on the next
    // adversarial-SF run, not per-commit. Queries whose final plan reads a
    // construction-time checkpoint (ExistingRDD) are gated upstream — the
    // gate ran when the materialized relation was built.
    val geometry = Seq(
      "dedup_embedding", "dedup_embedding_ann", "dedup_embedding_lsh",
      "dedup_semantic", "knn_cosine", "knn_ivf", "knn_ivf_trained",
      "knn_ball_query", "knn_incremental", "embedding_quantize",
      "knn_quantized", "label_centroids", "knn_ivf_adc", "knn_ivf_pq",
      "topic_clusters", "topic_purity", "knn_recall", "knn_recall_pq",
      "embedding_outliers", "embedding_pca", "pca_project")
    val offenders = geometry.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
      val scansParquet = p.contains("embeddings.parquet")
      val gated = p.contains("isnan(floatvecdot")
      if (scansParquet && !gated) Some(name) else None
    }
    assert(offenders.isEmpty, s"ungated embeddings scans in: $offenders")
  }

  test("event-time drop: a NULL-ts or NULL-user row never counts as a visitor") {
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("user_id", LongType)))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ev = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(t0, 1L), Row(t0, 2L), Row(null, 3L), Row(t0, null))),
      schema)
    val out = ops.EventWindows.uvHourlyBloom(ev).collect()
    assert(out.length == 1 && out(0).getLong(1) == 2L) // uv_exact: users 1, 2
  }

  test("tx_unmatched NULL-date contract: a row missing either date SURFACES as unmatched") {
    // FIXTURES C4: under three-valued logic a NULL o_orderdate made the
    // order vanish from Spark's max(in_window) while the oracle's NOT
    // EXISTS emitted it, and a NULL l_shipdate line was emitted by Spark
    // but dropped by the oracle's NOT(NULL). in_window is strictly boolean
    // now: malformed rows are flagged, never silently dropped.
    val t = java.sql.Timestamp.valueOf(_: String)
    val oSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderdate", TimestampType)))
    val lSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_shipdate", TimestampType)))
    val orders = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, t("2024-01-01 00:00:00")), // matched in-window
      Row(2L, null),                     // NULL order date -> unmatched
      Row(3L, t("2024-01-01 00:00:00"))  // has only a NULL-shipdate line
    )), oSchema)
    val lines = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 1, t("2024-01-03 00:00:00")), // in window
      Row(2L, 1, t("2024-01-03 00:00:00")), // order date NULL -> unmatched line
      Row(3L, 1, null)                      // NULL ship date -> unmatched line
    )), lSchema)
    val out = ops.OrderFlow.txUnmatched(orders, lines)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(
      ("unmatched_order", 2L), ("unmatched_order", 3L),
      ("unmatched_line", 2L), ("unmatched_line", 3L)))
  }

  test("epochSec floors like its DuckDB twin, also before 1970 and on a DATE") {
    val t0 = java.time.Instant.EPOCH
    val instants = Seq(-1000001L, -1000000L, -999999L, -1L, 0L, 1L, 999999L, 1000000L)
      .map(us => java.sql.Timestamp.from(t0.plusNanos(us * 1000L)))
    val schema = StructType(Seq(StructField("ts", TimestampType), StructField("d", DateType)))
    val rows = instants.map(Row(_, java.sql.Date.valueOf("1969-12-31"))) :+ Row(null, null)
    val out = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .select(C.epochSec(col("ts")), C.epochSec(col("d"))).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    // floor(epoch(ts)): -0.000001 s is second -1, not 0 as unix_timestamp gives
    val want = Seq(-2L, -1L, -1L, -1L, 0L, 0L, 0L, 1L).map(s => (Some(s), Some(-86400L))) :+
      ((None, None))
    assert(out.toSeq == want)
    // a day unit floors the same way: 1969-12-31 23:59:59 is in day -86400
    val lastSec = spark.range(1).select(timestamp_seconds(lit(-1L)).as("ts"))
    assert(lastSec.select(C.epochSec(col("ts"), 86400)).head.getLong(0) == -86400L)
  }

  test("day buckets floor before 1970: ad_blacklist, its reference adapter, the blacklist machine and the clicker days agree") {
    // clicks at 23:59:58 and 23:59:59 on 1969-12-31 share day -86400, so at
    // threshold 1 the second warns and the midnight click opens day 0;
    // truncating toward zero puts all three in day 0 and drops the third
    import spark.implicits._
    val ts = Seq(-2L, -1L, 0L).map(s => new java.sql.Timestamp(s * 1000))
    val want = Seq(("pass", -86400L, -2L), ("warn", -86400L, -1L), ("pass", 0L, 0L))
    val clicks = ts.zipWithIndex.map { case (t, i) => (i.toLong, t, 7L, "click", """{"k": 1}""") }
    // one purchase at 23:59:59: day -1 has both, day 0 only a click
    val events = (clicks :+ ((9L, ts(1), 7L, "purchase", "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
    assert(ops.FraudDetect.adBlacklist(events, threshold = 1).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4))).toSeq == want)
    val ref = jobs.ReferenceJobs.adBlacklist(events.where("event_type = 'click'")
        .selectExpr("user_id AS userId", "1L AS adId", "'p' AS province", "ts"), threshold = 1)
      .collect().map(r => (r.getString(0), r.getLong(4))).sortBy(_._2).toSeq
    assert(ref == Seq(("click", -2L), ("blacklist_warning", -1L), ("click", 0L)))
    val machine = streaming.StreamJobs.blacklistStream(
        clicks.map(c => (model.Event(c._1, c._2, c._3, c._4), 1L)).toDS(), threshold = 1)
      .collect().map(r => (r.side, r.day, r.click_ts)).sortBy(_._3).toSeq
    assert(machine == want)
    def days(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(days(ops.Tpch.clickersWhoPurchased(events)) == Seq((7L, -1L)))
    assert(days(ops.Tpch.clickersNeverPurchased(events)) == Seq((7L, 0L)))
  }

  test("hourly buckets floor before 1970: uvHourlyBloom and uvHourly agree at 23:59:59.5") {
    // -0.5 s: unix_timestamp truncates it to second 0 (bucket 0); window()
    // and the DuckDB twins floor it into the hour starting at -3600
    val schema = StructType(Seq(StructField("ts", TimestampType), StructField("user_id", LongType)))
    val ev = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:59.500Z")), 1L))), schema)
    val bloom = ops.EventWindows.uvHourlyBloom(ev).collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = ops.EventWindows.uvHourly(ev).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bloom.toSeq == Seq((-3600L, 1L)))
    assert(exact.toSeq == Seq((-3600L, 1L)))
  }

  test("collectBelow: rows iff fewer than the cap, the input's rows, never evaluated past the cap") {
    val cap = 5L
    // n = 0 is the empty input; three partitions so the limit spans them
    Seq(0L, cap - 1, cap, cap + 1).foreach { n =>
      val df = spark.range(0, n, 1, 3).toDF("id")
      val got = C.collectBelow(df, cap)
      if (n < cap)
        assert(got.map(_.map(_.getLong(0)).sorted.toSeq)
          .contains(df.collect().map(_.getLong(0)).sorted.toSeq), s"n=$n")
      else assert(got.isEmpty, s"n=$n")
    }
    // at or over the cap nothing past the cap-th row is computed: rows
    // beyond it raise if evaluated
    val overCap = spark.range(0, 3 * cap, 1, 1)
      .select(when(col("id") < cap, col("id")).otherwise(raise_error(lit("past the cap"))))
    assert(C.collectBelow(overCap, cap).isEmpty)
    // cap 0 takes the distributed branch even on empty input, and never
    // evaluates the input
    assert(C.collectBelow(spark.range(0).toDF(), 0L).isEmpty)
    assert(C.collectBelow(spark.range(3).select(raise_error(lit("evaluated"))), 0L).isEmpty)
  }
}
