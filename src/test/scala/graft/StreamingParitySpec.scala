package graft

import graft.model._
import graft.ops.{EventWindows, FraudDetect, OrderFlow}
import graft.streaming.StreamJobs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{DataFrame, Dataset}
import java.sql.Timestamp

/** Streaming ≡ batch on the same bounded data (SURVEY.md §5.3): the
  * reference replays files through its streaming dataflows; here the batch
  * forms are the DuckDB-checked ground truth and the Structured Streaming
  * forms must reproduce them on a replayed MemoryStream.
  */
class StreamingParitySpec extends SparkSuite {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** First 4 days of sf0.001 events as typed rows. */
  private lazy val sample: Seq[Event] = Tables.events(spark, sf())
    .filter("ts < timestamp'2024-01-05 00:00:00'")
    .selectExpr("event_id", "ts", "user_id", "event_type")
    .as[Event].collect().toSeq

  /** Sentinel far past the data so the watermark finalizes every window.
    * Typed `click` so no event_type filter drops it before the watermark
    * operator (Catalyst pushes filters below EventTimeWatermark); its own
    * far-future window is excluded from comparisons via [[noSentinel]].
    */
  private val sentinelSec: Long = Timestamp.valueOf("2024-06-01 00:00:00").getTime / 1000
  private def sentinel: Event =
    Event(-1L, Timestamp.valueOf("2024-06-01 00:00:00"), -1L, "click")
  private def noSentinel(df: DataFrame): DataFrame =
    df.filter(org.apache.spark.sql.functions.col("window_start") < sentinelSec)

  private def runStream(transform: DataFrame => DataFrame): DataFrame = {
    val ms = MemoryStream[Event]
    val name = s"t${System.nanoTime()}"
    val q = transform(ms.toDS().toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(sample)
    q.processAllAvailable()
    // append mode finalizes with the watermark computed at the *previous*
    // batch's end — two sentinel batches flush every window
    ms.addData(Seq(sentinel)); q.processAllAvailable()
    ms.addData(Seq(sentinel.copy(event_id = -3L))); q.processAllAvailable()
    q.stop()
    noSentinel(spark.table(name))
  }

  test("hourly exact UV: streaming dropDuplicates+count == batch countDistinct") {
    val batch = EventWindows.uvHourly(sample.toDF()).collect().toSet
    val stream = runStream(df => StreamJobs.uvHourlyStream(df)).collect().toSet
    assert(stream == batch)
  }

  test("stream-static join: province clicks streaming == batch") {
    val customer = Tables.customer(spark, sf())
    val nation = Tables.nation(spark, sf())
    val batch = EventWindows.adClicksByProvinceCore(sample.toDF(), customer, nation)
      .collect().toSet
    val stream = runStream(df =>
      StreamJobs.adClicksByProvinceStream(df, customer, nation)).collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("login-fail machine: streaming == batch lag form") {
    // full month of events — the 4-day slice has no consecutive same-user
    // failures; gap of 7 days guarantees matches on the sparse sf0.001 data
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val gap = 7L * 86400
    val ms = MemoryStream[Event]
    val name = "login_parity"
    val q = StreamJobs.loginFailStream(ms.toDS(), gapSec = gap)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // two batches: state must carry across micro-batches
    val (b1, b2) = full.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(full.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).as[LoginWarning].collect().toSet
    val batch = FraudDetect.loginFailConsecutive(full.toDF(), gapSec = gap)
      .as[LoginWarning].collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("order-timeout machine: streaming + flush == batch form") {
    val ms = MemoryStream[Event]
    val name = "order_parity"
    val q = StreamJobs.orderTimeoutStream(ms.toDS(), timeoutSec = 3600)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(sample); q.processAllAvailable()
    q.stop()
    val live = spark.table(name).as[OrderResult].collect().toSeq
    // finite-replay flush of never-paid orders (see MachinesSpec)
    val flushed = sample.groupBy(_.user_id).toSeq.flatMap { case (uid, evs) =>
      val open = evs.sortBy(e => (e.ts.getTime, e.event_id))
        .foldLeft(List.empty[(Long, Long)]) { (acc, e) =>
          e.event_type match {
            case "signup" => acc :+ (e.event_id -> e.ts.getTime / 1000)
            case "purchase" => Nil
            case _ => acc
          }
        }
      graft.state.Machines.orderFlush(uid, OrderState(open))
    }
    val stream = (live ++ flushed).map(r =>
      (r.order_id, r.user_id, r.create_ts, r.pay_ts, r.result_msg)).toSet
    val batch = OrderFlow.orderTimeout(sample.toDF()).collect().toSet[org.apache.spark.sql.Row]
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getString(4)))
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("O(1) state per key: login-fail and order-timeout state rows stay flat on a replayed backlog") {
    // the same users' events again, a month later: twice the events, same keys
    val shift = 30L * 86400 * 1000
    val maxId = sample.map(_.event_id).max
    val replay = sample.map(e =>
      e.copy(event_id = e.event_id + maxId + 1, ts = new Timestamp(e.ts.getTime + shift)))
    type Job = Dataset[Event] => Dataset[_]
    def stateRows(job: Job, batches: Seq[Seq[Event]]): Long = {
      val ms = MemoryStream[Event]
      val q = job(ms.toDS()).writeStream.format("noop").outputMode("append").start()
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      q.stop()
      q.recentProgress.filter(_.stateOperators.nonEmpty).last.stateOperators.map(_.numRowsTotal).sum
    }
    val users = sample.map(_.user_id).distinct.size
    for ((name, job) <- Seq[(String, Job)](
        "loginFailStream" -> (StreamJobs.loginFailStream(_, gapSec = 3600)),
        "orderTimeoutStream" -> (StreamJobs.orderTimeoutStream(_, timeoutSec = 3600)))) {
      val once = stateRows(job, Seq(sample))
      assert(once == users, name)
      assert(stateRows(job, Seq(sample, replay)) == once, name)
    }
  }

  test("as-of join machine: streaming last-touch == batch window form") {
    import graft.ops.AsOf
    // full month: the 4-day slice has few click->purchase sequences
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "asof_parity"
    val q = StreamJobs.purchaseAttributionStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // split on the machine's own order so cross-batch state carry is what
    // bridges equal-ts tie groups, not lucky batch boundaries
    val (b1, b2) = full
      .sortBy(e => (e.ts.getTime, if (e.event_type == "click") 0 else 1, e.event_id))
      .splitAt(full.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).as[AttributionRow].collect()
      .map(r => (r.purchase_id, r.user_id, r.purchase_ts, r.click_id, r.click_ts)).toSet
    val batch = AsOf.purchaseAttribution(full.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
    // both tie rules must actually occur in the data for this test to prove
    // anything: some purchase with a click, some without
    assert(batch.exists(_._4.isDefined) && batch.exists(_._4.isEmpty))
  }

  test("stream-stream full-outer join: unmatched sides == batch anti-join") {
    import org.apache.spark.sql.functions.{col, expr}
    val creates = MemoryStream[Event]
    val pays = MemoryStream[Event]
    val name = "tx_outer_parity"
    val q = StreamJobs.txMatchOuterStream(
        creates.toDS().toDF(), pays.toDS().toDF(), timeoutSec = 3600)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val signups = sample.filter(_.event_type == "signup")
    val purchases = sample.filter(_.event_type == "purchase")
    creates.addData(signups); pays.addData(purchases)
    q.processAllAvailable()
    // sentinels on distinct users so they match nothing; two rounds flush
    // the outer-join state once the watermark passes the interval bound
    creates.addData(Seq(sentinel.copy(user_id = -8L)))
    pays.addData(Seq(sentinel.copy(event_id = -2L, user_id = -9L)))
    q.processAllAvailable()
    creates.addData(Seq(sentinel.copy(event_id = -3L, user_id = -8L)))
    pays.addData(Seq(sentinel.copy(event_id = -4L, user_id = -9L)))
    q.processAllAvailable()
    q.stop()
    // sentinels carry negative user ids; real users include user_id = 0
    val out = spark.table(name).filter(col("user_id") >= 0)

    val c = signups.toDF().selectExpr("event_id AS order_id", "user_id AS c_user", "ts AS c_ts")
    val p = purchases.toDF().selectExpr("event_id AS pay_id", "user_id AS p_user", "ts AS p_ts")
    val joinCond = expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 3600 seconds")
    val batchUnmatchedCreates = c.join(p, joinCond, "left_anti")
      .selectExpr("order_id").collect().map(_.getLong(0)).toSet
    val batchUnmatchedPays = p.join(c, joinCond, "left_anti")
      .selectExpr("pay_id").collect().map(_.getLong(0)).toSet
    val streamUnmatchedCreates = out.filter(col("side") === "unmatched_create")
      .select("order_id").collect().map(_.getLong(0)).toSet
    val streamUnmatchedPays = out.filter(col("side") === "unmatched_pay")
      .select("pay_id").collect().map(_.getLong(0)).toSet
    assert(streamUnmatchedCreates == batchUnmatchedCreates)
    assert(streamUnmatchedPays == batchUnmatchedPays)
    assert(batchUnmatchedCreates.nonEmpty && batchUnmatchedPays.nonEmpty)
    // matched rows agree with the inner interval join
    val batchMatched = c.join(p, joinCond)
      .selectExpr("order_id", "pay_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamMatched = out.filter(col("side") === "matched")
      .select("order_id", "pay_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamMatched == batchMatched)
  }

  test("late rows: numRowsDroppedByWatermark counts the late rows that reach the stateful operator; output == batch over the on-time rows") {
    // the first day's events twice more under new ids, fed after the
    // sentinel has moved the watermark months past them
    val maxId = sample.map(_.event_id).max
    val late = (1 to 2).flatMap(k =>
      sample.filter(_.ts.before(Timestamp.valueOf("2024-01-02 00:00:00")))
        .map(e => e.copy(event_id = e.event_id + k * (maxId + 1))))
    val txSides = (es: Seq[Event]) =>
      Seq(es.filter(_.event_type == "signup"), es.filter(_.event_type == "purchase"))
    case class Case(name: String, route: Seq[Event] => Seq[Seq[Event]],
        sentinels: Seq[Seq[Event]], job: Seq[DataFrame] => DataFrame,
        keep: DataFrame => DataFrame, reaching: Long)
    val cases = Seq(
      // the click filter runs below the watermark, and the partial
      // aggregate folds the late clicks to one row per hour window
      Case("pvHourlyStream", Seq(_), Seq(Seq(sentinel)),
        in => StreamJobs.pvHourlyStream(in.head), noSentinel,
        late.filter(_.event_type == "click").map(e => Math.floorDiv(e.ts.getTime, 3600000L))
          .distinct.size.toLong),
      // the join drops each late create and pay on its own; the sentinels
      // carry negative users, so they match nothing
      Case("txMatchOuterStream", txSides,
        Seq(Seq(sentinel.copy(user_id = -8L)), Seq(sentinel.copy(event_id = -2L, user_id = -9L))),
        in => StreamJobs.txMatchOuterStream(in(0), in(1), timeoutSec = 3600),
        _.filter("user_id >= 0"), txSides(late).map(_.size).sum.toLong))
    for (c <- cases) {
      val streams = c.sentinels.map(_ => MemoryStream[Event])
      val name = s"late_${c.name}"
      val q = c.job(streams.map(_.toDS().toDF()))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      for (batch <- Seq(c.route(sample), c.sentinels, c.route(late))) {
        streams.zip(batch).foreach { case (ms, rows) => ms.addData(rows) }
        q.processAllAvailable()
      }
      q.stop()
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(c.reaching > 0 && dropped == c.reaching, c.name)
      val batch = c.keep(c.job(c.route(sample).map(_.toDF()))).collect().toSet
      assert(batch.nonEmpty && c.keep(spark.table(name)).collect().toSet == batch, c.name)
    }
  }

  test("assembled HotItems job: foreachBatch sink contents == batch top-N") {
    import org.apache.spark.sql.functions.col
    // hotItemEvents derives item_id from props.k — replay rows with props
    val sampleP: Seq[(Long, Timestamp, Long, String, String)] = Tables.events(spark, sf())
      .filter("ts < timestamp'2024-01-05 00:00:00'")
      .selectExpr("event_id", "ts", "user_id", "event_type", "props")
      .as[(Long, Timestamp, Long, String, String)].collect().toSeq
    val ms = MemoryStream[(Long, Timestamp, Long, String, String)]
    def toEvents(df: DataFrame): DataFrame =
      df.toDF("event_id", "ts", "user_id", "event_type", "props")
    val sink = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = StreamJobs.hotItemsTopNJob(toEvents(ms.toDS().toDF()), n = 3) { ranked =>
      sink.synchronized { sink ++= ranked.collect() }
    }
    val sentinelP = (-1L, sentinel.ts, -1L, "click", """{"k":1}""")
    ms.addData(sampleP); q.processAllAvailable()
    ms.addData(Seq(sentinelP)); q.processAllAvailable()
    ms.addData(Seq(sentinelP.copy(_1 = -3L))); q.processAllAvailable()
    q.stop()
    val stream = sink.synchronized {
      sink.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 < sentinelSec).toSet
    }
    val batch = graft.ops.TopN.hotItems(toEvents(sampleP.toDF()))
      .select(col("window_start"), col("item_id"), col("cnt"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("fine-slide stream == batch pre-agg + range-sum form") {
    import org.apache.spark.sql.functions.col
    // events need props for the channel key — replay with props attached
    val sampleP = Tables.events(spark, sf())
      .filter("ts < timestamp'2024-01-05 00:00:00'")
      .selectExpr("event_id", "ts", "user_id", "event_type", "props")
      .as[(Long, Timestamp, Long, String, String)].collect().toSeq
    val ms = MemoryStream[(Long, Timestamp, Long, String, String)]
    val name = "fine_parity"
    val q = StreamJobs.marketByChannelFineStream(
        ms.toDS().toDF("event_id", "ts", "user_id", "event_type", "props"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val sentinelP = (-1L, sentinel.ts, -1L, "click", """{"k":1}""")
    ms.addData(sampleP); q.processAllAvailable()
    ms.addData(Seq(sentinelP)); q.processAllAvailable()
    ms.addData(Seq(sentinelP.copy(_1 = -3L))); q.processAllAvailable()
    q.stop()
    val stream = noSentinel(spark.table(name)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val batch = graft.ops.EventWindows.marketByChannelFine(
        sampleP.toDF("event_id", "ts", "user_id", "event_type", "props"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("checkpointed restart: windowed agg resumes with no loss or duplication") {
    import org.apache.spark.sql.functions.col
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString
    val ms = MemoryStream[Event]
    def start() = StreamJobs.pvHourlyStream(ms.toDS().toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val ordered = sample.sortBy(e => (e.ts.getTime, e.event_id))
    val (h1, h2) = ordered.splitAt(ordered.size / 2)
    val q1 = start()
    ms.addData(h1); q1.processAllAvailable()
    q1.stop() // crash point: offsets + window state live in the checkpoint
    val q2 = start()
    ms.addData(h2); q2.processAllAvailable()
    ms.addData(Seq(sentinel)); q2.processAllAvailable()
    ms.addData(Seq(sentinel.copy(event_id = -3L))); q2.processAllAvailable()
    q2.stop()
    val got = noSentinel(spark.read.parquet(out)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = EventWindows.pvHourlyCore(sample.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == batch.sorted) // set AND multiset equality: no dups
    assert(batch.nonEmpty)
  }

  test("streaming exact dedup: first doc per content hash survives, dups drop") {
    import org.apache.spark.sql.functions.col
    val texts = Seq("alpha beta", "gamma", "alpha beta", "delta", "gamma", "alpha beta")
    val rows: Seq[(Long, Timestamp, String)] = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 1000L), t)
    }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = "dedup_stream"
    val q = StreamJobs.dedupExactStream(ms.toDS().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(rows)
    q.processAllAvailable()
    q.stop()
    val kept = spark.table(name).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // first arrival per distinct text: doc 0 (alpha beta), 1 (gamma), 3 (delta)
    assert(kept == Set((0L, "alpha beta"), (1L, "gamma"), (3L, "delta")))
  }

  test("stateless pipeline transforms: pii redaction + stratified sample run unchanged on a stream") {
    val docRows: Seq[(Long, String, String)] = Tables.documents(spark, sf())
      .selectExpr("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toSeq
    def run(transform: DataFrame => DataFrame): Set[Seq[Any]] = {
      val ms = MemoryStream[(Long, String, String)]
      val name = s"p${System.nanoTime()}"
      val q = transform(ms.toDS().toDF("doc_id", "text", "lang"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val (b1, b2) = docRows.splitAt(docRows.size / 2)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      q.stop()
      spark.table(name).collect().map(_.toSeq).toSet
    }
    val piiStream = run(StreamJobs.piiRedactStream)
    val piiBatch = graft.pipeline.TextAnalysis.piiRedact(
      Tables.documents(spark, sf())).collect().map(_.toSeq).toSet
    assert(piiStream == piiBatch && piiBatch.nonEmpty)
    val stratStream = run(StreamJobs.sampleStratifiedStream)
    val stratBatch = graft.pipeline.Curation.sampleStratified(
      Tables.documents(spark, sf())).collect().map(_.toSeq).toSet
    assert(stratStream == stratBatch && stratBatch.nonEmpty)
    val repStream = run(StreamJobs.docRepetitionStream)
    val repBatch = graft.pipeline.TextAnalysis.docRepetition(
      Tables.documents(spark, sf())).collect().map(_.toSeq).toSet
    assert(repStream == repBatch && repBatch.nonEmpty)
    val chunkStream = run(StreamJobs.docChunksStream)
    val chunkBatch = graft.pipeline.TextAnalysis.docChunks(
      Tables.documents(spark, sf())).collect().map(_.toSeq).toSet
    assert(chunkStream == chunkBatch && chunkBatch.nonEmpty)
  }

  test("streaming radius search against the static ball index == batch ball query") {
    val embs = Tables.embeddings(spark, sf())
    val (cents, assigned) = graft.pipeline.Knn.ballServingIndex(embs)
    val c = cents.localCheckpoint(true)
    val a = assigned.localCheckpoint(true)
    val queries: Seq[(Long, Array[Float])] = embs
      .filter("vec_id < 8").selectExpr("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Float])]
    val name = "ball_parity"
    val q = StreamJobs.ballQueryStream(ms.toDS().toDF("vec_id", "embedding"), c, a)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = queries.splitAt(queries.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Knn.ballQuery(embs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming IVF ingestion: bucket assignments match the batch index") {
    val embs = Tables.embeddings(spark, sf())
    val centroids = graft.pipeline.Knn.trainCentroids(embs)
    val rows: Seq[(Long, Array[Float])] = embs.selectExpr("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Float])]
    val name = "ivf_ingest"
    val q = StreamJobs.ivfAssignStream(
      ms.toDS().toDF("vec_id", "embedding"), centroids)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.pipeline.Knn.ivfAssign(embs, centroids).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch && batch.size == rows.size)
  }

  test("streaming JL projection: projected values match batch bit-for-bit") {
    val embs = Tables.embeddings(spark, sf())
    val rows: Seq[(Long, Array[Float])] = embs.selectExpr("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Float])]
    val name = "jl_stream"
    val q = StreamJobs.jlProjectStream(ms.toDS().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = graft.pipeline.Knn.jlProject(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed == batch && batch.size == rows.size * graft.pipeline.Knn.JlDim)
  }

  test("checkpointed restart: dedup keep-first state survives, dups still drop") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_dout").toString
    val ms = MemoryStream[(Long, Timestamp, String)]
    def start() = StreamJobs.dedupExactStream(ms.toDS().toDF("doc_id", "ts", "text"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def row(id: Long, s: String) = (id, new Timestamp(t0 + id * 1000), s)
    val q1 = start()
    ms.addData(Seq(row(0, "alpha"), row(1, "beta"), row(2, "alpha")))
    q1.processAllAvailable()
    q1.stop() // crash point: per-hash state lives in the checkpoint
    val q2 = start()
    // post-restart duplicates of pre-crash content MUST still drop —
    // this fails if the dedup state did not survive the restart
    ms.addData(Seq(row(3, "alpha"), row(4, "gamma"), row(5, "beta")))
    q2.processAllAvailable()
    q2.stop()
    val kept = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 4L))
  }

  test("rate-anomaly-to-KV maintenance: stored counts and spike flags == batch screen") {
    import graft.streaming.{KvStateSink, KvStores}
    val store = s"ratekv${System.nanoTime()}"
    val full: Seq[Event] = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val q = KvStateSink.rateAnomalyToKvJob(ms.toDS().toDF(), store)
    val ordered = full.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    ms.addData(Seq(sentinel)); q.processAllAvailable()
    ms.addData(Seq(sentinel.copy(event_id = -3L))); q.processAllAvailable()
    q.stop()
    val kv = KvStores(store)
    val batch = graft.ops.EventWindows.eventRateAnomaly(full.toDF()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val sentinelHour = sentinelSec / 3600 * 3600
    val storedHours = kv.keys("rate:count:")
      .map(_.stripPrefix("rate:count:").toLong).filter(_ < sentinelHour)
    assert(storedHours.toSet == batch.keySet)
    storedHours.foreach { h =>
      val (n, spike) = batch(h)
      assert(new String(kv.get(s"rate:count:$h").get, "UTF-8").toLong == n, s"count $h")
      assert(new String(kv.get(s"rate:spike:$h").get, "UTF-8").toLong == spike, s"spike $h")
    }
    assert(batch.nonEmpty)
    KvStores.drop(store)
  }

  test("checkpointed restart: funnel state survives, steps complete across the crash") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_fout").toString
    val ms = MemoryStream[Event]
    def start() = StreamJobs.eventFunnelStream(ms.toDS())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, user: Long, t: String, offSec: Long) =
      Event(id, new Timestamp(t0 + offSec * 1000), user, t)
    val q1 = start()
    // pre-crash: user 1 opens the funnel (view) and clicks
    ms.addData(Seq(ev(0, 1, "view", 0), ev(1, 1, "click", 10)))
    q1.processAllAvailable()
    q1.stop() // crash point: (t1, t2) lives in the checkpointed state
    val q2 = start()
    // post-restart: the purchase must chain onto the PRE-CRASH click (step 3),
    // a second view must NOT re-open the funnel (t1 already set)
    ms.addData(Seq(ev(2, 1, "purchase", 20), ev(3, 1, "view", 30)))
    q2.processAllAvailable()
    q2.stop()
    val advances = spark.read.parquet(out).as[FunnelAdvance].collect()
      .map(a => (a.step, a.at_ts)).sorted.toSeq
    val base = t0 / 1000
    assert(advances == Seq((1L, base), (2L, base + 10), (3L, base + 20)))
  }

  test("streaming CMS sketch: per-window bytes identical to batch-built sketch") {
    import org.apache.spark.sql.functions.{col, window, unix_timestamp}
    val sampleP: Seq[(Long, Timestamp, Long, String, String)] = Tables.events(spark, sf())
      .filter("ts < timestamp'2024-01-05 00:00:00'")
      .selectExpr("event_id", "ts", "user_id", "event_type", "props")
      .as[(Long, Timestamp, Long, String, String)].collect().toSeq
    val ms = MemoryStream[(Long, Timestamp, Long, String, String)]
    val name = "cms_stream"
    val q = StreamJobs.hotItemsSketchStream(
      ms.toDS().toDF("event_id", "ts", "user_id", "event_type", "props"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = sampleP.sortBy(_._2.getTime).splitAt(sampleP.size / 2)
    val sentinelP = (-1L, sentinel.ts, -1L, "click", """{"k":1}""")
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    ms.addData(Seq(sentinelP)); q.processAllAvailable()
    ms.addData(Seq(sentinelP.copy(_1 = -3L))); q.processAllAvailable()
    q.stop()
    val streamed = noSentinel(spark.table(name)).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    // batch twin: identical projection + per-window CMS aggregate
    val batch = sampleP.toDF("event_id", "ts", "user_id", "event_type", "props")
      .filter(col("event_type") === "click")
      .select(col("ts"), graft.C.propsK(col("props")).as("item_id"))
      .filter(col("item_id").isNotNull)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.agg.HeavyHitters.cmsAgg(col("item_id")).as("sketch"))
      .select(unix_timestamp(col("w.start")).as("window_start"), col("sketch"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(streamed.keySet == batch.keySet)
    assert(streamed.nonEmpty)
    streamed.foreach { case (w, bytes) =>
      assert(bytes == batch(w), s"sketch bytes differ for window $w")
    }
  }

  test("streaming curation funnel: survivors match the batch keep-list") {
    import org.apache.spark.sql.functions.col
    // append NULL-text and one-token docs: both engines must agree that
    // "no repetition evidence" means keep (parity bug class caught in
    // round-5 review: NULL propagation turned keep into drop on the
    // stream side only)
    val docsDf = Tables.documents(spark, sf()).select("doc_id", "text")
      .unionAll(Seq((900001L, null: String), (900002L, "solo"))
        .toDF("doc_id", "text"))
    val docRows: Seq[(Long, Timestamp, String)] = docsDf
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toSeq
      .sortBy(_._1) // arrival order = id order, so first-arrival == min-id
      .map { case (id, t) =>
        (id, new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + id * 1000L), t)
      }
    val evalHashes = graft.pipeline.Dedup.shingleHashes(docsDf)
      .filter(col("doc_id") % 53 === 0).select("h0")
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = "curate_stream"
    val q = StreamJobs.curatePipelineStream(
      ms.toDS().toDF("doc_id", "ts", "text"), evalHashes)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(docRows)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.pipeline.Curation.curatePipeline(docsDf)
      .filter(col("keep") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, s"stream-only=${(streamed -- batch).take(5)} batch-only=${(batch -- streamed).take(5)}")
    assert(batch.nonEmpty)
  }

  test("Kafka value path: streaming CSV lines parse through the reference schema") {
    import graft.sources.ReferenceData
    // broker-less stand-in for the Kafka value column: the same string-typed
    // `value` DataFrame kafkaCsvSource builds after its cast
    val lines = MemoryStream[String]
    val name = "kafka_parse"
    val q = ReferenceData.parseCsvLines(lines.toDS().toDF(), ReferenceData.userBehaviorSchema)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    lines.addData(Seq(
      "543462,1715,1464116,pv,1511658000",
      " 662867 , 2244074 , 1575622 , buy , 1511658060 "))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .selectExpr("userId", "itemId", "behavior", "unix_timestamp(ts)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(rows == Set(
      (543462L, 1715L, "pv", 1511658000L),
      (662867L, 2244074L, "buy", 1511658060L)))
  }

  test("generic CEP nextPattern machine: streaming == batch window form") {
    // full month + 7-day gap, same regime as the login-fail parity test
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val gap = 7L * 86400
    val ms = MemoryStream[Event]
    val name = "cep_next_parity"
    val q = StreamJobs.cepNextStream(ms.toDS(),
        Seq(_.event_type == "error", _.event_type == "error"), gap)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // two batches: the n−1 event lookback must survive the batch boundary
    val (b1, b2) = full.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(full.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).as[CepMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1))).toSet
    val batch = graft.ops.Cep.nextPattern(full.toDF(),
        Seq(graft.ops.Cep.typeIs("a", "error"), graft.ops.Cep.typeIs("b", "error")), gap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("generic CEP followedBy machine: streaming == batch window form") {
    val ms = MemoryStream[Event]
    val name = "cep_follow_parity"
    val q = StreamJobs.cepFollowedByStream(ms.toDS(),
        _.event_type == "signup", _.event_type == "purchase", 7200L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val ordered = sample.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).as[CepMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1))).toSet
    val batch = graft.ops.Cep.signupThenPurchase(sample.toDF(), 7200L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join emits matched create/pay pairs") {
    val creates = MemoryStream[Event]
    val pays = MemoryStream[Event]
    val name = "tx_parity"
    val q = StreamJobs.txMatchStream(creates.toDS().toDF(), pays.toDS().toDF(), timeoutSec = 3600)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val signups = sample.filter(_.event_type == "signup")
    val purchases = sample.filter(_.event_type == "purchase")
    creates.addData(signups); pays.addData(purchases)
    q.processAllAvailable()
    // pay-side sentinel gets a different user so the two sentinels never join
    creates.addData(Seq(sentinel)); pays.addData(Seq(sentinel.copy(event_id = -2L, user_id = -9L)))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table(name)
      .select("order_id", "user_id", "create_ts", "pay_ts").collect().toSet
    // batch twin: plain join with the same interval condition
    val c = signups.toDF().selectExpr("event_id AS order_id", "user_id AS c_user", "ts AS c_ts")
    val p = purchases.toDF().selectExpr("user_id AS p_user", "ts AS p_ts")
    val batch = c.join(p,
        org.apache.spark.sql.functions.expr(
          "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 3600 seconds"))
      .selectExpr("order_id", "c_user AS user_id",
        "unix_timestamp(c_ts) AS create_ts", "unix_timestamp(p_ts) AS pay_ts")
      .collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("streaming LM scoring against the batch-trained model == batch scores") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val model = graft.pipeline.TextAnalysis.lmSurprisalModel(docs).cache()
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String)] = docs.selectExpr("doc_id", "text")
      .as[(Long, String)].collect().toSeq
      .map { case (id, text) => (id, new Timestamp(base + id * 1000L), text) }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = s"lm${System.nanoTime()}"
    val q = StreamJobs.docLmScoreStream(ms.toDS().toDF("doc_id", "ts", "text"), model)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    // two far-future sentinels advance the watermark past every document
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.TextAnalysis.docLmScore(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
    model.unpersist()
  }

  test("streaming PMI scoring against the batch-fit collocation model == batch scores") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val model = graft.pipeline.TextAnalysis.pmiModel(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String)] = docs.selectExpr("doc_id", "text")
      .as[(Long, String)].collect().toSeq
      .map { case (id, text) => (id, new Timestamp(base + id * 1000L), text) }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = s"pmi${System.nanoTime()}"
    val q = StreamJobs.docPmiScoreStream(ms.toDS().toDF("doc_id", "ts", "text"), model)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.TextAnalysis.docPmiScore(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming NB classification against the batch-trained model == batch confusion matrix") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val (model, priors) = graft.pipeline.Classify.nbModelAndPriors(docs)
    val m = model.localCheckpoint(true); val p = priors.localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String, String)] =
      docs.selectExpr("doc_id", "text", "lang").as[(Long, String, String)].collect().toSeq
        .map { case (id, text, lang) => (id, new Timestamp(base + id * 1000L), text, lang) }
    val ms = MemoryStream[(Long, Timestamp, String, String)]
    val name = s"nb${System.nanoTime()}"
    val q = StreamJobs.nbClassifyStream(
        ms.toDS().toDF("doc_id", "ts", "text", "lang"), m, p)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x", "en")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    // fold the streamed per-doc predictions into the confusion matrix the
    // batch query emits (actual lang joined back from the corpus)
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"))
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Classify.nbLangConfusion(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming DSIR scoring against the batch-trained lambda == batch selection") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val lam = graft.pipeline.Curation.dsirLambda(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // the streaming scorer sees only the pool (lang != target), as batch
    val rows: Seq[(Long, Timestamp, String)] =
      docs.filter(col("lang") =!= "en").selectExpr("doc_id", "text")
        .as[(Long, String)].collect().toSeq
        .map { case (id, text) => (id, new Timestamp(base + id * 1000L), text) }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = s"dsir${System.nanoTime()}"
    val q = StreamJobs.dsirScoreStream(ms.toDS().toDF("doc_id", "ts", "text"), lam)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    // streamed weights, ranked exactly like the batch top-K selection
    val streamTop = spark.table(name).filter(col("doc_id") >= 0)
      .orderBy(col("logw_fp").desc, col("doc_id"))
      .limit(graft.pipeline.Curation.DsirK)
      .select(col("doc_id"), col("n_feats"), col("logw_fp"))
      .collect().map(_.toSeq)
    val batch = graft.pipeline.Curation.dsirSelect(docs)
      .select(col("doc_id"), col("n_feats"), col("logw_fp"))
      .collect().map(_.toSeq)
    assert(streamTop.toSeq == batch.toSeq && batch.nonEmpty)
  }

  test("streaming near-dup detection against the static LSH index == batch pairs") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val idx = graft.pipeline.Dedup.nearDupBandIndex(docs).localCheckpoint(true)
    val sets = graft.pipeline.Dedup.nearDupShingleSets(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String)] = docs.selectExpr("doc_id", "text")
      .as[(Long, String)].collect().toSeq
      .map { case (id, text) => (id, new Timestamp(base + id * 1000L), text) }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = s"neardup${System.nanoTime()}"
    val q = StreamJobs.nearDupStream(ms.toDS().toDF("doc_id", "ts", "text"), idx, sets)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x x x x")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    // alert-stream set semantics: a pair may fire once per colliding band
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .collect().map(_.toSeq).toSet
    // expected: every batch dedup pair, seen from both ends
    val pairs = graft.pipeline.Dedup.dedupMinhashLsh(docs).collect()
    val batch = pairs.flatMap { r =>
      Seq(Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)),
        Seq(r.getLong(1), r.getLong(0), r.getLong(2), r.getDouble(3)))
    }.toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming BM25 scoring against the static model == batch per-doc scores") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val model = graft.pipeline.Search.bm25Model(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String)] = docs.selectExpr("doc_id", "text")
      .as[(Long, String)].collect().toSeq
      .map { case (id, text) => (id, new Timestamp(base + id * 1000L), text) }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = s"bm25${System.nanoTime()}"
    val q = StreamJobs.bm25ScoreStream(ms.toDS().toDF("doc_id", "ts", "text"), model)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Search.bm25Scores(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming CCNet bucketing against the static thresholds == batch partition") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val model = graft.pipeline.TextAnalysis.lmSurprisalModel(docs).localCheckpoint(true)
    val th = graft.pipeline.TextAnalysis.ccnetThresholds(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String)] = docs.selectExpr("doc_id", "text")
      .as[(Long, String)].collect().toSeq
      .map { case (id, text) => (id, new Timestamp(base + id * 1000L), text) }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = s"ccnet${System.nanoTime()}"
    val q = StreamJobs.ccnetBucketStream(ms.toDS().toDF("doc_id", "ts", "text"), model, th)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.TextAnalysis.ccnetBuckets(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming substring span report against the batch dup-gram set == batch") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val dup = graft.pipeline.Dedup.substrDupHashes(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String, Long)] =
      docs.selectExpr("doc_id", "text", "n_chars").as[(Long, String, Long)].collect().toSeq
        .map { case (id, text, nc) => (id, new Timestamp(base + id * 1000L), text, nc) }
    val ms = MemoryStream[(Long, Timestamp, String, Long)]
    val name = s"sub${System.nanoTime()}"
    val q = StreamJobs.dedupSubstringStream(
        ms.toDS().toDF("doc_id", "ts", "text", "n_chars"), dup)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x", 1L)
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Dedup.dedupSubstring(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming percentile calibration against the batch-fit table == batch") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val table = graft.pipeline.Curation.qualityCalibrationTable(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String, String)] =
      docs.selectExpr("doc_id", "lang", "text").as[(Long, String, String)].collect().toSeq
        .map { case (id, lang, text) => (id, new Timestamp(base + id * 1000L), lang, text) }
    val ms = MemoryStream[(Long, Timestamp, String, String)]
    val name = s"cal${System.nanoTime()}"
    val q = StreamJobs.qualityCalibrateStream(
        ms.toDS().toDF("doc_id", "ts", "lang", "text"), table)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(rows); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Curation.qualityCalibrate(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming topic report against static centroids == batch topic_clusters") {
    import org.apache.spark.sql.functions.col
    val embs = Tables.embeddings(spark, sf())
    val cents = graft.pipeline.Knn
      .trainCentroids(embs, graft.pipeline.Knn.TopicK).localCheckpoint(true)
    // one shared event time: the corpus IS the window, as in the batch
    // corpus-global report
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows: Seq[(Long, Timestamp, Seq[Float], Long)] =
      embs.selectExpr("vec_id", "embedding", "CAST(label AS BIGINT)")
        .as[(Long, Seq[Float], Long)].collect().toSeq
        .map { case (id, emb, label) => (id, ts, emb, label) }
    val ms = MemoryStream[(Long, Timestamp, Seq[Float], Long)]
    val name = s"topic${System.nanoTime()}"
    val q = StreamJobs.topicReportStream(
        ms.toDS().toDF("vec_id", "ts", "embedding", "label"), cents)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"),
      rows.head._3, 0L)
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("n_vecs") > 2) // drop sentinel groups
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Knn.topicClusters(embs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming semantic dedup against the static reference index == batch pair degrees") {
    import org.apache.spark.sql.functions.{col, explode, array, struct, count, min, lit}
    val embs = Tables.embeddings(spark, sf())
    val K = graft.pipeline.Knn.TopicK
    val cents = graft.pipeline.Knn.trainCentroids(embs, K).localCheckpoint(true)
    val idx = graft.pipeline.Knn.semanticIndex(embs, cents).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, Seq[Float])] =
      embs.selectExpr("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
        .map { case (id, emb) => (id, new Timestamp(base + id * 1000L), emb) }
    val ms = MemoryStream[(Long, Timestamp, Seq[Float])]
    val name = s"sem${System.nanoTime()}"
    val q = StreamJobs.semanticDedupStream(
        ms.toDS().toDF("vec_id", "ts", "embedding"), cents, idx)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), rows.head._3)
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("vec_id") >= 0)
      .collect().map(_.toSeq).toSet
    // batch ground truth: per-vector near-dup degree and first partner
    // from the oracle-checked within-cluster pair relation
    val pairs = graft.pipeline.Knn.semanticPairsFrom(idx)
    val batch = pairs
      .select(explode(array(
        struct(col("id_a").as("v"), col("id_b").as("u")),
        struct(col("id_b").as("v"), col("id_a").as("u")))).as("e"))
      .select(col("e.v").as("vec_id"), col("e.u").as("u"))
      .join(idx.select(col("vec_id"), col("cluster")), Seq("vec_id"))
      .groupBy(col("vec_id"), col("cluster"))
      .agg(count(lit(1)).as("n_dups"), min(col("u")).as("first_dup"))
      .collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming boilerplate strip against the batch block counts == batch rewrite") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    val counts = graft.pipeline.TextAnalysis.boilerplateBlockCounts(docs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, String)] =
      docs.selectExpr("doc_id", "text").as[(Long, String)].collect().toSeq
        .map { case (id, text) => (id, new Timestamp(base + id * 1000L), text) }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val name = s"bp${System.nanoTime()}"
    val q = StreamJobs.boilerplateStripStream(
        ms.toDS().toDF("doc_id", "ts", "text"), counts)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), "x")
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("doc_id") >= 0)
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.TextAnalysis.boilerplateStrip(docs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
    // the rule actually fires on this corpus
    assert(graft.pipeline.TextAnalysis.boilerplateStrip(docs)
      .filter(col("n_dropped") > 0).count() > 0)
  }

  test("streaming PCA projection against the batch-fit direction == batch") {
    import org.apache.spark.sql.functions.col
    val embs = Tables.embeddings(spark, sf())
    val dir = graft.pipeline.Knn.embeddingPca(embs).localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Long, Timestamp, Seq[Float])] =
      embs.selectExpr("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
        .map { case (id, emb) => (id, new Timestamp(base + id * 1000L), emb) }
    val ms = MemoryStream[(Long, Timestamp, Seq[Float])]
    val name = s"pcap${System.nanoTime()}"
    val q = StreamJobs.pcaProjectStream(
        ms.toDS().toDF("vec_id", "ts", "embedding"), dir)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    val sent = (-1L, Timestamp.valueOf("2030-01-01 00:00:00"), rows.head._3)
    ms.addData(Seq(sent)); q.processAllAvailable()
    ms.addData(Seq(sent.copy(_1 = -2L))); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).filter(col("vec_id") >= 0)
      .collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Knn.pcaProject(embs).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("UV-to-KV externalization: store contents == batch UV per window") {
    import graft.streaming.{KvStateSink, KvStores}
    val store = s"uvkv${System.nanoTime()}"
    val ms = MemoryStream[Event]
    val q = KvStateSink.uvBloomToKvJob(ms.toDS().toDF(), store)
    ms.addData(sample); q.processAllAvailable()
    ms.addData(Seq(sentinel)); q.processAllAvailable()
    q.stop()

    val kv = KvStores(store)
    // batch ground truth: exact distinct users per hour; at this scale the
    // Bloom bitmap (2^17 bits, ~hundreds of users/window) has no collisions,
    // so the gated count equals exact UV deterministically
    val exact = EventWindows.uvHourly(sample.toDF()).collect()
      .map(r => (r.getLong(0) + 3600L, r.getLong(1))).toMap // key by window END
    val countKeys = kv.keys("uv:count:").filter(_.stripPrefix("uv:count:").toLong < sentinelSec)
    assert(countKeys.map(_.stripPrefix("uv:count:").toLong).toSet == exact.keySet)
    countKeys.foreach { k =>
      val we = k.stripPrefix("uv:count:").toLong
      val uv = new String(kv.get(k).get, "UTF-8").toLong
      assert(uv == exact(we), s"window_end=$we")
      // the externalized bitmap is consistent with the count: each gated
      // insert sets at most numHashes=4 bits, and a nonzero count needs bits
      val pop = KvStateSink.popCount(kv.get(s"uv:bitmap:$we").get)
      assert(pop > 0 && pop <= 4 * uv, s"window_end=$we popcount=$pop uv=$uv")
    }
    assert(exact.nonEmpty)
    KvStores.drop(store)
  }

  test("streaming funnel machine: per-step cohorts == batch funnel counts") {
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "funnel_parity"
    val q = StreamJobs.eventFunnelStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // funnel-rank tiebreak within equal timestamps mirrors Machines.funnelFn
    def rank(t: String) = t match {
      case "view" => 0; case "click" => 1; case "purchase" => 2; case _ => 3
    }
    val ordered = full.sortBy(e => (e.ts.getTime, rank(e.event_type), e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val advances = spark.table(name).as[FunnelAdvance].collect()
    // each user advances each step at most once
    assert(advances.groupBy(a => (a.user_id, a.step)).values.forall(_.length == 1))
    val stream = advances.groupBy(_.step).view.mapValues(_.length.toLong).toMap
    val batch = EventWindows.eventFunnel(full.toDF()).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(stream == batch.filter(_._2 > 0L))
    assert(batch(1L) > 0L)
  }

  test("streaming gopher battery == batch verdicts") {
    val docRows: Seq[(Long, String)] = Tables.documents(spark, sf())
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val name = "gopher_parity"
    val q = StreamJobs.gopherRulesStream(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = docRows.splitAt(docRows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect().map(_.toSeq).toSet
    val batch = graft.pipeline.TextAnalysis.gopherRules(
      Tables.documents(spark, sf())).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("CEP followedBy-each machine: streaming == batch multi-match form") {
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "cep_multi_parity"
    val q = StreamJobs.signupPurchaseEachStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val ordered = full.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).as[CepPair].collect()
      .map(m => (m.user_id, m.signup_e, m.purchase_e)).toSet
    val batch = graft.ops.Cep.signupThenPurchaseEach(Tables.events(spark, sf()).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("CEP absence machine: streaming + flush == batch abandoned form") {
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "cep_abandon_parity"
    val q = StreamJobs.abandonedSignupStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val ordered = full.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val live = spark.table(name).as[CepTimeout].collect().toSeq
    // finite-replay flush: signups never answered by any later purchase
    val flushed = ordered.groupBy(_.user_id).toSeq.flatMap { case (uid, evs) =>
      val pending = evs.sortBy(e => (e.ts.getTime, e.event_id))
        .foldLeft(List.empty[Long]) { (acc, e) =>
          e.event_type match {
            case "signup" => acc :+ (e.ts.getTime / 1000)
            case "purchase" => Nil
            case _ => acc
          }
        }
      graft.state.Machines.abandonedFlush(uid, PendingSignups(pending), 7200)
    }
    val stream = (live ++ flushed).map(t => (t.user_id, t.signup_e, t.deadline)).toSet
    val batch = graft.ops.Cep.abandonedSignup(Tables.events(spark, sf()).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming retention credits == batch cohort triangle") {
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "retention_parity"
    val q = StreamJobs.retentionCohortsStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val ordered = full.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val hits = spark.table(name).as[CohortHit].collect()
    // in-order input never re-bases: raw stream already unique per
    // (user, activity week), and resolution is the identity on it
    assert(hits.groupBy(h => (h.user_id, h.cohort_week + h.week_offset))
      .values.forall(_.length == 1))
    val resolved = StreamJobs.resolveRetentionCredits(hits.toSeq.toDS()).collect()
    assert(resolved.map(h => (h.user_id, h.cohort_week, h.week_offset)).sorted.toSeq ==
      hits.map(h => (h.user_id, h.cohort_week, h.week_offset)).sorted.toSeq)
    val stream = resolved.groupBy(h => (h.cohort_week, h.week_offset))
      .view.mapValues(_.length.toLong).toMap
    val batch = graft.ops.EventWindows.retentionCohorts(Tables.events(spark, sf()))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming retention credits resolve to batch triangle under out-of-order input") {
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "retention_parity_ooo"
    val q = StreamJobs.retentionCohortsStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // Adversarial order: the LATER half of the timeline arrives first, so
    // every user active in both halves sees a late-data cohort re-base.
    val ordered = full.sortBy(e => (e.ts.getTime, e.event_id))
    val (early, late) = ordered.splitAt(ordered.size / 2)
    ms.addData(late); q.processAllAvailable()
    ms.addData(early); q.processAllAvailable()
    q.stop()
    val hits = spark.table(name).as[CohortHit].collect()
    // re-bases really fired: some (user, activity week) keys were re-emitted
    assert(hits.groupBy(h => (h.user_id, h.cohort_week + h.week_offset))
      .values.exists(_.length > 1),
      "fixture produced no re-base — out-of-order path not exercised")
    val resolved = StreamJobs.resolveRetentionCredits(hits.toSeq.toDS()).collect()
    // resolution restores per-key uniqueness and equals the batch triangle
    assert(resolved.groupBy(h => (h.user_id, h.cohort_week + h.week_offset))
      .values.forall(_.length == 1))
    val stream = resolved.groupBy(h => (h.cohort_week, h.week_offset))
      .view.mapValues(_.length.toLong).toMap
    val batch = graft.ops.EventWindows.retentionCohorts(Tables.events(spark, sf()))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming path transitions == batch transition matrix") {
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "transition_parity"
    val q = StreamJobs.userPathTransitionsStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val ordered = full.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).as[Transition].collect()
      .groupBy(t => (t.prev_type, t.next_type)).view.mapValues(_.length.toLong).toMap
    val batch = graft.ops.EventWindows.userPathTransitions(Tables.events(spark, sf()))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(stream == batch.view.mapValues(_._1).toMap && batch.nonEmpty)
    // p_ppm reproduces from the streamed counts (integer division)
    val totals = stream.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    stream.foreach { case ((p, n), c) =>
      assert(c * 1000000L / totals(p) == batch((p, n))._2)
    }
  }

  test("streaming SCD2 closed intervals == batch history (is_current = 0)") {
    import org.apache.spark.sql.functions.col
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id", "event_type").as[Event].collect().toSeq
    val ms = MemoryStream[Event]
    val name = "scd2_parity"
    val q = StreamJobs.scd2Stream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // feed in the batch twin's total order (epoch SECOND, id) so run
    // boundaries land identically; split mid-stream to prove state carries
    val ordered = full.sortBy(e => (e.ts.getTime / 1000, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).as[Scd2Closed].collect()
      .map(c => (c.user_id, c.state, c.valid_from, c.valid_to, c.version)).toSet
    val batch = graft.ops.History.scd2Intervals(Tables.events(spark, sf()))
      .filter(col("is_current") === 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(stream == batch && batch.nonEmpty)
    // every user's open run is exactly the batch is_current row
    val open = graft.ops.History.scd2Intervals(Tables.events(spark, sf()))
      .filter(col("is_current") === 1).count()
    assert(open > 0) // the flush arm (scd2Flush) has something to flush
  }

  test("streaming rolling features == batch RANGE frames") {
    val full = Tables.events(spark, sf())
      .selectExpr("event_id", "ts", "user_id",
        "CAST(round(value * 100) AS LONG) AS cents").as[Spend].collect().toSeq
    val ms = MemoryStream[Spend]
    val name = "rolling_parity"
    val q = StreamJobs.rollingFeaturesStream(ms.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val ordered = full.sortBy(e => (e.ts.getTime / 1000, e.event_id))
    // cut on a second boundary: RANGE peers must arrive in one micro-batch
    // (the machine emits each event's row on arrival; a peer group split
    // across batches would undercount the earlier half — in production the
    // source's watermark holds a second until it is complete)
    val half = ordered.size / 2
    val halfSec = ordered(half).ts.getTime / 1000
    val cut = ordered.indexWhere(_.ts.getTime / 1000 != halfSec, half)
    val (b1, b2) = if (cut < 0) (ordered, Seq.empty[Spend]) else ordered.splitAt(cut)
    ms.addData(b1); q.processAllAvailable()
    if (b2.nonEmpty) { ms.addData(b2); q.processAllAvailable() }
    q.stop()
    val stream = spark.table(name).as[RollingRow].collect()
      .map(r => (r.event_id, r.user_id, r.e, r.cnt_1d, r.cnt_7d, r.cents_7d)).toSet
    val batch = graft.ops.History.rollingUserFeatures(Tables.events(spark, sf()))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming html extraction == batch cleaned text") {
    val pageRows: Seq[(Long, String)] = graft.pipeline.TextAnalysis
      .htmlWrap(Tables.documents(spark, sf()))
      .as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val name = "html_parity"
    val q = StreamJobs.htmlExtractStream(ms.toDS().toDF("doc_id", "html"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = pageRows.splitAt(pageRows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect().map(_.toSeq).toSet
    val batch = graft.pipeline.TextAnalysis.htmlExtract(
      graft.pipeline.TextAnalysis.htmlWrap(Tables.documents(spark, sf())))
      .collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming URL canonicalization == batch frontier") {
    val urlRows: Seq[(Long, String)] = graft.pipeline.Web
      .urlWrap(Tables.documents(spark, sf()))
      .as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val name = "url_parity"
    val q = StreamJobs.urlCanonicalizeStream(ms.toDS().toDF("doc_id", "raw_url"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = urlRows.splitAt(urlRows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect().map(_.toSeq).toSet
    val batch = graft.pipeline.Web.urlCanonicalize(Tables.documents(spark, sf()))
      .collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("inverted-index-to-KV maintenance: store postings == batch index") {
    import graft.streaming.{KvStateSink, KvStores}
    import java.security.MessageDigest
    def md5Long(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val store = s"ixkv${System.nanoTime()}"
    val docRows: Seq[(Long, String)] = Tables.documents(spark, sf())
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val q = KvStateSink.invertedIndexToKvJob(ms.toDS().toDF("doc_id", "text"), store)
    // two batches: a term's postings must accumulate across the boundary
    val (b1, b2) = docRows.splitAt(docRows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val kv = KvStores(store)
    val postings = kv.keys("ix:").map { k =>
      val body = k.stripPrefix("ix:")
      val cut = body.lastIndexOf(':')
      val (term, doc) = (body.substring(0, cut), body.substring(cut + 1).toLong)
      (term, doc, new String(kv.get(k).get, "UTF-8").toLong)
    }.groupBy(_._1)
    val batch = graft.pipeline.Search.invertedIndex(
      Tables.documents(spark, sf())).collect()
    assert(batch.map(_.getString(0)).toSet == postings.keySet)
    batch.foreach { r =>
      val term = r.getString(0)
      val mine = postings(term).sortBy(_._2)
      assert(r.getLong(1) == mine.size.toLong, s"df($term)")
      assert(r.getLong(2) == mine.map(_._3).sum, s"tf_total($term)")
      assert(r.getLong(3) == mine.head._2 && r.getLong(4) == mine.last._2)
      val digest = md5Long(mine.map(p => s"${p._2}:${p._3}").mkString(","))
      assert(r.getLong(5) == digest, s"postings_hash($term)")
    }
    KvStores.drop(store)
  }

  test("streaming mixture counts + temperatureShares == batch mixture_temperature") {
    import graft.pipeline.Curation
    val docs = Tables.documents(spark, sf())
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows: Seq[(Timestamp, String)] = docs
      .selectExpr("doc_id", "source").as[(Long, String)].collect().toSeq
      .map { case (id, src) => (new Timestamp(base + (id % 3600) * 1000L), src) }
    val ms = MemoryStream[(Timestamp, String)]
    val name = "mixture_parity"
    val q = StreamJobs.mixtureCountsStream(ms.toDS().toDF("ts", "source"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    ms.addData(Seq((Timestamp.valueOf("2024-06-01 00:00:00"), "zzz"))); q.processAllAvailable()
    ms.addData(Seq((Timestamp.valueOf("2024-06-02 00:00:00"), "zzz"))); q.processAllAvailable()
    q.stop()
    // one real window closed; its rows ARE the corpus counts — the
    // documented consumer contract feeds them to the verbatim batch math
    val counts = noSentinel(spark.table(name))
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("n_docs"))
    val resolved = Curation.temperatureShares(counts).collect().map(_.toSeq).toSet
    val batch = Curation.mixtureTemperature(docs).collect().map(_.toSeq).toSet
    assert(resolved == batch && batch.nonEmpty)
  }

  test("streaming winnowing fingerprints == batch digests") {
    val docRows: Seq[(Long, String)] = Tables.documents(spark, sf())
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val name = "winnow_parity"
    val q = StreamJobs.docWinnowStream(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (b1, b2) = docRows.splitAt(docRows.size / 2)
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()
    val stream = spark.table(name).collect().map(_.toSeq).toSet
    val batch = graft.pipeline.TextAnalysis.docWinnow(
      Tables.documents(spark, sf())).collect().map(_.toSeq).toSet
    assert(stream == batch && batch.nonEmpty)
  }
}
