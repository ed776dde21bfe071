package perfbench

import java.nio.file.Paths

import graft.model.{Event, OrderState}
import graft.ops.{EventWindows, FraudDetect, OrderFlow}
import graft.state.Machines
import graft.streaming.StreamJobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.TimestampType

/** `ec_stream`: the streaming forms of the reference's jobs, one at a time,
  * each drained closed-loop from the pre-staged backlog in `<data>/stream`
  * (one parquet file per trigger, the last files carrying far-future
  * sentinel events that move the watermark past every window).
  *
  * Each job's output is folded into a checksum in `foreachBatch`. Where
  * `StreamingParitySpec` asserts parity, the checksum must equal that of
  * the batch form on the same input; the other jobs must emit rows. */
object StreamWorkload {

  /** Jobs run on the warm-up backlog during set-up. */
  val WarmJobs: Set[String] = Set("pvHourlyStream", "loginFailStream")

  /** Sentinel events are timestamped from this instant on (epoch seconds). */
  val SentinelSec: Long = 4102444800L // 2100-01-01

  /** How a job's output is checked. */
  sealed trait Check
  /** Equal to the batch form over the events the stream accepts. */
  final case class Parity(expected: Inputs => DataFrame) extends Check
  /** Order timeout: live rows plus the end-of-input flush equal the batch. */
  case object OrderParity extends Check
  case object NonEmpty extends Check

  /** Bounded twins of the stream input, for the batch forms. */
  final case class Inputs(spark: SparkSession, all: DataFrame, onTime: DataFrame,
      customer: DataFrame, nation: DataFrame)

  /** A stream job: builds its output from a source factory (each call is a
    * new streaming read of the backlog). */
  final case class Job(name: String, build: (() => DataFrame) => DataFrame, check: Check)

  private def eventsDs(df: DataFrame) = {
    import df.sparkSession.implicits._
    df.select("event_id", "ts", "user_id", "event_type").as[Event]
  }

  def jobs(customer: DataFrame, nation: DataFrame): Seq[Job] = {
    Seq(
      Job("pvHourlyStream", src => StreamJobs.pvHourlyStream(src()),
        Parity(i => EventWindows.pvHourlyCore(i.onTime))),
      Job("uvHourlyStream", src => StreamJobs.uvHourlyStream(src()),
        Parity(i => EventWindows.uvHourly(i.onTime))),
      Job("adClicksByProvinceStream",
        src => StreamJobs.adClicksByProvinceStream(src(), customer, nation),
        Parity(i => EventWindows.adClicksByProvinceCore(i.onTime, i.customer, i.nation))),
      Job("loginFailStream", src => StreamJobs.loginFailStream(eventsDs(src())).toDF(),
        Parity(i => FraudDetect.loginFailConsecutive(i.all))),
      Job("loginBurstStream", src => StreamJobs.loginBurstStream(eventsDs(src())).toDF(),
        NonEmpty),
      Job("orderTimeoutStream",
        src => StreamJobs.orderTimeoutStream(eventsDs(src())).toDF(), OrderParity),
    )
  }

  /** Drops the rows caused by sentinel events (far-future windows,
    * negative sentinel users). */
  def noSentinel(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    val w = if (cols("window_start")) df.filter(col("window_start") < SentinelSec - 86400) else df
    if (cols("user_id")) w.filter(col("user_id").isNull || col("user_id") >= 0) else w
  }

  final case class JobRun(name: String, wallS: Double, columns: Seq[String],
      checksum: Checksum, progress: Seq[StreamingQueryProgress],
      error: Option[String])

  def run(ctx: Ctx): Seq[(String, String)] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = s"${ctx.args.data}/stream"
    val schema = spark.read.parquet(dir).schema
    val warmDir = s"${ctx.args.warm}/stream"
    val customer = graft.Tables.customer(spark, ctx.args.data)
    val nation = graft.Tables.nation(spark, ctx.args.data)
    val work = Paths.get(ctx.args.work, "checkpoints")
    val kernels = if (t.enabled) Some(Kernels.load(spark, ctx.args.data)) else None

    def source(from: String): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(from)
        .drop("late").withColumn("ts", col("ts").cast(TimestampType))

    def runJob(j: Job, from: String = dir): JobRun = {
      val ckpt = work.resolve(s"${j.name}-${System.nanoTime()}").toString
      var cs = Checksum.Empty
      var columns = Seq.empty[String]
      val t0 = System.nanoTime()
      try {
        val id = t.span(j.name, "query") {
          val out = t.span(j.name, "build")(j.build(() => source(from)))
          columns = out.columns.toSeq
          t.span(j.name, "action") {
            val q = out.writeStream.queryName(j.name).outputMode("append")
              .option("checkpointLocation", ckpt)
              .foreachBatch { (df: DataFrame, _: Long) => cs = cs + Checksum.of(noSentinel(df)) }
              .start()
            try q.processAllAvailable() finally q.stop()
            q.id
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        ctx.drain()
        JobRun(j.name, wall, columns, cs, ctx.streamProbe.of(id), None)
      } catch {
        case e: Throwable =>
          JobRun(j.name, (System.nanoTime() - t0) / 1e9, columns, cs, Nil,
            Some(e.toString.take(300)))
      }
    }

    val jobList = jobs(customer, nation)
    // JIT warm-up of the aggregation and state-machine paths, part of set-up
    t.paused(jobList.filter(j => WarmJobs(j.name)).foreach(runJob(_, warmDir)))
    ctx.drain()
    val jobs0 = ctx.probe.jobMs.size
    val setupS = ctx.setupDone()

    val runs = jobList.map(runJob(_))
    ctx.drain()
    val jobMs = ctx.probe.jobMs.drop(jobs0)

    // checks, outside the timed region
    val batch = spark.read.parquet(dir).withColumn("ts", col("ts").cast(TimestampType))
    val real = batch.filter(col("user_id") >= 0)
    val inputs = Inputs(spark, real.drop("late"), real.filter(!col("late")).drop("late"),
      customer, nation)
    val verdicts = jobList.zip(runs).map { case (j, r) =>
      r.error.orElse(check(j.check, r, inputs))
    }

    val progress = runs.flatMap(_.progress)
    val triggerMs = progress.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
    val events = progress.map(_.numInputRows).sum
    val walls = runs.map(_.wallS)
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "wall_s" -> walls.sum,
      "query_p50_s" -> Stats.median(walls),
      "events_per_s" -> events / (triggerMs.sum / 1e3),
      "batch_p50_ms" -> Stats.median(triggerMs),
      "batch_p90_ms" -> Stats.percentile(triggerMs, 90.0),
    )
    val layers = if (!t.enabled) Nil else {
      val spans = t.spans.toSeq
      t.enabled = false
      val untraced = jobList.map(runJob(_)).map(_.wallS).sum
      Layers.fromSpans(spans) ++ kernels.toSeq.flatMap(_.measure()) ++
        streamLayers(runs) ++ Seq("trace.overhead_s" -> (walls.sum - untraced))
    }
    val ops = runs.zip(verdicts).map { case (r, v) =>
      Json.obj(Seq("name" -> Json.str(r.name), "wall_s" -> Json.num(r.wallS),
        "checksum" -> Json.str(r.checksum.toString), "batches" -> r.progress.size.toString,
        "trigger_ms" -> r.progress.map(_.durationMs.get("triggerExecution")).mkString("[", ",", "]"),
        "error" -> v.map(Json.str).getOrElse("null")))
    }
    Seq(
      "ops" -> ops.mkString("[", ",", "]"),
      "samples" -> Json.obj(Seq("jobs" -> runs.size.toString,
        "batches" -> triggerMs.size.toString, "spark_jobs" -> jobMs.size.toString,
        "tail_percentile" -> Stats.tailPercentile(triggerMs.size).map(Json.num).getOrElse("null"))),
      "metrics" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
    )
  }

  private def check(c: Check, r: JobRun, i: Inputs): Option[String] = {
    def cols(df: DataFrame) = df.select(r.columns.map(col): _*)
    c match {
      case NonEmpty =>
        if (r.checksum.rows > 0) None else Some("no output rows")
      case Parity(expected) =>
        val want = Checksum.of(noSentinel(cols(expected(i))))
        if (want == r.checksum) None else Some(s"parity: stream ${r.checksum} batch $want")
      case OrderParity =>
        import i.spark.implicits._
        val evs = i.all.select("event_id", "ts", "user_id", "event_type").as[Event].collect()
        val flushed = evs.groupBy(_.user_id).toSeq.flatMap { case (uid, es) =>
          val open = es.sortBy(e => (e.ts.getTime, e.event_id))
            .foldLeft(List.empty[(Long, Long)]) { (acc, e) =>
              e.event_type match {
                case "signup" => acc :+ (e.event_id -> e.ts.getTime / 1000)
                case "purchase" => Nil
                case _ => acc
              }
            }
          Machines.orderFlush(uid, OrderState(open))
        }
        val got = r.checksum + Checksum.of(flushed.toDF())
        val want = Checksum.of(OrderFlow.orderTimeout(i.all))
        if (want == got) None else Some(s"parity: stream+flush $got batch $want")
    }
  }

  /** Stream-layer metrics from the jobs' progress records. */
  def streamLayers(runs: Seq[JobRun]): Seq[(String, Double)] = {
    val ps = runs.flatMap(_.progress)
    def dur(k: String) = ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble).sum
    val last = runs.flatMap(_.progress.lastOption)
    Seq(
      "stream.batches" -> ps.size.toDouble,
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.wal_ms" -> (dur("walCommit") + dur("commitOffsets")),
      "stream.state_rows" -> last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
      "stream.state_bytes" -> last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble,
      "stream.state_commit_ms" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum.toDouble,
      "stream.late_dropped" ->
        ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble,
      "stream.rows_out" -> runs.map(_.checksum.rows).sum.toDouble,
    )
  }

}
