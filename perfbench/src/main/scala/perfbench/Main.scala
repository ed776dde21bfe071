package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run one workload once, write the
  * result record. `run.py` generates the inputs before and checks the batch
  * results against the DuckDB oracle after.
  *
  * Usage: Main --workload W --data DIR --alt DIR --warm DIR --out FILE
  *   [--trace 0|1] [--trace-out FILE] [--work DIR]
  *
  * `--alt` is a byte-identical copy of `--data` under another path: the
  * traced run times the workload traced on `--data`, then untraced on
  * `--alt` (so no path-keyed memo carries over) for `trace.overhead_s`.
  * `--warm` is a small input from another seed for the JIT warm-up.
  */
object Main {
  val Cores = 4

  final case class Args(workload: String, data: String, alt: String, warm: String,
      out: String, trace: Boolean, traceOut: Option[String], work: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("data"), need("alt"), need("warm"), need("out"),
      kv.get("trace").contains("1"), kv.get("trace-out"), kv.getOrElse("work", "."))
  }

  /** Epoch ms at which this JVM started: set-up time counts from here. */
  def processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def session(): SparkSession = {
    val s = graft.GraftSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) Runtime.getRuntime.totalMemory / 1048576.0
    else {
      val src = scala.io.Source.fromFile(p.toFile)
      try src.getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
        .getOrElse(0.0)
      finally src.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session()
    val sc = spark.sparkContext
    def tag(s: Option[Span]): Unit = s match {
      case Some(p) =>
        sc.setJobGroup(p.id.toString, s"${p.kind}:${p.name}")
        sc.setLocalProperty(Probe.SpanKey, p.id.toString)
      case None =>
        sc.clearJobGroup()
        sc.setLocalProperty(Probe.SpanKey, null)
    }
    val tracer = new Tracer(a.trace, onEnter = s => tag(Some(s)), onExit = tag)
    val probe = new Probe(tracer)
    sc.addSparkListener(probe)
    val streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)
    // warm-up: class loading and codegen of a simple pipeline
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    val ctx = Ctx(spark, a, tracer, probe, streamProbe)
    val rec = a.workload match {
      case "ec_stream" => StreamWorkload.run(ctx)
      case "llm_pipeline" => BatchWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    BenchBridge.drainListeners(sc)
    val meta = Seq(
      "cores" -> Cores.toString,
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "peak_rss_mb" -> Json.num(peakRssMb()),
    )
    Files.writeString(Paths.get(a.out),
      Json.obj(Seq("workload" -> Json.str(a.workload), "meta" -> Json.obj(meta)) ++ rec))
    a.traceOut.foreach(p => Files.writeString(Paths.get(p), Trace.toJson(tracer.spans.toSeq)))
    // the oracle twins of the batch queries, for run.py's DuckDB check
    Files.writeString(Paths.get(a.work, "oracle_sql.json"), Json.obj(
      graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    spark.stop()
  }
}

/** What every workload runner needs. */
final case class Ctx(spark: SparkSession, args: Main.Args, tracer: Tracer, probe: Probe,
    streamProbe: StreamProbe) {
  def setupDone(): Double = (System.currentTimeMillis() - Main.processStartMs) / 1e3
  def drain(): Unit = BenchBridge.drainListeners(spark.sparkContext)
}
