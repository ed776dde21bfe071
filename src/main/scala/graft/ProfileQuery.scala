package graft

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap

/** Dev tool: run ONE [[SparkEntry.queries]] entry and report the job/stage/
  * task shape a wall-clock number hides. Per pass it prints one `[job]`
  * line per Spark job — its duration, task count and the call site that
  * launched it, so a 40-job query shows exactly which materializations,
  * broadcast builds and AQE stages pay the fixed scheduling latency — then
  * a `[profile]` total: jobs, stages (= exchanges + materializations),
  * tasks, summed task time (CPU actually used) and shuffle bytes.
  * Wall-clock far above task-time/cores means the query is paying
  * scheduling/planning overhead, not compute. Runs at
  * [[GraftSession.envCores]] cores. Usage:
  *   tools/run.sh graft.ProfileQuery <query> [sfDir] [passes]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileQuery <query> [sfDir] [passes]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local()

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    case class J(start: Long, site: String, tasks: Int)
    val running = TrieMap[Int, J]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = Option(j.properties)
          .map(_.getProperty("callSite.short", "?")).getOrElse("?")
        running(j.jobId) = J(j.time, site, j.stageInfos.map(_.numTasks).sum)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        running.remove(e.jobId).foreach { j =>
          jobLines.add(f"[job] id=${e.jobId}%3d ${(e.time - j.start) / 1e3}%7.3f s tasks=${j.tasks}%3d  ${j.site}")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup pass at the smallest SF (codegen + JIT), mirroring Bench
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir).getParent
      val small = if (p != null) p.resolve("sf0.001") else null
      if (small != null && java.nio.file.Files.exists(small)) small.toString else sfDir
    }
    try SparkEntry.queries(name)(spark, warmDir).count()
    catch { case e: Throwable => println(s"[profile] warmup failed: $e") }

    // listener events are async; a short quiesce keeps pass attribution clean
    def quiesce(): Unit = Thread.sleep(300)

    (1 to passes).foreach { p =>
      C.reclaimBlocks(spark)
      quiesce()
      jobs.set(0); stages.set(0); tasks.set(0)
      taskTimeMs.set(0); shuffleRead.set(0); shuffleWrite.set(0)
      jobLines.clear()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      quiesce()
      jobLines.forEach(println(_))
      println(f"[profile] $name pass=$p rows=$n wall=$wall%.3f s " +
        f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
        f"taskTime=${taskTimeMs.get / 1e3}%.2f s " +
        f"shufRead=${shuffleRead.get / 1e6}%.1f MB shufWrite=${shuffleWrite.get / 1e6}%.1f MB")
    }
    spark.stop()
  }
}
