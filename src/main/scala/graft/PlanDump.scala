package graft

import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` for one or more
  * [[SparkEntry.queries]] entries to files — the before/after plan
  * evidence the optimization rounds commit under `plans/`. Usage:
  *   tools/run.sh graft.PlanDump <outDir> <suffix> <query...>
  * writes `<outDir>/<query>_<suffix>.txt` per query, planned against
  * `SPARK_GRAFT_SF_DIR` at [[GraftSession.envCores]] cores.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val spark = GraftSession.local()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump] $name -> ${outDir.resolve(s"${name}_$suffix.txt")}")
    }
    spark.stop()
  }
}
