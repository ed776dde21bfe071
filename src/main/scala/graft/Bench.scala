package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every [[SparkEntry.queries]] entry on
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"errors":{...},"sf":...}`,
  * plus the host it ran on: `cpus` (the local session's cores),
  * `max_heap_mb` (the JVM's heap limit) and `spark` (the Spark version).
  *
  * Measurement hygiene (each of these burned a round-1 bench):
  *  - queries run in sorted name order — Map iteration order made per-query
  *    attribution unstable across runs;
  *  - a failing query records its error in `"errors"` instead of silently
  *    contributing a fast -1 to the total;
  *  - the JSON is ALSO written to a file (`SPARK_GRAFT_BENCH_OUT`, default
  *    `BENCH_LOCAL.json` in the cwd) so the result survives sbt log prefixes;
  *  - the page cache is pre-warmed with one full scan of every table so the
  *    first query touching a parquet file isn't charged its cold IO;
  *  - `C.reclaimBlocks` between queries drops cached frames AND
  *    localCheckpoint blocks (the async ContextCleaner alone lags behind
  *    an 88-query marathon) so blocks don't accumulate and drive
  *    GC/heartbeat distress;
  *  - long rpc/heartbeat timeouts (set by [[GraftSession.local]]) so a
  *    host-disk latency burst degrades the number instead of killing the
  *    run with RpcTimeout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val spark = GraftSession.local()
    // warmup: absorb classloading + whole-stage-codegen compilation so the
    // first measured query isn't charged ~7 s of JVM startup...
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    // ...and page-cache every input table so per-query times measure the
    // query, not which query happened to read each file first
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val p = Paths.get(s"$sfDir/$t.parquet")
      if (Files.exists(p))
        try spark.read.parquet(p.toString).foreach(_ => ())
        catch { case _: Throwable => () } // warmup is best-effort
    }

    // SPARK_GRAFT_ONLY (comma list) — single-query timing loops, mirroring
    // graft.Verify; the recorded bench always runs the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // JIT/codegen warmup: run every query once at the smallest scale factor
    // available (fall back to the bench dir). Generated classes are cached
    // by source text, so the sf0.1 measured run reuses the exact compiled +
    // JIT-hot code — measured: dedup_minhash_lsh is 10-40 s on a cold JVM
    // and ~2 s warm for identical plans. Without this the bench measures
    // janino + C2 compilation, not the query.
    val warmDir = {
      val p = Paths.get(sfDir).getParent
      val small = if (p != null) p.resolve("sf0.001") else null
      if (small != null && Files.exists(small)) small.toString else sfDir
    }
    names.foreach { name =>
      C.reclaimBlocks(spark)
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case _: Throwable => () } // failures surface in the timed loop
    }

    // min of two timed passes per query: the host shows multi-second
    // hypervisor steal bursts that land on random queries (the same query
    // measured 3 s and 53 s in consecutive solo runs); a burst must hit the
    // same query in both passes to survive into the reported number
    def timeOnce(name: String): (Double, Option[String]) = {
      C.reclaimBlocks(spark)
      val t0 = System.nanoTime()
      val err =
        try { SparkEntry.queries(name)(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val results = names.map { name =>
      val (t1, e1) = timeOnce(name)
      val (t2, e2) = if (e1.isEmpty) timeOnce(name) else (t1, e1)
      val best = math.min(t1, t2)
      // a query still >5 s after two passes is either genuinely heavy or
      // was hit by a burst twice — one tie-breaker pass decides
      val passes =
        if (e1.isEmpty && e2.isEmpty && best > 5.0) Seq(t1, t2, timeOnce(name)._1)
        else if (e1.isEmpty) Seq(t1, t2)
        else Seq(t1)
      (name, passes.min, passes, e1.orElse(e2))
    }
    val qs = results.map { case (k, v, _, _) => s""""$k":$v""" }.mkString("{", ",", "}")
    // every individual pass time, so a reader can separate a steal burst
    // (one slow pass) from real cost (all passes slow) without re-running
    val ps = results.map { case (k, _, p, _) =>
      s""""$k":[${p.map(t => f"$t%.3f").mkString(",")}]"""
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) => s""""$k":"$e"""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val host = s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"spark":"${spark.version}""""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$ps,"errors":$errs,"sf":"$sfDir",$host}"""
    Files.writeString(Paths.get(outPath), line + "\n")
    spark.stop()
    // last stdout lines of the run — after spark.stop() so no executor
    // shutdown chatter lands below them. The full line first; then a
    // compact summary line LAST, because a tail-buffer parser reading only
    // the final ~2 KB of stdout truncates the front of the 141-query line
    // (BENCH_r09 recorded "parsed": null for exactly this reason) — the
    // compact line always fits whatever the tail length.
    val nErr = results.count(_._4.isDefined)
    println(line)
    // compact line: error COUNT under a distinct key (`n_errors`) so a
    // parser keying on "errors" can't read a number here and an object on
    // the full line above for the same key
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_s":$total,"n":${results.size},"n_errors":$nErr,"sf":"$sfDir",$host}""")
    if (results.exists(_._4.isDefined)) sys.exit(1)
  }
}
