package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (SPARK_GRAFT_ONLY=a,b,c) for scale runs where
    // executing every registered query would dominate; the driver sets no
    // env, so its gate always runs the full map
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // drop ALL materialized intermediates (cached frames AND
      // localCheckpoint blocks) from the previous query — see
      // C.reclaimBlocks: the marathon at ×10-replica scale otherwise
      // carries enough unreclaimed blocks that a mid-query broadcast
      // build fails with "Not enough memory to build and broadcast"
      // even though the query passes solo in the same heap (observed
      // twice on dedup_ngram_jaccard: round 6 via GC garbage, round 8
      // via checkpoint blocks awaiting the async ContextCleaner).
      C.reclaimBlocks(spark)
      // Multi-part dump: the compare (tools/check.py and the driver's
      // gate) globs every part file and sorts by ALL columns before
      // comparing, so file count and row order are immaterial — but a
      // single-writer dump serializes the write of the big result
      // relations behind one compressing task (measured at the ×100
      // replica: dedup_simhash ~40 s and tx_unmatched ~30 s of pure
      // single-file write on 27 M / 74.6 M rows). repartition(N), NOT
      // coalesce: coalesce would fold the whole final stage into N tasks
      // (at ×100 a per-doc scoring projection once ran 500 k docs
      // single-threaded); the repartition shuffle boundary keeps every
      // upstream stage at full parallelism and moves only finished rows.
      // toIntOption + positivity filter: a malformed or non-positive env
      // value must degrade to the default, not throw outside the per-query
      // try and abort the whole sweep (repartition(0) is an error too).
      val dumpParts = sys.env.get("SPARK_GRAFT_DUMP_PARTS")
        .flatMap(_.toIntOption).filter(_ > 0)
        .getOrElse(spark.sparkContext.defaultParallelism)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).repartition(dumpParts).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] $name ok $sec%.2fs")
        // per-query wall time, appended as it happens (crash-safe across
        // SPARK_GRAFT_ONLY resumes; aggregators take last-wins per query) —
        // the replica sweeps need a timing record so the next scale-killer
        // shows up as a time cliff before it becomes a disk cliff
        Files.write(Paths.get(s"$outDir/timings.jsonl"),
          f"""{"query": "$name", "sec": $sec%.3f}%n""".getBytes,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sidecar (separate file so the driver's oracle_sql.json parse sees
    // only SQL): the commit the dump was produced from, so a compare-only
    // resume (tools/check.py GRAFT_SKIP_VERIFY=1) can detect that the
    // repo's queries/oracles moved under an interrupted run and the dump
    // on disk no longer matches HEAD
    Files.writeString(Paths.get(s"$outDir/oracle_meta.json"),
      s"""{"commit": ${q(gitHead())}}""")
    spark.stop()
  }

  /** Current git HEAD commit, resolved from `.git` files directly (no
    * subprocess): packed or loose refs both handled; worktree/submodule
    * `.git` FILES (`gitdir: <path>` indirection) followed; `GRAFT_REPO_ROOT`
    * overrides the cwd-relative lookup; "unknown" outside a work tree.
    */
  private def gitHead(): String = try {
    val root = sys.env.getOrElse("GRAFT_REPO_ROOT", ".")
    var git = Paths.get(root, ".git")
    if (Files.isRegularFile(git)) {
      // worktree/submodule: .git is a one-line pointer file
      val line = Files.readString(git).trim
      if (line.startsWith("gitdir: ")) {
        val target = Paths.get(line.stripPrefix("gitdir: "))
        git = if (target.isAbsolute) target
              else git.getParent.resolve(target).normalize
      }
    }
    if (!Files.isDirectory(git)) "unknown"
    else {
      val head = Files.readString(git.resolve("HEAD")).trim
      if (!head.startsWith("ref: ")) head // detached HEAD: bare sha
      else {
        val ref = head.stripPrefix("ref: ")
        // worktrees keep HEAD in the per-worktree gitdir but refs in the
        // shared common dir (the `commondir` pointer file)
        val commonP = git.resolve("commondir")
        val common =
          if (Files.exists(commonP)) {
            val c = Paths.get(Files.readString(commonP).trim)
            if (c.isAbsolute) c else git.resolve(c).normalize
          } else git
        val loose = common.resolve(ref)
        val packed = common.resolve("packed-refs")
        if (Files.exists(loose)) Files.readString(loose).trim
        else if (Files.exists(packed)) {
          import scala.jdk.CollectionConverters._
          Files.readAllLines(packed).asScala
            .find(_.endsWith(" " + ref)).map(_.split(" ")(0))
            .getOrElse("unknown")
        } else "unknown"
      }
    }
  } catch { case scala.util.control.NonFatal(_) => "unknown" }
}
