package graft

import org.apache.spark.sql.SparkSession

/** Session factory carrying the settings this library's operators assume —
  * the one-stop entry point for a user switching from the reference.
  *
  * Correctness settings (required):
  *  - UTC session timezone: every epoch-second export and window boundary
  *    assumes it.
  *  - `nanosAsLong` parquet reads: TIMESTAMP(NANOS) columns (the `events`
  *    testdata) are refused by Spark 4 otherwise; `Tables.events` truncates
  *    nanos → micros to match engines that truncate (e.g. DuckDB).
  *
  * Local-mode performance settings (optional but measured):
  *  - shuffle/spill dir on tmpfs when `/dev/shm` is present — on hosts with
  *    high-latency disks, shuffle file IO otherwise dominates wall-clock
  *    10× (BASELINE.md);
  *  - `shuffle.partitions` sized to the core count instead of the 200
  *    default — at local scale, 200 partitions of tiny tasks is pure
  *    scheduler overhead. On a real cluster leave the default or size to
  *    ~2-3× total cores, and let AQE coalesce.
  *  - `file:` paths go through `graft.io.NioLocalFileSystem` (FileSystem API)
  *    and `graft.io.NioLocalFs` (FileContext API, which Spark's default
  *    checkpoint manager uses). Without `libhadoop.so`, Hadoop's
  *    `RawLocalFileSystem` forks a `chmod` for every file it creates and a
  *    `readlink` for every path a rename checks, each for the file and for
  *    its `.crc` companion. A FileContext create plus rename of a 1 KB file
  *    took 22.6–23.6 ms with stock Hadoop and 0.9–1.1 ms through `graft.io`
  *    (4-core host, JDK 17, Hadoop 3.4.2), and the state-store commit of
  *    every micro-batch paid that per state file. The replacements do those two calls in `java.nio` and
  *    keep everything else: `.crc` companions, Spark's state-file checksums
  *    and the checkpoint-manager class. HDFS, S3 and every other scheme are
  *    untouched.
  */
object GraftSession {

  /** Hadoop keys that route `file:` through `graft.io` (see above). */
  private val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[io.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[io.NioLocalFs].getName)

  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder().config(LocalFsConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Join-strategy posture for scale: NEVER auto-broadcast on static
      // size ESTIMATES — only on AQE's measured runtime sizes (threshold
      // kept at the 10 MB default) or an explicit broadcast() hint.
      // Estimate-driven static broadcasts are the one decision that can
      // silently kill a run at scale: a materialized (localCheckpoint)
      // relation carries its ORIGIN plan's estimate, and explode+agg
      // chains amplify reality 1000× past it — observed as a driver OOM
      // broadcasting the quarter-million-row pair aggregate of
      // dedup_ngram_jaccard at the ×10 replica (estimated 1.4 MiB).
      // Measured sizes can't lie; estimates routinely do at 100 TB.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    // SPARK_GRAFT_LOCAL_DIR overrides the tmpfs default: tmpfs shuffle
    // files are RAM — a replica-scale sweep writing 50+ GB of spills to
    // /dev/shm counts against the same physical memory as the heap (the
    // host OOM killer took a 64 GB-heap sweep at 56 GB of shm spill).
    // Point long big-SF runs at disk; keep tmpfs for the default
    // small-SF loops where spills are MBs and disk latency dominates.
    val shm = new java.io.File("/dev/shm")
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .orElse(if (shm.isDirectory && shm.canWrite) Some("/dev/shm/spark-graft") else None)
      .foreach(d => b.config("spark.local.dir", d))
    b
  }

  /** Core count of the local mains (`Bench`, `Verify`, `ProfileQuery`,
    * `PlanDump`, `ScaleUp`): `SPARK_GRAFT_CPUS`, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Local session with this library's settings applied: every main, the
    * tier-1 specs and single-node runs. Long rpc/heartbeat timeouts, so a
    * host-disk latency burst degrades a timing instead of killing the run
    * with `RpcTimeout`. */
  def local(cores: Int = envCores): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
