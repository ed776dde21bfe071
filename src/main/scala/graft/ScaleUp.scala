package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: builds an N× id-shifted replica of a testdata directory so the
  * oracle/bench harness can run at ~10× the largest generated SF
  * (sf0.1 × 10 ≈ sf1) without touching the read-only `/root/testdata`.
  *
  * Every copy shifts each key domain by `copies`-disjoint strides
  * (stride = max(key)+1, computed from the data), preserving referential
  * integrity: orders→customer, lineitem→{orders, part, supplier},
  * events.user_id→customer. Timestamps and payloads are kept identical, so
  * the replica is a density stress: windows hold copies× the events,
  * documents gain copies−1 exact duplicates each (every dedup cap and
  * posting list sees real skew), embeddings gain identical twins (cos = 1
  * near-dup mass), while per-query semantics stay well-defined — ids are
  * unique and ties keep deterministic id order. Replica 0 is the original,
  * so `vec_id < NumQueries` still selects exactly the 8 original queries.
  *
  * Usage: ScaleUp [srcDir] [dstDir] [copies]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/sfrep1"
    val copies = if (args.length > 2) args(2).toInt else 10

    val spark = GraftSession.local()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custS = stride(read("customer"), "c_custkey")
    val ordS = stride(read("orders"), "o_orderkey")
    val partS = stride(read("part"), "p_partkey")
    val suppS = stride(read("supplier"), "s_suppkey")
    val evtS = stride(read("events"), "event_id")
    val docS = stride(read("documents"), "doc_id")
    val vecS = stride(read("embeddings"), "vec_id")

    /** copies× union with each listed column shifted by i × its stride. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until copies).map { i =>
        shifts.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, col(c) + lit(i * s))
        }
      }.reduce(_ unionAll _)

    // normalize events.ts exactly as Tables.events does — nanos surface
    // as a raw long under GraftSession's nanosAsLong flag (truncate to
    // micros), micros-without-UTC-flag surface as TIMESTAMP_NTZ (cast;
    // value-identical under the UTC session TZ) — so both engines read
    // the replica identically whatever the generator emitted
    val eventsRaw = read("events")
    val eventsMicros = eventsRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        eventsRaw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => eventsRaw.withColumn("ts", col("ts").cast("timestamp"))
    }

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> replicate(read("customer"), "c_custkey" -> custS),
      "supplier" -> replicate(read("supplier"), "s_suppkey" -> suppS),
      "part" -> replicate(read("part"), "p_partkey" -> partS),
      "orders" -> replicate(read("orders"), "o_orderkey" -> ordS, "o_custkey" -> custS),
      "lineitem" -> replicate(read("lineitem"),
        "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS),
      "events" -> replicate(eventsMicros, "event_id" -> evtS, "user_id" -> custS),
      "documents" -> replicate(read("documents"), "doc_id" -> docS),
      "embeddings" -> replicate(read("embeddings"), "vec_id" -> vecS),
    )
    // single parquet FILE per table (the testdata layout the harness reads):
    // coalesce(1) into a temp dir, then promote the lone part file
    import java.nio.file.{Files, Paths, StandardCopyOption}
    out.foreach { case (t, df) =>
      val tmp = s"$dst/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().orElseThrow()
      Files.createDirectories(Paths.get(dst))
      Files.move(part, Paths.get(s"$dst/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.list(Paths.get(tmp)).forEach(p => Files.delete(p))
      Files.delete(Paths.get(tmp))
      println(s"$t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
