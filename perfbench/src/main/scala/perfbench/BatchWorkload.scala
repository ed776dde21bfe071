package perfbench

import graft.SparkEntry

/** `llm_pipeline`: a core of the queries over `documents` and
  * `embeddings`. A run times each of them once, in name order, on its
  * first execution against the measured input. */
object BatchWorkload {

  /** The BPE driver loop and a query that reuses its session memo, the
    * dedup cluster chain, a dedup pair join, IVF-PQ training, and one query
    * each over the HTML, gopher and winnowing kernels. The core keeps a run
    * of the benchmark inside its time budget on a 4-core host. */
  val Queries: Seq[String] = Seq(
    "bpe_encode", "bpe_train", "dedup_exact", "dedup_minhash_lsh_skew",
    "dedup_ngram_jaccard", "doc_winnow", "gopher_rules", "html_extract", "knn_ivf_pq",
    "pii_redact")

  final case class QueryRun(name: String, wallS: Double, checksum: Option[Checksum],
      error: Option[String])

  /** Constructor call through the checksum fold of the last row. Traced,
    * the span tree is query -> build -> plan -> action. */
  def timeQuery(ctx: Ctx, name: String, dir: String): QueryRun = {
    val t = ctx.tracer
    graft.C.reclaimBlocks(ctx.spark)
    val t0 = System.nanoTime()
    try {
      val cs = t.span(name, "query") {
        val df = t.span(name, "build")(SparkEntry.queries(name)(ctx.spark, dir))
        if (t.enabled) t.span(name, "plan")(df.queryExecution.executedPlan)
        t.span(name, "action")(Checksum.of(df))
      }
      QueryRun(name, (System.nanoTime() - t0) / 1e9, Some(cs), None)
    } catch {
      case e: Throwable =>
        QueryRun(name, (System.nanoTime() - t0) / 1e9, None,
          Some(e.toString.take(300)))
    }
  }

  /** Light queries run on the warm-up input during set-up, to absorb the
    * engine's cold start before the first timed query. */
  val WarmQueries: Seq[String] = Seq("dedup_exact", "doc_winnow", "pii_redact")

  def run(ctx: Ctx): Seq[(String, String)] = {
    ctx.tracer.paused(WarmQueries.foreach(timeQuery(ctx, _, ctx.args.warm)))
    val kernels = if (ctx.tracer.enabled) Some(Kernels.load(ctx.spark, ctx.args.data)) else None
    ctx.drain()
    val jobs0 = ctx.probe.jobMs.size
    val read0 = ctx.probe.recordsRead
    val setupS = ctx.setupDone()

    val runs = Queries.map(n => timeQuery(ctx, n, ctx.args.data))

    ctx.drain()
    val jobMs = ctx.probe.jobMs.drop(jobs0).toSeq
    val read = ctx.probe.recordsRead - read0
    val walls = runs.map(_.wallS)
    val wallS = walls.sum
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "query_p50_s" -> Stats.median(walls),
      "events_per_s" -> read / wallS,
      "batch_p50_ms" -> Stats.median(jobMs),
      "batch_p90_ms" -> Stats.percentile(jobMs, 90.0),
    )
    val layers = if (!ctx.tracer.enabled) Nil else {
      val spans = ctx.tracer.spans.toSeq
      ctx.tracer.enabled = false
      val untraced = Queries.map(n => timeQuery(ctx, n, ctx.args.alt).wallS).sum
      Layers.fromSpans(spans) ++ kernels.toSeq.flatMap(_.measure()) ++
        Layers.zeroStream ++ Seq("trace.overhead_s" -> (wallS - untraced))
    }
    val ops = runs.map { r =>
      Json.obj(Seq("name" -> Json.str(r.name), "wall_s" -> Json.num(r.wallS),
        "checksum" -> r.checksum.map(c => Json.str(c.toString)).getOrElse("null"),
        "error" -> r.error.map(Json.str).getOrElse("null")))
    }
    Seq(
      "ops" -> ops.mkString("[", ",", "]"),
      "samples" -> Json.obj(Seq("queries" -> walls.size.toString, "jobs" -> jobMs.size.toString,
        "tail_percentile" -> Stats.tailPercentile(jobMs.size).map(Json.num).getOrElse("null"))),
      "metrics" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
    )
  }
}
