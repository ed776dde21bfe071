package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Naive-Bayes document classification — the linear-classifier family of
  * quality/domain filters (CCNet's fastText language filter, C4's
  * bad-words classifier, Gopher/RefinedWeb quality classifiers): train a
  * bag-of-words model on a labeled corpus, score every document against
  * every class, take the argmax. Self-trained on the `documents` table's
  * `lang` label here (production would broadcast a pre-trained weight
  * table instead — the scoring plan is identical), and evaluated in the
  * same DAG: the output is the L × L confusion matrix of actual vs
  * predicted language.
  *
  * Model: multinomial NB with add-one smoothing over a capped vocabulary.
  *   score(d, l) = log P(l) + Σ_t n_dt · log P(t | l)
  *   P(t | l) = (c_lt + 1) / (T_l + V)
  * Every log is rounded ONCE to a fixed-point BIGINT per model cell
  * ([[Scale]] — the [[TextAnalysis.docLmScore]] recipe), so per-document
  * scores are exact integer sums: order-invariant, hash-stable, and the
  * argmax (ties to the lexicographically first language) is deterministic
  * cross-engine.
  *
  * Shape at 100 TB: the occurrence stream collapses to per-(doc, token)
  * counts in one map-side-combined hash-agg; the vocabulary is a top-V
  * TakeOrdered (per-partition heaps, no global sort); the model is V × L rows
  * (V = [[VocabCap]], L = #classes) built from three small aggregates of
  * the SAME token-count relation — kilobytes, broadcast to the scoring
  * join. Scoring joins per-doc counts to the model on token (L-fold
  * amplification, L small and fixed), one hash-agg to (doc, class) sums,
  * one rank-1 window for the argmax, one hash-agg to the L² confusion
  * cells. No shuffle carries anything doc-length-sized: after the first
  * hash-agg everything is count-sized.
  */
object Classify {
  import TextAnalysis.{tokens, tokensSql}

  /** Top-V vocabulary cap (count DESC, token ASC). Mirrors production
    * feature selection — an uncapped vocabulary would make the broadcast
    * model corpus-dependent in size; out-of-vocabulary tokens are ignored
    * by scoring (in both engines).
    */
  private[graft] val VocabCap = 2000

  /** Fixed-point resolution for log-probabilities: 1e-4 nats, rounded once
    * per model cell ([[TextAnalysis.docLmScore]]'s determinism argument).
    */
  private val Scale = 10000L

  /** The (doc_id, tok, n) token-count relation scoring and model training
    * share — one corpus explode, map-side combined.
    */
  private def docTokOf(documents: DataFrame): DataFrame = documents
    .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    .groupBy(col("doc_id"), col("tok"))
    .agg(count(lit(1)).as("n"))

  /** Trained NB weight table (lang, tok, s_fp) + priors (lang, prior_fp) —
    * the broadcastable model a production deployment ships to scoring
    * (here also to the streaming twin,
    * [[graft.streaming.StreamJobs.nbClassifyStream]]). Built canonically
    * (see [[nbLangConfusion]]) — identical cells, rep-sized work.
    */
  def nbModelAndPriors(documents: DataFrame): (DataFrame, DataFrame) = {
    val (repTok, repLang, docLang) = canonicalNbInputs(documents)
    nbModelFrom(langTokAggOf(repTok, repLang), docLang)
  }

  /** The canonical NB input relations ([[graft.pipeline.Dedup.canonicalTexts]]
    * applied to classification): per-REP token counts (token counts are
    * pure functions of the text), per-(rep, lang) member multiplicities
    * (labels are NOT functions of the text — two copies of one text may
    * carry different labels), and the raw (doc_id, lang) projection for
    * priors. Both rep relations are materialized once — model training
    * and scoring/confusion all read them.
    */
  private def canonicalNbInputs(documents: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // one (gid, lang) aggregate replaces Dedup.canonicalTexts' three-relation
    // chain for this family: the rep id is a function of gid alone
    // (min over the per-(gid, lang) min doc_ids = the group min), so the
    // member-join that re-derived per-(rep, lang) multiplicities from the
    // doc-level map is redundant — ONE corpus-keyed checkpoint instead of
    // three (docsG, grp, repLang), same relations bit for bit
    val keyed = documents.select(col("doc_id"), col("lang"),
      graft.C.textGid(col("text")).as("gid"))
    val grpL = keyed.groupBy(col("gid"), col("lang"))
      .agg(min(col("doc_id")).as("mid"), count(lit(1)).as("glsz"))
      .localCheckpoint(eager = true) // feeds grp twice + repLang
    val grp = grpL.groupBy(col("gid")).agg(min(col("mid")).as("rep_id"))
    val docLang = documents.select(col("doc_id"), col("lang"))
    val repLang = grpL.join(grp, "gid")
      .select(col("rep_id"), col("lang"), col("glsz"))
      .localCheckpoint(eager = true) // model counts + confusion cells read it
    val reps = documents.join(grp.select(col("rep_id")),
        documents("doc_id") === col("rep_id"))
      .select(documents("doc_id"), col("text"))
    val repTok = docTokOf(reps).localCheckpoint(eager = true)
    (repTok, repLang, docLang)
  }

  /** Per-document predicted language + integer NB scores, then the L × L
    * confusion matrix (lang, pred_lang, n_docs). Docs with zero in-vocab
    * tokens still classify (prior-only argmax) — no row is dropped.
    *
    * CANONICAL over distinct texts: the occurrence stream, the scoring
    * join, and the argmax window all run once per distinct text; model
    * counts weight rep counts by the per-(rep, lang) multiplicities
    * (exactly the integers the naive per-copy streams produce), and the
    * confusion cells sum `glsz` over predicted reps instead of counting
    * expanded rows — so a duplicate-dense corpus pays rep-sized work end
    * to end (the ×100 replica priced the naive form at ~34 s).
    */
  def nbLangConfusion(documents: DataFrame): DataFrame =
    nbLangConfusion(documents, graft.C.DriverCollectMax)

  private[graft] def nbLangConfusion(documents: DataFrame,
      driverCollectMax: Long): DataFrame = {
    val spark = documents.sparkSession
    val (repTok, repLang, docLang) = canonicalNbInputs(documents)
    val langTok0 = langTokAggOf(repTok, repLang)
    // per-class doc counts from the rep multiplicities (Σ glsz over a
    // lang's reps = its doc count — the same BIGINTs the raw
    // (doc_id, lang) groupBy produces)
    val langCounts = repLang.groupBy(col("lang")).agg(sum(col("glsz")).as("nd"))
    // the driver build needs the (lang, tok) cells AND the dense
    // VocabCap × L model they imply under the cap — vocabulary-bounded,
    // corpus-size-independent, so it is the 100 TB choice whenever L is sane
    val local = for {
      lc <- graft.C.collectBelow(langCounts, driverCollectMax / VocabCap)
      cells <- graft.C.collectBelow(langTok0, driverCollectMax)
    } yield (lc.map(r => (r.getString(0), r.getLong(1))), cells)
    val (model, priors, priorPred) = local match {
      case Some((lc, cells0)) =>
        import spark.implicits._
        val total = lc.map(_._2).sum
        val priorRows = lc.map { case (lang, nd) =>
          (lang, fpRound(math.log(nd.toDouble / total.toDouble) * Scale)) }
        // top-V over the collected cells — identical (cnt DESC, tok ASC)
        // selection to the distributed TakeOrdered, with the tok tie-break
        // in UTF-8 BYTE order (Spark's UTF8String / DuckDB's binary
        // collation), which diverges from java.lang.String's UTF-16 order
        // on supplementary characters (emoji vs U+E000..U+FFFF)
        val byTok = cells0
          .map(r => (r.getString(1), r.getLong(2))).groupBy(_._1)
          .view.mapValues(_.map(_._2).sum).toMap
        val vocabToks = byTok.toSeq
          .sortBy { case (t, c) => (-c, t) }(
            Ordering.Tuple2(Ordering.Long, utf8NullsFirst))
          .take(VocabCap).map(_._1)
        val vocabSet = vocabToks.toSet
        val cells = cells0
          .filter(r => vocabSet(r.getString(1)))
          .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
          .toMap
        val tl = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
        val v = vocabToks.length
        // dense V × L cells, same double ops as the distributed expressions
        val modelRows = for (l <- lc.map(_._1); t <- vocabToks) yield (l, t,
          fpRound(math.log((cells.getOrElse((l, t), 0L) + 1).toDouble /
            (tl.getOrElse(l, 0L) + v).toDouble) * Scale))
        // prior-argmax tie rule = min(−fp, lang) with lang NULLS FIRST —
        // identical to the distributed min(struct) and the legacy window
        val priorLang: String =
          if (priorRows.isEmpty) null
          else priorRows.minBy { case (lang, fp) => (-fp, lang) }(
            Ordering.Tuple2(Ordering.Long, utf8NullsFirst))._1
        (modelRows.toSeq.toDF("lang", "tok", "s_fp"),
          priorRows.toSeq.toDF("lang", "prior_fp"),
          Seq(Tuple1(priorLang)).toDF("prior_lang"))
      case None =>
        val (m, p) = nbModelFrom(langTok0, docLang)
        (m, p, p.agg(min(struct((-col("prior_fp")).as("ns"), col("lang"))).as("top"))
          .select(col("top.lang").as("prior_lang")))
    }
    // the model is DENSE over vocab × langs, so a rep with ≥1 in-vocab
    // token scores against EVERY language here — the rep×L cross-join +
    // left-outer of the legacy plan is redundant for those reps, and the
    // argmax is one hash-agg (min of (−score, lang) picks the max score,
    // ties to the lexicographically first language — exactly the legacy
    // row_number(score DESC, lang ASC) rule) instead of a rank window
    val repScores = repTok
      .join(broadcast(model), "tok")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n") * col("s_fp")).as("tok_fp"))
    val repPred = repScores
      .join(broadcast(priors), "lang")
      .groupBy(col("doc_id"))
      .agg(min(struct((-(col("tok_fp") + col("prior_fp"))).as("ns"),
        col("lang"))).as("top"))
      .select(col("doc_id").as("rep_id"), col("top.lang").as("pred_lang"))
    // a rep with NO in-vocab token has no repScores rows at all (the model
    // is dense, so presence is all-or-nothing per rep): its score is the
    // prior alone for every language, and its argmax is the one global
    // prior-argmax language — a 1-row broadcast, not a rep×L expansion
    repLang.join(repPred, Seq("rep_id"), "left_outer")
      .crossJoin(broadcast(priorPred))
      .groupBy(col("lang"),
        coalesce(col("pred_lang"), col("prior_lang")).as("pred_lang"))
      .agg(sum(col("glsz")).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Spark's `round(x)` for doubles, replicated for the driver-side model
    * cells: `BigDecimal.valueOf` (the double's shortest decimal rendering)
    * + HALF_UP — bit-identical to the distributed
    * `round(...).cast("long")` expressions.
    */
  private def fpRound(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** UTF-8 binary string ordering, nulls first — Spark's UTF8String
    * comparison (and DuckDB's binary text collation), which java.lang
    * String's UTF-16 order diverges from on supplementary characters.
    */
  private val utf8NullsFirst: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      if (a == null && b == null) return 0
      if (a == null) return -1
      if (b == null) return 1
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** Model construction from the canonical relations: V × L smoothed
    * log-likelihood cells + per-class log-priors, each log rounded ONCE
    * to fixed point. All counts are gsz/glsz-weighted rep counts —
    * identical integers to the per-copy sums, so every cell matches the
    * naive model bit for bit.
    */
  /** ONE (lang, tok) aggregate serves vocabulary selection AND the model
    * counts: summing it over langs gives exactly the gsz-weighted token
    * totals (Σ_lang n·glsz = n·gsz, same BIGINTs), so the legacy plan's
    * separate gsz relation and second repTok scan are redundant.
    * Materialized once — vocabulary selection, the model cells and the
    * cutover measure all read it (it is vocabulary-sized × L, never
    * corpus-sized).
    */
  private def langTokAggOf(repTok: DataFrame, repLang: DataFrame): DataFrame =
    repTok
      .join(repLang.withColumnRenamed("rep_id", "doc_id"), "doc_id")
      .groupBy(col("lang"), col("tok"))
      .agg(sum(col("n") * col("glsz")).as("c"))
      .localCheckpoint(eager = true)

  private def nbModelFrom(langTok0: DataFrame,
      docLang: DataFrame): (DataFrame, DataFrame) = {
    val tokCnt = langTok0.groupBy(col("tok")).agg(sum(col("c")).as("cnt"))
    // global top-V via orderBy+limit = TakeOrdered (per-partition heaps +
    // a V-row driver merge), never a single-partition window sort
    val vocab = tokCnt.orderBy(col("cnt").desc, col("tok")).limit(VocabCap).select(col("tok"))
    // in-vocab per-(lang, token) counts — a semi-filter of the same agg
    val langTok = langTok0.join(broadcast(vocab), "tok")
    // totals over ALL languages, not just those with in-vocab tokens: a
    // class with zero training tokens must still get the smoothed
    // P(t|l) = 1/(0+V) per token — dropping it from the model would score
    // it likelihood-1 (empty sum) and its prior alone could beat every
    // real candidate's negative token sum
    val priors = docLang.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(docLang.agg(count(lit(1)).as("total"))))
      .select(col("lang"),
        round(log(col("nd").cast("double") / col("total").cast("double")) * Scale)
          .cast("long").as("prior_fp"))
      .localCheckpoint(eager = true) // L rows; 3 consumers (totals, scoring, fallback)
    // priors already enumerates every language (it groups the same raw
    // (doc_id, lang) projection), so the legacy distinct-langs scan is free
    val langTotals = priors.select(col("lang"))
      .join(langTok, Seq("lang"), "left_outer")
      .groupBy(col("lang")).agg(coalesce(sum(col("c")), lit(0L)).as("tl"))
    val vocabSize = vocab.agg(count(lit(1)).as("v"))
    // V × L model: langs × vocab, absent cells smoothed to c = 0
    val model = langTotals
      .crossJoin(vocab)
      .crossJoin(broadcast(vocabSize))
      .join(langTok, Seq("lang", "tok"), "left_outer")
      .select(col("lang"), col("tok"),
        round(log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("tl") + col("v")).cast("double")) * Scale).cast("long").as("s_fp"))
    (model, priors)
  }

  /** DuckDB twin, mirroring the canonical chain: distinct-text reps, the
    * (rep, lang) multiplicity map, weighted model counts, rep-level
    * scoring/argmax, glsz-summed confusion cells. The null-safe gid
    * (non-hex sentinel) mirrors `C.textGid`.
    */
  val nbLangConfusionSql: String =
    s"""WITH docs_g AS MATERIALIZED (
       |  SELECT doc_id, lang, ${graft.C.textGidSql("text")} AS gid FROM documents
       |), grp AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM docs_g GROUP BY gid
       |), replang AS MATERIALIZED (
       |  SELECT g.rep_id, d.lang, count(*) AS glsz
       |  FROM docs_g d JOIN grp g USING (gid) GROUP BY g.rep_id, d.lang
       |), reps AS MATERIALIZED (
       |  SELECT dd.doc_id, dd.text FROM documents dd JOIN grp ON dd.doc_id = grp.rep_id
       |), doctok AS MATERIALIZED (
       |  SELECT doc_id, u.tok AS tok, count(*) AS n
       |  FROM (SELECT doc_id, $tokensSql AS toks FROM reps) t, unnest(toks) AS u(tok)
       |  GROUP BY doc_id, u.tok
       |), gsz AS (
       |  SELECT rep_id, sum(glsz) AS gsz FROM replang GROUP BY rep_id
       |), vocab AS (
       |  SELECT tok FROM (
       |    SELECT dt.tok, row_number() OVER (ORDER BY sum(dt.n * g.gsz) DESC, dt.tok) AS rk
       |    FROM doctok dt JOIN gsz g ON dt.doc_id = g.rep_id GROUP BY dt.tok
       |  ) WHERE rk <= $VocabCap
       |), langtok AS (
       |  SELECT rl.lang, dt.tok, sum(dt.n * rl.glsz) AS c
       |  FROM doctok dt JOIN vocab USING (tok) JOIN replang rl ON dt.doc_id = rl.rep_id
       |  GROUP BY rl.lang, dt.tok
       |), totals AS (
       |  -- over ALL languages: a class with zero in-vocab tokens still gets
       |  -- smoothed 1/(0+V) cells instead of dropping out of the model
       |  SELECT l.lang, coalesce(sum(lt.c), 0) AS tl
       |  FROM (SELECT DISTINCT lang FROM documents) l
       |  LEFT JOIN langtok lt USING (lang) GROUP BY l.lang
       |), priors AS (
       |  SELECT lang, CAST(round(ln(CAST(count(*) AS DOUBLE) /
       |           CAST((SELECT count(*) FROM documents) AS DOUBLE)) * $Scale) AS BIGINT) AS prior_fp
       |  FROM documents GROUP BY lang
       |), model AS (
       |  SELECT t.lang, v.tok,
       |         CAST(round(ln(CAST(coalesce(lt.c, 0) + 1 AS DOUBLE) /
       |           CAST(t.tl + (SELECT count(*) FROM vocab) AS DOUBLE)) * $Scale) AS BIGINT) AS s_fp
       |  FROM totals t CROSS JOIN vocab v
       |  LEFT JOIN langtok lt ON lt.lang = t.lang AND lt.tok = v.tok
       |), scores AS (
       |  SELECT dt.doc_id, m.lang, sum(dt.n * m.s_fp) AS tok_fp
       |  FROM doctok dt JOIN model m USING (tok)
       |  GROUP BY dt.doc_id, m.lang
       |), scored AS (
       |  SELECT r.doc_id, p.lang,
       |         coalesce(s.tok_fp, 0) + p.prior_fp AS score
       |  FROM reps r CROSS JOIN priors p
       |  LEFT JOIN scores s ON s.doc_id = r.doc_id AND s.lang = p.lang
       |), pred AS (
       |  SELECT doc_id AS rep_id, lang AS pred_lang,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
       |  FROM scored
       |)
       |SELECT rl.lang, p.pred_lang, CAST(sum(rl.glsz) AS BIGINT) AS n_docs
       |FROM replang rl JOIN pred p ON rl.rep_id = p.rep_id AND p.rk = 1
       |GROUP BY rl.lang, p.pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
}
