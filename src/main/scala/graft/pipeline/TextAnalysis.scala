package graft.pipeline

import graft.C
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (beyond the reference's own operators;
  * see the build brief). Everything is expression-only (whole-stage
  * codegen, no UDFs), and every output is exactly reproducible in the
  * DuckDB oracle: token counts are integers, ratios are double divisions
  * of exact integers.
  *
  * Token model shared by all operators (and by [[Dedup]]): split on single
  * spaces, drop empty tokens. DuckDB twin:
  * `list_filter(string_split(text, ' '), x -> len(x) > 0)`.
  */
object TextAnalysis {

  /** tokens array column from a text column. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  val tokensSql = "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  private[graft] val stopwords = Seq("the", "a", "of", "and", "or", "in", "on", "is")

  /** Exact-dup canonicalization wrapper for per-doc reports whose every
    * output column is a pure function of `text`: run `core` on the
    * distinct-text reps only ([[Dedup.canonicalTexts]]), then every member
    * inherits its rep's row through an output-sized join. The quotient
    * identity proven per-operator by the A/B specs; at the ×100 replica
    * (100 exact copies per text) this removes ~99 % of the per-doc
    * expression work. `outCols` fixes the projection; `sortCols` the
    * presentation order (doc_id first by convention).
    */
  private[graft] def perDocCanonical(documents: DataFrame,
      core: DataFrame => DataFrame, outCols: Seq[String],
      sortCols: Seq[String] = Seq("doc_id")): DataFrame = {
    val (_, members, reps) = Dedup.canonicalTexts(documents)
    members.join(core(reps).withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"))
      .select(col("doc_id") +: outCols.map(col): _*)
      .orderBy(sortCols.map(col): _*)
  }

  /** The stopword list as a DuckDB list literal — shared by every oracle
    * that inlines the quality expression. */
  private[pipeline] def stopwordsSqlList: String =
    stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Per-document statistics: token count, char count, stopword count,
    * distinct-token count, type-token ratio, stopword ratio, and a simple
    * composite quality score — the length/stopword-ratio family of quality
    * heuristics used to filter web corpora.
    */
  def textStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(col("doc_id"), toks.as("toks"), length(col("text")).cast("long").as("n_chars"))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), t => t.isin(stopwords.map(lit): _*))).cast("long").as("n_stop"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      // tokenless contract (adversarial-SF rows '', '   ', NULL): ratios
      // over zero tokens are NULL, never a 0-divisor — ANSI mode makes the
      // bare division an engine-killing error on ONE empty doc, and the
      // DuckDB twin's float division would yield inf/nan instead of NULL
      .withColumn("ttr",
        col("n_distinct").cast("double") / nullif(col("n_tokens"), lit(0L)))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / nullif(col("n_tokens"), lit(0L)))
      .withColumn("quality_score", (col("ttr") + col("stop_ratio")) / lit(2.0))
      .orderBy(col("doc_id"))
  }

  /** [[textStats]] canonicalized over distinct texts — the registered
    * query form (the per-row [[textStats]] core stays for callers that
    * already hold a rep relation, e.g. [[Dedup.dedupKeepBest]]). Every
    * output column is a pure function of the text.
    */
  def textStatsCanonical(documents: DataFrame): DataFrame =
    perDocCanonical(documents, textStats, Seq("n_chars", "n_tokens", "n_stop",
      "n_distinct", "ttr", "stop_ratio", "quality_score"))

  val textStatsSql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH ts_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), ts_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM ts_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |         $tokensSql AS toks
       |  FROM documents d JOIN ts_r ON d.doc_id = ts_r.rep_id
       |), s AS (
       |  SELECT doc_id, n_chars,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS BIGINT) AS n_stop,
       |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |  FROM t
       |), rs AS MATERIALIZED (
       |  SELECT doc_id AS rep_id, n_chars, n_tokens, n_stop, n_distinct,
       |         CAST(n_distinct AS DOUBLE) / nullif(n_tokens, 0) AS ttr,
       |         CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0) AS stop_ratio,
       |         (CAST(n_distinct AS DOUBLE) / nullif(n_tokens, 0) + CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0)) / 2.0 AS quality_score
       |  FROM s
       |)
       |SELECT g.doc_id, rs.n_chars, rs.n_tokens, rs.n_stop, rs.n_distinct,
       |       rs.ttr, rs.stop_ratio, rs.quality_score
       |FROM ts_g g JOIN ts_r r USING (gid) JOIN rs ON rs.rep_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "los", "una", "y"),
    "fr" -> Seq("le", "les", "une", "et"))

  /** Marker-word language ID (n-gram-heuristic family): score each language
    * by its function-word hits, argmax with a fixed tie order, `und`
    * (undetermined) when no marker fires. Deterministic by construction —
    * accuracy depends on the corpus, the contract is the decision function.
    */
  def langId(documents: DataFrame): DataFrame = {
    // one native tokenizing pass counts every language's marker hits
    // (value-identical to the per-language filter lambdas, incl. the
    // NULL-text → null scores → 'und' fallthrough; A/B'd in TextNativeSpec)
    val mc = graft.functions.TextFunctions.markerCounts(col("text"), langMarkers.map(_._2))
    val scored = documents.select(col("doc_id"), col("lang").as("label_lang"), mc.as("mc"))
      .select(
        Seq(col("doc_id"), col("label_lang")) ++ langMarkers.zipWithIndex.map {
          case ((l, _), i) => element_at(col("mc"), i + 1).as(s"s_$l")
        }: _*)
    val pred = langMarkers.foldRight(lit("und")) { case ((l, _), els) =>
      val s = col(s"s_$l")
      val beatsLater = langMarkers.dropWhile(_._1 != l).drop(1)
        .map { case (o, _) => s >= col(s"s_$o") }
        .foldLeft(s > 0)(_ && _)
      val beatsEarlier = langMarkers.takeWhile(_._1 != l)
        .map { case (o, _) => s > col(s"s_$o") }
        .foldLeft(lit(true))(_ && _)
      when(beatsLater && beatsEarlier, lit(l)).otherwise(els)
    }
    scored
      .withColumn("pred_lang", pred)
      .withColumn("is_match", (col("pred_lang") === col("label_lang")).cast("boolean"))
      .select(col("doc_id"), col("label_lang"), col("pred_lang"), col("is_match"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    def cnt(ms: Seq[String]) = {
      val list = ms.map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(toks, x -> list_contains($list, x))) AS BIGINT)"
    }
    val scores = langMarkers.map { case (l, ms) => s"${cnt(ms)} AS s_$l" }.mkString(",\n         ")
    // identical argmax: a language wins if score > 0, >= all later, > all earlier
    val cases = langMarkers.zipWithIndex.map { case ((l, _), i) =>
      val later = langMarkers.drop(i + 1).map { case (o, _) => s"s_$l >= s_$o" }
      val earlier = langMarkers.take(i).map { case (o, _) => s"s_$l > s_$o" }
      val conds = (s"s_$l > 0" +: (later ++ earlier)).mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n              ")
    // canonical: pred_lang is a pure function of the text — score one rep
    // per distinct text, join the per-doc label back through the group key
    s"""WITH li_g AS MATERIALIZED (
       |  SELECT doc_id, lang AS label_lang, ${C.textGidSql("text")} AS gid
       |  FROM documents
       |), li_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM li_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, $tokensSql AS toks
       |  FROM documents d JOIN li_r ON d.doc_id = li_r.rep_id
       |), s AS (
       |  SELECT doc_id,
       |         $scores
       |  FROM t
       |), p AS MATERIALIZED (
       |  SELECT doc_id AS rep_id,
       |         CASE $cases
       |              ELSE 'und' END AS pred_lang
       |  FROM s
       |)
       |SELECT g.doc_id, g.label_lang, p.pred_lang,
       |       p.pred_lang = g.label_lang AS is_match
       |FROM li_g g JOIN li_r r USING (gid) JOIN p ON p.rep_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin
  }

  /** Order-sensitive document fingerprint: XOR of 60-bit hashes of
    * (position, token) pairs. Associative+commutative over the hashed pairs,
    * so Spark computes it as a partial-aggregatable `bit_xor` — one skinny
    * shuffle of (doc_id, fp) partials regardless of document length. Word
    * order changes the fingerprint (position is hashed in), matching the
    * rolling-hash use case.
    */
  def docFingerprint(documents: DataFrame): DataFrame = {
    // CANONICAL over distinct texts: the fingerprint is a pure function of
    // the token sequence, so the position-hash explode + xor fold run once
    // per distinct text. Token-less docs emit no row in both forms (the
    // naive posexplode produced none; the rep has no fold row and the
    // member join is inner).
    perDocCanonical(documents, reps => reps
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"),
        C.md5Long(concat((col("pos") + 1).cast("string"), lit(":"), col("tok"))).as("h"))
      .groupBy(col("doc_id"))
      .agg(expr("bit_xor(h)").as("fingerprint")), Seq("fingerprint"))
  }

  val docFingerprintSql: String =
    s"""WITH fp_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), fp_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM fp_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, $tokensSql AS toks
       |  FROM documents d JOIN fp_r ON d.doc_id = fp_r.rep_id
       |), e AS (
       |  SELECT doc_id,
       |         ${C.md5LongSql("concat(CAST(i AS VARCHAR), ':', toks[i])")} AS h
       |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)
       |), rf AS MATERIALIZED (
       |  SELECT doc_id AS rep_id, bit_xor(h) AS fingerprint FROM e GROUP BY doc_id
       |)
       |SELECT g.doc_id, rf.fingerprint
       |FROM fp_g g JOIN fp_r r USING (gid) JOIN rf ON rf.rep_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin

  /** Per-language document-length quantiles (exact linear-interpolation
    * percentiles — corpus length profiling for data budgeting).
    */
  def docLengthQuantiles(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(
        expr("percentile(n_chars, 0.25)").as("q25"),
        expr("percentile(n_chars, 0.5)").as("q50"),
        expr("percentile(n_chars, 0.75)").as("q75"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val docLengthQuantilesSql: String =
    """SELECT lang,
      |  quantile_cont(n_chars, 0.25) AS q25,
      |  quantile_cont(n_chars, 0.5) AS q50,
      |  quantile_cont(n_chars, 0.75) AS q75,
      |  count(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Approximate per-language length quantiles — the 100 TB path for
    * [[docLengthQuantiles]]: `approx_percentile` aggregates a bounded
    * mergeable sketch per group (memory ∝ accuracy, not rows), where the
    * exact form buffers every value per group. Raw estimate form for the
    * property tests; the registered query is the graded
    * [[docLengthQuantilesApprox]].
    */
  def docLengthQuantilesApproxRaw(documents: DataFrame, accuracy: Int = 10000): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(
        expr(s"approx_percentile(n_chars, 0.25, $accuracy)").cast("double").as("q25"),
        expr(s"approx_percentile(n_chars, 0.5, $accuracy)").cast("double").as("q50"),
        expr(s"approx_percentile(n_chars, 0.75, $accuracy)").cast("double").as("q75"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** [[docLengthQuantilesApproxRaw]] graded for the driver's DuckDB gate.
    * `approx_percentile` returns an actual data value whose RANK is within
    * ±(n/accuracy) of the target — value closeness is not guaranteed, so
    * the verdict is rank-based: a second (broadcast-joined) pass counts how
    * many of the group's values fall strictly below / at-or-below each
    * estimate, and `within_bound` is 1 iff the estimate's rank interval
    * `(lt, le]` overlaps `[⌈p·n⌉ − err, ⌈p·n⌉ + err]` with
    * `err = n/accuracy + 1` for all three quantiles. The oracle recomputes
    * the group sizes and emits literal 1 — a sketch whose estimate leaves
    * its rank envelope breaks the hash.
    */
  def docLengthQuantilesApprox(documents: DataFrame, accuracy: Int = 10000): DataFrame = {
    val approx = documents
      .groupBy(col("lang"))
      .agg(
        expr(s"approx_percentile(n_chars, 0.25, $accuracy)").as("a25"),
        expr(s"approx_percentile(n_chars, 0.5, $accuracy)").as("a50"),
        expr(s"approx_percentile(n_chars, 0.75, $accuracy)").as("a75"),
        count(lit(1)).as("n_docs"))
    def cnt(cmp: Column): Column = sum(when(cmp, 1L).otherwise(0L))
    val ranked = documents.join(broadcast(approx), "lang")
      .groupBy(col("lang"))
      .agg(
        cnt(col("n_chars") < col("a25")).as("lt25"),
        cnt(col("n_chars") <= col("a25")).as("le25"),
        cnt(col("n_chars") < col("a50")).as("lt50"),
        cnt(col("n_chars") <= col("a50")).as("le50"),
        cnt(col("n_chars") < col("a75")).as("lt75"),
        cnt(col("n_chars") <= col("a75")).as("le75"),
        first(col("n_docs")).as("n_docs"))
    val err = col("n_docs").cast("double") / accuracy + 1.0
    def rankOk(p: Double, lt: Column, le: Column): Column = {
      val target = ceil(col("n_docs") * p)
      (lt.cast("double") < target + err) && (le.cast("double") >= target - err)
    }
    ranked.select(col("lang"), col("n_docs"),
      when(rankOk(0.25, col("lt25"), col("le25")) &&
        rankOk(0.5, col("lt50"), col("le50")) &&
        rankOk(0.75, col("lt75"), col("le75")), lit(1L)).otherwise(lit(0L))
        .as("within_bound"))
      .orderBy(col("lang"))
  }

  val docLengthQuantilesApproxSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(1 AS BIGINT) AS within_bound
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Within-document repetition profile (the Gopher-rule family: drop docs
    * dominated by repeated content). Metric: fraction of word bigrams that
    * are duplicates of an earlier bigram in the same document —
    * `1 − distinct/total` — computed entirely in expression space (one
    * `transform` + `array_distinct` per row, no explode, no shuffle).
    * `keep` flags docs at or under [[RepetitionMax]]. Docs with <2 tokens
    * have no bigrams and are dropped (nothing to measure).
    */
  private[graft] val RepetitionMax = 0.20

  /** Stateless core (no sort) — runs unchanged on a stream; see
    * `StreamJobs.docRepetitionStream`. */
  def docRepetitionCore(documents: DataFrame): DataFrame = {
    // tokens are space-free (split ON the space), so distinct joined
    // "w1 w2" strings ≡ distinct (w1, w2) pairs — exactly GopherStats'
    // n_bg/n_bg_dist; one native pass replaces the transform chain whose
    // element_at-per-lambda re-evaluated the tokenization per bigram
    // (O(tokens²) per doc)
    val s = graft.functions.TextFunctions.gopherStats(col("text"))
    documents
      .select(col("doc_id"), s.getField("n_words").as("nw"),
        s.getField("n_bg").as("n_bigrams"), s.getField("n_bg_dist").as("n_distinct_bigrams"))
      .filter(col("nw") >= 2)
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"))
      .withColumn("dup_frac",
        lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"))
      .withColumn("keep", when(col("dup_frac") <= RepetitionMax, 1L).otherwise(0L))
  }

  def docRepetition(documents: DataFrame): DataFrame =
    perDocCanonical(documents, docRepetitionCore,
      Seq("n_bigrams", "n_distinct_bigrams", "dup_frac", "keep"))

  val docRepetitionSql: String =
    s"""WITH dr_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), dr_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM dr_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, $tokensSql AS toks
       |  FROM documents d JOIN dr_r ON d.doc_id = dr_r.rep_id
       |), b AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(1, len(toks) - 1),
       |           i -> concat(toks[i], ' ', toks[i + 1])) AS bigrams
       |  FROM t WHERE len(toks) >= 2
       |), c AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       |         CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams
       |  FROM b
       |)
       |SELECT g.doc_id, c.n_bigrams, c.n_distinct_bigrams,
       |       1.0 - CAST(c.n_distinct_bigrams AS DOUBLE) / c.n_bigrams AS dup_frac,
       |       CAST(CASE WHEN 1.0 - CAST(c.n_distinct_bigrams AS DOUBLE) / c.n_bigrams <= $RepetitionMax
       |            THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM dr_g g JOIN dr_r r USING (gid) JOIN c ON c.doc_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin

  /** PII scrubbing: count and redact email addresses and US-style phone
    * numbers with patterns valid in both Java regex (Spark) and RE2
    * (DuckDB), so the REDACTED TEXT ITSELF is oracle-checked, not just the
    * counts. Pure per-row `regexp_replace`/`regexp_count` — codegen'd,
    * no UDF, trivially parallel at any scale.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Stateless core (no sort) — runs unchanged on a stream; see
    * `StreamJobs.piiRedactStream`. */
  def piiRedactCore(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .withColumn("n_chars_redacted", length(col("redacted")).cast("long"))

  def piiRedact(documents: DataFrame): DataFrame = {
    // CANONICAL over distinct texts: the two regex counts and the
    // two-pass replace are pure functions of the text — the regex battery
    // runs once per distinct text ([[piiRedactCore]] stays the per-row
    // core the streaming twin maps). A NULL-text rep carries NULL
    // counts/redaction to every member, as the per-doc form did.
    perDocCanonical(documents, piiRedactCore,
      Seq("n_emails", "n_phones", "redacted", "n_chars_redacted"))
  }

  val piiRedactSql: String =
    s"""WITH pii_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), pii_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM pii_g GROUP BY gid
       |), rr AS MATERIALIZED (
       |  SELECT d.doc_id AS rep_id,
       |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       |       regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |                      '$PhoneRe', '<PHONE>', 'g') AS redacted,
       |       CAST(length(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |                      '$PhoneRe', '<PHONE>', 'g')) AS BIGINT) AS n_chars_redacted
       |  FROM documents d JOIN pii_r ON d.doc_id = pii_r.rep_id
       |)
       |SELECT g.doc_id, rr.n_emails, rr.n_phones, rr.redacted, rr.n_chars_redacted
       |FROM pii_g g JOIN pii_r r USING (gid) JOIN rr ON rr.rep_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin

  /** Corpus vocabulary profile: the `k` most frequent tokens with counts
    * and corpus share — the tokenizer-training / stopword-discovery
    * precursor. Shape: explode → hash-agg (map-side partial combine, so
    * the shuffle carries one row per distinct token per partition, never
    * per occurrence) → global top-k as `TakeOrderedAndProject` (each
    * partition ships only its k best). Total tiebreak on token keeps the
    * ranking hash-stable.
    */
  def vocabTopK(documents: DataFrame, k: Int = 100): DataFrame = {
    val counts = documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    // denominator = one broadcast scalar row derived from the same agg —
    // no eager action, no second corpus scan
    counts
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .select(col("token"), col("cnt"),
        (col("cnt").cast("double") / col("total")).as("share"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
  }

  def vocabTopKSql(k: Int = 100): String =
    s"""WITH tok AS (
       |  SELECT u.tok AS token
       |  FROM (SELECT $tokensSql AS toks FROM documents) t, unnest(toks) AS u(tok)
       |), c AS (
       |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
       |)
       |SELECT token, cnt, CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM c) AS share
       |FROM c ORDER BY cnt DESC, token LIMIT $k""".stripMargin

  /** Whitespace + BPE-ish token count: whitespace tokens plus an extra count
    * for sub-word-ish chunks (runs of >6 chars count an extra token per 4
    * chars) — a deterministic proxy for BPE token counting used to budget
    * training data.
    */
  def tokenCount(documents: DataFrame): DataFrame =
    perDocCanonical(documents, tokenCountCore,
      Seq("ws_tokens", "extra_subword", "bpe_est"))

  private[graft] def tokenCountCore(documents: DataFrame): DataFrame =
    documents
      // tokenless contract: a NULL text counts exactly like '' — zero
      // tokens, zero subword extras (the twin coalesces the same way;
      // without this, DuckDB's list_sum([]) → NULL turned bpe_est into
      // NaN while the engine's fold over [] gave 0)
      .select(col("doc_id"),
        coalesce(tokens(col("text")), typedLit(Array.empty[String])).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("ws_tokens"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + when(length(t) > 6, ((length(t) - 7) / 4 + 1).cast("long")).otherwise(0L))
          .as("extra_subword"))
      .withColumn("bpe_est", col("ws_tokens") + col("extra_subword"))

  val tokenCountSql: String =
    s"""WITH tc_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), tc_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM tc_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, coalesce($tokensSql, []) AS toks
       |  FROM documents d JOIN tc_r ON d.doc_id = tc_r.rep_id
       |), m AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS ws_tokens,
       |         CAST(coalesce(list_sum(list_transform(toks,
       |           x -> CASE WHEN len(x) > 6 THEN (len(x) - 7) // 4 + 1 ELSE 0 END)), 0)
       |              AS BIGINT) AS extra_subword
       |  FROM t
       |)
       |SELECT g.doc_id, m.ws_tokens, m.extra_subword,
       |       m.ws_tokens + m.extra_subword AS bpe_est
       |FROM tc_g g JOIN tc_r r USING (gid) JOIN m ON m.doc_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin

  /** (doc_id, token) with one row per token OCCURRENCE — the shared base
    * relation for the corpus-statistics operators below. */
  private def tokenOccurrences(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), explode(tokens(col("text"))).as("token"))

  /** Exact-dup canonicalization front door for the corpus-model scoring
    * family (docRarity / docTopTerms / lmDocScores / pmiModel /
    * docLmBackoff): returns (weighted reps (doc_id = rep_id, text, gsz),
    * member map (rep_id, doc_id)). Model counts weight rep occurrences by
    * gsz — the exact integers the naive per-copy streams produce — and
    * per-rep scores are pure functions of (text, model), so members
    * inherit their rep's row through output-sized joins. The
    * [[graft.pipeline.Dedup.canonicalTexts]] argument, applied to the
    * model-scoring shape. */
  private def canonicalWeighted(documents: DataFrame): (DataFrame, DataFrame) = {
    val (grp, members, reps) = Dedup.canonicalTexts(documents)
    (reps.join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id")),
      members)
  }

  /** Corpus-frequency document scoring (the "rare-token" quality family:
    * flag docs made of very common — boilerplate — or very rare — garbage —
    * vocabulary). Two-phase corpus statistic: (1) global per-token
    * occurrence counts (explode → hash-agg with map-side combine, shuffle
    * carries one row per distinct token per partition); (2) join the
    * counts back onto token occurrences keyed by token and re-aggregate
    * per doc. The join side (2) is the vocabulary relation — orders of
    * magnitude smaller than the corpus (Heaps' law), so at scale AQE
    * converts it to a broadcast join and the skew on stop-tokens never
    * shuffles the occurrence stream; integer sums + one final division
    * keep the result bit-exact vs the oracle. Docs with zero tokens have
    * no occurrences and drop out (same in both engines).
    */
  def docRarity(documents: DataFrame): DataFrame = {
    // canonical: corpus token frequencies are gsz-weighted rep counts
    // (identical integers); per-doc stats are pure functions of
    // (text, freq table) and expand through the member map
    val (repsW, members) = canonicalWeighted(documents)
    val occ = repsW
      .select(col("doc_id"), col("gsz"), explode(tokens(col("text"))).as("token"))
      .localCheckpoint(eager = true) // freq agg + scoring both read it
    val freq = occ.groupBy(col("token")).agg(sum(col("gsz")).as("freq"))
    val repStats = occ.join(freq, "token")
      .groupBy(col("doc_id").as("rep_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("freq")).as("freq_sum"),
        min(col("freq")).as("min_freq"))
    members.join(repStats, Seq("rep_id"))
      .select(col("doc_id"), col("n_tokens"), col("freq_sum"), col("min_freq"))
      .withColumn("mean_freq", col("freq_sum").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val docRaritySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, u.tok AS token
       |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents) d, unnest(toks) AS u(tok)
       |), f AS (
       |  SELECT token, count(*) AS freq FROM t GROUP BY token
       |)
       |SELECT t.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(f.freq) AS BIGINT) AS freq_sum,
       |       CAST(min(f.freq) AS BIGINT) AS min_freq,
       |       CAST(sum(f.freq) AS DOUBLE) / count(*) AS mean_freq
       |FROM t JOIN f USING (token)
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** Characteristic terms per document — the tf-idf family without float
    * logs: rank a doc's terms by (term frequency DESC, corpus document
    * frequency ASC, token ASC) and keep the top [[TopTermsK]]. All-integer
    * ranking keys make the result hash-exact across engines. Shape:
    * explode → (doc_id, token) hash-agg for tf → token hash-agg for df
    * (computed FROM tf, so df's input is already one row per (doc, token),
    * not per occurrence) → join back keyed by token (vocabulary-sized
    * side — broadcastable at scale, see [[docRarity]]) → per-doc top-k,
    * which Catalyst rewrites to a WindowGroupLimit partial top-k, so only
    * k rows per doc per partition reach the final shuffle.
    */
  def docTopTerms(documents: DataFrame): DataFrame = {
    // canonical: per-doc tf is per-rep tf; document frequency counts
    // DOCUMENTS containing the token = Σ gsz over the reps containing it
    // (identical integers); ranks are pure functions of (tf, df, token)
    // so members inherit their rep's top-k rows
    val (repsW, members) = canonicalWeighted(documents)
    val tf = repsW
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true) // df agg + rank both read it
    val df = tf
      .join(repsW.select(col("doc_id"), col("gsz")), Seq("doc_id"))
      .groupBy(col("token")).agg(sum(col("gsz")).as("df"))
    val repTop = tf.join(df, "token")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("token").asc)).cast("long"))
      .filter(col("rank") <= TopTermsK)
      .select(col("doc_id").as("rep_id"), col("rank"), col("token"), col("tf"), col("df"))
    members.join(repTop, Seq("rep_id"))
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val TopTermsK = 3

  val docTopTermsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, u.tok AS token
       |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents) d, unnest(toks) AS u(tok)
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token
       |), df AS (
       |  SELECT token, count(*) AS df FROM tf GROUP BY token
       |), ranked AS (
       |  SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
       |         row_number() OVER (PARTITION BY tf.doc_id
       |                            ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rank
       |  FROM tf JOIN df USING (token)
       |)
       |SELECT doc_id, rank, token, tf, df
       |FROM ranked WHERE rank <= $TopTermsK ORDER BY doc_id, rank""".stripMargin

  /** Chunk size / stride (tokens) for [[docChunks]] — stride < size gives
    * the overlapping windows used for training-sample prep. */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** Fixed-token-window chunking with overlap — the step that turns
    * curated documents into training samples. Each doc emits windows of
    * [[ChunkTokens]] tokens every [[ChunkStride]] tokens (final window may
    * be short; empty docs emit nothing). Expression-only explode: the
    * chunk list is built per row and exploded, so the operator is
    * embarrassingly parallel and its output size is input × size/stride —
    * the only scale knob that matters. All-integer offsets + joined token
    * text keep it hash-exact.
    */
  /** Stateless core (no sort) — runs unchanged on a stream; see
    * `StreamJobs.docChunksStream`. */
  def docChunksCore(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start_tok"))
      .select(col("doc_id"),
        ((col("start_tok") - 1) / ChunkStride).cast("long").as("chunk_idx"),
        col("start_tok").cast("long"),
        slice(col("toks"), col("start_tok"), lit(ChunkTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))

  def docChunks(documents: DataFrame): DataFrame =
    perDocCanonical(documents, docChunksCore,
      Seq("chunk_idx", "start_tok", "n_chunk_tokens", "chunk_text"),
      sortCols = Seq("doc_id", "chunk_idx"))

  /** Shared CTE prefix producing the chunk relation (doc_id, chunk_idx,
    * start_tok, chunk) — used by [[docChunksSql]] and [[dedupChunksSql]]
    * so the two oracles cannot drift. Declared before both (object-val
    * init order). */
  /** Rep-level chunk CTEs with group sizes (mirrors [[dedupChunks]]'s
    * canonical form). */
  private val chunkCtesSql: String =
    s"""ck_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), ck_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id, count(*) AS gsz FROM ck_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, ck_r.gsz, $tokensSql AS toks
       |  FROM documents d JOIN ck_r ON d.doc_id = ck_r.rep_id
       |), c AS (
       |  SELECT doc_id, gsz, toks, CAST(u.s AS BIGINT) AS start_tok
       |  FROM t, unnest(generate_series(1, len(toks), $ChunkStride)) AS u(s)
       |  WHERE len(toks) > 0
       |), s AS (
       |  SELECT doc_id, gsz,
       |         (start_tok - 1) // $ChunkStride AS chunk_idx,
       |         start_tok,
       |         list_slice(toks, start_tok, least(start_tok + ${ChunkTokens - 1}, len(toks))) AS chunk
       |  FROM c
       |)""".stripMargin

  val docChunksSql: String =
    s"""WITH dk_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), dk_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM dk_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, $tokensSql AS toks
       |  FROM documents d JOIN dk_r ON d.doc_id = dk_r.rep_id
       |), c AS (
       |  SELECT doc_id, toks, CAST(u.s AS BIGINT) AS start_tok
       |  FROM t, unnest(generate_series(1, len(toks), $ChunkStride)) AS u(s)
       |  WHERE len(toks) > 0
       |), s AS MATERIALIZED (
       |  SELECT doc_id,
       |         (start_tok - 1) // $ChunkStride AS chunk_idx,
       |         start_tok,
       |         list_slice(toks, start_tok, least(start_tok + ${ChunkTokens - 1}, len(toks))) AS chunk
       |  FROM c
       |)
       |SELECT g.doc_id, s.chunk_idx, s.start_tok,
       |       CAST(len(s.chunk) AS BIGINT) AS n_chunk_tokens,
       |       array_to_string(s.chunk, ' ') AS chunk_text
       |FROM dk_g g JOIN dk_r r USING (gid) JOIN s ON s.doc_id = r.rep_id
       |ORDER BY g.doc_id, s.chunk_idx""".stripMargin

  /** Chunk-level exact dedup — sub-document granularity (the C4-style
    * paragraph-dedup analog for this corpus): boilerplate spans repeated
    * ACROSS documents dedup at the chunk level even when whole documents
    * differ. One hash-groupBy over the chunk relation; the min
    * (doc_id, chunk_idx) struct is the deterministic keeper and the
    * shuffle carries one row per distinct chunk hash per partition
    * (map-side combine), linear at any corpus size.
    */
  /** Chunk-level exact dedup, canonicalized ([[Dedup.canonicalTexts]]):
    * a doc's chunk stream is a pure function of its text, so chunks are
    * built from reps only and each rep instance carries its group size.
    * Identities: n_copies per hash = Σ gsz over rep instances; the keeper
    * min(doc_id, chunk_idx) over doc instances equals the min over REP
    * instances, because every member of a group is ≥ its rep_id (rep_id
    * IS the group min) and holds the same chunk_idx set. One hash-agg,
    * corpus-size work only in the bounded rep chunk stream.
    */
  def dedupChunks(documents: DataFrame): DataFrame = {
    val (grp, _, reps) = Dedup.canonicalTexts(documents)
    docChunksCore(reps).withColumnRenamed("doc_id", "rep_id")
      .join(grp.select(col("rep_id"), col("gsz")), Seq("rep_id"))
      .groupBy(md5(col("chunk_text")).as("chunk_hash"))
      .agg(sum(col("gsz")).as("n_copies"),
        min(struct(col("rep_id").as("doc_id"), col("chunk_idx"))).as("first"))
      .select(col("chunk_hash"),
        col("first.doc_id").as("keep_doc_id"),
        col("first.chunk_idx").as("keep_chunk_idx"),
        col("n_copies"))
      .orderBy(col("keep_doc_id"), col("keep_chunk_idx"))
  }

  val dedupChunksSql: String =
    s"""WITH $chunkCtesSql, h AS (
       |  SELECT doc_id, gsz, chunk_idx,
       |         md5(array_to_string(chunk, ' ')) AS chunk_hash
       |  FROM s
       |), ranked AS (
       |  SELECT chunk_hash, doc_id, chunk_idx,
       |         row_number() OVER (PARTITION BY chunk_hash
       |                            ORDER BY doc_id, chunk_idx) AS rn,
       |         sum(gsz) OVER (PARTITION BY chunk_hash) AS n_copies
       |  FROM h
       |)
       |SELECT chunk_hash, doc_id AS keep_doc_id, chunk_idx AS keep_chunk_idx,
       |       CAST(n_copies AS BIGINT) AS n_copies
       |FROM ranked WHERE rn = 1
       |ORDER BY keep_doc_id, keep_chunk_idx""".stripMargin

  /** Non-overlapping block size (tokens) for [[boilerplateStrip]] — the
    * "line" unit of C4's boilerplate rule on a corpus whose text carries
    * no newlines. */
  private[graft] val BpBlockTokens = 16

  /** Corpus-occurrence cap: blocks appearing MORE than this many times
    * are stripped (C4 removed lines occurring three or more times — kept
    * ≤ 2). */
  private[graft] val BpMaxCopies = 2

  /** (doc_id, block_idx, block_text): the non-overlapping block relation
    * [[boilerplateStrip]] and [[boilerplateBlockCounts]] share. */
  private def bpBlocks(documents: DataFrame): DataFrame = documents
    .select(col("doc_id"), tokens(col("text")).as("toks"))
    .filter(size(col("toks")) > 0)
    .select(col("doc_id"),
      explode(sequence(lit(1), size(col("toks")), lit(BpBlockTokens))).as("s"),
      col("toks"))
    .select(col("doc_id"),
      ((col("s") - 1) / BpBlockTokens).cast("long").as("block_idx"),
      concat_ws(" ", slice(col("toks"), col("s"), lit(BpBlockTokens))).as("block_text"))

  /** Corpus-wide block occurrence counts (h = md5(block_text), n) — the
    * whole global state of boilerplate stripping; built offline over the
    * historical corpus and shipped to the streaming rewriter
    * ([[graft.streaming.StreamJobs.boilerplateStripStream]]).
    */
  def boilerplateBlockCounts(documents: DataFrame): DataFrame =
    bpBlocks(documents)
      .groupBy(md5(col("block_text")).as("h"))
      .agg(count(lit(1)).as("n"))

  /** C4-style boilerplate stripping with CLEANED TEXT output: each
    * document splits into non-overlapping [[BpBlockTokens]]-token blocks,
    * a block is boilerplate when its text occurs more than
    * [[BpMaxCopies]] times corpus-wide (within- and cross-document
    * occurrences both count, as in C4), and the document is rebuilt from
    * its surviving blocks in order. Unlike [[dedupChunks]] (which
    * *reports* duplicate training-prep windows), this operator emits the
    * transformed corpus — the rewrite step of the pipeline.
    *
    * Shape at 100 TB: the occurrence count groups on the 128-bit block
    * hash computed map-side (no block text in that exchange); the
    * count relation joins back 1:N on the same hash (co-partitioned,
    * AQE-broadcast when small); reconstruction is one per-doc hash-agg
    * whose collect is bounded by the document's own block count. A
    * million-copy boilerplate block is ONE row in the count relation —
    * hot blocks fan out 1:N in the join, never pairwise. Reconstructed
    * text is whitespace-normalized (single spaces), same as the token
    * model.
    */
  def boilerplateStrip(documents: DataFrame): DataFrame = {
    val blocks = bpBlocks(documents)
    val counts = boilerplateBlockCounts(documents)
    val rebuilt = blocks
      .withColumn("h", md5(col("block_text")))
      .join(counts, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("n") > BpMaxCopies, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("n") <= BpMaxCopies,
            struct(col("block_idx"), col("block_text"))))),
          x => x.getField("block_text")), " ").as("clean_text"))
    documents.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .withColumn("n_clean_chars", length(col("clean_text")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[boilerplateStrip]] — same block split, same
    * corpus-wide count-on-hash, same ordered reconstruction
    * (`string_agg` skips the stripped blocks' NULLs, ordered by
    * block_idx — the `array_sort`/`transform` mirror).
    */
  val boilerplateStripSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents
       |), b AS (
       |  SELECT doc_id,
       |         CAST((u.s - 1) // $BpBlockTokens AS BIGINT) AS block_idx,
       |         array_to_string(toks[u.s : u.s + ${BpBlockTokens - 1}], ' ') AS block_text
       |  FROM t, unnest(generate_series(1, len(toks), $BpBlockTokens)) AS u(s)
       |  WHERE len(toks) > 0
       |), c AS (
       |  SELECT md5(block_text) AS h, count(*) AS n FROM b GROUP BY 1
       |), k AS (
       |  SELECT doc_id,
       |         CAST(count(*) AS BIGINT) AS n_blocks,
       |         CAST(sum(CASE WHEN c.n > $BpMaxCopies THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |         string_agg(CASE WHEN c.n <= $BpMaxCopies THEN block_text END,
       |                    ' ' ORDER BY block_idx) AS clean_text
       |  FROM b JOIN c ON md5(b.block_text) = c.h
       |  GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       coalesce(k.n_blocks, 0) AS n_blocks,
       |       coalesce(k.n_dropped, 0) AS n_dropped,
       |       coalesce(k.clean_text, '') AS clean_text,
       |       CAST(length(coalesce(k.clean_text, '')) AS BIGINT) AS n_clean_chars
       |FROM documents d LEFT JOIN k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ── Bigram-LM quality score (perplexity-filter family) ──────────────

  /** Fixed-point resolution for per-bigram surprisal: 1e-4 nats. Rounding
    * happens ONCE per distinct bigram *type* in the model relation (the
    * same round-to-integer-then-exact-sums recipe as the ADC kNN scans,
    * [[Knn.knnIvfAdc]]); both engines' `ln` are within 1 ulp (~2e-16
    * relative) of the true value, so a cross-engine mismatch needs a true
    * surprisal within ~1e-11 of a 0.5e-4 rounding boundary — negligible at
    * vocabulary-squared type counts, and deterministic per dataset.
    */
  private[graft] val LmScale = 10000L

  /** Keep threshold on MEAN surprisal, pre-scaled by [[LmScale]]: 6.0 nats
    * (perplexity ≈ 403). The verdict compares integer totals
    * (`nll_fp ≤ n_bigrams · LmKeepFp`) — no division anywhere.
    */
  private[graft] val LmKeepFp = 60000L

  /** Array of `(w1, w2)` structs for a text's adjacent token pairs —
    * expression-only, no UDF (shared with the streaming twin).
    */
  private[graft] def bigramArray(text: Column): Column = {
    val toks = tokens(text)
    val len = greatest(size(toks) - 1, lit(0))
    // two shifted slices zipped — NOT element_at inside a transform lambda,
    // which re-evaluates the tokenization per element (O(tokens²)/doc)
    arrays_zip(slice(toks, lit(1), len).as("w1"), slice(toks, lit(2), len).as("w2"))
  }

  /** Per-(w1, w2) fixed-point surprisal model trained on a corpus — the
    * offline half of the filter; [[docLmScore]] composes it inline,
    * [[graft.streaming.StreamJobs.docLmScoreStream]] joins it statically.
    */
  def lmSurprisalModel(documents: DataFrame): DataFrame = {
    // gsz-weighted canonical counts == naive per-copy counts (see
    // lmDocScores); the trained table is identical either way
    val (repsW, _) = canonicalWeighted(documents)
    val bc = repsW
      .select(col("gsz"), explode(bigramArray(col("text"))).as("g"))
      .select(col("gsz"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("gsz")).as("c2"))
    val pc = bc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    bc.join(pc, "w1").select(col("w1"), col("w2"),
      round(log(col("c1").cast("double") / col("c2")) * LmScale).cast("long").as("s_fp"))
  }

  /** Bigram-LM document scoring — the perplexity-filter family (CCNet /
    * Gopher quality pipelines score documents with a KenLM n-gram model
    * and drop the high-perplexity tail). Self-trained here: the corpus is
    * its own LM, P(w2|w1) = c(w1 w2) / c(w1 ·), so every scored bigram is
    * in-vocabulary by construction (production would broadcast-join a
    * pre-trained model table instead — identical plan shape).
    *
    * Shape at 100 TB: explode to bigram occurrences → one hash-agg to
    * bigram-type counts (map-side combine collapses repeats) → prefix
    * counts re-aggregated FROM the type relation (not the occurrence
    * stream) → surprisal model joined back onto occurrences keyed by
    * (w1, w2). The model side is bigram-type-sized (Heaps-bounded, orders
    * of magnitude under the corpus) — AQE broadcasts it at moderate scale,
    * sort-merge co-partitions at the extreme. Per-doc totals are exact
    * BIGINT sums of once-rounded per-type values ([[LmScale]]), so the
    * result is order-invariant and hash-checked. Docs with <2 tokens have
    * no bigrams and drop out (same in both engines, as [[docRarity]]).
    */
  /** Unordered per-doc (doc_id, n_bigrams, nll_fp) LM scores — shared core
    * of [[docLmScore]] (keep flag) and [[ccnetBuckets]] (percentile
    * partition).
    */
  private def lmDocScores(documents: DataFrame): DataFrame = {
    // CANONICAL over distinct texts ([[canonicalWeighted]]): the model's
    // bigram-type counts are gsz-weighted rep counts (identical integers),
    // scoring runs once per distinct text, members inherit their rep's
    // (n_bigrams, nll_fp). The self-trained form reads the occurrence
    // stream twice (model counts + scoring) — materialize it once
    // (localCheckpoint → ContextCleaner reclaims, no session leak)
    val (repsW, members) = canonicalWeighted(documents)
    // Materialized at OCCURRENCE level, not aggregated to (rep, bigram
    // type) first: the type aggregation was tried (the docPmiScore shared-
    // explode pattern) and REVERTED — it inserts a (rep, w1, w2) exchange
    // between the explode and the checkpoint that cost more than the
    // smaller checkpoint saved on every measured shape (doc_lm_score solo
    // bench 1.51 → 1.81 s, ccnet_buckets 1.78 → 1.89 s, min of 3 paired
    // passes; natural text has few repeated bigrams per doc, so the
    // type compression is thin). docPmiScore keeps the type form because
    // there it also eliminates a SECOND full canonicalization + explode.
    val bg = repsW
      .select(col("doc_id"), col("gsz"), explode(bigramArray(col("text"))).as("g"))
      .select(col("doc_id"), col("gsz"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .localCheckpoint(eager = true)
    val bc = bg.groupBy(col("w1"), col("w2")).agg(sum(col("gsz")).as("c2"))
    val pc = bc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val model = bc.join(pc, "w1").select(col("w1"), col("w2"),
      round(log(col("c1").cast("double") / col("c2")) * LmScale).cast("long").as("s_fp"))
    val repScores = bg.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id").as("rep_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"), sum(col("s_fp")).as("nll_fp"))
    members.join(repScores, Seq("rep_id"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_fp"))
  }

  def docLmScore(documents: DataFrame): DataFrame =
    lmDocScores(documents)
      .withColumn("keep", (col("nll_fp") <= col("n_bigrams") * LmKeepFp).cast("long"))
      .orderBy(col("doc_id"))

  /** CCNet-style perplexity partition (Wenzek et al. 2020: score documents
    * with an n-gram LM, split the corpus into head/middle/tail at the
    * 1/3 and 2/3 perplexity percentiles, train preferentially on the
    * head). Per-doc mean surprisal (already at [[LmScale]] fixed point)
    * rounds once to an integer `ppl_fp`; tertile thresholds are exact
    * order statistics of the `ppl_fp` histogram; docs with equal scores
    * always land in the same bucket. Output: (doc_id, n_bigrams, nll_fp,
    * ppl_fp, bucket).
    *
    * Shape at 100 TB: the only new work over [[docLmScore]] is the
    * threshold computation, and it runs on the `ppl_fp` HISTOGRAM — mean
    * surprisal is bounded by ln(bigram types) ≈ 35 nats, so the histogram
    * has ≤ ~350 k rows at [[LmScale]] resolution REGARDLESS of corpus
    * size. The unpartitioned cumulative window is over that bounded
    * relation, never the corpus; the thresholds broadcast back and the
    * bucket assignment is map-only.
    */
  /** The head/middle/tail CASE over columns `ppl_fp, t1, t2` — shared by
    * the batch partition and the streaming twin.
    */
  private[graft] def ccnetBucketCase: Column =
    when(col("ppl_fp") <= col("t1"), "head")
      .when(col("ppl_fp") <= col("t2"), "middle")
      .otherwise("tail")

  /** The trained (t1, t2) tertile-threshold row from a scored relation —
    * the one-row "model" CCNet deployments fit offline and ship to
    * assignment ([[graft.streaming.StreamJobs.ccnetBucketStream]] joins it
    * statically).
    */
  private[graft] def ccnetThresholdsFrom(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy(col("ppl_fp")).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("ppl_fp"))))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy()))
    cum.agg(
      min(when(col("cum") * 3 >= col("tot"), col("ppl_fp"))).as("t1"),
      min(when(col("cum") * 3 >= col("tot") * 2, col("ppl_fp"))).as("t2"))
  }

  def ccnetThresholds(documents: DataFrame): DataFrame =
    ccnetThresholdsFrom(lmDocScores(documents)
      .withColumn("ppl_fp",
        round(col("nll_fp").cast("double") / col("n_bigrams")).cast("long")))

  def ccnetBuckets(documents: DataFrame): DataFrame = {
    // feeds the histogram and the assignment — materialize once
    val scored = lmDocScores(documents)
      .withColumn("ppl_fp",
        round(col("nll_fp").cast("double") / col("n_bigrams")).cast("long"))
      .localCheckpoint(eager = true)
    scored.crossJoin(broadcast(ccnetThresholdsFrom(scored)))
      .select(col("doc_id"), col("n_bigrams"), col("nll_fp"), col("ppl_fp"),
        ccnetBucketCase.as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain ending in `perdoc(doc_id, n_bigrams, nll_fp)` — the
    * [[lmDocScores]] mirror feeding [[docLmScoreSql]] and
    * [[ccnetBucketsSql]].
    */
  /** Canonical + MATERIALIZED, mirroring [[lmDocScores]]: the bigram
    * explode runs once per DISTINCT text with gsz-weighted model counts
    * (identical integers to the per-copy streams), and `perdoc` — the
    * member-expanded result — is materialized because its consumers
    * (quality_drift's histogram machinery) reference it repeatedly and
    * DuckDB otherwise re-derives the whole chain per reference (the ×100
    * record priced quality_drift's oracle at 84 s of re-derivation vs
    * doc_lm_score's 8 s for one pass of the same chain).
    */
  private[pipeline] def lmPerDocCtesSql: String =
    s"""WITH lm_docs_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), lm_grp AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id, count(*) AS gsz
       |  FROM lm_docs_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, $tokensSql AS toks, g.gsz
       |  FROM documents d JOIN lm_grp g ON d.doc_id = g.rep_id
       |), bg AS (
       |  SELECT doc_id, gsz, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
       |), bc AS (
       |  SELECT w1, w2, sum(gsz) AS c2 FROM bg GROUP BY w1, w2
       |), pc AS (
       |  SELECT w1, sum(c2) AS c1 FROM bc GROUP BY w1
       |), model AS (
       |  SELECT bc.w1, bc.w2,
       |         CAST(round(ln(CAST(pc.c1 AS DOUBLE) / bc.c2) * $LmScale) AS BIGINT) AS s_fp
       |  FROM bc JOIN pc USING (w1)
       |), perrep AS (
       |  SELECT bg.doc_id AS rep_id,
       |         CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(sum(m.s_fp) AS BIGINT) AS nll_fp
       |  FROM bg JOIN model m USING (w1, w2)
       |  GROUP BY bg.doc_id
       |), perdoc AS MATERIALIZED (
       |  SELECT d.doc_id, p.n_bigrams, p.nll_fp
       |  FROM lm_docs_g d
       |  JOIN lm_grp g USING (gid)
       |  JOIN perrep p ON p.rep_id = g.rep_id
       |)""".stripMargin

  val docLmScoreSql: String =
    s"""${lmPerDocCtesSql}
       |SELECT doc_id, n_bigrams, nll_fp,
       |       CAST(nll_fp <= n_bigrams * $LmKeepFp AS BIGINT) AS keep
       |FROM perdoc ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[ccnetBuckets]]: the shared [[lmPerDocCtesSql]] chain,
    * the bounded `ppl_fp` histogram, exact tertile order statistics, and
    * the map-side bucket CASE.
    */
  val ccnetBucketsSql: String =
    s"""${lmPerDocCtesSql}, scored AS (
       |  SELECT doc_id, n_bigrams, nll_fp,
       |         CAST(round(CAST(nll_fp AS DOUBLE) / n_bigrams) AS BIGINT) AS ppl_fp
       |  FROM perdoc
       |), hist AS (
       |  SELECT ppl_fp, count(*) AS cnt FROM scored GROUP BY ppl_fp
       |), cum AS (
       |  SELECT ppl_fp,
       |         sum(cnt) OVER (ORDER BY ppl_fp) AS cum,
       |         sum(cnt) OVER () AS tot
       |  FROM hist
       |), th AS (
       |  SELECT min(CASE WHEN cum * 3 >= tot THEN ppl_fp END) AS t1,
       |         min(CASE WHEN cum * 3 >= tot * 2 THEN ppl_fp END) AS t2
       |  FROM cum
       |)
       |SELECT s.doc_id, s.n_bigrams, s.nll_fp, s.ppl_fp,
       |       CASE WHEN s.ppl_fp <= t.t1 THEN 'head'
       |            WHEN s.ppl_fp <= t.t2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM scored s, th t ORDER BY s.doc_id""".stripMargin

  // ---- BPE merge-pair statistics ----

  /** Top-K size for [[bpePairs]]. */
  private[graft] val BpeK = 32

  /** The statistic BPE training's first merge maximizes: corpus-frequency
    * of adjacent character pairs WITHIN whitespace tokens (Sennrich et al.
    * 2016 start from characters and merge the most frequent adjacent
    * pair; this operator surfaces that candidate list). The tokenizer
    * family's training-side complement to the `tokenCount` budget proxy.
    *
    * Shape: explode token char-positions map-side ([[graft.pipeline.Dedup.dedupSubstring]]'s
    * position pattern at length 2), one hash-agg on the 2-char pair
    * (map-side combined, key cardinality ≤ alphabet²), global top-K as
    * TakeOrderedAndProject. Nothing doc-sized shuffles.
    *
    * Output: (pair_rank, pair, cnt) — integer-exact, hash-checked.
    */
  def bpePairs(documents: DataFrame): DataFrame = {
    // canonical over distinct texts (gsz-weighted counts == naive counts;
    // same argument as bpeChain — the oracle keeps its naive re-derivation)
    val (grp, _, reps) = Dedup.canonicalTexts(documents)
    val top = reps
      .join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id"))
      .select(explode(tokens(col("text"))).as("w"), col("gsz"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("gsz"), explode(sequence(lit(1), length(col("w")) - 1)).as("p"))
      .select(col("w").substr(col("p"), lit(2)).as("pair"), col("gsz"))
      .groupBy(col("pair")).agg(sum(col("gsz")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(BpeK)
    top
      .withColumn("pair_rank", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .select(col("pair_rank"), col("pair"), col("cnt"))
      .orderBy(col("pair_rank"))
  }

  /** One greedy BPE merge round applied corpus-wide (the training-loop
    * body Sennrich et al. 2016 iterate): take the rank-1 pair from the
    * [[bpePairs]] statistic, merge it greedily left-to-right in every
    * token occurrence, and re-count adjacent-SYMBOL pairs — the candidate
    * list the next round would maximize over. Output: (pair_rank, s1, s2,
    * cnt), top [[BpeK]] by (cnt DESC, s1, s2).
    *
    * Greedy left-to-right with overlaps ("aaa" under merge (a,a) →
    * (aa)(a), not a(aa)) is sequential per token, but relationally exact
    * via gaps-and-islands: in each maximal run of consecutive match
    * positions, exactly the even-offset ones merge. Everything is window
    * algebra over (doc, token) partitions — no UDF, no recursion, and the
    * DuckDB oracle replays it operator for operator (integer/string math
    * only, so hash-exact).
    *
    * Shape at 100 TB: one exchange of (doc, token, char-pos) rows keyed by
    * token occurrence (the [[graft.pipeline.Dedup.dedupSubstring]]
    * position pattern; window partitions are token-sized), then one
    * map-side-combined agg whose key space is bounded by the merged
    * alphabet squared — corpus-independent. The pair-election agg is
    * alphabet²-bounded too; its top-1 is a broadcast row, exactly the
    * merge-table broadcast a production tokenizer-training round ships.
    */
  def bpeMergeApply(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // canonical over distinct texts: the election and the re-count are
    // gsz-weighted (identical integers to the naive per-doc form), and the
    // greedy window algebra runs once per distinct text instead of once
    // per copy — the bpe_merge_apply ×100 shape (oracle unchanged)
    val (grp, _, reps) = Dedup.canonicalTexts(documents)
    val weighted = reps
      .join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id"))
      // one rep-text scan: the election and the merge windows both read it
      .localCheckpoint(eager = true)
    val pair1 = weighted
      .select(explode(tokens(col("text"))).as("w"), col("gsz"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("gsz"), explode(sequence(lit(1), length(col("w")) - 1)).as("p"))
      .select(col("w").substr(col("p"), lit(2)).as("pair"), col("gsz"))
      .groupBy(col("pair")).agg(sum(col("gsz")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(1)
      .select(substring(col("pair"), 1, 1).as("m1"), substring(col("pair"), 2, 1).as("m2"))

    // one fused byte-scan per rep text: greedy merge + adjacent-pair
    // emission run inside [[graft.functions.BpeMergeAdjPairs]] — the
    // (doc, token, char) explode and its three window passes (run-start
    // max, consumed lag, pair lead) become a map-only expression, so
    // nothing corpus-character-sized is ever exchanged (the same multiset
    // of (s1, s2) pairs per document, spec-tested A/B against the window
    // algebra)
    val top = weighted
      .crossJoin(broadcast(pair1))
      .select(col("gsz"), explode(graft.functions.TextFunctions.bpeMergeAdjPairs(
        col("text"), col("m1"), col("m2"))).as("pr"))
      .select(col("pr.s1").as("s1"), col("pr.s2").as("s2"), col("gsz"))
      .groupBy(col("s1"), col("s2")).agg(sum(col("gsz")).as("cnt"))
      .orderBy(col("cnt").desc, col("s1"), col("s2"))
      .limit(BpeK)
    top
      .withColumn("pair_rank", row_number()
        .over(Window.orderBy(col("cnt").desc, col("s1"), col("s2"))).cast("long"))
      .select(col("pair_rank"), col("s1"), col("s2"), col("cnt"))
      .orderBy(col("pair_rank"))
  }

  /** Merge rounds unrolled by [[bpeTrain]] (and mirrored in its oracle). */
  private[graft] val BpeTrainRounds = 4

  /** (s1, s2, cnt) of the most frequent adjacent symbol pair, ties to the
    * lexicographically first — one BPE election.
    */
  private def electPair(syms: DataFrame): DataFrame = {
    val occW = Window.partitionBy(col("doc_id"), col("tidx")).orderBy(col("p"))
    syms
      .withColumn("s2", lead(col("sym"), 1).over(occW))
      .filter(col("s2").isNotNull)
      .select(col("sym").as("s1"), col("s2"), col("gsz"))
      // gsz-weighted: each canonical occurrence stands for gsz documents
      .groupBy(col("s1"), col("s2")).agg(sum(col("gsz")).as("cnt"))
      .orderBy(col("cnt").desc, col("s1"), col("s2"))
      .limit(1)
  }

  /** One greedy merge of `pair` (m1, m2) over a symbol relation
    * (doc_id, tidx, p, sym) — [[bpeMergeApply]]'s gaps-and-islands
    * selection lifted from char space to symbol space: overlap runs live
    * at consecutive symbol INDEXES now (positions `p` stop being
    * contiguous after the first round), so the island arithmetic runs on
    * `row_number`, and the merged symbol is the concat of the two
    * adjacent symbols.
    */
  private def mergeRound(syms: DataFrame, pair: DataFrame): DataFrame = {
    val occW = Window.partitionBy(col("doc_id"), col("tidx")).orderBy(col("p"))
    syms.crossJoin(broadcast(pair))
      .withColumn("nxt", lead(col("sym"), 1).over(occW))
      .withColumn("idx", row_number().over(occW))
      .withColumn("is_m",
        col("nxt").isNotNull && col("sym") === col("m1") && col("nxt") === col("m2"))
      .withColumn("run_start",
        coalesce(max(when(!col("is_m"), col("idx"))).over(occW), lit(0)) + 1)
      .withColumn("selected", col("is_m") && (col("idx") - col("run_start")) % 2 === 0)
      .withColumn("consumed", coalesce(lag(col("selected"), 1).over(occW), lit(false)))
      .filter(!col("consumed"))
      .select(col("doc_id"), col("gsz"), col("tidx"), col("p"),
        when(col("selected"), concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
  }

  /** Iterative BPE training, [[BpeTrainRounds]] rounds unrolled — the full
    * Sennrich et al. 2016 loop, not just its body: each round elects the
    * argmax adjacent-symbol pair and merges it greedily corpus-wide;
    * later rounds merge SYMBOLS (multi-char strings), so merges compound
    * ("a b"→"ab", then "ab c"→"abc"). Output is the merge TABLE — the
    * artifact tokenizer training actually ships: (round, s1, s2, cnt)
    * with cnt the pair's corpus frequency at election time.
    *
    * Shape at 100 TB: per round, one occurrence-keyed window pass over
    * the symbol relation (shrinking monotonically as merges land), one
    * alphabet²-bounded pair agg, and a 1-row broadcast election — the
    * classic distributed BPE step. The symbol relation is
    * `localCheckpoint`ed every round so the driver plan stays flat
    * (the [[graft.pipeline.Dedup.dedupCentrality]] lineage-truncation
    * lesson: k chained window stages, not one k-deep re-optimized tree).
    * Production trains on a corpus SAMPLE with ~30 k rounds driven by a
    * coordinator; the per-round dataflow is exactly this.
    */
  /** Session-lifetime memo of the trained BPE chain, so `bpe_train` and
    * `bpe_encode` (the two heaviest suite queries — each needs the same
    * 4-round iterative loop) materialize it ONCE per (session, input
    * paths, rounds) instead of twice. Only file-scan inputs are memoized:
    * a test fixture (LocalRelation) has no path identity, and two
    * different in-memory corpora must never collide on a schema-only key.
    * The memoized frames are backed by eager localCheckpoint blocks, which
    * [[graft.C.reclaimBlocks]] deliberately skips (via
    * [[bpeMemoProtectedRddIds]]); entries are validated at lookup — if the
    * protected blocks were unpersisted anyway, the chain rebuilds. Size:
    * final symbol relation ≈ corpus chars (1.5 M rows at sf0.1, spills to
    * disk at replica scale) + four 1-row election frames.
    */
  private case class BpeMemoEntry(session: org.apache.spark.sql.SparkSession,
      key: String, syms: DataFrame, elected: Seq[DataFrame], rddIds: Set[Int])
  private val bpeMemoRef =
    new java.util.concurrent.atomic.AtomicReference[BpeMemoEntry](null)
  /** Number of times the chain was actually built (not served from the
    * memo) — asserted by the sharing regression test. */
  private[graft] val bpeChainBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Checkpoint-block RDD ids the harness block-reclaimer must keep —
    * validated against the CALLER's session: after a SparkContext restart
    * a stale memo's small integer RDD ids could collide with the new
    * context's ids and shield unrelated persisted blocks from reclaim, so
    * a memo pinned to a different (or stopped) session protects nothing.
    */
  def bpeMemoProtectedRddIds(spark: org.apache.spark.sql.SparkSession): Set[Int] =
    Option(bpeMemoRef.get)
      .filter(m => (m.session eq spark) && !m.session.sparkContext.isStopped)
      .map(_.rddIds).getOrElse(Set.empty)

  /** Drop the memo and unpersist its blocks (test/session teardown). */
  def clearBpeMemo(): Unit = {
    val m = bpeMemoRef.getAndSet(null)
    if (m != null) {
      val persisted = m.session.sparkContext.getPersistentRDDs
      m.rddIds.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = true)))
    }
  }

  /** The RDD a checkpointed DataFrame is pinned to (its LogicalRDD leaf). */
  private def checkpointRddId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** File paths under the plan, or empty for in-memory inputs. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten.sorted

  /** Memo key: scan roots + canonicalized-plan semantic hash + per-file
    * (length, mtime) fingerprint + a salt (the round count). The plan hash
    * keeps a filtered or projected frame over the SAME parquet paths from
    * colliding with the bare table scan; the file fingerprint invalidates
    * the memo when files are rewritten in place mid-session (same paths,
    * new bytes).
    */
  private def planMemoKey(documents: DataFrame, paths: Seq[String], salt: String): String = {
    val planFp = documents.queryExecution.analyzed.canonicalized.semanticHash()
    val conf = documents.sparkSession.sessionState.newHadoopConf()
    val fileFp = documents.inputFiles.sorted.map { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      } catch { case scala.util.control.NonFatal(_) => s"$f:?" }
    }.mkString(",")
    paths.mkString(",") + "#" + planFp + "#" + fileFp + "#" + salt
  }

  private def bpeChainMemo(documents: DataFrame, rounds: Int): (DataFrame, Seq[DataFrame]) = {
    val paths = scanPaths(documents)
    if (paths.isEmpty) { // in-memory fixture: exact, unmemoized
      bpeChainBuilds.incrementAndGet()
      return bpeChain(documents, rounds)
    }
    val spark = documents.sparkSession
    val key = planMemoKey(documents, paths, rounds.toString)
    val cached = bpeMemoRef.get
    if (cached != null && (cached.session eq spark) && cached.key == key &&
        cached.rddIds.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
      return (cached.syms, cached.elected)
    clearBpeMemo() // at most one corpus pinned at a time
    bpeChainBuilds.incrementAndGet()
    val (syms, elected) = bpeChain(documents, rounds)
    val ids = (checkpointRddId(syms) ++ elected.flatMap(checkpointRddId)).toSet
    bpeMemoRef.set(BpeMemoEntry(spark, key, syms, elected, ids))
    (syms, elected)
  }

  /** Runs the BPE loop: returns the final symbol relation and the per-round
    * elected (round, s1, s2, cnt) frames — shared by [[bpeTrain]] (which
    * reports the merge table) and [[bpeEncode]] (which reports the
    * compressed corpus).
    */
  private def bpeChain(documents: DataFrame, rounds: Int): (DataFrame, Seq[DataFrame]) = {
    // CANONICALIZED over distinct texts (the Dedup.canonicalTexts pattern,
    // already mirrored by the oracle's bpeChainCtesSql since round 14):
    // byte-identical texts contribute identical symbol streams, so every
    // round's window chain runs on ONE representative per distinct text
    // carrying its multiplicity gsz, and elections weight pair counts by
    // sum(gsz) — the exact integers the per-doc chain counts, so the
    // (cnt DESC, s1, s2) argmax is value-identical. On the ×100 replica
    // (100 exact copies per doc) this shrinks the windowed relation 100×;
    // measured as the bpe_encode ×100 Spark cliff (306 s).
    val (grp, _, reps) = Dedup.canonicalTexts(documents)
    var syms = reps
      .join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id"))
      .select(col("doc_id"), col("gsz"), posexplode(tokens(col("text"))).as(Seq("tidx", "w")))
      .select(col("doc_id"), col("gsz"), col("tidx"),
        explode(sequence(lit(1), length(col("w")))).as("p"), col("w"))
      .select(col("doc_id"), col("gsz"), col("tidx"), col("p"),
        col("w").substr(col("p"), lit(1)).as("sym"))
      .localCheckpoint(eager = true)
    // a never-matching sentinel pair (symbols are never empty) keeps the
    // election exactly 1 row: an EXHAUSTED corpus must leave the symbol
    // relation unchanged — an empty election cross-joined into the merge
    // would silently EMPTY it (caught by the bpeEncode fixture; the
    // oracle mirrored the same bug, so only the semantics test saw it)
    val sentinel = documents.sparkSession.range(1)
      .select(lit("").as("s1"), lit("").as("s2"), lit(-1L).as("cnt"))
    val elected = (1 to rounds).map { r =>
      val top = electPair(syms).unionAll(sentinel)
        .orderBy(col("cnt").desc, col("s1"), col("s2")).limit(1)
        .localCheckpoint(eager = true)
      syms = mergeRound(syms,
        top.select(col("s1").as("m1"), col("s2").as("m2")))
        .localCheckpoint(eager = true)
      top.filter(col("cnt") > 0)
        .select(lit(r.toLong).as("round"), col("s1"), col("s2"), col("cnt"))
    }
    (syms, elected)
  }

  def bpeTrain(documents: DataFrame, rounds: Int = BpeTrainRounds): DataFrame =
    bpeChainMemo(documents, rounds)._2.reduce(_ unionAll _).orderBy(col("round"))

  /** Tokenizer APPLICATION: encode the corpus with the [[bpeTrain]] merge
    * table and report per-doc compression — (doc_id, n_chars, n_syms,
    * ratio). This is the token-budget estimate a data pipeline runs after
    * training a tokenizer ("how many tokens is this corpus under the new
    * vocab?"); ratio = symbols per input char, monotonically ≤ 1, falling
    * as merges land. Same per-round dataflow as [[bpeTrain]]; the report
    * adds two per-doc count aggs (map-side combined) and an equi-join of
    * doc-count-sized relations.
    */
  def bpeEncode(documents: DataFrame, rounds: Int = BpeTrainRounds): DataFrame = {
    val (syms, _) = bpeChainMemo(documents, rounds)
    // the chain is canonical (one stream per distinct text), so both
    // per-doc counts are rep-level aggs expanded through the member map —
    // every join here is doc-count-sized, none is corpus-position-sized
    val (_, members, reps) = Dedup.canonicalTexts(documents)
    val nCharsRep = reps
      .select(col("doc_id").as("rep_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("rep_id")).agg(sum(length(col("w"))).cast("long").as("n_chars"))
    val nSymsRep = syms
      .groupBy(col("doc_id").as("rep_id")).agg(count(lit(1)).as("n_syms"))
    members.join(nCharsRep, Seq("rep_id")).join(nSymsRep, Seq("rep_id"))
      .select(col("doc_id"), col("n_chars"), col("n_syms"),
        (col("n_syms").cast("double") / col("n_chars")).as("ratio"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[bpeTrain]]: [[BpeTrainRounds]] textually-unrolled
    * copies of the election + merge CTE chain.
    */
  /** The WITH-chain `grp` → `t` → `occ` → `syms0` → unrolled rounds —
    * shared by [[bpeTrainSql]] and [[bpeEncodeSql]].
    *
    * CANONICALIZED over distinct texts (the [[graft.pipeline.Dedup]]
    * canonicalTexts argument applied oracle-side): byte-identical texts
    * contribute identical symbol streams, so every round's window chain
    * runs on ONE representative per distinct text carrying its
    * multiplicity `gsz`, and pair counts weight by `sum(gsz)` — the exact
    * integers the naive per-doc chain counts, so elections (ordered by
    * cnt DESC, s1, s2) are value-identical. This is what makes the oracle
    * tractable on duplicate-dense corpora: the ×100 replica's naive chain
    * OOM'd DuckDB at 37 GiB re-deriving 100 identical window passes per
    * distinct doc; the canonical chain is sf0.1-sized there.
    */
  private def bpeChainCtesSql: String = {
    def roundCtes(i: Int): String = {
      val prev = if (i == 1) "syms0" else s"syms${i - 1}"
      s"""adj$i AS (
         |  SELECT gsz, sym AS s1,
         |         lead(sym) OVER (PARTITION BY doc_id, tidx ORDER BY p) AS s2
         |  FROM $prev
         |), cnt$i AS (
         |  SELECT s1, s2, sum(gsz) AS cnt FROM adj$i WHERE s2 IS NOT NULL
         |  GROUP BY s1, s2
         |), top$i AS (
         |  SELECT s1, s2, cnt FROM (
         |    SELECT s1, s2, CAST(cnt AS BIGINT) AS cnt FROM cnt$i
         |    UNION ALL SELECT '', '', CAST(-1 AS BIGINT)
         |  ) ORDER BY cnt DESC, s1, s2 LIMIT 1
         |), st$i AS (
         |  SELECT s.doc_id, s.gsz, s.tidx, s.p, s.sym,
         |         lead(s.sym) OVER (PARTITION BY s.doc_id, s.tidx ORDER BY s.p) AS nxt,
         |         row_number() OVER (PARTITION BY s.doc_id, s.tidx ORDER BY s.p) AS idx,
         |         t.s1 AS m1, t.s2 AS m2
         |  FROM $prev s, top$i t
         |), is$i AS (
         |  SELECT *, (nxt IS NOT NULL AND sym = m1 AND nxt = m2) AS is_m FROM st$i
         |), rs$i AS (
         |  SELECT *, coalesce(max(CASE WHEN NOT is_m THEN idx END)
         |      OVER (PARTITION BY doc_id, tidx ORDER BY idx), 0) + 1 AS run_start
         |  FROM is$i
         |), sel$i AS (
         |  SELECT *, (is_m AND (idx - run_start) % 2 = 0) AS selected FROM rs$i
         |), kp$i AS (
         |  SELECT *, coalesce(lag(selected)
         |      OVER (PARTITION BY doc_id, tidx ORDER BY idx), false) AS consumed
         |  FROM sel$i
         |), syms$i AS (
         |  SELECT doc_id, gsz, tidx, p,
         |         CASE WHEN selected THEN sym || nxt ELSE sym END AS sym
         |  FROM kp$i WHERE NOT consumed
         |)""".stripMargin
    }
    val rounds = (1 to BpeTrainRounds).map(roundCtes).mkString(",\n")
    s"""WITH grp AS (
       |  SELECT text, min(doc_id) AS rep_id, CAST(count(*) AS BIGINT) AS gsz
       |  FROM documents GROUP BY text
       |), t AS (
       |  SELECT rep_id AS doc_id, gsz, $tokensSql AS toks FROM grp
       |), occ AS (
       |  SELECT doc_id, gsz, i.i AS tidx, toks[i.i] AS w
       |  FROM t, unnest(generate_series(1, len(toks))) AS i(i)
       |), syms0 AS (
       |  SELECT doc_id, gsz, tidx, g.p, substr(w, g.p, 1) AS sym
       |  FROM occ, unnest(generate_series(1, length(w))) AS g(p)
       |), $rounds""".stripMargin
  }

  val bpeTrainSql: String = {
    val union = (1 to BpeTrainRounds)
      .map(i => s"SELECT CAST($i AS BIGINT) AS round, s1, s2, cnt FROM top$i WHERE cnt > 0")
      .mkString("\n  UNION ALL\n  ")
    s"""${bpeChainCtesSql}
       |SELECT * FROM (
       |  $union
       |) ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[bpeEncode]] over the shared canonical chain:
    * per-rep counts expand to every member (IS NOT DISTINCT FROM join —
    * NULL texts group but don't equi-join), ratio identical by value. */
  val bpeEncodeSql: String =
    s"""${bpeChainCtesSql}, nchars AS (
       |  SELECT doc_id AS rep_id, CAST(sum(length(w)) AS BIGINT) AS n_chars
       |  FROM occ GROUP BY doc_id
       |), nsyms AS (
       |  SELECT doc_id AS rep_id, CAST(count(*) AS BIGINT) AS n_syms
       |  FROM syms$BpeTrainRounds GROUP BY doc_id
       |), members AS (
       |  SELECT g.rep_id, d.doc_id FROM documents d
       |  JOIN grp g ON d.text IS NOT DISTINCT FROM g.text
       |)
       |SELECT m.doc_id, n_chars, n_syms,
       |       CAST(n_syms AS DOUBLE) / n_chars AS ratio
       |FROM nchars JOIN nsyms USING (rep_id) JOIN members m USING (rep_id)
       |ORDER BY m.doc_id""".stripMargin

  /** DuckDB twin of [[bpeMergeApply]] — the identical window chain. */
  val bpeMergeApplySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents
       |), occ AS (
       |  SELECT doc_id, i.i AS tidx, toks[i.i] AS w
       |  FROM t, unnest(generate_series(1, len(toks))) AS i(i)
       |), pc AS (
       |  SELECT substr(w, g.p, 2) AS pair
       |  FROM occ, unnest(generate_series(1, length(w) - 1)) AS g(p)
       |  WHERE length(w) >= 2
       |), p1 AS (
       |  SELECT substr(pair, 1, 1) AS m1, substr(pair, 2, 1) AS m2
       |  FROM (SELECT pair, count(*) AS cnt FROM pc GROUP BY pair
       |        ORDER BY cnt DESC, pair LIMIT 1)
       |), chars AS (
       |  SELECT o.doc_id, o.tidx, o.w, g.p,
       |         (g.p < length(o.w) AND substr(o.w, g.p, 1) = p1.m1
       |            AND substr(o.w, g.p + 1, 1) = p1.m2) AS is_m
       |  FROM occ o, unnest(generate_series(1, length(o.w))) AS g(p), p1
       |), runs AS (
       |  SELECT doc_id, tidx, w, p, is_m,
       |         coalesce(max(CASE WHEN NOT is_m THEN p END)
       |           OVER (PARTITION BY doc_id, tidx ORDER BY p), 0) + 1 AS run_start
       |  FROM chars
       |), sel AS (
       |  SELECT doc_id, tidx, w, p,
       |         (is_m AND (p - run_start) % 2 = 0) AS selected
       |  FROM runs
       |), keeppos AS (
       |  SELECT doc_id, tidx, w, p, selected,
       |         coalesce(lag(selected) OVER (PARTITION BY doc_id, tidx ORDER BY p),
       |                  false) AS consumed
       |  FROM sel
       |), syms AS (
       |  SELECT doc_id, tidx, p,
       |         CASE WHEN selected THEN substr(w, p, 2)
       |              ELSE substr(w, p, 1) END AS sym
       |  FROM keeppos WHERE NOT consumed
       |), sp AS (
       |  SELECT sym AS s1,
       |         lead(sym) OVER (PARTITION BY doc_id, tidx ORDER BY p) AS s2
       |  FROM syms
       |), c AS (
       |  SELECT s1, s2, count(*) AS cnt FROM sp WHERE s2 IS NOT NULL
       |  GROUP BY s1, s2 ORDER BY cnt DESC, s1, s2 LIMIT $BpeK
       |)
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, s1, s2) AS BIGINT) AS pair_rank,
       |       s1, s2, CAST(cnt AS BIGINT) AS cnt
       |FROM c ORDER BY pair_rank""".stripMargin

  val bpePairsSql: String =
    s"""WITH w AS (
       |  SELECT u.tok AS w
       |  FROM (SELECT $tokensSql AS toks FROM documents) t, unnest(toks) AS u(tok)
       |  WHERE len(u.tok) >= 2
       |), pr AS (
       |  SELECT substr(w, g.p, 2) AS pair
       |  FROM w, unnest(generate_series(1, length(w) - 1)) AS g(p)
       |), c AS (
       |  SELECT pair, count(*) AS cnt FROM pr GROUP BY pair
       |  ORDER BY cnt DESC, pair LIMIT $BpeK
       |)
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS pair_rank,
       |       pair, cnt
       |FROM c ORDER BY pair_rank""".stripMargin

  // ---- Per-document character entropy ----

  /** Fixed-point resolution for [[docEntropy]]'s log terms (1e-6 nats,
    * rounded once per distinct count value). */
  private[graft] val EntScale = 1000000L

  /** Character-distribution entropy per document — the classic
    * gibberish/boilerplate signal (natural text sits in a mid-entropy
    * band; "aaaa…" collapses low, uniform noise saturates high). Shannon
    * entropy over the doc's character histogram, carried as the
    * integer-exact quantity n·H = n·ln n − Σ c·ln c: `ln` is rounded ONCE
    * per distinct integer count at [[EntScale]] fixed point (the
    * [[docLmScore]] rule), after which everything is exact BIGINT
    * arithmetic — bit-identical across engines. Consumers threshold on
    * ent_fp/n without ever materializing a float.
    *
    * Shape: explode char positions map-side, hash-agg (doc, char) then
    * (doc) — both map-side combinable; no joins, no windows.
    *
    * Output: (doc_id, n_chars_counted, ent_fp) where
    * ent_fp = n·ln_fp(n) − Σ_c c·ln_fp(c); empty docs report (0, 0).
    */
  def docEntropy(documents: DataFrame): DataFrame =
    perDocCanonical(documents, docEntropyCore, Seq("n_chars_counted", "ent_fp"))

  private[graft] def docEntropyCore(documents: DataFrame): DataFrame = {
    val lnFp: Column => Column = c => round(log(c.cast("double")) * EntScale).cast("long")
    // histogram + count-fold per doc is one native map-side pass
    // (alphabet-sized state, no corpus-position explode/exchange — the
    // doc_entropy ×100 cliff, 152 s; the interpreted aggregate-lambda
    // variant still cost 84 s); CharEntropyFold replicates lnFp
    // bit-for-bit (StrictMath.log + BigDecimal HALF_UP — Spark's own
    // providers), and the per-doc closing term keeps the SAME Column
    // lnFp. The whole query is shuffle-free but the presentation sort.
    val e = graft.functions.TextFunctions.charEntropyFold(col("text"))
    documents
      .select(col("doc_id"), e.getField("n").as("n"), e.getField("clnc").as("clnc"))
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_chars_counted"),
        coalesce(when(col("n") >= 1, col("n") * lnFp(col("n")) - col("clnc")),
          lit(0L)).as("ent_fp"))
  }

  val docEntropySql: String =
    s"""WITH de_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), de_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM de_g GROUP BY gid
       |), h AS (
       |  SELECT d.doc_id, substr(text, g.p, 1) AS ch, count(*) AS c
       |  FROM (SELECT dd.doc_id, dd.text FROM documents dd
       |        JOIN de_r ON dd.doc_id = de_r.rep_id) d,
       |       unnest(generate_series(1, length(text))) AS g(p)
       |  GROUP BY d.doc_id, ch
       |), per_doc AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |         CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * $EntScale) AS BIGINT)) AS BIGINT) AS clnc
       |  FROM h GROUP BY doc_id
       |)
       |SELECT g.doc_id,
       |       CAST(coalesce(p.n, 0) AS BIGINT) AS n_chars_counted,
       |       CAST(coalesce(p.n * CAST(round(ln(CAST(p.n AS DOUBLE)) * $EntScale) AS BIGINT)
       |                     - p.clnc, 0) AS BIGINT) AS ent_fp
       |FROM de_g g JOIN de_r r USING (gid) LEFT JOIN per_doc p ON p.doc_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin

  // ---- Trigram stupid-backoff LM ----

  /** Backoff penalty −ln(0.4) at [[LmScale]] (Brants et al. 2007 use
    * α = 0.4), computed once and interpolated into both engines. */
  private[graft] val BackoffFp: Long = math.round(math.log(2.5) * LmScale)

  /** Trigram stupid-backoff scoring (Brants et al. 2007 — "Large Language
    * Models in Machine Translation" showed unnormalized backoff matches
    * Kneser-Ney at corpus scale for a fraction of the cost): the model is
    * trained on HALF the corpus (even doc ids) and scores ALL documents,
    * so the backoff chain actually fires — trigram hit, else α·bigram,
    * else α²·smoothed unigram (add-one over N+V). Surprisal decomposes
    * into once-rounded fixed-point ln terms of EXACT integers plus the
    * literal [[BackoffFp]] constants — the [[docLmScore]] determinism
    * construction extended one order up; per-doc totals are exact BIGINT
    * sums, hash-checked. `n_hit3`/`n_hit2` report the backoff mix (the
    * model-coverage diagnostic).
    *
    * Shape at 100 TB: the scored relation is one corpus explode; all four
    * model relations are n-gram-type-sized (Heaps-bounded) left joins —
    * AQE broadcasts them; nothing else is corpus-scaled. Docs with <3
    * tokens have no trigrams and drop out (both engines).
    * Output: (doc_id, n_trigrams, n_hit3, n_hit2, nll_fp).
    */
  def docLmBackoff(documents: DataFrame): DataFrame = {
    val lnFp: Column => Column =
      c => round(log(c.cast("double")) * LmScale).cast("long")
    def ngramsW(df: DataFrame, n: Int): DataFrame = {
      val toks = tokens(col("text"))
      val len = greatest(size(toks) - (n - 1), lit(0))
      val zipped = arrays_zip(
        (1 to n).map(i => slice(toks, lit(i), len).as(s"w$i")): _*)
      df.select(col("doc_id"), col("gsz"), explode(zipped).as("g"))
        .select(col("doc_id") +: col("gsz") +:
          (1 to n).map(i => col(s"g.w$i").as(s"w$i")): _*)
    }
    // CANONICAL over (text, PARITY): the train split is doc_id % 2, so
    // groups must not mix parities — every member of a (text, parity)
    // group is interchangeable for both the train filter and scoring,
    // and rep_id = min member id carries the group's parity, so the
    // rep-level filter below IS the member-level filter. Weighted train
    // counts are the naive per-copy integers; per-rep scores are pure
    // functions of (text, model) and expand through the parity member map.
    // skinny keyed relation checkpointed (the canonicalTexts docsG
    // discipline): one corpus text scan builds it, grp/members reuse it
    val keyed = documents.select(col("doc_id"),
        C.textGid(col("text")).as("gid"), (col("doc_id") % 2).as("par"))
      .localCheckpoint(eager = true)
    val grpP = keyed.groupBy(col("gid"), col("par"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("gsz"))
      .localCheckpoint(eager = true) // members + reps both read it
    val membersP = keyed
      .join(grpP.select(col("gid"), col("par"), col("rep_id")), Seq("gid", "par"))
      .select(col("rep_id"), col("doc_id"))
    // rep rows checkpointed too: FOUR n-gram consumers read the text
    // below (tri/bi/uni train + scoring) — one group-count-sized
    // materialization instead of four corpus scans (the text volume here
    // is distinct texts only)
    val repsW = documents
      .join(grpP.select(col("rep_id"), col("gsz")), documents("doc_id") === col("rep_id"))
      .select(documents("doc_id"), col("text"), col("gsz"))
      .localCheckpoint(eager = true)
    val train = repsW.filter(col("doc_id") % 2 === 0)
    val tri3 = ngramsW(train, 3).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("gsz")).as("c123"))
    val tri2 = tri3.groupBy(col("w1"), col("w2")).agg(sum(col("c123")).as("c12"))
    val bg2 = ngramsW(train, 2).groupBy(col("w1").as("w2"), col("w2").as("w3"))
      .agg(sum(col("gsz")).as("c23"))
    val bg1 = bg2.groupBy(col("w2")).agg(sum(col("c23")).as("c2"))
    val uni = ngramsW(train, 1).groupBy(col("w1").as("w3"))
      .agg(sum(col("gsz")).as("c3"))
    val nv = broadcast(uni.agg((sum(col("c3")) + count(lit(1))).as("n_plus_v")))
    val repScores = ngramsW(repsW, 3)
      .join(tri3, Seq("w1", "w2", "w3"), "left_outer")
      .join(tri2, Seq("w1", "w2"), "left_outer")
      .join(bg2, Seq("w2", "w3"), "left_outer")
      .join(bg1, Seq("w2"), "left_outer")
      .join(uni, Seq("w3"), "left_outer")
      .crossJoin(nv)
      .select(col("doc_id"),
        when(col("c123").isNotNull, lit(3L))
          .when(col("c23").isNotNull, lit(2L)).otherwise(1L).as("hit"),
        when(col("c123").isNotNull, lnFp(col("c12")) - lnFp(col("c123")))
          .when(col("c23").isNotNull,
            lit(BackoffFp) + lnFp(col("c2")) - lnFp(col("c23")))
          .otherwise(lit(2 * BackoffFp) + lnFp(col("n_plus_v"))
            - lnFp(coalesce(col("c3"), lit(0L)) + 1)).as("s_fp"))
      .groupBy(col("doc_id").as("rep_id"))
      .agg(count(lit(1)).cast("long").as("n_trigrams"),
        sum(when(col("hit") === 3, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("hit") === 2, 1L).otherwise(0L)).as("n_hit2"),
        sum(col("s_fp")).as("nll_fp"))
    membersP.join(repScores, Seq("rep_id"))
      .select(col("doc_id"), col("n_trigrams"), col("n_hit3"), col("n_hit2"), col("nll_fp"))
      .orderBy(col("doc_id"))
  }

  def docLmBackoffSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents
       |), tri_all AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
       |), tr AS (
       |  SELECT * FROM t WHERE doc_id % 2 = 0
       |), tri3 AS (
       |  SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3,
       |         count(*) AS c123
       |  FROM tr, unnest(generate_series(1, len(toks) - 2)) AS u(i)
       |  GROUP BY 1, 2, 3
       |), tri2 AS (
       |  SELECT w1, w2, sum(c123) AS c12 FROM tri3 GROUP BY w1, w2
       |), bg2 AS (
       |  SELECT toks[i] AS w2, toks[i + 1] AS w3, count(*) AS c23
       |  FROM tr, unnest(generate_series(1, len(toks) - 1)) AS u(i)
       |  GROUP BY 1, 2
       |), bg1 AS (
       |  SELECT w2, sum(c23) AS c2 FROM bg2 GROUP BY w2
       |), uni AS (
       |  SELECT u.tok AS w3, count(*) AS c3
       |  FROM tr, unnest(toks) AS u(tok) GROUP BY 1
       |), nv AS (
       |  SELECT sum(c3) + count(*) AS n_plus_v FROM uni
       |), scored AS (
       |  SELECT a.doc_id,
       |         CASE WHEN t3.c123 IS NOT NULL THEN 3
       |              WHEN b2.c23 IS NOT NULL THEN 2 ELSE 1 END AS hit,
       |         CASE WHEN t3.c123 IS NOT NULL THEN
       |                CAST(round(ln(CAST(t2.c12 AS DOUBLE)) * $LmScale) AS BIGINT)
       |                - CAST(round(ln(CAST(t3.c123 AS DOUBLE)) * $LmScale) AS BIGINT)
       |              WHEN b2.c23 IS NOT NULL THEN
       |                $BackoffFp
       |                + CAST(round(ln(CAST(b1.c2 AS DOUBLE)) * $LmScale) AS BIGINT)
       |                - CAST(round(ln(CAST(b2.c23 AS DOUBLE)) * $LmScale) AS BIGINT)
       |              ELSE
       |                ${2 * BackoffFp}
       |                + CAST(round(ln(CAST(nv.n_plus_v AS DOUBLE)) * $LmScale) AS BIGINT)
       |                - CAST(round(ln(CAST(coalesce(u.c3, 0) + 1 AS DOUBLE)) * $LmScale) AS BIGINT)
       |         END AS s_fp
       |  FROM tri_all a
       |  LEFT JOIN tri3 t3 USING (w1, w2, w3)
       |  LEFT JOIN tri2 t2 USING (w1, w2)
       |  LEFT JOIN bg2 b2 USING (w2, w3)
       |  LEFT JOIN bg1 b1 USING (w2)
       |  LEFT JOIN uni u USING (w3)
       |  CROSS JOIN nv
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |       CAST(sum(CASE WHEN hit = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
       |       CAST(sum(CASE WHEN hit = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
       |       CAST(sum(s_fp) AS BIGINT) AS nll_fp
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- PMI collocations ----

  /** Fixed-point scale for [[termPmi]] log terms (1e6 ≈ micro-nats). */
  private[graft] val PmiScale = 1000000L

  /** Minimum pair count for a collocation candidate — PMI is notoriously
    * noisy on hapax pairs (Church & Hanks 1990 recommend a floor). */
  private[graft] val PmiMinCount = 5L

  /** Top-K collocations reported by [[termPmi]]. */
  private[graft] val PmiTopK = 100

  /** Collocation mining: pointwise mutual information over adjacent token
    * pairs (Church & Hanks 1990) — the association statistic behind
    * phrase tables and tokenizer merge heuristics. PMI(w1,w2) =
    * ln( c12·N / (c1·r2) ) with N the total bigram occurrences, c1/r2 the
    * left/right marginals of the bigram-type relation.
    *
    * Fixed point: each log term is ln of an EXACT integer, rounded once at
    * [[PmiScale]] — `pmi_fp = lnFp(c12) + lnFp(N) − lnFp(c1) − lnFp(r2)`.
    * Summing once-rounded terms (instead of rounding the ratio's log)
    * keeps the value independent of how either engine associates the
    * division, so Spark and DuckDB agree bit-for-bit.
    *
    * Shape at 100 TB: one corpus explode → hash-agg to bigram TYPES
    * (map-side combine collapses repeats; key space is Heaps-bounded);
    * both marginals and the N scalar re-aggregate from that type relation
    * — the corpus is never touched again. Marginal joins are
    * vocabulary-sized (AQE broadcasts them); the final top-K is a
    * TakeOrderedAndProject, no global sort.
    */
  /** The full (unfloored, unranked) collocation model —
    * (w1, w2, c12, c1, r2, pmi_fp) for every bigram type; [[termPmi]]
    * ranks it, [[docPmiScore]] and the streaming twin broadcast-join it.
    */
  private[graft] def pmiModel(documents: DataFrame): DataFrame = {
    // gsz-weighted canonical counts == naive per-copy counts (lmDocScores)
    val (repsW, _) = canonicalWeighted(documents)
    val bc = repsW
      .select(col("gsz"), explode(bigramArray(col("text"))).as("g"))
      .select(col("gsz"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("gsz")).as("c12"))
      .localCheckpoint(eager = true) // marginals + N re-read it; truncate the corpus lineage
    pmiModelFromCounts(bc)
  }

  /** [[pmiModel]] from an already-materialized bigram-type count relation
    * — lets [[docPmiScore]] derive the counts from its shared explode. */
  private def pmiModelFromCounts(bc: DataFrame): DataFrame = {
    val pmiLn: Column => Column =
      c => round(log(c.cast("double")) * PmiScale).cast("long")
    val left = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = bc.groupBy(col("w2")).agg(sum(col("c12")).as("r2"))
    val total = bc.agg(sum(col("c12")).as("n_total"))
    bc.join(left, "w1")
      .join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("r2"),
        (pmiLn(col("c12")) + pmiLn(col("n_total"))
          - pmiLn(col("c1")) - pmiLn(col("r2"))).as("pmi_fp"))
  }

  def termPmi(documents: DataFrame): DataFrame =
    pmiModel(documents)
      .filter(col("c12") >= PmiMinCount)
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(PmiTopK)

  def termPmiSql: String =
    s"""${pmiModelCtesSql}
       |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
       |       CAST(r2 AS BIGINT) AS r2, pmi_fp
       |FROM model WHERE c12 >= $PmiMinCount
       |ORDER BY pmi_fp DESC, w1, w2 LIMIT $PmiTopK""".stripMargin

  /** Per-document collocational-strength scoring: the sum of [[pmiModel]]
    * scores over a document's adjacent bigram occurrences — natural prose
    * reuses strong collocations (positive mean PMI), shuffled/generated
    * word salad does not; the association-signal complement to
    * [[docLmScore]]'s surprisal. Self-trained here; the production shape
    * broadcasts an offline model to the stream
    * ([[graft.streaming.StreamJobs.docPmiScoreStream]]).
    *
    * Exact BIGINT sums of the once-rounded model terms — order-invariant,
    * hash-checked. Same two-phase shape as [[docLmScore]]: the model is
    * bigram-type-sized (Heaps-bounded), the scoring join is
    * AQE-broadcastable; docs with <2 tokens have no bigrams and drop out.
    * Output: (doc_id, n_bigrams, pmi_sum_fp).
    */
  def docPmiScore(documents: DataFrame): DataFrame = {
    // canonical: score once per distinct text, expand through members.
    // ONE bigram explode (aggregated to per-rep bigram TYPES before
    // materialization — the docRarity shared-occurrence pattern) serves
    // both the gsz-weighted model counts and the per-rep scoring; the
    // legacy form ran canonicalWeighted AND the corpus explode twice
    // (once directly, once inside pmiModel).
    val (repsW, members) = canonicalWeighted(documents)
    val repBg = repsW
      .select(col("doc_id"), col("gsz"), explode(bigramArray(col("text"))).as("g"))
      .groupBy(col("doc_id"), col("gsz"),
        col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // model counts + scoring both read it
    val bc = repBg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n") * col("gsz")).as("c12"))
      .localCheckpoint(eager = true) // marginals + N re-read it
    // every bigram type of every rep is in the model (it was counted from
    // the same relation), so the inner join keeps Σn = the occurrence count
    val repScores = repBg
      .join(pmiModelFromCounts(bc).select(col("w1"), col("w2"), col("pmi_fp")),
        Seq("w1", "w2"))
      .groupBy(col("doc_id").as("rep_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * col("pmi_fp")).as("pmi_sum_fp"))
    members.join(repScores, Seq("rep_id"))
      .select(col("doc_id"), col("n_bigrams"), col("pmi_sum_fp"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain for the PMI oracles, ending in `model`. */
  private def pmiModelCtesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents
       |), bg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
       |), bc AS (
       |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
       |), lm AS (
       |  SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1
       |), rm AS (
       |  SELECT w2, sum(c12) AS r2 FROM bc GROUP BY w2
       |), tot AS (
       |  SELECT sum(c12) AS n_total FROM bc
       |), model AS (
       |  SELECT bc.w1, bc.w2, bc.c12, lm.c1, rm.r2,
       |         CAST(round(ln(CAST(bc.c12 AS DOUBLE)) * $PmiScale) AS BIGINT)
       |           + CAST(round(ln(CAST(tot.n_total AS DOUBLE)) * $PmiScale) AS BIGINT)
       |           - CAST(round(ln(CAST(lm.c1 AS DOUBLE)) * $PmiScale) AS BIGINT)
       |           - CAST(round(ln(CAST(rm.r2 AS DOUBLE)) * $PmiScale) AS BIGINT) AS pmi_fp
       |  FROM bc
       |  JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot
       |)""".stripMargin

  def docPmiScoreSql: String =
    s"""${pmiModelCtesSql}
       |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(m.pmi_fp) AS BIGINT) AS pmi_sum_fp
       |FROM bg JOIN model m USING (w1, w2)
       |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin

  // ---- Heaps-law vocabulary growth ----

  /** Number of corpus prefixes reported by [[vocabGrowth]]. */
  private[graft] val GrowthBuckets = 10

  /** Vocabulary-growth (Heaps' law) report: cumulative token count vs
    * cumulative distinct-type count over 10 corpus prefixes in `doc_id`
    * order — the curve that sizes tokenizer vocabularies and detects
    * corpus saturation (new data adding no new types).
    *
    * A type counts toward the first prefix containing its FIRST occurrence
    * (`min(doc_id)` per token), so each prefix's `n_types` is exactly
    * `|vocab(docs < cutoff)|` without materializing per-prefix vocabularies.
    *
    * Shape at 100 TB: docs hash to one of 10 buckets map-side
    * (`doc_id·10 / (max_id+1)`); tokens shuffle once for the
    * `min(doc_id)`-per-type agg (vocabulary-sized output); both per-bucket
    * relations are ≤10 rows, and the cumulative window runs over those 10
    * rows, never the corpus. No ×10 prefix self-join.
    */
  def vocabGrowth(documents: DataFrame): DataFrame = {
    val maxRow = broadcast(documents.agg(max(col("doc_id")).as("max_id")))
    val bucketed = documents
      .crossJoin(maxRow)
      .select(col("doc_id"), col("text"),
        (expr(s"doc_id * $GrowthBuckets div (max_id + 1)") + 1).as("bucket"))
    val perBucketToks = bucketed
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("b_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("b_tokens"))
    val perBucketTypes = bucketed
      .select(col("bucket"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(min(col("bucket")).as("first_bucket"))
      .groupBy(col("first_bucket")).agg(count(lit(1)).as("b_types"))
      .withColumnRenamed("first_bucket", "bucket")
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucketToks
      .join(perBucketTypes, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        sum(col("b_docs")).over(w).as("n_docs"),
        sum(col("b_tokens")).over(w).as("n_tokens"),
        sum(coalesce(col("b_types"), lit(0L))).over(w).as("n_types"))
      .orderBy(col("bucket"))
  }

  val vocabGrowthSql: String =
    s"""WITH m AS (
       |  SELECT max(doc_id) AS max_id FROM documents
       |), b AS (
       |  SELECT doc_id, $tokensSql AS toks,
       |         doc_id * $GrowthBuckets // (m.max_id + 1) + 1 AS bucket
       |  FROM documents, m
       |), pb AS (
       |  SELECT bucket, count(*) AS b_docs,
       |         CAST(sum(len(toks)) AS BIGINT) AS b_tokens
       |  FROM b GROUP BY bucket
       |), ft AS (
       |  SELECT u.tok AS token, min(bucket) AS first_bucket
       |  FROM b, unnest(toks) AS u(tok) GROUP BY token
       |), pt AS (
       |  SELECT first_bucket AS bucket, count(*) AS b_types
       |  FROM ft GROUP BY first_bucket
       |)
       |SELECT pb.bucket,
       |       CAST(sum(pb.b_docs) OVER win AS BIGINT) AS n_docs,
       |       CAST(sum(pb.b_tokens) OVER win AS BIGINT) AS n_tokens,
       |       CAST(sum(coalesce(pt.b_types, 0)) OVER win AS BIGINT) AS n_types
       |FROM pb LEFT JOIN pt USING (bucket)
       |WINDOW win AS (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING)
       |ORDER BY pb.bucket""".stripMargin

  // ---- Per-source quality drift (two-sample KS) ----

  /** Fixed-point scale for the normalized KS distance in [[qualityDrift]]. */
  private[graft] val KsScale = 1000000L

  /** Per-source quality-drift screen: the two-sample Kolmogorov–Smirnov
    * statistic between each source's LM-score distribution and the rest of
    * the corpus — the monitor a curation pipeline runs to catch a crawl
    * source whose quality profile shifted (new spam template, encoding
    * breakage) before it pollutes a training mix.
    *
    * Exact integers only: with `cum_s(v)` = docs of source s scoring ≤ v
    * and `cum_r(v)` the same for the rest, the KS numerator is
    * `max_v |cum_s(v)·n_r − cum_r(v)·n_s|` — the usual D·n_s·n_r with the
    * divisions cleared, so both engines agree bit-for-bit. `at_ppl_fp` is
    * the smallest score achieving the max; `d_ppm` re-normalizes at
    * [[KsScale]] by integer division.
    *
    * Shape at 100 TB: everything after the (already Heaps/LmScale-bounded)
    * per-doc scoring runs on the (source × score)-HISTOGRAM relation —
    * `ppl_fp` has ≤ ~350 k distinct values regardless of corpus size (see
    * [[ccnetBuckets]]), so the score-grid × sources cross join, the
    * cumulative windows, and the argmax join-back all touch bounded
    * relations, never the corpus.
    */
  def qualityDrift(documents: DataFrame): DataFrame =
    qualityDrift(documents, graft.C.DriverCollectMax)

  private[graft] def qualityDrift(documents: DataFrame,
      driverCollectMax: Long): DataFrame = {
    val spark = documents.sparkSession
    val scored = lmDocScores(documents)
      .withColumn("ppl_fp",
        round(col("nll_fp").cast("double") / col("n_bigrams")).cast("long"))
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
    // (source, ppl_fp) histogram — the bounded relation everything else
    // runs on; a histogram under the cap is reduced on the driver
    val hist0 = scored.groupBy(col("source"), col("ppl_fp"))
      .agg(count(lit(1)).as("c"))
    graft.C.collectBelow(hist0, driverCollectMax) match {
      case Some(collected) =>
        import spark.implicits._
        val rows = collected.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val nS = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        val nTotal = rows.map(_._3).sum
        val grid = rows.map(_._2).distinct.sorted
        val cumAll = {
          val byPpl = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
          var acc = 0L
          grid.map { p => acc += byPpl.getOrElse(p, 0L); p -> acc }.toMap
        }
        val out = nS.keys.toSeq.sorted.map { s =>
          val byPpl = rows.filter(_._1 == s).map(r => r._2 -> r._3).toMap
          val ns = nS(s); val nRest = nTotal - ns
          var cumS = 0L
          var ksNum = -1L // first grid point always sets atPpl: an all-zero
          var atPpl = 0L  // diff row still reports min(ppl), like the argmax join
          grid.foreach { p =>
            cumS += byPpl.getOrElse(p, 0L)
            val diff = math.abs(cumS * nRest - (cumAll(p) - cumS) * ns)
            if (diff > ksNum) { ksNum = diff; atPpl = p } // min ppl at the max
          }
          val dPpm = if (ns * nRest > 0) ksNum * KsScale / (ns * nRest) else 0L
          (s, ns, nRest, ksNum, atPpl, dPpm)
        }
        out.toDF("source", "n_s", "n_rest", "ks_num", "at_ppl_fp", "d_ppm")
          .orderBy(col("source"))
      case None =>
        val hist = hist0.localCheckpoint(eager = true)
        val perSource = hist.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
        val total = broadcast(hist.agg(sum(col("c")).as("n_total")))
        // full grid so every source has a cum at every observed score value
        val grid = hist.select(col("ppl_fp")).distinct()
          .crossJoin(perSource.select(col("source")))
        val cumS = grid
          .join(hist, Seq("source", "ppl_fp"), "left_outer")
          .withColumn("cum_s",
            sum(coalesce(col("c"), lit(0L)))
              .over(Window.partitionBy(col("source")).orderBy(col("ppl_fp"))))
        val cumAll = hist.groupBy(col("ppl_fp")).agg(sum(col("c")).as("ca"))
          .withColumn("cum_all", sum(col("ca")).over(Window.orderBy(col("ppl_fp"))))
        val diffs = cumS
          .join(cumAll.select(col("ppl_fp"), col("cum_all")), "ppl_fp")
          .join(perSource, "source")
          .crossJoin(total)
          .select(col("source"), col("ppl_fp"), col("n_s"),
            (col("n_total") - col("n_s")).as("n_rest"),
            abs(col("cum_s") * (col("n_total") - col("n_s"))
              - (col("cum_all") - col("cum_s")) * col("n_s")).as("diff"))
          .localCheckpoint(eager = true) // max + argmax join-back read it twice
        val ks = diffs.groupBy(col("source")).agg(max(col("diff")).as("ks_num"))
        diffs
          .join(ks, "source")
          .filter(col("diff") === col("ks_num"))
          .groupBy(col("source"))
          .agg(first(col("n_s")).as("n_s"), first(col("n_rest")).as("n_rest"),
            first(col("ks_num")).as("ks_num"), min(col("ppl_fp")).as("at_ppl_fp"))
          .select(col("source"), col("n_s"), col("n_rest"), col("ks_num"),
            col("at_ppl_fp"),
            when(col("n_s") * col("n_rest") > 0,
              expr(s"ks_num * $KsScale div (n_s * n_rest)")).otherwise(0L).as("d_ppm"))
          .orderBy(col("source"))
    }
  }

  def qualityDriftSql: String =
    s"""${lmPerDocCtesSql}, scored AS (
       |  SELECT d.source,
       |         CAST(round(CAST(p.nll_fp AS DOUBLE) / p.n_bigrams) AS BIGINT) AS ppl_fp
       |  FROM perdoc p JOIN documents d USING (doc_id)
       |), hist AS MATERIALIZED (
       |  SELECT source, ppl_fp, count(*) AS c FROM scored GROUP BY source, ppl_fp
       |), per_source AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM hist GROUP BY source
       |), tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_total FROM hist
       |), grid AS (
       |  SELECT s.source, v.ppl_fp
       |  FROM (SELECT DISTINCT ppl_fp FROM hist) v, per_source s
       |), cum_s AS (
       |  SELECT g.source, g.ppl_fp,
       |         CAST(sum(coalesce(h.c, 0)) OVER (PARTITION BY g.source
       |           ORDER BY g.ppl_fp) AS BIGINT) AS cum_s
       |  FROM grid g LEFT JOIN hist h
       |    ON g.source = h.source AND g.ppl_fp = h.ppl_fp
       |), cum_all AS (
       |  SELECT ppl_fp, CAST(sum(sum(c)) OVER (ORDER BY ppl_fp) AS BIGINT) AS cum_all
       |  FROM hist GROUP BY ppl_fp
       |), diffs AS (
       |  SELECT c.source, c.ppl_fp, s.n_s, t.n_total - s.n_s AS n_rest,
       |         abs(c.cum_s * (t.n_total - s.n_s)
       |             - (a.cum_all - c.cum_s) * s.n_s) AS diff
       |  FROM cum_s c
       |  JOIN cum_all a USING (ppl_fp)
       |  JOIN per_source s USING (source)
       |  CROSS JOIN tot t
       |), ks AS (
       |  SELECT source, max(diff) AS ks_num FROM diffs GROUP BY source
       |)
       |SELECT d.source, CAST(any_value(d.n_s) AS BIGINT) AS n_s,
       |       CAST(any_value(d.n_rest) AS BIGINT) AS n_rest,
       |       CAST(any_value(k.ks_num) AS BIGINT) AS ks_num,
       |       CAST(min(d.ppl_fp) AS BIGINT) AS at_ppl_fp,
       |       CAST(CASE WHEN any_value(d.n_s) * any_value(d.n_rest) > 0
       |            THEN any_value(k.ks_num) * $KsScale
       |                 // (any_value(d.n_s) * any_value(d.n_rest))
       |            ELSE 0 END AS BIGINT) AS d_ppm
       |FROM diffs d JOIN ks k ON d.source = k.source AND d.diff = k.ks_num
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---- Winnowing fingerprints ----

  /** Winnowing k-gram length (characters). */
  private[graft] val WinnowK = 8

  /** Winnowing window: guarantee a fingerprint in every [[WinnowW]]
    * consecutive k-grams. */
  private[graft] val WinnowW = 4

  /** Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): hash every [[WinnowK]]-char gram, slide a
    * [[WinnowW]]-gram window, select each window's minimum hash (ties →
    * rightmost), and keep the distinct selected (position, hash) set. The
    * guarantee: any match of length ≥ k+w−1 between two documents shares at
    * least one selected fingerprint, at ~2/(w+1) the density of the full
    * gram set — the position-robust complement to [[docFingerprint]]'s
    * whole-doc hash and [[graft.pipeline.Dedup.dedupSubstring]]'s exact
    * gram table. A doc shorter than w grams selects its global minimum.
    *
    * Everything is per-row array expressions (one projection, no explode,
    * no shuffle, map-only at any scale). The selected set is reported as
    * (count, digest): `fp_hash` = the 60-bit hash of the sorted
    * `pos:hash` list — two docs sharing no selected fingerprint collide
    * with probability 2^-60, and the digest keeps output rows
    * corpus-sized rather than fingerprint-sized (the set itself would
    * feed a band join exactly like [[graft.pipeline.Dedup]]'s).
    */
  def docWinnow(documents: DataFrame): DataFrame = {
    // CANONICAL over distinct texts: the fingerprint row is a pure
    // function of the text, so the gram hashing + window selection run
    // once per distinct text and expand through the member map. The MD5
    // gram hash itself stays — the round-14 adjudication question of a
    // cheaper polynomial hash is moot once the duplication factor is
    // collapsed out: the ~10⁹ MD5s both engines paid at the ×100 replica
    // (Spark 151 s, DuckDB 783 s) were ~99 % exact-copy re-hashing.
    perDocCanonical(documents, docWinnowCore, Seq("n_grams", "n_selected", "fp_hash"))
  }

  /** Unordered [[docWinnow]] — per-row expressions only, so it runs
    * unchanged on a stream ([[graft.streaming.StreamJobs.docWinnowStream]]).
    */
  private[graft] def docWinnowCore(documents: DataFrame): DataFrame = {
    // native gram-hash + window-selection expressions
    // ([[graft.functions.GramMd5Hashes]]/[[graft.functions.WinnowSelect]]),
    // value-identical to the interpreted HOF chain they replaced (same
    // md5-derived 60-bit gram hash, same rightmost-argmin `<=` fold, same
    // 1-based distinct-ascending positions) — the ×100 sweep measured the
    // HOF form at 1240 s, one interpreted lambda + hex round-trip per
    // gram; the oracle SQL is untouched. coalesce mirrors the old
    // `IF(length(text) >= k, …, array())`, which maps NULL text to empty.
    documents
      .select(col("doc_id"), col("text"))
      .withColumn("hs", coalesce(
        graft.functions.WinnowFunctions.gramMd5Hashes(col("text"), WinnowK),
        expr("cast(array() as array<bigint>)")))
      .withColumn("sel", graft.functions.WinnowFunctions.winnowSelect(col("hs"), WinnowW))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_selected"),
        C.md5Long(graft.functions.WinnowFunctions.winnowDigest(col("hs"), col("sel")))
          .as("fp_hash"))
  }

  def docWinnowSql: String = {
    val k1 = WinnowK - 1
    val w1 = WinnowW - 1
    s"""WITH wn_docs_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), wn_grp AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM wn_docs_g GROUP BY gid
       |), h AS (
       |  SELECT d.doc_id,
       |         list_transform(generate_series(1, greatest(length(text) - $k1, 0)),
       |           p -> CAST(concat('0x', substr(md5(substr(text, p, $WinnowK)), 1, 15)) AS BIGINT)) AS hs
       |  FROM documents d JOIN wn_grp g ON d.doc_id = g.rep_id
       |), w AS (
       |  SELECT doc_id, hs,
       |         CASE WHEN len(hs) >= $WinnowW THEN
       |           list_sort(list_distinct(list_transform(generate_series(1, len(hs) - $w1),
       |             s -> list_max(list_filter(generate_series(s, s + $w1),
       |                    i -> hs[i] = list_min(hs[s:s+$w1]))))))
       |         WHEN len(hs) > 0 THEN
       |           [list_max(list_filter(generate_series(1, len(hs)), i -> hs[i] = list_min(hs)))]
       |         ELSE []::BIGINT[] END AS sel
       |  FROM h
       |), r AS MATERIALIZED (
       |  SELECT doc_id AS rep_id, CAST(len(hs) AS BIGINT) AS n_grams,
       |         CAST(len(sel) AS BIGINT) AS n_selected,
       |         ${C.md5LongSql(
            // coalesce: DuckDB string_agg of an empty list is NULL, Spark
            // array_join of an empty array is '' — align on ''
            "coalesce(array_to_string(list_transform(sel, p -> concat(p, ':', hs[p])), ','), '')")} AS fp_hash
       |  FROM w
       |)
       |SELECT d.doc_id, r.n_grams, r.n_selected, r.fp_hash
       |FROM wn_docs_g d JOIN wn_grp g USING (gid) JOIN r ON r.rep_id = g.rep_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- Gopher-style rule battery ----

  /** Gopher-style repetition/quality rule battery (Rae et al. 2021 §A1.1
    * applied a battery of hard document filters before any model-based
    * scoring; this is that battery over the shared token model): per doc,
    * five 0/1 verdicts —
    *  - `r_wc`: 5 ≤ word count ≤ 1000;
    *  - `r_mwl`: mean word length in [3, 10], checked as
    *    `3·n ≤ Σlen ≤ 10·n` (division-free);
    *  - `r_stop`: contains ≥ 1 stopword (the "natural prose" proxy);
    *  - `r_alpha`: ≥ 80% of words contain an alphabetic character
    *    (`5·n_alpha ≥ 4·n`);
    *  - `r_dup`: duplicate-bigram fraction ≤ 30%
    *    (`10·(n_bg − n_distinct_bg) ≤ 3·n_bg`; trivially passes under 2
    *    bigrams) — [[docRepetition]]'s statistic as a hard gate;
    * and `keep` = the conjunction. All comparisons are integer
    * cross-multiplications — no ratio ever materializes, so the battery
    * hash-checks. Map-only (per-row array expressions), one projection.
    */
  def gopherRules(documents: DataFrame): DataFrame =
    perDocCanonical(documents, gopherRulesCore,
      Seq("n_words", "r_wc", "r_mwl", "r_stop", "r_alpha", "r_dup", "keep"))

  /** Unordered [[gopherRules]] — per-row expressions only, so the battery
    * runs unchanged as an ingest-time stream filter
    * ([[graft.streaming.StreamJobs.gopherRulesStream]]).
    */
  private[graft] def gopherRulesCore(documents: DataFrame): DataFrame = {
    // one native tokenizing pass per row (no token array, no per-token
    // regex, no struct-pair distinct allocation) — value-identical to the
    // array-lambda battery, which TextNativeSpec A/Bs on real documents
    // and adversarial token fixtures
    documents
      .select(col("doc_id"), graft.functions.TextFunctions.gopherStats(col("text")).as("s"))
      .select(col("doc_id"),
        col("s.n_words").as("n_words"),
        col("s.sum_len").as("sum_len"),
        col("s.n_stop_types").as("n_stop_types"),
        col("s.n_alpha").as("n_alpha"),
        // legacy n_bg was greatest(size−1, 0), and greatest IGNORES nulls:
        // a NULL text still reported n_bg = 0 (every other stat null).
        // n_bg_dist likewise: the twin's generate_series(1, 0) path yields
        // an empty list (len 0, never NULL) for NULL text, so r_dup there
        // is (0-0)*10 <= 0 = true — an uncoalesced NULL here would diverge
        // (and NULLs in a long column make pandas read it as float64).
        coalesce(col("s.n_bg"), lit(0L)).as("n_bg"),
        coalesce(col("s.n_bg_dist"), lit(0L)).as("n_bg_dist"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 5 && col("n_words") <= 1000).cast("long").as("r_wc"),
        (col("sum_len") >= col("n_words") * 3
          && col("sum_len") <= col("n_words") * 10).cast("long").as("r_mwl"),
        (col("n_stop_types") >= 1).cast("long").as("r_stop"),
        (col("n_alpha") * 5 >= col("n_words") * 4).cast("long").as("r_alpha"),
        ((col("n_bg") - col("n_bg_dist")) * 10 <= col("n_bg") * 3)
          .cast("long").as("r_dup"))
      .withColumn("keep",
        (col("r_wc") * col("r_mwl") * col("r_stop") * col("r_alpha") * col("r_dup"))
          .cast("long"))
  }

  def gopherRulesSql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH gr_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), gr_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM gr_g GROUP BY gid
       |), t AS (
       |  SELECT d.doc_id, $tokensSql AS toks
       |  FROM documents d JOIN gr_r ON d.doc_id = gr_r.rep_id
       |), m AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS sum_len,
       |         CAST(len(list_intersect(toks, [$stopList])) AS BIGINT) AS n_stop_types,
       |         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |         CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bg,
       |         -- length-prefixed pair encoding: injective for ANY token
       |         -- content (a plain delimiter can collide when a token
       |         -- contains the delimiter char), so distinct encoded
       |         -- strings = distinct (t1, t2) pairs, matching the Spark
       |         -- side's struct-pair distinct
       |         CAST(len(list_distinct(list_transform(
       |           generate_series(1, greatest(len(toks) - 1, 0)),
       |           i -> concat(len(toks[i]), ':', toks[i], toks[i + 1])))) AS BIGINT) AS n_bg_dist
       |  FROM t
       |)
       |SELECT g.doc_id, m.n_words,
       |       CAST(m.n_words >= 5 AND m.n_words <= 1000 AS BIGINT) AS r_wc,
       |       CAST(m.sum_len >= m.n_words * 3 AND m.sum_len <= m.n_words * 10 AS BIGINT) AS r_mwl,
       |       CAST(m.n_stop_types >= 1 AS BIGINT) AS r_stop,
       |       CAST(m.n_alpha * 5 >= m.n_words * 4 AS BIGINT) AS r_alpha,
       |       CAST((m.n_bg - m.n_bg_dist) * 10 <= m.n_bg * 3 AS BIGINT) AS r_dup,
       |       CAST(CAST(m.n_words >= 5 AND m.n_words <= 1000 AS BIGINT)
       |            * CAST(m.sum_len >= m.n_words * 3 AND m.sum_len <= m.n_words * 10 AS BIGINT)
       |            * CAST(m.n_stop_types >= 1 AS BIGINT)
       |            * CAST(m.n_alpha * 5 >= m.n_words * 4 AS BIGINT)
       |            * CAST((m.n_bg - m.n_bg_dist) * 10 <= m.n_bg * 3 AS BIGINT) AS BIGINT) AS keep
       |FROM gr_g g JOIN gr_r r USING (gid) JOIN m ON m.doc_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin
  }

  // ── HTML text extraction (crawl-side front of the curation funnel) ──

  /** Minimum visible chars for a block to survive extraction. */
  private[graft] val HtmlMinBlockChars = 25
  /** Block-level tags that delimit text blocks (inline tags — <a>, <b>,
    * <span> — stay inside their block so link density can be measured).
    */
  private[graft] val HtmlBlockTags =
    "p|div|nav|footer|header|h[1-6]|li|ul|ol|table|tr|td|th|section|article|aside|title|body|html|head"
  private[graft] val HtmlBlockSplitRe = s"(?i)</?(?:$HtmlBlockTags)\\b[^>]*>"
  private[graft] val HtmlAnchorRe = "(?is)<a\\b[^>]*>(.*?)</a>"

  /** Deterministic HTML fixture generator: wraps each document's text in a
    * realistic page — head with title/style/script, a link-only nav, the
    * escaped text as the main content block, a long link-dense promo
    * block, and a short footer — so [[htmlExtract]] has all four
    * boilerplate classes to remove (script/style content, short blocks,
    * link-dense blocks) plus one genuine content block to keep. Entities
    * are escaped on the way in (& < >) and decoded on the way out, so a
    * perfect extraction round-trips the original text.
    */
  def htmlWrap(documents: DataFrame): DataFrame = {
    // coalesce: the wrap is TOTAL — a NULL-text doc still renders a page
    // (empty main block), so extraction emits its accounting row instead
    // of the whole doc vanishing from a NULL concat. Twin: coalesce(text, '').
    val esc = replace(replace(replace(coalesce(col("text"), lit("")),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    documents.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body { margin: 0; }</style><script>var t = "),
      col("doc_id").cast("string"), lit(";</script></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/tag/"),
      (col("doc_id") % 7).cast("string"), lit("\">Tag</a></nav>"),
      lit("<div id=\"main\"><p>"), esc, lit("</p></div>"),
      lit("<div class=\"promo\"><a href=\"/buy\">Buy now</a> " +
        "<a href=\"/subscribe\">Subscribe today for more</a> " +
        "<a href=\"/offers\">See all offers and deals</a></div>"),
      // keyword-stuffed SEO block: long enough and link-free, so only the
      // stopword-density axis can reject it — the fixture block that flips
      lit("<div class=\"kw\">WIDGET GADGET SPROCKET FLANGE DONGLE BRACKET CATALOG</div>"),
      lit("<footer><a href=\"/terms\">Terms</a> (c) 2026</footer>"),
      lit("</body></html>")).as("html"))
  }

  /** HTML → cleaned text (jusText/Arc90 family, the step a crawl pipeline
    * runs BEFORE everything else in this module): drop script/style with
    * their content, split on block-level tag boundaries, strip inline
    * tags, normalize whitespace, decode entities, then keep a block iff
    * its visible text has ≥ [[HtmlMinBlockChars]] chars AND link density
    * ≤ 1/3 (anchor text × 3 ≤ visible text — the Arc90 link-density
    * heuristic; jusText adds a stopword-density axis, documented
    * deviation). Output is the rebuilt document from surviving blocks in
    * order, plus block accounting.
    *
    * Shape at 100 TB: entirely expression-level (regexp split/replace +
    * array transform/filter inside whole-stage codegen) — a map-only pass
    * with NO shuffle, no explode, no UDF; scales embarrassingly.
    * Stateless core, so the identical plan runs under Structured
    * Streaming ([[graft.streaming.StreamJobs.htmlExtractStream]]).
    */
  def htmlExtractCore(pages: DataFrame, stopwordAxis: Boolean = false): DataFrame = {
    val scored = graft.functions.HtmlFunctions.htmlBlockScores(col("html"))
    val nonEmpty = filter(scored, s => s.getField("n") > 0)
    val kept = filter(nonEmpty, s => {
      val base = s.getField("n") >= HtmlMinBlockChars &&
        s.getField("ln") * 3 <= s.getField("n")
      // jusText's stopword-density axis (the deviation the base form
      // documents): real prose carries function words, keyword-stuffed
      // SEO blocks don't — >= 1 bare stopword token keeps a block
      if (stopwordAxis) base && s.getField("ns") >= 1 else base
    })
    pages.select(col("doc_id"),
      size(nonEmpty).cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_kept"),
      array_join(transform(kept, s => s.getField("vis")), " ").as("clean_text"))
      .withColumn("n_clean_chars", length(col("clean_text")).cast("long"))
  }

  def htmlExtract(pages: DataFrame, stopwordAxis: Boolean = false): DataFrame =
    htmlExtractCore(pages, stopwordAxis).orderBy(col("doc_id"))

  /** [[htmlWrap]] + [[htmlExtract]] over the documents table, canonicalized
    * by distinct text ([[graft.pipeline.Dedup.canonicalTexts]]): every
    * output column is a pure function of `text`, because the only
    * doc_id-dependent VISIBLE text on a wrapped page is the title block
    * "Doc <id>" — 5–14 chars for any 64-bit id, always under
    * [[HtmlMinBlockChars]] = 25, so it can never be kept, and it is
    * non-empty for every id, so n_blocks is id-independent too (the nav
    * href's id lives inside a tag attribute, stripped before counting).
    * The scorer battery therefore runs once per distinct text and members
    * inherit their rep's row through an output-sized join — at the ×100
    * replica (100 exact copies per text) that removes ~99 % of the
    * per-page char-scan cost that made html_extract the recorded engine
    * floor (~105–115 s). HtmlNativeSpec pins row-set equality with the
    * per-doc [[htmlExtract]] on corpus + adversarial fixtures.
    */
  def htmlExtractCanonical(documents: DataFrame,
      stopwordAxis: Boolean = false): DataFrame =
    perDocCanonical(documents, reps => htmlExtractCore(htmlWrap(reps), stopwordAxis),
      Seq("n_blocks", "n_kept", "clean_text", "n_clean_chars"))

  /** The regexp-battery block scorer the native
    * [[graft.functions.HtmlBlockScores]] replaced — kept as the ground
    * truth for HtmlNativeSpec's bit-equality A/B (real documents +
    * adversarial fragments). Not on any query path.
    */
  private[graft] def htmlBlockScoresLegacy(html: Column): Column = {
    def stripTags(c: Column): Column = regexp_replace(c, "<[^>]*>", " ")
    def normWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))
    def unesc(c: Column): Column =
      replace(replace(replace(replace(c, lit("&lt;"), lit("<")),
        lit("&gt;"), lit(">")), lit("&quot;"), lit("\"")), lit("&amp;"), lit("&"))
    val noScript = regexp_replace(regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " "), "(?is)<style[^>]*>.*?</style>", " ")
    transform(split(noScript, HtmlBlockSplitRe), b => {
      val vis = unesc(normWs(stripTags(b)))
      val linkVis = unesc(normWs(stripTags(concat_ws(" ",
        regexp_extract_all(b, lit(HtmlAnchorRe), lit(1))))))
      // ns: bare stopword tokens in the block (vis is already
      // whitespace-normalized, so a single-space split is exact)
      val ns = size(filter(split(lower(vis), " "),
        t => t.isin(stopwords.map(lit): _*)))
      struct(vis.as("vis"), length(vis).as("n"), length(linkVis).as("ln"),
        ns.as("ns"))
    })
  }

  /** DuckDB twin of [[htmlWrap]] + [[htmlExtract]] over the documents
    * table — same wrap, same split/strip/keep pipeline (RE2 flavor: no
    * backreferences, hence the separate script/style replaces on both
    * sides; 'g' flag where Spark replaces all matches by default).
    */
  def htmlExtractSql: String = htmlExtractSql(stopwordAxis = false)

  def htmlExtractSql(stopwordAxis: Boolean): String = {
    // block keep predicate, shared by the count and the string_agg arm
    val keepCond =
      if (stopwordAxis)
        s"""len(vis) >= $HtmlMinBlockChars AND 3 * len(lvis) <= len(vis)
       AND len(list_filter(str_split(lower(vis), ' '),
             x -> list_contains($stopwordsSqlList, x))) >= 1"""
      else s"len(vis) >= $HtmlMinBlockChars AND 3 * len(lvis) <= len(vis)"
    s"""WITH hx_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid FROM documents
       |), hx_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM hx_g GROUP BY gid
       |), h AS (
       |  -- reps only: extraction is a pure function of text (see
       |  -- htmlExtractCanonical), members re-expand at the end
       |  SELECT d.doc_id,
       |    '<html><head><title>Doc ' || CAST(d.doc_id AS VARCHAR)
       |    || '</title><style>body { margin: 0; }</style><script>var t = '
       |    || CAST(d.doc_id AS VARCHAR) || ';</script></head><body>'
       |    || '<nav><a href="/">Home</a> <a href="/tag/'
       |    || CAST(d.doc_id % 7 AS VARCHAR) || '">Tag</a></nav>'
       |    || '<div id="main"><p>'
       |    || replace(replace(replace(coalesce(text, ''), '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
       |    || '</p></div>'
       |    || '<div class="promo"><a href="/buy">Buy now</a> <a href="/subscribe">Subscribe today for more</a> <a href="/offers">See all offers and deals</a></div>'
       |    || '<div class="kw">WIDGET GADGET SPROCKET FLANGE DONGLE BRACKET CATALOG</div>'
       |    || '<footer><a href="/terms">Terms</a> (c) 2026</footer>'
       |    || '</body></html>' AS html
       |  FROM documents d JOIN hx_r ON d.doc_id = hx_r.rep_id
       |), s AS (
       |  SELECT doc_id, regexp_replace(regexp_replace(html,
       |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |    '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS nos
       |  FROM h
       |), b AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(nos, '(?i)</?(?:$HtmlBlockTags)\\b[^>]*>') AS blocks
       |  FROM s
       |), v AS (
       |  SELECT doc_id, u.i AS bi,
       |    replace(replace(replace(replace(trim(regexp_replace(regexp_replace(
       |      blocks[u.i], '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&') AS vis,
       |    -- coalesce: no anchors -> empty string, matching Spark's
       |    -- concat_ws over an empty array (NULL would void the CASE)
       |    coalesce(replace(replace(replace(replace(trim(regexp_replace(regexp_replace(
       |      array_to_string(regexp_extract_all(blocks[u.i],
       |        '(?is)<a\\b[^>]*>(.*?)</a>', 1), ' '),
       |      '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'), '') AS lvis
       |  FROM b, unnest(generate_series(1, len(blocks))) AS u(i)
       |), k AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN len(vis) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
       |    CAST(sum(CASE WHEN $keepCond THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    coalesce(string_agg(CASE WHEN $keepCond THEN vis END,
       |                        ' ' ORDER BY bi), '') AS clean_text
       |  FROM v GROUP BY doc_id
       |)
       |SELECT g.doc_id, k.n_blocks, k.n_kept, k.clean_text,
       |       CAST(length(k.clean_text) AS BIGINT) AS n_clean_chars
       |FROM hx_g g JOIN hx_r r USING (gid) JOIN k ON k.doc_id = r.rep_id
       |ORDER BY g.doc_id""".stripMargin
  }

}
