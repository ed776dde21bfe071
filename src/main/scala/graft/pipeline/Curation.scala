package graft.pipeline

import graft.C
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the selection half of a training-data
  * pipeline (the transform half lives in [[Dedup]] / [[TextAnalysis]]):
  * deterministic sampling, benchmark decontamination, and token-budgeted
  * quality selection. Everything is hash-deterministic (no `rand()`), so
  * results are reproducible across engines, cluster sizes, and retries —
  * and every query has an exact DuckDB oracle.
  */
object Curation {

  /** Deterministic p%-sample: keep a document iff a 60-bit content-free
    * hash of its id lands under the cut. A pure map-side filter — no
    * shuffle, no RNG state, stable under re-partitioning and re-runs, and
    * composable (the same cut always selects the same subcorpus). This is
    * the scale-safe replacement for `sample()`/`TABLESAMPLE`, whose
    * per-partition RNG changes with partitioning.
    */
  def sampleDocs(documents: DataFrame, pct: Int = 10): DataFrame =
    documents
      .filter(C.md5Long(col("doc_id").cast("string")) % 100 < pct)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  def sampleDocsSql(pct: Int = 10): String =
    s"""SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
       |FROM documents
       |WHERE ${C.md5LongSql("CAST(doc_id AS VARCHAR)")} % 100 < $pct
       |ORDER BY doc_id""".stripMargin

  /** Per-stratum sampling rates for [[sampleStratified]] — a training-mix
    * re-weighting spec (downsample the over-represented language, keep
    * more of the rare ones). Interpolated into BOTH the Column expression
    * and the oracle SQL, like the Knn constants.
    */
  private[graft] val StratRates: Seq[(String, Int)] =
    Seq("en" -> 10, "zh" -> 60, "de" -> 60)
  private[graft] val StratDefaultPct = 30

  /** Stratified deterministic sampling — the mixture re-weighting step of
    * a training-data pipeline: each language stratum gets its own keep
    * rate ([[StratRates]], else [[StratDefaultPct]]). Same map-side
    * hash-cut mechanics as [[sampleDocs]] (no shuffle, no RNG,
    * repartition/retry-stable); the hash is salted with the stratum so
    * the per-stratum subsample is independent of the flat sample's.
    * Output carries the applied rate so downstream weighting (1/rate
    * importance weights) needs no second lookup.
    */
  /** Stateless core (no sort) — runs unchanged on a stream; see
    * `StreamJobs.sampleStratifiedStream`. */
  def sampleStratifiedCore(documents: DataFrame): DataFrame = {
    val rate = StratRates.foldRight(lit(StratDefaultPct)) { case ((l, p), els) =>
      when(col("lang") === l, lit(p)).otherwise(els)
    }
    documents
      .withColumn("rate_pct", rate.cast("long"))
      // coalesce keeps a NULL lang row hashable identically in both
      // engines (Spark concat propagates NULL, DuckDB concat skips it —
      // without this a NULL-lang doc is always dropped here and sampled
      // at the default rate in the oracle)
      .filter(C.md5Long(concat(coalesce(col("lang"), lit("")), lit(":"),
        col("doc_id").cast("string"))) % 100 < col("rate_pct"))
      .select(col("doc_id"), col("lang"), col("rate_pct"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def sampleStratified(documents: DataFrame): DataFrame =
    sampleStratifiedCore(documents).orderBy(col("doc_id"))

  val sampleStratifiedSql: String = {
    val cases = StratRates.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }.mkString(" ")
    s"""WITH rated AS (
       |  SELECT doc_id, lang, text,
       |         CAST(CASE $cases ELSE $StratDefaultPct END AS BIGINT) AS rate_pct
       |  FROM documents
       |)
       |SELECT doc_id, lang, rate_pct, CAST(length(text) AS BIGINT) AS n_chars
       |FROM rated
       |WHERE ${C.md5LongSql("concat(coalesce(lang, ''), ':', CAST(doc_id AS VARCHAR))")} % 100 < rate_pct
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark-contamination scan: which training documents share 3-gram
    * shingles with a held-out eval set (stand-in: every 53rd document)?
    * Inverted-index join on shingle hashes — the eval side is tiny and
    * broadcast; the training side streams through map-side. Output: one
    * row per training doc that overlaps at all, with the shared-shingle
    * count and its contaminated fraction.
    */
  /** Canonicalized ([[Dedup.canonicalTexts]]): a doc's shingle set is a
    * pure function of its text, so shingles are built for distinct-text
    * reps only and the eval/train membership (the one id-keyed part,
    * doc_id % 53) routes through the member map — eval shingles are the
    * union over reps of eval members; per-train-doc counts equal their
    * rep's counts. Only the final member expansion is doc-sized; all the
    * tokenize/shingle/intersect work is rep-sized (~1 % at the ×100
    * replica). Row-identical to the per-doc form: a train doc gets a row
    * iff its rep shares ≥ 1 shingle with the eval set, with the same
    * counts (CanonicalPerDocSpec pins the A/B).
    */
  def decontamOverlap(documents: DataFrame): DataFrame = {
    val (_, members, reps) = Dedup.canonicalTexts(documents)
    decontamOverlapFrom(members, reps).orderBy(col("doc_id"))
  }

  /** [[decontamOverlap]] over an already-derived canonical pair — lets
    * [[curatePipeline]] reuse ONE canonicalTexts for all of its arms. */
  private def decontamOverlapFrom(members: DataFrame, reps: DataFrame): DataFrame = {
    val sh = Dedup.shingleHashes(reps)
      .withColumnRenamed("doc_id", "rep_id")
      .localCheckpoint(eager = true) // three consumers: eval set, sizes, hits
    val evalReps = members.filter(col("doc_id") % 53 === 0)
      .select(col("rep_id")).distinct()
    val evalSh = sh.join(evalReps, Seq("rep_id")).select(col("h0")).distinct()
    val sizes = sh.groupBy(col("rep_id")).agg(count(lit(1)).as("n_total"))
    val hits = sh
      .join(broadcast(evalSh), Seq("h0"))
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_shared"))
    // hits ⋈ sizes first, at REP granularity, so the member expansion is
    // ONE doc-keyed join instead of two (same inner-join rows). No sort
    // here — the standalone query adds it; curatePipeline consumes this
    // under further joins where a sort is dead weight.
    members.filter(col("doc_id") % 53 =!= 0)
      .join(hits.join(sizes, Seq("rep_id")), Seq("rep_id"))
      .select(col("doc_id"), col("n_shared"), col("n_total"),
        (col("n_shared").cast("double") / col("n_total")).as("contam_frac"))
  }

  val decontamOverlapSql: String =
    s"""WITH dco_g AS MATERIALIZED (
       |  SELECT doc_id, ${graft.C.textGidSql("text")} AS gid FROM documents
       |), dco_r AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id FROM dco_g GROUP BY gid
       |), sh AS MATERIALIZED (
       |  SELECT DISTINCT d.doc_id AS rep_id,
       |         ${graft.C.md5LongSql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")} AS h0
       |  FROM (SELECT dd.doc_id, ${graft.pipeline.TextAnalysis.tokensSql} AS toks
       |        FROM documents dd JOIN dco_r ON dd.doc_id = dco_r.rep_id) d,
       |       unnest(generate_series(1, len(toks) - 2)) AS u(i)
       |), mem AS MATERIALIZED (
       |  SELECT r.rep_id, g.doc_id FROM dco_g g JOIN dco_r r USING (gid)
       |), ev AS (
       |  SELECT DISTINCT sh.h0 FROM sh
       |  JOIN (SELECT DISTINCT rep_id FROM mem WHERE doc_id % 53 = 0) er
       |    ON sh.rep_id = er.rep_id
       |), sizes AS (
       |  SELECT rep_id, count(*) AS n_total FROM sh GROUP BY rep_id
       |), hits AS (
       |  SELECT sh.rep_id, count(*) AS n_shared
       |  FROM sh JOIN ev ON sh.h0 = ev.h0
       |  GROUP BY sh.rep_id
       |)
       |SELECT m.doc_id, h.n_shared, s.n_total,
       |       CAST(h.n_shared AS DOUBLE) / s.n_total AS contam_frac
       |FROM mem m
       |JOIN hits h ON h.rep_id = m.rep_id
       |JOIN sizes s ON s.rep_id = m.rep_id
       |WHERE m.doc_id % 53 <> 0
       |ORDER BY m.doc_id""".stripMargin

  /** Training-shard assignment: pack documents into shards of ~`shardTokens`
    * tokens in a deterministic global order (doc_id), i.e.
    * `shard = floor(running_tokens_before_doc / shardTokens)`.
    *
    * The scale shape is the point: the naive form is one `sum() OVER
    * (ORDER BY ...)` — a single-partition window over the whole corpus.
    * Here the global running sum is computed in two phases, both
    * distributed: (1) per-BLOCK token totals (block := doc_id div 10⁴ —
    * ~10⁴ docs per block, so the block table is corpus/10⁴ rows) with a
    * running offset over that small table; (2) a within-block running sum
    * windowed BY block — per-block partitions, bounded size. cum =
    * block_offset + within-block sum. Bit-identical to the naive global
    * window (integer sums in a fixed order), which is exactly what the
    * DuckDB oracle runs.
    */
  def shardPack(documents: DataFrame, shardTokens: Long = 2000): DataFrame =
    cumBefore(documents)
      .withColumn("shard_id", (col("cum_before") / shardTokens).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("cum_before"), col("shard_id"))
      .orderBy(col("doc_id"))

  /** (doc_id, n_tokens, cum_before): each doc's offset in the corpus token
    * stream (docs in doc_id order) — the distributed global running sum
    * both [[shardPack]] and [[sequencePack]] build on, in two phases:
    * (1) per-BLOCK token totals (block := doc_id div 10⁴, so the block
    * table is corpus/10⁴ rows) with a running offset over that small
    * table; (2) a within-block running sum windowed BY block — per-block
    * partitions, bounded size. cum = block_offset + within-block sum.
    * Bit-identical to the naive single-partition `sum() OVER (ORDER BY
    * doc_id)` (integer sums in a fixed order), which is what the DuckDB
    * oracles run.
    */
  private def cumBefore(documents: DataFrame): DataFrame = {
    val blockW = Window.partitionBy(lit(0)).orderBy(col("block"))
    val inBlockW = Window.partitionBy(col("block"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // materialized: both phases (block totals, within-block windows)
    // consume it — without this the corpus is scanned and tokenized twice
    // (the two consumers' exchanges differ, so ReuseExchange can't dedup
    // them). localCheckpoint → ContextCleaner reclaims, no session leak.
    val toks = documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("block", (col("doc_id") / 10000L).cast("long"))
      .localCheckpoint(eager = true)
    val blockOffsets = toks
      .groupBy(col("block")).agg(sum(col("n_tokens")).as("block_tokens"))
      // running offset over the tiny block table (≤ corpus/10⁴ rows —
      // the declared-single-partition window is bounded by construction)
      .withColumn("block_offset",
        coalesce(sum(col("block_tokens")).over(blockW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("block"), col("block_offset"))
    toks
      .withColumn("in_block", coalesce(sum(col("n_tokens")).over(inBlockW), lit(0L)))
      .join(broadcast(blockOffsets), Seq("block"))
      .select(col("doc_id"), col("n_tokens"),
        (col("block_offset") + col("in_block")).as("cum_before"))
  }

  /** Context-window sequence packing — the GPT-pretraining layout: the
    * corpus token stream (docs concatenated in deterministic doc_id order)
    * is cut into fixed `seqLen`-token training sequences, and docs SPLIT
    * across sequence boundaries (no padding). Output is the span map a
    * training dataloader consumes: one row per (doc, sequence) overlap
    * with the doc-side offset and in-sequence position of the span.
    *
    * Scale shape: [[shardPack]]'s two-phase distributed running sum gives
    * each doc its global token offset; everything after is map-only — a
    * doc overlapping k sequences explodes into k rows (k = ceil(len/seqLen)
    * + 1 at most), so rows ∝ corpus tokens / seqLen, never a global sort
    * or single-partition window.
    */
  def sequencePack(documents: DataFrame, seqLen: Long = 512): DataFrame =
    cumBefore(documents)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        explode(sequence(
          (col("cum_before") / seqLen).cast("long"),
          ((col("cum_before") + col("n_tokens") - 1) / seqLen).cast("long")))
          .as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        // span of this doc inside seq_id, in global token coordinates
        greatest(col("cum_before"), col("seq_id") * seqLen).as("g_lo"),
        least(col("cum_before") + col("n_tokens"), (col("seq_id") + 1) * seqLen).as("g_hi"),
        col("cum_before"))
      .select(col("doc_id"), col("seq_id"),
        (col("g_lo") - col("cum_before")).as("doc_offset"),
        (col("g_lo") - col("seq_id") * lit(seqLen)).as("seq_offset"),
        (col("g_hi") - col("g_lo")).as("span_tokens"))
      .orderBy(col("seq_id"), col("seq_offset"))

  def sequencePackSql(seqLen: Long = 512): String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(${TextAnalysis.tokensSql}) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t WHERE n_tokens > 0
       |), s AS (
       |  SELECT doc_id, n_tokens, cum_before,
       |         unnest(generate_series(cum_before // $seqLen,
       |                                (cum_before + n_tokens - 1) // $seqLen)) AS seq_id
       |  FROM c
       |)
       |SELECT doc_id, seq_id,
       |       greatest(cum_before, seq_id * $seqLen) - cum_before AS doc_offset,
       |       greatest(cum_before, seq_id * $seqLen) - seq_id * $seqLen AS seq_offset,
       |       least(cum_before + n_tokens, (seq_id + 1) * $seqLen)
       |         - greatest(cum_before, seq_id * $seqLen) AS span_tokens
       |FROM s ORDER BY seq_id, seq_offset""".stripMargin

  def shardPackSql(shardTokens: Long = 2000): String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(${TextAnalysis.tokensSql}) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t
       |)
       |SELECT doc_id, n_tokens, cum_before,
       |       CAST(cum_before // $shardTokens AS BIGINT) AS shard_id
       |FROM c ORDER BY doc_id""".stripMargin

  /** Per-source document cap — the anti-boilerplate mix rule: keep at most
    * `cap` documents from any one source (domain), preferring longer ones
    * (deterministic tiebreak on doc_id). The `rank <= cap` filter over
    * `row_number` is rewritten by Catalyst's WindowGroupLimit into a
    * per-partition partial top-`cap` BEFORE the shuffle, so a source with
    * 10⁸ docs ships `cap` rows per input partition, never the whole
    * source — the same plan shape as the hot-items top-N.
    */
  def sourceCap(documents: DataFrame, cap: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
      .orderBy(col("doc_id"))
  }

  def sourceCapSql(cap: Int = 10): String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY length(text) DESC, doc_id) AS rn
       |  FROM documents
       |)
       |SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= $cap ORDER BY doc_id""".stripMargin

  /** Token-budgeted quality selection: rank documents by a quality score
    * and keep whole quality *tiers* (score bucketed into 1000 bins) from
    * the top down while the cumulative token estimate fits the budget.
    *
    * The scale shape is the point: a naive "ORDER BY quality, cumulative
    * sum, cut at budget" is a single global sort + a one-task running sum
    * over every document. Here per-document work is one hash-agg into at
    * most 1000 tier rows; the running sum runs over those 1000 rows (a
    * trivially small window), and membership is a broadcast semi-join of
    * the winning tiers back to the corpus. Exact, deterministic, no global
    * per-document sort at any size.
    *
    * Kept: every doc in tiers that fit entirely. (Documents inside the
    * first overflowing tier are excluded — a tier is the selection
    * granularity, which is how production data mixes are specified.)
    */
  def curateBudget(documents: DataFrame, budgetTokens: Long = 10000): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val scored = documents
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("ttr"))
      // quality := type-token ratio; tier := floor(ttr * 1000) (exact in
      // both engines: ttr is a ratio of small exact integers)
      .withColumn("tier", floor(col("ttr") * 1000).cast("long"))
    val tiers = scored
      .groupBy(col("tier"))
      .agg(sum(col("n_tokens")).as("tier_tokens"))
    // The running sum is over the ≤1000 tier rows (bounded by the 1000-bin
    // tier construction), so a single-partition window is correct AND cheap.
    // partitionBy(lit(0)) declares that on purpose: identical plan, but no
    // "No Partition Defined for Window" warning on every run.
    val w = Window.partitionBy(lit(0)).orderBy(col("tier").desc)
    val kept = tiers
      .withColumn("cum", sum(col("tier_tokens")).over(w))
      .filter(col("cum") <= budgetTokens)
      .select(col("tier"))
    scored
      .join(broadcast(kept), Seq("tier"))
      .select(col("doc_id"), col("n_tokens"), col("ttr"), col("tier"))
      .orderBy(col("doc_id"))
  }

  def curateBudgetSql(budgetTokens: Long = 10000): String =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM documents) t
       |  WHERE len(toks) > 0
       |), tiered AS (
       |  SELECT doc_id, n_tokens, ttr,
       |         CAST(floor(ttr * 1000) AS BIGINT) AS tier
       |  FROM scored
       |), tiers AS (
       |  SELECT tier, sum(n_tokens) AS tier_tokens FROM tiered GROUP BY tier
       |), kept AS (
       |  SELECT tier FROM (
       |    SELECT tier, sum(tier_tokens) OVER (ORDER BY tier DESC) AS cum
       |    FROM tiers)
       |  WHERE cum <= $budgetTokens
       |)
       |SELECT d.doc_id, d.n_tokens, d.ttr, d.tier
       |FROM tiered d JOIN kept k ON d.tier = k.tier
       |ORDER BY d.doc_id""".stripMargin

  /** Contamination cutoff for [[curatePipeline]]: a training doc sharing
    * ≥ this fraction of its shingles with the eval set is dropped. */
  private[graft] val DecontamMax = 0.5

  /** [[Dedup.canonicalTexts]] specialised for [[curatePipeline]]: the
    * MEMBER map (rep_id, doc_id) is the materialized relation — its three
    * consumers read it directly instead of re-deriving it with a join per
    * use from separate docsG/grp checkpoints — and reps are the member
    * rows with doc_id = rep_id joined back to the corpus for text.
    */
  private def canonicalMembers(documents: DataFrame): (DataFrame, DataFrame) = {
    val docsG = documents
      .select(col("doc_id"), graft.C.textGid(col("text")).as("gid"))
      .localCheckpoint(eager = true) // grp + the member join read it
    val grp = docsG.groupBy(col("gid")).agg(min(col("doc_id")).as("rep_id"))
    val members = docsG.join(grp, Seq("gid"))
      .select(col("rep_id"), col("doc_id"))
      .localCheckpoint(eager = true) // all three pipeline arms read it
    val reps = documents.join(
        members.filter(col("doc_id") === col("rep_id")).select(col("rep_id")),
        documents("doc_id") === col("rep_id"))
      .select(documents("doc_id"), col("text"))
    (members, reps)
  }

  /** The end-to-end curation funnel — the composition story: repetition
    * filter → exact dedup → benchmark decontamination chained into ONE
    * declarative plan, the query a corpus team actually ships. One row per
    * document with a 0/1 verdict per stage and the final `keep` product:
    *   - `keep_quality`: [[TextAnalysis.docRepetitionCore]]'s Gopher-rule
    *     verdict (docs too short to form bigrams pass — no evidence);
    *   - `keep_dedup`: doc is the min-id representative of its exact
    *     md5(text) group (the same keep rule as `dedup_exact`);
    *   - `keep_decontam`: eval docs (doc_id % 53 = 0) always drop —
    *     benchmarks are not training data — and training docs drop when
    *     `contam_frac` ≥ [[DecontamMax]]; docs with no shingles pass.
    * Every stage keys by doc_id. At test scale AQE broadcasts the two
    * per-stage relations (the observed plan is two BroadcastHashJoin
    * LeftOuter with zero doc_id shuffles); at 100 TB, where the stage
    * relations are corpus-sized, the same plan degrades gracefully to
    * sort-merge joins sharing one doc_id hash partitioning. The whole
    * funnel is a single DAG with no action between stages, so Catalyst
    * sees (and prunes/pushes into) all of it at once.
    */
  def curatePipeline(documents: DataFrame): DataFrame = {
    // one canonical member map serves all three arms DIRECTLY: it is the
    // materialized relation itself (not docsG+grp re-joined per consumer),
    // the corpus-sized re-key join is gone (members already holds exactly
    // one row per document, so `documents ⋈ members` was an identity
    // join), and the repetition verdict joins into the base at REP key
    // (members inherit — the TextAnalysis.docRepetition quotient identity)
    // instead of being expanded to doc level in a separate join first.
    // keep_dedup is doc == rep (group-min via hash-agg + join, not a
    // sort-window over the corpus); decontamOverlap is canonical
    // internally.
    val (members, reps) = canonicalMembers(documents)
    val kqRep = TextAnalysis.docRepetitionCore(reps)
      .select(col("doc_id").as("rep_id"), col("keep").as("kq"))
    val contam = decontamOverlapFrom(members, reps)
      .select(col("doc_id"), col("contam_frac"))
    members
      .select(col("doc_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).cast("long").as("keep_dedup"))
      .join(kqRep, Seq("rep_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("kq"), lit(1L)).as("keep_quality"),
        col("keep_dedup"),
        when(col("doc_id") % 53 === 0, lit(0L))
          .otherwise((coalesce(col("contam_frac"), lit(0.0)) < DecontamMax).cast("long"))
          .as("keep_decontam"))
      .withColumn("keep",
        col("keep_quality") * col("keep_dedup") * col("keep_decontam"))
      .orderBy(col("doc_id"))
  }

  val curatePipelineSql: String =
    s"""WITH rep AS (
       |${TextAnalysis.docRepetitionSql}
       |), contam AS (
       |${decontamOverlapSql}
       |), cp_g AS (
       |  SELECT doc_id, ${graft.C.textGidSql("text")} AS gid FROM documents
       |), d AS (
       |  SELECT g.doc_id, r.first_id
       |  FROM cp_g g
       |  JOIN (SELECT gid, min(doc_id) AS first_id FROM cp_g GROUP BY gid) r
       |    USING (gid)
       |)
       |SELECT d.doc_id,
       |       CAST(COALESCE(rep.keep, 1) AS BIGINT) AS keep_quality,
       |       CAST(d.doc_id = d.first_id AS BIGINT) AS keep_dedup,
       |       CASE WHEN d.doc_id % 53 = 0 THEN 0
       |            ELSE CAST(COALESCE(contam.contam_frac, 0) < $DecontamMax AS BIGINT)
       |       END AS keep_decontam,
       |       CAST(COALESCE(rep.keep, 1) AS BIGINT)
       |         * CAST(d.doc_id = d.first_id AS BIGINT)
       |         * (CASE WHEN d.doc_id % 53 = 0 THEN 0
       |                 ELSE CAST(COALESCE(contam.contam_frac, 0) < $DecontamMax AS BIGINT)
       |            END) AS keep
       |FROM d
       |LEFT JOIN rep ON d.doc_id = rep.doc_id
       |LEFT JOIN contam ON d.doc_id = contam.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ── DSIR importance selection (learned data selection) ──────────────

  /** Hashed-feature space size for [[dsirSelect]]. Small enough that the
    * per-bucket model relation (≤ 2·[[DsirBuckets]] rows) broadcasts; large
    * enough that bucket collisions stay rare at test vocabulary sizes.
    */
  private[graft] val DsirBuckets = 4096L

  /** Fixed-point resolution for per-bucket log-importance: 1e-4 nats,
    * rounded ONCE per bucket in the model relation, then exact BIGINT
    * dot products — the [[TextAnalysis.docLmScore]] recipe, so per-doc
    * weights are order-invariant and cross-engine hash-stable.
    */
  private val DsirScale = 10000L

  /** Selection size for [[dsirSelect]]. */
  private[graft] val DsirK = 100

  /** DSIR-style importance selection — learned data selection via
    * importance weights on hashed n-gram features (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): fit
    * bag-of-hashed-ngram models on a target corpus (here the
    * `lang = targetLang` documents — the "looks like Wikipedia" proxy) and
    * on the raw pool (every other document), weight each pool document by
    * `log p_target(doc) − log p_raw(doc)`, and keep the top
    * [[DsirK]]. Deviation from the paper: the paper Gumbel-resamples by
    * weight; this operator ranks deterministically (the randomized-
    * selection variants live in [[sampleDocs]]/[[sampleStratified]] —
    * composing them over the weights reproduces the paper's sampler).
    *
    * Features are unigrams + bigrams hashed into [[DsirBuckets]] buckets
    * (md5-derived so both engines agree), add-one smoothed per bucket.
    *
    * Shape at 100 TB: the only corpus-sized shuffle is the
    * (doc, bucket) → count hash-agg (map-side combined; per-doc bucket
    * fan-out is capped at min(tokens, [[DsirBuckets]])). Both LM "models"
    * are ≤ [[DsirBuckets]]-row aggs OF that relation, the totals are one
    * broadcast row, and the per-bucket log-ratio table joins back
    * AQE-broadcastable. Selection is `TakeOrderedAndProject` top-K — no
    * global sort; the rank window runs over the K survivors only.
    */
  def dsirSelect(documents: DataFrame, targetLang: String = "en"): DataFrame = {
    val (db, members) = dsirCanonBuckets(documents)
    val lam = dsirLambdaFrom(db, targetLang)
    val repScores = db.filter(col("lang") =!= targetLang)
      .join(lam, "bucket")
      .groupBy(col("doc_id").as("rep_id"))
      .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("l_fp")).as("logw_fp"))
    // the top-K ranks tie-break on doc_id, so selection runs over the
    // expanded doc-level rows — a skinny (doc_id, 2 longs) relation
    val scored = members.join(repScores, Seq("rep_id"))
      .select(col("doc_id"), col("n_feats"), col("logw_fp"))
      .orderBy(col("logw_fp").desc, col("doc_id"))
      .limit(DsirK)
    scored
      .withColumn("sel_rank", row_number()
        .over(Window.orderBy(col("logw_fp").desc, col("doc_id"))).cast("long"))
      .orderBy(col("sel_rank"))
  }

  /** Canonical hashed-n-gram bucket relation, grouped by (text, lang) —
    * the model split AND the scoring filter key on `lang`, so groups must
    * not mix languages (the docLmBackoff parity argument). Returns
    * (db: one (rep doc_id, lang, gsz, bucket, c) row per rep bucket with
    * the PER-DOC count c and the group multiplicity gsz, members:
    * rep_id → doc_id). Model sums weight c by gsz (the naive per-copy
    * integers); per-rep scores are pure functions of (text, λ) and expand
    * through the member map. One corpus explode, materialized once
    * (localCheckpoint → ContextCleaner reclaims, no session leak).
    */
  private def dsirCanonBuckets(documents: DataFrame): (DataFrame, DataFrame) = {
    val keyed = documents.select(col("doc_id"), col("lang"),
      C.textGid(col("text")).as("gid"))
    val grpL = keyed.groupBy(col("gid"), col("lang"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("gsz"))
      .localCheckpoint(eager = true) // members + reps both read it
    val members = keyed
      .join(grpL.select(col("gid"), col("lang"), col("rep_id")), Seq("gid", "lang"))
      .select(col("rep_id"), col("doc_id"))
    val reps = documents
      .join(grpL.select(col("rep_id"), col("gsz")), documents("doc_id") === col("rep_id"))
      .select(documents("doc_id"), col("lang"), col("text"), col("gsz"))
    val db = reps
      .select(
        col("doc_id"), col("lang"), col("gsz"),
        // unigram ++ bigram md5Long hashes natively (the feature strings —
        // token and "w1 w2" — are exactly 1- and 2-gram joins, so the
        // hashes are value-identical to md5Long(feat) on the exploded form)
        explode(concat(
          graft.functions.TextFunctions.tokenGramHashes(col("text"), 1),
          graft.functions.TextFunctions.tokenGramHashes(col("text"), 2))).as("fh"))
      .select(col("doc_id"), col("lang"), col("gsz"), (col("fh") % DsirBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("gsz"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    (db, members)
  }

  /** The trained per-bucket log-importance table (bucket, l_fp) — the
    * ≤[[DsirBuckets]]-row broadcastable model a production deployment
    * ships to scoring (here also to the streaming twin,
    * [[graft.streaming.StreamJobs.dsirScoreStream]]).
    */
  def dsirLambda(documents: DataFrame, targetLang: String = "en"): DataFrame =
    dsirLambdaFrom(dsirCanonBuckets(documents)._1, targetLang)

  private def dsirLambdaFrom(db: DataFrame, targetLang: String): DataFrame = {
    val tgt = db.filter(col("lang") === targetLang)
      .groupBy(col("bucket")).agg(sum(col("c") * col("gsz")).as("tc"))
    val raw = db.filter(col("lang") =!= targetLang)
      .groupBy(col("bucket")).agg(sum(col("c") * col("gsz")).as("rc"))
    // two one-row global aggregates: the broadcast is size-bounded
    val tot = tgt.agg(sum(col("tc")).as("t_total"))
      .crossJoin(broadcast(raw.agg(sum(col("rc")).as("r_total"))))
    // pool-doc buckets ⊆ raw-model buckets by construction, so building
    // λ over `raw` covers every bucket scoring will probe
    raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        round((log((coalesce(col("tc"), lit(0L)) + lit(1.0)) / (col("t_total") + lit(DsirBuckets)))
             - log((col("rc") + lit(1.0)) / (col("r_total") + lit(DsirBuckets)))) * DsirScale)
          .cast("long").as("l_fp"))
  }

  def dsirSelectSql(targetLang: String = "en"): String =
    s"""WITH t0 AS (
       |  SELECT doc_id, lang, ${TextAnalysis.tokensSql} AS toks FROM documents
       |), feats AS (
       |  SELECT doc_id, lang, u.tok AS feat FROM t0, unnest(toks) AS u(tok)
       |  UNION ALL
       |  SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS feat
       |  FROM t0, unnest(generate_series(1, len(toks) - 1)) AS g(i)
       |), db AS (
       |  SELECT doc_id, lang, ${C.md5LongSql("feat")} % $DsirBuckets AS bucket,
       |         count(*) AS c
       |  FROM feats GROUP BY doc_id, lang, bucket
       |), tgt AS (
       |  SELECT bucket, CAST(sum(c) AS BIGINT) AS tc FROM db
       |  WHERE lang = '$targetLang' GROUP BY bucket
       |), raw AS (
       |  SELECT bucket, CAST(sum(c) AS BIGINT) AS rc FROM db
       |  WHERE lang <> '$targetLang' GROUP BY bucket
       |), tot AS (
       |  SELECT (SELECT CAST(sum(tc) AS BIGINT) FROM tgt) AS t_total,
       |         (SELECT CAST(sum(rc) AS BIGINT) FROM raw) AS r_total
       |), lam AS (
       |  SELECT raw.bucket,
       |         CAST(round((ln((coalesce(tgt.tc, 0) + 1.0) / (tot.t_total + $DsirBuckets))
       |                   - ln((raw.rc + 1.0) / (tot.r_total + $DsirBuckets))) * $DsirScale) AS BIGINT) AS l_fp
       |  FROM raw LEFT JOIN tgt USING (bucket), tot
       |), scored AS (
       |  SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_feats,
       |         CAST(sum(db.c * lam.l_fp) AS BIGINT) AS logw_fp
       |  FROM db JOIN lam USING (bucket)
       |  WHERE db.lang <> '$targetLang'
       |  GROUP BY db.doc_id
       |  ORDER BY logw_fp DESC, doc_id LIMIT $DsirK
       |)
       |SELECT doc_id, n_feats, logw_fp,
       |       CAST(row_number() OVER (ORDER BY logw_fp DESC, doc_id) AS BIGINT) AS sel_rank
       |FROM scored ORDER BY sel_rank""".stripMargin

  // ---- Weighted priority sampling (Efraimidis–Spirakis) ----

  /** Sample size for [[sampleWeighted]]. */
  private[graft] val WeightedK = 100

  /** Fixed-point resolution (1e-8 nats) for the priority's log term —
    * rounded ONCE per doc, like [[DsirScale]] / the LM surprisals, so
    * cross-engine libm drift cannot accumulate.
    */
  private[graft] val LnuScale = 100000000L

  /** [[C.md5Long]]'s range (2^60) as an exact double literal — the
    * divisor that maps the hash to a uniform in (0, 1].
    */
  private val HashSpaceSql = "1152921504606846976.0"

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir" — the A-ES scheme):
    * each doc gets priority u^(1/w) for uniform u and weight w, and the
    * K largest priorities are exactly a w-proportional sample without
    * replacement. The training-pipeline use: quality- or length-weighted
    * corpus subsampling where better documents should win
    * proportionally, not by a hard threshold ([[curateBudget]]'s rule).
    * Weight here = char length (the plug-in slot for any quality score).
    *
    * Determinism contract: u comes from the id hash ([[sampleDocs]]'s
    * no-RNG rule — repartition/retry-stable), and ordering happens on
    * ln(u)/w with ln(u) rounded once to [[LnuScale]] fixed point; the
    * priority is then an IEEE division of two exact integers, so both
    * engines sort bit-identical keys. Scale shape: map-only scoring, one
    * TakeOrderedAndProject global top-K (K rows to the driver, never a
    * global sort), rank window over K rows.
    *
    * Output: (samp_rank, doc_id, lang, weight, lnu_fp), rank 1 = highest
    * priority.
    */
  def sampleWeighted(documents: DataFrame): DataFrame = {
    val w = greatest(lit(1L), length(col("text")).cast("long"))
    val u = (C.md5Long(col("doc_id").cast("string")) + lit(1L)).cast("double") /
      lit(1152921504606846976.0)
    val lnu = round(log(u) * LnuScale).cast("long")
    val top = documents
      .select(col("doc_id"), col("lang"), w.as("weight"), lnu.as("lnu_fp"))
      .withColumn("pri", col("lnu_fp").cast("double") / col("weight").cast("double"))
      .orderBy(col("pri").desc, col("doc_id"))
      .limit(WeightedK)
    top
      .withColumn("samp_rank", row_number()
        .over(Window.orderBy(col("pri").desc, col("doc_id"))).cast("long"))
      .select(col("samp_rank"), col("doc_id"), col("lang"),
        col("weight"), col("lnu_fp"))
      .orderBy(col("samp_rank"))
  }

  /** DuckDB twin of [[sampleWeighted]] — same hash→uniform map, same
    * once-rounded fixed-point ln, same integer-exact IEEE-division sort
    * key.
    */
  val sampleWeightedSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, lang,
       |         greatest(1, CAST(length(text) AS BIGINT)) AS weight,
       |         CAST(round(ln(CAST(${C.md5LongSql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
       |                        / $HashSpaceSql) * $LnuScale) AS BIGINT) AS lnu_fp
       |  FROM documents
       |), top AS (
       |  SELECT doc_id, lang, weight, lnu_fp,
       |         CAST(lnu_fp AS DOUBLE) / CAST(weight AS DOUBLE) AS pri
       |  FROM p ORDER BY pri DESC, doc_id LIMIT $WeightedK
       |)
       |SELECT CAST(row_number() OVER (ORDER BY pri DESC, doc_id) AS BIGINT) AS samp_rank,
       |       doc_id, lang, weight, lnu_fp
       |FROM top ORDER BY samp_rank""".stripMargin

  // ---- Per-stratum score calibration ----

  /** Fixed-point resolution of [[qualityCalibrate]]'s percentile (1e-6:
    * pct_fp = 0..1000000). */
  private[graft] val PctScale = 1000000L

  /** Per-stratum percentile calibration — maps a raw quality score to its
    * percent-rank WITHIN its language stratum, so "top 20% per language"
    * means the same thing in every stratum regardless of how the raw
    * score distributes (absolute thresholds keep whole languages; this is
    * the curation rule that doesn't). Score here = char length (the same
    * plug-in slot as [[sampleWeighted]]). Ties share a percentile
    * (percent_rank semantics: fraction of the stratum strictly below),
    * and the division is integral at [[PctScale]] — integer-exact in
    * both engines.
    *
    * Scale shape — deliberately NOT a per-doc rank window (a stratum can
    * be most of a 100 TB corpus; sorting it is the bottleneck): the
    * distribution is computed on the (stratum, score) relation — bounded
    * by distinct score values, map-side combined — cumsum'd over that
    * tiny relation, then joined back by (stratum, score)
    * (AQE-broadcastable). No stage ever sorts or windows doc-count rows.
    *
    * Output: (doc_id, lang_key, score, n_strat, below, pct_fp); lang_key
    * is NULL-coalesced so null-lang docs form their own stratum
    * identically in both engines.
    */
  def qualityCalibrate(documents: DataFrame): DataFrame = {
    val scored = documents.select(col("doc_id"),
      coalesce(col("lang"), lit("")).as("lang_key"),
      // coalesce: a NULL text scores 0 like an empty one. A NULL score is
      // worse than wrong twice over: it falls out of the equi-join below,
      // and inside the window cumsum Spark sorts NULLs FIRST while DuckDB
      // sorts them LAST, shifting `below` for every real score in the
      // stratum.
      length(coalesce(col("text"), lit(""))).cast("long").as("score"))
    scored.join(qualityCalibrationTable(documents), Seq("lang_key", "score"))
      .select(col("doc_id"), col("lang_key"), col("score"),
        col("n_strat"), col("below"), col("pct_fp"))
      .orderBy(col("doc_id"))
  }

  /** The per-(stratum, score) calibration relation — bounded by distinct
    * scores per stratum, the broadcastable model a production deployment
    * fits offline and applies to a live stream
    * ([[graft.streaming.StreamJobs.qualityCalibrateStream]]). Percentile
    * is a function of (stratum, score) alone, so it lives here, not on
    * the per-doc join.
    */
  def qualityCalibrationTable(documents: DataFrame): DataFrame = {
    val scored = documents.select(
      coalesce(col("lang"), lit("")).as("lang_key"),
      length(coalesce(col("text"), lit(""))).cast("long").as("score"))
    val w = Window.partitionBy(col("lang_key")).orderBy(col("score"))
    scored.groupBy(col("lang_key"), col("score")).agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(
        sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_strat", sum(col("c")).over(Window.partitionBy(col("lang_key"))))
      .withColumn("pct_fp",
        expr(s"below * $PctScale div greatest(1, n_strat - 1)"))
      .select(col("lang_key"), col("score"), col("below"), col("n_strat"), col("pct_fp"))
  }

  /** DuckDB twin of [[qualityCalibrate]] — same (stratum, score)
    * distribution relation, same strictly-below cumsum, same integral
    * division.
    */
  val qualityCalibrateSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, coalesce(lang, '') AS lang_key,
       |         CAST(length(coalesce(text, '')) AS BIGINT) AS score
       |  FROM documents
       |), cnt AS (
       |  SELECT lang_key, score, count(*) AS c FROM scored GROUP BY lang_key, score
       |), dist AS (
       |  SELECT lang_key, score,
       |         CAST(coalesce(sum(c) OVER (PARTITION BY lang_key ORDER BY score
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
       |         CAST(sum(c) OVER (PARTITION BY lang_key) AS BIGINT) AS n_strat
       |  FROM cnt
       |)
       |SELECT s.doc_id, s.lang_key, s.score, d.n_strat, d.below,
       |       CAST((d.below * $PctScale) // greatest(1, d.n_strat - 1) AS BIGINT) AS pct_fp
       |FROM scored s JOIN dist d USING (lang_key, score)
       |ORDER BY doc_id""".stripMargin

  /** Fixed-point resolution for mixture weights and shares (1e-6):
    * `exp` is evaluated in double and rounded ONCE per domain — the
    * [[TextAnalysis.docLmScore]] cross-engine recipe, applied to exp
    * instead of ln.
    */
  private[graft] val MixScale = 1000000L

  /** DoReMi-style domain mixture reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    * the one-round multiplicative-weights shape with the reference
    * model's excess loss as the regret signal): per domain (`lang`),
    * token-level average LM surprisal from the self-trained bigram model
    * ([[TextAnalysis.docLmScore]]'s relation) is compared against the
    * corpus-wide baseline; domains with positive excess (harder than
    * average) are upweighted multiplicatively (η = 1:
    * w_d = exp(excess_d)), and the output target share renormalizes the
    * natural share n_docs · w_d. One round, deterministic — the paper's
    * iterated proxy-model training is out of scope (it needs a trained
    * model in the loop); this is the mixture-computation operator a
    * pipeline runs per round.
    *
    * All arithmetic follows the repo's fixed-point recipe: integral
    * per-domain averages ([[TextAnalysis]]'s 1e-4-nat scale), one
    * double-`exp` rounded once per domain at [[MixScale]], exact BIGINT
    * share division. Docs with <2 tokens carry no bigrams and drop from
    * the mixture (same in both engines, as in `doc_lm_score`).
    *
    * Shape at 100 TB: everything after the `doc_lm_score` relation is
    * domain-cardinality-sized — one hash-agg to L rows, two one-row
    * broadcasts (baseline, weight total), a map-only weight expression.
    * Nothing doc-sized moves.
    */
  def domainMixture(documents: DataFrame): DataFrame = {
    val dom = TextAnalysis.docLmScore(documents)
      .join(documents.select(col("doc_id"), coalesce(col("lang"), lit("")).as("domain")),
        "doc_id")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bg"), sum(col("nll_fp")).as("nll"))
      .withColumn("avg_fp", expr("nll div n_bg"))
      // domain-count-sized; materialized because FOUR downstream
      // references (base, w, tot, the final projection) otherwise each
      // re-evaluate the whole docLmScore train+score chain (measured as
      // the query's ×100 cost: ~4 chain evaluations ≈ 42 s for a
      // domain-cardinality result)
      .localCheckpoint(eager = true)
    val base = dom
      .agg(sum(col("nll")).as("t_nll"), sum(col("n_bg")).as("t_bg"))
      .select(expr("t_nll div t_bg").as("base_fp"))
    val w = dom.crossJoin(broadcast(base))
      .withColumn("excess_fp", col("avg_fp") - col("base_fp"))
      .withColumn("w_fp",
        round(exp(col("excess_fp").cast("double") / TextAnalysis.LmScale) * MixScale)
          .cast("long"))
    val tot = w.agg(sum(col("n_docs") * col("w_fp")).as("t_w"))
    w.crossJoin(broadcast(tot))
      .withColumn("share_fp", expr(s"(n_docs * w_fp * $MixScale) div t_w"))
      .select(col("domain"), col("n_docs"), col("n_bg"), col("avg_fp"),
        col("excess_fp"), col("w_fp"), col("share_fp"))
      .orderBy(col("domain"))
  }

  /** DuckDB twin of [[domainMixture]] — the `doc_lm_score` CTE chain,
    * the same integral averages, the same once-rounded exp, the same
    * exact share division (all operands positive, so DuckDB's floor `//`
    * equals Spark's truncating `div`).
    */
  // rides the shared CANONICAL lm chain (TextAnalysis.lmPerDocCtesSql):
  // the old inline copy re-derived the naive full-corpus bigram chain —
  // 57 s at the ×100 replica for a domain-cardinality result
  val domainMixtureSql: String =
    s"""${TextAnalysis.lmPerDocCtesSql}, doc AS (
       |  SELECT doc_id, n_bigrams, nll_fp FROM perdoc
       |), dom AS (
       |  SELECT coalesce(d.lang, '') AS domain,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(doc.n_bigrams) AS BIGINT) AS n_bg,
       |         CAST(sum(doc.nll_fp) AS BIGINT) AS nll
       |  FROM doc JOIN documents d USING (doc_id) GROUP BY 1
       |), base AS (
       |  SELECT CAST(sum(nll) // sum(n_bg) AS BIGINT) AS base_fp FROM dom
       |), w AS (
       |  SELECT domain, n_docs, n_bg,
       |         CAST(nll // n_bg AS BIGINT) AS avg_fp,
       |         CAST(nll // n_bg - base_fp AS BIGINT) AS excess_fp,
       |         CAST(round(exp(CAST(nll // n_bg - base_fp AS DOUBLE) / ${TextAnalysis.LmScale})
       |              * $MixScale) AS BIGINT) AS w_fp
       |  FROM dom, base
       |), tot AS (
       |  SELECT CAST(sum(n_docs * w_fp) AS BIGINT) AS t_w FROM w
       |)
       |SELECT domain, n_docs, n_bg, avg_fp, excess_fp, w_fp,
       |       CAST((n_docs * w_fp * $MixScale) // t_w AS BIGINT) AS share_fp
       |FROM w, tot ORDER BY domain""".stripMargin

  /** Fixed-point scale for [[mixtureTemperature]]'s once-rounded pow —
    * weights are max-normalized BEFORE scaling (w = round((n/n_max)^α ·
    * scale) ∈ [0, TempScale]), so no weight, total, or budget product can
    * overflow BIGINT at ANY corpus size: the arithmetic bound is
    * TempScale·TempBudget = 10¹³, corpus-independent. The cost is share
    * granularity of 1/TempScale ≈ 10⁻⁸ for the rarest source — a source
    * whose (n/n_max)^α falls below 10⁻⁸ rounds to weight 0 (at α = 0.3
    * that is a 10²⁷× size imbalance — beyond any real mixture). */
  private[graft] val TempScale = 100000000L
  /** Target mixture size in documents for the integer-exact allocation. */
  private[graft] val TempBudget = 100000L
  private[graft] val TempAlphas = Seq(0.3, 0.7, 1.0)

  /** Temperature-sampling mixture shares — the count-based multilingual /
    * multi-source re-balancing rule (p_i ∝ n_i^α, the XLM-R-style
    * sampling-temperature knob: α = 1 keeps natural proportions, α → 0
    * flattens the mixture toward uniform; emitted at α ∈ 0.3/0.7/1.0 so
    * the knob's effect is visible in one relation). Count-complement to
    * [[domainMixture]], which weights by LM surprisal instead of size.
    *
    * Engine-exactness contract (the [[domainMixture]] recipe): ONE
    * transcendental per row — pow((n/n_max), α) — rounded ONCE at
    * [[TempScale]] fixed point; everything downstream is exact BIGINT
    * (shares as IEEE divisions of exact integers, the doc allocation as
    * truncating integer division against [[TempBudget]]). Max-normalizing
    * inside the pow keeps every integer corpus-size-independent (see
    * [[TempScale]]).
    *
    * Scale shape: one map-side-combined count agg over the corpus; all
    * math after it is on L = #sources rows (broadcast one-row max and
    * L-row totals). Output: (alpha, source, n_docs, weight, share,
    * target_docs, upsample).
    */
  def mixtureTemperature(documents: DataFrame): DataFrame =
    // materialize the L-row count relation: FOUR consumers (mx, both w
    // copies, tot) would otherwise each re-run the corpus-sized count agg —
    // measured as 4 FileScans of documents in the executed plan. After the
    // checkpoint the corpus is scanned ONCE; everything downstream reads
    // the L-row ExistingRDD (plan-asserted in PlanShapeSpec).
    temperatureShares(documents
      .groupBy(coalesce(col("source"), lit("")).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(eager = true))

  /** The L-row temperature math over a (source, n_docs) relation — shared
    * verbatim by the batch query (corpus counts) and the streaming twin's
    * consumer contract (a closed window's rows from
    * [[graft.streaming.StreamJobs.mixtureCountsStream]]); parity-tested.
    */
  def temperatureShares(counts: DataFrame): DataFrame = {
    val mx = counts.agg(max(col("n_docs")).as("n_max"))
    val w = counts.crossJoin(broadcast(mx))
      .withColumn("alpha", explode(array(TempAlphas.map(lit(_)): _*)))
      .withColumn("weight",
        round(pow(col("n_docs").cast("double") / col("n_max"), col("alpha")) * TempScale)
          .cast("long"))
    val tot = w.groupBy(col("alpha").as("t_alpha")).agg(sum(col("weight")).as("t_w"))
    w.join(broadcast(tot), col("alpha") === col("t_alpha"))
      .select(col("alpha"), col("source"), col("n_docs"), col("weight"),
        (col("weight").cast("double") / col("t_w")).as("share"),
        expr(s"CAST((weight * $TempBudget) DIV t_w AS BIGINT)").as("target_docs"))
      .withColumn("upsample", col("target_docs").cast("double") / col("n_docs"))
      .orderBy(col("alpha"), col("source"))
  }

  /** DuckDB twin of [[mixtureTemperature]] — same once-rounded pow, same
    * exact integer allocation (operands positive: `//` ≡ Spark `div`). */
  val mixtureTemperatureSql: String =
    s"""WITH counts AS (
       |  SELECT coalesce(source, '') AS source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1
       |), mx AS (
       |  SELECT CAST(max(n_docs) AS BIGINT) AS n_max FROM counts
       |), a AS (
       |  SELECT unnest([CAST(0.3 AS DOUBLE), CAST(0.7 AS DOUBLE), CAST(1.0 AS DOUBLE)]) AS alpha
       |), w AS (
       |  SELECT a.alpha, c.source, c.n_docs,
       |         CAST(round(pow(CAST(c.n_docs AS DOUBLE) / m.n_max, a.alpha) * $TempScale)
       |              AS BIGINT) AS weight
       |  FROM counts c, mx m, a
       |), tot AS (
       |  SELECT alpha AS t_alpha, CAST(sum(weight) AS BIGINT) AS t_w FROM w GROUP BY 1
       |)
       |SELECT w.alpha, w.source, w.n_docs, w.weight,
       |       CAST(w.weight AS DOUBLE) / t.t_w AS share,
       |       CAST((w.weight * $TempBudget) // t.t_w AS BIGINT) AS target_docs,
       |       CAST(CAST((w.weight * $TempBudget) // t.t_w AS BIGINT) AS DOUBLE) / w.n_docs
       |         AS upsample
       |FROM w JOIN tot t ON w.alpha = t.t_alpha
       |ORDER BY w.alpha, w.source""".stripMargin

  /** Leakage-free train/valid/test split assignment — the partitioning a
    * decontaminated eval protocol needs: the split is decided by a hash
    * of the document's SOURCE, not the document, so near-duplicate and
    * sibling pages from one crawl domain can never straddle the
    * train/eval boundary (splitting i.i.d. by doc leaks templated content
    * into eval; splitting by source is the standard fix). 60-bit md5
    * bucket of the source, 8/1/1: buckets 0-7 train, 8 valid, 9 test.
    *
    * Same determinism contract as [[sampleDocs]]: content-free hash, no
    * RNG, stable under re-partitioning, retries, and engine — the same
    * source lands in the same split forever (new crawls of a domain
    * extend its split, never cross it). Map-side assignment + a
    * 3-group aggregate: no shuffle beyond the final count, any scale.
    * Output is the split manifest (doc/source/char counts per split);
    * disjointness is structural (a source has one hash) and asserted in
    * the spec.
    */
  def splitAssign(documents: DataFrame): DataFrame = {
    val bucket = C.md5Long(coalesce(col("source"), lit(""))) % 10
    documents
      .withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "valid").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(coalesce(col("source"), lit(""))).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))
  }

  val splitAssignSql: String =
    s"""WITH b AS (
       |  SELECT coalesce(source, '') AS src, n_chars,
       |         ${C.md5LongSql("coalesce(source, '')")} % 10 AS bucket
       |  FROM documents
       |)
       |SELECT CASE WHEN bucket < 8 THEN 'train'
       |            WHEN bucket = 8 THEN 'valid' ELSE 'test' END AS split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT src) AS BIGINT) AS n_sources,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
}
