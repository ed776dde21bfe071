package graft.pipeline

import graft.C
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators — exact, MinHash+LSH, SimHash — the
  * training-data-pipeline dedup family. All hashing is built on the
  * md5-derived 60-bit primitive ([[graft.C.md5Long]]) so the DuckDB oracle
  * reproduces every stage bit-for-bit.
  *
  * Scale shape (the part that must survive 100 TB): every stage is
  * explode → partial-aggregate → skinny shuffle. Shingles/token hashes are
  * reduced to per-document signatures *before* any shuffle (Spark's partial
  * hash-agg), the LSH band join only moves (doc, band, bucket) triples, and
  * the quadratic verify step runs on LSH candidates only — never on the
  * full corpus cross product.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One row per distinct text (the keep-list) with its copy count.
    */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ---- MinHash + LSH ----

  private val NumHashes = 16
  private val Bands = 4 // 4 bands x 4 rows
  private val JaccardThreshold = 0.5

  /** Neighbors kept per document by [[similarDocs]]. */
  private[graft] val SimilarTopK = 3

  /** Degenerate-bucket guard for the LSH band self-join: a (band, bucket)
    * holding B docs contributes B·(B−1)/2 candidate pairs, so one
    * pathological bucket (e.g. a corpus that is mostly one boilerplate
    * page) turns the join quadratic. Buckets larger than this cap are
    * dropped BEFORE the self-join — the band-level twin of [[DfCap]],
    * mirrored in the oracle SQL the same way. The trade is stated
    * honestly: a borderline pair (J ≈ threshold) typically collides in
    * only ONE band, so if that bucket is over-full the pair is LOST, not
    * recovered via other bands — on a degenerate corpus the cap bounds
    * the join at the cost of recall inside the capped buckets, which is
    * the standard production choice (the alternative, pairing a 10⁵-doc
    * bucket, is quadratic). Exact duplicates are unaffected in practice
    * because [[dedupExact]] runs upstream at linear cost. Measured at
    * sf0.1: max bucket size is 4 across 19124 buckets (915 candidate
    * pairs total), so 1000 changes nothing at test scale — it is purely
    * the 100 TB bound, and the oracle mirror keeps the gate exact for
    * whatever the cap keeps.
    */
  private[graft] val BandBucketCap = 1000
  private[graft] val NumBands = Bands

  /** 3-token shingles per doc (with repeats — deduped downstream at the
    * hash level). Docs with <3 tokens produce none.
    *
    * LEGACY string form — kept as the A/B ground truth for the native
    * [[graft.functions.TokenGramHashes]] path in [[shingleHashes]]
    * (TextNativeSpec); not on any query path. Note its
    * element_at-inside-transform re-evaluates the tokenization per
    * element (O(tokens²) per doc) — one of the two costs the native
    * kernel removes (the other is the per-shingle md5/hex/conv string
    * round-trip).
    */
  private[graft] def shingles(documents: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val keep = col("doc_id") +: carry.map(col)
    documents
      .select(keep :+ toks.as("toks"): _*)
      .filter(size(col("toks")) >= 3)
      .select(keep :+ explode(
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ",
            element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))).as("shingle"): _*)
  }

  /** Distinct (doc_id, shingle-hash) pairs — the shared inverted-index
    * input for Jaccard dedup and decontamination ([[Curation]]). `carry`
    * threads extra columns (the streaming twin's event time) through
    * unchanged.
    */
  private[graft] def shingleHashes(documents: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    documents
      .select(keep :+ explode(
        graft.functions.TextFunctions.tokenGramHashes(col("text"), 3)).as("h0"): _*)
      .distinct()
  }

  private[pipeline] val shinglesSqlShared: String =
    s"""SELECT DISTINCT doc_id,
       |       ${C.md5LongSql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")} AS h0
       |FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM documents) t,
       |     unnest(generate_series(1, len(toks) - 2)) AS u(i)""".stripMargin

  private val shinglesSql: String = shinglesSqlShared

  // One strong 60-bit hash per shingle, perturbed into NumHashes minhash
  // functions by cheap bijective mixes — 16× fewer md5 evaluations than
  // hashing per seed. The mix is a 60-bit rotation (expressed as modular
  // arithmetic so neither engine overflows under ANSI semantics: every
  // intermediate stays < 2^61) followed by xor with a per-seed constant
  // (computed at plan-build time).
  private val Mask60 = (1L << 60) - 1
  private def rotBits(j: Int): Int = (j * 7) % 59 + 1
  private def xorConst(j: Int): Long = (0x9E3779B97F4A7C15L * (j + 1)) & Mask60

  /** Spark SQL fragment: rotl60(h0, r) ^ K. */
  private[pipeline] def mixExpr(j: Int): String = {
    val m = 1L << (60 - rotBits(j))
    s"(((h0 % $m) * ${1L << rotBits(j)} + (h0 div $m)) ^ ${xorConst(j)})"
  }

  /** DuckDB twin (integer div is `//`, xor is a function — `^` is pow). */
  private def mixSql(j: Int): String = {
    val m = 1L << (60 - rotBits(j))
    s"xor((h0 % $m) * ${1L << rotBits(j)} + (h0 // $m), ${xorConst(j)})"
  }

  /** Exact-duplicate canonicalization — the shared front door of the
    * quadratic dedup operators ([[minhashVerifiedPairs]],
    * [[dedupNgramJaccard]]): byte-identical texts have identical shingle
    * sets, signatures, and buckets, so every exact copy multiplies the
    * candidate/verify pair streams. On a corpus where each doc has ~100
    * exact copies (the ×100 replica; real crawls look like this before
    * exact dedup) the verify join inflates ~200× past the true output.
    * Returns (grp: gid → (rep_id, gsz), members: rep_id → doc_id,
    * reps: the one representative row per distinct text).
    */
  private[graft] def canonicalTexts(documents: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // null-safe key (C.textGid): a NULL-text doc must survive the members
    // equi-join — the legacy per-doc plans and the LEFT-JOIN oracles emit
    // it with zeroed counts (ADVICE r14)
    val docsG = documents
      .select(col("doc_id"), C.textGid(col("text")).as("gid"))
      .localCheckpoint(eager = true) // skinny; consumed by grp and members
    val grp = docsG.groupBy(col("gid"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("gsz"))
      .localCheckpoint(eager = true)
    val members = docsG.join(grp.select(col("gid"), col("rep_id")), Seq("gid"))
      .select(col("rep_id"), col("doc_id"))
    val reps = documents.join(grp.select(col("rep_id")),
        documents("doc_id") === col("rep_id"))
      .select(documents("doc_id"), col("text"))
    (grp, members, reps)
  }

  /** MinHash+LSH near-dup pairs with exact n-gram-Jaccard verification:
    * shingle → 16 minhashes (one single-pass hash-agg with 16 min columns —
    * no seed explosion) → 4 LSH band buckets → bucket self-join for
    * candidates → exact Jaccard over shingle sets → pairs ≥ 0.5.
    * Output: (doc_a, doc_b, n_shared, jaccard).
    */
  /** (doc_id, band, bucket) LSH band table from the shingle-hash table —
    * the surface the [[BandBucketCap]] guard filters. Factored out so the
    * guard's firing condition is directly observable in tests.
    */
  /** The 16 `min(mix_j(h0))` aggregate columns of a MinHash signature. */
  private def minhashAggs: Seq[org.apache.spark.sql.Column] =
    (0 until NumHashes).map { j => min(expr(mixExpr(j))).as(s"mh$j") }

  /** The per-band (band, bucket) structs over signature columns mh0..15. */
  private def bandStructsCols: Seq[org.apache.spark.sql.Column] =
    (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        C.md5Long(concat_ws(",",
          (0 until NumHashes / Bands).map(r => col(s"mh${b * (NumHashes / Bands) + r}").cast("string")): _*))
          .as("bucket"))
    }

  private[graft] def lshBands(sh: DataFrame): DataFrame = {
    val minAggs = minhashAggs
    val sig = sh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    sig
      .select(col("doc_id"), explode(array(bandStructsCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** All LSH band-candidate pairs with exact Jaccard, UNthresholded —
    * shared core of [[dedupMinhashLsh]] (which keeps only pairs ≥
    * [[JaccardThreshold]]) and [[similarDocs]] (which ranks every
    * candidate). Same plan either way: the threshold is a post-filter on
    * a relation whose size the band buckets already bounded.
    */
  private[graft] def minhashVerifiedPairs(documents: DataFrame): DataFrame = {
    // EXACT-DUP CANONICALIZATION FIRST ([[canonicalTexts]], the ×100
    // lesson shared with [[dedupNgramJaccard]]): signatures, buckets, and
    // the verify join all run on one REPRESENTATIVE per distinct text;
    // member pairs are reconstructed afterwards with output-sized joins.
    // The doc-level OUTPUT is value-identical to the naive form:
    //  (1) bucket sizes for the [[BandBucketCap]] guard still count
    //      DOCUMENTS (Σ member counts per bucket) — the kept bucket set
    //      is exactly the naive one;
    //  (2) two docs from different groups are candidates iff their reps
    //      share a kept bucket (same condition, collapsed);
    //  (3) same-group docs are candidates iff their group has ≥1 kept
    //      bucket (naively they met in that bucket) — emitted directly
    //      with n_shared = n_a = n_b = the group's shingle count and
    //      jaccard n/(n+n−n) = 1.0 bit-exactly;
    //  (4) cross-group n_shared/n_a/n_b/jaccard equal the reps' (shingle
    //      sets are per-text).
    // Verified row-identical to the naive form at sf0.01 and the ×10
    // replica on rewrite; oracle chain mirrored in [[minhashPairsCtesSql]].
    val (grp, members, reps) = canonicalTexts(documents)

    // shingle → 60-bit hash immediately; the verify join runs on
    // (rep, h0) longs — shingle strings never reach a shuffle.
    // localCheckpoint, not persist — blocks released by the
    // ContextCleaner when the returned plan is dropped.
    val sh = shingleHashes(reps).localCheckpoint(eager = true)

    // materialized: the cap filter and both self-join sides consume the
    // band table — without this the 16-min signature agg (the pipeline's
    // historical hotspot) would be recomputed three times
    val bands = lshBands(sh).localCheckpoint(eager = true)

    // drop degenerate buckets before pairing (see BandBucketCap); sizes
    // count DOCUMENTS (Σ gsz), not reps, so the guard semantics are
    // unchanged by canonicalization
    val keep = bands
      .join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id"))
      .groupBy(col("band"), col("bucket"))
      .agg(sum(col("gsz")).as("bsz"))
      .filter(col("bsz") <= BandBucketCap)
      .select(col("band"), col("bucket"))
    val okBands = bands.join(keep, Seq("band", "bucket"))
      .localCheckpoint(eager = true) // both self-join sides + the haskept gate

    val cand = okBands.as("a")
      .join(okBands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h0") === col("sb.h0"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))

    val repScored = inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"),
        (col("n_shared").cast("double") /
          (col("na.n") + col("nb.n") - col("n_shared"))).as("jaccard"))

    // expansion back to document pairs — output-sized joins
    val cross = repScored
      .join(members.as("ma"), col("doc_a") === col("ma.rep_id"))
      .join(members.as("mb"), col("doc_b") === col("mb.rep_id"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("n_shared"), col("n_a"), col("n_b"), col("jaccard"))
    val hasKept = okBands.select(col("doc_id").as("rep_id")).distinct()
    val withN = members
      .join(hasKept, Seq("rep_id"))
      .join(sizes.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"))
    val within = withN.as("a")
      .join(withN.as("b"),
        col("a.rep_id") === col("b.rep_id") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_shared"), col("a.n").as("n_a"), col("b.n").as("n_b"),
        lit(1.0).as("jaccard"))

    cross.union(within)
  }

  /** The eager-checkpointed UNthresholded [[minhashVerifiedPairs]] — the
    * verified candidate set (already bounded by the band caps) that every
    * cluster-family consumer filters with a cheap scan. Each query builds
    * its own; the blocks are released by the ContextCleaner when the
    * returned plan is dropped.
    */
  private def verifiedPairs(documents: DataFrame): DataFrame =
    minhashVerifiedPairs(documents).localCheckpoint(eager = true)

  /** The ≥-threshold pair view over the verified-candidate checkpoint. */
  private def thresholdedPairs(documents: DataFrame): DataFrame =
    verifiedPairs(documents)
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"))

  def dedupMinhashLsh(documents: DataFrame): DataFrame =
    thresholdedPairs(documents).orderBy(col("doc_a"), col("doc_b"))

  /** Eager-checkpointed (vertex, component) rows of
    * [[Graph.connectedComponents]] over the ≥-[[JaccardThreshold]] subset
    * of `pairs` (a [[verifiedPairs]] checkpoint of the same corpus).
    */
  private def repComponents(documents: DataFrame, pairs: DataFrame): DataFrame = {
    // REP-LEVEL components, expanded through the member map — identical
    // (vertex, component) rows to CC over the expanded pair list (the
    // [[repClusterCtesSql]] identity: a cross rep edge connects ALL
    // members of both groups, so expanded components are rep components
    // with groups attached at their reps, and min member = min rep),
    // but the min-label propagation runs on the group-count-sized rep
    // graph instead of the duplication-inflated pair list.
    val (_, members, _) = canonicalTexts(documents)
    val e2 = pairs.filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
      .join(members.select(col("doc_id").as("doc_a"), col("rep_id").as("ra")), Seq("doc_a"))
      .join(members.select(col("doc_id").as("doc_b"), col("rep_id").as("rb")), Seq("doc_b"))
      .select(col("ra"), col("rb"))
      .localCheckpoint(eager = true) // cross CC + within set read it
    val repCC = Graph.connectedComponents(
      e2.filter(col("ra") =!= col("rb"))
        .select(least(col("ra"), col("rb")).as("doc_a"),
          greatest(col("ra"), col("rb")).as("doc_b"))
        .distinct())
      .withColumnRenamed("vertex", "rep_id")
    val withinOnly = e2.filter(col("ra") === col("rb"))
      .select(col("ra").as("rep_id")).distinct()
      .join(repCC.select(col("rep_id")), Seq("rep_id"), "left_anti")
      .withColumn("component", col("rep_id"))
    members
      .join(repCC.unionByName(withinOnly), Seq("rep_id"))
      .select(col("doc_id").as("vertex"), col("component"))
      .localCheckpoint(eager = true)
  }

  /** The serving-side LSH index for [[nearDupDetect]]: capped band buckets
    * (the same [[BandBucketCap]] guard as [[dedupMinhashLsh]]) keyed for
    * the stream join — (band, bucket, idx_doc).
    */
  def nearDupBandIndex(documents: DataFrame): DataFrame = {
    val bands = lshBands(shingleHashes(documents))
    val keep = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= BandBucketCap)
      .select(col("band"), col("bucket"))
    bands.join(keep, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("doc_id").as("idx_doc"))
  }

  /** The serving-side verify table for [[nearDupDetect]]: per indexed doc,
    * its sorted shingle-hash set — (idx_doc, idx_hs).
    */
  def nearDupShingleSets(documents: DataFrame): DataFrame =
    shingleHashes(documents)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h0"))).as("idx_hs"))
      .select(col("doc_id").as("idx_doc"), col("idx_hs"))

  /** Near-dup detection of incoming documents against a STATIC LSH index —
    * the ingest-time form of [[dedupMinhashLsh]] ("alert when a crawled
    * page near-duplicates the corpus"). Works unchanged on a watermarked
    * stream (one event-time-keyed aggregation builds the signature +
    * shingle set; everything else is stateless projections and
    * stream-static joins), which is how
    * [[graft.streaming.StreamJobs.nearDupStream]] runs it. Candidates
    * come from the capped static band buckets; the verify is exact
    * Jaccard via `array_intersect` against the static shingle sets — the
    * same arithmetic as the batch pair relation, so per-pair results are
    * bit-equal (parity-tested). A pair sharing several band buckets is
    * emitted once per bucket (alert-stream semantics; downstream consumes
    * with set semantics) — batch `cand` dedupes with DISTINCT instead,
    * which would be a second stateful agg on a stream.
    * Output: (doc_id, cand_doc, n_shared, jaccard) at ≥ the dedup
    * threshold.
    */
  def nearDupDetect(stream: DataFrame, bandIndex: DataFrame,
      shingleSets: DataFrame): DataFrame = {
    val sh = shingleHashes(stream, carry = Seq("ts"))
    val aggs = minhashAggs :+ sort_array(collect_set(col("h0"))).as("hs")
    val sig = sh.groupBy(col("ts"), col("doc_id")).agg(aggs.head, aggs.tail: _*)
    sig
      .select(col("doc_id"), col("hs"), explode(array(bandStructsCols: _*)).as("bb"))
      .select(col("doc_id"), col("hs"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .join(bandIndex, Seq("band", "bucket"))
      .filter(col("idx_doc") =!= col("doc_id"))
      .join(shingleSets, Seq("idx_doc"))
      .select(col("doc_id"), col("idx_doc").as("cand_doc"),
        size(array_intersect(col("hs"), col("idx_hs"))).cast("long").as("n_shared"),
        size(col("hs")).cast("long").as("n_a"), size(col("idx_hs")).cast("long").as("n_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_id"), col("cand_doc"), col("n_shared"), col("jaccard"))
  }

  /** Modulus/residue selecting the "newly crawled" batch for
    * [[dedupIncremental]] — deterministic, ~6 % of the corpus. */
  private val IncrBatchMod = 17
  private val IncrBatchResidue = 3

  /** Incremental near-dup: check a NEW document batch against the static
    * LSH index of the EXISTING corpus — the production crawl-ingest shape
    * ([[nearDupDetect]]'s batch form, registered for the driver gate).
    * The corpus is shingled ONCE (localCheckpoint) and feeds both the
    * capped band index and the verify shingle-set table; per new doc the
    * probe touches only its band buckets, so a batch of B docs costs
    * O(B · bands) index lookups + the verify joins — never a pass over
    * the corpus pair space. This is what makes 100 TB dedup sustainable:
    * the quadratic-ish clustering runs once offline, and every subsequent
    * crawl increment runs THIS. The batch/corpus split is a deterministic
    * residue so the DuckDB oracle mirrors it exactly; bucket caps apply
    * to the CORPUS side (the index is what's capped in production).
    * Output: one row per (new doc, corpus near-dup) at ≥ the
    * [[JaccardThreshold]] — [[nearDupDetect]]'s per-bucket alerts
    * collapsed to set semantics for the gate.
    */
  def dedupIncremental(documents: DataFrame): DataFrame = {
    // CANONICAL over (text, SIDE): the batch/corpus split is a doc_id
    // residue, so groups must not mix sides — each (gid, side) group gets
    // its own rep, and every downstream derivation (shingle set, minhash
    // signature, band buckets, pairwise intersection) is a pure function
    // of the text, so it runs once per rep. The bucket cap stays at DOC
    // count (Σ gsz per bucket — production caps the index by documents);
    // candidate/verify work runs on (batch rep, index rep) pairs; the
    // final member expansion on both sides reproduces the naive per-copy
    // pair list exactly — each batch copy shares every band bucket with
    // each corpus copy of a matching text, so the naive candidate set IS
    // the expanded rep-pair set, and (n_shared, jaccard) are rep-pair
    // constants. The naive form re-shingled every copy: measured as the
    // last >100 s ×100 query (~100× inflated shingle exchange + per-copy
    // array intersections).
    val isBatch = col("doc_id") % IncrBatchMod === IncrBatchResidue
    val keyed = documents.select(col("doc_id"),
        C.textGid(col("text")).as("gid"), isBatch.as("b"))
      .localCheckpoint(eager = true) // groups + members read it
    val grpS = keyed.groupBy(col("gid"), col("b"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("gsz"))
      .localCheckpoint(eager = true)
    val members = keyed
      .join(grpS.select(col("gid"), col("b"), col("rep_id")), Seq("gid", "b"))
      .select(col("rep_id"), col("doc_id"))
    val reps = documents
      .join(grpS.select(col("rep_id")), documents("doc_id") === col("rep_id"))
      .select(documents("doc_id"), col("text"))
    val gszC = grpS.filter(!col("b")).select(col("rep_id"), col("gsz"))
    // ONE corpus join + shingle pass + materialization covers BOTH sides:
    // a (gid, side) group's rep is one of its own members, so the rep's
    // side is its own doc_id residue and each side is a cheap filter of
    // the fused relation. The per-side form ran the documents ⋈ grpS join
    // and the shingle explode twice (once per side) and checkpointed each.
    val sh = shingleHashes(reps).localCheckpoint(eager = true)
    val shC = sh.filter(col("doc_id") % IncrBatchMod =!= IncrBatchResidue)
    val bands = lshBands(shC)
    val keep = bands
      .join(gszC.withColumnRenamed("rep_id", "doc_id"), Seq("doc_id"))
      .groupBy(col("band"), col("bucket"))
      .agg(sum(col("gsz")).as("bsz"))
      .filter(col("bsz") <= BandBucketCap)
      .select(col("band"), col("bucket"))
    val idx = bands.join(keep, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("doc_id").as("idx_rep"))
    val sets = shC.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h0"))).as("idx_hs"))
      .select(col("doc_id").as("idx_rep"), col("idx_hs"))
    // batch-side rep signatures + band probe (nearDupDetect's shape)
    val shB = sh.filter(col("doc_id") % IncrBatchMod === IncrBatchResidue)
    val aggsB = minhashAggs :+ sort_array(collect_set(col("h0"))).as("hs")
    val sigB = shB.groupBy(col("doc_id")).agg(aggsB.head, aggsB.tail: _*)
      .localCheckpoint(eager = true) // band probe + verify both read it
    val cand = sigB
      .select(col("doc_id"), explode(array(bandStructsCols: _*)).as("bb"))
      .select(col("doc_id").as("b_rep"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
      .join(idx, Seq("band", "bucket"))
      .select(col("b_rep"), col("idx_rep")).distinct()
    val verified = cand
      .join(sigB.select(col("doc_id").as("b_rep"), col("hs")), Seq("b_rep"))
      .join(sets, Seq("idx_rep"))
      .select(col("b_rep"), col("idx_rep"),
        size(array_intersect(col("hs"), col("idx_hs"))).cast("long").as("n_shared"),
        size(col("hs")).cast("long").as("n_a"),
        size(col("idx_hs")).cast("long").as("n_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("b_rep"), col("idx_rep"), col("n_shared"), col("jaccard"))
    verified
      .join(members.select(col("rep_id").as("b_rep"), col("doc_id")), Seq("b_rep"))
      .join(members.select(col("rep_id").as("idx_rep"), col("doc_id").as("cand_doc")),
        Seq("idx_rep"))
      .select(col("doc_id"), col("cand_doc"), col("n_shared"), col("jaccard"))
      .orderBy(col("doc_id"), col("cand_doc"))
  }

  /** DuckDB twin of [[dedupIncremental]]: the same split by residue, the
    * corpus-side band/cap/set chain, batch-side signatures, index probe,
    * and join-counted intersection.
    */
  val dedupIncrementalSql: String = {
    val minCols = (0 until NumHashes).map(j => s"min(${mixSql(j)}) AS mh$j")
      .mkString(",\n         ")
    def bandRows(src: String) = (0 until Bands).map { b =>
      val cat = (0 until NumHashes / Bands)
        .map(r => s"CAST(mh${b * (NumHashes / Bands) + r} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, ${C.md5LongSql(s"concat_ws(',', $cat)")} AS bucket FROM $src"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ig AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid,
       |         doc_id % $IncrBatchMod = $IncrBatchResidue AS b
       |  FROM documents
       |), igr AS MATERIALIZED (
       |  SELECT gid, b, min(doc_id) AS rep_id, count(*) AS gsz
       |  FROM ig GROUP BY gid, b
       |), sh_all AS MATERIALIZED (
       |  SELECT DISTINCT t.doc_id,
       |         ${C.md5LongSql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")} AS h0
       |  FROM (SELECT d.doc_id, ${TextAnalysis.tokensSql} AS toks
       |        FROM documents d JOIN igr ON d.doc_id = igr.rep_id) t,
       |       unnest(generate_series(1, len(toks) - 2)) AS u(i)
       |), sh_c AS MATERIALIZED (
       |  SELECT s.* FROM sh_all s JOIN igr g ON s.doc_id = g.rep_id AND NOT g.b
       |), sh_b AS MATERIALIZED (
       |  SELECT s.* FROM sh_all s JOIN igr g ON s.doc_id = g.rep_id AND g.b
       |), sig_c AS (
       |  SELECT doc_id,
       |         $minCols
       |  FROM sh_c GROUP BY doc_id
       |), bands_c AS MATERIALIZED (
       |  ${bandRows("sig_c")}
       |), idx AS MATERIALIZED (
       |  SELECT s.doc_id AS idx_rep, s.band, s.bucket FROM bands_c s
       |  JOIN (SELECT bc.band, bc.bucket FROM bands_c bc
       |        JOIN igr g ON bc.doc_id = g.rep_id
       |        GROUP BY bc.band, bc.bucket HAVING sum(g.gsz) <= $BandBucketCap) k
       |    ON s.band = k.band AND s.bucket = k.bucket
       |), sig_b AS (
       |  SELECT doc_id,
       |         $minCols
       |  FROM sh_b GROUP BY doc_id
       |), bands_b AS (
       |  ${bandRows("sig_b")}
       |), cand AS MATERIALIZED (
       |  SELECT DISTINCT b.doc_id AS b_rep, i.idx_rep
       |  FROM bands_b b JOIN idx i
       |    ON b.band = i.band AND b.bucket = i.bucket
       |), na AS (
       |  SELECT doc_id, count(*) AS n FROM sh_b GROUP BY doc_id
       |), nb AS (
       |  SELECT doc_id, count(*) AS n FROM sh_c GROUP BY doc_id
       |), inter AS (
       |  SELECT c.b_rep, c.idx_rep, count(*) AS n_shared
       |  FROM cand c
       |  JOIN sh_b sa ON c.b_rep = sa.doc_id
       |  JOIN sh_c sb ON c.idx_rep = sb.doc_id AND sa.h0 = sb.h0
       |  GROUP BY c.b_rep, c.idx_rep
       |), verified AS MATERIALIZED (
       |  SELECT i.b_rep, i.idx_rep, i.n_shared,
       |         CAST(i.n_shared AS DOUBLE) / (na.n + nb.n - i.n_shared) AS jaccard
       |  FROM inter i
       |  JOIN na ON i.b_rep = na.doc_id
       |  JOIN nb ON i.idx_rep = nb.doc_id
       |  WHERE CAST(i.n_shared AS DOUBLE) / (na.n + nb.n - i.n_shared)
       |        >= $JaccardThreshold
       |)
       |SELECT ma.doc_id, mb.doc_id AS cand_doc, v.n_shared, v.jaccard
       |FROM verified v
       |JOIN igr ga ON ga.rep_id = v.b_rep
       |JOIN ig ma ON ma.gid = ga.gid AND ma.b = ga.b
       |JOIN igr gb ON gb.rep_id = v.idx_rep
       |JOIN ig mb ON mb.gid = gb.gid AND mb.b = gb.b
       |ORDER BY ma.doc_id, cand_doc""".stripMargin
  }

  /** Containment threshold for [[dedupContainment]] — the Lee et al. 2022
    * "NearDup" complement: containment C(A,B) = |A∩B| / min(|A|,|B|)
    * catches a short document quoted nearly whole inside a long one,
    * which symmetric Jaccard dilutes below threshold.
    */
  private[graft] val ContainmentThreshold = 0.9

  /** Asymmetric near-subset detection over the SAME LSH candidate pairs as
    * [[dedupMinhashLsh]]: pairs whose shingle containment (intersection
    * over the SMALLER set) reaches [[ContainmentThreshold]], with the
    * contained side tagged. Candidate generation is Jaccard-biased (that
    * is the MinHash index's recall guarantee), so this surfaces the
    * asymmetric pairs among Jaccard candidates — a full containment index
    * would swap in an inverted-index candidate stage
    * ([[dedupNgramJaccard]]'s shape) with the same verify.
    * Output: (doc_a, doc_b, n_shared, containment, contained).
    */
  def dedupContainment(documents: DataFrame): DataFrame =
    verifiedPairs(documents)
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= ContainmentThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("containment"),
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Per-document top-[[SimilarTopK]] similarity search over the LSH
    * candidate graph — "find documents like this one" for EVERY document
    * at once, the all-queries form of near-dup retrieval (the single-query
    * form is the same relation filtered to one doc_id). Candidates come
    * from the same capped band buckets as [[dedupMinhashLsh]]; ranking is
    * exact shingle-Jaccard, ties to the lower neighbor id.
    * Output: (doc_id, rank, similar_id, n_shared, jaccard).
    *
    * Shape at 100 TB: identical to the dedup pipeline (that is the point —
    * retrieval reuses the index work); the symmetrization doubles a
    * band-bounded pair relation, and the per-doc top-k is a
    * WindowGroupLimit partial before the rank shuffle, so only k rows per
    * doc per partition move.
    */
  def similarDocs(documents: DataFrame): DataFrame = {
    // two consumers (both union orientations) — served by one verified-
    // candidate checkpoint (retrieval reuses the dedup index work)
    val pairs = verifiedPairs(documents)
    val sym = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("similar_id"),
        col("n_shared"), col("jaccard"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("similar_id"),
        col("n_shared"), col("jaccard")))
    sym
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("jaccard").desc, col("similar_id"))).cast("long"))
      .filter(col("rank") <= SimilarTopK)
      .select(col("doc_id"), col("rank"), col("similar_id"), col("n_shared"), col("jaccard"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Shared CTE chain `sh` → `sig` → `bands` → … → `scored_pairs` for the
    * MinHash-LSH oracles — the unthresholded verified-pair relation,
    * mirroring [[minhashVerifiedPairs]] on the Spark side; one definition
    * feeds [[dedupMinhashLshSql]] and [[similarDocsSql]].
    */
  private def minhashPairsCtesSql: String = minhashPairsCtesSql(true)

  /** `withExpanded = false` stops the chain at the rep-level relations
    * (`rep_scored`, `members`, `sizes`, `haskept`) — DuckDB MATERIALIZES
    * every `AS MATERIALIZED` CTE whether referenced or not (verified
    * empirically), so consumers that never read the member-expanded
    * `scored_pairs` (the rep-graph cluster family) must not declare it.
    */
  private def minhashPairsCtesSql(withExpanded: Boolean): String = {
    val minCols = (0 until NumHashes).map { j =>
      s"min(${mixSql(j)}) AS mh$j"
    }.mkString(",\n         ")
    val bandRows = (0 until Bands).map { b =>
      val cat = (0 until NumHashes / Bands)
        .map(r => s"CAST(mh${b * (NumHashes / Bands) + r} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, ${C.md5LongSql(s"concat_ws(',', $cat)")} AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    // Mirrors the canonicalized [[minhashVerifiedPairs]]; every CTE is
    // MATERIALIZED — DuckDB otherwise re-evaluates a CTE per reference,
    // and this chain feeds up to 8 consumers plus unrolled round loops
    // (measured >150 GB of RAM+spill on dedup_centrality at the ×100
    // replica before materialization + canonicalization).
    s"""WITH docs_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid, text FROM documents
       |), grp AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id, count(*) AS gsz FROM docs_g GROUP BY gid
       |), members AS MATERIALIZED (
       |  SELECT grp.rep_id, d.doc_id FROM docs_g d JOIN grp USING (gid)
       |), reps AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM docs_g d JOIN grp ON d.doc_id = grp.rep_id
       |), sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         ${C.md5LongSql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")} AS h0
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM reps) t,
       |       unnest(generate_series(1, len(toks) - 2)) AS u(i)
       |), sig AS MATERIALIZED (
       |  SELECT doc_id,
       |         $minCols
       |  FROM sh GROUP BY doc_id
       |), bands AS MATERIALIZED (
       |  $bandRows
       |), bands_ok AS MATERIALIZED (
       |  SELECT s.doc_id, s.band, s.bucket FROM bands s
       |  JOIN (SELECT b.band, b.bucket FROM bands b
       |        JOIN grp g ON b.doc_id = g.rep_id
       |        GROUP BY b.band, b.bucket HAVING sum(g.gsz) <= $BandBucketCap) k
       |    ON s.band = k.band AND s.bucket = k.bucket
       |), cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_ok a JOIN bands_ok b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |), sizes AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), inter AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
       |  FROM cand c
       |  JOIN sh sa ON c.doc_a = sa.doc_id
       |  JOIN sh sb ON c.doc_b = sb.doc_id AND sa.h0 = sb.h0
       |  GROUP BY c.doc_a, c.doc_b
       |), rep_scored AS MATERIALIZED (
       |  SELECT i.doc_a, i.doc_b, i.n_shared,
       |         CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
       |         CAST(i.n_shared AS DOUBLE) / (na.n + nb.n - i.n_shared) AS jaccard
       |  FROM inter i
       |  JOIN sizes na ON i.doc_a = na.doc_id
       |  JOIN sizes nb ON i.doc_b = nb.doc_id
       |), haskept AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS rep_id FROM bands_ok
       |)""".stripMargin + (if (!withExpanded) "" else
    s""", scored_pairs AS MATERIALIZED (
       |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |         greatest(ma.doc_id, mb.doc_id) AS doc_b,
       |         p.n_shared, p.n_a, p.n_b, p.jaccard
       |  FROM rep_scored p
       |  JOIN members ma ON p.doc_a = ma.rep_id
       |  JOIN members mb ON p.doc_b = mb.rep_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id, s.n,
       |         CAST(s.n AS BIGINT), CAST(s.n AS BIGINT),
       |         CAST(1.0 AS DOUBLE)
       |  FROM members a
       |  JOIN members b ON a.rep_id = b.rep_id AND a.doc_id < b.doc_id
       |  JOIN sizes s ON a.rep_id = s.doc_id
       |  JOIN haskept h ON a.rep_id = h.rep_id
       |)""".stripMargin)
  }

  val dedupMinhashLshSql: String =
    s"""${minhashPairsCtesSql}
       |SELECT doc_a, doc_b, n_shared, jaccard
       |FROM scored_pairs WHERE jaccard >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of [[dedupContainment]] over the shared pair chain. */
  val dedupContainmentSql: String =
    s"""${minhashPairsCtesSql}
       |SELECT doc_a, doc_b, n_shared,
       |       CAST(n_shared AS DOUBLE) / least(n_a, n_b) AS containment,
       |       CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS contained
       |FROM scored_pairs
       |WHERE CAST(n_shared AS DOUBLE) / least(n_a, n_b) >= $ContainmentThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of [[similarDocs]]: the shared [[minhashPairsCtesSql]]
    * chain, symmetrized, ranked per doc by (jaccard DESC, similar_id).
    */
  val similarDocsSql: String =
    s"""${minhashPairsCtesSql}, sym AS (
       |  SELECT doc_a AS doc_id, doc_b AS similar_id, n_shared, jaccard FROM scored_pairs
       |  UNION ALL
       |  SELECT doc_b AS doc_id, doc_a AS similar_id, n_shared, jaccard FROM scored_pairs
       |)
       |SELECT doc_id, rank, similar_id, n_shared, jaccard FROM (
       |  SELECT doc_id, similar_id, n_shared, jaccard,
       |         CAST(row_number() OVER (PARTITION BY doc_id
       |           ORDER BY jaccard DESC, similar_id) AS BIGINT) AS rank
       |  FROM sym)
       |WHERE rank <= $SimilarTopK ORDER BY doc_id, rank""".stripMargin

  /** Ground-truth sample size for [[dedupRecall]] — the audit's cost bound:
    * exact all-pairs truth is O(RecallSampleK²) regardless of corpus size,
    * so the harness stays fixed-cost at any scale. Membership is the first
    * RecallSampleK doc_ids by md5 order — deterministic, engine-mirrorable,
    * and unbiased w.r.t. any data attribute. */
  private[graft] val RecallSampleK = 200

  /** Recall audit of the PRODUCTION MinHash-LSH pair relation against
    * exact Jaccard ground truth — the dedup-side analog of the ANN
    * family's `knn_recall`: at warehouse scale exact all-pairs truth is
    * uncomputable, so the audit computes it on a fixed-size deterministic
    * sample (md5-ordered top-[[RecallSampleK]] doc_ids) and measures which
    * ≥-threshold sample pairs the full-corpus LSH path (band buckets, band
    * caps, minhash collisions and all) actually surfaced. Truth pairs come
    * from a shared-shingle self-join restricted to the sample (any pair
    * with jaccard > 0 shares a shingle, so the join is lossless above any
    * positive threshold) — shingle sets are per-document, so the sampled
    * truth is exact, not an approximation of it. Precision is 1 by
    * construction (every LSH pair is exact-verified at the same
    * threshold); recall per jaccard decile is the informative axis —
    * minhash banding misses near-threshold pairs far more often than
    * near-identical ones, and this output shows exactly that curve.
    * The LSH side is the same [[verifiedPairs]] checkpoint the other
    * cluster-family queries build; the truth side is sample-sized.
    * Output: (jacc_decile, n_truth, n_detected, recall) per decile.
    */
  def dedupRecall(documents: DataFrame): DataFrame = {
    val lsh = thresholdedPairs(documents).select(col("doc_a"), col("doc_b"))
    val sample = documents
      .select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(RecallSampleK)
    // broadcast semi-restriction BEFORE shingling: only sample docs explode.
    // Materialized (the [[minhashVerifiedPairs]] `sh` pattern): three
    // consumers (sizes, both self-join sides) would otherwise each re-scan
    // the full documents file just to re-derive the 200-doc shingle set.
    val ssh = shingleHashes(documents.join(broadcast(sample), Seq("doc_id")))
      .localCheckpoint(eager = true)
    val sizes = ssh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = ssh.as("sa")
      .join(ssh.as("sb"),
        col("sa.h0") === col("sb.h0") && col("sa.doc_id") < col("sb.doc_id"))
      .select(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val truth = inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_shared").cast("double") /
          (col("na.n") + col("nb.n") - col("n_shared"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
    truth
      .join(lsh.withColumn("det", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .groupBy(floor(col("jaccard") * 10).cast("bigint").as("jacc_decile"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("det"), lit(0L))).as("n_detected"))
      .select(col("jacc_decile"), col("n_truth"), col("n_detected"),
        (col("n_detected").cast("double") / col("n_truth")).as("recall"))
      .orderBy(col("jacc_decile"))
  }

  /** DuckDB twin of [[dedupRecall]]: the full-corpus LSH chain
    * ([[minhashPairsCtesSql]], reusing its `sh` shingle CTE for the
    * sample restriction) vs the exact sample truth. */
  val dedupRecallSql: String =
    s"""${minhashPairsCtesSql}, lsh AS (
       |  SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= $JaccardThreshold
       |), sample AS (
       |  SELECT doc_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $RecallSampleK
       |), ssh AS (
       |  -- sh is REP-level since the canonicalization: route each sampled
       |  -- doc to its representative's shingle set (identical by text)
       |  SELECT m.doc_id, s.h0
       |  FROM sample JOIN members m USING (doc_id)
       |  JOIN sh s ON s.doc_id = m.rep_id
       |), ssizes AS (
       |  SELECT doc_id, count(*) AS n FROM ssh GROUP BY doc_id
       |), struth AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_shared
       |  FROM ssh sa JOIN ssh sb ON sa.h0 = sb.h0 AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2
       |), truth AS (
       |  SELECT t.doc_a, t.doc_b,
       |         CAST(t.n_shared AS DOUBLE) / (na.n + nb.n - t.n_shared) AS jaccard
       |  FROM struth t
       |  JOIN ssizes na ON t.doc_a = na.doc_id
       |  JOIN ssizes nb ON t.doc_b = nb.doc_id
       |  WHERE CAST(t.n_shared AS DOUBLE) / (na.n + nb.n - t.n_shared)
       |        >= $JaccardThreshold
       |)
       |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS jacc_decile,
       |       CAST(count(*) AS BIGINT) AS n_truth,
       |       CAST(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
       |       CAST(CAST(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |         / count(*) AS recall
       |FROM truth t
       |LEFT JOIN lsh l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact n-gram Jaccard dedup (no LSH): candidate pairs come from an
    * inverted-index self-join on shingle hashes — only documents sharing at
    * least one shingle ever pair up, and the join's group count *is* the
    * intersection size. Exact complement to [[dedupMinhashLsh]] (which
    * trades the inverted-index join for constant-size signatures when even
    * the shared-shingle pair count is too large).
    */
  /** Document-frequency cap for the inverted-index join: a shingle shared
    * by more than this many documents ("stop-shingle" — boilerplate,
    * license headers) is dropped from the Jaccard universe BEFORE the
    * self-join, bounding its pair contribution at dfCap² instead of the
    * quadratic blowup a 10⁵-doc shingle would cause at corpus scale.
    * Sizes and intersections both use the capped universe, so the output
    * is still an exact Jaccard — over shingles that carry signal. The cap
    * is mirrored in the oracle SQL. (Measured on the testdata: max shingle
    * DF is 25 at sf0.1, so 1000 changes nothing there; it's the 100 TB
    * guard.)
    */
  private[graft] val DfCap = 1000

  def dedupNgramJaccard(documents: DataFrame, threshold: Double = 0.3,
      dfCap: Int = DfCap): DataFrame = {
    // EXACT-DUP CANONICALIZATION FIRST (the ×100-replica lesson): byte-
    // identical texts have identical shingle sets, so every copy of a
    // document multiplies the per-shingle posting lists — on a corpus
    // where each doc has ~100 exact copies the pair stream blows up ~200×
    // past the true output (measured: >90 GB of shuffle spill at the ×100
    // replica — the no-space failure in the round-11 sweep log). All the
    // quadratic machinery therefore runs on one REPRESENTATIVE per
    // distinct text; member pairs are reconstructed afterwards with
    // output-sized joins. Value-identical to the naive form because
    //   (1) the DF cap still counts DOCUMENT frequency (Σ group sizes),
    //   (2) every member shares its representative's capped shingle set,
    //   (3) cross-group jaccard(doc_a, doc_b) = jaccard(rep_a, rep_b),
    //   (4) within-group pairs share exactly their n capped shingles —
    //       jaccard n/(n+n−n) = 1.0 bit-exactly — and groups whose
    //       shingles were all capped away (n = 0) pair with nothing,
    //       exactly as the naive form's empty intersections.
    // The DuckDB oracle mirrors the same CTE chain.
    val (grp, members, reps) = canonicalTexts(documents)

    // shingles of DISTINCT texts only, keyed by their representative
    val rsh = shingleHashes(reps).localCheckpoint(eager = true)
    // the cap stays at DOCUMENT frequency: Σ member counts per shingle
    val keepH = rsh
      .join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id"))
      .groupBy(col("h0")).agg(sum(col("gsz")).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("h0"))
    val sh = rsh.join(keepH, Seq("h0")).localCheckpoint(eager = true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

    // Posting-list candidate generation over representatives: the shuffle
    // moves one row per distinct shingle; list length ≤ its document
    // frequency ≤ dfCap, so per-shingle pair work stays ≤ dfCap² with the
    // replica inflation already collapsed out.
    val postings = sh
      .groupBy(col("h0"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) >= 2) // sequence(1, 0) would count DOWN
    // pair stream via two flat generators (posexplode anchor + slice of the
    // strictly-later suffix) instead of one nested transform/flatten HOF —
    // the same (doc_a < doc_b) multiset, but generator-to-generator without
    // building the array-of-struct-arrays intermediate per posting list
    // (profiled ~1.3 → ~1.0 s warm on the 1.13 M-pair sf0.1 stream)
    val pairs = postings
      .select(posexplode(col("docs")).as(Seq("i", "doc_a")), col("docs"))
      .select(col("doc_a"),
        explode(slice(col("docs"), col("i") + 2, size(col("docs")))).as("doc_b"))
    val inter = pairs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val repPairs = inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("na.n") + col("nb.n") - col("n_shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

    // expansion back to document pairs — both joins are output-sized
    val cross = repPairs
      .join(members.as("ma"), col("doc_a") === col("ma.rep_id"))
      .join(members.as("mb"), col("doc_b") === col("mb.rep_id"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("n_shared"), col("jaccard"))
    val withN = members
      .join(sizes.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"))
    val within = withN.as("a")
      .join(withN.as("b"),
        col("a.rep_id") === col("b.rep_id") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_shared"), lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)

    cross.union(within).orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of [[dedupNgramJaccard]] — the same canonicalize →
    * rep-level pairs → output-sized expansion chain. */
  val dedupNgramJaccardSql: String =
    s"""WITH docs_g AS (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid, text FROM documents
       |), grp AS (
       |  SELECT gid, min(doc_id) AS rep_id, count(*) AS gsz FROM docs_g GROUP BY gid
       |), members AS (
       |  SELECT grp.rep_id, d.doc_id FROM docs_g d JOIN grp USING (gid)
       |), reps AS (
       |  SELECT d.doc_id, d.text FROM docs_g d JOIN grp ON d.doc_id = grp.rep_id
       |), rsh AS (
       |  SELECT DISTINCT doc_id,
       |         ${C.md5LongSql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")} AS h0
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM reps) t,
       |       unnest(generate_series(1, len(toks) - 2)) AS u(i)
       |), keeph AS (
       |  SELECT s.h0 FROM rsh s JOIN grp g ON s.doc_id = g.rep_id
       |  GROUP BY s.h0 HAVING sum(g.gsz) <= $DfCap
       |), sh AS (
       |  SELECT s.doc_id, s.h0 FROM rsh s JOIN keeph k ON s.h0 = k.h0
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |), rep_pairs AS (
       |  SELECT i.doc_a, i.doc_b, i.n_shared,
       |         CAST(i.n_shared AS DOUBLE) / (na.n + nb.n - i.n_shared) AS jaccard
       |  FROM inter i
       |  JOIN sizes na ON i.doc_a = na.doc_id
       |  JOIN sizes nb ON i.doc_b = nb.doc_id
       |  WHERE CAST(i.n_shared AS DOUBLE) / (na.n + nb.n - i.n_shared) >= 0.3
       |), cross_pairs AS (
       |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |         greatest(ma.doc_id, mb.doc_id) AS doc_b,
       |         p.n_shared, p.jaccard
       |  FROM rep_pairs p
       |  JOIN members ma ON p.doc_a = ma.rep_id
       |  JOIN members mb ON p.doc_b = mb.rep_id
       |), within_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         s.n AS n_shared, CAST(1.0 AS DOUBLE) AS jaccard
       |  FROM members a
       |  JOIN members b ON a.rep_id = b.rep_id AND a.doc_id < b.doc_id
       |  JOIN sizes s ON a.rep_id = s.doc_id
       |)
       |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared, jaccard
       |FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup cluster resolution — the step AFTER pair generation: the
    * [[dedupMinhashLsh]] pair list becomes one cluster label per document
    * (connected components, label = min doc_id in the cluster), so
    * "keep one doc per near-dup cluster" is `keep = 1`, a filter. Pairs
    * are transitive in effect even when similarity isn't (A~B, B~C puts
    * A,C in one cluster) — exactly the semantics production dedup wants.
    * Distributed shape: [[Graph.connectedComponents]] (min-label
    * propagation + pointer jumping, O(log diameter) rounds of equi-joins).
    * Output: (doc_id, cluster_id, keep) for EVERY document; singletons are
    * their own cluster. Deterministic ⇒ hash-checked against a
    * recursive-CTE transitive closure in DuckDB.
    */
  def dedupClusters(documents: DataFrame): DataFrame = {
    val comp = repComponents(documents, verifiedPairs(documents))
    documents.select(col("doc_id"))
      .join(comp.withColumnRenamed("vertex", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", when(col("cluster_id") === col("doc_id"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Per-source duplication diagnostics — the report a curation run reads
    * before deciding which crawl sources to down-weight or drop: docs and
    * near-dup casualties (cluster non-keepers, [[dedupClusters]]'
    * semantics) per `source`, with the dup rate. Output: (source, n_docs,
    * n_dups, dup_rate).
    *
    * Shape at 100 TB: one broadcastable (doc_id, keep) join onto the
    * (doc_id, source) projection, then a source-cardinality-sized agg —
    * all the heavy lifting is the dedup pipeline it reuses.
    */
  def sourceDupRates(documents: DataFrame): DataFrame =
    dedupClusters(documents)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(lit(1L) - col("keep")).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        (col("n_dups").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy(col("source"))

  /** The rep-graph cluster CTEs shared by [[dedupClustersSql]] and
    * [[dedupCentralitySql]] — appended after [[minhashPairsCtesSql]].
    * The recursive closure runs over REP-level thresholded edges (the
    * `rep_scored` relation, group-count-sized) instead of the
    * member-expanded pair list: on a duplicate-dense corpus the expanded
    * closure re-materializes Σ|component|² reachability rows per oracle
    * (the ×100 record priced the old form at 970–1290 s PER consumer).
    * Identical labels by the [[canonicalTexts]] argument: a cross rep
    * pair connects ALL members of both groups, so expanded components =
    * rep components with each group attached at its rep, and the least
    * member of an expanded component is the least rep (rep_id = min
    * member id). Groups with ≥ 2 members and a kept band bucket but no
    * cross edge are their own clique-component at cluster_id = rep_id
    * (the `within` branch of `scored_pairs`; 1.0 ≥ threshold); groups
    * with every bucket capped away pair with nothing (`haskept` — and a
    * cross edge implies haskept, since candidates come from bands_ok).
    */
  private def repClusterCtesSql: String =
    s"""rep_edges AS MATERIALIZED (
       |  SELECT doc_a AS s, doc_b AS t FROM rep_scored WHERE jaccard >= $JaccardThreshold
       |  UNION
       |  SELECT doc_b, doc_a FROM rep_scored WHERE jaccard >= $JaccardThreshold
       |), reach AS (
       |  SELECT s, t FROM rep_edges
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN rep_edges e ON r.t = e.s
       |), rep_comp AS MATERIALIZED (
       |  SELECT s AS rep_id, least(s, min(t)) AS cluster_id
       |  FROM reach GROUP BY s
       |), within_only AS MATERIALIZED (
       |  SELECT g.rep_id, g.rep_id AS cluster_id
       |  FROM grp g JOIN haskept h ON g.rep_id = h.rep_id
       |  WHERE g.gsz >= 2 AND 1.0 >= $JaccardThreshold
       |    AND g.rep_id NOT IN (SELECT rep_id FROM rep_comp)
       |), rep_cluster AS MATERIALIZED (
       |  SELECT rep_id, cluster_id FROM rep_comp
       |  UNION ALL
       |  SELECT rep_id, cluster_id FROM within_only
       |)""".stripMargin

  val dedupClustersSql: String =
    s"""${minhashPairsCtesSql(false).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${repClusterCtesSql}
       |SELECT d.doc_id, coalesce(rc.cluster_id, d.doc_id) AS cluster_id,
       |       CAST(CASE WHEN coalesce(rc.cluster_id, d.doc_id) = d.doc_id
       |            THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM documents d
       |LEFT JOIN members m ON d.doc_id = m.doc_id
       |LEFT JOIN rep_cluster rc ON m.rep_id = rc.rep_id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin of [[sourceDupRates]] — [[dedupClustersSql]] as a derived
    * table (DuckDB allows the recursive CTE inside it) aggregated per
    * source. Declared BELOW the SQL it embeds (object-val init order —
    * see the verify-skill gotcha).
    */
  val sourceDupRatesSql: String =
    s"""SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(1 - b.keep) AS BIGINT) AS n_dups,
       |       CAST(sum(1 - b.keep) AS DOUBLE) / count(*) AS dup_rate
       |FROM (
       |  ${dedupClustersSql.replaceAll("\n", "\n  ")}
       |) b JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Quality-maximizing keep rule over the near-dup clusters — the keep
    * policy production dedup actually ships (Lee et al. keep-one-per-
    * cluster with a quality prior, vs [[dedupClusters]]' min-id and
    * [[dedupCentrality]]'s PageRank): per cluster, keep the member with
    * the highest [[TextAnalysis.textStats]] quality score (ties → lowest
    * doc id; both engines order NULLs last explicitly). The third keep
    * rule over the SAME cluster relation makes the policy swappable
    * without touching the graph work.
    *
    * Shape at 100 TB: the cluster chain dominates; the quality join is
    * per-doc map-only expressions, and the per-cluster argmax is a
    * WindowGroupLimit-eligible rank. Output: (doc_id, cluster_id,
    * quality_score, keep).
    */
  def dedupKeepBest(documents: DataFrame): DataFrame = {
    val clusters = dedupClusters(documents).select(col("doc_id"), col("cluster_id"))
    // quality_score is a pure function of the text — compute it once per
    // distinct text ([[canonicalTexts]]) and expand through the member
    // map (the oracle mirrors this; a NULL-text rep scores NULL for every
    // member, exactly as the per-doc form did)
    val (_, members, reps) = canonicalTexts(documents)
    val quality = members
      .join(TextAnalysis.textStats(reps)
        .select(col("doc_id").as("rep_id"), col("quality_score")), Seq("rep_id"))
      .select(col("doc_id"), col("quality_score"))
    clusters.join(quality, "doc_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality_score").desc_nulls_last, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        when(col("rank") === 1, 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[dedupKeepBest]]: the shared rep-graph chain at top
    * level (not a nested derived table — DuckDB would re-derive it), the
    * textStats quality expression computed once per distinct text, argmax
    * per cluster over the member expansion.
    */
  def dedupKeepBestSql: String =
    s"""${minhashPairsCtesSql(false).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${repClusterCtesSql}, q AS (
       |  SELECT doc_id,
       |         (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)
       |          + CAST(len(list_filter(toks, x -> list_contains(${
            TextAnalysis.stopwordsSqlList}, x))) AS DOUBLE) / nullif(len(toks), 0)) / 2.0
       |           AS quality_score
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM reps)
       |), b AS (
       |  SELECT m.doc_id, m.rep_id, coalesce(rc.cluster_id, m.doc_id) AS cluster_id
       |  FROM members m LEFT JOIN rep_cluster rc ON m.rep_id = rc.rep_id
       |), r AS (
       |  SELECT b.doc_id, b.cluster_id, q.quality_score,
       |         row_number() OVER (PARTITION BY b.cluster_id
       |           ORDER BY q.quality_score DESC NULLS LAST, b.doc_id) AS rn
       |  FROM b JOIN q ON q.doc_id = b.rep_id
       |)
       |SELECT doc_id, cluster_id, quality_score,
       |       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM r ORDER BY doc_id""".stripMargin

  // ---- Near-dup graph statistics ----

  /** Global statistics of the near-dup graph — node/edge counts, wedge
    * count, triangle count, and the global clustering coefficient
    * (3·triangles / wedges) in ppm. The shape report a dedup run reads to
    * tell boilerplate explosions (dense cliques → GCC near 1) from chains
    * of borderline pairs (GCC near 0) before committing to a keep rule.
    *
    * Triangle counting is the classic oriented edge-join (Suri & Vassilvitskii
    * 2011): edges stored once as (doc_a < doc_b); wedges centered at the
    * LOWEST vertex pair up via a self-join on `doc_a`, and a join back onto
    * the edge list checks the closing edge — each triangle counted exactly
    * once at its minimum vertex. Wedge totals come from the degree
    * relation (`Σ deg·(deg−1)/2`), never from materialized wedges.
    *
    * Shape at 100 TB: the pair list is band-capped ([[BandBucketCap]]), so
    * per-vertex out-degree in the oriented list is bounded and the wedge
    * self-join cannot go quadratic in the corpus; all outputs are exact
    * BIGINTs from count/sum aggs; the three one-row aggregates broadcast
    * into the final projection.
    */
  def dedupGraphStats(documents: DataFrame): DataFrame = {
    // BLOW-UP FACTORIZATION. The thresholded pair list is, by
    // [[minhashVerifiedPairs]] construction, the blow-up of a rep-level
    // graph: each distinct-text group with a kept bucket and gsz ≥ 2 is a
    // clique (jaccard 1.0 ≥ threshold, always), and each rep-level cross
    // pair expands to complete-bipartite member pairs that inherit one
    // jaccard (so a rep pair passes the threshold all-or-nothing). On a
    // duplicate-dense corpus the naive wedge/triangle self-join counts
    // every clique triangle row-by-row (the ×100 replica: ~5 000 groups
    // of ~100 ⇒ ~8·10⁸ triangle rows, 228 s); the factorized form counts
    // them in closed form over the group-count-sized rep graph:
    //   deg(v ∈ x)  = [x clique]·(gsz(x)−1) + Σ_{y~x} gsz(y)   (uniform per group)
    //   n_wedges    = Σ_x gsz(x) · D(x)(D(x)−1)/2
    //   n_triangles = Σ_cliques C(gsz,3)
    //               + Σ_{(a,b)} C(gsz(a),2)·gsz(b) + C(gsz(b),2)·gsz(a)
    //               + Σ_{rep triangles} gsz(a)·gsz(b)·gsz(c)
    // (the 2+1 term is valid because a group with a cross edge has a kept
    // bucket, so gsz ≥ 2 ⇒ its within-clique exists). n_edges stays a
    // count over the verified-pair checkpoint. A/B-pinned to the naive join form by PipelineSpec
    // on real corpora and the skew fixture.
    val edges = thresholdedPairs(documents).select(col("doc_a"), col("doc_b"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))

    // rep-level structure: map each endpoint through the member map (the
    // only pair-list-sized work left — two skinny hash joins), split
    // within-group vs cross-group, dedup to the rep graph
    val (grp, members, _) = canonicalTexts(documents)
    val gsz = grp.select(col("rep_id"), col("gsz"))
    val e2 = edges
      .join(members.select(col("doc_id").as("doc_a"), col("rep_id").as("ra")), Seq("doc_a"))
      .join(members.select(col("doc_id").as("doc_b"), col("rep_id").as("rb")), Seq("doc_b"))
      .select(col("ra"), col("rb"))
      .localCheckpoint(eager = true) // consumed by cliques + cross twice
    val cliqueG = e2.filter(col("ra") === col("rb"))
      .select(col("ra").as("rep_id")).distinct()
      .join(gsz, Seq("rep_id"))
    val repCross = e2.filter(col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("a"), greatest(col("ra"), col("rb")).as("b"))
      .distinct()
      .join(gsz.select(col("rep_id").as("a"), col("gsz").as("ga")), Seq("a"))
      .join(gsz.select(col("rep_id").as("b"), col("gsz").as("gb")), Seq("b"))
      .localCheckpoint(eager = true) // degrees + 2+1 term + rep triangles

    // per-group uniform degree D, then node/wedge sums weighted by gsz
    val crossDeg = repCross.select(col("a").as("rep_id"), col("gb").as("ngsz"))
      .unionAll(repCross.select(col("b").as("rep_id"), col("ga").as("ngsz")))
      .groupBy(col("rep_id")).agg(sum(col("ngsz")).as("cdeg"))
    val degG = gsz
      .join(cliqueG.select(col("rep_id"), lit(1L).as("w")), Seq("rep_id"), "left_outer")
      .join(crossDeg, Seq("rep_id"), "left_outer")
      .select(col("gsz"),
        (coalesce(when(col("w") === 1L, col("gsz") - 1L), lit(0L)) +
          coalesce(col("cdeg"), lit(0L))).as("d"))
      .filter(col("d") > 0)
    val nodeStats = degG.agg(
      coalesce(sum(col("gsz")), lit(0L)).as("n_nodes"),
      coalesce(sum(col("gsz") * expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))

    val cliqueTri = cliqueG.agg(coalesce(
      sum(expr("gsz * (gsz - 1) * (gsz - 2) div 6")), lit(0L)).as("t1"))
    val mixTri = repCross.agg(coalesce(
      sum(expr("(ga * (ga - 1) div 2) * gb + (gb * (gb - 1) div 2) * ga")),
      lit(0L)).as("t2"))
    val triTri = repCross.as("e1")
      .join(repCross.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.b").as("a"), col("e2.b").as("b"),
        (col("e1.ga") * col("e1.gb") * col("e2.gb")).as("prod"))
      .join(repCross.select(col("a"), col("b")), Seq("a", "b"))
      .agg(coalesce(sum(col("prod")), lit(0L)).as("t3"))
    // each global aggregate is one row, so its broadcast is size-bounded
    val triStats = cliqueTri.crossJoin(broadcast(mixTri)).crossJoin(broadcast(triTri))
      .select((col("t1") + col("t2") + col("t3")).as("n_triangles"))

    graphStatsRow(nodeStats, edgeStats, triStats)
  }

  /** The one output row of both graph-stats forms, from their three
    * one-row aggregates. */
  private def graphStatsRow(nodeStats: DataFrame, edgeStats: DataFrame,
      triStats: DataFrame): DataFrame =
    nodeStats
      .crossJoin(broadcast(edgeStats))
      .crossJoin(broadcast(triStats))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("3 * n_triangles * 1000000 div n_wedges")).otherwise(0L)
          .as("gcc_ppm"))

  /** The naive wedge/triangle self-join form — PipelineSpec's A/B ground
    * truth for the factorized [[dedupGraphStats]] (and the shape the
    * DuckDB oracle still runs). Not on any query path.
    */
  private[graft] def dedupGraphStatsLegacy(documents: DataFrame): DataFrame = {
    val edges = thresholdedPairs(documents).select(col("doc_a"), col("doc_b"))
    val deg = edges.select(col("doc_a").as("v"))
      .unionAll(edges.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    val triStats = edges.as("e1")
      .join(edges.as("e2"),
        col("e1.doc_a") === col("e2.doc_a") && col("e1.doc_b") < col("e2.doc_b"))
      .select(col("e1.doc_b").as("doc_a"), col("e2.doc_b").as("doc_b"))
      .join(edges, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_triangles"))
    graphStatsRow(nodeStats, edgeStats, triStats)
  }

  /** DuckDB twin of [[dedupGraphStats]] over the shared thresholded pair
    * relation ([[dedupMinhashLshSql]] embedded as a CTE). */
  def dedupGraphStatsSql: String =
    s"""WITH e AS (
       |  SELECT doc_a, doc_b FROM (
       |    ${dedupMinhashLshSql.replaceAll("\n", "\n    ")}
       |  )
       |), deg AS (
       |  SELECT v, count(*) AS deg
       |  FROM (SELECT doc_a AS v FROM e UNION ALL SELECT doc_b FROM e)
       |  GROUP BY v
       |), ns AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
       |  FROM deg
       |), ec AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e
       |), tr AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM e e1
       |  JOIN e e2 ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b
       |  JOIN e e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b
       |)
       |SELECT ns.n_nodes, ec.n_edges, ns.n_wedges, tr.n_triangles,
       |       CAST(CASE WHEN ns.n_wedges > 0
       |            THEN 3 * tr.n_triangles * 1000000 // ns.n_wedges
       |            ELSE 0 END AS BIGINT) AS gcc_ppm
       |FROM ns, ec, tr""".stripMargin

  // ---- Adversarial skew fixture (quadratic-guard proof) ----

  /** One boilerplate page, injected [[SkewCopies]] times: every copy shares
    * all shingles (DF = copies > [[DfCap]]) and — being byte-identical —
    * the same minhash signature, so all [[Bands]] of its LSH buckets exceed
    * [[BandBucketCap]]. This is the corpus shape (cookie banners, license
    * headers) that turns both self-joins quadratic at 100 TB; the fixture
    * makes the guard branches fire at test scale so cap + oracle-mirror
    * parity is proven live, not just by construction.
    */
  private[graft] val BoilerplateText: String =
    "subscribe to our newsletter for updates terms and conditions apply " +
      "all rights reserved unauthorized reproduction of this page is strictly " +
      "prohibited contact support for more information about cookie preferences " +
      "and the privacy policy of this site"

  private[graft] val SkewCopies = 1100 // > both caps (1000)
  // Above any real doc_id in the driver's testdata; PipelineSpec asserts
  // max(documents.doc_id) < SkewIdBase at the test SF so a future dataset
  // with larger ids fails loudly instead of silently colliding.
  private[graft] val SkewIdBase = 10000000L

  /** documents(doc_id, text) ∪ [[SkewCopies]] boilerplate copies with
    * synthetic ids. Deterministic (a range, not RNG) so the DuckDB twin
    * ([[skewedDocsSql]]) is byte-identical.
    */
  def skewedDocuments(documents: DataFrame): DataFrame = {
    val extra = documents.sparkSession.range(1, SkewCopies + 1)
      .select((col("id") + SkewIdBase).as("doc_id"), lit(BoilerplateText).as("text"))
    documents.select(col("doc_id"), col("text")).union(extra)
  }

  private def skewedDocsSql: String =
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST($SkewIdBase + i AS BIGINT) AS doc_id, '$BoilerplateText' AS text
       |  FROM generate_series(1, $SkewCopies) AS g(i)""".stripMargin

  /** Rewrites a dedup oracle query to run over the skewed fixture: the
    * fixture becomes the leading CTE and the one `FROM documents` inside
    * the shared shingle CTE is redirected at it.
    */
  private def withSkewFixture(sql: String): String = {
    // Exactly-once guard: String.replace rewrites every occurrence, so a
    // query reading `documents` twice would be silently redirected twice —
    // fine semantically here, but the cap-proof queries are written with a
    // single shared shingle CTE and this pins that shape.
    require(sql.startsWith("WITH ") &&
      "FROM documents".r.findAllMatchIn(sql).size == 1,
      "skew fixture expects exactly one `FROM documents` in a WITH query")
    "WITH docs_skew AS (\n  " + skewedDocsSql + "\n), " +
      sql.replace("FROM documents", "FROM docs_skew").stripPrefix("WITH ")
  }

  /** [[dedupMinhashLsh]] over the boilerplate-skewed corpus — the
    * registered proof that [[BandBucketCap]] drops the degenerate buckets
    * and the capped result still hash-matches the cap-mirroring oracle.
    */
  def dedupMinhashLshSkew(documents: DataFrame): DataFrame =
    dedupMinhashLsh(skewedDocuments(documents))

  val dedupMinhashLshSkewSql: String = withSkewFixture(dedupMinhashLshSql)

  /** [[dedupNgramJaccard]] over the skewed corpus — fires [[DfCap]]. */
  def dedupNgramJaccardSkew(documents: DataFrame): DataFrame =
    dedupNgramJaccard(skewedDocuments(documents))

  val dedupNgramJaccardSkewSql: String = withSkewFixture(dedupNgramJaccardSql)

  // ---- SimHash ----

  private val SimBits = 48 // md5Long gives 60 usable bits; 48 keeps blocks even
  private val SimBlocks = 4 // 4 x 12-bit blocks; candidates share >=1 block
  private val HammingMax = 6

  /** 48-bit SimHash per document: every token occurrence votes ±1 on each
    * bit of its 60-bit hash; bit set iff the vote sum is positive. Computed
    * as one hash-agg with 48 conditional-sum columns (single pass, partial
    * aggregation — no token×bit row explosion survives to the shuffle).
    */
  def simhashCore(documents: DataFrame): DataFrame =
    // one native fold per row (no token exchange, no 48-column agg) —
    // value-identical to the grouped vote form, which TextNativeSpec A/Bs;
    // the isNotNull filter keeps the grouped form's contract that a
    // tokenless doc emits no row
    documents
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash(col("text"), SimBits).as("simhash"))
      .filter(col("simhash").isNotNull)

  def simhash(documents: DataFrame): DataFrame =
    simhashCore(documents).orderBy(col("doc_id"))

  val simhashSql: String = {
    val voteCols = (0 until SimBits).map { b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n         ")
    val simExpr = (0 until SimBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString("\n         + ")
    s"""WITH th AS (
       |  SELECT doc_id, ${C.md5LongSql("u.tok")} AS h
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM documents) t,
       |       unnest(toks) AS u(tok)
       |), votes AS (
       |  SELECT doc_id,
       |         $voteCols
       |  FROM th GROUP BY doc_id
       |)
       |SELECT doc_id,
       |       CAST($simExpr AS BIGINT) AS simhash
       |FROM votes ORDER BY doc_id""".stripMargin
  }

  /** SimHash near-dup pairs: candidates share at least one of 4 12-bit
    * blocks (the standard pigeonhole index for hamming ≤ SimBlocks-1),
    * verified by exact hamming distance ≤ [[HammingMax]].
    */
  def dedupSimhash(documents: DataFrame): DataFrame = {
    // EXACT-DUP CANONICALIZATION ([[canonicalTexts]] — the
    // [[minhashVerifiedPairs]] argument, block-index flavor): identical
    // texts have identical simhashes hence identical blocks, so
    //  (1) block sizes for the [[BandBucketCap]] guard count DOCUMENTS
    //      (Σ gsz per (k, block)) — the kept block set is the naive one;
    //  (2) two docs of different texts are candidates iff their reps
    //      share a kept block, and their hamming IS the rep hamming;
    //  (3) same-text docs share all their blocks, so they pair iff their
    //      group has ≥1 kept block — at hamming 0, always ≤ [[HammingMax]].
    // Signatures materialize once (localCheckpoint → no session leak).
    val (grp, members, reps) = canonicalTexts(documents)
    val sim = simhashCore(reps).localCheckpoint(eager = true) // (rep_id, simhash)
    val allBlocks = sim.select(col("doc_id"), col("simhash"), explode(array(
      (0 until SimBlocks).map(k =>
        struct(lit(k).as("k"),
          shiftright(col("simhash"), k * (SimBits / SimBlocks))
            .bitwiseAND((1 << (SimBits / SimBlocks)) - 1).as("block"))): _*)).as("kb"))
      .select(col("doc_id"), col("simhash"), col("kb.k").as("k"), col("kb.block").as("block"))
    // the [[BandBucketCap]] guard, same as the MinHash band join: the
    // 4×2^12 block space is FIXED, so background occupancy (and with it
    // candidate pairs, N²/2^12 per block) grows quadratically in the
    // corpus — a hot block (boilerplate-dominated corpora) must be
    // dropped before the self-join, at the documented recall cost inside
    // the capped blocks. Mirrored in the oracle; fires on the skew twin.
    val keep = allBlocks
      .join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id"))
      .groupBy(col("k"), col("block"))
      .agg(sum(col("gsz")).as("bsz"))
      .filter(col("bsz") <= BandBucketCap)
      .select(col("k"), col("block"))
    val blocks = allBlocks.join(keep, Seq("k", "block"))
      .localCheckpoint(eager = true) // both self-join sides + the haskept gate
    val repPairs = blocks.as("a")
      .join(blocks.as("b"),
        col("a.k") === col("b.k") && col("a.block") === col("b.block")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      // filter BEFORE distinct: the hamming predicate prunes the candidate
      // pairs in the join output stream; only survivors reach the
      // dedup shuffle (on homogeneous corpora candidates can approach
      // quadratic within hot buckets — never shuffle them all)
      .filter(col("hamming") <= HammingMax)
      .distinct()
    // expansion back to document pairs — output-sized joins
    val cross = repPairs
      .join(members.as("ma"), col("ra") === col("ma.rep_id"))
      .join(members.as("mb"), col("rb") === col("mb.rep_id"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"), col("hamming"))
    val hasKept = blocks.select(col("doc_id").as("rep_id")).distinct()
    val withK = members.join(hasKept, Seq("rep_id"))
    val within = withK.as("a")
      .join(withK.as("b"),
        col("a.rep_id") === col("b.rep_id") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    // no outer distinct: repPairs is already deduped (the naive form's
    // distinct absorbed multi-block candidate repeats there), expansion of
    // distinct rep pairs over unique member rows is duplicate-free, and
    // cross (different texts) and within (same text) are disjoint — one
    // fewer full exchange of the output-sized relation
    cross.unionAll(within)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of [[dedupSimhash]], REP-LEVEL like the engine (the same
    * quotient algebra as [[minhashPairsCtesSql]]): simhash votes run only
    * over distinct-text reps, the block cap counts documents (Σ gsz), rep
    * pairs verify hamming once, and the member expansion emits cross-group
    * pairs plus within-group hamming-0 pairs for groups holding a kept
    * block. This replaced a per-doc naive twin whose token unnest + block
    * self-join was the tallest non-deliberate oracle tower at the ×100
    * replica (198 s on the slow host): at ×100 reps are ~1 % of docs, so
    * the unnest/vote/self-join work drops ~100× while the final expansion
    * stays output-sized. Row-set equality with the naive form follows from
    * the [[dedupSimhash]] doc-comment identities (identical texts ⇒
    * identical simhash ⇒ identical blocks).
    */
  val dedupSimhashSql: String = {
    val mask = (1 << (SimBits / SimBlocks)) - 1
    val blockRows = (0 until SimBlocks).map { k =>
      s"SELECT doc_id, simhash, $k AS k, (simhash >> ${k * (SimBits / SimBlocks)}) & $mask AS block FROM sim"
    }.mkString("\n  UNION ALL\n  ")
    val voteCols = (0 until SimBits).map { b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n         ")
    val simExpr = (0 until SimBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString("\n         + ")
    s"""WITH docs_g AS MATERIALIZED (
       |  SELECT doc_id, ${C.textGidSql("text")} AS gid, text FROM documents
       |), grp AS MATERIALIZED (
       |  SELECT gid, min(doc_id) AS rep_id, count(*) AS gsz FROM docs_g GROUP BY gid
       |), members AS MATERIALIZED (
       |  SELECT grp.rep_id, d.doc_id FROM docs_g d JOIN grp USING (gid)
       |), reps AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM docs_g d JOIN grp ON d.doc_id = grp.rep_id
       |), th AS (
       |  SELECT doc_id, ${C.md5LongSql("u.tok")} AS h
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks FROM reps) t,
       |       unnest(toks) AS u(tok)
       |), votes AS (
       |  SELECT doc_id,
       |         $voteCols
       |  FROM th GROUP BY doc_id
       |), sim AS MATERIALIZED (
       |  SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM votes
       |), all_blocks AS MATERIALIZED (
       |  $blockRows
       |), blocks AS MATERIALIZED (
       |  SELECT s.doc_id, s.simhash, s.k, s.block FROM all_blocks s
       |  JOIN (SELECT ab.k, ab.block FROM all_blocks ab
       |        JOIN grp g ON ab.doc_id = g.rep_id
       |        GROUP BY ab.k, ab.block HAVING sum(g.gsz) <= $BandBucketCap) kk
       |    ON s.k = kk.k AND s.block = kk.block
       |), rep_pairs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS ra, b.doc_id AS rb,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM blocks a JOIN blocks b
       |    ON a.k = b.k AND a.block = b.block AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
       |), haskept AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS rep_id FROM blocks
       |)
       |SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |       greatest(ma.doc_id, mb.doc_id) AS doc_b, rp.hamming
       |FROM rep_pairs rp
       |JOIN members ma ON ma.rep_id = rp.ra
       |JOIN members mb ON mb.rep_id = rp.rb
       |UNION ALL
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
       |FROM members a
       |JOIN members b ON a.rep_id = b.rep_id AND a.doc_id < b.doc_id
       |JOIN haskept h ON h.rep_id = a.rep_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** [[dedupSimhash]] over the boilerplate-skewed corpus — the registered
    * proof that the SimHash block cap drops the degenerate buckets (the
    * copies' shared signature over-fills all [[SimBlocks]] buckets) and
    * the capped result still hash-matches the cap-mirroring oracle.
    */
  def dedupSimhashSkew(documents: DataFrame): DataFrame =
    dedupSimhash(skewedDocuments(documents))

  val dedupSimhashSkewSql: String = withSkewFixture(dedupSimhashSql)

  // ---- PageRank centrality over the near-dup graph ----

  /** Power-iteration rounds for [[dedupCentrality]] — unrolled in both
    * engines, so a constant. */
  private[graft] val PrIters = 5

  /** Fixed-point scale of the rank values (1e-6). */
  private[graft] val PrScale = 1000000L

  /** PageRank centrality over the [[dedupMinhashLsh]] near-dup graph, and
    * the centrality-based canonical-document rule it enables: per
    * near-dup cluster, keep the member with the HIGHEST rank — the doc
    * most similar to most others — instead of [[dedupClusters]]' min-id
    * convention (the production argument: the central member is the least
    * likely to be a truncated/mangled variant). Damping 0.85, unnormalized
    * form (every vertex starts at 1.0; the uniform term is 0.15), which
    * converges to the same ordering as the normalized chain.
    *
    * All arithmetic is integral at [[PrScale]] fixed point — each
    * contribution is one integer division `(85·r) div (100·deg)`, sums
    * are exact BIGINTs — so [[PrIters]] rounds are bit-identical across
    * engines despite float-free PageRank being nonstandard. Scale shape:
    * the graph is the LSH pair list (linear in corpus under the band
    * caps); each round is one equi-join rank⋈edges + one hash-agg on the
    * destination — the standard distributed PR step, O(iters) skinny
    * shuffles of (vertex, long) rows. Components reuse
    * [[Graph.connectedComponents]].
    *
    * Output: one row per graph vertex — (doc_id, cluster_id, deg, pr_fp,
    * keep); docs with no near-dup edges are not ranked (their keep
    * decision is trivial).
    */
  def dedupCentrality(documents: DataFrame): DataFrame =
    dedupCentrality(documents, C.DriverCollectMax)

  private[graft] def dedupCentrality(documents: DataFrame,
      driverCollectMax: Long): DataFrame = {
    val pairs = verifiedPairs(documents)
    val comp = repComponents(documents, pairs)
    val (_, members, _) = canonicalTexts(documents)
    val edges = pairs.filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    members
      .join(quotientRanks(edges, members, driverCollectMax), Seq("rep_id"))
      .join(comp.withColumnRenamed("vertex", "doc_id")
        .withColumnRenamed("component", "cluster_id"), Seq("doc_id"))
      .withColumn("keep", (row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("r").desc, col("doc_id"))) === 1).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("deg"),
        col("r").as("pr_fp"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** (rep_id, deg, r) after [[PrIters]] integer power-iteration rounds over
    * the dup-group QUOTIENT of the (doc_a, doc_b) near-dup graph, where
    * `members` maps every doc_id to its group's rep_id (the
    * [[dedupCentralitySql]] factorization, engine-side). Members of an
    * exact-dup group are structurally symmetric in the expanded graph, so
    * pr is constant within groups, and because each in-edge contributes
    * (85·r) div (100·deg) INDIVIDUALLY before the sum, the member-level
    * round collapses exactly to rep-level arithmetic —
    *   in_sum(r) = Σ_{cross s~r} gsz_s·c_s + (gsz_r − 1)·c_r,
    *   deg(r) = (gsz_r − 1) + Σ_{cross s~r} gsz_s
    * (for every graph vertex, gsz ≥ 2 ⟺ the within-clique exists: a
    * cross edge implies a kept band bucket, and a ≥2-group with a kept
    * bucket always pairs internally). Identical BIGINTs to the expanded
    * rounds; the ×100 replica priced the expanded form at ~74 s of
    * 54 M-edge joins per run vs rep-sized joins here. With every document
    * its own group (gsz = 1) the quotient IS the expanded graph.
    */
  private[graft] def quotientRanks(pairs: DataFrame, members: DataFrame,
      driverCollectMax: Long): DataFrame = {
    val spark = pairs.sparkSession
    val e2 = pairs
      .join(members.select(col("doc_id").as("doc_a"), col("rep_id").as("ra")), Seq("doc_a"))
      .join(members.select(col("doc_id").as("doc_b"), col("rep_id").as("rb")), Seq("doc_b"))
      .select(col("ra"), col("rb"))
      .localCheckpoint(eager = true) // cross edges + within set read it
    val cross = {
      val rc = e2.filter(col("ra") =!= col("rb"))
        .select(least(col("ra"), col("rb")).as("s"), greatest(col("ra"), col("rb")).as("t"))
        .distinct()
      rc.unionAll(rc.select(col("t").as("s"), col("s").as("t")))
    }
    val verts = cross.select(col("s").as("rep_id"))
      .unionAll(e2.filter(col("ra") === col("rb")).select(col("ra").as("rep_id")))
      .distinct()
    // group sizes of the graph vertices only — a verts-sized semi-join,
    // never the corpus-sized group table
    val gsz = members.join(verts, Seq("rep_id"))
      .groupBy(col("rep_id")).agg(count(lit(1)).as("gsz"))
    // weighted in-edges (s → t, w): a cross edge carries gsz_s (every
    // member of s links every member of t) and each vertex's self edge
    // carries gsz − 1 (its within-group clique), so per round
    //   deg(t) = Σ w,   r'(t) = 0.15 + Σ w · ((85·r_s) div (100·deg_s))
    val qe = cross
      .join(gsz.select(col("rep_id").as("s"), col("gsz").as("w")), Seq("s"))
      .select(col("s"), col("t"), col("w"))
      .unionAll(gsz.select(col("rep_id").as("s"), col("rep_id").as("t"),
        (col("gsz") - 1).as("w")))
    C.collectBelow(qe, driverCollectMax) match {
      case Some(rows) =>
        val in = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val deg = in.groupMapReduce(_._2)(_._3)(_ + _)
        var rank = deg.map { case (v, _) => v -> PrScale }
        for (_ <- 1 to PrIters) {
          // identical integer arithmetic to the distributed rounds (and the
          // oracle's unrolled CTEs): Scala Long `/` truncates toward zero
          // exactly like Spark `div` / DuckDB `//`
          val c = rank.map { case (v, r) => v -> (85L * r) / (100L * deg(v)) }
          rank = in.groupMapReduce(_._2)(e => e._3 * c(e._1))(_ + _)
            .map { case (v, sum) => v -> (PrScale * 15 / 100 + sum) }
        }
        import spark.implicits._
        deg.toSeq.map { case (v, d) => (v, d, rank(v)) }.toDF("rep_id", "deg", "r")
      case None =>
        val qeM = qe.localCheckpoint(eager = true) // degree + every round read it
        val deg = qeM.groupBy(col("t").as("rep_id")).agg(sum(col("w")).as("deg"))
          .localCheckpoint(eager = true) // every round reads it
        var rank = deg.select(col("rep_id"), lit(PrScale).as("r"))
        for (_ <- 1 to PrIters) {
          val contrib = deg.join(rank, Seq("rep_id"))
            .select(col("rep_id").as("s"), expr("(85 * r) div (100 * deg)").as("c"))
          rank = qeM.join(contrib, Seq("s"))
            .groupBy(col("t").as("rep_id"))
            .agg((lit(PrScale * 15 / 100) + sum(col("w") * col("c"))).as("r"))
            .localCheckpoint(eager = true) // cut per-round lineage
        }
        deg.join(rank, Seq("rep_id"))
    }
  }

  /** DuckDB twin of [[dedupCentrality]], factored over the dup-group
    * quotient graph. Every member of an exact-dup group is structurally
    * symmetric in the expanded near-dup graph (a cross rep pair connects
    * ALL members of both groups; within a group the members form a
    * clique), so the integer power iteration is CONSTANT within groups,
    * and — because each in-edge's contribution `(85·r) // (100·deg)` is
    * computed per edge and then summed — the member-level round
    * factorizes EXACTLY into rep-level arithmetic:
    *
    *   in_sum(r) = Σ_{cross s~r} gsz_s · c_s  +  (gsz_r − 1) · c_r,
    *   deg(r)    = (gsz_r − 1) + Σ_{cross s~r} gsz_s
    *
    * (c_s the per-edge contribution of any member of s). Same BIGINTs as
    * the expanded-graph rounds, bit for bit — but each round joins the
    * group-count-sized `rep_edges`, not the member-expanded pair list
    * (the ×100 record priced the expanded form at 810 s; the whole graph
    * work here is rep-sized). Vertices are exactly [[repClusterCtesSql]]'s
    * `rep_cluster` reps (cross-connected, or ≥2-member groups with a kept
    * bucket); members expand through the member map with their rep's
    * (deg, pr, cluster), and the per-cluster argmax keep window runs on
    * the expanded rows as before.
    */
  val dedupCentralitySql: String = {
    def round(prev: String, n: Int): String =
      s"""r$n AS (
         |  SELECT d.rep_id,
         |         CAST(${PrScale * 15 / 100}
         |              + coalesce(x.cs, 0)
         |              + (d.gsz - 1) * ((85 * p.r) // (100 * d.deg)) AS BIGINT) AS r
         |  FROM deg d JOIN $prev p ON p.rep_id = d.rep_id
         |  LEFT JOIN (
         |    SELECT a.t AS rep_id,
         |           sum(gs.gsz * ((85 * ps.r) // (100 * ds.deg))) AS cs
         |    FROM rep_edges a
         |    JOIN grp gs ON a.s = gs.rep_id
         |    JOIN deg ds ON a.s = ds.rep_id
         |    JOIN $prev ps ON a.s = ps.rep_id
         |    GROUP BY a.t
         |  ) x ON x.rep_id = d.rep_id
         |)""".stripMargin
    val rounds = (1 to PrIters).map(n => round(s"r${n - 1}", n)).mkString(",\n")
    s"""${minhashPairsCtesSql(false).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${repClusterCtesSql}, deg AS MATERIALIZED (
       |  SELECT rc.rep_id, g.gsz,
       |         CAST(g.gsz - 1 + coalesce(cw.w, 0) AS BIGINT) AS deg
       |  FROM rep_cluster rc
       |  JOIN grp g ON rc.rep_id = g.rep_id
       |  LEFT JOIN (SELECT a.s AS rep_id, sum(gt.gsz) AS w
       |             FROM rep_edges a JOIN grp gt ON a.t = gt.rep_id
       |             GROUP BY a.s) cw ON cw.rep_id = rc.rep_id
       |), r0 AS (
       |  SELECT rep_id, CAST($PrScale AS BIGINT) AS r FROM deg
       |), $rounds
       |SELECT m.doc_id, rc.cluster_id, CAST(d.deg AS BIGINT) AS deg,
       |       rk.r AS pr_fp,
       |       CAST(row_number() OVER (
       |              PARTITION BY rc.cluster_id
       |              ORDER BY rk.r DESC, m.doc_id) = 1 AS BIGINT) AS keep
       |FROM deg d
       |JOIN r$PrIters rk ON rk.rep_id = d.rep_id
       |JOIN rep_cluster rc ON rc.rep_id = d.rep_id
       |JOIN members m ON m.rep_id = d.rep_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---- Exact substring dedup (suffix-array family) ----

  /** Duplicated-substring unit length, in characters. The method finds
    * every maximal span whose length-[[SubstrK]] windows all repeat
    * somewhere in the corpus — the ExactSubstr operator of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"
    * (the paper uses 50 BPE tokens over a suffix array; chars are this
    * corpus's unit). A constant: semantics don't depend on its value.
    */
  private[graft] val SubstrK = 50

  /** Exact substring dedup — per-document duplicated-span report. Every
    * character position opens a [[SubstrK]]-gram; a position is
    * *duplicated* if its gram occurs more than once in the whole corpus
    * (across or within documents). Runs of duplicated positions merge
    * into maximal spans (overlapping or abutting [pos, pos+K) intervals
    * coalesce), and each document reports its span count and duplicated
    * char mass — the quantities the paper's dedup step cuts.
    *
    * Spark-first shape instead of the paper's monolithic suffix array
    * (which needs the whole corpus in one address space): grams hash to
    * 60-bit longs at the map side, so the only wide exchange is a
    * hash-agg over 8-byte keys — count>1 is the entire global state, no
    * gram TEXT ever shuffles. The duplicated-hash relation joins back to
    * positions (AQE broadcasts it when rare), and span merging is a
    * per-document sort — gaps-and-islands over (doc_id, pos) longs,
    * partition-local after one skinny shuffle. Every stage is linear in
    * corpus positions; nothing is quadratic even on boilerplate corpora
    * (a hot gram adds ONE row to the agg, not a pair explosion).
    *
    * Output: one row per document — (doc_id, n_chars, n_dup_spans,
    * dup_chars); zero-dup and short (<K chars) docs report zeros.
    * All-integer ⇒ hash-checked against the DuckDB mirror.
    */
  def dedupSubstring(documents: DataFrame): DataFrame = {
    // CANONICALIZED over distinct texts: a byte-identical copy repeats
    // every gram, so corpus-global occurrence counts are gsz-weighted
    // rep-level counts (identical integers), a rep's span report IS each
    // member's span report (same text, same global dup set), and the
    // gram exchange shrinks by the duplication factor — the
    // dedup_substring ×100 shape (naive exchange: ~1 G gram rows)
    val (grp, members, reps) = canonicalTexts(documents)
    // one rep-text scan: the gram relation feeds BOTH the dup-hash agg
    // and the span join — materialize the skinny (doc, pos, h) longs once
    val grams = substrGrams(reps).localCheckpoint(eager = true)
    val dupHash = weightedDupHashes(grams, grp)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = grams.join(dupHash, Seq("h"))
      .select(col("doc_id"), col("pos"))
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + SubstrK, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + SubstrK).as("e"))
    val repReport = spans.groupBy(col("doc_id").as("rep_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("e") - col("s")).as("dup_chars"))
    documents.select(col("doc_id"), col("n_chars"))
      .join(members, Seq("doc_id"))
      .join(repReport, Seq("rep_id"), "left_outer")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, pos, h) — every [[SubstrK]]-char window of every document
    * as a 60-bit gram hash. Text is consumed map-side in the same stage
    * as the explode; only 8-byte longs reach any exchange.
    *
    * The per-position hash is the native
    * [[graft.functions.WinnowFunctions.gramMd5Hashes]] (one MessageDigest
    * reused across the row, 60 bits read straight from the digest) —
    * VALUE-IDENTICAL to the `C.md5Long(substr(text, p, K))` form it
    * replaced (the doc_winnow precedent; the oracle keeps the md5 SQL),
    * which re-allocated a 50-char substring, a 32-char hex string, and a
    * conv parse per position — measured as the dedup_substring ×100
    * Spark cliff (508 s).
    */
  private[graft] def substrGrams(documents: DataFrame): DataFrame = documents
    .filter(length(col("text")) >= SubstrK)
    .select(col("doc_id"),
      posexplode(graft.functions.WinnowFunctions.gramMd5Hashes(col("text"), SubstrK)))
    .select(col("doc_id"), (col("pos") + lit(1)).cast("long").as("pos"),
      col("col").as("h"))

  /** The corpus-global duplicated-gram set (h) — count>1 over
    * [[substrGrams]]. The whole global state of exact-substring dedup; a
    * production deployment builds it offline over the historical corpus
    * and ships it to the streaming span reporter
    * ([[graft.streaming.StreamJobs.dedupSubstringStream]]).
    */
  def substrDupHashes(documents: DataFrame): DataFrame = {
    val (grp, _, reps) = canonicalTexts(documents)
    weightedDupHashes(substrGrams(reps), grp)
  }

  /** Corpus-global duplicated-gram set from rep-level grams: total
    * occurrences of h = Σ over rep occurrences of the rep's multiplicity —
    * the same integers the naive per-doc count produces. `grp` is
    * group-count-sized, so the join broadcasts. */
  private def weightedDupHashes(repGrams: DataFrame, grp: DataFrame): DataFrame =
    repGrams
      .join(grp.select(col("rep_id").as("doc_id"), col("gsz")), Seq("doc_id"))
      .groupBy(col("h")).agg(sum(col("gsz")).as("n"))
      .filter(col("n") > 1).select(col("h"))

  /** DuckDB twin of [[dedupSubstring]] — same gram hashing
    * ([[C.md5LongSql]]), same count>1 global test, same gaps-and-islands
    * merge, spelled as window CTEs.
    */
  val dedupSubstringSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, CAST(u.p AS BIGINT) AS pos,
       |         ${C.md5LongSql(s"substr(text, u.p, $SubstrK)")} AS h
       |  FROM documents, unnest(generate_series(1, length(text) - ${SubstrK - 1})) AS u(p)
       |  WHERE length(text) >= $SubstrK
       |), dup AS (
       |  SELECT h FROM g GROUP BY h HAVING count(*) > 1
       |), brk AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                        + $SubstrK THEN 1 ELSE 0 END AS brk
       |  FROM g JOIN dup USING (h)
       |), isl AS (
       |  SELECT doc_id, pos,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM brk
       |), spans AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos) + $SubstrK AS e
       |  FROM isl GROUP BY doc_id, island
       |), per_doc AS (
       |  SELECT doc_id, count(*) AS n_dup_spans, sum(e - s) AS dup_chars
       |  FROM spans GROUP BY doc_id
       |)
       |SELECT d.doc_id, d.n_chars,
       |       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |       CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
