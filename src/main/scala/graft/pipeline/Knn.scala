package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Cosine similarity is computed in expression space with every element cast
  * to DOUBLE and summed in ascending index order; the DuckDB oracles spell
  * the identical evaluation out explicitly ([[cosSql]] — dot divided by the
  * PRODUCT of the two sqrt'd self-dots). DuckDB's builtin
  * `list_cosine_similarity` is NOT that function: it divides by one sqrt of
  * the product of self-dots, which agrees on generic pairs but differs in
  * the last ulp exactly at cos → 1 (identical twins: d/d = 1.0 vs
  * d/(√d·√d) = 1.0000000000000002) — caught by the ×10 replica corpus,
  * where every vector has exact duplicates.
  *
  * Paths:
  *  - [[knnBruteForce]]: broadcast the (small) query set against every
  *    vector — the exact baseline.
  *  - [[knnIvf]]: IVF-style coarse quantization. Centroid assignment is a
  *    PURE MAP: the centroid set is collapsed into one array row,
  *    broadcast, and every bucket, probe list and cluster comes from one
  *    [[graft.functions.NearestCentroids]] call per vector ([[nearest]]) —
  *    zero shuffle, no window sort, constant code size at any k.
  *  - [[dedupEmbedding]]: EXACT all-pairs above threshold. Exactness is
  *    inherently O(N²) on this data — measured at sf0.1 the embedding
  *    corpus is isotropic (median per-vector max cosine ≈ 0.40 vs the 0.45
  *    threshold), so every sublinear candidate scheme provably drops pairs
  *    (IVF multi-probe misses 3-38 of 144 pairs at every tested setting).
  *    What CAN scale is the plan shape: instead of a `CartesianProduct`
  *    (one monolithic task pairing, driver-fed), the self-pairing is
  *    expressed as a P×P block-grid equi-join ("1-bucket" theta join):
  *    side A replicates each vector across its grid row, side B across its
  *    grid column, and an ordinary shuffled equi-join on the cell key
  *    distributes the N² work over P² evenly-sized cells with N/P rows of
  *    input per cell — bounded task memory, AQE-visible, no cartesian node.
  *  - [[dedupEmbeddingAnn]]: the 100 TB path — IVF multi-probe candidate
  *    buckets + exact verify, candidates O(N²·nprobe/nlist) on isotropic
  *    data but near-linear on real clustered corpora. The bucketing is
  *    deterministic and mirrored in the DuckDB oracle, so this query is
  *    hash-checked end-to-end (not just rows-only).
  */
object Knn {

  private[graft] val NumQueries = 8
  private[graft] val K = 10

  /** ADC shortlist size ([[knnQuantized]] / [[knnIvfAdc]]) — declared with
    * the other interpolated constants because Scala object vals initialize
    * in declaration order: an oracle-SQL val defined ABOVE this line would
    * silently interpolate 0 (cost one round-5 debugging session). */
  private val ShortK = 2 * K

  /** Norm-sanity bounds for [[embeddingStats]] — interpolated into both
    * the Scala defaults and the oracle SQL. */
  private val NormLo = 1e-6
  private val NormHi = 1e3

  /** Shared oracle fragments for the quantize family (embeddingQuantize /
    * knnQuantized / knnIvfAdc) — one definition of the per-dimension range
    * CTEs and the int8 codes expression, so the three SQL twins cannot
    * drift from each other (the constant-desync hazard from verdict r3/r4,
    * applied to CTE text). Both expect an `e` CTE (vec_id, emb) in scope;
    * declared up here with the other interpolated constants for the same
    * init-order reason as [[ShortK]] (a null interpolation is at least a
    * loud parser error, but still a broken oracle).
    */
  private val rangesCtesSql: String =
    """d AS (
      |  SELECT i AS pos, min(emb[i]) AS mn, max(emb[i]) AS mx
      |  FROM e, unnest(generate_series(1, len(emb))) AS u(i)
      |  GROUP BY i
      |), r AS (
      |  SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM d
      |)""".stripMargin

  private val codesExprSql: String =
    """list_transform(generate_series(1, len(emb)),
      |           i -> CASE WHEN mxs[i] = mns[i] THEN 0
      |                ELSE least(CAST(floor((emb[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT), 255)
      |                END)""".stripMargin

  /** Shared CTE prefix for every IVF-probing oracle (`knn_ivf`,
    * `knn_ivf_trained`, `knn_ivf_adc`): nearest-centroid assignment and
    * per-query probe lists against `centsCte`. One definition, so a probe
    * semantics edit cannot update some IVF oracles and not others.
    * Expects an `e` CTE (vec_id, emb) in scope. (A def, not a val — defs
    * are immune to the object-init-order hazard documented at [[ShortK]].)
    */
  private def ivfProbeCtesSql(centsCte: String): String =
    s"""scored AS (
       |  SELECT e.vec_id, c.lbl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosSql("e.emb", "c.c")} DESC, c.lbl) AS rn
       |  FROM e, $centsCte c
       |), assigned AS (
       |  SELECT vec_id, lbl AS bucket FROM scored WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, lbl AS bucket
       |  FROM scored WHERE rn <= $NProbe AND vec_id < $NumQueries
       |)""".stripMargin
  /** IVF defaults, interpolated into BOTH the Scala signatures' defaults
    * and the DuckDB oracle SQL — changing a default can't silently desync
    * the hash-checked oracle.
    */
  private val NList = 4
  private val NProbe = 2
  private val LloydIters = 2

  /** Corpus-adaptive bucket count for the embedding DEDUPS: ⌈√N⌉, floored
    * at `floor`. A FIXED bucket count is the 100 TB scale-killer for
    * all-pairs-by-bucket work: occupancy grows as N/nlist, so candidate
    * pairs grow as N²/nlist — quadratic at any fixed setting (caught live
    * by the ×100-replica sweep: nlist = 4 at 200 k vectors put ~2×10¹⁰
    * candidate pairs through the dedup's distinct). √N balances the two
    * costs — assignment is N·nlist dots, candidates ≈ nprobe²·N²/nlist
    * pairs, both ≈ N^1.5 at nlist = √N (the standard IVF sizing rule).
    * The count() is parquet-footer metadata (no data scan, no shuffle).
    * NOT applied to the kNN SEARCH family (knn_ivf/adc/pq): their probe
    * cost is per-query, so nlist there is an index-tuning parameter, not
    * a correctness-of-scale knob.
    *
    * Oracle determinism: the SQL twin recomputes the same integer via a
    * scalar subquery — IEEE-754 sqrt is correctly rounded in both engines
    * and N < 2^53 is exact in double, so CEIL(SQRT(N)) cannot disagree.
    */
  private def adaptiveNlist(embeddings: DataFrame, floor: Int): Int =
    math.max(floor.toLong,
      math.ceil(math.sqrt(embeddings.count().toDouble)).toLong).toInt

  /** Oracle-side twin of [[adaptiveNlist]] — expects an `e` CTE in scope. */
  private def adaptiveNlistSql(floor: Int): String =
    s"(SELECT GREATEST($floor, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM e)"
  /** Grid width for the exact all-pairs block join: P² cells, each pairing
    * N/P × N/P rows. Sized so a cell's smaller side fits executor memory;
    * at local[32]/sf0.1 any small value works, at cluster scale P grows
    * with √(N/rows-per-task).
    */
  private val PairBlocks = 8

  /** Product-quantization geometry ([[knnIvfPq]]): [[PqM]] subspaces of
    * [[PqSubDim]] dims each (PqM × PqSubDim = the 64-dim corpus), [[PqK]]
    * codes per subspace. Stored code size is PqM bytes/vector (one code
    * per subspace) vs 64 B for the scalar-int8 ADC ([[knnQuantized]]) and
    * 256 B for raw floats — the PQ scan reads 8× less than scalar ADC and
    * 32× less than exact. [[PqShortK]] is deeper than the scalar path's
    * [[ShortK]] because 8-byte codes rank more coarsely; the re-rank still
    * touches only PqShortK float vectors per query. [[AdcScale]] is the
    * fixed-point resolution that makes ADC sums order-invariant (each
    * per-subspace lookup rounds once to an integer; integer sums are exact
    * in any order — the [[labelCentroids]] determinism technique).
    */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 16
  private val PqShortK = 10 * K
  private val AdcScale = 1e6

  /** dot(a, b) with double accumulation in index order — the codegen'd
    * native expression ([[graft.functions.FloatVecDot]]); bit-identical to
    * the composable `aggregate(zip_with(...))` form it replaced, ~10×
    * faster (tight primitive loop vs interpreted lambdas).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecFunctions.vecDot(a, b)

  /** Oracle-SQL cosine over double lists, mirroring the Spark evaluation
    * shape exactly: dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))). See the
    * file header for why the builtin `list_cosine_similarity` is not a
    * valid mirror. (A def — immune to the init-order hazard at [[ShortK]].)
    */
  private def cosSql(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Vector-validity gate — the library contract for every geometry
    * operator: a usable embedding is non-NULL, has at least one element, no
    * NaN component, and strictly positive squared norm. One codegen'd
    * `dot(v,v)` drives the whole decision: it is NULL for a NULL input
    * (dropped by the filter), 0.0 for len-0 and all-zero vectors, and NaN
    * for a NaN-poisoned one. The NaN case needs the EXPLICIT `isnan`
    * conjunct: Spark SQL's `>` on doubles is the NaN-largest TOTAL order
    * (same as DuckDB's), so `NaN > 0` is TRUE at the SQL layer even though
    * it is false in raw Java. Without this gate ONE malformed row kills a
    * 100 TB job: ANSI division by the zero norm, `element_at` past a
    * 0-element array, or a NaN reaching a fixed-point BIGINT cast (all
    * three observed on the adversarial SF, 25 queries). Sizing rules
    * ([[adaptiveNlist]], [[adaptiveBandW]], `vec_id < NumQueries`) count
    * the GATED corpus, mirrored by the oracle counting its gated `e` CTE.
    */
  def validVecs(embeddings: DataFrame): DataFrame = {
    val sq = dot(col("embedding"), col("embedding"))
    // three conjuncts = finite positive norm: !isnan kills NaN components
    // (sq > 0 alone PASSES them — total order), < +Inf kills infinite
    // components and magnitude overflow (a norm the engine cannot
    // represent is a malformed vector), > 0 kills empty/all-zero
    embeddings.filter(
      !isnan(sq) && sq > lit(0.0) && sq < lit(Double.PositiveInfinity))
  }

  /** DuckDB mirror of [[validVecs]], as a WHERE predicate over the raw
    * `embeddings` table. DuckDB needs the explicit `isnan` clause because
    * it orders NaN ABOVE every number in comparisons (`'nan'::DOUBLE > 0`
    * is TRUE there, false in Spark/Java) — the remaining clauses then
    * mirror dot(v,v) > 0 exactly on NaN-free input. The dot runs on a
    * fresh `list_transform`-to-DOUBLE copy, NOT the raw parquet column:
    * `list_dot_product` validates the CHILD NULL-mask at the vector-batch
    * level, so one top-level NULL list in the batch hard-errors the call
    * even for rows the WHERE already excluded (observed on the adversarial
    * parquet); the transform re-materializes a mask-free list — and its
    * DOUBLE accumulation is the exact twin of FloatVecDot's.
    */
  val validVecsWhereSql: String =
    "embedding IS NOT NULL AND len(embedding) > 0" +
      " AND len(list_filter(embedding, x -> isnan(x))) = 0" +
      " AND list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE))," +
      " list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0" +
      " AND isfinite(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE))," +
      " list_transform(embedding, x -> CAST(x AS DOUBLE))))"

  /** (vec_id, embedding, nrm): norm computed once per vector, so pairwise
    * cosine needs one dot per pair instead of three. `sqrt(dot(v,v))` here
    * is the same expression the pairwise form evaluates, so cached-norm
    * cosine is bit-identical to [[cosine]] (and to the DuckDB oracle).
    */
  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))

  /** Exact top-k cosine neighbors for queries vec_id < [[NumQueries]].
    * Output: (query_id, rank, neighbor_id, cos_sim). The rank<=K filter
    * over row_number is rewritten by Catalyst's WindowGroupLimit into a
    * per-partition partial top-k before the shuffle, so only K rows per
    * query per input partition move.
    */
  def knnBruteForce(embeddingsRaw: DataFrame): DataFrame = {
    val e = withNorm(validVecs(embeddingsRaw))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"), col("nrm").as("q_nrm"))
    val joined = e
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos_sim"))
    joined
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact brute-force CTE chain (`{p}q` / `{p}scored` / `{p}ranked`),
    * prefix-parametrized so [[knnRecallSql]] can hold the exact and IVF
    * chains in one statement without CTE-name collisions — one definition,
    * the recall oracle's exact side cannot drift from [[knnBruteForceSql]].
    * Expects an `e` CTE (vec_id, emb) in scope.
    */
  private def bruteRankedCtesSql(p: String): String =
    s"""${p}q AS (
       |  SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < $NumQueries
       |), ${p}scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("q.qe", "e.emb")} AS cos_sim
       |  FROM ${p}q q JOIN e ON e.vec_id <> q.query_id
       |), ${p}ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM ${p}scored
       |)""".stripMargin

  val knnBruteForceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), ${bruteRankedCtesSql("")}
       |SELECT query_id, rank, neighbor_id, cos_sim
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** (lbl, cvec, cnrm) centroid rows: the first `nl` vectors of `e` by id
    * — the deterministic seed rule every IVF path, embedding dedup and
    * DuckDB twin share (a k-means iteration slots in the same place). */
  private def seedCents(e: DataFrame, nl: Int): DataFrame =
    e.filter(col("vec_id") < nl)
      .select(col("vec_id").as("lbl"), col("embedding").as("cvec"), col("nrm").as("cnrm"))

  /** Per-label centroid rows → one row holding them as the `cents` array
    * [[nearest]] reads — broadcast-joined, so assignment and probing are a
    * per-row expression instead of a shuffle. Entry order is free: the
    * kernel orders by (sim, lbl) itself. */
  private def toCentroidArray(rows: DataFrame): DataFrame =
    rows.agg(collect_list(struct(col("lbl"), col("cvec"), col("cnrm"))).as("cents"))

  /** The `n` centroids of the `cents` column nearest to the row's
    * (embedding, nrm), best first, as (lbl, sim) structs — the one
    * nearest-centroid kernel ([[graft.functions.NearestCentroids]]): sim
    * DESC, ties to the lowest label, the oracle's `ORDER BY sim DESC, lbl`.
    * One static call at any k, so it is map-only and runs unchanged on a
    * stream. */
  private def nearest(n: Int): Column =
    graft.functions.VecFunctions.nearestCentroids(col("embedding"), col("nrm"), col("cents"), n)

  /** Labels of the `nprobe` nearest centroids, best first. */
  private def probeLabels(nprobe: Int): Column = nearest(nprobe).getField("lbl")

  /** The nearest centroid's label (NULL when `cents` is empty). */
  private def nearestLabel: Column = try_element_at(probeLabels(1), lit(1))

  /** Lloyd (k-means) refinement of the IVF centroids: `iters` rounds of
    * map-only nearest-centroid assignment followed by a per-(bucket,
    * dimension) mean — the distributed shape is posexplode → hash-agg on
    * (bucket, pos), shuffling nlist × dim aggregate rows per round, never
    * vectors. Labels whose bucket goes empty keep their previous centroid.
    * Everything is deterministic (seed centroids + fixed iteration count),
    * so trained-IVF results are reproducible run to run.
    * Returns per-label rows (lbl, cvec, cnrm).
    *
    * CANONICAL TRAINING ([[canonicalVectors]]): assignment and means run
    * over one representative per DISTINCT vector, with each round's means
    * weighted by the group multiplicity gsz — Σ(x·gsz)/Σgsz over reps is
    * the full-corpus mean over the same values (identical vectors share
    * their nearest centroid, so a gsz-group contributes x·gsz to exactly
    * the bucket its members would each contribute x to), and the CAST of
    * the mean to float absorbs summation-order ULP noise exactly as the
    * cross-engine hash already assumes ([[knnIvfTrainedSql]]'s
    * float-rounding note). This is the engine-side form of the `dv` CTE
    * every Lloyd-chain oracle trains on ([[dvCteSql]]) — and the reason a
    * duplicate-dense corpus (the ×100 replica) pays reps × k assignment
    * pairs per round instead of N × k. Seeds and nlist stay full-corpus
    * (`vec_id < nlist` — members are value-identical to their reps, so
    * the seed VECTORS are unchanged).
    */
  def trainCentroids(embeddingsRaw: DataFrame, nlist: Int = NList, iters: Int = LloydIters): DataFrame =
    trainCentroidsAt(embeddingsRaw, nlist, iters, LloydDriverMaxK)

  /** [[trainCentroids]] with the driver-tail cutover exposed — the A/B
    * seam PipelineSpec forces to 0 to exercise the distributed loop. */
  private[graft] def trainCentroidsAt(embeddingsRaw: DataFrame, nlist: Int,
      iters: Int, driverMaxK: Int): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val e = withNorm(embeddings)
    // training needs reps + multiplicities only (no member map) — one
    // hash-agg with map-side combine beats the canonicalVectors window
    // here: the window shuffles and re-materializes the FULL vector
    // corpus, which at the ×100 replica cost more than small-k training
    // saved (topic_clusters 20 → 37 s before this form). Every member's
    // nrm is the same expression over the identical vector, so min() is
    // just a deterministic pick. Materialized once: every round's
    // assignment re-reads the rep-sized relation.
    val repsW = e.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"), min(col("nrm")).as("nrm"),
        count(lit(1)).as("gsz"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("gsz"))
      .localCheckpoint(eager = true)
    trainCentroidsOn(e, repsW, nlist, iters, driverMaxK)
  }

  /** nlist bound under which the Lloyd tail (mean assembly, empty-bucket
    * fallback, next-round centroid relation) runs on the driver: the
    * per-round collect is ≤ nlist × dim (lbl, pos, m) rows — bounded by
    * the PARAMETER, known before any job, so unlike the measured
    * [[graft.C.collectBelow]] cutovers no sizing pass is needed. 4096 × 64 dims ≈ 6 MB. Corpus-adaptive
    * callers (⌈√N⌉) exceed it at scale and take the distributed loop.
    */
  private[graft] val LloydDriverMaxK = 1 << 12

  /** One Lloyd round's (lbl, pos, m) aggregate: each weighted rep of
    * `repsW` (vec_id, embedding, nrm, gsz) is assigned to its nearest
    * centroid of `cents` (lbl, cvec, cnrm), then m = Σ(x·gsz)/Σgsz per
    * (label, dimension). The assignment has its own select: an item
    * beside the generator would be projected above the Generate and run
    * the kernel once per dimension instead of once per vector. */
  private[graft] def lloydRoundMeans(repsW: DataFrame, cents: DataFrame): DataFrame =
    repsW.crossJoin(broadcast(toCentroidArray(cents)))
      .select(nearestLabel.as("lbl"), col("gsz"), col("embedding"))
      .select(col("lbl"), col("gsz"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("lbl"), col("pos"))
      .agg((sum(col("x").cast("double") * col("gsz"))
        / sum(col("gsz")).cast("double")).as("m"))

  /** The Lloyd rounds over an ALREADY materialized weighted-rep relation
    * (vec_id, embedding, nrm, gsz) — shared by [[trainCentroids]] (which
    * builds repsW with its own hash-agg) and [[dedupSemantic]] (which
    * derives it from the [[canonicalVectors]] checkpoint it needs anyway,
    * saving a second full-corpus exchange on the vector column). Seeds
    * come from the full-corpus frame `e`: members are value-identical to
    * their reps, so the seed VECTORS are unchanged either way.
    *
    * For nlist ≤ `driverMaxK` the per-round TAIL runs on the driver off
    * the collected (lbl, pos, m) aggregate: the corpus-sized work —
    * kernel assignment and the per-(label, dimension) weighted mean —
    * stays distributed and arithmetically UNCHANGED (the collected m is
    * the same Σ(x·gsz)/Σgsz double the distributed branch feeds its float
    * cast), and the driver replays the identical remainder: float-cast in
    * ascending pos order (sort_array on distinct pos keys = sort by pos;
    * `Double.toFloat` = Spark's double→float cast), cnrm = sqrt of the
    * same [[graft.functions.FloatVecDot.dot]] loop, empty buckets keep their previous
    * centroid (the left-outer coalesce). This drops per round: the k-row
    * collect_list exchange, the centroid left-outer join, and the
    * lineage-cut checkpoint job — the §5 scheduling overhead that
    * dominates every Lloyd consumer at bench scale (task time ≪ wall).
    * PipelineSpec A/Bs the two branches by forcing `driverMaxK = 0`.
    */
  private[pipeline] def trainCentroidsOn(e: DataFrame, repsW: DataFrame,
      nlist: Int, iters: Int = LloydIters,
      driverMaxK: Int = LloydDriverMaxK): DataFrame = {
    val seed = seedCents(e, nlist)
    if (nlist <= driverMaxK) {
      val spark = e.sparkSession
      import spark.implicits._
      var rows: Array[(Long, Array[Float], Double)] = seed.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      (1 to iters).foreach { _ =>
        val byLbl = lloydRoundMeans(repsW, rows.toSeq.toDF("lbl", "cvec", "cnrm"))
          .collect().groupBy(_.getLong(0))
        rows = rows.map { case (lbl, cv, cn) =>
          byLbl.get(lbl) match {
            case Some(rs) =>
              val nv = rs.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
              val av = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(nv)
              (lbl, nv, math.sqrt(graft.functions.FloatVecDot.dot(av, av)))
            case None => (lbl, cv, cn)
          }
        }
      }
      rows.toSeq.toDF("lbl", "cvec", "cnrm")
    } else {
      var rows = seed
      (1 to iters).foreach { _ =>
        val means = lloydRoundMeans(repsW, rows)
          .groupBy(col("lbl"))
          .agg(transform(
            sort_array(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m").cast("float")).as("cvec"))
          .withColumn("cnrm", sqrt(dot(col("cvec"), col("cvec"))))
        rows = rows.as("o")
          .join(means.as("n"), col("o.lbl") === col("n.lbl"), "left_outer")
          .select(col("o.lbl").as("lbl"),
            coalesce(col("n.cvec"), col("o.cvec")).as("cvec"),
            coalesce(col("n.cnrm"), col("o.cnrm")).as("cnrm"))
          // materialize each round: the lineage would otherwise nest
          // iters crossJoin+agg plans into one exponential tree
          .localCheckpoint(eager = true)
      }
      rows
    }
  }

  /** Embedding-table QA gate — the sanity pass an indexing pipeline runs
    * before building ANN structures: per-vector dimensionality and L2
    * norm, plus keep/drop verdicts for degenerate rows (zero or exploded
    * norms break cosine math downstream; dimension drift breaks every
    * dot product). Pure per-row expressions (the norm reuses the
    * hash-green [[dot]] accumulation), map-only at any scale.
    */
  def embeddingStats(embeddings: DataFrame,
      normLo: Double = NormLo, normHi: Double = NormHi): DataFrame =
    withNorm(embeddings)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        col("nrm"),
        (col("nrm") >= normLo && col("nrm") <= normHi).cast("long").as("keep"))
      .orderBy(col("vec_id"))

  val embeddingStatsSql: String =
    s"""SELECT vec_id,
       |       CAST(len(embedding) AS BIGINT) AS dim,
       |       sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |                             list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm,
       |       CAST(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |                                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
       |            BETWEEN $NormLo AND $NormHi AS BIGINT) AS keep
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Map-only bucket assignment — the ingestion half of the IVF index:
    * each vector takes its nearest-centroid label via the broadcast
    * centroid array; no shuffle, no state, so it runs unchanged on a
    * stream (`StreamJobs.ivfAssignStream` — new embeddings bucket as they
    * arrive, which is how an IVF index absorbs a live corpus).
    * `centroids`: per-label (lbl, cvec, cnrm) rows, e.g. from
    * [[trainCentroids]]; the kernel reads their number at run time, so
    * no probe width can go stale against the centroid set.
    */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    assignClusters(embeddings, centroids).select(col("vec_id"), col("cluster").as("bucket"))

  /** Every column of `e` plus its nearest-centroid `bucket` against the
    * 1-row `cents` frame — the assigned side of every IVF search. */
  private def bucketed(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents)).select(e.columns.map(col) :+ nearestLabel.as("bucket"): _*)

  /** (query_id, q, q_nrm, `carry`…, bucket): one row per query vector and
    * each of its `nprobe` nearest buckets — the probe side of every IVF
    * search. `cents` is the 1-row frame holding the `cents` array (and
    * any carried column). */
  private def probeRows(queries: DataFrame, cents: DataFrame, nprobe: Int,
      carry: Column*): DataFrame =
    queries.crossJoin(broadcast(cents)).select(Seq(col("vec_id").as("query_id"),
      col("embedding").as("q"), col("nrm").as("q_nrm")) ++ carry :+
      explode(probeLabels(nprobe)).as("bucket"): _*)

  /** (query_id, neighbor_id, cos_sim) for every other vector in a probed
    * bucket — the IVF candidate set, before ranking or a threshold. */
  private def probeCandidates(probes: DataFrame, assigned: DataFrame): DataFrame =
    probes.join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos_sim"))

  /** IVF-bucketed approximate top-k: vectors are bucketed by nearest
    * centroid (map-only, see [[nearest]]); each query probes its
    * `nprobe` closest buckets, pruning the scan to ~nprobe/nlist of the
    * corpus. Recall vs. brute force is property-tested (approximate ⇒ no
    * SQL oracle, rows-only check). Pass `centroids` (per-label rows, e.g.
    * from [[trainCentroids]]) to search a trained index; default is the
    * deterministic seed set.
    */
  def knnIvf(embeddingsRaw: DataFrame, nlist: Int = NList, nprobe: Int = NProbe,
      centroids: Option[DataFrame] = None): DataFrame = {
    val e = withNorm(validVecs(embeddingsRaw))
    val cents = toCentroidArray(centroids.getOrElse(seedCents(e, nlist)))
    probeCandidates(
        broadcast(probeRows(e.filter(col("vec_id") < NumQueries), cents, nprobe)),
        bucketed(e, cents))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Cosine threshold for [[ballQuery]] — inside the planted near-dup
    * band at replica scale, and catching the top ~1% tail of the isotropic bulk at base SF — nonempty at every test scale. */
  private[graft] val BallTau = 0.3

  /** Radius (range) search: ALL corpus vectors within cosine ≥ [[BallTau]]
    * of each query — the range-query complement to [[knnIvf]]'s top-k
    * ("everything this similar", the primitive behind dedup sweeps and
    * contamination radius checks, where k is unknowable in advance).
    * Same IVF probe pruning as [[knnIvf]] (identical candidate set —
    * scan cost ~nprobe/nlist of the corpus); the only change is the
    * threshold filter replacing the rank window, so output size follows
    * the data, not a constant. Deterministic ⇒ hash-checked against the
    * probe-mirrored oracle. Output: (query_id, neighbor_id, cos_sim).
    */
  def ballQuery(embeddingsRaw: DataFrame, tau: Double = BallTau,
      nlist: Int = NList, nprobe: Int = NProbe): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val (cents, assigned) = ballServingIndex(embeddings, nlist)
    ballQueryAgainst(
      embeddings.filter(col("vec_id") < NumQueries), cents, assigned, tau, nprobe)
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** The static serving halves of [[ballQuery]]: the centroid array row and
    * the bucket-assigned corpus — built once offline, probed by every
    * query (the batch form above and the live form
    * [[graft.streaming.StreamJobs.ballQueryStream]] share them, so
    * results are equal by construction).
    */
  def ballServingIndex(embeddings: DataFrame,
      nlist: Int = NList): (DataFrame, DataFrame) = {
    val e = withNorm(embeddings)
    val cents = toCentroidArray(seedCents(e, nlist))
    (cents, bucketed(e, cents))
  }

  /** Radius search of arbitrary query vectors against a prebuilt
    * [[ballServingIndex]] — stateless per query (probe selection is one
    * kernel call against the broadcast centroid row; candidates come from
    * the bucket equi-join), so it runs unchanged on a stream.
    */
  def ballQueryAgainst(queries: DataFrame, cents: DataFrame, assigned: DataFrame,
      tau: Double = BallTau, nprobe: Int = NProbe): DataFrame =
    probeCandidates(
        probeRows(withNorm(queries.select(col("vec_id"), col("embedding"))), cents, nprobe),
        assigned)
      .filter(col("cos_sim") >= tau)

  /** Recall@[[K]] of the IVF index against the exact brute-force baseline —
    * the evaluation harness every production ANN deployment runs before
    * trusting an index (FAISS's `eval` protocol: ground-truth top-k from
    * exhaustive search, hit-rate of the approximate shortlist against it).
    * Output: (query_id, n_hits, recall), one row per query.
    *
    * Both sides are deterministic (seed centroids, tie-broken ranks), so —
    * unlike a sampled recall estimate — the result is exactly reproducible
    * and hash-checked against the composed SQL oracle. `recall` is a double
    * division of exact integers (hits / K).
    *
    * Shape at 100 TB: reuses the two existing pruned plans unchanged; the
    * comparison itself joins two (queries × K)-row relations on
    * (query_id, neighbor_id) — broadcast-sized however large the corpus,
    * then one count-sized aggregation. The eval adds no corpus-scaled work
    * beyond the searches it grades.
    */
  private def recallAgainstExact(embeddings: DataFrame, approx: DataFrame): DataFrame = {
    val exact = knnBruteForce(embeddings).select(col("query_id"), col("neighbor_id"))
    val hits = approx
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(hits, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / K).as("recall"))
      .orderBy(col("query_id"))
  }

  def knnRecall(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    recallAgainstExact(embeddings, knnIvf(embeddings))
  }

  /** Recall@[[K]] of the IVFPQ index ([[knnIvfPq]]) against the exact
    * baseline — same eval harness as [[knnRecall]], grading the
    * 8-byte-code production path instead of the float IVF scan. Together
    * the two rows quantify what the PQ compression costs in recall — the
    * accuracy/bytes trade every ANN deployment signs off on.
    */
  def knnRecallPq(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    recallAgainstExact(embeddings, knnIvfPq(embeddings))
  }

  /** IVFADC — the full production ANN composition (Jégou et al. 2011):
    * IVF bucket pruning ([[knnIvf]]'s map-only centroid probing) + the
    * int8 ADC scan ([[knnQuantized]]'s centered-code integer dot) + exact
    * float re-rank of the shortlist. At 100 TB this is the shape that
    * matters: the scan touches ~nprobe/nlist of the corpus AND reads 1
    * byte/dim doing it; full-precision vectors are fetched only for
    * [[ShortK]] rows per query. Deterministic end to end (seed centroids,
    * integer ADC scores, hash-green cosine re-rank), so hash-checked —
    * each neighbor lives in exactly one bucket, making the candidate set
    * (and therefore every rank) reproducible in SQL.
    */
  def knnIvfAdc(embeddingsRaw: DataFrame, nlist: Int = NList, nprobe: Int = NProbe): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val coded = withNorm(embeddings)
      .crossJoin(broadcast(quantizeRanges(embeddings)))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        transform(codesCol, c => (c - lit(128L)).cast("float")).as("fcodes"))
    val cents = toCentroidArray(seedCents(withNorm(embeddings), nlist))
    val probes = probeRows(coded.filter(col("vec_id") < NumQueries), cents, nprobe,
      col("fcodes").as("qc"))
    broadcast(probes)
      .join(bucketed(coded, cents), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"),
        dot(col("qc"), col("fcodes")).cast("long").as("qdot"))
      .withColumn("qrank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qdot").desc, col("neighbor_id"))))
      .filter(col("qrank") <= ShortK)
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        (dot(col("q"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qdot"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val knnIvfAdcSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), cents AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < $NList
       |), $rangesCtesSql, cq AS (
       |  SELECT vec_id,
       |         $codesExprSql AS codes
       |  FROM e, r
       |), ${ivfProbeCtesSql("cents")}, adc AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         CAST(list_dot_product(list_transform(q.codes, x -> CAST(x - 128 AS DOUBLE)),
       |                               list_transform(n.codes, x -> CAST(x - 128 AS DOUBLE))) AS BIGINT) AS qdot,
       |         ${cosSql("qe.emb", "ne.emb")} AS cos_sim
       |  FROM probes p
       |  JOIN assigned a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
       |  JOIN cq q ON q.vec_id = p.query_id
       |  JOIN cq n ON n.vec_id = a.vec_id
       |  JOIN e qe ON qe.vec_id = p.query_id
       |  JOIN e ne ON ne.vec_id = a.vec_id
       |), short AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY qdot DESC, neighbor_id) AS qrank
       |  FROM adc
       |), rr AS (
       |  SELECT query_id, neighbor_id, qdot, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM short WHERE qrank <= $ShortK
       |)
       |SELECT query_id, rank, neighbor_id, qdot, cos_sim
       |FROM rr WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Exact-duplicate canonicalization — [[graft.pipeline.Dedup.canonicalTexts]]
    * applied to vectors, the shared front door of the four embedding dedups
    * ([[dedupEmbedding]]/[[dedupEmbeddingAnn]]/[[dedupEmbeddingLsh]]/
    * [[dedupSemantic]]): value-identical embeddings share every downstream
    * derivation (grid cell, IVF probe list, LSH block, Lloyd cluster, and
    * every pairwise cosine), so the candidate/verify stages run on ONE
    * representative per distinct vector and member pairs are reconstructed
    * afterwards with output-sized joins. On a corpus where each vector has
    * ~100 exact copies (the ×100 replica; real embedding corpora look like
    * this wherever the text was exact-duplicated before embedding) the
    * within-cell pair stage otherwise does replication² identical cosines —
    * measured live as the 4225 s ×100 cliff (BASELINE.md round-12 watchlist).
    *
    * Grouping key is the embedding column itself (Spark normalizes float
    * group keys: −0.0 ≡ 0.0, NaN ≡ NaN — both value-preserving here, since
    * −0.0 is absorbed by the products/sums of [[dot]] and a NaN element
    * poisons every cosine identically). rep_id = min member id, so expanded
    * component/pair ids are reconstructible from rep ids alone.
    *
    * Input: a [[withNorm]] frame. Returns (reps: one (vec_id, embedding,
    * nrm) row per distinct vector, members: (rep_id, vec_id) — both off one
    * eager checkpoint, so the window shuffle runs once).
    */
  private[pipeline] def canonicalVectors(e: DataFrame): (DataFrame, DataFrame) = {
    val canon = e.withColumn("rep_id",
        min(col("vec_id")).over(Window.partitionBy(col("embedding"))))
      .localCheckpoint(eager = true)
    val reps = canon.filter(col("vec_id") === col("rep_id")).drop("rep_id")
    val members = canon.select(col("rep_id"), col("vec_id"))
    (reps, members)
  }

  /** Member-pair reconstruction shared by the embedding dedups:
    * representative-level verified pairs → all document pairs.
    * Cross-group pairs expand through two output-sized joins on the member
    * map and inherit the rep pair's cosine (members are value-identical to
    * their rep, so the pairwise cosine IS the rep pairwise cosine, bit for
    * bit). Within-group pairs (gsz ≥ 2 cliques) carry the rep's
    * self-cosine dot(v,v)/(nrm·nrm) — the exact expression the naive
    * pairwise form evaluates on two identical vectors — and pass the same
    * ≥ threshold filter (≈ 1.0 in practice; norms are bounded away from 0
    * by the [[embeddingStats]] QA gate, and a degenerate NaN would fail or
    * pass both forms identically). Output: (id_a, id_b, cos_sim) sorted.
    */
  private def expandPairs(repPairs: DataFrame, members: DataFrame,
      reps: DataFrame, threshold: Double): DataFrame = {
    val cross = repPairs.as("p")
      .join(members.as("ma"), col("p.id_a") === col("ma.rep_id"))
      .join(members.as("mb"), col("p.id_b") === col("mb.rep_id"))
      .select(least(col("ma.vec_id"), col("mb.vec_id")).as("id_a"),
        greatest(col("ma.vec_id"), col("mb.vec_id")).as("id_b"),
        col("p.cos_sim"))
    val selfcos = reps.select(col("vec_id").as("sc_rep"),
      (dot(col("embedding"), col("embedding")) / (col("nrm") * col("nrm")))
        .as("cos_sim"))
    val within = members.as("ma")
      .join(members.as("mb"),
        col("ma.rep_id") === col("mb.rep_id") && col("ma.vec_id") < col("mb.vec_id"))
      .join(selfcos, col("ma.rep_id") === col("sc_rep"))
      .filter(col("cos_sim") >= threshold)
      .select(col("ma.vec_id").as("id_a"), col("mb.vec_id").as("id_b"),
        col("cos_sim"))
    cross.union(within).orderBy(col("id_a"), col("id_b"))
  }

  /** Shared oracle CTEs mirroring [[canonicalVectors]]: distinct-vector
    * groups, the member map, and the representative relation. Expects an
    * `e` (vec_id, emb) CTE in scope. DuckDB groups by the list value
    * directly — same value-equality the Spark window key uses.
    */
  private val canonicalCtesSql: String =
    """grp AS (
      |  SELECT emb, min(vec_id) AS rep_id, count(*) AS gsz FROM e GROUP BY emb
      |), members AS (
      |  SELECT g.rep_id, e.vec_id FROM e JOIN grp g ON e.emb = g.emb
      |), reps AS (
      |  SELECT g.rep_id AS vec_id, e.emb FROM grp g JOIN e ON e.vec_id = g.rep_id
      |)""".stripMargin

  /** Shared oracle tail mirroring [[expandPairs]]: expects [[canonicalCtesSql]]
    * plus `rp` (id_a, id_b, cos_sim — rep-level thresholded pairs) in scope.
    */
  private def expandTailSql(threshold: Double): String =
    s"""xp AS (
       |  SELECT least(ma.vec_id, mb.vec_id) AS id_a,
       |         greatest(ma.vec_id, mb.vec_id) AS id_b, rp.cos_sim
       |  FROM rp
       |  JOIN members ma ON ma.rep_id = rp.id_a
       |  JOIN members mb ON mb.rep_id = rp.id_b
       |), wp AS (
       |  SELECT ma.vec_id AS id_a, mb.vec_id AS id_b, s.cos_sim
       |  FROM (SELECT g.rep_id, ${cosSql("e.emb", "e.emb")} AS cos_sim
       |        FROM grp g JOIN e ON e.vec_id = g.rep_id WHERE g.gsz >= 2) s
       |  JOIN members ma ON ma.rep_id = s.rep_id
       |  JOIN members mb ON mb.rep_id = s.rep_id AND ma.vec_id < mb.vec_id
       |  WHERE s.cos_sim >= $threshold
       |)
       |SELECT * FROM xp UNION ALL SELECT * FROM wp ORDER BY id_a, id_b""".stripMargin

  /** Embedding near-duplicate pairs, EXACT: all pairs with cosine ≥
    * threshold via the P×P block-grid equi-join (see object doc) — run on
    * one representative per distinct vector ([[canonicalVectors]]) with
    * member pairs reconstructed by output-sized joins ([[expandPairs]]).
    * Side A carries each rep on its grid row (r = vec_id mod P, all c),
    * side B on its grid column; every unordered pair meets in exactly one
    * cell (the vec_id < vec_id condition kills the transposed duplicate).
    */
  def dedupEmbedding(embeddingsRaw: DataFrame, threshold: Double = 0.45): DataFrame = {
    val (reps, members) = canonicalVectors(withNorm(validVecs(embeddingsRaw)))
    val e = reps
    val p = lit(PairBlocks)
    val cellsRow = transform(sequence(lit(0), p - 1),
      q => struct(pmod(col("vec_id"), p).cast("int").as("r"), q.cast("int").as("c")))
    val cellsCol = transform(sequence(lit(0), p - 1),
      q => struct(q.cast("int").as("r"), pmod(col("vec_id"), p).cast("int").as("c")))
    val a = e.select(explode(cellsRow).as("cell"),
      col("vec_id"), col("embedding"), col("nrm"))
    val b = e.select(explode(cellsCol).as("cell"),
      col("vec_id"), col("embedding"), col("nrm"))
    val repPairs = a.as("a").join(b.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    expandPairs(repPairs, members, reps, threshold)
  }

  val dedupEmbeddingSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), $canonicalCtesSql, rp AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${cosSql("a.emb", "b.emb")} AS cos_sim
       |  FROM reps a JOIN reps b ON a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.emb", "b.emb")} >= 0.45
       |), ${expandTailSql(0.45)}""".stripMargin

  /** Each vector's `nprobe` nearest centroids as (vec_id, bucket) rows —
    * the multi-probe bucket relation every embedding dedup builds on. One
    * [[nearest]] call per vector against the broadcast centroid array,
    * exploded: map-only at the corpus-sized nl, so no exchange before the
    * bucket join. Bucketing is a pure function of (vector, cents) — which
    * is what makes the incremental probe ([[knnIncremental]]) exactly the
    * cross-split restriction of the full pair relation under the same
    * cents (property-tested in PipelineSpec).
    */
  private[graft] def multiProbe(e: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    e.crossJoin(broadcast(toCentroidArray(cents)))
      .select(col("vec_id"), explode(probeLabels(nprobe)).as("bucket"))

  /** Embedding near-dup pairs, ANN candidates + exact verify — the scale
    * path: every vector lands in its `nprobe` nearest of `nlist` IVF
    * buckets (map-only multi-probe), candidate pairs share a bucket, and
    * only candidates are verified against the exact cosine threshold.
    * Candidates are paired skinny (ids only, distinct) before re-joining
    * the vectors, so the shuffle moves (id, id) longs, never embeddings.
    * Deterministic bucketing ⇒ mirrored 1:1 in the DuckDB oracle.
    *
    * nlist ≤ 0 (the default) sizes the index to the corpus:
    * [[adaptiveNlist]] = ⌈√N⌉ — a fixed nlist would make bucket occupancy
    * (and so candidate pairs) quadratic in N; see [[adaptiveNlist]] for
    * the ×100-sweep incident and the determinism argument.
    */
  def dedupEmbeddingAnn(embeddingsRaw: DataFrame, threshold: Double = 0.45,
      nlist: Int = 0, nprobe: Int = NProbe): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val nl = if (nlist > 0) nlist else adaptiveNlist(embeddings, NList)
    val e = withNorm(embeddings)
    // centroid seeds and nlist come from the FULL corpus (the oracle's
    // `vec_id < nlist` rule); the probe/candidate/verify stages run on
    // canonical reps — identical vectors have identical probe lists, so
    // two docs share a bucket iff their reps do, and same-group docs
    // always do (every probe list is non-empty) → the expansion below is
    // exactly the naive candidate set, verified.
    val cents = seedCents(e, nl)
    val (reps, members) = canonicalVectors(e)
    val repPairs =
      verifiedBucketPairs(reps, multiProbe(reps, cents, nprobe), threshold)
    expandPairs(repPairs, members, reps, threshold)
  }

  /** Shared dedup tail: bucket-sharing candidate pairs (id_a < id_b,
    * distinct, ids-only before the vectors re-join) verified against the
    * exact cosine threshold. Unsorted — callers order (or expand) the
    * relation. */
  private def verifiedBucketPairs(e: DataFrame, multi: DataFrame,
      threshold: Double): DataFrame = {
    val cand = multi.as("a")
      .join(multi.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.as("ea"), col("id_a") === col("ea.vec_id"))
      .join(e.as("eb"), col("id_b") === col("eb.vec_id"))
      .select(col("id_a"), col("id_b"),
        (dot(col("ea.embedding"), col("eb.embedding")) / (col("ea.nrm") * col("eb.nrm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Int8 linear quantization of the embedding corpus — the storage-
    * compression path for a 100 TB embedding table (4 B float → 1 B code
    * per dimension). Per-dimension (min, max) ranges come from one
    * posexplode + hash-agg (`dim` aggregate rows regardless of corpus
    * size) collapsed into a single broadcast row; encoding is then a pure
    * map: `code_i = floor((x_i − min_i)·255 / (max_i − min_i))`, clamped
    * to 255 at the x = max edge, 0 for constant dimensions.
    *
    * Output is a per-vector summary (dim, integer code checksum, code
    * min/max): the checksum proves bit-identical encoding against the
    * DuckDB oracle without an array compare — the fixed-order IEEE double
    * expression evaluates to the same bits in both engines (the same
    * determinism argument the cosine oracle rests on). Reconstruction
    * error ≤ half a quantization step is property-tested in PipelineSpec.
    */
  def embeddingQuantize(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    quantizeCodes(embeddings.crossJoin(broadcast(quantizeRanges(embeddings))))
      .select(col("vec_id"),
        size(col("codes")).cast("long").as("dim"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
      .orderBy(col("vec_id"))
  }

  /** int8 code array 0..255 for an `embedding` column against broadcast
    * `mns`/`mxs` range columns — the shared quantizer expression. */
  private def codesCol: Column =
    transform(sequence(lit(1), size(col("embedding"))), i => {
      val x = element_at(col("embedding"), i).cast("double")
      val mn = element_at(col("mns"), i)
      val mx = element_at(col("mxs"), i)
      when(mx === mn, lit(0L))
        .otherwise(least(floor((x - mn) * lit(255.0) / (mx - mn)).cast("long"), lit(255L)))
    })

  /** (vec_id, codes) with codes as the int8 values 0..255 — exposed for
    * the reconstruction-error property test. Expects `mns`/`mxs` columns.
    */
  private[graft] def quantizeCodes(withRanges: DataFrame): DataFrame =
    withRanges.select(col("vec_id"), codesCol.as("codes"))

  /** Range frame for [[quantizeCodes]] — one broadcastable row of
    * per-dimension mins/maxs. Exposed for the property test. */
  private[graft] def quantizeRanges(embeddings: DataFrame): DataFrame = {
    val dims = embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
    dims
      .agg(sort_array(collect_list(struct(col("pos"), col("mn")))).as("mns0"),
        sort_array(collect_list(struct(col("pos"), col("mx")))).as("mxs0"))
      .select(transform(col("mns0"), s => s.getField("mn")).as("mns"),
        transform(col("mxs0"), s => s.getField("mx")).as("mxs"))
  }

  val embeddingQuantizeSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), $rangesCtesSql, c AS (
       |  SELECT vec_id,
       |         $codesExprSql AS codes
       |  FROM e, r
       |)
       |SELECT vec_id, CAST(len(codes) AS BIGINT) AS dim,
       |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       |       CAST(list_min(codes) AS BIGINT) AS code_min,
       |       CAST(list_max(codes) AS BIGINT) AS code_max
       |FROM c ORDER BY vec_id""".stripMargin

  /** Quantized ANN search — the memory-bound scale path that completes the
    * [[embeddingQuantize]] storage story (asymmetric-distance flow of
    * IVFADC, Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011, simplified to scalar int8 codes): (1) scan the
    * 1-byte/dim codes with an integer dot product (4-32× less memory
    * traffic than float vectors — at 100 TB the scan is bandwidth-bound,
    * so code width IS throughput), (2) keep a [[ShortK]] shortlist per
    * query, (3) re-rank only the shortlist with exact float cosine.
    *
    * The scan dots CENTERED codes (c − 128): raw 0..255 codes carry a
    * +128 bias whose cross terms (128·Σ neighbor codes) drown the actual
    * correlation for zero-mean data; centering makes the integer dot an
    * affine image of the true dot, which is what ADC ranks by.
    *
    * Determinism: centered codes are integers in [−128, 127]; their
    * products (≤ 2¹⁴) and the double-accumulated sum are exact in the
    * [[dot]] kernel, so `qdot` is an exact integer and the shortlist is
    * hash-stable. The re-rank cosine reuses the [[knnBruteForce]]
    * expressions (hash-green vs the explicit [[cosSql]] mirror). Both
    * window filters are rewritten to WindowGroupLimit partial top-k, so
    * only shortlist rows (carrying their float vector for the re-rank)
    * reach a shuffle.
    */
  def knnQuantized(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val coded = withNorm(embeddings)
      .crossJoin(broadcast(quantizeRanges(embeddings)))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        transform(codesCol, c => (c - lit(128L)).cast("float")).as("fcodes"))
    val queries = coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("nrm").as("q_nrm"), col("fcodes").as("qc"))
    coded.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"),
        dot(col("qc"), col("fcodes")).cast("long").as("qdot"))
      .withColumn("qrank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qdot").desc, col("neighbor_id"))))
      .filter(col("qrank") <= ShortK)
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        (dot(col("q"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qdot"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val knnQuantizedSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), $rangesCtesSql, c AS (
       |  SELECT vec_id, emb,
       |         $codesExprSql AS codes
       |  FROM e, r
       |), q AS (
       |  SELECT vec_id AS query_id, emb AS qe, codes AS qc FROM c WHERE vec_id < $NumQueries
       |), scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         CAST(list_dot_product(list_transform(q.qc, x -> CAST(x - 128 AS DOUBLE)),
       |                               list_transform(c.codes, x -> CAST(x - 128 AS DOUBLE))) AS BIGINT) AS qdot,
       |         ${cosSql("q.qe", "c.emb")} AS cos_sim
       |  FROM q JOIN c ON c.vec_id <> q.query_id
       |), short AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY qdot DESC, neighbor_id) AS qrank
       |  FROM scored
       |), rr AS (
       |  SELECT query_id, neighbor_id, qdot, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM short WHERE qrank <= $ShortK
       |)
       |SELECT query_id, rank, neighbor_id, qdot, cos_sim
       |FROM rr WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- Product quantization (knn_ivf_pq) ----

  /** Sub-vector j (1-based) of a float-array column. */
  private def subVec(v: Column, j: Int): Column =
    slice(v, (j - 1) * PqSubDim + 1, PqSubDim)

  /** Projects per-subspace columns onto a frame carrying (embedding, cb):
    * `sv$j` (the sub-vector), `pqc` (the array<int> of PQ codes), `code$j`
    * (the per-subspace code). Pure expressions — encoding is map-only at
    * any corpus size, like [[ivfAssign]]. Encoding is one
    * [[graft.functions.PqEncode]] call — argmin squared L2 per subspace,
    * ties to the lowest code, arithmetic-identical to the unrolled
    * `greatest(struct(-dist, -k))` form it replaced, whose ~100 KB of
    * generated code blew Janino's 64 KB method limit and dropped every
    * stage containing it to interpreted execution.
    */
  private def withPqCodes(df: DataFrame): DataFrame =
    df.select(col("*") +: (1 to PqM).map(j => subVec(col("embedding"), j).as(s"sv$j")): _*)
      .withColumn("pqc",
        graft.functions.VecFunctions.pqEncode(col("embedding"), col("cb"), PqM, PqK, PqSubDim))
      .select(col("*") +: (1 to PqM).map(j => element_at(col("pqc"), j).as(s"code$j")): _*)

  /** Seed codebooks: subspace j's codes are the sub-vectors of the first
    * [[PqK]] vectors — the deterministic analog of k-means++ sampling,
    * same convention as [[seedCents]]' seed centroids.
    */
  private def pqSeeds(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") < PqK)
      .select(explode(array((1 to PqM).map(j =>
        struct(lit(j).as("j"), col("vec_id").cast("int").as("k"),
          subVec(col("embedding"), j).as("cvec"))): _*)).as("s"))
      .select(col("s.j").as("j"), col("s.k").as("k"), col("s.cvec").as("cvec"))

  /** Per-(j, k) codebook rows → the 1-row sorted-array form the encoding
    * expressions consume; `cc` = ‖c‖² precomputed once per entry. Entry
    * (j, k) lives at index (j−1)·PqK + k + 1 (the sort key is the unique
    * (j, k) prefix).
    */
  private def pqCodebookToArray(rows: DataFrame): DataFrame =
    rows.select(col("j"), col("k"), col("cvec"), dot(col("cvec"), col("cvec")).as("cc"))
      .agg(sort_array(collect_list(struct(
        col("j"), col("k"), col("cvec"), col("cc")))).as("cb"))

  /** PQ codebook training — one deterministic Lloyd round per subspace
    * (the [[trainCentroids]] recipe on sub-vectors): assign every
    * sub-vector to its nearest seed (squared L2, ties to the lowest code),
    * mean per (subspace, code, dimension), cast to float; codes whose cell
    * goes empty keep their seed. Assignment is a pure map against the
    * broadcast seed array; the only shuffle is the posexplode hash-agg,
    * whose partial combine collapses each partition to PqM × PqK × PqSubDim
    * aggregate rows — at 100 TB the training shuffle carries kilobytes
    * (and production would train on a sample anyway).
    * Returns per-(j, k) rows (j, k, cvec).
    */
  def trainPqCodebooks(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val seeds = pqSeeds(embeddings)
    val coded = withPqCodes(embeddings.crossJoin(broadcast(pqCodebookToArray(seeds))))
    val means = coded
      .select(explode(array((1 to PqM).map(j =>
        struct(lit(j).as("j"), col(s"code$j").as("k"), col(s"sv$j").as("sv"))): _*)).as("a"))
      .select(col("a.j").as("j"), col("a.k").as("k"),
        posexplode(col("a.sv")).as(Seq("pos", "x")))
      .groupBy(col("j"), col("k"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("j"), col("k"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("cvec"))
    seeds.as("s")
      // ≤ PqM × PqK aggregate rows — broadcast instead of the sort-merge
      // the planner picked from estimates (two sorts + an exchange per use)
      .join(broadcast(means.as("n")), Seq("j", "k"), "left_outer")
      .select(col("j"), col("k"),
        coalesce(col("n.cvec"), col("s.cvec")).as("cvec"))
  }

  /** IVFPQ — IVF bucket pruning + product-quantized asymmetric-distance
    * scan + exact float re-rank (the full Jégou et al. 2011 composition;
    * [[knnIvfAdc]] is the scalar-int8 simplification). What changes at
    * 100 TB vs scalar ADC: the scan reads [[PqM]] (8) bytes/vector instead
    * of 64, and the ADC is asymmetric — the query side uses its RAW
    * sub-vectors against the codebook (one lookup table of PqM × PqK dots
    * per query), so quantization error enters once (neighbor side) instead
    * of twice. Each per-subspace lookup rounds once to an integer at
    * [[AdcScale]] resolution; the candidate score is an exact integer sum,
    * order-invariant, so the shortlist is hash-stable and the whole query
    * is hash-checked against the DuckDB twin (same argument chain as
    * [[knnIvfTrained]]: exact-float dots + float-cast Lloyd means).
    *
    * Plan shape: the PqM × PqK distance LOOKUP TABLE (the paper's `d(x, q)`
    * tables) is materialized once per (query, probe) row on the broadcast
    * side; candidates are scored straight after the broadcast probes join
    * as 8 table lookups + an integer sum — the shortlist shuffle moves
    * (query_id, neighbor_id, adc) plus the 8 query floats, never neighbor
    * vectors; full-precision embeddings are fetched by a broadcast join for
    * the [[PqShortK]] shortlist rows only. The lookup table is also what
    * keeps the fused scan stage's generated code under Janino's 64 KB
    * method limit — the per-candidate dot form compiled 4× slower and then
    * ran interpreted.
    */
  def knnIvfPq(embeddingsRaw: DataFrame, nlist: Int = NList, nprobe: Int = NProbe): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val e = withNorm(embeddings)
    // ONE auxiliary row carrying BOTH the trained PQ codebook array and the
    // IVF centroid array. The before-plan re-derived the training chain
    // under each of four broadcast builds (777 lines, the PQ Lloyd subtree
    // twice) and the wall clock was pure scheduling (taskTime 0.75 s vs
    // wall 3.8 s, 17 single-task jobs). Materializing the pair as one
    // checkpoint makes every downstream broadcast a 1-row scan, and fusing
    // the two columns halves the broadcast-stage count (assigned and probes
    // each cross-join once instead of twice). ~5 KB + nlist structs,
    // corpus-size-independent, so the checkpoint is never a scale hazard.
    val aux = pqCodebookToArray(trainPqCodebooks(embeddings))
      .crossJoin(toCentroidArray(seedCents(e, nlist)))
      .localCheckpoint(eager = true)
    // One map-only pass both codes AND buckets the corpus, and the rows it
    // emits are slim — (vec_id, 8-byte codes, bucket), no embedding and no
    // codebook column. The ~5 KB codebook array instead rides on the
    // nprobe × NumQueries probe rows (the broadcast side), so the scan
    // relation the ADC reads stays PqM bytes/vector at any corpus size.
    // The probes branch never touches the PQ-training subtree at all: it
    // needs only the nearest centroids, computed after pruning to the query rows.
    val assigned = withPqCodes(e.crossJoin(broadcast(aux)))
      .select(col("vec_id"), col("pqc").as("codes"), nearestLabel.as("bucket"))
    // The paper's asymmetric-distance LOOKUP TABLE, materialized per probe
    // row: adctab[(j−1)·PqK + k] = round(dot(subvec_j(q), cb[j][k]) · scale)
    // — PqM × PqK dots evaluated once per (query, probe) row (16 rows here;
    // NumQueries × nprobe anywhere), never per candidate. The per-candidate
    // ADC below is then 8 array lookups + an integer sum, which keeps the
    // fused scan stage's generated code far under Janino's 64 KB method
    // limit — the previous per-candidate dot form blew it and silently
    // dropped the whole scan to interpreted execution (~4 s of the old 5 s).
    // The HOF lambda runs interpreted, but over 128 elements on the
    // broadcast side only; identical arithmetic → identical hashes.
    val adctab = transform(sequence(lit(0), lit(PqM * PqK - 1)), i => {
      val j = floor(i / lit(PqK)).cast("int") // subspace 0..PqM-1
      val ent = element_at(col("cb"), i + 1)  // cb is (j, k)-sorted
      round(dot(slice(col("q"), j * lit(PqSubDim) + 1, lit(PqSubDim)),
        ent.getField("cvec")) * lit(AdcScale)).cast("long")
    })
    val probes = probeRows(e.filter(col("vec_id") < NumQueries), aux, nprobe, col("cb"))
      .withColumn("adctab", adctab)
      .drop("cb")
    val adc = (1 to PqM).map { j =>
      element_at(col("adctab"), lit((j - 1) * PqK) + element_at(col("codes"), j) + 1)
    }.reduce(_ + _)
    val short = broadcast(probes)
      .join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), adc.as("adc"))
      .withColumn("qrank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))))
      .filter(col("qrank") <= PqShortK)
    broadcast(short)
      .join(e, col("neighbor_id") === col("vec_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc"),
        (dot(col("q"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Squared-L2 nearest-code ordering, shared by both assignment rounds of
    * the [[knnIvfPqSql]] oracle — one definition so the seed-assignment
    * and final-encode CTEs cannot drift. A streaming GROUP BY
    * `min(struct(dist, k))` — same "lowest distance, ties → lowest code"
    * rule as the old `row_number ... ORDER BY dist, k` window, without
    * sorting N×PqM×PqK rows whose keys each evaluate three
    * list_dot_products (30.7 s of the ×10 profile; super-linear pain at
    * ×100).
    */
  private def pqAssignSql(cbCte: String): String =
    s"""SELECT s.vec_id, s.j,
       |         (min(struct_pack(d := list_dot_product(s.sv, s.sv)
       |                      - 2.0 * list_dot_product(s.sv, c.c)
       |                      + list_dot_product(c.c, c.c),
       |                          k := c.k))).k AS k
       |    FROM sub s JOIN $cbCte c ON c.j = s.j
       |    GROUP BY s.vec_id, s.j""".stripMargin

  /** DuckDB oracle for [[knnIvfPq]]: sub-vector slices, seed codebooks,
    * one float-cast Lloyd round, re-encode, the shared IVF probe CTEs,
    * then the fixed-point ADC sum (BIGINT — order-invariant) and the exact
    * cosine re-rank. Deterministic end to end for the [[knnIvfTrained]]
    * reasons, so hash-checked.
    */
  /** The PQ oracle chain, canonicalized on distinct vectors like every
    * other embedding oracle this round: PQ training (gsz-weighted means,
    * the [[lloydRoundSql]] argument), code assignment, IVF bucket
    * assignment, and the per-(query, value) ADC sum all run at REP level;
    * member expansion happens on skinny (id, adc) rows just before the
    * shortlist window. Besides being sf-sized on duplicate-dense corpora,
    * this keeps DuckDB's aggregate-hash-table PREALLOCATION sane: the
    * naive member-level adc GROUP BY sat downstream of a join chain whose
    * cardinality estimate exploded ~80× past actual (EC 5×10¹⁰-ish at
    * ×100), and the hash table sized from that estimate took the process
    * to ~100 GB RSS against a 30 GB memory_limit — a kernel OOM kill that
    * hit or missed depending on how much of the host was free.
    */
  private def knnIvfPqCtesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), $canonicalCtesSql, cents AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < $NList
       |), sub AS (
       |  SELECT r.vec_id, g.gsz, s.j,
       |         list_slice(r.emb, (s.j-1)*$PqSubDim + 1, s.j*$PqSubDim) AS sv
       |  FROM reps r JOIN grp g ON g.rep_id = r.vec_id,
       |       unnest(generate_series(1, $PqM)) AS s(j)
       |), seed AS (
       |  SELECT s.j, CAST(e.vec_id AS INT) AS k,
       |         list_slice(e.emb, (s.j-1)*$PqSubDim + 1, s.j*$PqSubDim) AS c
       |  FROM e, unnest(generate_series(1, $PqM)) AS s(j)
       |  WHERE e.vec_id < $PqK
       |), a0 AS (
       |  ${pqAssignSql("seed")}
       |), m1 AS (
       |  SELECT j, k, list(CAST(m AS REAL) ORDER BY pos) AS cl FROM (
       |    SELECT a.j, a.k, i AS pos,
       |           sum(s.sv[i] * s.gsz) / CAST(sum(s.gsz) AS DOUBLE) AS m
       |    FROM a0 a JOIN sub s ON s.vec_id = a.vec_id AND s.j = a.j,
       |         unnest(generate_series(1, $PqSubDim)) AS u(i)
       |    GROUP BY a.j, a.k, i)
       |  GROUP BY j, k
       |), cb AS (
       |  SELECT sd.j, sd.k,
       |         COALESCE(list_transform(m1.cl, x -> CAST(x AS DOUBLE)), sd.c) AS c
       |  FROM seed sd LEFT JOIN m1 ON m1.j = sd.j AND m1.k = sd.k
       |), pqcodes AS (
       |  ${pqAssignSql("cb")}
       |), rassign AS (
       |  SELECT r.vec_id AS rep_id,
       |         (min(struct_pack(ncs := -(${cosSql("r.emb", "c.c")}),
       |                          lbl := c.lbl))).lbl AS bucket
       |  FROM reps r, cents c GROUP BY r.vec_id
       |), probes AS (
       |  SELECT vec_id AS query_id, lbl AS bucket FROM (
       |    SELECT e.vec_id, c.lbl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.emb", "c.c")} DESC, c.lbl) AS rn
       |    FROM e, cents c WHERE e.vec_id < $NumQueries)
       |  WHERE rn <= $NProbe
       |), qsub AS (
       |  -- query-side sub-vectors pre-restricted to the probe queries:
       |  -- joining a corpus-sized relation into the 4-way adc join let
       |  -- the planner pair it with pqcodes on j alone (8 values) —
       |  -- 3.2e9 intermediate rows at the ×10 replica.
       |  SELECT vec_id, s.j,
       |         list_slice(emb, (s.j-1)*$PqSubDim + 1, s.j*$PqSubDim) AS sv
       |  FROM e, unnest(generate_series(1, $PqM)) AS s(j)
       |  WHERE vec_id < $NumQueries
       |), radc AS (
       |  SELECT p.query_id, ra.rep_id,
       |         CAST(sum(CAST(round(list_dot_product(qs.sv, cb.c) * $AdcScale) AS BIGINT)) AS BIGINT) AS adc
       |  FROM probes p
       |  JOIN rassign ra ON ra.bucket = p.bucket
       |  JOIN pqcodes nc ON nc.vec_id = ra.rep_id
       |  JOIN cb ON cb.j = nc.j AND cb.k = nc.k
       |  JOIN qsub qs ON qs.vec_id = p.query_id AND qs.j = nc.j
       |  GROUP BY p.query_id, ra.rep_id
       |), adc AS (
       |  SELECT r.query_id, m.vec_id AS neighbor_id, r.adc
       |  FROM radc r JOIN members m ON m.rep_id = r.rep_id
       |  WHERE m.vec_id <> r.query_id
       |), short AS (
       |  SELECT query_id, neighbor_id, adc,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc DESC, neighbor_id) AS qrank
       |  FROM adc
       |), rr AS (
       |  SELECT s.query_id, s.neighbor_id, s.adc,
       |         ${cosSql("qe.emb", "ne.emb")} AS cos_sim,
       |         row_number() OVER (PARTITION BY s.query_id
       |           ORDER BY ${cosSql("qe.emb", "ne.emb")} DESC, s.neighbor_id) AS rank
       |  FROM short s
       |  JOIN e qe ON qe.vec_id = s.query_id
       |  JOIN e ne ON ne.vec_id = s.neighbor_id
       |  WHERE s.qrank <= $PqShortK
       |)""".stripMargin

  val knnIvfPqSql: String =
    s"""${knnIvfPqCtesSql}
       |SELECT query_id, rank, neighbor_id, adc, cos_sim
       |FROM rr WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Shared recall-comparison tail: exact side (prefix `x`) LEFT JOIN an
    * `approx(query_id, neighbor_id)` CTE — counting over the exact side
    * makes missing hits count 0 (recall, not precision). One definition
    * for [[knnRecallSql]] and [[knnRecallPqSql]].
    */
  private def recallTailSql: String =
    s"""${bruteRankedCtesSql("x")}
       |SELECT x.query_id,
       |       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       |       CAST(count(a.neighbor_id) AS DOUBLE) / $K AS recall
       |FROM (SELECT query_id, neighbor_id FROM xranked WHERE rank <= $K) x
       |LEFT JOIN approx a
       |  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  /** DuckDB oracle for [[knnRecallPq]]: the [[knnIvfPqSql]] CTE chain's
    * `rr` ranking as the approx side of the shared recall tail.
    */
  val knnRecallPqSql: String =
    s"""${knnIvfPqCtesSql}, approx AS (
       |  SELECT query_id, neighbor_id FROM rr WHERE rank <= $K
       |), ${recallTailSql}""".stripMargin

  /** Per-label centroid of the embedding corpus — the class-prototype
    * computation behind centroid classifiers, cluster labeling, and
    * embedding-drift monitoring. The distributed-mean determinism problem
    * (float summation order varies with partitioning, so a naive avg is
    * not reproducible) is solved with fixed-point arithmetic: each
    * dimension value rounds once to an integer at 1e-7 resolution
    * (exact: one IEEE multiply + round, identical on any engine), and
    * integer sums are order-invariant. The single final division is one
    * exact double op. Shape: posexplode is a dim× row blowup, but
    * hash-agg partial combine collapses each partition to (labels × dim)
    * rows before the only shuffle — at 100 TB the shuffle carries
    * kilobytes.
    */
  def labelCentroids(embeddingsRaw: DataFrame): DataFrame =
    validVecs(embeddingsRaw)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
        round(col("x").cast("double") * lit(1e7)).cast("long").as("xs"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).cast("long").as("n_vecs"), sum(col("xs")).as("sum_scaled"))
      .withColumn("mean_scaled", col("sum_scaled").cast("double") / col("n_vecs"))
      .orderBy(col("label"), col("pos"))

  val labelCentroidsSql: String =
    s"""WITH t AS (
      |  SELECT CAST(label AS BIGINT) AS label, i AS pos,
      |         CAST(round(emb[i] * 1e7) AS BIGINT) AS xs
      |  FROM (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |        FROM embeddings WHERE $validVecsWhereSql) e,
      |       unnest(generate_series(1, len(emb))) AS u(i)
      |)
      |SELECT label, CAST(pos AS BIGINT) AS pos,
      |       CAST(count(*) AS BIGINT) AS n_vecs,
      |       CAST(sum(xs) AS BIGINT) AS sum_scaled,
      |       CAST(sum(xs) AS DOUBLE) / count(*) AS mean_scaled
      |FROM t GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // ---- LSH (signed random projections) ----

  private val LshBands = 4 // candidates share >=1 band
  /** Plane-index stride between bands: band k draws planes
    * k·stride … k·stride+bandW−1, so growing the band width never
    * reassigns a plane already used by another band (the signature is an
    * extensible family, not a repacked one). Also the bandW ceiling — a
    * deployment past N ≈ 2³² would widen the stride, not the rule.
    */
  private val LshBandStride = 16
  private val LshMinBandW = 4
  private val Dim = 64

  /** Corpus-adaptive LSH band width: bits per band =
    * clamp([[LshMinBandW]], [[LshBandStride]], (bitlen(N)+1)/2), i.e.
    * 2^bandW ≈ √N buckets per band — the same occupancy rule as
    * [[adaptiveNlist]] and for the same reason: at a FIXED band width the
    * per-band bucket count is constant, so candidate pairs grow as
    * N²/2^bandW — quadratic at scale.
    *
    * Integer-exact in both engines by construction (no float logs):
    * bitlen(N) is `64 - numberOfLeadingZeros` here and
    * `length(bin(COUNT(*)))` in the DuckDB twin.
    */
  private def adaptiveBandW(n: Long): Int =
    math.min(LshBandStride, math.max(LshMinBandW,
      ((64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))) + 1) / 2))

  /** Oracle-side twin of [[adaptiveBandW]] — expects an `e` CTE. */
  private val adaptiveBandWSql: String =
    s"(SELECT LEAST($LshBandStride, GREATEST($LshMinBandW, (length(bin(COUNT(*))) + 1) // 2)) FROM e)"

  /** Deterministic ±1 hyperplane weights (xorshift-mixed (plane, dim) seed)
    * — no RNG state, so the identical literals are embedded in the DuckDB
    * oracle and the bucketing reproduces bit-for-bit anywhere.
    */
  private def planeWeights(p: Int): Array[Float] =
    Array.tabulate(Dim) { d =>
      var x = p * 1000003 + d * 7919 + 12345
      x ^= x << 13; x ^= x >>> 17; x ^= x << 5
      if (((x >>> 16) & 1) == 1) 1.0f else -1.0f
    }

  /** Signed-projection block for band `k` at width `bandW`: bit j =
    * (v · w_{k·stride+j} > 0). Each dot runs through the codegen'd [[dot]]
    * kernel against a broadcast literal array — map-only, zero shuffles,
    * like SimHash for embeddings.
    */
  private def bandBlock(k: Int, bandW: Int): Column =
    (0 until bandW)
      .map(j => when(
        dot(col("embedding"), typedLit(planeWeights(k * LshBandStride + j))) > 0d,
        lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Embedding near-dup pairs via hyperplane LSH + exact verify — the
    * alternative scale path to [[dedupEmbeddingAnn]]: no centroid set
    * needed (fully data-independent bucketing), candidates share one of
    * [[LshBands]] signature bands at the corpus-sized width
    * [[adaptiveBandW]] (≈√N buckets per band), exact cosine threshold
    * verifies. Deterministic planes + integer-exact width ⇒ mirrored 1:1
    * in the DuckDB oracle.
    */
  def dedupEmbeddingLsh(embeddingsRaw: DataFrame, threshold: Double = 0.45): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val bandW = adaptiveBandW(embeddings.count()) // gated-corpus width (oracle rule)
    val e = withNorm(embeddings)
    // hyperplane blocks are a pure function of the vector → identical
    // vectors share every band block, so candidates/verify run on
    // canonical reps and expansion reconstructs the naive pair set
    val (reps, members) = canonicalVectors(e)
    val blocks = reps.select(col("vec_id"), explode(array(
      (0 until LshBands).map(k => struct(lit(k).as("k"),
        bandBlock(k, bandW).as("block"))): _*)).as("kb"))
      .select(col("vec_id"), col("kb.k").as("k"), col("kb.block").as("block"))
    val cand = blocks.as("a")
      .join(blocks.as("b"),
        col("a.k") === col("b.k") && col("a.block") === col("b.block")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val repPairs = cand
      .join(reps.as("ea"), col("id_a") === col("ea.vec_id"))
      .join(reps.as("eb"), col("id_b") === col("eb.vec_id"))
      .select(col("id_a"), col("id_b"),
        (dot(col("ea.embedding"), col("eb.embedding")) / (col("ea.nrm") * col("eb.nrm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    expandPairs(repPairs, members, reps, threshold)
  }

  /** The twin evaluates every band at the FULL [[LshBandStride]] width and
    * masks down to the corpus-sized bw — bit j is set by plane k·stride+j
    * in both engines, so the masked block equals the Spark side's
    * width-bw sum term for term.
    */
  val dedupEmbeddingLshSql: String = {
    def blockExpr(k: Int): String = (0 until LshBandStride).map { j =>
      val w = planeWeights(k * LshBandStride + j)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"CASE WHEN list_inner_product(emb, $w) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n           + ")
    val blockRows = (0 until LshBands).map { k =>
      s"""SELECT vec_id, $k AS k,
         |         CAST(${blockExpr(k)} AS BIGINT) & ((1 << p.bw) - 1) AS block
         |  FROM reps, params p""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), $canonicalCtesSql, params AS (
       |  SELECT $adaptiveBandWSql AS bw
       |), blocks AS (
       |  $blockRows
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM blocks a JOIN blocks b
       |    ON a.k = b.k AND a.block = b.block AND a.vec_id < b.vec_id
       |), rp AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("ea.emb", "eb.emb")} AS cos_sim
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.id_a
       |  JOIN e eb ON eb.vec_id = c.id_b
       |  WHERE ${cosSql("ea.emb", "eb.emb")} >= 0.45
       |), ${expandTailSql(0.45)}""".stripMargin
  }

  val dedupEmbeddingAnnSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), $canonicalCtesSql, cents AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < ${adaptiveNlistSql(NList)}
       |), multi AS (
       |  SELECT vec_id, lbl AS bucket FROM (
       |    SELECT r.vec_id, c.lbl,
       |           row_number() OVER (PARTITION BY r.vec_id
       |             ORDER BY ${cosSql("r.emb", "c.c")} DESC, c.lbl) AS rn
       |    FROM reps r, cents c) WHERE rn <= $NProbe
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM multi a JOIN multi b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |), rp AS (
       |  SELECT c.id_a, c.id_b, ${cosSql("ea.emb", "eb.emb")} AS cos_sim
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.id_a
       |  JOIN e eb ON eb.vec_id = c.id_b
       |  WHERE ${cosSql("ea.emb", "eb.emb")} >= 0.45
       |), ${expandTailSql(0.45)}""".stripMargin

  /** Residue selecting the "newly ingested" vector batch for
    * [[knnIncremental]] — the same deterministic ~6 % split
    * `Dedup.dedupIncremental` uses on documents. */
  private val IncrMod = 17
  private val IncrRes = 3

  /** Incremental embedding ingest dedup: probe a NEW vector batch against
    * the static multi-probe index of the EXISTING corpus — the vector-side
    * analog of [[graft.pipeline.Dedup.dedupIncremental]], and the
    * production crawl-ingest shape for embedding near-dup at 100 TB: the
    * corpus is indexed ONCE (centroids = its first ⌈√Nc⌉ vectors, every
    * corpus vector in its nprobe nearest buckets), and each ingest batch
    * of B vectors costs B·nlist centroid dots map-side plus a join that
    * touches only the probed buckets — never a pass over the corpus pair
    * space. Bucketing is a pure function of (vector, cents), so this is
    * EXACTLY the full bucket-pair relation under the same cents restricted
    * to (batch, corpus) pairs — property-tested in PipelineSpec against
    * [[annPairsUnderIncrementalIndex]], scores bit-equal (the dot/norm
    * arithmetic commutes bit-exactly). The batch/corpus split is a
    * deterministic residue so the DuckDB oracle mirrors it exactly.
    * Output: (vec_id = new vector, cand_vec = corpus near-dup, cos_sim)
    * at ≥ the alert threshold — looser than the 0.45 dedup cut (an ingest
    * ALERT flags "suspiciously similar, route to review", the fixture has
    * 50+ such cross pairs vs 1 at 0.45, so the gate exercises real rows).
    */
  def knnIncremental(embeddingsRaw: DataFrame, threshold: Double = 0.3,
      nprobe: Int = NProbe): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    // CANONICAL over distinct vectors — the engine-side mirror of the
    // already-canonical oracle: probe lists are pure functions of
    // (vector, cents), so probing, bucket-join candidates, and the cosine
    // verify run once per distinct vector (ORDERED rep pairs including
    // the rep-self pair — identical values always share every bucket);
    // the batch×corpus member expansion (residue split applied to MEMBER
    // ids) reconstructs the naive pair relation with bit-identical
    // cosines. Seeds and nlist stay corpus-side full-relation rules. The
    // naive member-level form probed and verified every copy — the ×100
    // replica priced it at 80 s vs the oracle's 4.6 s for the same rows.
    val e = withNorm(embeddings)
    val corpus = e.filter(col("vec_id") % IncrMod =!= IncrRes)
    val cents = seedCents(corpus, adaptiveNlist(corpus, NList))
    val (reps, members) = canonicalVectors(e)
    val probes = multiProbe(reps, cents, nprobe)
      .select(col("vec_id"), col("bucket"))
      .localCheckpoint(eager = true) // both sides of the bucket join
    val repCand = probes.select(col("vec_id").as("q_rep"), col("bucket"))
      .join(probes.select(col("vec_id").as("c_rep"), col("bucket")), Seq("bucket"))
      .select(col("q_rep"), col("c_rep")).distinct()
    val verified = repCand
      .join(reps.select(col("vec_id").as("q_rep"),
        col("embedding").as("qe"), col("nrm").as("qn")), Seq("q_rep"))
      .join(reps.select(col("vec_id").as("c_rep"),
        col("embedding").as("ce"), col("nrm").as("cn")), Seq("c_rep"))
      .select(col("q_rep"), col("c_rep"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    verified
      .join(members.filter(col("vec_id") % IncrMod === IncrRes)
        .select(col("rep_id").as("q_rep"), col("vec_id")), Seq("q_rep"))
      .join(members.filter(col("vec_id") % IncrMod =!= IncrRes)
        .select(col("rep_id").as("c_rep"), col("vec_id").as("cand_vec")), Seq("c_rep"))
      .select(col("vec_id"), col("cand_vec"), col("cos_sim"))
      .orderBy(col("vec_id"), col("cand_vec"))
  }

  /** The full verified pair relation (id_a < id_b) under
    * [[knnIncremental]]'s corpus-built index — the SPECIFICATION the
    * incremental probe is property-tested against: restricted to
    * cross-split pairs it must equal [[knnIncremental]] exactly, because
    * bucket membership per vector is identical by construction. Test
    * seam only; not registered.
    */
  private[graft] def annPairsUnderIncrementalIndex(embeddings: DataFrame,
      threshold: Double = 0.45, nprobe: Int = NProbe): DataFrame = {
    val e = withNorm(embeddings)
    val corpus = e.filter(col("vec_id") % IncrMod =!= IncrRes)
    val cents = seedCents(corpus, adaptiveNlist(corpus, NList))
    verifiedBucketPairs(e, multiProbe(e, cents, nprobe), threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of [[knnIncremental]]: the same residue split, corpus
    * seed centroids at the corpus-adaptive ⌈√Nc⌉, rn ≤ nprobe probes on
    * both sides, bucket-join candidates, exact cosine verify. */
  /** DuckDB twin of [[knnIncremental]], canonicalized like the dedups:
    * probing is a pure function of (vector, cents), so probe lists are
    * computed once per distinct vector ([[canonicalCtesSql]]'s reps),
    * candidates and the cosine verify run at REP level (including the
    * rep-self pair — identical values always share every bucket), and the
    * batch×corpus member expansion (residue split applied to MEMBER ids)
    * reconstructs exactly the naive pair relation with bit-identical
    * cosines. The naive member-level form verified ~2×10⁷ pairs carrying
    * two 512 B emb lists each at the ×100 replica — 68 GB of join spill,
    * two sweeps' no-space deaths; the rep-level form is output-sized.
    */
  val knnIncrementalSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), $canonicalCtesSql, corp AS (
       |  SELECT * FROM e WHERE vec_id % $IncrMod <> $IncrRes
       |), cents AS (
       |  SELECT vec_id AS lbl, emb AS c FROM corp
       |  WHERE vec_id < (SELECT GREATEST($NList,
       |    CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM corp)
       |), rp AS (
       |  SELECT vec_id AS rep_id, lbl AS bucket FROM (
       |    SELECT r.vec_id, c.lbl,
       |           row_number() OVER (PARTITION BY r.vec_id
       |             ORDER BY ${cosSql("r.emb", "c.c")} DESC, c.lbl) AS rn
       |    FROM reps r, cents c) WHERE rn <= $NProbe
       |), rcand AS (
       |  SELECT DISTINCT a.rep_id AS ra, b.rep_id AS rb
       |  FROM rp a JOIN rp b ON a.bucket = b.bucket
       |), rver AS (
       |  SELECT rc.ra, rc.rb, ${cosSql("da.emb", "db.emb")} AS cos_sim
       |  FROM rcand rc
       |  JOIN reps da ON da.vec_id = rc.ra
       |  JOIN reps db ON db.vec_id = rc.rb
       |  WHERE ${cosSql("da.emb", "db.emb")} >= 0.3
       |)
       |SELECT mb.vec_id AS vec_id, mc.vec_id AS cand_vec, rver.cos_sim
       |FROM rver
       |JOIN members mb ON mb.rep_id = rver.ra AND mb.vec_id % $IncrMod = $IncrRes
       |JOIN members mc ON mc.rep_id = rver.rb AND mc.vec_id % $IncrMod <> $IncrRes
       |ORDER BY vec_id, cand_vec""".stripMargin

  /** Shared oracle tail: IVF probe + search against a `cents(lbl, c)` CTE
    * (must be defined by the caller). Assignment is `rn = 1`, probing is
    * `rn <= nprobe`, ordering `sim DESC, lbl` — the exact tie semantics of
    * the [[nearest]] kernel.
    */
  private def ivfRankedCtesSql(centsCte: String): String =
    s"""${ivfProbeCtesSql(centsCte)}, scored2 AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${cosSql("eq.emb", "en.emb")} AS cos_sim
       |  FROM probes p
       |  JOIN assigned a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
       |  JOIN e eq ON eq.vec_id = p.query_id
       |  JOIN e en ON en.vec_id = a.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored2
       |)""".stripMargin

  private def ivfSearchSql(centsCte: String): String =
    s"""${ivfRankedCtesSql(centsCte)}
       |SELECT query_id, rank, neighbor_id, cos_sim
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** DuckDB oracle for [[knnIvf]] with the deterministic seed centroids:
    * the bucketing is a pure function of the data (argmax cosine, ties to
    * lowest label), so the approximate index is exactly reproducible in
    * SQL — this query is hash-checked, not rows-only.
    */
  val knnIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), cents AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < $NList
       |), ${ivfSearchSql("cents")}""".stripMargin

  /** DuckDB oracle for [[ballQuery]]: the shared probe chain with the
    * threshold filter in place of the rank window. */
  def ballQuerySql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), cents AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < $NList
       |), ${ivfRankedCtesSql("cents")}
       |SELECT query_id, neighbor_id, cos_sim
       |FROM scored2 WHERE cos_sim >= $BallTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  /** DuckDB oracle for [[knnRecall]]: the [[knnIvfSql]] ranked chain and
    * the [[bruteRankedCtesSql]] exact chain (prefix `x`) in one statement,
    * left-joined on (query_id, neighbor_id). Counting over the exact side
    * makes missing IVF hits count as 0 — recall, not precision.
    */
  val knnRecallSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), cents AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < $NList
       |), ${ivfRankedCtesSql("cents")}, approx AS (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= $K
       |), ${recallTailSql}""".stripMargin

  /** One Lloyd round in SQL: assign every vector to its nearest centroid in
    * `prevCte`, average per (label, dimension), cast the mean to REAL (the
    * Spark side stores centroids as float arrays), and fall back to the
    * previous centroid for labels whose bucket went empty — the exact
    * semantics of [[trainCentroids]]'s loop body.
    */
  /** The distinct-vector relation `dv` (rep vec_id, emb, multiplicity
    * gsz) every Lloyd-chain oracle trains on — the [[canonicalVectors]]
    * argument applied oracle-side: identical vectors have identical
    * nearest centroids, so assignment runs once per distinct vector and
    * the round means weight by gsz. Expects an `e` CTE in scope.
    */
  private val dvCteSql: String =
    """dv AS (
      |  SELECT min(vec_id) AS vec_id, emb, CAST(count(*) AS BIGINT) AS gsz
      |  FROM e GROUP BY emb
      |)""".stripMargin

  /** One Lloyd refinement round as CTEs, over the [[dvCteSql]] distinct-
    * vector relation. Assignment is a streaming GROUP BY with
    * `(min(struct_pack(ncs := −cos, lbl)))` — the same "highest sim,
    * ties → lowest label" rule as the old `row_number ... ORDER BY cos
    * DESC, lbl` window, but with neither a window sort nor an N×k pair
    * materialization: the round-12/14 sweeps measured the naive form at
    * ~48 GB of window spill, and the intermediate agg-over-full-corpus
    * form at ~80 GB of materialized cross-product LIST payloads that
    * DuckDB's buffer-pool accounting does not see (kernel OOM at a 12 GB
    * memory_limit). On dv the pair relation is reps×k — sf-sized on any
    * duplicate-dense corpus. Round means are gsz-weighted:
    * Σ(x·gsz)/Σgsz equals the full-corpus avg exactly when every gsz = 1
    * (x·1 = x, same accumulation), and within double-rounding noise
    * otherwise — absorbed by the CAST to REAL exactly like the
    * distributed-vs-serial `avg` difference this oracle already rests on
    * (see [[knnIvfTrainedSql]]'s float-rounding note).
    * (NaN sims would LOSE ties instead of winning them — unreachable on
    * this corpus: norms are bounded away from 0 by the embeddingStats
    * gate, so no cosine is NaN.)
    */
  private def lloydRoundSql(prevCte: String, n: Int): String =
    s"""a$n AS (
       |  SELECT d.vec_id, d.gsz,
       |         (min(struct_pack(ncs := -(${cosSql("d.emb", "c.c")}),
       |                          lbl := c.lbl))).lbl AS lbl
       |  FROM dv d, $prevCte c
       |  GROUP BY d.vec_id, d.gsz
       |), m$n AS (
       |  SELECT lbl, list(CAST(m AS REAL) ORDER BY pos) AS cl FROM (
       |    SELECT a.lbl, i AS pos,
       |           sum(d.emb[i] * a.gsz) / CAST(sum(a.gsz) AS DOUBLE) AS m
       |    FROM a$n a JOIN dv d ON d.vec_id = a.vec_id,
       |         unnest(generate_series(1, len(d.emb))) AS u(i)
       |    GROUP BY a.lbl, i)
       |  GROUP BY lbl
       |), c$n AS (
       |  SELECT p.lbl,
       |         COALESCE(list_transform(m$n.cl, x -> CAST(x AS DOUBLE)), p.c) AS c
       |  FROM $prevCte p LEFT JOIN m$n ON m$n.lbl = p.lbl
       |)""".stripMargin

  /** DuckDB oracle for the Lloyd-trained IVF search ([[trainCentroids]] +
    * [[knnIvf]]): two fixed mean-per-(bucket,dimension) refinement rounds
    * expressed as chained CTEs, then the same probe/search tail as
    * [[knnIvfSql]]. Deterministic end to end (seed centroids, fixed
    * iteration count, float-cast means), so hash-checked.
    *
    * Float-rounding assumption, stated explicitly: the hash check relies
    * on Spark's distributed `avg` (double summation in shuffle-fetch
    * order) and DuckDB's `avg` landing on the same value AFTER the cast
    * to float — the cast absorbs up-to-ULP double differences because the
    * per-(bucket,dim) means here sit far from float rounding boundaries
    * (verified green at sf0.001/0.01/0.1 across rounds 4-5). If a future
    * dataset ever flakes this hash, the intended downgrade is a rows+
    * recall check (recall bound already property-tested in PipelineSpec),
    * not loosening the oracle machinery.
    */
  val knnIvfTrainedSql: String = {
    val rounds = (1 to LloydIters)
      .map(n => lloydRoundSql(s"c${n - 1}", n)).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), c0 AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < $NList
       |), $dvCteSql, $rounds,
       |${ivfSearchSql(s"c$LloydIters")}""".stripMargin
  }

  /** Cluster count for [[topicClusters]] — coarser than a real topic model
    * but exercises Lloyd at a k ≠ [[NList]] (both the Spark loop and the
    * SQL mirror are k-generic; this is the registered proof).
    */
  private[graft] val TopicK = 8

  /** (cluster, label, n) contingency relation shared by [[topicClusters]]
    * and [[topicPurity]] — Lloyd-trained assignment (map-only against the
    * broadcast centroid array) then one count-sized hash-agg.
    */
  private def topicLabelCounts(embeddings: DataFrame): DataFrame = {
    val assigned = assignClusters(
        embeddings.select(col("vec_id"), col("embedding"), col("label")),
        trainCentroids(embeddings, TopicK))
      .select(col("cluster"), col("label").cast("long").as("label"))
    // materialized: both consumers (the top-label window and the
    // per-cluster agg) otherwise re-run the assignment scan
    assigned.groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
  }

  /** Semantic topic clustering — the corpus-balancing report a training
    * pipeline runs before fixing mixture weights (cluster-and-rebalance /
    * cluster-based semantic dedup both start here): Lloyd-cluster the
    * embedding corpus, then per cluster report its size, label diversity,
    * and dominant source label. Reuses [[trainCentroids]] (k = [[TopicK]])
    * and the map-only [[assignClusters]] assignment, so the whole query adds
    * exactly one count-sized shuffle on top of training: assignment is an
    * expression against the broadcast centroid array, the (cluster, label)
    * agg is map-side combined, and the dominant-label window runs over at
    * most k × |labels| rows. At 100 TB nothing doc-sized moves after the
    * per-(bucket, dim) training shuffles (nlist × dim rows per Lloyd
    * round).
    *
    * Deterministic end to end (same argument chain as [[knnIvfTrained]]),
    * so hash-checked against the DuckDB Lloyd-CTE mirror.
    */
  def topicClusters(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val lc = topicLabelCounts(embeddings)
    val top = lc
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("n").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("label").as("top_label"), col("n").as("n_top"))
    lc.groupBy(col("cluster"))
      .agg(sum(col("n")).as("n_vecs"), count(lit(1)).as("n_labels"))
      .join(top, Seq("cluster"))
      .select(col("cluster"), col("n_vecs"), col("n_labels"),
        col("top_label"), col("n_top"))
      .orderBy(col("cluster"))
  }

  /** Result depth for [[embeddingOutliers]]. */
  private[graft] val OutlierK = 20

  /** The [[OutlierK]] vectors FARTHEST from their assigned Lloyd centroid
    * (lowest assignment cosine) — the out-of-distribution screen run
    * before trusting an embedding corpus: encoder glitches, empty-input
    * embeddings and domain strays all surface as centroid outliers.
    * Deterministic (trained centroids + tie-broken argmax), so
    * hash-checked. Output: (rank, vec_id, cluster, cos_sim).
    *
    * Shape at 100 TB: the same map-only broadcast-centroid assignment as
    * [[topicClusters]] — the outlier screen adds one
    * `TakeOrderedAndProject` over (cos, vec_id), K rows per partition.
    */
  def embeddingOutliers(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    assignClusters(embeddings.select(col("vec_id"), col("embedding")),
        trainCentroids(embeddings, TopicK))
      .select(col("vec_id"), col("cluster"), col("csim").as("cos_sim"))
      .orderBy(col("cos_sim").asc, col("vec_id"))
      .limit(OutlierK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cos_sim").asc, col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("cluster"), col("cos_sim"))
      .orderBy(col("rank"))
  }

  /** DuckDB twin of [[embeddingOutliers]] — the shared Lloyd chain, rn=1
    * assignment carrying the winning cosine, ascending top-K.
    */
  val embeddingOutliersSql: String =
    s"""${lloydChainCtesSql}, scoredv AS (
       |  SELECT e.vec_id, c.lbl AS cluster,
       |         ${cosSql("e.emb", "c.c")} AS cos_sim,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosSql("e.emb", "c.c")} DESC, c.lbl) AS rn
       |  FROM e, c$LloydIters c
       |), a AS (
       |  SELECT vec_id, cluster, cos_sim FROM scoredv WHERE rn = 1
       |)
       |SELECT CAST(row_number() OVER (ORDER BY cos_sim ASC, vec_id) AS BIGINT) AS rank,
       |       vec_id, cluster, cos_sim
       |FROM a ORDER BY cos_sim ASC, vec_id LIMIT $OutlierK""".stripMargin

  /** Cluster-quality report over the [[topicClusters]] assignment: per
    * cluster, purity (dominant-label fraction — the standard external
    * clustering metric) and label entropy at
    * [[graft.pipeline.TextAnalysis.EntScale]] fixed point (the
    * [[graft.pipeline.TextAnalysis.docEntropy]] construction: one rounded
    * ln per distinct count, exact BIGINT sums, so the result is
    * order-invariant and hash-checked — `ent_fp` is entropy × n_vecs ×
    * EntScale, unnormalized for the same reason).
    *
    * Shape at 100 TB: the contingency relation `lc` is (k × labels)-sized
    * — everything downstream of the one map-only assignment pass is
    * count-sized aggregation; the purity/entropy arithmetic adds no
    * corpus-scaled work.
    */
  def topicPurity(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val lnFp: Column => Column =
      c => round(log(c.cast("double")) * TextAnalysis.EntScale).cast("long")
    val lc = topicLabelCounts(embeddings)
    val top = lc
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("n").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("n").as("n_top"))
    lc.groupBy(col("cluster"))
      .agg(sum(col("n")).as("n_vecs"), sum(col("n") * lnFp(col("n"))).as("nlnn"))
      .join(top, Seq("cluster"))
      .select(col("cluster"), col("n_vecs"), col("n_top"),
        (col("n_top").cast("double") / col("n_vecs")).as("purity"),
        (col("n_vecs") * lnFp(col("n_vecs")) - col("nlnn")).as("ent_fp"))
      .orderBy(col("cluster"))
  }

  /** DuckDB twin of [[topicClusters]]: the [[lloydRoundSql]] chain at
    * k = [[TopicK]], rn = 1 assignment, then the same two count-sized aggs.
    */
  /** Shared CTE chain `e` → Lloyd rounds → `assigned` → `lc` → `top` for
    * the topic-cluster oracles ([[topicClustersSql]] / [[topicPuritySql]])
    * — one definition of the contingency relation, mirroring
    * [[topicLabelCounts]] on the Spark side.
    */
  /** The Lloyd training chain alone: `e` → `c0` → rounds → `c{LloydIters}`
    * at k = [[TopicK]] — shared by the topic-cluster oracles and
    * [[embeddingOutliersSql]].
    */
  private def lloydChainCtesSql: String = {
    val rounds = (1 to LloydIters)
      .map(n => lloydRoundSql(s"c${n - 1}", n)).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), c0 AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < $TopicK
       |), $dvCteSql, $rounds""".stripMargin
  }

  private def topicLcCtesSql: String = {
    s"""${lloydChainCtesSql}, assigned AS (
       |  SELECT vec_id, lbl AS cluster FROM (
       |    SELECT e.vec_id, c.lbl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.emb", "c.c")} DESC, c.lbl) AS rn
       |    FROM e, c$LloydIters c) WHERE rn = 1
       |), lc AS (
       |  SELECT a.cluster, CAST(em.label AS BIGINT) AS label, count(*) AS n
       |  FROM assigned a JOIN embeddings em USING (vec_id)
       |  GROUP BY a.cluster, em.label
       |), top AS (
       |  SELECT cluster, label AS top_label, CAST(n AS BIGINT) AS n_top FROM (
       |    SELECT cluster, label, n,
       |           row_number() OVER (PARTITION BY cluster
       |             ORDER BY n DESC, label) AS rk
       |    FROM lc) WHERE rk = 1
       |)""".stripMargin
  }

  val topicClustersSql: String =
    s"""${topicLcCtesSql}
       |SELECT t.cluster, t.n_vecs, t.n_labels, top.top_label, top.n_top
       |FROM (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_vecs,
       |             CAST(count(*) AS BIGINT) AS n_labels
       |      FROM lc GROUP BY cluster) t
       |JOIN top USING (cluster)
       |ORDER BY cluster""".stripMargin

  /** DuckDB twin of [[topicPurity]]: the shared [[topicLcCtesSql]] chain,
    * then the purity ratio and the [[graft.pipeline.TextAnalysis.EntScale]]
    * fixed-point entropy over the per-cluster label counts.
    */
  val topicPuritySql: String = {
    val S = TextAnalysis.EntScale
    s"""${topicLcCtesSql}
       |SELECT g.cluster, g.n_vecs, top.n_top,
       |       CAST(top.n_top AS DOUBLE) / g.n_vecs AS purity,
       |       CAST(g.n_vecs * CAST(round(ln(CAST(g.n_vecs AS DOUBLE)) * $S) AS BIGINT)
       |            - g.nlnn AS BIGINT) AS ent_fp
       |FROM (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_vecs,
       |             CAST(sum(n * CAST(round(ln(CAST(n AS DOUBLE)) * $S) AS BIGINT)) AS BIGINT) AS nlnn
       |      FROM lc GROUP BY cluster) g
       |JOIN top USING (cluster)
       |ORDER BY cluster""".stripMargin
  }

  /** Cosine threshold for [[dedupSemantic]] near-dup pairs — matches the
    * [[dedupEmbedding]] family so the synthetic corpus yields non-trivial
    * groups (the paper runs 0.95+ on real embeddings; a constant, the
    * semantics don't depend on its value).
    */
  private[graft] val SemDedupTau = 0.45

  /** SemDeDup — cluster-pruned semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): Lloyd-cluster the embedding corpus (k = [[TopicK]],
    * reusing [[trainCentroids]]), generate candidate pairs only WITHIN a
    * cluster, group near-dups (cos ≥ [[SemDedupTau]]) by connected
    * components, and keep per group the member FARTHEST from its cluster
    * centroid (the paper's keep rule: retain the least-prototypical
    * example, drop the redundant mass near the centroid). Pairs that span
    * clusters are unseen by design — that is the prune that makes the
    * method scale.
    *
    * Shape at 100 TB: the pair space falls from N² to Σ|cluster|²
    * (clusters shrink as k grows; k is a parameter of the corpus size).
    * Candidates pair skinny — (id, id) longs from the assignment relation,
    * vectors re-joined only for the cosine verify, the
    * [[dedupEmbeddingAnn]] pattern. Components run in O(log diameter)
    * rounds ([[Graph.connectedComponents]]); the keep window partitions by
    * group. Everything downstream of assignment moves ids and doubles,
    * never embeddings.
    *
    * Output: one row per vector — (vec_id, cluster, group_id, csim, keep);
    * singletons form their own group and are kept. Deterministic
    * (seeded Lloyd + exact cosines + id tie-breaks) ⇒ hash-checked against
    * the DuckDB Lloyd-CTE + recursive-closure mirror.
    */
  def dedupSemantic(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    // k = ⌈√N⌉ (floor TopicK) — SemDeDup's own scaling posture: k grows
    // with the corpus so the within-cluster pair space Σ|cluster|² stays
    // ≈ N^1.5 instead of N²/k (see adaptiveNlist for the sweep incident).
    // Training is canonical-with-weights inside trainCentroids (duplicates
    // still weight the means, as gsz multiplicities — the oracle's dv
    // chain trains the same way), so every stage here — training
    // assignment, indexing, pairs, components — pays reps-sized work;
    // assignment/pairs/components run on canonical reps
    // ([[canonicalVectors]]): (cluster, csim) are pure functions of the
    // vector, so members inherit their rep's row, and the within-cluster
    // pair join no longer squares with replication.
    val e = withNorm(embeddings)
    val (reps, members) = canonicalVectors(e)
    // rep weights from the member map — rep-sized aggs over the canonical
    // checkpoint instead of [[trainCentroids]]' second full-corpus
    // hash-agg on the vector column (the corpus was already exchanged
    // once by the canonicalVectors window; identical (vec_id, embedding,
    // nrm, gsz) rows: rep_id = min member id, nrm is the same expression
    // over the identical vector, gsz = member count)
    val repsW = reps.join(
        members.groupBy(col("rep_id")).agg(count(lit(1)).as("gsz"))
          .withColumnRenamed("rep_id", "vec_id"), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("gsz"))
      .localCheckpoint(eager = true) // every Lloyd round reads it
    val cents = trainCentroidsOn(e, repsW, adaptiveNlist(embeddings, TopicK))
    // materialize: assignment feeds the pair join (both sides) and the
    // final output (localCheckpoint → ContextCleaner reclaims, no leak)
    val repIdx = semanticIndex(reps.select(col("vec_id"), col("embedding")), cents)
      .localCheckpoint(eager = true)
    val repComp = Graph.connectedComponents(semanticPairsFrom(repIdx))
    // Expanded-graph component labels recover from rep-level CC: every
    // duplicate group is a clique under the naive pair relation (the
    // member-member cosine IS the rep self-cosine ≈ 1 ≥ τ — and a
    // degenerate NaN compares ≥ τ in both engines too), so expanded
    // components = rep components with each group attached at its rep,
    // and the least member of an expanded component is the least rep
    // (rep_id = min member id by construction).
    members
      .join(repIdx.select(col("vec_id").as("rep_id"), col("cluster"), col("csim")),
        Seq("rep_id"))
      .join(repComp.withColumnRenamed("vertex", "rep_id"), Seq("rep_id"), "left_outer")
      .withColumn("group_id", coalesce(col("component"), col("rep_id")))
      .withColumn("keep", (row_number().over(
        Window.partitionBy(col("group_id"))
          .orderBy(col("csim").asc, col("vec_id"))) === 1).cast("long"))
      .select(col("vec_id"), col("cluster"), col("group_id"), col("csim"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** Cluster assignment against an explicit (static) centroid set, every
    * input column preserved plus (nrm, cluster, csim): one [[nearest]]
    * call per row against the broadcast centroid array — map-only at any
    * k, so the same expression serves batch and the
    * [[graft.streaming.StreamJobs]] IVF-ingest, topic-report and
    * semantic-dedup twins. `centroids`: per-label (lbl, cvec, cnrm) rows.
    */
  def assignClusters(df: DataFrame, centroids: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .crossJoin(broadcast(toCentroidArray(centroids)))
      .withColumn("best", try_element_at(nearest(1), lit(1)))
      .select(df.columns.map(col) ++ Seq(col("nrm"),
        col("best.lbl").as("cluster"), col("best.sim").as("csim")): _*)

  /** The clustered reference index (vec_id, embedding, nrm, cluster,
    * csim) both [[dedupSemantic]] and the streaming twin's static side
    * build on — [[assignClusters]] over (vec_id, embedding), so the
    * streaming twin's per-row assignment agrees row-for-row
    * (parity-tested).
    */
  def semanticIndex(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    assignClusters(embeddings.select(col("vec_id"), col("embedding")), centroids)

  /** Within-cluster verified near-dup pairs (id_a < id_b, cos ≥
    * [[SemDedupTau]]) over a [[semanticIndex]] relation. The self-join
    * shuffles each vector ONCE into its cluster partition with its
    * embedding and cached norm aboard, so pair verification is
    * partition-local — no per-pair re-fetch join; pair rows carry
    * embeddings only into the map-side cosine filter, and only (id, id)
    * longs survive it.
    */
  private[graft] def semanticPairsFrom(idx: DataFrame): DataFrame =
    idx.as("a")
      .join(idx.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .filter((dot(col("a.embedding"), col("b.embedding"))
        / (col("a.nrm") * col("b.nrm"))) >= SemDedupTau)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))

  /** DuckDB twin of [[dedupSemantic]]: the [[lloydRoundSql]] chain at the
    * corpus-sized k (⌈√N⌉ floored at [[TopicK]], the [[adaptiveNlist]]
    * scalar subquery) over the FULL corpus, then — mirroring the
    * [[canonicalVectors]] rewrite — rn = 1 assignment on canonical reps
    * only, rep-level within-cluster pairs, recursive-CTE closure on rep
    * edges (the [[graft.pipeline.Dedup]] clusters pattern), and the
    * member expansion with the farthest-from-centroid keep window.
    */
  val dedupSemanticSql: String = {
    val rounds = (1 to LloydIters)
      .map(n => lloydRoundSql(s"c${n - 1}", n)).mkString(",\n")
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE $validVecsWhereSql
       |), c0 AS (
       |  SELECT vec_id AS lbl, emb AS c FROM e WHERE vec_id < ${adaptiveNlistSql(TopicK)}
       |), $dvCteSql, $rounds, $canonicalCtesSql, assigned AS (
       |  SELECT vec_id, CAST(lbl AS BIGINT) AS cluster, cs AS csim FROM (
       |    SELECT r.vec_id, c.lbl, ${cosSql("r.emb", "c.c")} AS cs,
       |           row_number() OVER (PARTITION BY r.vec_id
       |             ORDER BY ${cosSql("r.emb", "c.c")} DESC, c.lbl) AS rn
       |    FROM reps r, c$LloydIters c) WHERE rn = 1
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM assigned a
       |  JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  JOIN reps ea ON ea.vec_id = a.vec_id
       |  JOIN reps eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosSql("ea.emb", "eb.emb")} >= $SemDedupTau
       |), edges AS (
       |  SELECT id_a AS s, id_b AS t FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs
       |), reach AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s
       |), comp AS (
       |  SELECT s AS vec_id, least(s, min(t)) AS group_id
       |  FROM reach GROUP BY s
       |)
       |SELECT m.vec_id, a.cluster,
       |       coalesce(c.group_id, m.rep_id) AS group_id, a.csim,
       |       CAST(row_number() OVER (
       |              PARTITION BY coalesce(c.group_id, m.rep_id)
       |              ORDER BY a.csim ASC, m.vec_id) = 1 AS BIGINT) AS keep
       |FROM members m
       |JOIN assigned a ON a.vec_id = m.rep_id
       |LEFT JOIN comp c ON c.vec_id = m.rep_id
       |ORDER BY m.vec_id""".stripMargin
  }

  // ---- Random projection (Johnson–Lindenstrauss) ----

  /** Projected dimensionality for [[jlProject]] (64 → 16). */
  private[graft] val JlDim = 16

  /** Source dimensionality of the embeddings corpus (asserted by
    * [[embeddingStats]]' QA gate). */
  private[graft] val JlSrcDim = 64

  /** The ±1 projection matrix, row j = the sign vector of output
    * dimension j — derived from md5 of "jl:j:i" on the driver, so the
    * matrix is a pure constant (Achlioptas 2003: ±1 entries satisfy the
    * JL lemma like Gaussians do) and can be interpolated verbatim into
    * the oracle SQL.
    */
  private[graft] lazy val jlSigns: Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until JlDim).map(j => (0 until JlSrcDim).map { i =>
      if ((md.digest(s"jl:$j:$i".getBytes("UTF-8"))(0) & 1) == 0) 1 else -1
    })
  }

  /** Johnson–Lindenstrauss random projection — 64-dim embeddings down to
    * [[JlDim]] dims with expected pairwise-distance preservation
    * (y = Rx/√d for a ±1 sign matrix R). The dim-reduction step before
    * cheaper ANN index builds and distance sketches: scanning 16 doubles
    * instead of 64 floats, with distances preserved in expectation.
    *
    * Scale shape: map-only — each output dim is one codegen'd
    * [[graft.functions.FloatVecDot]] against a broadcast-literal sign
    * vector, then a width-[[JlDim]] posexplode; no shuffle at all (the
    * output sort is the driver-contract presentation sort). The √d
    * divisor is 4 = 2², so the division is exact and the projected
    * values are bit-identical across engines (same ascending-index
    * double-accumulator dot as the cosine family).
    *
    * Output: (vec_id, j, proj) — one row per vector per projected dim.
    */
  /** Stateless core (no sort) — runs unchanged on a stream; see
    * `StreamJobs.jlProjectStream`. */
  def jlProjectCore(embeddings: DataFrame): DataFrame = {
    val projCols = jlSigns.zipWithIndex.map { case (s, j) =>
      (dot(col("embedding"), typedLit(s.map(_.toFloat).toArray)) / 4.0).as(s"p$j")
    }
    // dimension gate: a NULL or wrong-length vector has no defined
    // projection — drop it here (size(NULL) is NULL, so the predicate
    // rejects NULLs too). Mirrored by `len(embedding) = dim` in the twin;
    // without it the oracle's list_dot_product ERRORS on a 0-length list
    // while the engine's fold would silently emit 0.0.
    embeddings.filter(size(col("embedding")) === JlSrcDim)
      .select(col("vec_id") +: projCols: _*)
      .select(col("vec_id"),
        posexplode(array((0 until JlDim).map(j => col(s"p$j")): _*)))
      .select(col("vec_id"), col("pos").cast("long").as("j"), col("col").as("proj"))
  }

  def jlProject(embeddings: DataFrame): DataFrame =
    jlProjectCore(embeddings).orderBy(col("vec_id"), col("j"))

  /** DuckDB twin of [[jlProject]] — the identical sign matrix as literal
    * rows, the same double-fold dot ([[cosSql]]'s `list_dot_product`
    * precedent), the same exact /4 scaling.
    */
  val jlProjectSql: String = {
    val rows = jlSigns.zipWithIndex.map { case (s, j) =>
      s"($j, [${s.map(v => s"$v.0").mkString(", ")}])"
    }.mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |  WHERE len(embedding) = $JlSrcDim
       |), m(j, s) AS (
       |  VALUES
       |    $rows
       |)
       |SELECT vec_id, CAST(m.j AS BIGINT) AS j,
       |       list_dot_product(e.emb, m.s) / 4.0 AS proj
       |FROM e, m ORDER BY vec_id, j""".stripMargin
  }

  // ---- Principal direction (integer power iteration) ----

  /** Input quantization AND eigenvector fixed-point scale (1e-6): each
    * embedding coordinate is rounded ONCE, every later step is exact
    * integer arithmetic. */
  private[graft] val PcaScale = 1000000L

  /** Moment-matrix rescale target: cells are floor-divided down to
    * ≤ ~1e9 so a matvec against a 1e6-scaled vector stays far inside
    * BIGINT (64 · 1e9 · 1e6 ≈ 6.4e16). */
  private val PcaMScale = 1000000000L

  /** Power-iteration rounds — fixed, so results are deterministic (the
    * [[graft.pipeline.Dedup]] PageRank convention). */
  private val PcaIters = 8

  // NOTE on division: Spark's `div` and DuckDB's `//` BOTH truncate
  // toward zero (verified: -7 // 2 = -3 in DuckDB), so bare `div` is the
  // correct mirror even on the negative moment cells — no floor shim.

  /** Principal direction of the embedding corpus — the whitening/PCA
    * family's first step (deduplication-aware curation pipelines run
    * PCA before clustering; SemDeDup's authors whiten first), computed
    * as INTEGER power iteration on the fixed-point second-moment
    * matrix, the [[graft.pipeline.Dedup]] integer-PageRank recipe
    * applied to a dense 64×64 operator:
    *
    *  - each coordinate is quantized once at [[PcaScale]];
    *  - the uncentered second-moment matrix M_ij = Σ_v x_i·x_j is an
    *    exact BIGINT aggregate of per-vector outer products (documented
    *    deviation: no mean-centering — the exact centered form needs
    *    n²-scaled integers that overflow BIGINT; for ~zero-centered
    *    embedding corpora the top second-moment direction is the PCA
    *    direction);
    *  - M rescales to ≤ ~[[PcaMScale]] by one data-dependent but
    *    engine-mirrored floor division;
    *  - [[PcaIters]] matvec rounds with max-norm renormalization, all
    *    in floor-division integer arithmetic — bit-identical
    *    cross-engine, hash-checked.
    *
    * Shape at 100 TB: the ONLY corpus-sized stage is the outer-product
    * explode (dim² skinny rows per vector, map-side combined to dim²
    * aggregate cells per partition); everything after operates on the
    * 4096-row moment relation, materialized once. Overflow bound:
    * |x| ≤ ~4 ⇒ cell magnitude ≤ 1.6e13 per vector ⇒ exact to ~500k
    * vectors per corpus at this scale (rescale [[PcaScale]] down for
    * more).
    *
    * Output: (pos 1..64, v_fp) — the direction at [[PcaScale]] fixed
    * point, max-norm 1e6.
    */
  def embeddingPca(embeddingsRaw: DataFrame): DataFrame = {
    val spark = embeddingsRaw.sparkSession
    import spark.implicits._
    val v = pcaPowerIterate(pcaMomentCells(embeddingsRaw))
    v.zipWithIndex.toSeq
      .map { case (x, p) => ((p + 1).toLong, x) }
      .toDF("pos", "v_fp")
      .orderBy(col("pos"))
  }

  /** The one corpus-sized stage of the PCA family: the exact dim² integer
    * second-moment cells, collected to the driver. One tight-loop pass per
    * partition (graft.agg.MomentAgg): each task folds its vectors into a
    * dim² long buffer, 32 buffers merge at the end — no dim²-row explode,
    * no interpreted HOF lambdas (measured 4.1 s → ~1 s at sf0.1 vs the
    * nested-transform explode), identical exact integer sums. The collect
    * is ONE row of dim² longs (32 KiB at dim 64) — corpus-size-INDEPENDENT
    * by construction, the same class of driver transfer as a broadcast
    * build or a sketch read, not a data collect.
    */
  private[graft] def pcaMomentCells(embeddingsRaw: DataFrame): Array[Long] = {
    val embeddings = validVecs(embeddingsRaw)
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings
      .select(transform(col("embedding"),
        x => round(x.cast("double") * PcaScale).cast("long")).as("xs"))
      .as[Array[Long]]
      .select(new graft.agg.MomentAgg(Dim).toColumn) // Dataset[MomentBuf]
      .head().cells
  }

  /** The [[PcaIters]] power-iteration rounds on the dim × dim moment
    * matrix, run on the DRIVER: the iterate is a fixed 64-long vector and
    * the operator a fixed 4096-long matrix, so distributing the rounds
    * bought nothing but scheduling — measured 64 Spark jobs / 3.6 s wall
    * for 0.57 s of task time at sf0.1 (round-16 optimization pass); the
    * identical integer arithmetic here is microseconds and corpus-size-
    * independent. Bit-exact mirror of the distributed form this replaces
    * AND of the oracle's unrolled CTE rounds ([[pcaCtesSql]]): Scala `/`
    * on Long truncates toward zero exactly like Spark `div` and DuckDB
    * `//` (the NOTE above), max-norm renormalization per round, matvec
    * sums in exact BIGINT range (|m| ≤ ~2·PcaMScale=2e9, |v| ≤
    * ~2·PcaScale=2e6, dim=64 ⟹ |w| ≤ ~2.6e17 < 2^63 — the identical bound
    * the distributed rounds ran under).
    */
  private[graft] def pcaPowerIterate(cells: Array[Long]): Array[Long] = {
    val n = Dim
    var md = 0L
    cells.foreach(c => if (math.abs(c) > md) md = math.abs(c))
    val divM = math.max(1L, md / PcaMScale)
    val ms = cells.map(_ / divM)
    var v = Array.fill(n)(PcaScale)
    for (_ <- 1 to PcaIters) {
      val w = new Array[Long](n)
      var i = 0
      while (i < n) {
        var s = 0L
        val base = i * n
        var j = 0
        while (j < n) { s += ms(base + j) * v(j); j += 1 }
        w(i) = s
        i += 1
      }
      var wm = 0L
      w.foreach(x => if (math.abs(x) > wm) wm = math.abs(x))
      val divW = math.max(1L, wm / PcaScale)
      v = w.map(_ / divW)
    }
    v
  }

  /** Shared oracle CTE chain producing the quantized coordinates (`x`)
    * and the converged direction (`n`[[PcaIters]]) — used by both
    * [[embeddingPcaSql]] and [[pcaProjectSql]] so the twins cannot
    * drift. Every CTE is MATERIALIZED: each round references its
    * predecessor twice (matvec + the max-norm scalar subquery), and
    * DuckDB inlines CTEs by default — 8 rounds of double reference
    * would re-expand the corpus-sized moment join 2^8 times (the
    * dedupCentralitySql lesson).
    */
  private def pcaCtesSql: String = {
    def round(prev: String, n: Int): String =
      s"""w$n AS MATERIALIZED (
         |  SELECT ms.i AS pos, CAST(sum(ms.m * v.v) AS BIGINT) AS w
         |  FROM ms JOIN $prev v ON ms.j = v.pos GROUP BY 1
         |), n$n AS MATERIALIZED (
         |  SELECT pos, CAST(w // greatest(1, (SELECT max(abs(w)) FROM w$n) // $PcaScale) AS BIGINT) AS v
         |  FROM w$n
         |)""".stripMargin
    val rounds = (1 to PcaIters).map(n => round(s"n${n - 1}", n)).mkString(",\n")
    s"""x AS MATERIALIZED (
       |  SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS pos,
       |         CAST(round(emb[u.i] * $PcaScale) AS BIGINT) AS xs
       |  FROM (SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS emb
       |        FROM embeddings WHERE $validVecsWhereSql) e,
       |       unnest(generate_series(1, len(emb))) AS u(i)
       |), mm AS MATERIALIZED (
       |  SELECT a.pos AS i, b.pos AS j, CAST(sum(a.xs * b.xs) AS BIGINT) AS m
       |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
       |), ms AS MATERIALIZED (
       |  SELECT i, j,
       |         CAST(m // greatest(1, (SELECT max(abs(m)) FROM mm) // $PcaMScale) AS BIGINT) AS m
       |  FROM mm
       |), n0 AS MATERIALIZED (
       |  SELECT DISTINCT j AS pos, CAST($PcaScale AS BIGINT) AS v FROM ms
       |), $rounds""".stripMargin
  }

  /** DuckDB twin of [[embeddingPca]]: the same quantization, the
    * pair-join second moment, the same truncating integer divisions
    * ([[PcaIters]] unrolled rounds; `//` and Spark `div` share
    * truncate-toward-zero semantics, negative cells included).
    */
  val embeddingPcaSql: String =
    s"""WITH $pcaCtesSql
       |SELECT CAST(pos + 1 AS BIGINT) AS pos, v AS v_fp
       |FROM n$PcaIters ORDER BY pos""".stripMargin

  /** Projection of every embedding onto the [[embeddingPca]] direction —
    * the dimension-reduce / whitening-coordinate step the direction
    * exists for. proj_fp = Σ_i xs_i · v_i is an exact BIGINT dot of the
    * once-quantized coordinates with the integer direction, so per-vec
    * projections are hash-exact. Shape: the 64-row direction broadcasts
    * to a skinny posexplode join, one map-side-combined per-vec sum —
    * nothing wider than (vec_id, long) shuffles.
    */
  def pcaProject(embeddingsRaw: DataFrame): DataFrame = {
    val embeddings = validVecs(embeddingsRaw)
    val spark = embeddings.sparkSession
    val dir = embeddingPca(embeddings)
      .select((col("pos") - 1).as("pos"), col("v_fp"))
    embeddings
      .select(col("vec_id"), posexplode(transform(col("embedding"),
        x => round(x.cast("double") * PcaScale).cast("long"))).as(Seq("pos", "xs")))
      .join(broadcast(dir), Seq("pos"))
      .groupBy(col("vec_id"))
      .agg(sum(col("xs") * col("v_fp")).as("proj_fp"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB twin of [[pcaProject]] — the shared [[pcaCtesSql]] chain,
    * then the same exact integer dot per vector.
    */
  val pcaProjectSql: String =
    s"""WITH $pcaCtesSql
       |SELECT x.vec_id, CAST(sum(x.xs * n.v) AS BIGINT) AS proj_fp
       |FROM x JOIN n$PcaIters n USING (pos)
       |GROUP BY x.vec_id ORDER BY x.vec_id""".stripMargin
}
