package graft

import graft.functions.{NearestCentroids, VecFunctions}
import graft.pipeline.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B for the native [[graft.functions.NearestCentroids]] kernel against
  * the pair-row + `row_number` form it replaced in every IVF, Lloyd and
  * cluster assignment — on sf0.001 embeddings at several k and n, on tie
  * and edge fixtures, interpreted against generated code, and end to end
  * through the IVF searches at a probe width the replaced
  * per-centroid-column form could not plan.
  */
class NearestCentroidsSpec extends SparkSuite {

  private lazy val embs = Tables.embeddings(spark, sf())

  /** (vec_id, embedding, nrm) over the gated corpus. */
  private lazy val vecs = withNrm(Knn.validVecs(embs).select(col("vec_id"), col("embedding")))

  private def withNrm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(Knn.dot(col("embedding"), col("embedding"))))

  /** (lbl, cvec, cnrm) seed centroids: the first `k` vectors by id. */
  private def seeds(k: Int): DataFrame =
    vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("lbl"), col("embedding").as("cvec"), col("nrm").as("cnrm"))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** The deleted pair-row form, verbatim — the spec's ground truth: a
    * broadcast nested loop of centroid rows against the vectors, one dot
    * per pair, ranked by `row_number` over (sim DESC, lbl ASC). Rows are
    * (vec_id, rank, lbl, sim). */
  private def legacyRanked(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("lbl"),
        (Knn.dot(col("embedding"), col("cvec")) / (col("nrm") * col("cnrm"))).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("lbl").asc)))
      .select(col("vec_id"), col("rn"), col("lbl"), col("sim"))

  private def legacyTop(v: DataFrame, cents: DataFrame, n: Int): Set[(Long, Int, Long, Long)] =
    legacyRanked(v, cents).filter(col("rn") <= n).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), bits(r.getDouble(3)))).toSet

  private def nearest(v: DataFrame, cents: DataFrame, n: Int): DataFrame =
    v.crossJoin(broadcast(
        cents.agg(collect_list(struct(col("lbl"), col("cvec"), col("cnrm"))).as("cents"))))
      .select(col("vec_id"),
        VecFunctions.nearestCentroids(col("embedding"), col("nrm"), col("cents"), n).as("top"))

  private def kernelTop(v: DataFrame, cents: DataFrame, n: Int): Set[(Long, Int, Long, Long)] =
    nearest(v, cents, n).select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "b")))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1) + 1, r.getStruct(2).getLong(0),
        bits(r.getStruct(2).getDouble(1)))).toSet

  private def ab(v: DataFrame, cents: DataFrame, n: Int): Unit = {
    val want = legacyTop(v, cents, n)
    assert(want.nonEmpty)
    assert(kernelTop(v, cents, n) == want, s"n = $n")
  }

  test("kernel top-n == pair-row row_number form on sf0.001 embeddings") {
    // the per-centroid column form overflowed Janino's 64 KB method limit
    // at k = 128 and silently ran interpreted; with fallback off, a
    // generated-code blow-up at any k fails here instead
    withoutCodegenFallback {
      for (k <- Seq(4, 8, 64, 128); n <- Seq(1, 2, 4)) {
        withClue(s"k = $k: ")(ab(vecs, seeds(k), n))
      }
    }
  }

  test("kernel ties and edges: duplicate centroids, signed zero, n > k, no centroids") {
    import spark.implicits._
    val v = withNrm(Seq(
      (100L, Array(1f, 0f)), (101L, Array(0f, 1f)), (102L, Array(0.6f, 0.8f)),
      (103L, Array(-1f, -1f))).toDF("vec_id", "embedding"))
    // duplicate centroids: labels 7 and 3 share one vector, so every
    // vector ties on them and the tie goes to the lower label
    val dup = Seq((7L, Array(0f, 1f), 1.0), (3L, Array(0f, 1f), 1.0),
      (5L, Array(1f, 0f), 1.0)).toDF("lbl", "cvec", "cnrm")
    for (n <- Seq(1, 2, 3)) ab(v, dup, n)
    val top = kernelTop(v, dup, 3)
    assert(top.contains((101L, 1, 3L, bits(1.0))) && top.contains((101L, 2, 7L, bits(1.0))))
    // orthogonal vector against a centroid with a negative norm gives
    // sim −0.0 next to 0.0: the two compare equal, so the label decides
    // (java.lang.Double.compare would rank the 0.0 entry first)
    val zeros = Seq((1L, Array(0f, 1f), -1.0), (2L, Array(0f, 1f), 1.0))
      .toDF("lbl", "cvec", "cnrm")
    val x = v.filter(col("vec_id") === 100L)
    ab(x, zeros, 2)
    assert(kernelTop(x, zeros, 2) ==
      Set((100L, 1, 1L, bits(-0.0)), (100L, 2, 2L, bits(0.0))))
    // n > k: every centroid, ranked
    ab(v, dup, 5)
    assert(kernelTop(v, dup, 5).size == 4 * 3)
    // no centroids: an empty array per vector, not NULL
    val none = dup.filter(lit(false))
    assert(nearest(v, none, 2).select(size(col("top"))).collect().map(_.getInt(0)).toSeq ==
      Seq(0, 0, 0, 0))
    assert(legacyTop(v, none, 2).isEmpty)
  }

  test("Lloyd round runs the kernel once per vector, below the posexplode") {
    // a kernel projected above the Generate would run once per
    // (vector, dimension) row: dim times the assignment work every round
    val reps = vecs.withColumn("gsz", lit(1L))
    val lines = Knn.lloydRoundMeans(reps, seeds(8))
      .queryExecution.executedPlan.toString.split("\n").toSeq
    val gen = lines.indexWhere(_.contains("Generate posexplode"))
    val kernel = lines.zipWithIndex.collect { case (l, i) if l.contains("nearest_centroids") => i }
    assert(gen >= 0 && kernel.nonEmpty && kernel.forall(_ > gen), lines.mkString("\n"))
  }

  test("kernel interpreted eval == generated code") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, codegen}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    val centsType = ArrayType(StructType(Seq(StructField("lbl", LongType),
      StructField("cvec", ArrayType(FloatType)), StructField("cnrm", DoubleType))))
    val rows = vecs.filter(col("vec_id") < 128).orderBy("vec_id").collect()
    val ent = rows.map(r => InternalRow(r.getLong(0),
      ArrayData.toArrayData(r.getSeq[Float](1).toArray), r.getDouble(2)))
    // a duplicate of centroid 0 under a higher label forces one tie
    val cents = new GenericArrayData((ent :+ InternalRow(1000L, ent(0).getArray(1),
      ent(0).getDouble(2))).toSeq)
    def read(a: ArrayData): Seq[(Long, Long)] =
      (0 until a.numElements()).map { j =>
        val s = a.getStruct(j, 2)
        (s.getLong(0), bits(s.getDouble(1)))
      }
    for (n <- Seq(0, 1, 4, 200)) {
      val expr = NearestCentroids(BoundReference(0, ArrayType(FloatType), nullable = true),
        BoundReference(1, DoubleType, nullable = true), BoundReference(2, centsType, nullable = true), n)
      val proj = codegen.GenerateUnsafeProjection.generate(Seq(expr))
      rows.take(16).foreach { r =>
        val in = InternalRow(ArrayData.toArrayData(r.getSeq[Float](1).toArray), r.getDouble(2), cents)
        val interp = read(expr.eval(in).asInstanceOf[ArrayData])
        assert(interp == read(proj(in).getArray(0)), s"vec ${r.getLong(0)}, n = $n")
        assert(interp.length == math.min(n, 129))
      }
      val nullIn = InternalRow(null, 1.0, cents)
      assert(expr.eval(nullIn) == null && proj(nullIn).isNullAt(0))
    }
  }

  test("knnIvf and ballQuery at nlist = 16, nprobe = 3 equal the pair-row probe reference") {
    // the per-centroid column form built an optimizer tree that grew with
    // nlist × nprobe and died with OutOfMemoryError in a 4 GB driver here
    val (nlist, nprobe) = (16, 3)
    val ranked = legacyRanked(vecs, seeds(nlist))
    val bucket = ranked.filter(col("rn") === 1).select(col("vec_id"), col("lbl").as("bucket"))
    val probes = ranked.filter(col("rn") <= nprobe && col("vec_id") < Knn.NumQueries)
      .select(col("vec_id").as("query_id"), col("lbl").as("bucket"))
    val cand = probes.join(bucket, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(vecs.select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("nrm").as("q_nrm")), Seq("query_id"))
      .join(vecs, Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Knn.dot(col("q"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos_sim"))
    val wantIvf = cand
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= Knn.K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .collect().toSet
    assert(wantIvf.size == Knn.NumQueries * Knn.K)
    assert(Knn.knnIvf(embs, nlist = nlist, nprobe = nprobe).collect().toSet == wantIvf)
    val wantBall = cand.filter(col("cos_sim") >= Knn.BallTau).collect().toSet
    assert(wantBall.nonEmpty)
    assert(Knn.ballQuery(embs, nlist = nlist, nprobe = nprobe).collect().toSet == wantBall)
  }
}
