package perfbench

import graft.functions.{HtmlFunctions, PqEncode, TextFunctions, WinnowFunctions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Direct single-threaded calls into the public `graft.functions` kernels
  * over one input directory's documents and embeddings, which are loaded
  * into the driver once, before any timing. */
final class Kernels(texts: Array[UTF8String], pages: Array[UTF8String],
    vecs: Array[ArrayData]) {
  private val textBytes = texts.map(_.numBytes.toLong).sum
  private val pageBytes = pages.map(_.numBytes.toLong).sum
  // product-quantisation codebook as the library lays it out: PqM
  // sub-spaces of PqSubDim dims, PqK centroids each, entries
  // (sub-space, code, centroid, centroid squared norm)
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 16
  private val codebook: ArrayData = new GenericArrayData(
    (0 until PqM).flatMap { j =>
      (0 until PqK).map { k =>
        val v = vecs(k % vecs.length)
        val c = Array.tabulate(PqSubDim)(i => v.getFloat(j * PqSubDim + i))
        val n2 = c.map(x => x.toDouble * x).sum
        new GenericInternalRow(Array[Any](j, k, new GenericArrayData(c), n2)): InternalRow
      }
    }.toArray[Any])
  private val m1 = UTF8String.fromString("a")
  private val m2 = UTF8String.fromString("e")

  /** Median over `reps` passes of ns per unit; each pass loops over the
    * whole input until at least `minNs` has elapsed. */
  private def time(units: Long, reps: Int, minNs: Long)(pass: => Long): Double = {
    var sink = 0L
    val samples = (0 until reps).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      var el = 0L
      while (el < minNs) { sink += pass; n += 1; el = System.nanoTime() - t0 }
      el.toDouble / (n * units)
    }
    if (sink == 42L) print("") // keep the results observable
    Stats.median(samples)
  }

  /** ns/byte (text kernels) and ns/vector (PQ) for each kernel. */
  def measure(reps: Int = 5, minNs: Long = 40000000L): Seq[(String, Double)] = Seq(
    "kernel.html_block_scores.ns_per_byte" -> time(pageBytes, reps, minNs) {
      pages.foldLeft(0L)((a, p) => a + HtmlFunctions.blockScores(p).numElements())
    },
    "kernel.gopher_stats.ns_per_byte" -> time(textBytes, reps, minNs) {
      texts.foldLeft(0L)((a, t) => a + TextFunctions.gopherStats(t).getLong(0))
    },
    "kernel.token_gram_hashes.ns_per_byte" -> time(textBytes, reps, minNs) {
      texts.foldLeft(0L)((a, t) => a + TextFunctions.tokenGramHashes(t, 3).numElements())
    },
    "kernel.simhash.ns_per_byte" -> time(textBytes, reps, minNs) {
      texts.foldLeft(0L) { (a, t) =>
        val h = TextFunctions.simhashFold(t, 60)
        a + (if (h == null) 0L else h.longValue)
      }
    },
    "kernel.winnow.ns_per_byte" -> time(textBytes, reps, minNs) {
      texts.foldLeft(0L) { (a, t) =>
        a + WinnowFunctions.select(WinnowFunctions.gramHashes(t, 8), 4).numElements()
      }
    },
    "kernel.bpe_adj_pairs.ns_per_byte" -> time(textBytes, reps, minNs) {
      texts.foldLeft(0L)((a, t) => a + TextFunctions.bpeMergeAdjPairs(t, m1, m2).numElements())
    },
    "kernel.pq_encode.ns_per_vec" -> time(vecs.length.toLong, reps, minNs) {
      vecs.foldLeft(0L)((a, v) => a + PqEncode.encode(v, codebook, PqM, PqK, PqSubDim).getInt(0))
    },
  )
}

object Kernels {
  /** Loads the kernels' inputs from an input directory into the driver. */
  def load(spark: SparkSession, dir: String): Kernels = {
    val docs = graft.Tables.documents(spark, dir).where("text IS NOT NULL")
    val texts = docs.select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val pages = graft.pipeline.TextAnalysis.htmlWrap(docs).select("html").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs = graft.Tables.embeddings(spark, dir).where("size(embedding) = 64")
      .select("embedding").collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).toArray): ArrayData)
    new Kernels(texts, pages, vecs)
  }
}
