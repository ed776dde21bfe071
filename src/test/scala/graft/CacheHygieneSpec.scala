package graft

import org.apache.spark.sql.functions.col

/** Session-lifetime cache hygiene: every operator that materializes an
  * intermediate (via eager localCheckpoint — the only sanctioned caching
  * primitive; raw `persist()` without a same-scope unpersist is banned)
  * must leave ZERO persisted RDD blocks behind once its result has been
  * consumed and dropped. The checkpoint blocks are reclaimed by Spark's
  * ContextCleaner when the plan becomes unreachable, so the assertion
  * is: run query → drop references → force GC → the cleaner drains
  * `sparkContext.getPersistentRDDs` to empty.
  *
  * The query list covers every materialization site in the codebase:
  * Dedup (shingle set, band table, posting lists, simhash signatures,
  * centrality edges/rounds), Graph (CC edge list + per-round labels),
  * Curation (cumBefore token relation, DSIR doc-bucket relation), Knn
  * (semantic-dedup assignment), TextAnalysis (LM bigram occurrences).
  */
class CacheHygieneSpec extends SparkSuite {

  private val coveredQueries = Seq(
    "dedup_minhash_lsh",  // Dedup: sh + bands + verified pairs
    "dedup_minhash_lsh_skew", // Dedup: same chain over the skew fixture
    "dedup_containment",  // Dedup: verified pairs
    "similar_docs",       // Dedup: verified pairs
    "dedup_recall",       // Dedup: verified pairs + sample shingles
    "source_dup_rates",   // Dedup: verified pairs + rep components
    "dedup_keep_best",    // Dedup: verified pairs + rep components
    "dedup_ngram_jaccard",// Dedup: postings
    "dedup_simhash",      // Dedup: simhashCore signatures
    "dedup_clusters",     // Graph: und0 persist + per-round checkpoints
    "dedup_centrality",   // Dedup: pairs/deg/undDeg/rank checkpoints + Graph
    "dedup_semantic",     // Knn: Lloyd assignment
    "dsir_select",        // Curation: (doc, bucket) relation
    "doc_lm_score",       // TextAnalysis: bigram occurrences
    "sequence_pack",      // Curation: cumBefore token relation
    "domain_mixture",     // Curation via docLmScore's bigram checkpoint
    "embedding_pca",      // Knn: moment relation + per-round checkpoints
    "term_pmi",           // TextAnalysis: pmiModel bigram-type relation
    "doc_pmi_score",      // TextAnalysis: same model checkpoint, scoring join
    "quality_drift",      // TextAnalysis: (source, ppl) hist + diffs
    "dedup_graph_stats",  // Dedup: thresholded edge list
    "dedup_incremental",  // Dedup: corpus-side shingle checkpoint
    "rfm_segments",       // EventWindows: per-user metric relation
    "bloom_semi_join"     // DataOps: key set
  )

  private def drainPersistentRdds(timeoutMs: Long = 30000): Int = {
    val sc = spark.sparkContext
    val deadline = System.currentTimeMillis() + timeoutMs
    var n = sc.getPersistentRDDs.size
    while (n > 0 && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(250)
      n = sc.getPersistentRDDs.size
    }
    n
  }

  test("no persisted RDDs survive a query's lifetime (ContextCleaner drains checkpoints)") {
    spark.catalog.clearCache()
    // the BPE chain memo is the one sanctioned session-lifetime cache —
    // drop it so the clean-session precondition below sees only leaks
    graft.pipeline.TextAnalysis.clearBpeMemo()
    assert(drainPersistentRdds() == 0,
      "session not clean before test — another spec leaked cached blocks")
    coveredQueries.foreach { name =>
      // consume the result inside a scope so the plan (and its checkpoint
      // RDDs) become unreachable as soon as the count returns
      def run(): Long = SparkEntry.queries(name)(spark, sf()).count()
      val rows = run()
      assert(rows >= 0)
      val left = drainPersistentRdds()
      assert(left == 0,
        s"$name left $left persisted RDD(s) after its result was dropped: " +
          spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
    }
  }

  test("a cluster query on one corpus leaves another corpus's built result evaluable") {
    import graft.pipeline.Dedup
    // two file-backed corpora: disjoint halves of the documents table
    val docs = Tables.documents(spark, sf())
    val dirs = Seq(0, 1).map { r =>
      val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
      docs.filter(col("doc_id") % 2 === r).write.mode("overwrite").parquet(dir)
      dir
    }
    try {
      val Seq(a, b) = dirs.map(spark.read.parquet(_))
      // built (its eager checkpoints ran) but not yet evaluated
      val lshA = Dedup.dedupMinhashLsh(a)
      assert(Dedup.dedupClusters(b).collect().nonEmpty)
      val got = lshA.collect().toSeq
      assert(got.nonEmpty, "corpus A has no near-dup pairs — the check is vacuous")
      assert(got == Dedup.dedupMinhashLsh(a).collect().toSeq)
    } finally dirs.foreach { d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    }
  }

  test("bpe_train and bpe_encode share ONE chain build; clearBpeMemo drains it") {
    import graft.pipeline.TextAnalysis
    TextAnalysis.clearBpeMemo()
    assert(drainPersistentRdds() == 0)
    val before = TextAnalysis.bpeChainBuilds.get()
    val train = SparkEntry.queries("bpe_train")(spark, sf()).collect()
    C.reclaimBlocks(spark) // the harness reclaim must NOT evict the memo
    val encode = SparkEntry.queries("bpe_encode")(spark, sf()).collect()
    assert(train.nonEmpty && encode.nonEmpty)
    assert(TextAnalysis.bpeChainBuilds.get() == before + 1,
      "second bpe query rebuilt the chain instead of reusing the memo")
    // second run of either is also served from the memo, hash-unchanged
    val train2 = SparkEntry.queries("bpe_train")(spark, sf()).collect()
    assert(train2.toSeq == train.toSeq)
    assert(TextAnalysis.bpeChainBuilds.get() == before + 1)
    // memo lifecycle: protected ids are persisted, clear drains to zero
    assert(TextAnalysis.bpeMemoProtectedRddIds(spark).nonEmpty)
    TextAnalysis.clearBpeMemo()
    assert(TextAnalysis.bpeMemoProtectedRddIds(spark).isEmpty)
    assert(drainPersistentRdds() == 0,
      "clearBpeMemo left persisted RDD blocks behind")
  }
}
