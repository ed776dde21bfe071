package graft

/** Physical-plan regression guards (SURVEY.md §6): the audited "plans we'd
  * want at 100 TB" were previously protected only by prose in VERDICT/
  * BASELINE — this spec pins them as assertions over every registered
  * query's executed plan, so a refactor that silently reintroduces a
  * cartesian product, loses a top-K rewrite, or drops a broadcast hint
  * fails here instead of in the next bench round.
  *
  * Plans are built at sf0.001 in the library's session, which broadcasts
  * only on an explicit `broadcast()` hint or on a size AQE has measured at
  * run time, never on a static estimate. Almost everything asserted here is
  * decided at planning time, so those plans are built, not executed; the
  * few broadcasts only AQE decides are asserted on the final adaptive plan.
  */
class PlanShapeSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("no CartesianProduct in any registered query's plan") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(name)
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("per-group top-K queries carry the partial WindowGroupLimit rewrite") {
    // rank-filter-over-window prunes to K rows per group BEFORE the shuffle
    // (map-side), which is what keeps these linear at corpus scale.
    for (name <- Seq("source_cap", "hot_items_topn", "hot_pages_topn", "doc_top_terms")) {
      assert(plan(name).contains("WindowGroupLimit"),
        s"$name lost the WindowGroupLimit rewrite")
    }
    // dedup_embedding_ann's multi-probe is one nearest_centroids call per
    // vector: no window (or its group limit) may rank N×√N centroid pair
    // rows, so the probe stays map-only
    val ann = plan("dedup_embedding_ann")
    assert(ann.contains("nearest_centroids") && !ann.contains("Window"),
      "dedup_embedding_ann ranks centroid pair rows instead of one kernel call per vector")
    // knn_incremental's probe prune still carries the rewrite, but since
    // the round-15 canonicalization it runs at CONSTRUCTION time (the
    // rep-probe relation is an eager checkpoint both sides of the bucket
    // join read) — the final plan must read the materialized probes, not
    // re-derive them from parquet
    val ki = plan("knn_incremental")
    assert(ki.contains("ExistingRDD"),
      "knn_incremental no longer materializes the rep-probe relation")
  }

  test("LSH dedup reuses the materialized shingle-hash subtree") {
    // the shingle table feeds both the band join and the Jaccard verify;
    // without the eager localCheckpoint it would be recomputed (two full
    // tokenize+hash passes over the corpus). The checkpoint surfaces in
    // the plan as a scan of the materialized RDD — and the corpus scan
    // must NOT appear, which would mean a consumer re-derived the
    // shingles from parquet instead of reusing the checkpoint
    val p = plan("dedup_minhash_lsh")
    assert(p.contains("Scan ExistingRDD") || p.contains("ExistingRDD"),
      "dedup_minhash_lsh no longer materializes the shingle-hash table")
    assert(!p.contains("parquet"),
      "dedup_minhash_lsh re-reads the corpus instead of reusing the checkpoint")
  }

  test("q6 pushes every predicate to the scan and prunes to four columns") {
    // the pure-pushdown showcase: at 100 TB the only cost is the filtered,
    // pruned scan — losing a pushed filter (e.g. by wrapping the column in
    // a non-pushable cast) turns it into a full-table read
    // the rendered plan truncates PushedFilters, so read the scan node's
    // metadata (untruncated) off the pre-AQE physical plan
    val scans = SparkEntry.queries("q6_forecast_revenue")(spark, sf())
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity")) {
      assert(pushed.contains(f), s"q6_forecast_revenue lost pushed filter $f in $pushed")
    }
    assert(!scans.head.metadata("ReadSchema").contains("l_orderkey"),
      "q6_forecast_revenue reads columns the query never references")
  }

  test("q4 EXISTS plans as a left-semi join, never a distinct+inner") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), "q4_order_priority lost the semi-join shape")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "q4_order_priority lost the returned-line scan filter")
  }

  test("q12 pushes the fact date filter and prunes both scan schemas") {
    val scans = SparkEntry.queries("q12_shipmode_priority")(spark, sf())
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    val li = scans.filter(_.metadata("Location").contains("lineitem"))
    assert(li.size == 1, "q12 must scan lineitem exactly once")
    val pushed = li.head.metadata("PushedFilters")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate"))
      assert(pushed.contains(f), s"q12 lost pushed filter $f in $pushed")
    assert(!li.head.metadata("ReadSchema").contains("l_extendedprice"),
      "q12 reads fact columns the query never references")
    val ord = scans.filter(_.metadata("Location").contains("orders"))
    assert(ord.size == 1 && !ord.head.metadata("ReadSchema").contains("o_totalprice"),
      "q12 reads order columns the query never references")
  }

  test("q14 is a single fact pass with the part dimension broadcast") {
    val p0 = SparkEntry.queries("q14_promo_revenue")(spark, sf())
      .queryExecution.sparkPlan
    val liScans = p0.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata("Location").contains("lineitem") => s
    }
    assert(liScans.size == 1,
      "q14 must compute the conditional share in ONE pass over lineitem")
    assert(p0.toString.contains("BroadcastHashJoin"),
      "q14 lost the broadcast of the part dimension")
  }

  test("q18 prunes qualifying orders before any attribute join") {
    val p0 = SparkEntry.queries("q18_large_orders")(spark, sf())
      .queryExecution.sparkPlan
    // no aggregate sits ABOVE a join: the HAVING group-prune runs on bare
    // lineitem and only qualifying order keys reach the attribute joins
    val aggsAboveJoins = p0.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.collectFirst {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.nonEmpty => a
    }
    assert(aggsAboveJoins.isEmpty,
      "q18 aggregates after a join — the HAVING prune no longer precedes the joins")
    assert(p0.toString.contains("TakeOrderedAndProject"),
      "q18 lost the top-K rewrite (global sort instead)")
    val li = p0.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata("Location").contains("lineitem") => s
    }
    assert(li.size == 1 && {
      val rs = li.head.metadata("ReadSchema")
      rs.contains("l_orderkey") && rs.contains("l_quantity") &&
        !rs.contains("l_extendedprice")
    }, "q18 lineitem scan must read only the key + quantity")
  }

  test("q7/q15 broadcast their small sides; q15 never global-sorts the fact") {
    val p7 = plan("q7_volume_shipping")
    assert(p7.contains("BroadcastHashJoin"), "q7 lost its dimension broadcasts")
    val p15 = SparkEntry.queries("q15_top_supplier")(spark, sf()).queryExecution.sparkPlan
    assert(p15.toString.contains("BroadcastHashJoin"),
      "q15 lost the 1-row max broadcast (argmax would shuffle)")
    // the only Sort is the supplier-cardinality output ordering — it must
    // sit ABOVE the max-equality join, never under it on the fact side
    val sortsUnderJoins = p15.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.flatMap(_.collect { case s: org.apache.spark.sql.execution.SortExec => s })
    assert(sortsUnderJoins.isEmpty, "q15 sorts below a join — argmax became a sort")
  }

  test("q17 decorrelates: per-part agg below the probe join, part broadcast") {
    val p0 = SparkEntry.queries("q17_small_qty_revenue")(spark, sf())
      .queryExecution.sparkPlan
    assert(p0.toString.contains("BroadcastHashJoin"), "q17 lost the part broadcast")
    // exactly two lineitem scans by design: the per-part (sum, cnt)
    // aggregate and the probe side — the textbook decorrelated shape
    val li = p0.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata("Location").contains("lineitem") => s
    }
    assert(li.size == 2, s"q17 expected 2 lineitem scans, got ${li.size}")
    // neither scan reads money columns it doesn't need on the agg side
    assert(li.exists(!_.metadata("ReadSchema").contains("l_extendedprice")),
      "q17's per-part aggregate scan reads the price column it never uses")
  }

  test("q19 pushes the part-side disjunction to the part scan") {
    val scans = SparkEntry.queries("q19_discounted_revenue")(spark, sf())
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata("Location").contains("part") => s
      }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("Or(") && pushed.contains("EqualTo(p_brand,Brand#12)"),
      s"q19 lost the disjunctive part pushdown: $pushed")
  }

  test("q8 single fact pass; q13 pre-aggregates below the outer join") {
    val p8 = SparkEntry.queries("q8_market_share")(spark, sf())
      .queryExecution.sparkPlan
    // numerator and denominator of the share come from ONE joined scan
    val li8 = p8.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata("Location").contains("lineitem") => s
    }
    assert(li8.size == 1, "q8 must compute both share sums in one fact pass")
    assert(p8.toString.contains("BroadcastHashJoin"),
      "q8 lost its dimension broadcasts")
    val p13 = SparkEntry.queries("q13_customer_distribution")(spark, sf())
      .queryExecution.sparkPlan
    // the per-customer count aggregates BELOW the outer join (right side),
    // so the join sees at most one row per customer, never raw orders
    val aggUnderJoin = p13.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.flatMap(_.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    })
    assert(aggUnderJoin.nonEmpty,
      "q13 joins raw orders — the per-customer pre-aggregate is gone")
  }

  test("q22 plans the dormancy check as an anti join with a one-row broadcast") {
    val p = SparkEntry.queries("q22_dormant_balance")(spark, sf())
      .queryExecution.sparkPlan.toString
    assert(p.contains("LeftAnti"),
      "q22's NOT EXISTS no longer plans as an anti join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "q22 lost the one-row average-balance broadcast")
  }

  test("q21 plans semi + anti sibling checks with no agg above the joins") {
    val exec = SparkEntry.queries("q21_waiting_supplier")(spark, sf())
      .queryExecution.sparkPlan
    val p = exec.toString
    assert(p.contains("LeftSemi"),
      "q21's EXISTS sibling check no longer plans as a semi join")
    assert(p.contains("LeftAnti"),
      "q21's NOT EXISTS late-sibling check no longer plans as an anti join")
    assert(p.contains("BroadcastHashJoin"),
      "q21 lost the supplier⋈nation broadcast prune")
    // the (order, supplier)-grain rows must reach the final agg pruned by
    // the semi/anti joins — an aggregate must never sit BELOW them re-
    // expanding order-wide groups (that would be the pair-explosion form)
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    val aggUnderJoin = joins.flatMap(_.children).flatMap(_.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    })
    assert(aggUnderJoin.isEmpty,
      "q21 grew an aggregate below its semi/anti joins")
  }

  test("every knn/embedding query broadcasts its small side") {
    // centroid frames / query sets / quantize ranges are bounded by a
    // parameter — each must reach the join as a broadcast in the planned
    // query, never a shuffle of the corpus side
    val measured = Set("dedup_embedding", "dedup_embedding_lsh", "knn_incremental")
    val knnish = SparkEntry.queries.keys.toSeq.sorted.filter(n =>
      n.startsWith("knn_") || n.startsWith("dedup_embedding") || n == "embedding_quantize")
    assert(knnish.size == 14 && measured.subsetOf(knnish.toSet))
    for (name <- knnish) {
      val df = SparkEntry.queries(name)(spark, sf())
      // `measured` ones join relations as large as the corpus: AQE
      // broadcasts them only once it has measured them small
      if (measured(name)) df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Broadcast") && (!measured(name) || p.contains("isFinalPlan=true")),
        s"$name plan has no broadcast join")
    }
  }

  test("history ops run all their windows over one exchange") {
    // scd2's three window functions and rolling's three frames share one
    // (user_id) partitioning — Catalyst must plan a single shuffle for
    // the event log (plus the output-ordering exchange from the final
    // orderBy). A second hashpartitioning exchange means a window was
    // written with a mismatched partitioning/order and the log gets
    // re-shuffled per frame — the shape that dies first at 100 TB.
    for (name <- Seq("scd2_intervals", "rolling_user_features")) {
      val p = plan(name)
      val hashExchanges = "hashpartitioning".r.findAllIn(p).size
      assert(hashExchanges == 1,
        s"$name has $hashExchanges hash exchanges (want 1): windows don't share the shuffle")
    }
  }

  test("split_assign is map-side assignment + one aggregate, no window/join") {
    val p = plan("split_assign")
    assert(!p.contains("Window") && !p.contains("Join"),
      "split_assign grew a window or join — assignment must stay map-side")
  }

  test("mixture_temperature scans the corpus once: final plan reads only the L-row checkpoint") {
    // the count agg is localCheckpointed at construction (the single
    // corpus scan); if a consumer re-derived it from the file, a FileScan
    // would reappear in the executed plan and the corpus would be read
    // once per consumer (4x) at warehouse scale
    val p = plan("mixture_temperature")
    assert(!p.contains("FileScan"),
      "mixture_temperature re-scans the corpus — the count relation is not materialized")
    assert(p.contains("ExistingRDD"), "expected the checkpointed L-row count relation")
  }

  test("dedup_recall reads only materialized relations: verified LSH pairs + sample shingles") {
    val p = plan("dedup_recall")
    assert(!p.contains("FileScan"),
      "dedup_recall re-scans the corpus — sample shingles or LSH pairs not materialized")
    // two distinct checkpoints feed it: the verified-pair relation and the
    // 200-doc sample shingle set
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2, "expected >=2 checkpoint scans")
  }

  test("canonicalized text queries scan the text column at most once") {
    // the round-14 canonicalization invariant (PLANS.md dossier): the
    // corpus TEXT is read on the rep-filtered side only — the md5 front
    // door and member map are construction-time checkpoints (ExistingRDD
    // here). A second text scan means a consumer re-derived per-copy work
    // from parquet, the exact shape the canonicalization removed.
    val textScan = "Scan parquet[^\\n]*\\btext#".r
    for (name <- Seq("doc_lm_score", "ccnet_buckets", "doc_pmi_score", "term_pmi",
        "doc_rarity", "doc_top_terms", "doc_lm_backoff", "dsir_select",
        "dedup_substring", "bpe_encode", "bpe_pairs", "bpe_merge_apply",
        "dedup_simhash", "dedup_minhash_lsh",
        // round-15 canonicalizations
        "doc_winnow", "media_features", "nb_lang_classify",
        "dedup_incremental", "dedup_keep_best", "quality_drift",
        // and the single-pass native-map queries: exactly one text scan
        "doc_entropy", "gopher_rules", "doc_repetition", "lang_id")) {
      val n = textScan.findAllIn(plan(name)).size
      assert(n <= 1, s"$name scans the text column $n times")
    }
    // round-16 canonical family: the per-doc battery must run on reps
    // only, so exactly one text scan (members ride the gid checkpoint)
    for (name <- Seq("html_extract", "html_extract_stopword",
        "token_count", "doc_entropy", "doc_chunks", "doc_repetition")) {
      val n = textScan.findAllIn(plan(name)).size
      assert(n <= 1, s"$name scans the text column $n times")
    }
  }

  test("url queries never scan text and ride a broadcast residue lookup") {
    // the wrap is a pure function of doc_id % UrlResidues: the regex
    // battery must run on the bounded residue relation (broadcast), and
    // the text column must not be read at all
    for (name <- Seq("url_canonicalize", "dedup_url")) {
      val p = plan(name)
      assert(!p.contains("text#"), s"$name reads the text column")
      assert(p.contains("BroadcastHashJoin"), s"$name lost the residue broadcast")
    }
  }

  test("q2 decorrelates the min-cost subquery: no correlated re-plan, dims broadcast") {
    // the textbook correlated `= (SELECT min ...)` must be a per-part
    // min-agg joined back on (partkey, cost) — one aggregate, broadcast
    // dims, never a per-row subquery (no SubqueryExec under the join)
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), "q2 lost its broadcast dim joins")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).nonEmpty, "q2 lost the decorrelated min agg")
    // the LIMIT must plan as TakeOrderedAndProject, never a global sort
    assert(p.contains("TakeOrderedAndProject"), "q2 plans a global sort + limit")
  }

  test("q9 scans lineitem exactly once and broadcasts the part-name semi filter") {
    val p = plan("q9_product_profit")
    val lineitemScans = "Scan parquet[^\n]*l_orderkey#".r.findAllIn(p).size
    assert(lineitemScans == 1, s"q9 scans lineitem $lineitemScans times")
    assert(p.contains("BroadcastHashJoin"), "q9 lost the broadcast semi filter")
  }

  test("q11 plans the stock total as a one-row broadcast, not a rescan") {
    val p = plan("q11_important_stock")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "q11 lost the broadcast total")
    assert(!p.contains("CartesianProduct"))
  }

  test("entity_match pairs over the materialized rep relation, never parquet") {
    // the rep build (exact-dedup + block window) is inside the eager
    // checkpoint; all three consumers (both self-join sides, within rows)
    // must read THAT, or a refactor silently re-runs the customer agg
    // per consumer
    val p = plan("entity_match")
    assert(p.contains("ExistingRDD"),
      "entity_match no longer materializes the rep relation")
    assert(!p.contains("parquet"),
      "entity_match re-reads customer instead of reusing the rep checkpoint")
  }

  test("k_anonymity evaluates the whole lattice in one Expand pass") {
    // rollup must plan as Expand + ONE corpus aggregation (map-side
    // partials), over a 3-column pruned scan — one groupBy per lattice
    // level would be 4 corpus passes
    val p = plan("k_anonymity")
    assert(p.contains("Expand"), "k_anonymity lost the rollup Expand")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"k_anonymity scans customer $scans times")
    assert(p.contains("ReadSchema: struct<c_nationkey:int,c_acctbal:double,c_mktsegment:string>"),
      "k_anonymity scan no longer prunes to the three QI columns")
  }

  test("basket_pairs derives everything from the materialized item list") {
    // lineitem is scanned once inside the distinct checkpoint; the
    // self-join, item counts, and basket count all re-shuffle the skinny
    // materialized relation, never the parquet
    val p = plan("basket_pairs")
    assert(p.contains("ExistingRDD"),
      "basket_pairs no longer materializes the item list")
    assert(!p.contains("parquet"),
      "basket_pairs re-reads lineitem instead of reusing the item checkpoint")
  }
}
