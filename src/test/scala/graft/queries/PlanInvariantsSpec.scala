package graft.queries

import graft.SparkSpec

/** Physical-plan regression guards: the scale properties that make these
  * operators survive 100 TB are properties of the COMPILED PLAN, not of
  * small-SF results — so they are asserted here directly. A refactor that
  * silently turns an equi-join into a cartesian, loses a broadcast, or
  * un-prunes a parquet scan fails this spec even though every value-level
  * oracle still passes.
  */
class PlanInvariantsSpec extends SparkSpec {

  /** Queries where one join side is bounded (a LIMITed query set or an
    * interval table small enough to broadcast) and a broadcast
    * nested-loop/range join is the intended physical shape. */
  private val bnljAllowed = Set(
    "q08_range_join", // interval join: broadcast range join by design
    "s01_topk_cosine", "s02_ivf_topk", "s03_ivf_kmeans", // tiny query side
    "s06_range_search", // radius query: tiny broadcast query side
    "s07_ivf_index", // contract rollup: single-row aggregates crossed
    "s08_pq_topk", // 1-row codebook broadcast + tiny query-LUT broadcast
    "s10_incremental_ann", // s08 shape over the appended persisted index
    "s11_ann_delete", // s08 shape over the post-delete persisted index
    "q32_temperature_mix", // 1-row normalizer fold broadcast into targets
    "s09_pq_ivf", // 1-row codebook + tiny centroid/probe broadcasts
    "q26_leakage_split", // straddle-invariant scalar crossed into the rollup
    "s05_knn_join_lsh", // contract rollup: 4 single-row aggregates crossed
    "t11_tfidf_topk", // 1-row corpus-count broadcast into every score row
    "t15_bm25_topk", // 1-row (N, Σdl) corpus aggregate broadcast likewise
    "q28_scored_autocomplete", // 1-row corpus-count broadcast into postings
    "q13_sketch_stats", // 1-row sketch aggregate broadcast vs the scan
    "q30_quality_classifier", // 1-row (Npos,Nneg) totals + bias broadcasts
    "s12_sq8_topk", // tiny broadcast query side over the code scan
    "t38_perplexity_buckets", // t23's 1-row total under the shared chain
    "t23_kn_lm_score", // 1-row distinct-bigram total broadcast into scores
    "t24_kn3_lm_score", // 1-row continuation-type total broadcast likewise
    "t28_kn4_lm_score", // same 1-row total, order-4 chain
    "t33_kn5_lm_score", // same 1-row total, order-5 chain
    // bpeIdStreams' vocabulary numbering is ONE broadcast map row
    // (driver-sized by construction: alphabet + one symbol per merge)
    // crossed into the streams; q41-q44 and q47-q49 run the same chain
    // but execute it during gate construction and return only the
    // reader/aggregation plan — st19 and its drain twin st20 return
    // the live chain, so they alone surface the shape here
    "st19_stream_pack", "st20_stream_drain")

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfTiny)
      .queryExecution.executedPlan.toString

  test("no registered query compiles a cartesian product or windows " +
    "unpartitioned over an unbounded input") {
    // one pass over the whole registry (query construction is the
    // expensive part — some gates run driver work to build their plans),
    // checking BOTH whole-registry invariants:
    // 1. no CartesianProduct / unexpected BroadcastNestedLoopJoin;
    // 2. no `...over(orderBy(...))` with no partition key over an
    //    UNBOUNDED input — that moves the whole input onto ONE task, the
    //    q32 round-9 failure mode. Global rank/cumsum must route through
    //    Packing's two-pass distributed scans. The one legal shape is
    //    ranking an already-LIMITed top-k frame (t15): exempted only
    //    when a GlobalLimit sits on the window's DIRECT child spine
    //    (through row-preserving unary nodes — a limit buried on one
    //    branch of a join below the window bounds nothing in general).
    //    Checked on the OPTIMIZED LOGICAL plan: the physical tree hides
    //    inside AdaptiveSparkPlanExec, which TreeNode traversal does not
    //    descend into. Shapes bounded by reasoning the spine walk cannot
    //    carry go on the explicit allowlist below (the bnljAllowed
    //    pattern), each with its boundedness argument.
    val unpartitionedWindowAllowed = Set(
      // rank over (top-10 LIMIT frame) INNER equi-joined to the name
      // table on its unique id: output <= 10 rows — the limit bounds the
      // join through the key, which the structural walk cannot see
      "q28_scored_autocomplete")
    import org.apache.spark.sql.catalyst.plans.logical
    @annotation.tailrec
    def limitedSpine(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.GlobalLimit => true
      case x: logical.Project => limitedSpine(x.child)
      case x: logical.Filter => limitedSpine(x.child)
      case x: logical.Sort => limitedSpine(x.child)
      case x: logical.SubqueryAlias => limitedSpine(x.child)
      case x: logical.LocalLimit => limitedSpine(x.child)
      case _ => false
    }
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val qe = graft.SparkEntry.queries(name)(spark, sfTiny).queryExecution
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name compiled to a CartesianProduct")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name compiled to an unexpected BroadcastNestedLoopJoin")
      val offenders =
        if (unpartitionedWindowAllowed(name)) Nil
        else qe.optimizedPlan.collect {
          case w: logical.Window if w.partitionSpec.isEmpty &&
              !limitedSpine(w.child) => w
          case w: logical.WindowGroupLimit if w.partitionSpec.isEmpty &&
              !limitedSpine(w.child) => w
        }
      assert(offenders.isEmpty,
        s"$name windows unpartitioned over an unbounded input:\n" +
          offenders.mkString("\n"))
    }
  }

  test("s05's brute recall verifier stays bounded to the sampled queries") {
    // the registered gate must never regress to the full-corpus O(n²)
    // brute cross join (round-5 weak finding): the brute side's scan has
    // to carry the vec_id sample bound as a pushed filter
    val p = plan("s05_knn_join_lsh")
    assert(p.contains("LessThan(vec_id,64)"),
      "s05's brute side lost its sampled-query bound (full-corpus O(n²) verifier)")
  }

  test("s08/s09 score through the native PQ kernels, not interpreted HOFs") {
    // the encode argmin and the ADC lookup are per-row hot loops; the HOF
    // formulations evaluate interpreted (measured 6-7 s per gate at
    // sf0.1, ~SF-independent) and exist only as spec oracles — a refactor
    // that reintroduces them into the registered plans must fail here
    Seq("s08_pq_topk", "s09_pq_ivf").foreach { name =>
      val p = plan(name)
      assert(p.contains("graft_pq_encode"),
        s"$name lost the native PQ encode kernel")
      assert(p.contains("graft_pq_adc"),
        s"$name lost the native ADC distance kernel")
    }
  }

  test("d07 reuses the pinned d03 pair frame (InMemoryTableScan)") {
    // d03 and d07 are two gates over ONE resident pair computation
    // (PipelineQueries.jaccardPairsShared); losing the explicit reuse
    // (memo bypassed, cache marker dropped) silently recomputes the
    // Bayardo index inside d07 — the round-5 ×5 regression
    graft.SparkEntry.queries("d03_jaccard_pairs")(spark, sfTiny).count()
    // the memo hands back the SAME DataFrame instance...
    val a = graft.queries.PipelineQueries.jaccardPairsShared(spark, sfTiny)
    val b = graft.queries.PipelineQueries.jaccardPairsShared(spark, sfTiny)
    assert(a eq b, "memo returned distinct pair frames")
    // ...whose scan is served from the cache built by d03
    assert(a.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "shared pair frame is not cache-backed after d03 ran")
    graft.util.Resident.reset()
  }

  test("q03 broadcasts the filtered dimension and takes ordered top-k") {
    val p = plan("q03_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrdered"))
  }

  test("top-k queries compile to TakeOrderedAndProject, not a global sort") {
    Seq("q02_filter_topk", "q07_prefix_search", "q12_order_by_date").foreach {
      name => assert(plan(name).contains("TakeOrdered"), name)
    }
  }

  test("grouped top-k gets the partial group-limit before the shuffle") {
    // Spark's InferWindowGroupLimit (3.5+) rewrites the rank<=k window
    // filter into a WindowGroupLimit that drops non-top-k rows PER INPUT
    // PARTITION before the window shuffle — the reason q09/t11 stay the
    // declarative window form instead of a custom physical operator. This
    // pins the optimization: losing it (config regression, a filter shape
    // the rule stops matching) re-shuffles the full table.
    Seq("q09_window_topk", "t11_tfidf_topk", "q31_source_cap").foreach { name =>
      assert(plan(name).contains("WindowGroupLimit"),
        s"$name lost the partial window group-limit")
    }
  }

  test("q32 ranks languages with the distributed two-pass scan, not a window") {
    // row_number().over(partitionBy(lang)) serial-sorts each whole
    // language on ONE task (en alone is ~44% of this corpus), and the
    // rank bound arrives via a join so InferWindowGroupLimit can never
    // rescue it — the round-9 weak finding. The fix is
    // Packing.groupRankAsc; a regression back to the window form must
    // fail here
    val p = plan("q32_temperature_mix")
    assert(!p.contains("Window"),
      s"q32 regressed to a per-language window rank:\n$p")
    // the two-pass rank materializes as an RDD-backed frame (the ranked
    // rows ARE data by the time the gate plan compiles; the tuple RDD
    // compiles to an object scan + SerializeFromObject)
    assert(p.contains("Scan[obj") || p.contains("ExistingRDD"),
      "q32 lost the two-pass distributed rank scan")
  }

  test("d18 splices through a broadcast join — the corpus never shuffles " +
    "to be cleaned") {
    // the per-doc span lists are LimitProbe-guarded onto the broadcast
    // side; losing that (guard regression, hint dropped) re-shuffles the
    // whole corpus on the id for the left join
    val p = plan("d18_span_removal")
    assert(p.contains("BroadcastHashJoin"),
      s"d18 lost its broadcast splice join:\n$p")
  }

  test("q01 scan is column-pruned and q02 filter reaches the parquet scan") {
    // q01 aggregates 7 lineitem columns; the 16-column scan must be pruned
    val p1 = plan("q01_pricing_agg")
    assert(p1.contains("ReadSchema"))
    assert(!p1.contains("l_comment") && !p1.contains("l_shipmode"),
      "q01 reads columns its aggregation never touches")
    val p2 = plan("q02_filter_topk")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p2).isDefined,
      "q02's predicate did not reach the parquet scan")
  }

  test("anti/semi join shapes survive compilation") {
    assert(plan("q04_anti_join_no_orders").contains("LeftAnti"))
    assert(plan("q05_semi_join_active_suppliers").contains("LeftSemi"))
  }

  test("decontamination broadcasts the benchmark gram set under the guard") {
    // at this SF the distinct benchmark gram set is far inside the
    // limit-probe bound, so the train side must be filtered by a broadcast
    // semi-join — the corpus never shuffles
    val p = plan("d08_decontamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"d08 lost its broadcast semi-join shape:\n$p")
  }

  test("d12's bloom probe is the codegen'd expression, not a UDF") {
    // the Bloom prefilter must stay inside the whole-stage-codegen span; a
    // Scala UDF probe (the pre-round-5 implementation) boxes every gram
    // and fences codegen around the filter
    val p = plan("d12_bloom_decontam")
    assert(!p.contains("UDF"),
      s"d12 plan contains a UDF probe:\n$p")
    assert(p.contains("graft_bloom_might_contain"),
      s"d12 plan lost the native bloom membership expression:\n$p")
  }

  test("d04's band join keeps its pinned partitioning (AQE-coalesce exempt)") {
    // the band join's input is KB-sized but its output is the candidate
    // blow-up; without the user-specified repartition AQE coalesces the
    // join to one task and serializes the verify (round-5 fix). The pin
    // must survive as REPARTITION_BY_NUM exchanges on the band keys.
    val p = plan("d04_minhash_lsh")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"d04 lost its pinned band-join repartition:\n$p")
    assert(p.contains("hashpartitioning(band"),
      s"d04's pinned exchange is not on the band join keys:\n$p")
  }

  test("minhash gram kernel never runs inside a filter or the scan") {
    // the sub-n drop must be a pushable length() predicate: a size(grams)
    // filter gets pushed below the spread repartition, evaluating the
    // n-gram kernel on the narrow scan side and AGAIN after the shuffle —
    // doubling the most expensive per-row step (and serializing one copy)
    val p = plan("d04_minhash_lsh")
    p.linesIterator.filter(_.contains("graft_char_ngrams")).foreach { l =>
      assert(!l.contains("Filter ") && !l.contains("FileScan"),
        s"n-gram kernel evaluated in a filter/scan node:\n$l")
    }
  }

  test("t17's encode dictionary rides ONE guarded broadcast left-outer " +
    "join — a single corpus pass carrying both the known-word hit and " +
    "the OOV fall-through") {
    val p = plan("t17_bpe_encode")
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftOuter")),
      s"t17 lost its guarded left-outer dictionary broadcast:\n$p")
    // exactly one dictionary join: the union-of-two-legs shape scanned
    // the exploded corpus twice
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 1,
      s"t17 encode joins the corpus more than once:\n$p")
  }

  test("t37's WordPiece walk runs once per DISTINCT word behind ONE " +
    "guarded broadcast join — the corpus is never walked per occurrence") {
    val p = plan("t37_wordpiece_encode")
    assert(p.linesIterator.exists(_.contains("BroadcastHashJoin")),
      s"t37 lost its guarded word-table broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 1,
      s"t37 encode joins the corpus more than once:\n$p")
    // the greedy-walk UDF sits above a distinct aggregate (the word
    // table), not on the exploded corpus side
    assert(p.contains("HashAggregate"),
      s"t37's distinct-word aggregate disappeared:\n$p")
  }

  test("path expander broadcasts the frontier only under the size guard") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val frontier = Seq((Array(1L), 1)).toDF("path", "hops")
    val e = Seq((1L, 2L)).toDF("src", "dst")
    // guard open (frontier measured small): the broadcast hint is present
    val hinted = graft.graph.Paths.expandHop(frontier, e, useBroadcast = true)
      .queryExecution.analyzed.toString
    assert(hinted.contains("ResolvedHint"),
      "small frontier lost its forced-broadcast hint")
    // guard tripped (frontier over the limit): NO forced broadcast — the
    // join strategy is left to Catalyst stats (a forced >8 GB broadcast is
    // a hard failure on wide fan-out graphs)
    val unhinted = graft.graph.Paths.expandHop(frontier, e, useBroadcast = false)
      .queryExecution.analyzed.toString
    assert(!unhinted.contains("ResolvedHint"),
      "oversized frontier is still force-broadcast")
    // round-17 edge-broadcast shape: with the frontier guard TRIPPED the
    // only possible hint is the LimitProbe-guarded edge side
    val eHinted = graft.graph.Paths.expandHop(frontier, e,
        useBroadcast = false, edgeBroadcast = true)
      .queryExecution.analyzed.toString
    assert(eHinted.contains("ResolvedHint"),
      "edge-broadcast shape lost its guarded hint")
  }
}
