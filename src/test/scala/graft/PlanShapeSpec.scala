package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the explain shapes the 100 TB posture
  * depends on (pushdown, broadcast, top-k short-circuit, partial
  * aggregation, no accidental cartesian products) asserted as tests, not
  * just printed by `graft.tools.PlanAudit`.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan") {
    val p = plan("q_scan_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.replaceAll("\\s", "").contains("PushedFilters:[]"), p.take(2000))
  }

  test("projection pushdown prunes the read schema to the selected columns") {
    val p = plan("q_scan_projection_pushdown")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") || read.contains("struct"), read)
    assert(!read.contains("l_comment"), s"unpruned wide schema: $read")
  }

  test("small dimensions broadcast in star joins") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    assert(plan("q_join_multiway").contains("BroadcastHashJoin"))
  }

  test("ORDER BY + LIMIT compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("group-by aggregates combine map-side (partial + final HashAggregate)") {
    val p = plan("q_agg_groupby")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("as-of join is window-based: no cartesian product, no nested loop") {
    val p = plan("q_join_asof")
    assert(!p.contains("CartesianProduct"), "asof join degenerated to cartesian")
    assert(p.contains("Window"), "asof join should be the union-tag + window shape")
  }

  test("LSH near-dup joins are equi-joins on bucket keys, never cartesian") {
    for (q <- Seq("q_llm_dedup_near", "q_llm_dedup_simhash")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("brute-force similarity top-k short-circuits (no full sort of scores)") {
    assert(plan("q_llm_simsearch_topk").contains("TakeOrderedAndProject"))
  }

  test("r7b: per-doc sketch queries plan ZERO data shuffles beyond their contract") {
    // q_llm_repetition is a per-document statistic: exactly ONE exchange
    // (the mandated total ORDER BY's range partitioning), no hash
    // exchange, no Generate/explode — the zero-shuffle claim in SCALE.md
    val p = plan("q_llm_repetition")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the ORDER BY exchange, got $exchanges:\n${p.take(3000)}")
    assert(p.contains("rangepartitioning"), p.take(2000))
    assert(!p.contains("Generate"), "repetition re-grew an explode")
  }

  test("r7b: wide per-row function projections sit ABOVE the total sort") {
    // the sort's child must be the narrow scan, not the computed
    // projection (a projection below a global sort runs twice — once in
    // the range-sampling pass — and single-threaded on 1-partition input)
    for (q <- Seq("q_fn_math", "q_fn_json", "q_fn_string")) {
      val lp = SparkEntry.queries(q)(spark, d).queryExecution.optimizedPlan
      assert(lp.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project],
        s"$q: top operator should be the computing Project, got ${lp.nodeName}")
      assert(lp.children.head.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort],
        s"$q: the Project must sit directly above the Sort, got ${lp.children.head.nodeName}")
    }
  }

  test("r7b: IVF build/search broadcasts the codebook and probe list, no cartesian blowup") {
    val p = plan("q_llm_simsearch_ivf")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), "IVF planned a real cartesian")
  }

  test("r7b: containment dedup is a posting-list aggregation, never a doc-pair cartesian") {
    val p = plan("q_llm_dedup_contain")
    assert(!p.contains("CartesianProduct"), "containment planned a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "containment planned a nested loop")
  }

  test("r8: tf-idf broadcasts the vocabulary-sized df table against the tf stream") {
    val p = plan("q_llm_tfidf")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("r9: tf-idf's df broadcast is size-gated — an over-threshold vocabulary shuffle-joins") {
    // force the gate shut: any real vocabulary exceeds 1 term, so the df
    // side must arrive WITHOUT the broadcast hint — the 100 TB web-corpus
    // fallback where 10^8+ terms (hapax-heavy, un-prunable under tf/df)
    // would OOM a forced broadcast. Catalyst's own stats-based broadcast
    // is ALSO disabled here: at test scale its size estimate is tiny and
    // it would (correctly) volunteer a broadcast, masking whether the
    // HINT is gone — which is the thing the gate controls.
    System.setProperty("graft.tfidf.broadcast.max.terms", "1")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q_llm_tfidf")
      assert(!p.contains("BroadcastHashJoin"),
        s"df join still broadcast with the gate forced shut:\n${p.take(3000)}")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty, p.take(3000))
    } finally {
      System.clearProperty("graft.tfidf.broadcast.max.terms")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("r8: language ID plans zero shuffles below the confusion aggregation") {
    // per-row marker arithmetic only: exchanges = the groupBy's hash
    // partitioning + the mandated ORDER BY's range partitioning, nothing
    // from the scoring itself (no Generate/explode, no joins)
    val p = plan("q_llm_langid")
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(3000))
    assert(!p.contains("Generate"), "langid re-grew an explode")
    assert(!p.contains("Join"), "langid planned a join")
  }

  test("r9: training shuffle + packing window per SHARD — never a single-partition window") {
    // both ops' scale contract: ordering/cumsum work parallelizes across
    // shards; a window with an empty partition spec would funnel the
    // whole corpus through ONE task (Exchange SinglePartition)
    for (q <- Seq("q_llm_shuffle_shard", "q_llm_pack_bins")) {
      val p = plan(q)
      assert(p.contains("Window"), s"$q lost its window")
      assert(!p.contains("SinglePartition"),
        s"$q planned a single-partition window:\n${p.take(3000)}")
    }
  }

  test("r8: stratified sample is one partial-agg pass — no Window, no per-stratum sort") {
    val p = plan("q_llm_sample_stratified")
    assert(!p.contains("Window"), "stratified sample fell back to a window sort")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial + final aggregation:\n${p.take(3000)}")
  }

  test("r8: copy-detect joins fingerprint postings, never doc pairs") {
    val p = plan("q_llm_copy_detect")
    assert(!p.contains("CartesianProduct"), "copy-detect planned a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "copy-detect planned a nested loop")
  }

  test("r8/r16: bloom decontam prefilters map-side BEFORE the gram shuffle, natively") {
    // the bloom probe must sit below the join's exchange, and (r16,
    // VERDICT task 4) be Spark's native might_contain — not a Scala UDF,
    // which blocked whole-stage codegen around the prefilter
    val p = plan("q_llm_decontam_bloom")
    val lines = p.linesIterator.toVector
    val probeLine = lines.indexWhere(l => l.contains("Filter") && l.contains("might_contain"))
    assert(probeLine >= 0, s"no native bloom-probe filter in plan:\n${p.take(3000)}")
    assert(!p.contains("UDF"), "bloom probe regressed to a Scala UDF")
    val exchangeAbove = lines.take(probeLine).exists(_.contains("Exchange"))
    val scanBelow = lines.drop(probeLine).exists(_.contains("FileScan"))
    assert(scanBelow, "bloom filter does not sit on the scan side")
    assert(exchangeAbove, "no exchange above the bloom prefilter — nothing was saved")
  }

  test("r9: unigram LM broadcasts the gated corpus-frequency table") {
    val p = plan("q_llm_unigram_lm")
    assert(p.contains("BroadcastHashJoin"),
      s"sf-scale vocab should broadcast under the gate:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "unigram LM planned a cartesian")
  }

  test("r9: source overlap pair-unnests gram source-sets — no self-join, no cartesian") {
    val p = plan("q_llm_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "source overlap planned a cartesian")
    assert(!p.contains("SortMergeJoin"),
      s"source overlap planned a corpus self-join instead of the one-shuffle " +
        s"collect-set + pair-unnest shape:\n${p.take(3000)}")
  }

  test("r9: ngram top-k keeps per-lang top-k inside the aggregate — no Window") {
    val p = plan("q_llm_ngram_topk")
    assert(!p.contains("Window"),
      s"ngram top-k fell back to a per-lang vocabulary sort:\n${p.take(3000)}")
    assert(p.contains("bounded_top_k_strings") || p.contains("BoundedTopKStrings") ||
      "HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      s"expected the bounded top-k aggregate:\n${p.take(3000)}")
  }

  test("r9: incremental dedup verdict-joins on long ids — no cartesian, no text-key join") {
    val p = plan("q_llm_dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "incremental dedup planned a cartesian")
  }

  test("r9: chunking is map-only — the final sort's exchange is the ONLY shuffle") {
    val p = plan("q_llm_chunk")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"chunking should shuffle only for the mandated ORDER BY:\n${p.take(3000)}")
    assert(p.contains("Generate"), "chunk explode missing from the plan")
  }

  test("r9: sessionize windows partition by user — never a single-partition sort") {
    val p = plan("q_ts_sessionize")
    assert(p.contains("Window"), "sessionize lost its windows")
    assert(!p.contains("SinglePartition"),
      s"sessionize planned a single-partition window:\n${p.take(3000)}")
  }

  test("r9: retention joins user-level aggregates — no cartesian") {
    val p = plan("q_ts_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "retention planned a cartesian")
  }

  test("r9: gapfill joins the grid to the AGGREGATE, never re-shuffling raw events") {
    val p = plan("q_ts_gapfill")
    // the left join's probe side is the hours×types aggregate (tiny at any
    // corpus age) — it must broadcast; raw events feed only the aggregate
    assert(p.contains("BroadcastHashJoin"),
      s"grid join should broadcast the aggregate side:\n${p.take(3000)}")
    assert(p.contains("Window"), "forward-fill window missing")
  }

  test("r9: leak-free split joins output-sized labels — no cartesian") {
    val p = plan("q_llm_split_leakfree")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "leak-free split planned a cartesian")
  }

  test("r10: entropy is one native per-row pass — no char explode, no count shuffle") {
    // r9's shape exploded one row per CHARACTER (16x the corpus) into a
    // corpus-wide groupBy; the native EntropyStats expression computes
    // both entropies per row, leaving only the mandated ORDER BY exchange
    val p = plan("q_llm_entropy")
    assert(!p.contains("Generate"), s"entropy re-grew an explode:\n${p.take(3000)}")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the ORDER BY exchange, got $exchanges:\n${p.take(3000)}")
    assert(p.contains("rangepartitioning"), p.take(2000))
  }

  test("r19: keep-best canonicals via ONE label window — no join-back, no rank sort") {
    // r9 pinned "aggregate argmax, no window" when the alternative was a
    // row_number() rank; r19 measured the groupBy+join-back spelling
    // planning TWO exchanges and executing the lab subtree twice, and
    // replaced it with a single window over the label partition (same
    // argmax). The window's only sort key is the partition key itself —
    // the per-cluster RANK sort r9 rejected stays banned — and the whole
    // plan must carry exactly two exchanges: the label partition and the
    // mandated output ORDER BY.
    val p = plan("q_llm_dedup_keep_best")
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"keep-best should plan exactly one window:\n${p.take(3000)}")
    // an unordered full-partition frame — a rank-style ordered window
    // would put a sort key inside the spec and plan a RangeFrame
    assert(p.contains("specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())"),
      s"keep-best's window must be the unordered full-partition frame:\n${p.take(3000)}")
    assert(!p.contains("row_number"),
      s"keep-best must not rank per cluster:\n${p.take(3000)}")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"expected label-partition + ORDER BY + dim broadcast exchanges only, got $exchanges:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "keep-best planned a cartesian")
  }
}
