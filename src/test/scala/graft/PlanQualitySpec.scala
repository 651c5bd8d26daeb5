package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions: the optimizations the engine's scale story relies
  * on must be visible in the executed plan, not assumed. Runs against the
  * sf0.001 testdata so real parquet scans (with pushdown) are planned. */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def df(name: String) = SparkEntry.queries(name)(spark, dir)
  private def plan(name: String): String =
    df(name).queryExecution.executedPlan.toString
  /** Final adaptive plan (after execution) — codegen spans and exchange
    * reuse only materialize in the finalized plan. */
  private def finalPlan(name: String): String = {
    val q = df(name)
    q.collect()
    q.queryExecution.executedPlan.toString
  }

  test("the test session plans under graft.Session's confs") {
    val keys = Seq("spark.sql.codegen.maxFields",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.ansi.enabled",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.legacy.parquet.nanosAsLong")
    assert(keys.map(spark.conf.get) == keys.map(Session.confs))
  }

  test("p1: filter and projection push into the parquet scan") {
    val p = plan("p1_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull") &&
      p.contains("GreaterThan(o_totalprice,100000.0)"), p)
    // column pruning: scan reads only the 3 projected + 1 filter column
    assert(!p.contains("o_orderdate") && !p.contains("o_orderpriority"), p)
  }

  test("q5: dimension joins broadcast, no shuffle of the nation side") {
    val p = plan("q5_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q2: the summary engine shuffles exactly once (grouping sets + explode unpivot)") {
    val p = plan("q2_summary_engine")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("q3: quality report plans exactly one table scan (pass-1 moments are driver literals)") {
    val p = plan("q3_quality_report")
    // pass 1 collects a single aggregate row to the driver; the returned
    // frame is a local relation unioned with the z-score pass → exactly one
    // scan in the plan (pass 1's scan already ran eagerly)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d2: minhash pipeline runs on native codegen expressions") {
    // the signature table is materialized (localCheckpoint) before the
    // banding fan-out — projection collapse would otherwise inline the
    // signature expression into all ~134 downstream references — so the
    // native expressions live in the signature-stage plan...
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sp = docs.select(
        graft.expressions.ShingleHashExpr.shingleHashes(
          org.apache.spark.sql.functions.col("text"), 3).as("__hs"))
      .select(graft.dedup.Dedup.minHashSignatureNative(
        org.apache.spark.sql.functions.col("__hs"), 64, 42L).as("sig"))
      .queryExecution.executedPlan.toString
    assert(sp.contains("graft_shingle_hashes"), sp)
    assert(sp.contains("graft_minhash_sig"), sp)
    // ...and the full query plan keeps the scoring expression + join shape:
    // ONE signature computation (the checkpointed RDD scan), an equi join
    // on (band, bucket), never a loop
    val p = plan("d2_minhash_neardup")
    assert(p.contains("graft_sig_agreement"), p)
    assert(!p.contains("graft_minhash_sig"), p) // sig computed once, upstream
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("d4: n-gram jaccard uses the sorted-merge intersect, no per-pair hash sets") {
    val p = plan("d4_ngram_jaccard")
    assert(p.contains("graft_sorted_intersect_count"), p)
    assert(!p.contains("array_intersect") && !p.contains("array_union"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e5: interval join keeps its equi key (hash join + range filter, no loop)") {
    val p = plan("e5_attributed_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e3: as-of join is ONE key-partitioned shuffle, no range nested-loop") {
    val p = plan("e3_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // tagged-union + running-last plan: the only hash-partitioned exchange is
    // the window's key partitioning (the final orderBy adds a range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("j1: cross-cohort agg never builds a row-level cross product") {
    val p = plan("j1_cross_agg")
    // the cartesian join happens on two 1-row aggregated sides
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"), p)
    // each side fully aggregates before the join: partial+final per side
    assert("HashAggregate".r.findAllIn(p).length >= 4 ||
      "SortAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("d10: span dedup is all key-partitioned hash work, no loop join") {
    val p = plan("d10_span_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // anti join on the unit key, not an aggregation-side recompute
    assert(p.contains("LeftAnti"), p)
  }

  test("t10: bigram LM count joins are equi joins (hint-free, AQE-sized)") {
    val p = plan("t10_ngram_lm")
    // the only loop join allowed is the 1-row vocab cross join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("n4: BM25 explodes postings only (query-term filter precedes explode)") {
    // the tf frame is pinned inside bm25TopK (r13), which truncates the
    // explode out of the FINAL plan — assert the filtered-explode shape on
    // the unpinned tf frame the pin materializes (same lineage)
    val tfPlan = graft.text.Search.bm25TfFrame(
      graft.Tables.load(spark, dir, "documents"), "doc_id", "text",
      Seq("dup", "spark", "merge"))
      .queryExecution.executedPlan.toString
    // the term filter runs inside the project feeding Generate, so the
    // exploded stream is postings-sized: filter() appears as an argument of
    // the explode generator, not as a post-explode Filter node
    assert(tfPlan.contains("Generate explode(filter("), tfPlan)
    val p = plan("n4_bm25")
    // top-k is a bounded TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("n5: IVF probe joins corpus to queries on centroid_id (hash, no loop)") {
    val p = plan("n5_ivf_probe")
    // probe = broadcast hash join on the centroid key; the only all-pairs
    // work is each row against the 8-element literal centroid array
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("d11: line dedup keeps the d10 plan shape (anti join, no loop)") {
    val p = plan("d11_line_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("t11: corpus report is one Expand cube over one corpus scan + dup-flag join") {
    val p = plan("t11_corpus_report")
    assert(p.contains("Expand"), p)
    // two scans of documents: the hashed base and the dup-set aggregation
    // branch (self-join on __h) — never a scan per cube cell
    assert("Scan parquet".r.findAllIn(p).length <= 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("p7: selective dim join dynamically prunes fact partitions (DPP)") {
    val p = plan("p7_partition_prune")
    // the fact scan carries a runtime pruning subquery on the partition
    // column — the dim filter (day sum vs max) is not statically inferable,
    // so this is genuine dynamic partition pruning, not constraint pushdown
    assert(p.contains("PartitionFilters"), p)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p7: the DPP subquery reuses the dim broadcast (no second dim scan)") {
    val p = finalPlan("p7_partition_prune")
    // the pruning subquery must not pay for itself: the broadcast built for
    // the join is the one the partition filter consumes
    assert(p.contains("ReusedExchange"), p)
  }

  test("j6: hot-key isolation broadcasts the hot slice, no loop join") {
    val p = plan("j6_skew_isolated")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // hot-head path: semi filters + the inner join build side all broadcast
    assert("BroadcastExchange".r.findAllIn(p).length >= 3, p)
  }

  test("j8: bloom pre-filter sits below the join's exchange on the fact side") {
    val p = plan("j8_bloom_join")
    // the membership test must run BEFORE rows shuffle: in the plan text
    // the fact-side Exchange's child subtree contains the bloom filter
    val filterAt = p.indexOf("graft_bloom_might_contain")
    assert(filterAt >= 0, p)
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0 && joinAt < filterAt,
      "bloom filter should be in a join input subtree (below the join)\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("j5: bucketed fact-fact join + key agg plan with zero hash exchanges") {
    val p = plan("j5_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    // bucketed layout on both sides: neither the join nor the o_orderkey
    // aggregation shuffles (the final orderBy's range exchange is expected)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("e7: streaming near-dup replay is a banded equi join, no loop") {
    val p = plan("e7_stream_neardup_replay")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("t8: chunk map's cumsum windows are all partitioned (sharded two-phase)") {
    // the packing map must never fall back to a single-partition global sort
    val wins = df("t8_chunk_map").queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected a windowed cumsum in t8's plan")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"partition-less WindowExec in t8's plan:\n$w"))
  }

  test("r9/r15/r11: FDR adjustment plans have no partition-less window") {
    // the BH/SABHA rank must come from the sharded two-phase pass (r9, r11)
    // or per-family partitions (r15) — never a global sort. r11's rank/qhat
    // windows run in the EAGER khat jobs upstream of the pinned
    // localCheckpoint, so its returned plan may carry no WindowExec at all;
    // r9's suffix-min and r15's family windows stay in the returned plan.
    Seq("r9_fdr_distributed", "r15_fdr_family", "r11_sabha_distributed").foreach { q =>
      val wins = df(q).queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      if (q != "r11_sabha_distributed")
        assert(wins.nonEmpty, s"expected windowed FDR math in $q's plan")
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"partition-less WindowExec in $q's plan:\n$w"))
    }
  }

  test("t12/t13: chunking and vocab encoding never hash-shuffle the corpus") {
    // pure per-row explodes: the only exchanges are the deliberate spread
    // (round-robin) and the output orderBy (range)
    Seq("t12_chunk_explode", "t13_vocab_encode").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q:\n$p")
    }
  }

  test("n6: ADC probe prunes top-k before its single exchange") {
    val p = plan("n6_pq_probe")
    // codes x broadcast-query cross is the deliberate ADC scan; the per-
    // query top-k must be pruned map-side (WindowGroupLimit) so only
    // candidate winners cross the one hash exchange
    assert(p.contains("WindowGroupLimit"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("whole-stage codegen spans cover the relational queries") {
    Seq("q1_agg", "p2_cast_project", "e1_events_hourly").foreach { q =>
      val p = finalPlan(q)
      assert(p.contains("WholeStageCodegen") || p.contains("*("),
        s"$q has no codegen span:\n$p")
    }
  }
}
