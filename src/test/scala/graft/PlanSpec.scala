package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions — the properties that decide whether
  * a query survives a 100× scale-up: filters/projections reaching the
  * parquet scan, dimension joins broadcasting, range joins never
  * degenerating to cartesian products, window pipelines sharing one
  * exchange. Run at sf0.001 (plan shape is scale-invariant; AQE may
  * re-pick join strategies at runtime, so these check the static plan).
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Pins a core frame built outside the registry — used where the
    * assertions are about the operator shape, independent of the
    * registered query's presentation-sort policy (q65 stages its sort
    * via Staging.stagedSort, which would hide a registry plan behind
    * a parquet scan; the others keep live sorts per the live-vs-staged
    * A/B, but pinning the core keeps these tests policy-proof).
    */
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q01: ship-date filter pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q03: column pruning — scan reads only the 4 needed columns") {
    val p = plan("q03_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
      "l_shipdate").forall(readSchema.contains), readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      readSchema)
  }

  test("q20/q21: dimension joins broadcast (no shuffle of the fact side)") {
    assert(plan("q20_join_broadcast").contains("BroadcastHashJoin"))
    val p = plan("q21_join_multi")
    assert(count(p, "BroadcastHashJoin") >= 2, p) // nation & region at least
  }

  test("q22/q23: semi/anti joins plan as real join operators") {
    assert(plan("q22_semi_join").contains("LeftSemi"))
    assert(plan("q23_anti_join").contains("LeftAnti"))
  }

  test("q25: equi+range join is a hash/merge join, never cartesian") {
    val p = plan("q25_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("join"), p)
  }

  test("q26: as-of via running max — one window pass, zero joins") {
    val p = plan("q26_asof_join")
    assert(!p.contains("Join"), p)
    assert(count(p, "Window") === 1, p)
  }

  test("q51: sessionize — both window passes + final agg share ONE data shuffle") {
    // the only hash exchange is on user_id; the rangepartitioning one
    // is the presentation ORDER BY, not data movement between operators
    val p = plan("q51_sessionize")
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("q30: top-n per group — one data shuffle + WindowGroupLimit pushdown") {
    val p = plan("q30_topn_per_group")
    assert(count(p, "Exchange hashpartitioning") === 1, p)
    // rank<=3 filter pushed below the shuffle as a partial group limit
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q43: bucketed join — no exchange on either join side") {
    // AQE would broadcast the small side at this SF and hide the
    // co-location; force the shuffle-join path the property is about
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q43_bucketed_join")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning(o_custkey"), p)
      assert(!p.contains("Exchange hashpartitioning(c_custkey"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("q60: exact dedup is one hash-agg pair with map-side partial") {
    val p = plan("q60_dedup_exact")
    assert(count(p, "HashAggregate") >= 2, p) // partial + final
    assert(count(p, "Exchange") <= 2, p)      // agg shuffle (+ sort for output order)
  }

  test("q89: decontamination — eval gram index broadcasts, train side never shuffles pre-join") {
    val p = planOf(graft.queries.CurationQueries.q89Core(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the only hash exchanges are the per-pair count aggregate (and
    // its distinct pre-agg), both keyed on the output pair, plus the
    // EVAL side's (doc, gram) dedup — eval-suite-scale, not
    // corpus-scale — that bounds the index blowup on repeated grams.
    // The train corpus still reaches the join map-side.
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
  }

  test("q90: mixture resample — gates broadcast, corpus filter stays map-side") {
    val p = plan("q90_domain_mixture")
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q95: chunking is pure map-side — zero data shuffles") {
    // the only exchange is the presentation ORDER BY (range), never a
    // hash exchange: tokenize → explode → slice all stay in one stage
    val p = plan("q95_doc_chunking")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Generate"), p)
  }

  test("q96: surprisal — vocab joins on the token key, no cartesian blowup") {
    val p = planOf(graft.ext.LanguageModel.unigramSurprisal(
      graft.queries.Tables.load(spark, dir, "documents"), "doc_id", "text"))
    // 1-row corpus total joins via broadcast; token join is hash/merge
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // the scalar total only
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q97: group sample plans WindowGroupLimit (map-side top-k prune)") {
    val p = plan("q97_group_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("q99: containment — probe side broadcasts, corpus never cartesians") {
    val p = plan("q99_containment_dedup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q100/q101: per-source fences and totals broadcast back to the corpus") {
    val p100 = plan("q100_source_report")
    assert(!p100.contains("CartesianProduct"), p100)
    val p101 = plan("q101_source_outlier_trim")
    assert(p101.contains("BroadcastHashJoin"), p101)
    assert(!p101.contains("CartesianProduct"), p101)
  }

  test("q108: funnel stages chain through broadcast gates, no cartesian") {
    val p = plan("q108_funnel")
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q110: FK check is a broadcast anti-join") {
    val p = plan("q110_dq_checks")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q112: vocab top-k is TakeOrdered, membership join broadcasts") {
    val p = plan("q112_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q114: trigram top-10 is TakeOrdered over one timeline shuffle") {
    val p = plan("q114_event_trigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q118: decay anchor is a 1-row broadcast, one data shuffle") {
    val p = plan("q118_decayed_value")
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // the scalar anchor only
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("q119: session funnel — stage joins all key on (user, session), no cartesian") {
    val p = plan("q119_session_funnel")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are the final 1-row scalar assembly
    // (count × count × count), never a data-sized side
    assert(count(p, "BroadcastNestedLoopJoin") <= 2, p)
    // sessionizer window (user) + staged/click/purchase joins (user, session):
    // the per-stage exchanges must stay on the funnel keys, never multiply
    assert(count(p, "Exchange hashpartitioning") <= 6, p)
  }

  test("q120: skew report is 4 independent hash-agg passes, nothing collected") {
    val p = plan("q120_skew_report")
    assert(!p.contains("CartesianProduct"), p)
    // one per-key-column groupBy exchange; the 1-row rollups are
    // SinglePartition exchanges, not data shuffles
    assert(count(p, "Exchange hashpartitioning") === 4, p)
  }

  test("q121: salted agg is exactly two shuffles — (key,salt) partial then key final") {
    val p = plan("q121_salted_agg")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "Exchange hashpartitioning") === 2, p)
    assert(count(p, "HashAggregate") >= 4, p) // partial+final per phase
  }

  test("q122: repeated n-grams — digest counting, broadcast-only recovery joins") {
    // r21 shape: counts aggregate over 64-bit gram DIGESTS (map-side
    // Generate of graft_gram_hashes, no corpus-wide gram strings);
    // the top-15 phrase recovery re-attaches strings through
    // BROADCAST joins only — the corpus is never shuffled by a join
    val p = plan("q122_repeated_ngrams")
    assert(p.contains("Generate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q123: collocations — vocab joins on the word key, totals broadcast, top-k") {
    val p = plan("q123_collocations")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "BroadcastNestedLoopJoin") <= 2, p) // the 1-row N/M totals only
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q124: heavy hitters — candidate set broadcasts back, totals 1-row, no cartesian") {
    val p = plan("q124_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // the 1-row N total only
  }

  test("q125: substring spans — digest window + doc sweep, two data shuffles, no pairs") {
    val p = planOf(graft.ext.Dedup.substringDupSpans(
      graft.queries.Tables.load(spark, dir, "documents"),
      "doc_id", "text", w = 20))
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "Window") === 2, p) // canonical pick + interval sweep
    assert(count(p, "Exchange hashpartitioning") <= 4, p)
  }

  test("q126: co-occurrence — capped sets self-join on the user key, never cartesian") {
    val p = plan("q126_item_cooccurrence")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the K=20 cap pushes down as a map-side group limit on BOTH
    // self-join branches — the property that bounds pair generation
    assert(count(p, "WindowGroupLimit") >= 2, p)
    assert(count(p, "Exchange hashpartitioning") <= 6, p)
  }

  test("q127: gap fill — spine joins facts without cartesian, one fill window") {
    val p = plan("q127_gap_fill")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "Window") === 1, p)
    // orders scan prunes to the spine month
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q128: equi-depth deciles — one partitioned window, agg reuses its exchange") {
    val p = plan("q128_equidepth_histogram")
    assert(count(p, "Window") === 1, p)
    // window sort keys on priority; the following group-by is on
    // (priority, decile) — only the presentation sort adds a range
    // exchange beyond these two
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("q130: gaps-and-islands — every exchange keys on user_id, no self-join") {
    val p = plan("q130_longest_streak")
    assert(!p.contains("Join"), p)
    assert(count(p, "Window [") === 2, p) // island numbering + best pick
    assert(p.contains("WindowGroupLimit"), p) // best-streak pick is top-1 pushed
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("q137: Pareto classification is joinless; both windows share one global sort") {
    val p = plan("q137_pareto_abc")
    assert(!p.contains("Join"), p)
    assert(count(p, "Sort [revenue") === 1, p) // cum + total ride one sort
  }

  test("q136: last-touch attribution is joinless — carry-forward, not per-purchase lookback") {
    val p = plan("q136_last_touch_attribution")
    assert(!p.contains("Join"), p)
    assert(count(p, "Window [") === 1, p)
  }

  test("q135: rolling actives explodes map-side; only the 1-row bound and day key join") {
    val p = plan("q135_rolling_actives")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate explode"), p) // the ×7 contribution fan-out
    // the only nested-loop is the 1-row max_day broadcast
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p)
  }

  test("q134: growth accounting is joinless; cumulative window rides the aggregated frame") {
    val p = plan("q134_user_growth")
    assert(!p.contains("Join"), p)
    assert(count(p, "Window [") === 2, p) // first-seen min + cumulative sum
  }

  test("q133: concurrency sweep is joinless, day-partitioned") {
    val p = plan("q133_peak_concurrency")
    assert(!p.contains("Join"), p)
    assert(count(p, "Window [") === 1, p)
  }

  test("q132: triangle counting closes wedges with equi-joins only") {
    val p = plan("q132_triangle_count")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q131: SCD2 build is joinless, one customer-key exchange") {
    val p = plan("q131_scd2_priority")
    assert(!p.contains("Join"), p)
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("q115: retention matrix reuses the user-key exchange, no cartesian") {
    val p = plan("q115_retention_matrix")
    assert(!p.contains("CartesianProduct"), p)
    // first-seen agg + join + matrix agg + presentation sort: the
    // user-key exchange must not multiply
    assert(count(p, "Exchange hashpartitioning") <= 3, p)
  }

  test("q139: two-pass prefix sum — NO single-partition exchange anywhere") {
    // the whole point of the variant: the global running sum runs as
    // per-partition windows (hash exchange on pid) + a broadcast
    // offset join; q137's Exchange SinglePartition must be absent
    val p = plan("q139_pareto_twopass")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p) // the pid-partitioned local prefix
    assert(p.contains("BroadcastHashJoin"), p) // offsets ride broadcast
  }

  test("q140: bloom prefilter sits map-side; exact verify join is the shuffle shape") {
    val p = planOf(graft.queries.CurationQueries.q140Core(spark, dir))
    // the membership test must be a plain Filter over builtin
    // expressions (xxhash64 + shiftright) — in the stage, not a UDF
    assert(p.contains("xxhash64"), p)
    // the verify join is forced to the large-eval-regime shape: a
    // shuffle join on the gram key, not a broadcast of the eval index
    assert(p.contains("SortMergeJoin"), p)
    // the only broadcast is the 1-row bitmap ride-along
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q142: interval stabbing runs as a bin equi-join — no nested-loop, no cartesian") {
    val p = plan("q142_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the containment join keys on the bin column (hash or sort-merge
    // equi-join — either is the bounded shape; NL is the failure)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("equi-depth approx variant: zero windows; only the 1-row sketch merge is global") {
    val df = graft.queries.RelationalQueries.equidepthApproxGlobal(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // no total sort of the data, no window at all — exact global
    // ntile would need both
    assert(!p.contains("Window"), p)
    // the one permitted single-partition exchange is the mergeable
    // percentile sketch's final combine: O(partitions × sketch) rows,
    // never data rows
    assert(count(p, "Exchange SinglePartition") <= 1, p)
  }

  test("q152: corpus collapses to vocab first; pair mining is TakeOrdered, no cartesian") {
    val p = plan("q152_bpe_pair_stats")
    // top-25 must be TakeOrdered (map-side partial top-k), never a
    // global sort of the pair table
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly two data shuffles: the token-frequency agg and the pair
    // rollup (count-distinct expands extra in-partition HashAggregate
    // phases, but never an extra exchange)
    assert(count(p, "Exchange hashpartitioning") == 2, p)
  }

  test("q153: the 20-row priority table broadcasts; everything else keys on the digest") {
    val p = plan("q153_source_priority_dedup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the priority rank's global window rides the 20-row source agg —
    // the corpus itself must never hit a single-partition exchange
    // followed by a corpus-wide Window (digest window partitions by
    // vocab_digest)
    assert(p.contains("vocab_digest"), p)
  }

  test("q155: only the 1-row total rides a nested-loop; vocab joins are keyed") {
    val p = plan("q155_source_divergence")
    assert(!p.contains("CartesianProduct"), p)
    // exactly one BroadcastNestedLoopJoin: the 1-row corpus total
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(p.contains("BroadcastHashJoin"), p) // the 20-row n_s table
  }

  test("q156: cumulative window rides the 20-bucket agg, not the corpus") {
    val p = plan("q156_vocab_growth")
    assert(!p.contains("CartesianProduct"), p)
    // single-partition exchanges: the 1-row doc-count combine
    // (O(partitions) rows) and the post-agg 20-row window — both ride
    // row counts independent of corpus size, and nothing else may
    assert(count(p, "Exchange SinglePartition") == 2, p)
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p)
  }

  test("q162: curriculum global order — NO single-partition exchange anywhere") {
    val p = plan("q162_curriculum_order")
    assert(!p.contains("Exchange SinglePartition"), p)
    // the numbering window partitions by the TwoPass pid — never a
    // global window
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q164: manifest rank and offset windows share ONE shard exchange") {
    val p = plan("q164_shard_manifest")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q157: thresholds explode map-side; only the 1-row totals ride a nested-loop") {
    val p = plan("q157_quality_yield")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(p.contains("Generate explode"), p)
  }

  test("q158: both packing windows partition by the shard key") {
    val p = plan("q158_packing_order_audit")
    assert(!p.contains("CartesianProduct"), p)
    // every Window partitions on source — a global (unpartitioned)
    // cumsum would serialize the corpus through one task
    assert(count(p, "windowspecdefinition(source") >= 2, p)
    assert(!p.contains("windowspecdefinition(ROWS"), p)
  }

  test("q72: LSH pair search is a bucket equi-join over the staged vectors") {
    val p = planOf(graft.ext.Similarity.lshNeighborPairs(
      graft.queries.Tables.load(spark, dir, "embeddings"), dim = 64,
      threshold = 0.3, nPlanes = 8))
    // candidate generation must be a keyed join on the bucket
    // signature — the property that keeps the search O(occupancy²
    // per bucket) instead of N² (a cartesian or nested-loop here is
    // the 100 TB scale-killer the autoPlanes sizing rule manages)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("[bucket"), p) // join keys lead with the bucket
    // both join inputs read the ONE staged (disk-checkpointed) bucket
    // frame, not two recomputations of the signature scan
    assert(count(p, "graft-stage-lsh-vecs") >= 2, p)
  }
}
