package graft

/** Physical-plan regression guards: the scale properties claimed in
  * SURVEY §5/§6 asserted against the actual plans, so a refactor that
  * silently breaks pushdown / broadcast / single-shuffle shapes fails CI
  * instead of a future benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** True when the fixture's events.parquet is the nano-INT64 vintage,
    * where `ts` is a derived column and pushdown is impossible by
    * construction (see Tables) — the pushdown guards skip there. An
    * unreadable/absent events.parquet also reports true so the
    * assume()-guarded tests degrade to a skip instead of erroring in
    * the probe.
    */
  private lazy val eventsTsIsNanoLong: Boolean =
    scala.util.Try(
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType).getOrElse(true)

  test("q2: filters and projection reach the parquet scan") {
    val p = planOf("q2_filter_project")
    assert(p.contains("PushedFilters:"), p.take(800))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "date filter not pushed")
    // pruned scan: only the 4 referenced columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && !read.contains("l_orderkey"),
      s"column pruning failed: $read")
  }

  test("events: ts range predicate reaches the parquet scan (pushdown survives the vintage normalizer)") {
    // The timestamp[us] no-UTC-flag vintage must surface as TIMESTAMP off
    // the scan (inferTimestampNTZ disabled in Sessions.builderDefaults) —
    // a cast-above-the-scan would keep values correct but turn every
    // time-range filter on a 100 TB events table into a full scan. This
    // guard fails if the loader ever reintroduces that shape. On the
    // nano-INT64 vintage ts is necessarily a derived column and CANNOT
    // push — the guard only applies to the timestamp vintages.
    assume(!eventsTsIsNanoLong, "nano INT64 events vintage: ts pushdown not applicable")
    val df = Tables.load(spark, sfDir, "events")
      .filter(org.apache.spark.sql.functions.col("ts") >=
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters:"), p.take(1200))
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"ts predicate not pushed into the events scan:\n${p.take(1200)}")
  }

  test("s21: both time-range bounds reach the events scan") {
    assume(!eventsTsIsNanoLong, "nano INT64 events vintage: ts pushdown not applicable")
    val p = planOf("s21_time_slice")
    assert(p.contains("GreaterThanOrEqual(ts") && p.contains("LessThan(ts"),
      s"range bounds not pushed:\n${p.take(1200)}")
  }

  test("q4: dimension chain uses broadcast hash joins") {
    val p = planOf("q4_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"))
  }

  test("s3: as-of join is one window over one exchange (no join node)") {
    val p = planOf("s3_asof_join")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("Join"), "as-of must not plan a join")
  }

  test("d3: minhash signature aggregation keeps map-side partials") {
    val p = planOf("d3_dedup_minhash")
    // partial_graft_minhash_sig before the exchange proves the custom
    // aggregate participates in two-phase aggregation
    assert(p.contains("partial_graft_minhash_sig") ||
      p.contains("graft_minhash_sig"), p.take(1200))
  }

  test("q1: aggregation pipeline stays inside whole-stage codegen") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    df.collect() // execute THIS plan so AQE finalizes it (count() would
                 // wrap it in a different query execution)
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact form
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(600))
  }

  test("v2: ANN scoring compiles to the native dot product") {
    // cosineFast's HOF shape must be rewritten to DotProductF (graft_dot)
    val p = planOf("v2_ann_lsh")
    assert(p.contains("graft_dot"), p.take(1200))
  }

  test("s5: gap fill plans no join — grid + carry-forward is window-only") {
    val p = planOf("s5_gap_fill")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "gap fill must reuse the join-free as-of shape")
  }

  test("d2: jaccard self-join reuses one exchange for both sides") {
    val df = SparkEntry.queries("d2_dedup_ngram_jaccard")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // Reuse must actually show: either an explicit Reused* node, or the
    // same AQE stage id referenced from both join sides. A bare
    // ShuffleQueryStage match would pass even when the sides plan two
    // independent exchanges.
    val stageIds = "(?:Shuffle|TableCache)QueryStage (\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val hasDuplicateStage = stageIds.distinct.size < stageIds.size
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      hasDuplicateStage,
      s"no exchange reuse between self-join sides; stages=$stageIds\n" + p.take(1500))
  }

  test("q24: RANGE window runs as a single keyed window (no join)") {
    val p = planOf("q24_window_range")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("Join"), "range frame must not expand to a join")
  }

  test("k4: theta sketches aggregate with map-side partials") {
    val p = planOf("k4_theta_setops")
    // ObjectHashAggregate in partial mode before the exchange: sketches
    // combine map-side; only k-entry buffers cross the shuffle
    assert(p.contains("ObjectHashAggregate"), p.take(600))
    assert(p.contains("graft_theta_sketch"), "sketch agg missing from plan")
  }

  test("t11: contamination check broadcasts the held-out shingle set") {
    val p = planOf("t11_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "corpus side must not shuffle for the bench join")
  }

  test("q31: funnel is windows over ONE exchange, no self-joins") {
    val p = planOf("q31_funnel")
    assert(!p.contains("Join"), "funnel must not self-join")
    // tree section: 1 keyed exchange feeds all three windows AND the
    // per-user distinct; the other two are the tiny depth rollup and the
    // final sort
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 3, s"funnel grew extra shuffles: $exchanges\n${p.take(900)}")
  }

  test("d6: URL canonicalization stays map-only below one aggregation") {
    val p = planOf("d6_dedup_url")
    // exactly one aggregation exchange (plus the final sort) — no joins
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("HashAggregate"), p.take(800))
  }

  test("t16: quality rules are map-only (no exchange except the sort)") {
    val p = planOf("t16_gopher_rules")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "word-rule battery must not shuffle or aggregate\n" + p.take(800))
  }

  test("k5: CMS sketches aggregate with map-side partials") {
    val p = planOf("k5_cms_freq")
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("graft_cms"), "cms agg missing from plan")
  }

  test("m4: channel de-interleave is map-only (no explode, no shuffle)") {
    val p = planOf("m4_channel_stats")
    assert(!p.contains("Generate") && !p.contains("Join") &&
      !p.contains("HashAggregate"),
      "channel stats must fold in-row, not explode\n" + p.take(800))
  }

  test("p1: pipeline is gate projections + dedup window + one rollup (no joins)") {
    val p = planOf("p1_corpus_pipeline")
    assert(!p.contains("Join"), "pipeline gates must not join\n" + p.take(800))
    // two keyed exchanges: the content-hash window and the source rollup
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed <= 2, s"pipeline grew extra shuffles: $keyed\n${p.take(900)}")
  }

  test("p2: profile products reuse ONE keyed exchange for window and rollup") {
    val p = planOf("p2_ocean_products")
    assert(!p.contains("Join"), p.take(600))
    // the window partitions and the rollup group on the same key, so
    // EnsureRequirements must not insert a second hash exchange
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed == 1, s"profile pass grew extra shuffles: $keyed\n${p.take(900)}")
  }

  test("q30: GroupedTopK fuses into whole-stage codegen") {
    val df = SparkEntry.queries("q30_grouped_topk")(spark, sfDir)
    df.collect() // execute so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    // both the partial and final GroupedTopK passes must sit INSIDE a
    // WholeStageCodegen stage ("*(n) GroupedTopK"), not behind an
    // iterator boundary
    val fused = p.linesIterator.count(l =>
      l.contains("GroupedTopK") && l.trim.matches("""^[+\-:\s]*\*\(\d+\).*"""))
    assert(fused >= 2, s"GroupedTopK not codegen-fused:\n${p.take(1500)}")
  }

  test("v5/v6/v7: ANN query side flows in-plan, never collected to the driver") {
    for (name <- Seq("v5_pq_adc", "v6_ivf_pq", "v7_sq_int8")) {
      val p = planOf(name)
      // a driver-built LUT table would surface as a LocalTableScan; the
      // in-plan form keeps the query side a (broadcast) parquet scan
      assert(!p.contains("LocalTableScan"),
        s"$name: query metadata was materialized on the driver\n" + p.take(1200))
      val scans = p.linesIterator.count(_.contains("Scan parquet"))
      assert(scans >= 2, s"$name: expected query AND candidate parquet scans, got $scans\n" +
        p.take(1200))
    }
  }

  test("d17: winnowing fingerprints build map-side, no per-character shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val fps = graft.operators.Dedup.winnowingFingerprints(
      docs, "doc_id", "text", k = 8, w = 4)
    val p = fps.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the only permissible exchange is Tables.spread's small-input
    // repartition at the scan; the sliding min must NOT plan a window
    assert(!p.contains("Window"),
      s"fingerprint sliding min regressed to a keyed window\n${p.take(1000)}")
    // formatted mode prints each node twice (tree + detail) — count the
    // "(n) Exchange" detail headers so one node counts once
    val ex = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(ex <= 1, s"fingerprint build plans $ex exchanges\n${p.take(1000)}")
  }

  test("t30: self-join sides reuse the shingle-distinct exchange") {
    val df = SparkEntry.queries("t30_source_overlap")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"t30 re-evaluates the tokenize+shingle+distinct subtree per side\n${p.take(1200)}")
  }

  test("v7: SQ8 candidate scan scores via the native codegen ADC dot") {
    val p = planOf("v7_sq_int8")
    assert(p.contains("graft_sq_adc_dot"),
      s"SQ8 scan fell back to the interpreted HOF form\n${p.take(1200)}")
  }

  test("s17: EWMA is one keyed exchange, join-free, with no pow at query time") {
    val p = planOf("s17_ewma")
    assert(!p.contains("Join"), "EWMA must not join")
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed == 1, s"EWMA grew extra shuffles: $keyed\n${p.take(800)}")
    // decay weights are literals, not pow() calls — no libm in the plan
    assert(!p.toLowerCase.contains("pow("), "weights must be precomputed literals")
  }

  test("s18: Holt smoothing is one keyed exchange, join-free, weights as literals") {
    val p = planOf("s18_holt")
    assert(!p.contains("Join"), "Holt must not join")
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed == 1, s"Holt grew extra shuffles: $keyed\n${p.take(800)}")
    assert(!p.toLowerCase.contains("pow("), "weights must be precomputed literals")
  }

  test("d15: containment self-join reuses one exchange for both sides") {
    val df = SparkEntry.queries("d15_containment")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedSubquery") ||
      "Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"containment grew non-reused exchanges\n${p.take(1200)}")
  }

  test("m6: patch grid is generate+project only below the final sort") {
    val p = planOf("m6_patch_grid")
    assert(!p.contains("Join") && !p.contains("hashpartitioning"),
      s"patch tiling must be map-only\n${p.take(800)}")
    assert(p.contains("Generate"), "bounded corner explode missing")
  }

  test("t24: code detect is map-only below the final sort") {
    val p = planOf("t24_code_detect")
    assert(!p.contains("Join") && !p.contains("hashpartitioning"),
      s"code detect must be map-only\n${p.take(800)}")
  }

  test("v8: recall eval joins id pairs, never vectors, with no cartesian") {
    val p = planOf("v8_recall_eval")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      s"recall eval must not plan a cartesian join\n${p.take(1200)}")
  }

  test("s19: Kalman smoothing is one keyed exchange, join-free, gains as literals") {
    val p = planOf("s19_kalman")
    assert(!p.contains("Join"), "Kalman must not join")
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed == 1, s"Kalman grew extra shuffles: $keyed\n${p.take(800)}")
  }

  test("t22: boilerplate strip is map-only below the final sort") {
    val p = planOf("t22_html_strip")
    assert(!p.contains("Join") && !p.contains("hashpartitioning"),
      s"tag strip must be map-only\n${p.take(800)}")
  }

  test("d14: incremental dedup plans the bloom fast path + one anti-join") {
    val p = planOf("d14_dedup_incremental")
    // the probe-positive residue resolves via ONE left-anti hash join
    assert(p.contains("LeftAnti"), p.take(1000))
    // the bloom probe rides as the native might_contain expression
    assert(p.contains("might_contain"), "bloom prefilter missing from the plan")
  }

  test("q36/s11: window shapes plan exactly one keyed exchange") {
    for (name <- Seq("q36_fill_down", "s11_moving_avg")) {
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name must not join")
      // formatted mode lists partitioning under "Arguments:"; exactly one
      // hash exchange (the user_id shuffle) — the other is the final sort's
      // range partitioning
      val keyed = "hashpartitioning".r.findAllIn(p).size
      assert(keyed == 1, s"$name keyed exchanges: $keyed\n${p.take(800)}")
    }
  }

  test("r36/r37: geostrophic variants stay join-free on one keyed exchange") {
    // unwrap (diff → jump flags → running sum → per-section mean →
    // centering → pairing) and the depth-corrected distance are all
    // windows over the same user_id key: every extra hashpartitioning
    // would be a second full shuffle of a 100 TB events table.
    for (name <- Seq("r36_unwrap_section", "r37_depth_distance")) {
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name must not join")
      val keyed = "hashpartitioning".r.findAllIn(p).size
      assert(keyed == 1, s"$name keyed exchanges: $keyed\n${p.take(800)}")
    }
  }

  test("t31: sequence packing is join-free on one keyed exchange") {
    // the chop form must stay an exclusive-prefix-sum window per stream;
    // a second hashpartitioning would mean the packing re-shuffles the
    // whole corpus
    val p = planOf("t31_sequence_pack")
    assert(!p.contains("Join"), "packing must not join")
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed == 1, s"t31 keyed exchanges: $keyed\n${p.take(800)}")
  }

  test("r38: referenced dynamic height is join-free, all exchanges profile-keyed") {
    // the grid build (extension + refinement candidates + p_ref) is
    // unions of explodes, never a join; every window partitions on the
    // profile key so a cast's grid never leaves its partition
    val p = planOf("r38_dyn_height_ref")
    assert(!p.contains("Join"), "dynamic height must not join")
    val parts = "hashpartitioning\\(pid".r.findAllIn(p).size +
      "hashpartitioning\\(l_orderkey".r.findAllIn(p).size
    val all = "hashpartitioning".r.findAllIn(p).size
    assert(all == parts, s"non-profile-keyed exchange present\n${p.take(1200)}")
    assert(all > 0, "expected keyed exchanges")
  }

  test("r39: pchip dynamic height stays join-free with profile-keyed exchanges") {
    // the pchip derivative pass is one more lag/lead window over the
    // knots — it must add a pid-keyed window, never a join against the
    // knot set
    val p = planOf("r39_dyn_height_pchip")
    assert(!p.contains("Join"), "pchip dynamic height must not join")
    val parts = "hashpartitioning\\(pid".r.findAllIn(p).size +
      "hashpartitioning\\(l_orderkey".r.findAllIn(p).size
    val all = "hashpartitioning".r.findAllIn(p).size
    assert(all == parts, s"non-profile-keyed exchange present\n${p.take(1200)}")
    assert(all > 0, "expected keyed exchanges")
  }

  test("t26: readability scoring is map-only below one keyed exchange") {
    val p = planOf("t26_readability")
    assert(!p.contains("Join"), "readability must not join")
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed == 1, s"t26 keyed exchanges: $keyed\n${p.take(800)}")
  }

  test("t27: the domain cap runs through the GroupedTopK node, no sort") {
    val p = planOf("t27_domain_cap")
    assert(p.contains("GroupedTopK"), s"custom node missing\n${p.take(800)}")
    // the cap itself must not plan a Window (that's the oracle's shape)
    assert(!p.contains("Window"), "cap must use bounded heaps, not a window sort")
  }

  test("s20: acf is join-free with three keyed exchanges (agg, window, agg)") {
    val p = planOf("s20_acf")
    assert(!p.contains("Join"), "acf must not join")
    val keyed = "hashpartitioning".r.findAllIn(p).size
    assert(keyed <= 3, s"s20 keyed exchanges: $keyed\n${p.take(800)}")
  }

  test("d19: run detection is keyed joins only — no pairwise blowup") {
    val p = planOf("d19_exact_substr")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join shape in d19:\n${p.take(1200)}")
    // the shingle-occurrence count must two-phase (map-side partial
    // before its exchange) — at 100 TB the partial is what keeps the
    // repeated-hash shuffle linear in distinct shingles, not tokens
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("d20: the excision is row-local — no token-level joins or explodes remain") {
    val p = planOf("d20_substr_excise")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join shape in d20:\n${p.take(1200)}")
    // round-17 shape: the r16 covered-position explode + (doc,pos) anti-
    // join + collect_list rebuild collapsed into a per-doc interval list
    // joined back to the doc scan, with the cleaned text rebuilt by a
    // row-local positional filter — the token corpus never leaves its
    // row, so NO anti-join and no token-keyed exchange may reappear
    assert(!p.contains("LeftAnti"),
      s"token-level anti-join reappeared in d20:\n${p.take(1200)}")
    assert(p.contains("collect_list"), "per-doc run-interval rollup missing")
  }

  test("t34: the DSIR LLR table broadcasts — the corpus never shuffles for it") {
    val p = planOf("t34_dsir_select")
    // at 100 TB the 64-row LLR table rides to the corpus, not the
    // reverse: the scoring join must be a broadcast hash join and the
    // final cut a TakeOrdered, never a full sort
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), "top-k cut is a full sort")
  }

  test("t35: the benchmark shingle set broadcasts like t11's") {
    val p = planOf("t35_fuzzy_decontam")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join shape in t35:\n${p.take(1200)}")
  }

  test("t33: bigram formation is map-only — no window below the count aggs") {
    val p = planOf("t33_bigram_lm")
    // the transform/explode bigram build must not plan a per-doc Window
    // (the lag-window form would shuffle the whole corpus before
    // counting); all exchanges are aggregation/join keyed
    assert(!p.contains("Window"), s"window in the bigram path:\n${p.take(1200)}")
  }

  test("d21: the semantic-dedup pair join is cluster-keyed, never a cross product") {
    val p = planOf("d21_semdedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join shape in d21:\n${p.take(1200)}")
  }

  test("d22: both existence checks are equi-keyed joins, never a cross product") {
    val p = planOf("d22_url_content_incremental")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join shape in d22:\n${p.take(1200)}")
    // the two history indexes (content hash, canonical URL) must arrive
    // as DISTINCT key sets — an aggregate per side, so per-key join
    // fanout is exactly 0 or 1 regardless of corpus dup rates
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("p4: LM totals and tercile cuts broadcast; no pairwise step anywhere") {
    val p = planOf("p4_ccnet_pipeline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join shape in p4:\n${p.take(1200)}")
    // the per-lang LM totals and the per-lang tercile cut table are
    // bounded by the language count — they must ride to the corpus as
    // broadcasts, never shuffle the token stream against them
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("p3: the substring stage adds only linear keyed exchanges to p1's funnel") {
    val p = planOf("p3_curation_pipeline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join shape in p3:\n${p.take(1200)}")
    // the repeated-runs pass must keep its map-side partial (the
    // shingle-count exchange stays linear in distinct shingles)
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("d51: storage-partitioned graft-table join plans ZERO exchanges") {
    val p = planOf("d51_spj_join")
    // both V2 scans report KeyGroupedPartitioning(lang) under the
    // preserveDataGrouping opt-in, so the merge join AND the lang
    // aggregation ride the storage layout — no Exchange anywhere
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("Exchange"),
      s"SPJ join planned an exchange — KeyGroupedPartitioning is not being consumed:\n${p.take(2000)}")
    // key-pure task groups are trivially ordered on the grouping key,
    // and the scan SAYS so (SupportsReportOrdering) — no input sorts
    assert(!p.contains("Sort ("),
      s"SPJ join planned input sorts — reported ordering is not being consumed:\n${p.take(2000)}")
    assert(p.contains("keyGrouped=[lang]"),
      s"scan did not report key-grouped reading:\n${p.take(2000)}")
  }

  test("q43: bucketed fact-fact join plans ZERO exchanges") {
    val p = planOf("q43_bucketed_join")
    // sort-merge on the bucket key, both scans pre-partitioned: no join
    // shuffle, no aggregation shuffle (orderkey clusters the group
    // keys), no broadcast — "Exchange" must not appear AT ALL
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("Exchange"),
      s"bucketed join planned an exchange — the write-once bucketing is not being consumed:\n${p.take(2000)}")
    assert(p.contains("Bucketed: true"),
      s"scan did not report bucketed reading:\n${p.take(2000)}")
  }
}
