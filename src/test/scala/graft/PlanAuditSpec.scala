package graft

/** Plan-shape audits: the queries must not just return correct rows, they
  * must run on the physical plan a 100 TB deployment needs — broadcasts
  * where a side is small, top-k without a global sort, pruned scans,
  * partial aggregation. (`.explain`-driven; SURVEY §4.) */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q_join_broadcast uses a broadcast hash join") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_cache_table reads the columnar cache, not parquet") {
    // the FileScan inside InMemoryRelation's tree is the cached BUILD
    // plan; the executed access is the in-memory scan above it
    val p = plan("q_cache_table")
    assert(p.contains("Scan In-memory table") || p.contains("InMemoryTableScan"),
      s"cached relation not used:\n$p")
  }

  test("q_source_jdbc reads the database as a 4-way partitioned scan") {
    val p = plan("q_source_jdbc")
    assert(p.contains("numPartitions=4"),
      s"JDBC read is not range-partitioned (single-connection extract):\n$p")
  }

  test("q_dup_rate_source broadcasts the dup-doc set into the corpus join") {
    val p = plan("q_dup_rate_source")
    assert(p.contains("BroadcastHashJoin"), s"dup set not broadcast:\n$p")
  }

  test("q_topk_global uses TakeOrderedAndProject (no global sort of the table)") {
    assert(plan("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q_scan_project prunes the scan to exactly the projected columns") {
    val p = plan("q_scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"))
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"),
      s"scan reads more than the projection needs: $read")
  }

  test("q_scan_pushdown pushes the price predicate into the parquet scan") {
    assert(plan("q_scan_pushdown").contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"))
  }

  test("q_agg_pricing aggregates in two phases (map-side partial + final)") {
    val p = plan("q_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q_join_semi/anti plan as semi/anti joins, not materialized subqueries") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("q_sim_knn plans the declarative form as the broadcast cosine kernel") {
    val p = plan("q_sim_knn")
    assert(p.contains("CosineJoin"), s"strategy did not fire:\n$p")
    // no driver-side collect/parallelize round-trip and no pair join
    assert(!p.contains("ExistingRDD") && !p.contains("Scan[obj"),
      s"kNN still routes through a driver-materialized RDD:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"kNN fell back to a pair join:\n$p")
  }

  test("q_sim_knn kernel emits the score and prunes vectors from its output") {
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[graft.plans.CosineJoinExec] =
      p.collectFirst { case c: graft.plans.CosineJoinExec => c }.orElse(
        p.collectFirst {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a
        }.flatMap(a => find(a.executedPlan)))
    val exec = find(SparkEntry.queries("q_sim_knn")(spark, sf0001)
      .queryExecution.executedPlan).getOrElse(fail("no CosineJoinExec in plan"))
    assert(exec.scoreAttr.isDefined, "kernel does not emit the cosine score")
    assert(!exec.output.exists(_.dataType.typeName.startsWith("array")),
      s"kernel output still carries the vectors: ${exec.output}")
    // the row_number()<=5 window limit must be FUSED into the kernel:
    // only k rows per left row reach the window's shuffle, instead of all
    // O(n²/2) pairs being copied and sorted under the physical
    // WindowGroupLimit (the r4 1.9× regression)
    assert(exec.topK.map(_._1).contains(5),
      s"window top-k not fused into the kernel: topK=${exec.topK}")
  }

  test("q_join_range plans the aligned range join as a broadcast EQUI-join") {
    val p = plan("q_join_range")
    assert(p.contains("BroadcastHashJoin"),
      s"range join did not rewrite to an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a nested-loop compare:\n$p")
  }

  test("q_vec_quantize is map-side work: exactly one shuffle (final k-row agg)") {
    val p = plan("q_vec_quantize")
    assert("Exchange".r.findAllIn(p).size <= 2, // partial->final agg + tiny sort
      s"quantization shuffles more than the final aggregation:\n$p")
    assert(!p.contains("Join"), s"quantization should not join:\n$p")
  }

  test("q_sink_partitioned read-back scan prunes partitions on o_orderstatus") {
    val p = plan("q_sink_partitioned") // runs the write, plan is the read-back
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("o_orderstatus"),
      s"read-back filter did not become a partition filter:\n$p")
  }

  test("q_source_orc pushes the cents predicate into the ORC scan") {
    val p = plan("q_source_orc")
    assert(p.contains("PushedFilters: [IsNotNull(price_c), GreaterThan(price_c"),
      s"ORC read-back does not push the filter:\n$p")
  }

  test("q_join_salted runs a shuffle join keyed on (priority, salt), not broadcast") {
    val p = plan("q_join_salted")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"salted join was planned as a broadcast (salting would be moot):\n$p")
    val joinLine = p.linesIterator.find(l =>
      l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin")).getOrElse("")
    assert(joinLine.contains("salt"), s"join keys do not include the salt: $joinLine")
  }

  test("theta sketch aggregate plans as ObjectHashAggregate, two-phase") {
    // q_sketch_overlap's plan starts at the checkpointed sketch table, so
    // audit the aggregation stage itself: TypedImperativeAggregate must
    // ride the hash-based object-agg path (a SortAggregate fallback would
    // sort the raw events per partition before any sketch update), with a
    // map-side partial so only sketches cross the shuffle.
    val p = graft.Tables.events(spark, sf0001)
      .groupBy("event_type")
      .agg(graft.functions.ThetaSketchAgg.thetaSketch(
        org.apache.spark.sql.functions.col("user_id")).as("sk"))
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"theta sketch not two-phase object-hash aggregated:\n$p")
    assert(!p.contains("SortAggregate"), s"sort-agg fallback present:\n$p")
  }

  test("q_sample_weighted pushes the per-lang top-k below the shuffle (WindowGroupLimit)") {
    val p = plan("q_sample_weighted")
    // partial (map-side) + final: only ~k rows per map partition per lang
    // reach the window shuffle — the rank filter can't become a
    // one-reducer-per-group sort at scale
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank<=k not pushed map-side — each lang would sort on one reducer:\n$p")
  }

  test("q_join_range_auto: the optimizer rule turns the raw BETWEEN into an equi-join") {
    val p = plan("q_join_range_auto")
    assert(p.contains("graft_bucket"), s"RangeJoinRewrite did not fire:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join planned:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join still a nested-loop compare:\n$p")
  }

  test("q_join_bucketed merge-joins off the bucket layout with no join-side shuffle") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"bucketed join not planned as SMJ:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"join inputs shuffled — bucket layout not used as the distribution:\n$p")
  }

  test("q_dpp injects a dynamic partition pruning filter into the fact scan") {
    val p = plan("q_dpp")
    assert(p.toLowerCase.contains("dynamicpruningexpression"),
      s"fact scan has no runtime partition filter:\n$p")
  }

  test("q_contamination semi-joins the corpus against a BROADCAST benchmark set") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark shingles not broadcast — the corpus side would shuffle:\n$p")
  }

  test("q_sample_strat computes rank and stratum size off one window shuffle") {
    val p = plan("q_sample_strat")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"rank and stratum-count windows shuffled separately:\n$p")
  }

  test("q_dedup_embed's declarative theta-join plans as the cosine kernel") {
    val p = plan("q_dedup_embed")
    assert(p.contains("CosineJoin"), s"strategy did not fire:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fell back to pair expansion:\n$p")
  }

  test("q_data_checks evaluates every rule in one fact-table pass") {
    val p = plan("q_data_checks")
    assert("Join".r.findAllIn(p).size <= 2, // one logical join (AQE may print it twice)
      s"per-rule joins remain:\n$p")
    assert("FileScan".r.findAllIn(p).size <= 2,
      s"more than one scan per table:\n$p")
  }

  test("q_win_cumshare computes both frames off one window shuffle") {
    val p = plan("q_win_cumshare")
    // hash exchange for the window partition + range exchange for the
    // final orderBy — a second hash exchange would mean the two frames
    // didn't share the partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"running and total frames shuffled separately:\n$p")
  }

  test("q_skyline evaluates both dominance frames off one (status, cents) sort") {
    val p = plan("q_skyline")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"strict-dominance and peer-group frames shuffled separately:\n$p")
    assert(!p.contains("Join"), s"skyline must not self-join:\n$p")
  }

  test("q_anomaly_mean shares one user_id shuffle between both window aggregates") {
    val p = plan("q_anomaly_mean")
    assert("Window".r.findAllIn(p).size <= 1,
      s"count and sum windows planned separately:\n$p")
    assert(!p.contains("Join"), s"anomaly test must not self-join:\n$p")
  }

  test("q_corr_regr aggregates moments in two phases with no join") {
    val p = plan("q_corr_regr")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"moment sums must not shuffle-join:\n$p")
  }

  test("q_token_drift broadcasts the split sizes (no shuffle join on the token side)") {
    val p = plan("q_token_drift")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"split sizes were shuffle-joined:\n$p")
  }

  test("q_pmi_cooccur broadcasts doc-frequency and corpus-size sides") {
    val p = plan("q_pmi_cooccur")
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"df sides were shuffle-joined:\n$p")
  }

  test("q_having_global broadcasts the one-row global total") {
    val p = plan("q_having_global")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"global total was shuffle-joined:\n$p")
  }

  test("q_quality_gate is map-side until the final k-group aggregate") {
    val p = plan("q_quality_gate")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"pre-aggregation shuffle appeared:\n$p")
    assert(!p.contains("Join"), s"quality gate must not join:\n$p")
  }

  test("q_pareto windows the customer aggregate only WITHIN digit buckets") {
    // the corpus-scale prefix sum must ride partitioned windows; the only
    // unpartitioned (SinglePartition) window allowed is the ≤19-row
    // bucket-total prefix — i.e. every window over the customer aggregate
    // carries a partition spec.
    val p = plan("q_pareto")
    // the customer-scale running sum must shuffle BY BUCKET, not to one
    // partition (the remaining SinglePartition exchanges are partial→final
    // scalar aggregates and the ≤19-row bucket-prefix window — k-row)
    assert("Exchange hashpartitioning\\(dig#".r.findFirstIn(p).isDefined,
      s"customer-scale window lost its bucket partitioning:\n$p")
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    assert(windows.size == 2 && windows.forall(_.contains("dig#")),
      s"expected exactly the two digit-bucket-scoped windows:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bucket prefix table not broadcast:\n$p")
  }

  test("q_vocab_coverage takes the top-1000 census without a global vocab sort") {
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-1000 not planned as distributed take-ordered:\n$p")
  }

  test("q_dup_family_size shuffles md5 digests, not document bodies") {
    val p = plan("q_dup_family_size")
    assert(p.contains("md5"), s"family key is not the md5 digest:\n$p")
    assert(!p.matches("(?s).*Exchange hashpartitioning\\(text.*"),
      s"raw text column reached a shuffle:\n$p")
  }

  test("q_trimmed_mean broadcasts the per-status counts into the rank filter") {
    val p = plan("q_trimmed_mean")
    assert(p.contains("BroadcastHashJoin"), s"k-row count table not broadcast:\n$p")
  }

  test("q_bigram_lm plans the top-20 as distributed take-ordered") {
    assert(plan("q_bigram_lm").contains("TakeOrderedAndProject"))
  }

  test("q_emb_centroid broadcasts the dim-width global-sum side") {
    val p = plan("q_emb_centroid")
    assert(p.contains("BroadcastHashJoin"), s"global centroid side not broadcast:\n$p")
  }

  test("q_bpe_merge plans the top-20 pairs as distributed take-ordered") {
    assert(plan("q_bpe_merge").contains("TakeOrderedAndProject"))
  }

  test("q_mix_weights broadcasts the one-row weight/token totals") {
    val p = plan("q_mix_weights")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"one-row totals side not broadcast:\n$p")
  }

  test("q_char_classes stays map-side up to a single k-group aggregation shuffle") {
    val p = plan("q_char_classes")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"char-class profile shuffles more than the one rollup:\n$p")
  }

  test("q_snapshot_diff diffs on digests via one doc_id-keyed full-outer join") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"), s"snapshot diff lost the full-outer shape:\n$p")
    // change detection must move digests, not bodies: md5 is projected
    // below the join, so the shuffle carries 32-byte hashes
    assert(p.contains("md5"), s"digest projection missing below the join:\n$p")
  }

  test("q_dedup_prefix joins only on prefix tokens (slice before the self-join)") {
    val p = plan("q_dedup_prefix")
    assert(p.contains("slice("), s"prefix slice not in the candidate plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"prefix join degenerated to all-pairs:\n$p")
  }

  test("q_pack_efficiency is one corpus pass + a 3-group rollup") {
    val p = plan("q_pack_efficiency")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"packing table shuffles more than the one rollup:\n$p")
  }

  test("q_market_share broadcasts every dimension path") {
    val p = plan("q_market_share")
    assert(p.contains("BroadcastHashJoin"),
      s"market-share lost its broadcast dimension joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"market-share plans a non-equi join:\n$p")
  }

  test("q_decile_lift's ntile windows are segment-partitioned, never global") {
    val p = plan("q_decile_lift")
    assert(p.contains("Window"), s"decile lift lost its ntile window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"decile ntile collapsed to a single partition — the 100 TB killer:\n$p")
  }

  test("q_corr_spearman's rank windows are status-partitioned, never global") {
    val p = plan("q_corr_spearman")
    assert(p.contains("Window"), s"spearman lost its rank windows:\n$p")
    assert(!p.contains("SinglePartition"),
      s"spearman rank window collapsed to a single partition — the 100 TB killer:\n$p")
  }

  test("q_pack_assign's running-sum window is partitioned by source, never global") {
    val p = plan("q_pack_assign")
    assert(p.contains("Window"), s"packing cumsum lost its window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"packing window collapsed to a single partition — the 100 TB killer:\n$p")
  }

  test("q_snapshot_neardup pushes both carve filters below the index join") {
    val p = plan("q_snapshot_neardup")
    // the % 3 carve must filter each side BEFORE the shingle join, not after
    assert("% 3".r.findAllIn(p).size >= 2, s"carve filters not pushed to both sides:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ship_priority takes top-10 without a global sort and pushes all three filters") {
    val p = plan("q_ship_priority")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 materialized a global sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate")
      || p.contains("LessThan(o_orderdate"), s"order-date cut not pushed:\n$p")
    assert(p.contains("GreaterThan(l_shipdate"), s"ship-date cut not pushed:\n$p")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), s"segment filter not pushed:\n$p")
  }

  test("q_large_orders broadcasts the qualifying-orders aggregate") {
    assert(plan("q_large_orders").contains("BroadcastHashJoin"))
  }

  test("q_percentile_global plans no single-partition corpus sort") {
    val p = plan("q_percentile_global")
    // ShardedRank: the range exchange is materialized EAGERLY (the
    // localCheckpoint that pins one shard assignment for both
    // branches), so the query's own plan reads the checkpointed blocks
    // — what must never appear is Exchange SinglePartition below a
    // Sort of the full table
    assert(p.contains("Scan ExistingRDD") || p.contains("rangepartitioning"),
      s"neither checkpointed range shuffle nor range exchange found:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Sort [cents") && l.contains("true, 0")),
      s"global sort of the corpus appeared:\n$p")
  }

  test("q_stream_enrich's dimension join broadcasts the static side per micro-batch") {
    // the drained memory table hides the stream plan; audit the logical
    // batch equivalent instead: events x customer must broadcast customer
    val dim = Tables.customer(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("c_custkey"),
        org.apache.spark.sql.functions.col("c_mktsegment"))
    val p = Tables.events(spark, sf0001)
      .join(dim, org.apache.spark.sql.functions.col("user_id")
        === org.apache.spark.sql.functions.col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dimension side not broadcast:\n$p")
  }

  test("q_substring_dup marks dup windows with ONE hash-keyed window, no join-back") {
    val p = plan("q_substring_dup")
    // the agg+semi-join form cost 2x the lineage (two window builds);
    // the analytic form has no join before the interval merge
    assert(!p.contains("SortMergeJoin") ||
      p.linesIterator.count(_.trim.startsWith("+- SortMergeJoin")) <= 1,
      s"unexpected join-back in the dup-mark pass:\n$p")
    assert(p.contains("Window"), s"analytic dup mark missing:\n$p")
  }

  test("q_emb_gram collapses the pair expansion map-side (partial aggregation)") {
    val p = plan("q_emb_gram")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"no two-phase aggregation:\n$p")
    // one exchange for the (i, j) cells + possibly the final sort's range
    // exchange — never a join
    assert(!p.contains("Join"), s"gram must be pure aggregation:\n$p")
  }

  test("q_fuzzy_match broadcasts the vocabulary into the blocking join") {
    val p = plan("q_fuzzy_match")
    assert(p.contains("BroadcastHashJoin"), s"vocabulary not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocking join degraded to a nested loop:\n$p")
  }

  test("q_join_runtime_filter's checkpointed result came from a pruned shuffle join") {
    // the query materializes eagerly under its session confs, so audit
    // the row count contract instead of the (checkpoint-hidden) plan,
    // plus the RuntimeFilterSpec pins injection on the live shape
    val rows = SparkEntry.queries("q_join_runtime_filter")(spark, sf0001).count()
    assert(rows == 3L, s"expected 3 returnflag groups, got $rows")
  }

  // ---- round-8 pins ---------------------------------------------------

  /** Codegen spans only materialize in an AQE plan once it's final —
    * execute, then audit the adaptive final plan. */
  private def executedPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_quality_classifier's APPLY pass is join-free, map-side, codegen-resident") {
    val p = executedPlanOf("q_quality_classifier")
    // the model rides the graft_linear_score expression — the corpus
    // pass must be scan → score → census, with no join anywhere
    assert(!p.contains("Join"), s"apply pass must be join-free:\n$p")
    val line = p.linesIterator.find(_.contains("graft_linear_score"))
    assert(line.isDefined, s"native scorer missing from the plan:\n$p")
    assert(line.exists(_.contains("*(")),
      s"graft_linear_score fell out of whole-stage codegen:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q_dedup_bloom's bloom prune is a codegen-resident native probe (no UDF)") {
    val p = executedPlanOf("q_dedup_bloom")
    val line = p.linesIterator.find(_.contains("graft_bloom_contains"))
    assert(line.isDefined, s"native bloom probe missing:\n$p")
    assert(line.exists(_.contains("*(")),
      s"bloom probe fell out of whole-stage codegen:\n$p")
    assert(!p.contains("BatchEvalPython") && !line.exists(_.contains("UDF")),
      s"probe still a UDF:\n$p")
  }

  test("q_cms_heavy's CMS prune is a codegen-resident native probe (no UDF)") {
    val p = executedPlanOf("q_cms_heavy")
    val line = p.linesIterator.find(_.contains("graft_cms_atleast"))
    assert(line.isDefined, s"native CMS probe missing:\n$p")
    assert(line.exists(_.contains("*(")),
      s"CMS probe fell out of whole-stage codegen:\n$p")
  }

  test("q_delta_scan snapshots plan as plain pruned parquet scans of the live files") {
    val p = plan("q_delta_scan")
    assert(p.contains("FileScan parquet"), s"not a parquet scan:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("cents") && !read.contains("o_orderpriority"),
      s"column pruning lost through the Delta file list: $read")
  }

  test("q_iceberg_deletes masks position deletes inside the scan (no join)") {
    val p = executedPlanOf("q_iceberg_deletes")
    // the deletes fold into per-file bitmaps: one row-index filter over
    // the parquet scan, no join and no broadcast exchange of positions
    assert(p.contains("unmasked("), s"position deletes not a row-index mask:\n$p")
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"),
      s"a join or broadcast in the delete path:\n$p")
    assert(p.contains("FileScan parquet"), s"data side not a parquet scan:\n$p")
  }

  test("q_iceberg_files answers from manifest metadata only (no parquet data scan)") {
    val p = plan("q_iceberg_files")
    assert(!p.contains("FileScan parquet"),
      s"files metadata relation opened a data file:\n$p")
    // manifests decode on the driver (IcebergReader.readMetaAvro) and fold
    // into a local relation — no distributed avro scan should remain
    assert(p.toLowerCase.contains("localtablescan"),
      s"manifest metadata not a driver-side local relation:\n$p")
  }

  test("q_iceberg_scan plans as plain pruned parquet scans of the live files") {
    val p = plan("q_iceberg_scan")
    assert(p.contains("FileScan parquet"), s"not a parquet scan:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("cents") && !read.contains("o_orderpriority"),
      s"column pruning lost through the Iceberg file list: $read")
  }

  // ---- round-8-late pins ----------------------------------------------

  test("q_delta_part_write's read-back prunes at partition level") {
    val p = plan("q_delta_part_write")
    // the partition column lives only in the hive paths; the predicate
    // must land in PartitionFilters, not a row-level Filter
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("o_orderpriority"),
      s"no partition filter pushed into the Delta hive scan: $scanLine\n$p")
  }

  test("q_dedup_url's canonicalization is map-side: two aggregates, no join") {
    val p = executedPlanOf("q_dedup_url")
    assert(!p.contains("Join"), s"canonicalization dedup must be join-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, // partial+final × two levels
      s"expected two-level hash aggregation:\n$p")
  }

  test("q_decontaminate matches benchmark grams via a broadcast join, islands via a doc-keyed window") {
    val p = executedPlanOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram match must broadcast (test sets are small):\n$p")
    assert(!p.contains("SortMergeJoin") ||
      p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"corpus-side shuffle join crept into the gram match:\n$p")
  }

  test("q_graph_pagerank is equi-joins + hash aggregates — no window, no nested loop") {
    val p = executedPlanOf("q_graph_pagerank")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pagerank iteration planned a non-equi join:\n$p")
    assert(!p.contains("Window"), s"pagerank must not use windows:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-20 should be a TakeOrdered, not a global sort:\n$p")
  }

  test("readMor plan size is O(1) in log-file count: one avro scan, no per-file union") {
    // 6 deltacommits → 12 log files; the merge must still plan as ONE
    // avro scan joined to a KB-scale broadcast precedence lookup, not a
    // per-log-file unionByName fold (linear plan growth = analyzer
    // blow-up at 10⁴ logs)
    val base = "/tmp/graft_hudi_test/mor_plansize"
    val df = spark.createDataFrame((1L to 8L).map(i => (i, i * 10L))).toDF("k", "v")
    graft.sources.HudiWriter.createMor(spark, df, base, "t-psz", "k", 2)
    (1 to 6).foreach { i =>
      graft.sources.HudiWriter.logCommit(spark, base,
        spark.createDataFrame(Seq((i.toLong, i * 1000L))).toDF("k", "v"))
    }
    assert(graft.sources.HudiReader.logFiles(base).size >= 6)
    val qe = graft.sources.HudiReader.readMor(spark, base).queryExecution
    val unions = qe.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.size == 1, s"expected the single base⊎logs union:\n${qe.optimizedPlan}")
    val scans = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size <= 3, // base parquet + one avro + the tiny prec lookup
      s"per-log-file scans crept back (${scans.size}):\n${qe.optimizedPlan}")
    // and the merge is still right: last writer wins per key
    val got = graft.sources.HudiReader.readMor(spark, base)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == ((1L to 6L).map(i => (i, i * 1000L)) ++ Seq((7L, 70L), (8L, 80L))),
      s"merge wrong: $got")
  }

  test("lakehouse DML writers never collect matched row positions to the driver") {
    // the r10-flagged driver-OOM class: deleteWhereDv / Iceberg
    // deleteWhere used to collect EVERY matched (path, pos) pair. Now
    // per-file bitmaps build executor-side and the delete parquet
    // stages straight from the scan — so no collect-family action may
    // return a row-position schema. A QueryExecutionListener records
    // the output schema of every collect/head during both DMLs.
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Seq[String]]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (Set("collect", "head", "collectResult").contains(funcName))
          seen.add(qe.analyzed.output.map(_.name))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dbase = "/tmp/graft_plan_test/dml_positions_delta"
      val rows = spark.createDataFrame((1L to 400L).map(i => (i, i % 7))).toDF("id", "g")
      graft.sources.DeltaLogWriter.create(spark, rows.repartition(2), dbase, "t-pos")
      graft.sources.DeltaLogWriter.deleteWhereDv(spark, dbase,
        org.apache.spark.sql.functions.col("g") === 0L)
      val ibase = "/tmp/graft_plan_test/dml_positions_ice"
      graft.sources.IcebergWriter.create(spark, rows.repartition(2), ibase)
      graft.sources.IcebergWriter.deleteWhere(spark, ibase,
        org.apache.spark.sql.functions.col("g") === 1L)
      // flush the async listener bus behind a sentinel collect
      spark.range(1).toDF("__dml_pin_sentinel").collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains(Seq("__dml_pin_sentinel")) && System.nanoTime() < deadline)
        Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val schemas = seen.asScala.toSeq
      assert(schemas.contains(Seq("__dml_pin_sentinel")), "listener never flushed")
      val positionShaped = schemas.filter(s =>
        s == Seq("__path", "__pos") || s == Seq("file_path", "pos"))
      assert(positionShaped.isEmpty,
        s"a DML collected raw row positions to the driver: $schemas")
      // and the results stayed right
      assert(graft.sources.DeltaLogReader.read(spark, dbase).count() == 343L)
      assert(graft.sources.IcebergReader.read(spark, ibase).count() == 342L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("q_changepoint's windows run over the daily census, not the corpus") {
    val qe = SparkEntry.queries("q_changepoint")(spark, sf0001).queryExecution
    val unpart = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "expected the k-bounded global CUSUM windows")
    // every global window must sit above the daily aggregate
    unpart.foreach { w =>
      val aggBelow = w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggBelow.nonEmpty,
        s"CUSUM window consumes pre-aggregation (corpus-scale) input:\n${w.treeString}")
    }
  }
}
