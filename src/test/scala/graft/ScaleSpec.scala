package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale
import graft.operators.Scale.TwoPhase

class ScaleSpec extends SparkSpec {

  lazy val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
  lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  test("bucketed tables join without an exchange on either side") {
    // the finally restores auto-broadcast for the rest of the JVM-shared
    // session (every later plan-shape assertion depends on it)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Scale.writeBucketed(li.select("l_orderkey", "l_quantity"),
        "li_b", "l_orderkey", nBuckets = 4)
      Scale.writeBucketed(orders.select("o_orderkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_b", "l_orderkey", nBuckets = 4)
      val joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(joined.count() == li.join(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey").count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("hotKeySplitJoin == plain join; both legs carry rows at the gate config") {
    import graft.operators.Scale
    val dir = "/root/testdata/sf0.001"
    val fact = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("k"), col("l_quantity").as("q"))
    val dim = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sorted.toSeq
    val split = Scale.hotKeySplitJoin(fact, dim, "k", hotThreshold = 4L)
    assert(canon(split) == canon(fact.join(dim, "k")))
    // the threshold sits inside lineitem's 1–7 rows/key multiplicity, so
    // BOTH legs must be exercised — a threshold outside the range would
    // silently test only one path
    val counts = fact.groupBy("k").count()
    assert(counts.filter(col("count") >= 4).count() > 0, "no hot keys")
    assert(counts.filter(col("count") < 4).count() > 0, "no cold keys")
    // degenerate thresholds: all-hot and all-cold both equal the join
    assert(canon(Scale.hotKeySplitJoin(fact, dim, "k", 1L))
      == canon(fact.join(dim, "k")))
    assert(canon(Scale.hotKeySplitJoin(fact, dim, "k", Long.MaxValue))
      == canon(fact.join(dim, "k")))
  }

  test("contiguousIds matches the global window WITHOUT planning one") {
    import graft.ext.corpus.Corpus
    val dir = "/root/testdata/sf0.001"
    val out = Corpus.contiguousDocIds(spark, dir)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      .zipWithIndex.map { case (d, i) => (d, i.toLong) }
    assert(got.sameElements(want))
    // the whole point: no single-partition funnel anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan.take(800))
    // order stability: ids are invariant to input partitioning
    val shuffled = Corpus.contiguousIds(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).repartition(7), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(shuffled.sameElements(want))
  }

  test("scd2 plans ONE exchange; both windows ride the same partitioning") {
    // the SCD2 contract: change detection (lag), versioning (row_number)
    // and interval stamping (lead) all share the key partitioning — a
    // second Exchange would re-shuffle the whole feed per window pass
    val plan = graft.queries.EventOps
      .scd2History(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n${plan.take(1200)}")
  }

  test("shared dedup artifacts are memoized per (corpus, params) key") {
    // the round-10 perf contract: a second consumer of the pair table /
    // incremental base gets the SAME materialized artifact back, and a
    // changed semantic parameter gets a different one
    import graft.ext.dedup.TextDedup
    val dir = "/root/testdata/sf0.001"
    val a = TextDedup.minhashLshPairsShared(spark, dir)
    assert(TextDedup.minhashLshPairsShared(spark, dir) eq a)
    assert(!(TextDedup.minhashLshPairsShared(spark, dir, threshold = 0.9)
      eq a))
    val b = TextDedup.incrementalBaseShared(spark, dir)
    assert(TextDedup.incrementalBaseShared(spark, dir) eq b)
    // one registry holds every kind: the same (dir, params) under two
    // kinds are two artifacts, and the cluster table and the incremental
    // base, whose parameters are the same, each come back as their own
    // type (a shared key would hand one the other: a ClassCastException)
    import graft.util.Artifacts
    val k1 = Artifacts.shared(spark, "spec_kind_a", dir, 1)(new Object)
    val k2 = Artifacts.shared(spark, "spec_kind_b", dir, 1)(new Object)
    assert(!(k1 eq k2))
    assert(Artifacts.shared(spark, "spec_kind_a", dir, 1)(new Object) eq k1)
    assert(TextDedup.dedupClustersShared(spark, dir).columns
      .contains("cluster_id"))
    assert(TextDedup.incrementalBaseShared(spark, dir) eq b)
    // clear drops every artifact: the next caller rebuilds
    Artifacts.clear()
    assert(!(TextDedup.minhashLshPairsShared(spark, dir) eq a))
  }

  test("filters and projections are pushed into the parquet scan") {
    val pruned = li.filter(col("l_quantity") >= 45)
      .select("l_orderkey", "l_quantity")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]"),
      scan.take(600))
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      scan.take(600))
  }

  test("no batch gate plans a CartesianProduct") {
    // sweeping plan-smell guard: an accidental unconditioned join in any
    // refactor shows up here before it ships. Streaming gates (which
    // execute on construction) and the deliberate all-pairs yardsticks
    // (x_knn_*: full-radius IS the cartesian problem) are out of scope;
    // broadcast-1-row query frames plan as BroadcastNestedLoopJoin,
    // which is fine and not matched.
    val dir = "/root/testdata/sf0.001"
    val batchGates = Seq(
      "q1_pricing_summary", "q3_top_orders", "q4_segment_stats",
      "q5_revenue_nation", "q6_supplier_rank", "q6_rank_topk_agg",
      "q7_brand_parts", "q8_exists_semi", "q9_anti_join", "q10_set_ops",
      "q11_scalar_subq", "q12_tumbling_window", "q13_rollup", "q13_cube",
      "q14_pivot", "q14_unpivot",
      "q15_percentiles", "q15_percentiles_approx", "q16_session_window",
      "q37_session_dynamic", "q38_decimal", "q38_decimal_parts",
      "q39_range_frame",
      "q40_grouping_sets", "q41_window_distinct",
      "q17_top_terms", "q18_string_funcs", "q19_correlated",
      "q20_sketch_distinct", "q21_except", "q22_hopping_window",
      "q23_kmv_distinct", "q24_interval_join", "q24_interval_rule",
      "q25_freq_items", "q26_window_suite", "q27_cms_freq", "q28_covar",
      "q29_listagg", "q30_funnel", "q31_retention", "q32_lateral",
      "q33_recursive", "q34_sql_udf", "q35_collation", "q36_sql_tvf",
      "p_json_parse", "p_variant_extract", "p_filter_alert", "p_normalize",
      "p_latest_per_key",
      "p_point_lookup", "p_dedup", "p_partition_counts", "p_session_gaps",
      "p_hotkey_join", "p_agg_maintain", "x_dq_checks", "x_dedup_ppjoin",
      "x_table_diff", "x_part_checksums",
      "p_enum_validate", "p_doc_json", "p_full_scan", "p_asof_state",
      "p_asof_exec", "p_asof_forward_exec",
      // the SQL front door resolves to the same AsOfJoinNode plan —
      // swept like the Scala form (temp views are inlined at analysis)
      "p_asof_sql",
      "p_asof_forward", "p_merge_upsert", "p_cdc_apply", "p_scd2",
      "p_resample_ffill",
      "p_ohlc_bars", "p_resample_interp",
      "x_dedup_exact", "x_dedup_ngram", "x_dedup_minhash",
      "x_dedup_simhash", "x_dedup_containment", "x_dedup_spans",
      "x_dedup_lines", "x_dedup_lines_hashed", "x_embed_semdedup",
      "x_dedup_substrings", "x_dedup_substr_hashed", "x_substr_quality",
      "x_dedup_substr_top",
      "x_text_tokens", "x_text_bpe", "x_text_nfc", "x_pack_bpe",
      "x_text_extract", "x_extract_dedup", "x_graph_triangles",
      "x_text_quality", "x_text_langid",
      "x_text_classify", "x_text_tag",
      "x_text_fingerprint", "x_text_winnow", "x_text_redact", "x_text_chunk",
      "x_text_repetition", "x_sample_stratified", "x_sample_per_key",
      "x_shard_pack", "x_pack_sequences", "x_corpus_ids",
      "x_corpus_budget",
      "x_corpus_mixture", "x_corpus_rebalance", "x_corpus_curriculum",
      "x_corpus_shuffle", "x_corpus_overlap", "x_embed_stats",
      "x_embed_quantize", "x_embed_neardup", "x_profile",
      "x_profile_approx", "x_skew_report", "x_tfidf_top",
      "x_multimodal", "x_multimodal_frames", "x_multimodal_resize",
      "x_multimodal_phash", "x_multimodal_afp", "x_fuzzy_join",
      "x_fuzzy_join2",
      // pure batch plans (1-row query frames broadcast: BNLJ is fine)
      "x_ann_topk", "x_rag_bm25", "x_rag_bm25_parts", "x_rag_fuse",
      "x_rag_passage", "x_rag_prf", "x_rag_snippet",
      "x_corpus_shuffle_draws")
    // completeness gate: every registered query must be EXPLICITLY either
    // swept or excluded-with-a-reason — a new gate that is neither fails
    // here, so the sweep can never silently drift from the registry (it
    // had: ~30 gates were unswept before this assertion existed)
    val excluded = Set(
      // streaming / stateful drains: execute on construction
      "p_latest_stream", "p_latest_arrival", "p_latest_tws",
      "p_window_stream", "p_window_stream_append", "p_window_sliding_append",
      "p_window_chain", "p_stream_union",
      "p_wstats_append", "p_session_stream_append", "p_stream_join",
      "p_stream_join_rocks", "p_state_reader", "p_agg_maintain_stream",
      // write their snapshot versions on construction (batch plan after)
      "p_time_travel", "p_snapshot_diff", "p_vacuum",
      "p_partition_overwrite", "p_snapshot_delete", "p_lake_history",
      "p_lake_skipping", "p_lake_skipping2d",
      "p_stream_join_outer", "p_stream_join_full", "p_stream_enrich",
      "p_timeout_offline", "p_dedup_stream", "p_dedup_within_wm",
      "p_edge_alerts", "p_wire_source", "p_wire_restart", "p_wire_decode",
      "x_dedup_stream", "x_dedup_substr_stream", "p_state_ttl",
      "p_stream_backfill",
      "p_stream_sink_lake", "p_lake_concurrent",
      // streaming drain + lake publications on construction
      "x_ann_stream", "x_ann_ivfpq_stream",
      // lake publications (append + delete + clustered rewrite) and
      // manifest prunes on construction; the probe afterwards is the
      // same plan shape the swept lake probes share
      "x_ann_lake_delete",
      // append + z-rewrite publications and 3 manifest prunes on
      // construction (the p_lake_skipping2d class)
      "p_lake_zorder",
      // eager localCheckpoint pins the frame-hash table on construction
      // and truncates the inspectable plan there; the banded join +
      // aligned verify are plain equi-joins over the pinned frame
      // (the x_text_winnow_pairs precedent)
      "x_multimodal_vdup",
      // write/stage side effects on construction (covered by their specs)
      // x_text_winnow_pairs: localCheckpoint materializes the fingerprint
      // table on construction AND truncates the inspectable plan at the
      // checkpoint — its join plan is CartesianProduct-asserted in its own
      // spec instead
      "x_text_winnow_pairs",
      "p_csv_roundtrip", "p_orc_roundtrip", "p_compact_files",
      "p_bucketed_join", "p_schema_evolve", "p_salted_stats",
      "x_jsonl_roundtrip", "x_sql_surface",
      "x_ann_lsh_indexed", "x_ann_lsh_append", "x_ann_compact",
      "x_ann_delete", "x_ann_ivf_delete",
      "x_ann_ivf_indexed", "x_ann_ivf_append", "x_ann_ivfpq_indexed",
      // driver-side collect in construction (index build / query vector /
      // bloom bytes / k-means codebook between iterations)
      "p_bloom_prune", "x_embed_kmeans",
      "x_ann_lsh", "x_ann_ivf", "x_ann_ivfpq", "x_ann_pq",
      "x_ann_filtered", "x_index_postings", "x_index_lookup",
      "x_rag_mmr",
      // localCheckpoint mid-loop materializes + truncates the plan
      "x_graph_pagerank", "x_graph_bfs", "x_graph_kcore",
      // observe() requires its action during construction
      "p_observe",
      "x_dedup_clusters", "x_dedup_clusters_lss", "x_dedup_clusters_inc",
      "x_dedup_incremental", "x_dedup_keepbest", "x_decontaminate",
      "x_decontaminate_bloom", "x_split_leakage_safe", "x_corpus_prepare",
      "x_corpus_dsir", "x_pipeline_e2e", "x_text_perplexity",
      "x_multimodal_audio", "x_multimodal_decode", "x_multimodal_video",
      "x_multimodal_vstats",
      // deliberate all-pairs yardsticks: full radius IS the cartesian
      "x_knn_join", "x_knn_recall",
      // 8-row broadcast query batch: BroadcastNestedLoopJoin by design
      "x_ann_batch",
      // zorder gate: expression-only, swept via its own spec
      "p_zorder_cells")
    val unclassified =
      SparkEntry.queries.keySet -- batchGates.toSet -- excluded
    assert(unclassified.isEmpty,
      s"gates neither swept nor excluded (classify them): $unclassified")
    val offenders = batchGates.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("shuffle audit measures group-proportional exchange volume") {
    // q1 aggregates ~6k lineitems (sf0.001) into 6 groups: the measured
    // shuffle must be a handful of partial-aggregate records, never the
    // input rows — the map-side-combine claim, measured
    val (rows, bytes, records) =
      graft.Tool.audit(spark, "/root/testdata/sf0.001",
        "q1_pricing_summary")
    assert(rows == 6)
    assert(records > 0 && records <= 64,
      s"expected per-group partials, got $records shuffle records")
    assert(bytes > 0 && bytes < 64 * 1024, s"$bytes bytes")
  }

  test("banded dedup shuffles candidate hashes, never document bodies") {
    // 500 docs at sf0.001, avg text ~306 bytes: if documents crossed the
    // exchange, bytes/record would be in the hundreds. The banded path
    // must move only band keys + id pairs: a few dozen compact records
    // (~= true near-dup candidates), each well under a text body.
    val (rows, bytes, records) =
      graft.Tool.audit(spark, "/root/testdata/sf0.001",
        "x_dedup_minhash")
    assert(rows > 0)
    assert(records > 0 && records <= 4 * rows + 16,
      s"candidate-proportional shuffle expected, got $records records " +
        s"for $rows pairs")
    val perRecord = bytes.toDouble / records
    assert(perRecord < 64,
      f"$perRecord%.1f B/record — document bodies leaked into the shuffle")
  }

  test("winnow pair join shuffles fingerprint ids, never document bodies") {
    // the df aggregate, both join sides, and the pair count all shuffle
    // only (fingerprint: 8B, doc_id: 8B) rows — text stays in the scan
    // stage. Avg text ~306 bytes at sf0.001: a leak would show up as
    // hundreds of bytes per shuffle record.
    val (rows, bytes, records) =
      graft.Tool.audit(spark, "/root/testdata/sf0.001",
        "x_text_winnow_pairs")
    assert(rows > 0)
    assert(records > 0)
    val perRecord = bytes.toDouble / records
    assert(perRecord < 64,
      f"$perRecord%.1f B/record — document bodies leaked into the shuffle")
  }

  test("bounded-heap kNN shuffles one heap per query, not the cross product") {
    // 50 query vectors (vec_id % 10 == 0 of 500) self-joined at full
    // radius: the naive cross product is 2 500 rows. The bounded heap
    // must reduce that to ~one record per query group before the exchange.
    val (rows, bytes, records) =
      graft.Tool.audit(spark, "/root/testdata/sf0.001", "x_knn_join")
    assert(rows == 250, s"50 queries x k=5 expected, got $rows")
    assert(records > 0 && records <= 120,
      s"per-query heaps expected (~51), got $records shuffle records")
    assert(bytes < 128 * 1024, s"$bytes bytes")
  }

  test("mixture sampling broadcasts thresholds; the corpus never shuffles") {
    val df = graft.ext.corpus.Corpus.temperatureMixture(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1200))
    // the only shuffles allowed are the tiny per-language aggregates and
    // the final report aggregate — never a repartition of the documents
    // scan itself (the keep-filter is a narrow broadcast-join + filter)
    val phys = df.queryExecution.executedPlan
    // contains, not startsWith: tree rendering prefixes non-last subtrees
    // with ':' so a left-spine Exchange would evade a startsWith match
    val exchanges = phys.toString.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"unexpected corpus shuffle:\n${plan.take(1500)}")
  }

  test("sequence packing plans ONE exchange (window + grouping share it)") {
    val df = graft.ext.corpus.Corpus.packSequences(
      spark, "/root/testdata/sf0.001")
    // count textually: AdaptiveSparkPlanExec does not expose its input
    // plan through children, so a collect() sees only the wrapper node
    val plan = df.queryExecution.executedPlan.toString
    val nShuffles = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    // hash(source) satisfies both the window's partitioning and the
    // (source, seq_id) grouping, so the plan must not re-exchange
    assert(nShuffles == 1, s"want 1 shuffle, got $nShuffles:\n" +
      plan.take(1500))
  }

  test("AQE splits a skewed join partition at runtime (skew=true replan)") {
    // The engine's two skew answers: Scale.saltedJoin is the MANUAL shape
    // (for skew AQE can't see, e.g. introduced mid-pipeline by a transform);
    // this test pins the AUTOMATIC one — AQE's runtime skew-join split —
    // so both paths stay exercised. Thresholds are lowered so local-scale
    // data trips the same replan a 100 TB hot key would.
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"
    ).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carries ~98% of the probe side — the classic hot-user
      // shape; the build side is uniform and too big to broadcast (hint-free)
      val big = spark.range(400000L).select(
        when(col("id") % 100 < 98, lit(1L)).otherwise(col("id") % 1000)
          .as("k"),
        col("id").as("payload"))
      val small = spark.range(1000L).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val joined = big.join(small, "k")
      // collect() (not count()) so THIS frame's own QueryExecution runs —
      // count() builds a separate one and the inspected plan never executes
      val n = joined.collect().length
      assert(n > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not split the skewed partition:\n${plan.take(2000)}")
    } finally Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).foreach(spark.conf.unset)
  }

  test("q5 never broadcasts a fact table (only nation/region dims)") {
    // turn off auto-broadcast so the ONLY BroadcastExchanges left are the
    // explicit hints — then assert those never cover a fact-table scan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.queries.Analytics.q5RevenueByNation(
        spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan
      val broadcastScans = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.collectLeaves().map(_.toString).mkString("\n")
      }
      assert(broadcastScans.nonEmpty, "expected dim broadcasts in q5")
      val facts = Seq("lineitem", "orders", "customer")
      broadcastScans.foreach { scan =>
        facts.foreach(f => assert(!scan.contains(f),
          s"fact table $f under BroadcastExchange:\n$scan"))
      }
      assert(df.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("q11 plans as one lazy scalar subquery, not a driver-side first()") {
    val df = graft.queries.Analytics.q11ScalarSubquery(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("scalar-subquery"), plan.take(800))
    assert(df.count() > 0)
  }

  test("approx percentile partial-aggregates (no whole-group sort funnel)") {
    val df = graft.queries.Analytics.q15ApproxPercentiles(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the sketch agg must run map-side partial + final merge
    assert(plan.contains("ObjectHashAggregate"), plan.take(1200))
    assert(plan.contains("partial_approx_percentile") ||
      plan.contains("partial_percentile_approx"), plan.take(1200))
    // and the bound checks all hold
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3),
        s"approx percentile outside rank bound: $r")
    }
  }

  test("dynamic-gap sessions use interval union, not the lag rule") {
    import spark.implicits._
    // t=0 click (30 min gap), t=5m error (10 min), t=20m error: the
    // click's window [0, 30) holds the session open at t=20 even though
    // 15 min have passed since the previous (short-gap) event — the
    // lag-against-previous-event rule would wrongly split here
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "click"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), "error"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "error"),
      // and 10 min past the union end -> genuinely new session
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:41:00"), "error")
    ).toDF("user_id", "ts", "event_type")
    val sessions = df.groupBy(
        session_window(col("ts"),
          when(col("event_type") === "click", "30 minutes")
            .otherwise("10 minutes")).as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sessions == Set(("2024-01-01 00:00:00", 3L),
      ("2024-01-01 00:41:00", 1L)))
  }

  test("dynamic partition pruning injects a runtime filter on the partitioned scan") {
    // the 100 TB fact-table saver: joining a partitioned fact with a
    // SELECTIVELY FILTERED dim must prune fact partitions at RUNTIME
    // (the filter value set is only known after the dim side runs) —
    // without DPP the scan reads every partition and the join discards
    // 80% of the IO after the fact
    import spark.implicits._
    val out = tmpDir("dpp_fact")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    // the dim must be a real source with a SELECTIVE filter — a folded
    // local relation leaves no Filter node for the DPP heuristic to see
    val dimPath = tmpDir("dpp_dim")
    Seq(("click", 1L), ("error", 2L), ("view", 3L)).toDF("event_type", "w")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"w" === 1L)
    val fact = spark.read.parquet(out)
    val joined = fact.join(dim, "event_type")
    val planned = joined.queryExecution.executedPlan.toString
    assert(planned.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery in plan")
    // and it actually pruned AT RUNTIME: the fact scan's numFiles
    // metric (post-execution) must be 1 of the 5 written partitions —
    // inputFiles is a STATIC property and would still list all five
    joined.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE's final plan hides scans inside opaque QueryStageExec leaves —
    // TreeNode.collect stops at them, so recurse explicitly
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val factScan = scans(joined.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("dpp_fact")))
      .head
    assert(factScan.metrics("numFiles").value == 1L,
      s"fact scan read ${factScan.metrics("numFiles").value} files")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // the other half of AQE (the skew test covers splitting): the test
    // session configures 4 shuffle partitions (SparkSpec), and this
    // tiny aggregate must end with exactly ONE after AQEShuffleRead
    // coalesces — 7 groups of longs are far below the 64 MB advisory
    // partition size, so anything more than 1 means coalescing failed
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 7, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s"))
    df.collect()
    val n = df.rdd.getNumPartitions
    assert(n == 1, s"AQE left $n partitions")
  }

  test("join hints select the hinted physical strategy") {
    // the deployment tuning surface: when statistics mislead the
    // planner, hints force the physical join — verify each hint
    // actually lands (a silently-ignored hint is a no-op that reads
    // like a fix)
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    def planOf(hint: String): String =
      li.join(ord.hint(hint), "k").queryExecution.executedPlan.toString
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
  }

  test("aggMaintain (delta merge) == from-scratch rebuild") {
    import graft.queries.EventOps
    val dir = "/root/testdata/sf0.001"
    val ev = graft.util.EventTs.readEvents(spark, dir)
    // the split must leave real rows on both legs
    assert(ev.filter(col("event_id") % 10 === 0).count() > 0)
    assert(ev.filter(col("event_id") % 10 =!= 0).count() > 0)
    val rebuild = ev
      .select(col("user_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        min(col("cents")).as("min_c"), max(col("cents")).as("max_c"))
      .withColumn("avg_cents", expr("cents div n"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(canon(EventOps.aggMaintain(spark, dir)) == canon(rebuild))
  }

  test("salted aggregate equals the direct aggregate") {
    val direct = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"),
        max("l_extendedprice").as("mx"))
      .collect().map(r => (r.getString(0),
        (r.getDouble(1), r.getLong(1 + 1), r.getDouble(3)))).toMap
    val salted = Scale.saltedAggregate(li, Seq("l_returnflag"), nSalts = 7,
      Seq(TwoPhase.sumOf("q", col("l_quantity")), TwoPhase.countAll("n"),
        TwoPhase.maxOf("mx", col("l_extendedprice"))))
      .collect().map(r => (r.getString(0),
        (r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (q, n, mx)) =>
      val (dq, dn, dmx) = direct(k)
      assert(n == dn && mx == dmx && math.abs(q - dq) < 1e-6 * math.abs(dq))
    }
  }

  test("salted join equals the plain join") {
    val small = orders.select(col("o_orderkey").as("l_orderkey"),
      col("o_totalprice")).limit(200)
    val plain = li.join(small, "l_orderkey").count()
    val salted = Scale.saltedJoin(li, small, "l_orderkey", nSalts = 5).count()
    assert(salted == plain)
  }

  /** ONE as-of fixture for both as-of specs (backward/strict and
    * forward/tolerance): 4 build rows with a (t=20, two-ids) tie, 4
    * probes straddling the timeline — shared so a scenario tweak can
    * never desynchronize the two specs.
    */
  private lazy val asOfFixture = {
    import spark.implicits._
    val build = Seq(
      (1L, 10L, 100L, 1.0), (1L, 20L, 101L, 2.0), (1L, 20L, 102L, 3.0),
      (2L, 50L, 200L, 9.0))
      .toDF("k", "t", "id", "v")
      .select(col("k"), timestamp_seconds(col("t")).as("t"), col("id"),
        col("v"))
    val probe = Seq((1L, 5L), (1L, 20L), (1L, 30L), (2L, 49L))
      .toDF("k", "pt")
      .select(col("k"), timestamp_seconds(col("pt")).as("pt"))
    (build, probe)
  }

  test("resample+ffill: global grid, forward fill, pre-first-event nulls") {
    import org.apache.spark.sql.types._
    val scratch = graft.util.Scratch.dir("graft_resample").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // A: 01:00 v1, 13:30 v2; B: 00:30 v5 -> global 6h slots 00/06/12:00
    val rows = Seq(
      org.apache.spark.sql.Row(100L, t("2024-01-01 01:00:00"), 1L, 1.0),
      org.apache.spark.sql.Row(101L, t("2024-01-01 13:30:00"), 1L, 2.0),
      org.apache.spark.sql.Row(200L, t("2024-01-01 00:30:00"), 2L, 5.0))
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .write.mode("overwrite").parquet(s"$scratch/events.parquet")
    val out = graft.queries.EventOps.resampleFfill(spark, scratch)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(out == Set(
      (1L, "2024-01-01 00:00:00", -1L, -1.0),  // before A's first event
      (1L, "2024-01-01 06:00:00", 100L, 1.0),
      (1L, "2024-01-01 12:00:00", 100L, 1.0),  // 13:30 is after the slot
      (2L, "2024-01-01 00:00:00", -1L, -1.0),  // 00:30 is after 00:00
      (2L, "2024-01-01 06:00:00", 200L, 5.0),
      (2L, "2024-01-01 12:00:00", 200L, 5.0)), out.toString)
  }

  test("resample interp: time-weighted blend, edge slots null") {
    import org.apache.spark.sql.types._
    val scratch = graft.util.Scratch.dir("graft_interp").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // A brackets slots 06:00 (frac (6-1)/(13.5-1) = 0.4 -> 1.4) and
    // 12:00 (frac 11/12.5 = 0.88 -> 1.88); B has one event -> no slot
    // has both brackets, every B interp is null
    val rows = Seq(
      org.apache.spark.sql.Row(100L, t("2024-01-01 01:00:00"), 1L, 1.0),
      org.apache.spark.sql.Row(101L, t("2024-01-01 13:30:00"), 1L, 2.0),
      org.apache.spark.sql.Row(200L, t("2024-01-01 00:30:00"), 2L, 5.0))
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .write.mode("overwrite").parquet(s"$scratch/events.parquet")
    val out = graft.queries.EventOps.resampleInterp(spark, scratch)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -999.0 else r.getDouble(4))).toSet
    assert(out == Set(
      (1L, "2024-01-01 00:00:00", -1L, 100L, -999.0),
      (1L, "2024-01-01 06:00:00", 100L, 101L, 1.4),
      (1L, "2024-01-01 12:00:00", 100L, 101L, 1.88),
      (2L, "2024-01-01 00:00:00", -1L, 200L, -999.0),
      (2L, "2024-01-01 06:00:00", 200L, -1L, -999.0),
      (2L, "2024-01-01 12:00:00", 200L, -1L, -999.0)), out.toString)
  }

  test("covariance moments equal a driver-side exact computation") {
    val dir = "/root/testdata/sf0.001"
    // recompute from the raw rows in plain Scala (BigInt: no overflow,
    // no ordering concerns) and compare every emitted moment
    val rows = graft.util.EventTs.readEvents(spark, dir)
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("xc"),
        hour(col("ts")).cast("long").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ref = rows.groupBy(_._1).map { case (t, rs) =>
      val n = BigInt(rs.length)
      val sx = rs.map(r => BigInt(r._2)).sum; val sy = rs.map(r => BigInt(r._3)).sum
      val sxy = rs.map(r => BigInt(r._2) * r._3).sum
      val sx2 = rs.map(r => BigInt(r._2) * r._2).sum
      val sy2 = rs.map(r => BigInt(r._3) * r._3).sum
      t -> (n, sx, sy, sxy, sx2, sy2, n * sxy - sx * sy)
    }
    val got = graft.queries.Analytics.q28CovarSums(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((BigInt(r.getLong(1)), BigInt(r.getLong(2)), BigInt(r.getLong(3)),
          BigInt(r.getLong(4)), BigInt(r.getLong(5)), BigInt(r.getLong(6)),
          BigInt(r.getLong(7))))).toMap
    assert(got == ref, s"moments diverged")
    // sanity anchor: covariance derived from the integer moments tracks
    // Spark's FP covar_pop (cents scale) within FP tolerance
    got.foreach { case (t, (n, sx, sy, sxy, _, _, num)) =>
      val covInt = num.toDouble / (n.toDouble * n.toDouble)
      val covFp = graft.util.EventTs.readEvents(spark, dir)
        .filter(col("event_type") === t)
        .agg(covar_pop(
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").cast("double"),
          hour(col("ts")).cast("double")))
        .collect().head.getDouble(0)
      assert(math.abs(covInt - covFp) < 1e-6 * math.max(1.0, covFp.abs),
        s"$t: $covInt vs $covFp")
    }
  }

  test("resample plans: ffill is join-free; interp joins once on the grid") {
    val dir = "/root/testdata/sf0.001"
    def dataJoins(plan: String): Int =
      "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
        .findAllIn(plan).size
    // forward fill = ONE as-of pass: union+window, zero DATA joins (the
    // 1-row slot-bounds broadcast plans as BNLJ — grid arithmetic, not a
    // data join) and never a cartesian
    val ffill = graft.queries.EventOps.resampleFfill(spark, dir)
      .queryExecution.executedPlan.toString
    assert(dataJoins(ffill) == 0, ffill.take(1200))
    assert(!ffill.contains("CartesianProduct"), ffill.take(1200))
    // interpolation = two as-of passes + exactly ONE grid-keyed data
    // join; the quadratic per-probe history scan shape must never appear
    val interp = graft.queries.EventOps.resampleInterp(spark, dir)
      .queryExecution.executedPlan.toString
    assert(dataJoins(interp) == 1, interp.take(1200))
    assert(!interp.contains("CartesianProduct"), interp.take(1200))
  }

  test("OHLC bars: first/last by (ts, event_id), partial-agg plan") {
    import org.apache.spark.sql.types._
    val scratch = graft.util.Scratch.dir("graft_ohlc").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // slot 00:00: open = 3.0 (earliest), close = 9.0 (equal-ts tie goes
    // to the HIGHER event_id), high 9, low 1; slot 06:00: single event
    val rows = Seq(
      org.apache.spark.sql.Row(100L, t("2024-01-01 01:00:00"), 1L, 3.0),
      org.apache.spark.sql.Row(101L, t("2024-01-01 02:00:00"), 1L, 1.0),
      org.apache.spark.sql.Row(103L, t("2024-01-01 03:00:00"), 1L, 9.0),
      org.apache.spark.sql.Row(102L, t("2024-01-01 03:00:00"), 1L, 7.0),
      org.apache.spark.sql.Row(104L, t("2024-01-01 07:00:00"), 1L, 4.0))
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .write.mode("overwrite").parquet(s"$scratch/events.parquet")
    val out = graft.queries.EventOps.ohlcBars(spark, scratch)
    val got = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
      r.getLong(6))).toSet
    assert(got == Set(
      (1L, "2024-01-01 00:00:00", 3.0, 9.0, 1.0, 9.0, 4L),
      (1L, "2024-01-01 06:00:00", 4.0, 4.0, 4.0, 4.0, 1L)), got.toString)
    // one hash aggregate with map-side partials — no Window, no sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    assert(plan.contains("partial"), plan.take(800))
  }

  test("as-of join matches the per-probe latest row and plans join-free") {
    import graft.operators.AsOfJoin
    val (build, probe) = asOfFixture
    def matches(strict: Boolean): Map[(Long, Long), Long] =
      AsOfJoin.asOf(probe, build, Seq("k"), "pt", "t",
          buildTieBreak = Seq("id"), strict = strict)
        .select(col("k"), unix_timestamp(col("pt")).as("pt"),
          col("matched.id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val inc = matches(strict = false)
    assert(inc((1L, 5L)) == -1L)   // probe precedes every build row
    assert(inc((1L, 20L)) == 102L) // inclusive at-or-before, max-id tie-break
    assert(inc((1L, 30L)) == 102L)
    assert(inc((2L, 49L)) == -1L)
    val st = matches(strict = true)
    assert(st((1L, 20L)) == 100L)  // strictly-before excludes the t=20 rows
    // the physical plan is union + keyed window: no Join node, ONE shuffle
    val out = AsOfJoin.asOf(probe, build, Seq("k"), "pt", "t",
      buildTieBreak = Seq("id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(800))
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("custom AsOfJoinExec == union+window asOf; plans the merge exec with one exchange+sort per side") {
    import graft.operators.AsOfJoin
    val (build0, probe) = asOfFixture
    val build = build0.select(col("k").as("bk"), col("t"), col("id"),
      col("v"))
    val out = AsOfJoin.asOfExec(probe, build, Seq("k"), Seq("bk"),
      "pt", "t", buildTie = Seq("id"))
    val got = out.select(col("k"), unix_timestamp(col("pt")).as("pt"),
        col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // identical semantics to the union+window form's inclusive mode
    assert(got == Map((1L, 5L) -> -1L, (1L, 20L) -> 102L,
      (1L, 30L) -> 102L, (2L, 49L) -> -1L))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin ["), plan.take(800)) // Exec's nodeName
    assert("Exchange".r.findAllIn(plan).size == 2, plan.take(800))
    assert("Sort".r.findAllIn(plan).size >= 2, plan.take(800))
    // null keys / null timestamps drop on both sides, never match
    import spark.implicits._
    val np = Seq((Option(1L), Option(20L)),
        (Option.empty[Long], Option(20L)), (Option(1L), Option.empty[Long]))
      .toDF("k", "pt")
      .select(col("k"), timestamp_seconds(col("pt")).as("pt"))
    val nOut = AsOfJoin.asOfExec(np, build, Seq("k"), Seq("bk"),
      "pt", "t", buildTie = Seq("id")).collect()
    assert(nOut.length == 1 && nOut.head.getLong(0) == 1L)
    // and equality against the rewrite form on the events fixture shape
    val dir = "/root/testdata/sf0.001"
    val a = graft.queries.EventOps.asOfStateExec(spark, dir).collect()
      .map(_.toSeq).toSet
    val b = graft.queries.EventOps.asOfState(spark, dir).collect()
      .map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("as-of forward and tolerance variants") {
    import graft.operators.AsOfJoin
    val (build, probe) = asOfFixture
    def matches(forward: Boolean, tol: Option[Long]): Map[(Long, Long), Long] =
      AsOfJoin.asOf(probe, build, Seq("k"), "pt", "t",
          buildTieBreak = Seq("id"), forward = forward,
          toleranceSeconds = tol)
        .select(col("k"), unix_timestamp(col("pt")).as("pt"),
          col("matched.id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val fwd = matches(forward = true, tol = None)
    assert(fwd((1L, 5L)) == 100L)  // earliest at-or-after
    assert(fwd((1L, 20L)) == 102L) // inclusive, max-id tie-break
    assert(fwd((1L, 30L)) == -1L)  // nothing after the last event
    assert(fwd((2L, 49L)) == 200L)
    // forward tolerance: t=10 is 5 s after the probe at 5 — a 5 s budget
    // admits it, a 4 s budget nulls it
    assert(matches(forward = true, tol = Some(5L))((1L, 5L)) == 100L)
    assert(matches(forward = true, tol = Some(4L))((1L, 5L)) == -1L)
    // backward tolerance: latest at-or-before 30 is t=20 (10 s away)
    assert(matches(forward = false, tol = Some(15L))((1L, 30L)) == 102L)
    assert(matches(forward = false, tol = Some(5L))((1L, 30L)) == -1L)
  }

  test("forward mode through AsOfJoinExec: merge plan, one exchange+sort per side") {
    import graft.operators.AsOfJoin
    val (build0, probe) = asOfFixture
    val build = build0.select(col("k").as("bk"), col("t"), col("id"),
      col("v"))
    val out = AsOfJoin.asOfExec(probe, build, Seq("k"), Seq("bk"),
      "pt", "t", buildTie = Seq("id"), forward = true)
    val got = out.select(col("k"), unix_timestamp(col("pt")).as("pt"),
        col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // earliest at-or-after, max-id on equal-ts ties, null past the end —
    // same answers the union+window forward variant pins above
    assert(got == Map((1L, 5L) -> 100L, (1L, 20L) -> 102L,
      (1L, 30L) -> -1L, (2L, 49L) -> 200L))
    // forward runs the SAME ascending merge: exec node planned, one
    // exchange + one sort per side, direction-independent
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin ["), plan.take(800))
    assert("Exchange".r.findAllIn(plan).size == 2, plan.take(800))
    assert("Sort".r.findAllIn(plan).size >= 2, plan.take(800))
    // and equality against the rewrite on the events fixture shape
    // (forward + 30 min tolerance — the p_asof_forward contract)
    val dir = "/root/testdata/sf0.001"
    val a = graft.queries.EventOps.asOfForwardExec(spark, dir).collect()
      .map(_.toSeq).toSet
    val b = graft.queries.EventOps.asOfForward(spark, dir).collect()
      .map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("as-of join drops null-key rows on both sides (equi-join semantics)") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    // Window.partitionBy groups nulls together, so without the explicit
    // null-key filter a null-key probe would "match" null-key build history
    val build = Seq((Some(1L), 10L, 7.0), (None, 10L, 8.0))
      .toDF("k", "t", "v")
      .select(col("k"), timestamp_seconds(col("t")).as("t"), col("v"))
    val probe = Seq((Some(1L), 20L), (None, 20L))
      .toDF("k", "pt")
      .select(col("k"), timestamp_seconds(col("pt")).as("pt"))
    val out = AsOfJoin.asOf(probe, build, Seq("k"), "pt", "t").collect()
    assert(out.length == 1)           // the null-key probe row is dropped
    assert(out.head.getLong(0) == 1L)
    assert(out.head.getStruct(2).getDouble(1) == 7.0) // matched = (t, v)
  }

  test("interval join equals the naive range join without a nested loop") {
    import spark.implicits._
    val ev = Seq.tabulate(200)(i => (i.toLong, i * 97L % 10000))
      .toDF("id", "sec")
      .select(col("id"), timestamp_seconds(col("sec")).as("ts"))
    // unaligned, multi-cell, sub-cell, and empty intervals
    val iv = Seq((0L, 100L, 400L), (1L, 350L, 4000L), (2L, 9990L, 9991L),
        (3L, 500L, 501L))
      .toDF("iv_id", "s", "e")
      .select(col("iv_id"), timestamp_seconds(col("s")).as("iv_start"),
        timestamp_seconds(col("e")).as("iv_end"))
    val bucketed = Scale.intervalJoin(ev, iv, "ts", "iv_start", "iv_end",
      gridSeconds = 600)
    val naive = ev.crossJoin(iv)
      .filter(col("ts") >= col("iv_start") && col("ts") < col("iv_end"))
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("id"), col("iv_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (bp, np) = (pairs(bucketed), pairs(naive))
    assert(bp.nonEmpty && bp == np) // seq compare: also proves no dup pairs
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(800))

    // width circuit breaker: one pathological interval (a ~317-year span
    // at a 1 s grid) must fail FAST with an attributable message, not
    // materialize 10^10 cells inside the explode
    val wide = Seq((9L, 0L, 10000000000L)).toDF("iv_id", "s", "e")
      .select(col("iv_id"), timestamp_seconds(col("s")).as("iv_start"),
        timestamp_seconds(col("e")).as("iv_end"))
    val guarded = Scale.intervalJoin(ev, wide, "ts", "iv_start", "iv_end",
      gridSeconds = 1)
    val err = intercept[Exception](guarded.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("coarser grid")),
      msgs(err).mkString(" | "))
  }

  test("bloom prefilter: no false negatives, bounded fpp, semi-join equal") {
    import spark.implicits._
    import graft.functions.BloomFilter._
    val keys = (1 to 500).map(_.toLong * 7919)
    val small = keys.toDF("k")
    def build(parts: Int): Array[Byte] = small.repartition(parts)
      .agg(bloom_agg(col("k"), 1 << 14)).collect()(0).getAs[Array[Byte]](0)
    val bytes = build(1)
    // OR-merge is partitioning-invariant: identical bytes either way
    assert(java.util.Arrays.equals(bytes, build(9)))
    // no false negatives — every inserted key passes
    assert(small.filter(bloom_might_contain(col("k"), bytes)).count() == 500)
    // false-positive rate on 10k disjoint keys stays far below saturation
    // (m/n = 32 bits/key, 5 hashes -> fpp well under 1%)
    val fp = (1 to 10000).map(i => i.toLong * 7919 + 3).toDF("k")
      .filter(bloom_might_contain(col("k"), bytes)).count()
    assert(fp < 100, s"implausible false-positive count $fp")
    // end to end: bloomSemiJoin == plain left_semi, and the probe runs
    // the codegen'd membership test (parquet-backed big side: over a local
    // relation ConvertToLocalRelation folds the filter away at optimize
    // time, which would hide the expression from the plan)
    val bigPath = tmpDir("bloom_big")
    (1 to 20000).map(i => (i.toLong * 3, i % 7)).toDF("k", "grp")
      .write.mode("overwrite").parquet(bigPath)
    val big = spark.read.parquet(bigPath)
    val viaBloom = Scale.bloomSemiJoin(big, small, "k", numBits = 1 << 14)
    val plain = big.join(small.distinct(), Seq("k"), "left_semi")
    assert(plain.count() > 0)
    assert(viaBloom.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
    assert(viaBloom.queryExecution.executedPlan.toString
      .contains("bloom_might_contain"))
  }

  test("compaction hits the file-count target and loses no rows") {
    val in = tmpDir("compact_in")
    val out = tmpDir("compact_out")
    li.select("l_orderkey", "l_quantity").repartition(32)
      .write.mode("overwrite").parquet(in)
    def parquetFiles(dir: String): Array[java.io.File] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
    val totalIn = parquetFiles(in).map(_.length()).sum
    val target = totalIn / 4 // expect ceil(total/target) = 4-5 files
    val n = Scale.compactFiles(spark, in, out, target)
    assert(n == ((totalIn + target - 1) / target).toInt)
    val written = parquetFiles(out)
    assert(written.length == n, s"expected $n files, got ${written.length}")
    // lossless: same multiset of rows
    val a = spark.read.parquet(in).groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .collect().map(_.toSeq).toSet
    val b = spark.read.parquet(out).groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("narrow text operators stay in one codegen stage over a pruned scan") {
    val dir = "/root/testdata/sf0.001"
    for (df <- Seq(
        graft.ext.text.TextAnalysis.repetitionSignals(spark, dir),
        graft.ext.text.TextAnalysis.redactionReport(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
      // '*(n)' prefixes mark WholeStageCodegen spans in the compact plan
      assert(plan.contains("*(1) Project"), plan.take(600))
      assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        plan.take(600))
    }
    // chunking explodes but still never shuffles
    val chunked = graft.ext.text.TextAnalysis.chunkReport(spark, dir)
    assert(!chunked.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("r12 text/dedup ops prune the scan to (doc_id, text) and pack-bpe stays narrow") {
    val dir = "/root/testdata/sf0.001"
    // ExactSubstr reads exactly two columns however many stages follow
    val sub = graft.ext.dedup.TextDedup
      .removeRepeatedSubstrings(spark, dir)
      .queryExecution.executedPlan.toString
    assert(sub.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      sub.take(800))
    // dictionary tagging: one automaton pass, zero joins, text-only scan
    val tag = graft.ext.text.TextAnalysis.dictTagReport(spark, dir)
      .queryExecution.executedPlan.toString
    assert(tag.contains("ReadSchema: struct<text:string>"), tag.take(800))
    assert(!tag.contains("Join"), tag.take(800))
    // the imperative augmented-BPE pack: no join, no HOF blowup — the
    // only exchanges are the window's and the final aggregate's
    val pack = graft.ext.corpus.Corpus.packSequencesBpe(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!pack.contains("Join"), pack.take(800))
    assert(pack.contains(
      "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      pack.take(800))
  }

  /** `df`'s AQE-final plan text. Executes `df` itself, as the DPP test
    * does: a `write` runs a separate QueryExecution and leaves this one's
    * plan initial. Asserts the adaptive plan is final before reading it.
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        assert(a.isFinalPlan, "AQE plan is not final after execution")
        a.toString
      case p => fail(s"expected an adaptive plan, got ${p.nodeName}")
    }
  }

  test("triangle gate truncates the fixture subtree: zero in-plan scans") {
    // round-14 pin: the folded fixture edge list is localCheckpointed in
    // triangleGate and the 3 triangle corners are emitted by ONE explode
    // (Generate) pass — before that, the plan inlined the lineitem scan +
    // distinct up to 90 times (one per subtree reference) and unioned
    // THREE copies of the whole wedge-join subtree for the corner counts.
    // A reappearing parquet scan here means a refactor un-pinned the
    // artifact; a missing Generate means the corner union came back. The
    // one legitimate Union left is the degree computation's two-sided
    // read of the pinned edge list — cheap, over checkpointed blocks.
    // read the AQE-final plan (finalPlan): an unexecuted frame renders
    // the INITIAL plan, whose join-strategy verdict could differ from the
    // finalized runtime plan the committed plans/ artifacts were captured
    // from
    val df = graft.ext.graph.GraphOps
      .triangleGate(spark, "/root/testdata/sf0.001")
    val plan = finalPlan(df)
    assert(!plan.contains("Scan parquet"), plan.take(800))
    assert(plan.contains("Generate"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("pipeline funnel pins its stages: zero in-plan scans, no SMJ") {
    // round-14 pin: pipelineReport materializes the survivor set and the
    // post-split frame, so the returned plan aggregates over pinned
    // blocks. Before the pin the corpus tokenize+classify subtree was
    // re-inlined per downstream reference (246-operator plan, 32
    // SortMergeJoins); the operator's own scaladoc promises ONE corpus
    // scan, and this asserts the plan actually honors it.
    // asserts on the AQE-final plan (see the triangle pin above)
    val df = graft.ext.corpus.Corpus
      .pipelineReport(spark, "/root/testdata/sf0.001")
    val plan = finalPlan(df)
    assert(!plan.contains("Scan parquet"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("BM25 operand pin: one tokenize pass, zero in-plan corpus scans") {
    // round-15 pin: bm25Operands materializes the narrow per-doc frame
    // (doc length + query-term occurrences) once; before the pin the
    // tokenize subtree re-inlined into the tf/df/dl/stats branches — 4
    // corpus scans and 2 corpus-wide explodes per retrieval (committed
    // plans/r15/x_rag_bm25_before.txt). A reappearing parquet scan means
    // a refactor un-pinned the artifact. passageTopK carries the same
    // pin for its chunk explode (12 -> 4 Generate nodes).
    val dir = "/root/testdata/sf0.001"
    for (df <- Seq(graft.ext.text.TextAnalysis.bm25Report(spark, dir),
        graft.ext.text.TextAnalysis.passageTopK(spark, dir))) {
      val plan = finalPlan(df)
      assert(!plan.contains("Scan parquet"), plan.take(800))
    }
  }
}

class WindowedStatsSpec extends SparkSpec {

  import graft.streaming.WindowedStats

  // start aligned to a 15-minute boundary (1700000100 % 900 == 0) so the
  // hour of data covers exactly 4 tumbling windows
  lazy val archive = graft.core.Normalize.toArchive(
    graft.gen.StationSource.messages(spark, nStations = 3, perStation = 3600,
      startEpochSec = 1700000100L))

  test("tumbling windows partition time without loss (batch-mode check)") {
    val w = WindowedStats.tumbling(archive)
    assert(w.agg(sum("n")).collect().head.getLong(0) == archive.count())
    assert(w.select("window_start").distinct().count() == 4)
  }

  test("sliding windows overlap: each row lands in window/slide windows") {
    val s = WindowedStats.sliding(archive)
    val total = s.agg(sum("n")).collect().head.getLong(0)
    assert(total == archive.count() * 3) // 15min window / 5min slide = 3
  }

  test("session windows close after the gap in streaming mode (watermarked)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_sessions").start()
    try {
      def t(min: Int) = new java.sql.Timestamp(min * 60000L)
      input.addData((1L, t(0)), (1L, t(10)), (1L, t(20)))
      q.processAllAvailable()
      input.addData((1L, t(120)))      // 100-min gap: closes session 1
      q.processAllAvailable()
      input.addData((1L, t(300)))      // advances watermark past session 2
      q.processAllAvailable()
      val done = spark.table("stream_sessions").collect()
      assert(done.length == 2)
      assert(done.map(_.getAs[Long]("n")).sorted.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("event-time timers: offline alerts fire once with the final state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val alerts = WindowedStats.offlineAlerts(
      input.toDF().toDF("station_id", "s_no", "ts"),
      quietMs = 30L * 60000, watermark = "1 minute")
    val q = alerts.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("offline_alerts").start()
    def fired(): Seq[(Long, Long)] = spark.table("offline_alerts").collect()
      .map(r => (r.getAs[Long]("station_id"), r.getAs[Long]("last_s_no")))
      .toSeq.sorted
    try {
      // station 1 pings at 0 and 10 -> timer re-armed to 10+30=40
      input.addData((1L, 1L, t(0)), (1L, 2L, t(10)))
      q.processAllAvailable()
      // watermark reaches 19 (< 40) -> nothing can fire
      input.addData((2L, 3L, t(20)))
      q.processAllAvailable()
      assert(fired().isEmpty)
      // watermark reaches 59 >= 40 (processAllAvailable includes the
      // post-watermark-advance no-data batch): station 1 fires ONCE with
      // its final s_no; station 2's timer re-armed to 90
      input.addData((2L, 4L, t(60)))
      q.processAllAvailable()
      assert(fired() == Seq((1L, 2L)))
      // watermark reaches 199 >= 90: station 2 fires
      input.addData((3L, 5L, t(200)))
      q.processAllAvailable()
      assert(fired() == Seq((1L, 2L), (2L, 4L)))
      // wm reaches 499 >= 230: station 3 fires; 1 and 2 do NOT re-fire
      // (their state was dropped on timeout)
      input.addData((4L, 6L, t(500)))
      q.processAllAvailable()
      assert(fired() == Seq((1L, 2L), (2L, 4L), (3L, 5L)))
    } finally q.stop()
  }

  test("transformWithState latest keeps the event-time winner across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.TwsLatest
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def t(s: Int) = new java.sql.Timestamp(s * 1000L)
    val input = MemoryStream[TwsLatest.Rec]
    val q = TwsLatest.latestStream(input.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("tws_latest").start()
    try {
      input.addData(TwsLatest.Rec(1L, 1L, t(10), "a", 1.0))
      q.processAllAvailable()
      // an OLDER event must not displace the stored winner
      input.addData(TwsLatest.Rec(1L, 2L, t(5), "b", 2.0))
      q.processAllAvailable()
      // a newer one must
      input.addData(TwsLatest.Rec(1L, 3L, t(20), "c", 3.0))
      q.processAllAvailable()
      val emitted = spark.table("tws_latest").collect()
        .map(r => (r.getAs[Long]("s_no"), r.getAs[String]("event_type")))
      assert(emitted.toSeq == Seq((1L, "a"), (1L, "a"), (3L, "c")))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("rising-edge alerts fire once per crossing (streaming)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.schema.{WeatherReading, WeatherStatus}
    implicit val sq = spark.sqlContext
    import spark.implicits._

    def st(sno: Long, hum: Int) = WeatherStatus(1L, sno, "high",
      new java.sql.Timestamp(sno * 1000L), WeatherReading(hum, 70, 5))

    val input = MemoryStream[WeatherStatus]
    val q = WindowedStats.risingEdgeAlerts(input.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("edge_alerts").start()
    try {
      // 50, 80, 85 (one crossing), 60, 90 (second crossing), 95
      input.addData(st(1, 50), st(2, 80), st(3, 85))
      q.processAllAvailable()
      input.addData(st(4, 60), st(5, 90), st(6, 95))
      q.processAllAvailable()
      val fired = spark.table("edge_alerts").collect()
        .map(_.getAs[Long]("s_no")).sorted.toSeq
      assert(fired == Seq(2L, 5L)) // only the two rising edges
    } finally q.stop()
  }

  test("rising-edge alerts ignore out-of-order arrivals across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.schema.{WeatherReading, WeatherStatus}
    implicit val sq = spark.sqlContext
    import spark.implicits._

    def st(sno: Long, hum: Int) = WeatherStatus(1L, sno, "high",
      new java.sql.Timestamp(sno * 1000L), WeatherReading(hum, 70, 5))

    val input = MemoryStream[WeatherStatus]
    val q = WindowedStats.risingEdgeAlerts(input.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("edge_alerts_ooo").start()
    try {
      // batch 1: s_no=2 crosses (one alert, inAlert = true)
      input.addData(st(2, 80))
      q.processAllAvailable()
      // batch 2: a STALE s_no=1 low reading arrives late — it must be
      // ignored by the high-water mark, not regress the alert boolean
      input.addData(st(1, 40))
      q.processAllAvailable()
      // batch 3: still-high s_no=3 must NOT re-fire (the episode never
      // ended; a regressed boolean would emit a duplicate alert here)
      input.addData(st(3, 85))
      q.processAllAvailable()
      val fired = spark.table("edge_alerts_ooo").collect()
        .map(_.getAs[Long]("s_no")).sorted.toSeq
      assert(fired == Seq(2L), s"duplicate alert fired: $fired")
    } finally {
      q.stop()
      spark.catalog.dropTempView("edge_alerts_ooo")
    }
  }

  test("zorder_code interleaves bits and zorderWrite tiles files disjointly") {
    import spark.implicits._
    import graft.functions.ZOrderCode.zorder_code
    // known Morton values: bit i of a -> 2i, bit i of b -> 2i+1
    val known = Seq((0, 0), (1, 0), (0, 1), (3, 5), (255, 255))
      .toDF("a", "b")
      .select(col("a"), col("b"), zorder_code(col("a"), col("b"), 8).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(known((0, 0)) == 0L)
    assert(known((1, 0)) == 1L)
    assert(known((0, 1)) == 2L)
    assert(known((3, 5)) == 39L) // 011 ⋈ 101 = 100111b
    assert(known((255, 255)) == 65535L)

    // out-of-range values saturate at 2^bitsPer - 1 rather than having
    // their high bits dropped (which would alias distant points into the
    // same tile and silently kill min/max pruning)
    val sat = Seq((256, 0), (257, 3), (5000, 255))
      .toDF("a", "b")
      .select(col("a"), col("b"), zorder_code(col("a"), col("b"), 8).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(sat((256, 0)) == known((255, 255)) - 2L * 21845L) // = z(255, 0)
    assert(sat((5000, 255)) == known((255, 255)))
    assert(sat((257, 3)) == sat((256, 0)) + 2L * 5L) // = z(255, 3)

    // layout: range partitioning by z makes the output files' z-ranges
    // DISJOINT — each file is a compact 2-D tile, so min/max row-group
    // stats prune range predicates on either dimension
    val out = tmpDir("zorder_out")
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(pmod(col("user_id"), lit(64)).as("a"),
        pmod(col("event_id"), lit(64)).as("b"))
    graft.operators.Scale.zorderWrite(df, "a", "b", out, bitsPer = 6,
      nFiles = 4)
    val ranges = spark.read.parquet(out)
      .select(input_file_name().as("f"),
        zorder_code(col("a"), col("b"), 6).as("z"))
      .groupBy(col("f")).agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping file z-ranges: ${ranges.toSeq}")
      case _ =>
    }
  }
}
