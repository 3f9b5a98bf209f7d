package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan guards (SURVEY.md §4): the scale properties that make
  * these queries survive 100 TB are plan shapes, not constants — assert
  * them so a refactor can't silently regress pushdown, pruning, or join
  * strategy.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf)
      .queryExecution.explainString(FormattedMode)

  test("filters reach the parquet scan (predicate pushdown)") {
    val p = plan("q05_filter_conjunctive")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(event_type,signup)"))
    val p8 = plan("q08_range_in")
    assert(p8.contains("In(o_orderpriority") && p8.contains("GreaterThanOrEqual(o_totalprice"))
  }

  test("event-time range predicates push to the parquet scan (row-group pruning at scale)") {
    // With ts read natively as TimestampType at the scan (no NTZ cast node
    // above it), a time-range filter must reach PushedFilters — this is
    // the predicate that prunes row groups / partitions on a 100 TB event
    // log, and a cast in the read path would silently disable it.
    import org.apache.spark.sql.functions._
    val p = Tables(spark, Sf, "events")
      .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("ts"))
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(ts"),
      s"ts range predicate did not reach the scan:\n$p")
  }

  test("projections prune the scan schema (column pruning)") {
    val p = plan("q01_scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"))
    // q44 reads ONLY text of documents
    val p44 = plan("q44_token_tf")
    val r44 = p44.linesIterator.find(_.contains("ReadSchema")).get
    assert(r44.contains("text") && !r44.contains("lang") && !r44.contains("n_chars"))
  }

  test("dimension joins broadcast; large-large joins sort-merge") {
    assert(plan("q09_broadcast_join").contains("BroadcastHashJoin"))
    assert(plan("q00_flagship").contains("BroadcastHashJoin"))
    assert(plan("q10_sortmerge_join").contains("SortMergeJoin"))
  }

  test("group-bys plan partial+final HashAggregate (map-side combine)") {
    val p = plan("q17_agg_tpch_q1")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q28_topk_limit")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Sort ["))
  }

  test("whole-stage codegen covers the scan stages") {
    // AQE prints codegen spans only once stages have executed.
    def executedPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, Sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // "*(n)" is the WholeStageCodegen marker in compact plan strings.
    assert(executedPlan("q05_filter_conjunctive").contains("*("))
    assert(executedPlan("q35_math").contains("*("))
  }

  test("as-of join is a single shuffle (window), not an inequality join") {
    val p = plan("q15_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Window"))
  }

  test("minhash LSH candidate join is equi-keyed (no cartesian anywhere)") {
    val p = plan("q46_minhash_neardup")
    assert(!p.contains("CartesianProduct"))
  }

  test("n-gram Jaccard: posting-list shape — no pair-producing join at all") {
    val p = plan("q58_ngram_jaccard")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // candidate generation is a groupBy(collect_list) + explode, so the
    // only joins left are the equi-keyed verification lookups
    assert(p.contains("Generate") && p.contains("explode("))
  }

  test("cube/grouping-sets expand once and aggregate partially; range frame is a RangeFrame") {
    val p73 = plan("q73_cube")
    assert("Expand".r.findAllIn(p73).size >= 1)
    assert("HashAggregate".r.findAllIn(p73).size >= 2,
      "cube must partial-aggregate its expanded rows")
    val p75 = plan("q75_range_frame")
    assert(p75.contains("Window"))
    assert(p75.toLowerCase.contains("rangeframe") ||
      p75.contains("RANGE BETWEEN"),
      s"q75 must plan a RANGE frame, not ROWS:\n${p75.take(1500)}")
  }

  test("rank-filter top-k pushes a partial WindowGroupLimit below the shuffle") {
    // q26's row_number() <= 3 must NOT sort whole groups: Spark 4's
    // InferWindowGroupLimit should insert WindowGroupLimit(Partial)
    // BEFORE the partition exchange (each map task forwards at most k
    // rows per group) and WindowGroupLimit(Final) after — the built-in
    // per-group top-k pushdown this engine relies on instead of a
    // custom exec. If a refactor rephrases the filter so the rule stops
    // matching, every map task ships its full groups: the 100 TB
    // regression this pin exists to catch.
    val p = plan("q26_topk_per_group")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"partial+final WindowGroupLimit missing from q26:\n${p.take(2000)}")
    assert(p.contains("Partial") && p.contains("Final"),
      s"WindowGroupLimit must run in partial+final mode:\n${p.take(2000)}")
  }

  test("repetition stats shuffle nothing but the final presentation sort") {
    val p = plan("q77_repetition")
    assert(!p.contains("hashpartitioning"),
      "q77 is per-row work — no hash exchange may exist")
  }

  test("full outer join sort-merges; fuzzy dedup stays equi-blocked") {
    val p78 = plan("q78_full_outer_join")
    assert(p78.contains("SortMergeJoin") && p78.contains("FullOuter"))
    val p80 = plan("q80_fuzzy_dedup")
    assert(!p80.contains("CartesianProduct") &&
      !p80.contains("BroadcastNestedLoopJoin"),
      "levenshtein must only run on blocked candidates")
  }

  test("decontamination's holdout hit-join broadcasts (holdout shingles are the small side)") {
    val df = SparkEntry.queries("q81_decontaminate")(spark, Sf)
    df.collect() // AQE decides join strategy at runtime
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"holdout side should broadcast under AQE:\n${p.take(1500)}")
  }

  // AQE wraps the physical tree in AdaptiveSparkPlanExec, which holds
  // its plan as a FIELD (not a child) — a bare collect over the wrapper
  // sees no nodes, so unwrap before walking.
  private def unwrapAqe(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("q158's Bloom probe gates the corpus BELOW the explode (prune-before-fanout)") {
    val plan = unwrapAqe(SparkEntry.queries("q158_decontaminate_bloom")(spark, Sf)
      .queryExecution.executedPlan)
    val p = plan.toString
    assert(p.contains("bloom_any_probe"),
      s"the sketch gate vanished from the plan:\n${p.take(1500)}")
    // Walk the TREE, not the printed string (the plan has TWO Generates
    // — train-side and holdout-side explode — and a string indexOf can
    // anchor on whichever prints first): the pin is that SOME Generate
    // has the probe filter strictly beneath it, i.e. bloom-negative
    // documents are dropped before the shingle fanout. Only the
    // train-side Generate can satisfy this (the holdout subtree contains
    // no probe), so the assertion targets the right Generate by
    // construction.
    val gens = plan.collect { case g if g.nodeName == "Generate" => g }
    assert(gens.nonEmpty, s"no Generate in the plan:\n${p.take(1500)}")
    assert(gens.exists(_.children.exists(_.toString.contains("bloom_any_probe"))),
      s"no Generate has the probe filter beneath it — the gate is not " +
        s"prune-before-fanout:\n${p.take(1500)}")
  }

  test("q144's corpus-Bloom gate prunes new docs BELOW their band explode (r10)") {
    val plan = unwrapAqe(SparkEntry.queries("q144_cross_dump_neardup")(spark, Sf)
      .queryExecution.executedPlan)
    val p = plan.toString
    assert(p.contains("bloom_any_probe"),
      s"the new-side sketch gate vanished from q144's plan:\n${p.take(1500)}")
    // same tree-walk pin as q158: some Generate (the new side's band
    // posexplode) must have the probe filter strictly beneath it, so the
    // non-matching crawl majority never reaches the band fanout or the
    // bucket-count shuffle
    val gens = plan.collect { case g if g.nodeName == "Generate" => g }
    assert(gens.exists(_.children.exists(_.toString.contains("bloom_any_probe"))),
      s"no Generate has the probe beneath it — q144's gate is not " +
        s"prune-before-fanout:\n${p.take(1500)}")
  }

  test("k-means assignment is map-only against centroid literals — no join, no n*k shuffle") {
    val df = SparkEntry.queries("q91_kmeans_clusters")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    // centroids are driver-held model state embedded as literals, so the
    // final assignment pass must plan NO corpus-side join at all; the only
    // join in q91 is the k-row cluster-sizes broadcast. A SortMergeJoin/
    // CartesianProduct anywhere would be the 100 TB regression.
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"assignment must not join the corpus:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"cluster sizes must broadcast:\n${p.take(1500)}")
  }

  test("dup-spans and rare-token joins stay equi-keyed (no pair-producing shapes)") {
    for (q <- Seq("q90_dup_spans", "q89_rare_token_score")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join equi-keyed only:\n${p.take(1500)}")
    }
  }

  test("dedup's spread gate adds no Exchange when the input is already multi-split") {
    import graft.operators.Dedup
    val cores = spark.sparkContext.defaultParallelism
    // already at-or-above core count -> identity, no new shuffle
    val wide = Tables(spark, Sf, "documents").repartition(cores)
    val gated = Dedup.spreadIfUnderSplit(wide)
    assert(gated.queryExecution.logical eq wide.queryExecution.logical,
      "gate must be the identity on a multi-split input")
    // single split -> spread across cores
    val narrow = Tables(spark, Sf, "documents").coalesce(1)
    val spread = Dedup.spreadIfUnderSplit(narrow)
    assert(spread.rdd.getNumPartitions == cores)
  }

  test("df-prune's stop-list anti-join broadcasts (stop list is tiny by construction)") {
    val p = plan("q69_df_prune")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stop-list should anti-join via broadcast:\n${p.take(2000)}")
  }

  test("bm25 broadcasts its one-row stats and cuts top-k without a global sort") {
    val p = plan("q83_bm25")
    assert(p.contains("BroadcastExchange"),
      "corpus stats must re-join as a broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 cut must be TakeOrderedAndProject, not a global Sort")
  }

  test("source overlap joins stay equi-keyed; quantized MIPS argmax partial-aggregates") {
    val p86 = plan("q86_source_overlap")
    assert(!p86.contains("CartesianProduct") &&
      !p86.contains("BroadcastNestedLoopJoin"),
      "the shingle self-join must be equi-keyed on the hash")
    val p85 = plan("q85_quantized_ann")
    assert(!p85.contains("Window"), "q85 must not plan a rank window")
    assert("Aggregate".r.findAllIn(p85).size >= 2,
      "q85 argmax must partial-aggregate")
  }

  test("r4 additions keep their scale shapes: heavy-hitter top-k cut, equi-keyed pair joins") {
    // q95: the top-25 cut must be TakeOrderedAndProject (local 25 per
    // partition), never a global sort of the n-gram counts
    val p95 = plan("q95_top_ngrams")
    assert(p95.contains("TakeOrderedAndProject"),
      s"q95 must cut top-k without a global sort:\n${p95.take(1200)}")
    // q97/q101: the pair-producing / first-occurrence logic must stay
    // equi-keyed — a cartesian or nested-loop anywhere is the 100 TB
    // regression
    for (q <- Seq("q97_chunk_dedup", "q101_containment")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join equi-keyed only:\n${p.take(1200)}")
    }
    // q98: pure map — a single projection over the scan, no Exchange at
    // all before the presentation sort
    // FormattedMode lists each node once in the tree and once in the
    // details ("(5) Exchange"), so count the detail headers
    val p98 = plan("q98_jl_projection")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p98).size
    assert(exchanges <= 1, // the orderBy's range partitioning only
      s"q98 must be map-only before the presentation sort:\n${p98.take(1200)}")
  }

  test("k-means assignment never leaks into a pushed isnotnull filter") {
    // a NULLABLE cluster key makes the sizes equi-join push
    // isnotnull(cluster) below the mx staging project, duplicating the
    // whole quantize+assign expression into a Filter with array_max
    // re-reduced per element (+1.8 s on q91 at sf0.1 when it regressed
    // in r6); the coalesce in kmeansCore.assign pins the key
    // non-nullable so that filter can never be generated
    for (q <- Seq("q91_kmeans_clusters", "q113_semantic_dedup")) {
      val p = plan(q)
      assert(!p.contains("isnotnull(nearest_centroid"),
        s"$q pushed a filter over the assignment expression")
    }
  }

  test("ANN argmax aggregates partially — no rank Window, no sort shuffle") {
    val p59 = plan("q59_ann_ivf")
    assert(!p59.contains("Window"), "q59 must not plan a rank window")
    assert("Aggregate".r.findAllIn(p59).size >= 2,
      "q59 argmax must partial-aggregate")
    val p49 = plan("q49_ann_lsh")
    assert(!p49.contains("Window"), "q49 must not plan a rank window")
    // bucket self-join stays equi-keyed
    assert(!p49.contains("CartesianProduct") &&
      !p49.contains("BroadcastNestedLoopJoin"))
    // q43's top-k is the bounded aggregator, not a rank window
    val p43 = plan("q43_cosine_topk")
    assert(!p43.contains("Window"), "q43 must not plan a rank window")
    assert("Aggregate".r.findAllIn(p43).size >= 2,
      "q43 top-k must partial-aggregate")
  }

  test("r4 batch-2 scale shapes: kNN broadcasts probes, SemDeDup stays cluster-blocked") {
    val p109 = plan("q109_knn_label")
    // the probe side broadcasts against one corpus scan, and the top-5
    // cut is the bounded aggregator, never a rank window
    assert(p109.contains("BroadcastNestedLoopJoin") ||
      p109.contains("BroadcastHashJoin"))
    assert(!p109.contains("Window"), "q109 must not plan a rank window")
    val p113 = plan("q113_semantic_dedup")
    // the within-cluster pair join must be equi-keyed on the cluster id —
    // a cartesian/broadcast-nested-loop here is the O(n^2) SemDeDup avoids
    assert(!p113.contains("CartesianProduct") &&
      !p113.contains("BroadcastNestedLoopJoin"))
    // keys show in the FormattedMode detail section ("Left keys [1]: [cluster#...")
    assert("""keys \[1\]: \[cluster""".r.findFirstIn(p113).isDefined,
      "q113's pair join must key on cluster")
    // one-row / 5-row quota tables broadcast
    assert(plan("q110_label_balance").contains("Broadcast"))
    assert(plan("q111_kfold").contains("BroadcastHashJoin"))
    assert(plan("q112_weighted_sample").contains("Broadcast"))
  }

  test("behavior/profiling shapes: no cartesian funnels, one-pass profile, bounded transition agg") {
    Seq("q107_funnel", "q108_gap_fill", "q115_transitions",
      "q116_retention", "q117_anomaly_days").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
    // q114 profiles every column in ONE scan of events (expand for the
    // multi-distinct rewrite is fine; a second Scan parquet is not).
    // Count detail headers — FormattedMode also lists nodes in the tree.
    val p114 = plan("q114_profile")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p114).size == 1,
      "q114 must profile all columns in a single pass")
    // q115's output is |types|^2 — the count must partial-aggregate
    val p115 = plan("q115_transitions")
    assert("Aggregate".r.findAllIn(p115).size >= 2)
  }

  test("r4 batch-3 scale shapes: bounded-vocab PMI, windowed history, decay broadcast") {
    val p123 = plan("q123_pmi_pairs")
    // the vocabulary cut is a local top-k, and the within-doc pair join
    // must be equi-keyed on doc_id — never an unkeyed pair blowup
    assert(p123.contains("TakeOrderedAndProject"))
    assert(!p123.contains("CartesianProduct"))
    assert("""keys \[\d+\]: \[doc_id""".r.findFirstIn(p123).isDefined,
      "q123's pair join must key on doc_id")
    // q122's one-row reference date broadcasts; no cartesian anywhere
    val p122 = plan("q122_engagement")
    assert(p122.contains("Broadcast") && !p122.contains("CartesianProduct"))
    // the history/session windows are single-pass: one hash-partition
    // exchange for the user window + the presentation range sort
    Seq("q124_scd2_history", "q125_session_ids").foreach { q =>
      val p = plan(q)
      val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
      assert(exchanges <= 2, s"$q needs only window + presentation exchanges")
      assert(!p.contains("CartesianProduct"))
    }
    // co-moment aggregates partial-aggregate like any sum
    assert("HashAggregate".r.findAllIn(plan("q126_correlation")).size >= 2)
  }

  test("index build and centroid matrix keep their bounded shapes") {
    // q130's posting cut is the bounded aggregator, never a rank window
    val p130 = plan("q130_posting_lists")
    assert(!p130.contains("Window"), "q130 must not plan a rank window")
    assert(p130.contains("TakeOrderedAndProject")) // the vocabulary cut
    // q131's pair join is over the model-sized centroid table: broadcast,
    // and nothing corpus-sized crosses a nested loop
    val p131 = plan("q131_source_centroids")
    assert(p131.contains("Broadcast"))
    assert(!p131.contains("CartesianProduct"))
  }

  test("star-schema query broadcasts its snowflake arm and pushes the date filter") {
    val p = plan("q118_regional_revenue")
    // region→nation→supplier collapses to broadcasts; no cartesian
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("CartesianProduct"))
    // the order-date range reaches the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate") ||
      p.contains("IsNotNull(o_orderdate"))
    val p119 = plan("q119_promo_share")
    assert(p119.contains("BroadcastHashJoin"), "part is a dimension — broadcast it")
    assert("HashAggregate".r.findAllIn(p119).size >= 2)
  }

  test("r6 curation shapes: per-key windows only, pruned scans, partial-agg epoch plan") {
    // q132's rank window is PARTITIONED by shard — a global (empty-spec)
    // window would serialize the whole corpus through one reducer
    val p132 = plan("q132_shard_shuffle")
    assert(p132.contains("windowspecdefinition(shard"),
      "q132's window must partition by shard")
    val r132 = p132.linesIterator.find(_.contains("ReadSchema")).get
    assert(!r132.contains("text"), "q132 needs only doc_id — prune text")
    // q133's cumulative sum stays inside its source partition
    val p133 = plan("q133_token_budget")
    assert(p133.contains("windowspecdefinition(source"),
      "q133's window must partition by source")
    // q134 is a straight partial+final aggregate, no window, no join
    val p134 = plan("q134_epoch_plan")
    assert(!p134.contains("Window") && !p134.contains("Join"))
    assert("HashAggregate".r.findAllIn(p134).size >= 2)
  }

  test("q135's component join broadcasts the pairs-sized label table") {
    val df = SparkEntry.queries("q135_leakage_safe_split")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the component table is pairs-sized — broadcast it under AQE")
    assert(!p.contains("CartesianProduct"))
  }

  test("r6 reporting shapes: q136/q137 broadcast their model-sized stats; q138 windows per source") {
    // q136: the per-source mass table joins by broadcast, and the
    // canonical pick windows over component_id (pairs-sized set), never
    // the whole corpus
    val p136 = plan("q136_priority_collapse")
    assert(p136.contains("windowspecdefinition(component_id"),
      "q136's pick must partition by component")
    assert(p136.contains("BroadcastHashJoin"), "mass table must broadcast")
    // q137: no corpus-sized cartesian anywhere — the only nested loop
    // is the |sources|² pair universe; the token self-join is equi-keyed
    val p137 = plan("q137_source_drift")
    assert(!p137.contains("CartesianProduct"),
      "q137 may only nested-loop the |sources|-sized totals")
    assert(p137.contains("SortMergeJoin") || p137.contains("ShuffledHashJoin")
      || p137.contains("BroadcastHashJoin"),
      "the shared-token join must be equi-keyed")
    // q138: rank window partitions by source; the scan reads only the
    // three columns the gate needs
    val p138 = plan("q138_quality_gate")
    assert(p138.contains("windowspecdefinition(source"),
      "q138's window must partition by source")
    val r138 = p138.linesIterator.find(_.contains("ReadSchema")).get
    assert(!r138.contains("lang") && !r138.contains("n_chars"),
      "q138 needs only doc_id/source/text — prune the rest")
  }

  test("q139 broadcasts the benchmark and partial-aggregates the hit count") {
    val p = plan("q139_semantic_decon")
    // the benchmark side must broadcast (a real benchmark is
    // benchmark-sized at any corpus scale); the pair stage is the q109
    // nested-loop shape, never a shuffled corpus-vs-corpus join
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the benchmark probe must be a broadcast nested loop")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "q139 must not plan a rank window")
    // hit counting combines map-side: partial + final HashAggregate
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "q139's hit count must partial-aggregate")
    // the scan feeds only vec_id + embedding into the quantizer
    val r = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!r.contains("label"), "q139 reads only vec_id/embedding")
    // the staging project must not be re-inlined into a pushed
    // isnotnull filter (the q91 nullability hazard — n2 is declared
    // non-nullable via coalesce precisely to prevent this): quantize's
    // FLOOR appears once per side's staging project and nowhere else
    assert("""FLOOR""".r.findAllIn(p).size <= 2,
      "quantize re-inlined below the staging project — nullability " +
        "regression on n2")
  }

  test("q140 broadcasts the anchor batch and bounds the top-3 cut") {
    val p = plan("q140_hard_negatives")
    // the anchor batch must broadcast against one corpus scan; the
    // label-inequality join is non-equi by construction, so the only
    // acceptable plan is a broadcast nested loop — never a cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the anchor probe must be a broadcast nested loop")
    assert(!p.contains("CartesianProduct"))
    // the top-3 cut is the bounded TopKAgg, never a rank window over
    // the |anchors| x |corpus| pair relation
    assert(!p.contains("Window"), "q140 must not plan a rank window")
    assert("Aggregate".r.findAllIn(p).size >= 2,
      "q140's top-3 cut must partial-aggregate")
  }

  test("r9 additions: q153 broadcasts its bucket stats; q154 assigns map-only") {
    // q153: the 128-row bucket table joins by broadcast; the only
    // corpus-sized shuffle keys on doc_id (the per-doc score agg)
    val p153 = plan("q153_importance_reweight")
    assert(p153.contains("BroadcastHashJoin"),
      "the 128-bucket stats table must broadcast onto the token stream")
    assert(!p153.contains("CartesianProduct"))
    assert(p153.contains("hashpartitioning(doc_id"),
      "the score rollup must key on doc_id")
    // q154: the final assignment is pure expression work against k
    // literal centers — no join, no window, no pair stage; the only
    // shuffle is the presentation sort
    val p154 = plan("q154_kcenter_coreset")
    assert(!p154.contains("Join") && !p154.contains("Window"),
      "k-center assignment must be map-only against literal centers")
    assert(!p154.contains("CartesianProduct"))
  }

  test("q141 keys its rank window on the cluster id") {
    val p = plan("q141_cluster_outlier_prune")
    // the window partitions on the cluster key (per-partition work is
    // the cluster size — constant once deployment k grows with n);
    // a global or per-vector window here would be the O(n) partition
    // the design forbids
    assert(p.contains("Window"), "q141 ranks within clusters via a window")
    assert(p.contains("hashpartitioning(cluster"),
      "q141's shuffle must key on the cluster id")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q143 nested-loops only the benchmark probe; the catalog join is equi-keyed") {
    val p = plan("q143_contamination_report")
    assert(!p.contains("CartesianProduct"))
    // FormattedMode prints each node twice (tree + detail header), so
    // count the "(n) BroadcastNestedLoopJoin" detail headers
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 1,
      "only the benchmark probe may be a nested loop — the catalog and " +
        "flag-set joins must stay equi-keyed")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "the catalog join must be an equi join")
    assert(!p.contains("Window"), "q143 must not plan a window")
  }

  test("q144's band join is equi-keyed — no pair stage outside the buckets") {
    val p = plan("q144_cross_dump_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the new-vs-corpus candidate stage must be the (band, bh) equi join")
    assert(p.contains("hashpartitioning(band"),
      "candidates must shuffle on the band key")
  }

  test("q145's funnel composes equi-keyed gates — no pair or cartesian stage") {
    val p = plan("q145_dedup_funnel")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "every gate and rollup join in the funnel must be equi-keyed " +
        "(sha256 keepers, component labels, doc ids, source)")
  }

  test("no query re-inlines a staged expression into a pushed filter") {
    // The q91/q139/q113/q131 hazard class, swept across every
    // registered query: an inferred isnotnull/size filter pushed below
    // a staging project re-inlines the staged expression — with
    // array_max re-reduced per element, that turned measured seconds of
    // pure overhead on q139 (2.9 s → 0.9 s) and q113/q131. Computed
    // columns that feed join conditions or generates must be declared
    // non-nullable (coalesce) or exploded raw.
    val hazards = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, Sf)
        .queryExecution.executedPlan.toString
      val bad = p.linesIterator.exists(l =>
        l.contains("Filter") &&
          (l.contains("isnotnull(CASE WHEN") ||
            l.contains("isnotnull(transform") ||
            l.contains("isnotnull(vec_dot") ||
            l.contains("isnotnull(aggregate(") ||
            l.contains("size(transform")))
      if (bad) Some(name) else None
    }
    assert(hazards.isEmpty, s"staging re-inlined into a filter in: $hazards")
  }

  test("q142 keys its tercile window on the source") {
    val p = plan("q142_perplexity_buckets")
    // the bucket cut is one source-keyed shuffle over (doc_id, mean_p)
    // pairs; the LM stage underneath stays q102's partial-aggregating
    // shape — no cartesian, no all-pairs anywhere
    assert(p.contains("Window"), "q142 cuts terciles via a window")
    assert(p.contains("hashpartitioning(source"),
      "q142's rank shuffle must key on the source")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q146's only single-partition window is the histogram, never the corpus") {
    val p = plan("q146_global_token_budget")
    // the two-pass threshold construction: the global cumulative window
    // runs over the length HISTOGRAM (post-aggregation — bounded by max
    // doc length), so exactly ONE SinglePartition exchange may appear,
    // and a partial HashAggregate keyed on ws_tokens must sit below it;
    // the corpus-sized window keys on the length class, and the ≤1-row
    // boundary frame arrives by broadcast
    val singles = "SinglePartition".r.findAllIn(p).length
    assert(singles == 1,
      s"expected exactly one histogram-sized SinglePartition exchange, got $singles")
    assert(p.contains("hashpartitioning(ws_tokens"),
      "per-class rank window and histogram agg must key on ws_tokens")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the boundary frame must broadcast")
    assert("Keys \\[1\\]: \\[ws_tokens".r.findFirstIn(p).isDefined,
      "the histogram aggregate must group by ws_tokens")
    // and the single-partition input is the HISTOGRAM: the tok column
    // (post-aggregate sum) is in-flight at that exchange, never text
    val exIdx = p.indexOf("Arguments: SinglePartition")
    val inLine = p.lastIndexOf("Input", exIdx)
    assert(exIdx > 0 && p.substring(inLine, exIdx).contains("tok#") &&
      !p.substring(inLine, exIdx).contains("text#"),
      "the SinglePartition exchange must carry histogram rows, not corpus rows")
  }

  test("q147 has no single-partition stage and no source-sized corpus window") {
    val p = plan("q147_source_budget_scalable")
    assert(!p.contains("SinglePartition"),
      "every q147 window must be keyed — the whole point over q133")
    // the corpus-side window keys on the (source, n_chars) CLASS, not on
    // the source alone (a source-keyed corpus window is q133's hot spot)
    assert(p.contains("hashpartitioning(source") &&
      p.contains("n_chars"),
      "boundary-class cumsum must key on (source, n_chars)")
    assert(p.contains("BroadcastHashJoin"),
      "the |sources|-row boundary frame must broadcast")
  }

  test("q148 resolves the rank cut on the score histogram, never a source-sized window") {
    val p = plan("q148_quality_gate_scalable")
    assert(!p.contains("SinglePartition"))
    // the corpus-side window keys on the (source, qscore_bp) tie class
    // (≤ 10001 classes per source by construction); the per-source
    // cumulative runs over histogram rows only
    assert(p.contains("hashpartitioning(source") &&
      p.contains("qscore_bp"),
      "boundary-class rank must key on (source, qscore_bp)")
    assert(p.contains("BroadcastHashJoin"),
      "the |sources|-row boundary frame must broadcast")
  }

  test("q149 filters to the hash-cutoff candidate pool BELOW its rank window") {
    val p = plan("q149_temperature_mix_scalable")
    assert(!p.contains("SinglePartition"))
    assert(p.contains("BroadcastHashJoin"),
      "the |sources|-row quota/cutoff frame must broadcast")
    // the candidate filter (h <= t_hi) must run before the per-source
    // rank window — that pre-filter is the whole √n-factor win
    val win = p.indexOf("Arguments: [row_number()")
    val filt = p.lastIndexOf("t_hi", win)
    assert(win > 0 && filt > 0 && filt < win,
      "cutoff filter must sit below the rank window")
  }

  test("q151's scan is range-partitioned with (pid, source)-keyed local windows") {
    val p = plan("q151_pack_sequences_scalable")
    assert(!p.contains("SinglePartition"))
    assert(p.contains("rangepartitioning(source"),
      "the scan key must range-partition (contiguous key slices per task)")
    assert(p.contains("hashpartitioning(pid"),
      "local cumsum must key on (pid, source) — bounded by the slice, " +
        "never the source")
    assert(p.contains("BroadcastHashJoin"),
      "the P×|sources|-row offsets frame must broadcast")
  }

  test("r12 IVM/codec/shuffle tier plan shapes: map-only splice, no-join combines, broadcast vocab probe") {
    // q189: the raw tag splice is one codegen'd map pass — the
    // presentation sort is the only exchange
    val df189 = SparkEntry.queries("q189_raw_tag_append")(spark, Sf)
    df189.collect()
    val p189 = df189.queryExecution.executedPlan.toString
    assert(!p189.contains("Join"), "q189 must be map-only (no join)")
    // q186/q192: signed-state combines are union + partial aggs — never
    // a corpus-row-carrying join (no join at all, like q184)
    for (q <- Seq("q186_dedup_state_incremental", "q192_ivf_state_incremental")) {
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      assert(!df.queryExecution.executedPlan.toString.contains("Join"),
        s"$q must combine by union+agg, not join")
    }
    // q188: the only join is the |vocab|-row id probe — it must
    // broadcast, never shuffle the token partials by vocab
    val df188 = SparkEntry.queries("q188_vocab_incremental")(spark, Sf)
    df188.collect()
    val p188 = df188.queryExecution.executedPlan.toString
    assert(p188.contains("BroadcastHashJoin"),
      "q188's vocab-id probe must broadcast")
    assert(!p188.contains("SortMergeJoin"),
      "q188 must not sort-merge anything")
    // q187/q191: codec tiers are partition-local byte work — only the
    // presentation sort exchanges
    for (q <- Seq("q187_quantized_video", "q191_motion_video")) {
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      assert(!df.queryExecution.executedPlan.toString.contains("Join"),
        s"$q decode must be partition-local (no join)")
    }
  }

  test("q215 segments map-only: the two-sided vocab rides the expression, zero corpus joins") {
    // same 100 TB contract as q198: the WordPiece vocab is an executor
    // reference object on the codegen expression, never a join side —
    // the corpus pass must show no join and no key shuffle before the
    // presentation sort
    val df = SparkEntry.queries("q215_wordpiece")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"q215 corpus pass must not join:\n${p.take(1200)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"q215 corpus pass must not shuffle by key:\n${p.take(1200)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"q215 must not funnel the corpus to one partition:\n${p.take(1200)}")
    assert(p.contains("wordpiece_greedy"),
      "q215 must run through the WordpieceGreedy expression")
  }

  test("q217 extracts map-only: zero corpus joins or key shuffles") {
    val df = SparkEntry.queries("q217_boilerplate_extract")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"q217 must not join:\n${p.take(1200)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"q217 must not shuffle by key:\n${p.take(1200)}")
    assert(p.contains("boilerplate_extract"),
      "q217 must run through the BoilerplateExtract expression")
  }

  test("q222 contaminates via LEFT SEMI on grams, never a doc-pair join") {
    // the registration memoizes (CachePool.memo) and returns a checkpoint
    // scan — the pinned shape is the plan the memo BUILDS, so target the
    // raw builder (same for q223/q201/q202 below)
    val df = graft.operators.Dedup.contaminationAudit(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      s"q222's hit count must be a left-semi gram join:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q222 must never pair documents:\n${p.take(1200)}")
  }

  test("q223 compacts under hash exchanges only — no corpus window, no cartesian") {
    import graft.operators.Relational
    val df = Relational.mergeCompact(Relational.mergeDumps(spark, Sf))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"q223 must not go all-pairs:\n${p.take(1200)}")
    assert(!p.contains("Window"),
      s"q223's latest-wins must be an aggregate, not a window:\n${p.take(1200)}")
    assert(p.contains("Exchange hashpartitioning"),
      "q223 must shuffle on the key for the struct-max aggregate")
  }

  test("q216 near-dup joins banded-equi, never all-pairs") {
    // the 100 TB contract of the perceptual near-dup tier: candidates
    // come from the (band, value) equi-join — a hash-keyed shuffle —
    // NEVER a cartesian/nested-loop pair enumeration
    val df = SparkEntry.queries("q216_image_neardup")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"q216 must not go all-pairs:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q216 must not nested-loop:\n${p.take(1200)}")
    assert(p.contains("Exchange hashpartitioning"),
      "q216's candidate join must shuffle on the band key")
  }

  test("q235's banded join runs over the distinct-signature aggregate, never doc-level hashes") {
    // the 100 TB contract of the bounded-edge collapse: the only pair
    // join in the edge derivation consumes the groupBy(dhash) aggregate
    // on BOTH sides (candidate fan-out governed by distinct signatures,
    // not docs), and nothing goes all-pairs
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Tables(spark, Sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
      .map(id => Multimodal.MediaRow(id, Multimodal.encodeBmpDhash(id)))
    val edges = Multimodal.sparseClusterEdges(
      Multimodal.perceptualHashes(spark, media).toDF())
    val lp = edges.queryExecution.optimizedPlan
    val bandJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "bv")) => j
    }
    assert(bandJoins.nonEmpty, "q235 must derive candidates via the banded join")
    bandJoins.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        val aggs = side.collect {
          case a: Aggregate
            if a.groupingExpressions.exists(_.references.exists(_.name == "dhash")) => a
        }
        assert(aggs.nonEmpty,
          "each banded-join side must sit above the distinct-signature " +
            s"aggregate, got:\n${side.treeString.take(1200)}")
      }
    }
    val pp = edges.queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"),
      s"q235 edge derivation must never go all-pairs:\n${pp.take(1200)}")
  }

  test("q238 ranks each layout via the scan: range-partitioned, pid-local windows, no corpus global window") {
    // the advisor's corpus passes are scanRank instances — the q151
    // shape: rangepartitioning + pid-keyed local windows + broadcast
    // offsets; the only unpartitioned windows run over the bounded
    // per-partition offs / 12-row advisory frames
    val df = SparkEntry.queries("q238_layout_pruning_advisor")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"),
      s"layout ranks must come from the range-partitioned scan:\n${p.take(1200)}")
    assert(p.contains("hashpartitioning(pid"),
      "local ranks must be pid-keyed windows")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q238 must not pair rows:\n${p.take(1200)}")
  }

  test("q198 segments map-only: the cost model rides the expression, zero corpus joins") {
    // the unigram DP is a codegen expression over the scan — the frozen
    // cost table is an executor reference object, NOT a join side, so
    // the corpus pass must show no join and no exchange before the
    // presentation sort (the 100 TB shape: tokenize passes are map-only)
    val df = SparkEntry.queries("q198_unigram_viterbi")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"q198 corpus pass must not join:\n${p.take(1200)}")
    // the only exchange is the presentation sort's range partitioning
    // (AdaptiveSparkPlan.toString repeats nodes across plan sections, so
    // pin the KIND of exchange rather than counting occurrences)
    assert(!p.contains("Exchange hashpartitioning"),
      s"q198 corpus pass must not shuffle by key:\n${p.take(1200)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"q198 must not funnel the corpus to one partition:\n${p.take(1200)}")
    assert(p.contains("unigram_viterbi"),
      "q198 must run through the UnigramViterbi expression")
  }

  test("q185's composed packing uses the scan, zero source-keyed corpus windows") {
    // r11 verdict item 2: the composed pipeline must pack hot-source-
    // proof — the q151 scan shape (range partition + (pid,source) local
    // windows + broadcast offsets), with NO window partitioned on source
    // alone anywhere in the corpus-sized path (the per-source offsets
    // window runs over the tiny P×|sources| totals frame, keyed
    // hashpartitioning(source ...) AFTER the pid-keyed local pass).
    val p = plan("q185_crawl_to_training_scan")
    assert(p.contains("rangepartitioning(source"),
      "pack input must range-partition on (source, doc_id)")
    assert(p.contains("hashpartitioning(pid"),
      "local cumsum must key on (pid, source)")
    // q174's hot-source window would show as a corpus Sort+Window keyed
    // hashpartitioning(source) BELOW the pid stage; the scan variant
    // keys every corpus-sized exchange on pid or range — the only
    // source-alone hash exchange feeds the bounded offsets window
    val sourceOnly =
      "hashpartitioning\\(source[^,)]*#\\d+L?(, \\d+)?\\)".r.findAllIn(p).size
    assert(sourceOnly <= 1,
      s"expected at most the offsets window's source-keyed exchange, got $sourceOnly:\n$p")
  }

  test("q201 audits in one Expand pass: broadcast dim join, no corpus pair join") {
    // the ladder is one explode (Generate) into one (level, QI)-keyed
    // partial-aggregating count; the only corpus join is the broadcast
    // nation dimension — no sort-merge, no cartesian
    import graft.operators.Privacy
    val p = Privacy.kAnonymityAudit(Tables(spark, Sf, "customer"),
      Tables(spark, Sf, "nation"), Privacy.AnonK)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("Generate explode") || p.contains("Generate"),
      "ladder must run as one Expand-style explode pass")
    assert(p.contains("BroadcastHashJoin"),
      "nation dim must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q201 must not plan a corpus-sized join:\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "class sizes must partial-aggregate")
  }

  test("q202 audits in one Expand pass: broadcast dim join, no corpus pair join") {
    import graft.operators.Privacy
    val p = Privacy.lDiversityAudit(Tables(spark, Sf, "customer"),
      Tables(spark, Sf, "nation"), Privacy.DivL)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("Generate"), "ladder must run as one explode pass")
    assert(p.contains("BroadcastHashJoin"), "nation dim must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q202 must not plan a corpus-sized join:\n${p.take(1500)}")
  }

  test("q203 sketch-only pass: bounded partial agg, no key-partitioned corpus shuffle") {
    // the production KMV path (sketch alone, no exact legs): min-k is
    // idempotent over the raw stream, so the ONLY exchange is the
    // single-partition merge of <=k-long partials — never a shuffle
    // keyed on the token/shingle
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    val df = Sketches.kmvSynopsis(
      Sketches.tokenStream(Tables(spark, Sf, "documents"))
        .select(Sketches.h60(col("token")).as("h")))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"sketch build must not shuffle by key:\n${p.take(1200)}")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "MinKAgg must run as a partial-aggregating UDAF")
    assert(!p.contains("Join"), "sketch build must not join")
  }

  test("q204 iterates equi-joins: no cartesian, contributions partial-aggregate on dst") {
    val p = plan("q204_pagerank")
    assert(!p.contains("CartesianProduct"),
      s"pagerank must never plan a cartesian join:\n${p.take(1500)}")
    assert(p.contains("hashpartitioning(dst") || p.contains("hashpartitioning(v"),
      "iteration shuffles must key on the join/agg column")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "contribution sums must partial-aggregate")
  }

  test("q205 blocks via equi-join: broadcast dictionary, no cross join") {
    // the whole point of SymSpell: the edit-distance join is an
    // EQUI-join on the deletion variant — a cross join here means the
    // blocking silently degenerated to brute force
    val p = plan("q205_symspell_fuzzy")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q205 must not plan a pair join:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      "the dictionary side must broadcast into an equi hash join")
  }

  test("q206 folds per user: one user-keyed shuffle, no joins, no corpus windows") {
    val p = plan("q206_ewma_anomaly")
    assert(p.contains("hashpartitioning(user_id"),
      "fold must shuffle once on the user key")
    assert(!p.contains("Join"), s"q206 must not join:\n${p.take(1200)}")
    assert(!p.contains("Window"),
      "the fold rides collect_list + aggregate, not a rank window")
  }

  test("q207 registers partial-aggregate: the sketch leg never shuffles more than m rows per mapper") {
    // the register build keys on the 256-value bucket — map-side combine
    // collapses each partition to <= m rows before the exchange; the
    // only other legs are the one-row fold and the exact-count verdict
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    val df = Sketches.hllRegisters(
      Sketches.tokenStream(Tables(spark, Sf, "documents"))
        .select(Sketches.salted60("hll:", col("token")).as("h")))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      "register build must partial-aggregate max(rho)")
    assert(!p.contains("Join"), "register build must not join")
  }

  test("q200 fuses top-k legs: TakeOrdered cuts, broadcast stats/query, no pair join") {
    // both legs keep their standalone scale shapes — the sparse cut is
    // TakeOrderedAndProject (per-partition local 20, no global sort of
    // the corpus) and every corpus-sized join side is a broadcast (the
    // one-row BM25 stats, the one-vector dense query); the fusion join
    // runs over two <=20-row lists, so NOTHING corpus-sized may appear
    // in a pair join
    val p = plan("q200_rrf_hybrid")
    assert(p.contains("TakeOrderedAndProject"),
      "sparse leg must cut via TakeOrderedAndProject")
    assert(!p.contains("CartesianProduct"),
      s"q200 must not plan a cartesian corpus join:\n${p.take(1500)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "corpus-sized join sides (stats row, query vector) must broadcast")
  }

  test("q266 house DSv2 source: Catalyst pushes filters INTO the scan node, prunes columns, and the plan reads fewer units") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Footer
    // build the q266 layout once (blooms on doc_id)
    val docs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val unitRows = Footer.adaptiveUnitRows(docs.count())
    val tag = "q266_plan_" + Sf.replaceAll("[^A-Za-z0-9]", "_")
    Footer.writeUnits(docs, Seq(col("n_chars"), col("doc_id")), tag,
      unitRows, writeOptions = Map(
        "parquet.bloom.filter.enabled#doc_id" -> "true",
        "parquet.bloom.filter.expected.ndv#doc_id" -> unitRows.toString))
    val dir = System.getProperty("java.io.tmpdir") + "/graft_prune_" + tag
    val house = spark.read
      .format(classOf[graft.sources.HouseSource].getName).load(dir)
    // 1. PUSHDOWN IN THE PLAN: the translated range filter appears in
    // the scan node's own description — Catalyst handed it to the
    // source, not a Filter node above a dumb scan
    val q = house.filter(col("n_chars") >= 100L && col("n_chars") <= 199L)
      .select(col("doc_id"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("HouseScan") &&
      p.contains("GreaterThanOrEqual(n_chars,100)") &&
      p.contains("LessThanOrEqual(n_chars,199)"),
      s"pushed filters must live inside the scan node:\n${p.take(1200)}")
    // 2. COLUMN PRUNING: the scan's ReadSchema is only what the query
    // needs (doc_id + the filter column), not the 4-column table
    assert(p.contains("ReadSchema") && p.contains("doc_id") &&
      p.contains("n_chars") && !p.contains("lang"),
      s"required-column pushdown must prune the schema:\n${p.take(1200)}")
    // 3. PLAN-TIME UNIT PRUNING: the range predicate reads a strict
    // subset of units; the point lookup's bloom tightens BELOW the
    // stats bound on this scattered key (stats are blind: every unit's
    // doc_id envelope spans an interior point)
    val (total, statsBound, planned) = graft.sources.HouseSource.lastPlan
    assert(total > 1 && planned < total,
      s"range predicate must prune units ($planned/$total)")
    house.filter(col("doc_id") === 250L).select(col("source")).collect()
    val (t2, s2, p2) = graft.sources.HouseSource.lastPlan
    assert(s2 == t2, s"stats must be blind on the scattered point ($s2/$t2)")
    assert(p2 < s2, s"the bloom must tighten below the stats bound ($p2/$s2)")
    // 4. an unfiltered full read still returns every row
    assert(house.count() == docs.count())
  }

  test("statsKeep string EqualTo compares UTF-8 unsigned bytes, not UTF-16 code units (r15 ADVICE)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources.EqualTo
    import graft.operators.{Footer, HouseWriter}
    // U+FFFF's UTF-8 encoding (EF BF BF) sorts BELOW U+1F600's
    // (F0 9F 98 80) under unsigned bytes — the order the stats were
    // picked in — but its UTF-16 code unit FFFF sorts ABOVE the
    // surrogate pair D83D DE00. Under Java String ordering a unit whose
    // max is the emoji would be PRUNED for the U+FFFF probe it contains,
    // and a dropped InputPartition is unrecoverable by the residual row
    // filter: silent wrong results.
    val u = Footer.UnitStats("p", 2L, Map.empty, Map.empty,
      Map("s" -> "a"), Map("s" -> "\uD83D\uDE00"))
    assert(graft.sources.HouseSource.statsKeep(u, EqualTo("s", "\uFFFF")),
      "the in-range supplementary-plane probe must keep the unit")
    // pruning still fires in both sound directions
    assert(!graft.sources.HouseSource.statsKeep(u, EqualTo("s", "A"))) // < lo
    assert(!graft.sources.HouseSource.statsKeep(u,
      EqualTo("s", "\uD83D\uDE01"))) // U+1F601 > hi in BOTH orders
    // end to end: a house-written unit whose UTF-8 max is the emoji must
    // still surface its U+FFFF row through the DSv2 point lookup
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_statskeep_utf8")
    if (dir.exists()) dir.listFiles().foreach(_.delete())
    dir.mkdirs()
    HouseWriter.write(
      new java.io.File(dir, "part-00000-house.parquet").getPath,
      Seq(HouseWriter.LongCol("id", Seq(1L, 2L)),
        HouseWriter.StrCol("s", Seq("\uFFFF", "\uD83D\uDE00"))))
    val house = spark.read
      .format(classOf[graft.sources.HouseSource].getName).load(dir.getPath)
    assert(house.filter(col("s") === "\uFFFF").count() == 1L,
      "plan-time pruning dropped a unit that contains the queried value")
  }

  test("q267 chain3 oracle CASE mirrors the rule's greedy INCLUDING ties, for every count ordering (r15 ADVICE)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // The oracle's CASE must agree with JoinReorderRule's actual rewrite
    // on EVERY ordering of the three counts including all ties (the r15
    // red-row hazard was nc == nl <= no: the CASE said customer-first,
    // the rule's (rows, user-order index) tie-break starts lineitem).
    // Drive the REAL rule with synthetic catalogs over the real chain3
    // plan shape and compare its left-deep leaf order with a Scala
    // transliteration of the shipped SQL CASE.
    val joined = Tables(spark, Sf, "lineitem")
      .join(Tables(spark, Sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, Sf, "customer"), col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.analyzed
    def leafNames(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectLeaves().collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.head.getName.stripSuffix(".parquet")
        }
      }.mkString(",")
    for (nl <- 1L to 3L; no <- 1L to 3L; nc <- 1L to 3L) {
      val rule = graft.plans.JoinReorderRule(
        Map("lineitem" -> nl, "orders" -> no, "customer" -> nc))
      val observed = leafNames(rule(plan))
      // the shipped q267 oracle CASE, transliterated
      val expected =
        if (nl <= no && nl <= nc) "lineitem,orders,customer"
        else if (no <= nl && no <= nc) {
          if (nl <= nc) "orders,lineitem,customer"
          else "orders,customer,lineitem"
        } else "customer,orders,lineitem"
      assert(observed == expected,
        s"nl=$nl no=$no nc=$nc: rule ordered [$observed], oracle CASE says [$expected]")
    }
  }

  test("q274 selectivity-aware reorder: a selective filter on the largest table flips the advised order (r15 verdict #5)") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // end to end, executed plans: the registered query's two chains
    val out = SparkEntry.queries("q274_selectivity_reorder")(spark, Sf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("control") == "customer,orders,lineitem",
      "raw counts at the fixture must order customer first")
    assert(out("selective") == "lineitem,orders,customer",
      "the ~1% filter must flip the LARGEST table to first")
    // the estimate machinery, driven through the REAL rule with
    // synthetic catalogs over the real chain3 plan shape
    def leafNames(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectLeaves().collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.head.getName.stripSuffix(".parquet")
        }
      }.mkString(",")
    def chain(li: org.apache.spark.sql.DataFrame) = li
      .join(Tables(spark, Sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, Sf, "customer"), col("o_custkey") === col("c_custkey"))
      .queryExecution.analyzed
    val rows = Map("lineitem" -> 100L, "orders" -> 20L, "customer" -> 30L)
    val rng = Map("lineitem" -> Map("l_orderkey" -> (0L, 99L)))
    // recognized range conjunct: eff(lineitem) = 100·10/100 = 10 → first
    val filtered = chain(Tables(spark, Sf, "lineitem")
      .filter(col("l_orderkey") <= 9L))
    assert(leafNames(graft.plans.JoinReorderRule(rows, rng)(filtered)) ==
      "lineitem,orders,customer")
    // same plan, NO ranges → raw counts (abstention): orders first,
    // then customer (30) beats raw lineitem (100)
    assert(leafNames(graft.plans.JoinReorderRule(rows)(filtered)) ==
      "orders,customer,lineitem")
    // literal-on-left spelling recognized the same way
    val mirrored = chain(Tables(spark, Sf, "lineitem")
      .filter(lit(9L) >= col("l_orderkey")))
    assert(leafNames(graft.plans.JoinReorderRule(rows, rng)(mirrored)) ==
      "lineitem,orders,customer")
    // disjoint predicate → effective 0 → still first, never negative
    val disjoint = chain(Tables(spark, Sf, "lineitem")
      .filter(col("l_orderkey") <= -1L))
    assert(leafNames(graft.plans.JoinReorderRule(rows, rng)(disjoint)) ==
      "lineitem,orders,customer")
    // unrecognized shape (string compare) → factor 1 → raw order holds
    val strPred = chain(Tables(spark, Sf, "lineitem")
      .filter(col("l_returnflag") <= "m"))
    assert(leafNames(graft.plans.JoinReorderRule(rows, rng)(strPred)) ==
      "orders,customer,lineitem")
  }

  test("q277 bounded broadcast: the per-file overlap BOUND flips strategy; the uniform estimate never substitutes for it") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    // end to end, executed: the registered query's physical column
    val out = SparkEntry.queries("q277_selectivity_broadcast")(spark, Sf)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out("control") == "sort_merge",
      "inside the 4x band the raw counts must plan sort_merge")
    assert(out("bounded") == "broadcast_hash",
      "the manifest bound must flip the filtered big side to broadcast")
    // rule-level, synthetic catalogs over the real plan shape
    val rows = Map("lineitem" -> 1000L, "orders" -> 1500L) // 1.5x: raw shuffle
    val fsStats = Map("lineitem" ->
      Seq((1000L, Map("l_orderkey" -> (0L, 99L)))))
    def plan(li: org.apache.spark.sql.DataFrame) = li
      .join(Tables(spark, Sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .queryExecution.analyzed
    def leftBroadcast(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectFirst { case j: Join => j }.get.hint.leftHint
        .exists(_.strategy.contains(BROADCAST))
    val li = Tables(spark, Sf, "lineitem")
    // 1. provably-disjoint recognized filter → bound 0 → broadcast
    val disjoint = plan(li.filter(col("l_orderkey") <= -1L))
    assert(leftBroadcast(
      graft.plans.StatsBroadcastRule(rows, fsStats)(disjoint)),
      "a zero-bound side must broadcast even when raw counts say shuffle")
    // 2. same filter, NO file stats → raw count → abstain (no hint)
    assert(!leftBroadcast(graft.plans.StatsBroadcastRule(rows)(disjoint)),
      "without file stats the raw count must keep the shuffle")
    // 3. unrecognized conjunct → every file kept → raw → no hint
    val strPred = plan(li.filter(col("l_returnflag") <= "m"))
    assert(!leftBroadcast(
      graft.plans.StatsBroadcastRule(rows, fsStats)(strPred)),
      "abstention per conjunct: an unrecognized filter keeps every file")
    // 4. overlapping filter → bound = full file rows → no hint
    val overlap = plan(li.filter(col("l_orderkey") <= 50L))
    assert(!leftBroadcast(
      graft.plans.StatsBroadcastRule(rows, fsStats)(overlap)),
      "an overlapping envelope keeps the file's full row count — the " +
        "BOUND never shrinks by the uniform fraction (that would be " +
        "the unsound under-estimate)")
  }

  test("pinned join-advisor legs run on a session of their own: the caller's session never sees their pins or rules") {
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    def seen(): (Seq[Option[String]], Seq[AnyRef]) =
      (keys.map(spark.conf.getOption), spark.experimental.extraOptimizations)
    val before = seen()
    // per query: (reads, reads that differed from `before`, the first of
    // them, the session after the query)
    val runs = Seq("q252_catalyst_stats_broadcast", "q267_catalyst_join_reorder",
        "q274_selectivity_reorder", "q277_selectivity_broadcast").map { q =>
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val leg = new Thread(() =>
        try SparkEntry.queries(q)(spark, Sf).collect()
        catch { case e: Throwable => failure.set(e) })
      leg.start()
      // poll the caller's session while the query's legs plan and run
      var reads = 0
      var changed = 0
      var first = Option.empty[(Seq[Option[String]], Seq[AnyRef])]
      while (leg.isAlive) {
        val now = seen()
        reads += 1
        if (now != before) { changed += 1; if (first.isEmpty) first = Some(now) }
        Thread.sleep(1L)
      }
      leg.join()
      assert(failure.get() == null, s"$q failed: ${failure.get()}")
      q -> ((reads, changed, first, seen()))
    }
    assert(runs.forall(_._2._1 > 0), "the poll must overlap each query")
    val wrote = runs.collect { case (q, (reads, changed, first, after))
        if changed > 0 || after != before =>
      s"$q: $changed of $reads reads differed (first: $first), after: $after"
    }
    assert(wrote.isEmpty, s"the caller's session was written: ${wrote.mkString("; ")}")
  }

  test("q252 side bound: a join-free multi-leaf side (Union) is bounded by the SUM of its leaves, not the max (r16 ADVICE)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    // leaf 100 vs other 500: a SINGLE scan clears the 4x broadcast band
    // (100*4 <= 500), but a Union of two such scans can hold 200 rows —
    // 800 > 500, so the sum bound must abstain where max would have
    // (under-)broadcast the doubled side.
    val rows = Map("lineitem" -> 100L, "orders" -> 500L)
    def hinted(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectFirst { case j: Join => j }.get.hint.leftHint
        .exists(_.strategy.contains(BROADCAST))
    val li = Tables(spark, Sf, "lineitem")
    val ord = Tables(spark, Sf, "orders")
    val single = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .queryExecution.analyzed
    assert(hinted(graft.plans.StatsBroadcastRule(rows)(single)),
      "a single cataloged scan inside the 4x band must broadcast")
    val unioned = li.union(li)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .queryExecution.analyzed
    assert(!hinted(graft.plans.StatsBroadcastRule(rows)(unioned)),
      "a Union side holds up to the SUM of its leaves — max would " +
        "broadcast a too-big side, the unsafe direction")
  }

  test("r17 session-wide per-file bounds: a session-installed query flips to broadcast_hash from a multi-file manifest bound (r16 verdict #4)") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.col
    val P = graft.plans.PlannerRules
    // a catalog dir whose `documents` table IS a unit layout: single-
    // file fixture tables copied verbatim, documents written through
    // the stock house API as range-clustered units + q268 manifest
    val cat = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_catfs").getPath
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(cat))
    new java.io.File(cat).mkdirs()
    Tables.all.filter(_ != "documents").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(Sf, t + ".parquet"),
        java.nio.file.Paths.get(cat, t + ".parquet"))
    }
    Tables(spark, Sf, "documents")
      .repartitionByRange(5, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.format("house").option("rowsPerUnit", "100")
      .mode("overwrite").save(cat + "/documents.parquet")
    val mf = graft.operators.Footer.readManifest(cat + "/documents.parquet")
    assert(mf.exists(_.size >= 5), s"fixture needs >=5 unit files: $mf")
    java.nio.file.Files.deleteIfExists(P.catalogManifestPath(cat))
    P.catalogCacheClear()
    // the catalog must carry documents' per-file stats
    val cs = P.catalogStatsFor(cat)
    assert(cs.fileStats.get("documents").exists(_.size >= 5),
      "a cataloged unit layout must surface per-file envelopes")
    assert(cs.fileStats.keySet == Set("documents"),
      "single-file fixture tables must stay at table-level degeneration")
    // session install: NO extraOptimizations anywhere — the one conf
    // key + the one extensions entry point, the production path
    val byName = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.graft.catalogDir", cat)
        .withExtensions(byName)
        .getOrCreate()
      def join(docs: org.apache.spark.sql.DataFrame) = docs
        .join(Tables(s2, cat, "orders"), col("doc_id") === col("o_orderkey"))
        .groupBy().count()
      // CONTROL: raw counts (500 vs 1500) are inside the 4x band on
      // both sides -> no hint, shuffle join
      val control = join(Tables(s2, cat, "documents"))
      control.head()
      assert(!control.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "raw catalog counts must abstain inside the 4x band")
      // BOUNDED: a first-unit filter survives one ~100-row file in the
      // manifest -> bound 100, 100*4 <= 1500 -> broadcast_hash, from
      // the SESSION install alone
      val cut = Tables(s2, cat, "documents")
        .agg(org.apache.spark.sql.functions.min(col("doc_id")))
        .head().getLong(0) + 49L
      val bounded = join(Tables(s2, cat, "documents")
        .filter(col("doc_id") <= cut))
      bounded.head()
      assert(bounded.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "the session-installed per-file manifest bound must flip the " +
          "filtered side to broadcast_hash:\n" +
          bounded.queryExecution.executedPlan.toString.take(1200))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("q275 catalog manifest: warm resolution opens zero footers; a stale manifest falls back to the walk (r15 verdict #6)") {
    import graft.operators.Footer
    val P = graft.plans.PlannerRules
    java.nio.file.Files.deleteIfExists(P.catalogManifestPath(Sf))
    P.catalogCacheClear()
    val cold = P.catalogStatsFor(Sf) // walks footers, writes the manifest
    P.catalogCacheClear()            // expose the PERSISTED path
    val r1 = Footer.footerReads.get()
    assert(P.catalogStatsFor(Sf) == cold,
      "the manifest-resolved catalog must equal the walked one")
    assert(Footer.footerReads.get() == r1,
      "warm catalog resolution must open zero footers")
    // STALE: tamper one table's recorded file set → the walk must run
    val mp = P.catalogManifestPath(Sf)
    val tampered = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .linesIterator.zipWithIndex.map { case (ln, i) =>
        if (i == 0) {
          val p = ln.split("\t", -1); p(2) = "gone:0"; p.mkString("\t")
        } else ln
      }.mkString("\n") + "\n"
    java.nio.file.Files.write(mp, tampered.getBytes("UTF-8"))
    P.catalogCacheClear()
    val r2 = Footer.footerReads.get()
    assert(P.catalogStatsFor(Sf) == cold,
      "the fallback walk must restore catalog truth")
    assert(Footer.footerReads.get() > r2,
      "a stale manifest must force the footer walk, never be trusted")
  }
}
