package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession.{checksum, medianOf, sample}

/** Scaling-curve harness for the dedup/ANN tier: times q42/q46/q58/q49/
  * q59 on the base corpus and on a synthetic FACTOR× blow-up, so the
  * caps' "linear at scale" claim is a measured slope, not an argument
  * (results recorded in BASELINE.md).
  *
  * The blow-up preserves workload SHAPE, not just row count:
  *  - documents: each copy k suffixes every word with "~k", so the
  *    shingle universes of different copies are disjoint — per-shingle
  *    document frequency, near-dup cluster sizes, and dup density all
  *    match the base corpus exactly; a naive row copy would instead turn
  *    every document into a FACTOR-clone near-dup cluster and measure a
  *    different (quadratic-in-FACTOR) problem.
  *  - embeddings: each copy is direction-perturbed with a deterministic
  *    per-copy, per-coordinate offset (plain duplication would pin
  *    cosine(copy, original) = 1.0 and distort the ANN bucket/cell
  *    geometry).
  *
  * q59 runs at 10× twice: with the base K=16 quantizer (fixed K makes
  * IVF probe work n²/K — the measured superlinear growth is the POINT)
  * and with K scaled ∝ n (constant cell size — the deploy policy that
  * restores the linear slope).
  */
object ScalingBench {
  private val Factor = 10

  def main(args: Array[String]): Unit = GraftSession.main { spark =>
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir =
      if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val cpus = spark.sparkContext.defaultParallelism
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt

    // ---- build the blown-up corpus (untimed, overwritten each run) ----
    val docs = Tables(spark, baseDir, "documents")
    (0 until Factor).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * 100000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(w, lit(s"~$k")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$workDir/documents.parquet")

    val emb = Tables(spark, baseDir, "embeddings")
    (0 until Factor).map { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + lit(k * 100000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + sin((col("vec_id") * lit(31) + i * lit(7) + lit(k)))
            * lit(0.3)).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$workDir/embeddings.parquet")

    // customer (q201): quasi-identifier columns copied VERBATIM — every
    // equivalence class keeps its count and grows 10× in size, which is
    // how a real release scales (a perturbed copy would instead create
    // fresh classes and measure a different, artificially-fine audit);
    // the nation dimension rides along unchanged (dims don't scale)
    val cust = Tables(spark, baseDir, "customer")
    (0 until Factor).map { k =>
      if (k == 0) cust
      else cust.select((col("c_custkey") + lit(k * 100000000L)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$workDir/customer.parquet")
    Tables(spark, baseDir, "nation")
      .write.mode("overwrite").parquet(s"$workDir/nation.parquet")

    // events (q206): each copy shifts user_id and event_id — 10× users,
    // every user's event history byte-identical to a base user's, so
    // per-user fold work is preserved and only the user count scales
    // (ts written as TimestampType; Tables.normalizeEventsTs passes it
    // through on read)
    val ev = Tables(spark, baseDir, "events")
    (0 until Factor).map { k =>
      if (k == 0) ev
      else ev.select((col("event_id") + lit(k * 100000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 100000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$workDir/events.parquet")

    // ---- timing: median-of-N checksum consumer (same as Bench); None
    // when a sample fails, printed as "failed" ----
    def time(fn: => DataFrame): Option[Double] = medianOf(samples) {
      // scaling curves measure BUILDS: drop the session audit memos so a
      // memoized registration (q201/q202/q214/q222/q223/q225) can't turn
      // samples 2..n into checkpoint reads and fake a flat curve
      CachePool.memoClear()
      sample(fn)(checksum)
    }

    val tier = Seq("q42_exact_dedup", "q46_minhash_neardup",
      "q58_ngram_jaccard", "q49_ann_lsh", "q59_ann_ivf",
      "q90_dup_spans", "q91_kmeans_clusters",
      "q95_top_ngrams", "q97_chunk_dedup", "q101_containment",
      "q109_knn_label", "q113_semantic_dedup",
      "q133_token_budget", "q135_leakage_safe_split",
      "q136_priority_collapse", "q137_source_drift", "q138_quality_gate",
      "q139_semantic_decon", "q140_hard_negatives",
      "q141_cluster_outlier_prune", "q142_perplexity_buckets",
      "q144_cross_dump_neardup", "q146_global_token_budget",
      "q147_source_budget_scalable", "q148_quality_gate_scalable",
      "q149_temperature_mix_scalable", "q151_pack_sequences_scalable",
      "q158_decontaminate_bloom", "q159_dupspan_scrub",
      "q166_bpe_train", "q167_bpe_tokenize", "q169_warc_extract",
      "q170_pq_encode", "q171_pq_adc_topk",
      "q177_residual_ivfpq", "q178_bpe_tokenize_vocab",
      "q179_dupspan_scrub_sa", "q181_vocab_export", "q183_corpus_manifest",
      "q186_dedup_state_incremental", "q187_quantized_video",
      "q188_vocab_incremental", "q189_raw_tag_append",
      "q190_neardup_incremental", "q191_motion_video",
      "q192_ivf_state_incremental", "q193_epoch_shuffle",
      "q194_block_motion_video", "q195_release_point_fix",
      "q196_full_pframe_video", "q197_schema_drift_profile",
      "q198_unigram_viterbi", "q199_countmin_heavy", "q200_rrf_hybrid",
      "q201_k_anonymity", "q202_l_diversity", "q203_kmv_theta",
      "q204_pagerank", "q205_symspell_fuzzy", "q206_ewma_anomaly",
      "q207_hll_exact", "q208_hits_bipartite", "q209_proximity_rerank",
      "q210_csv_roundtrip", "q211_url_canonicalize",
      "q212_robots_eval", "q214_t_closeness", "q215_wordpiece",
      "q216_image_neardup", "q217_boilerplate_extract", "q218_scene_cuts",
      "q219_audio_neardup", "q220_webdataset_tar", "q221_hrw_reshard",
      "q222_contamination_score", "q223_merge_compaction",
      "q224_frontier_schedule", "q225_erasure_parity",
      "q226_batch_packing_audit", "q227_fim_transform",
      "q228_time_travel", "q229_release_audit_card", "q230_image_resize",
      "q231_homoglyph_dedup", "q232_blocklist_scan",
      "q234_encoding_advisor", "q235_image_cluster_sparse",
      "q236_optimistic_commit", "q237_unigram_em_train",
      "q238_layout_pruning_advisor", "q240_stats_catalog_ivm",
      "q241_change_feed", "q242_ngram_jaccard_recovered",
      "q244_table_debt_census", "q245_pruned_scan",
      "q246_audio_cluster_collapse", "q247_compaction_scheduler",
      "q250_scheduled_vacuum", "q251_zorder_pruned_scan",
      "q256_bloom_pruned_scan", "q259_house_scan",
      "q260_pushdown_house_scan", "q263_distributed_clustered_write",
      "q266_house_dsv2_source", "q268_manifest_planned_scan",
      "q272_distributed_house_write",
      "q276_house_dsv2_write",
      "q278_dsv2_list_write", "q279_house_snapshot_read")
    // q264/q265/q269/q270 (house-writer probes) are NOT in the tier,
    // for the q239/q249 reason verbatim: single-file driver-side byte
    // kernels, linear in bytes by construction — their DISTRIBUTED
    // compositions are q259/q260/q266, which ARE in the tier. q270
    // additionally collects the dimension-bounded documents table as
    // the per-unit write input (the q262 probe stance).
    // q267 (catalyst join reorder) is NOT in the tier, for q248's
    // chain-table reason verbatim: the blown corpus ships only
    // documents/embeddings/customer/nation/events, and the rule itself
    // is O(plan nodes) driver work; its actual legs are plain joins
    // whose scaling the join rows already record.
    // q256 joins the tier: adaptive units keep the file count constant,
    // the bloom NDV hint tracks the unit size, and a point lookup's
    // resolving power (1 containing unit) is scale-independent — the
    // row measures write+bloom-probe+scan growth.
    // q254 (dictionary pruning) is NOT in the tier: its resolving power
    // is INTRINSICALLY tied to small units (a 128-row unit misses ~28%
    // of a 100-value domain; a scale-honest 62k-row unit misses none),
    // so a 10× run measures only the fixed-128-row layout write — the
    // file-creation cost q245's row already prices. The operator's own
    // work (one ≤800-byte dictionary page per unit) is trivially linear
    // in unit count.
    // q252 (catalyst stats broadcast) is NOT in the tier, for q248's
    // reason verbatim: the blown corpus lacks the chain tables and its
    // actual legs are the plain joins whose scaling the join rows
    // already record; the rule itself is O(plan nodes) driver work.
    // q253/q255/q257/q258 (compressed/v2 page decode, page-index
    // pruning, list decode) are NOT in the tier, for the q239/q249
    // reason: single-file driver-side byte probes, linear in bytes by
    // construction; the blown corpus' Spark-written directory layout
    // isn't the probe's single-file shape. Their DISTRIBUTED composition
    // is q259, which IS in the tier.
    // q251 at 10x: the blown events' shifted user ids exceed the
    // ZOrderBits=12 interleave width, so the z-layout degenerates
    // toward 1-D for the copies — pruning EFFECTIVENESS shrinks but the
    // in-plan pruned==full guard keeps correctness; the row measures
    // the write+plan+scan cost curve, not the (fixture-degraded) skip
    // ratio.
    // q248 (join advisor) is NOT in the tier, for the q239/q243 reason
    // plus one of its own: the blow-up ships only documents/embeddings/
    // customer/nation/events (the advisor's chain tables aren't blown),
    // and the key-shifted customer copies (min 0, max 9e8+n) make
    // c_custkey provably NOT dense-unique — q248's correct behavior
    // there is its loud model refusal, which is a contract, not a
    // curve. Its estimation leg is footer reads (linear in file count,
    // the q239 argument); its actual leg is plain broadcast/shuffle
    // joins whose scaling the join rows already record.
    // q239 (parquet footer stats) and q243 (writer-choice audit, which
    // reads the documents footer) are NOT in the tier: the blown corpus
    // is Spark-written part-file DIRECTORIES, not the single-file layout
    // the driver testdata ships, and footer reading is trivially linear
    // in file count regardless (one ranged tail-read per file, zero data
    // pages — the operator's whole point). q243's corpus leg is q234's
    // pass, whose curve the q234 row already records.
    // q233 (pair-stream image cluster collapse) is deliberately NOT in
    // the 10× tier: the blow-up lands 10× docs in the same 11 planted
    // groups, so the pair stream densifies quadratically (~113M edges
    // over 50k vertices — measured SparkOutOfMemory in the contraction's
    // localCheckpoint at this harness's heap). That is the FIXTURE's
    // pathology amplifying the operator's real caveat; q235 is the scale
    // tier that retires it — distinct-signature sparsification keeps the
    // edge list linear under the same densification (10× docs collapse
    // onto the SAME distinct signatures), so q235 runs the 10× row q233
    // cannot. At base sf0.1 (≈1.1M pairs) q233 runs and is benched
    // normally.
    // q272 (distributed HOUSE write) joins the tier beside q263: same
    // exact-rank clustered shape, but the write stage runs the house
    // kernel per task — the row measures shuffle+rank+per-task-encode
    // growth (adaptive units keep the file count constant).
    // q276 (DSv2 house write) joins the tier: the stock write path's
    // per-task kernels cut adaptive-size files, so the row measures
    // shuffle+encode growth at constant file count per task.
    // q273 (house list scan) is NOT in the tier, for q271's single-file
    // reason verbatim: a driver-probe byte kernel writes the one list
    // file and the scan decodes it linearly; its DISTRIBUTED scan
    // composition is q259/q266, which ARE in the tier.
    // q274 (selectivity reorder) is NOT in the tier, for q267's reason
    // verbatim: O(plan nodes) driver work over chain tables the blown
    // corpus doesn't ship; its actual legs are plain joins whose
    // scaling the join rows already record.
    // q275 (catalog manifest) is NOT in the tier, for q239's reason
    // verbatim: footer/manifest reads are ranged tail-reads linear in
    // file count, zero data pages — and the warm path's whole claim is
    // ZERO opens, which has no curve to measure.
    // q278 (stock-API list write, r17) joins the tier beside q276: the
    // per-task Dremel list kernels cut adaptive-size files, so the row
    // measures shuffle + level-stream-encode growth at constant file
    // count per task (the q271 linear-encode pin guards the kernel).
    // q279 (snapshot reads, r17) joins the tier: three commits + four
    // manifest-resolved reads — the row measures write growth plus the
    // constant-cost claim of manifest-gated planning (membership is a
    // TSV read, never a footer walk, at any corpus size).
    // Targeted iteration: SPARK_GRAFT_SCALING_ONLY=q49 times only the
    // tier rows (and counterfactuals) whose name starts with one of the
    // given prefixes — the dev loop for re-measuring one curve; full
    // runs stay the default.
    val sel = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
      case Some(ps) => tier.filter(q => ps.exists(q.startsWith))
      case None     => tier
    }
    val base = sel.map(q => q -> time(SparkEntry.queries(q)(spark, baseDir)))
    val blown = sel.map(q => q -> time(SparkEntry.queries(q)(spark, workDir)))
    // Since r6 the REGISTERED q49/q59 entries run the scale policies
    // (width ∝ log n, K = √n), so the `blown` rows above measure the
    // deployable plans; the pinned small-corpus parameters are kept here
    // as the superlinear COUNTERFACTUALS the policies retire.
    val lshFixed16 = if (sel.contains("q49_ann_lsh"))
      Some(time(graft.operators.Similarity.annLsh(
        Tables(spark, workDir, "embeddings"), bits = 16)))
    else None
    val ivfFixed16 = if (sel.contains("q59_ann_ivf"))
      Some(time(graft.operators.Similarity.ivfTop1(
        Tables(spark, workDir, "embeddings"), numCentroids = 16)))
    else None
    // the SemDeDup scale policy: cluster count grown with n => constant
    // cluster size => constant per-cluster pair work (fixed k=8 at 10x
    // measures the superlinear within-cluster blowup instead)
    val semScaledK = if (sel.contains("q113_semantic_dedup"))
      Some(time(graft.operators.Similarity.semanticDedup(
        Tables(spark, workDir, "embeddings"), k = 8 * Factor)))
    else None
    // q139/q140 deployment shape: the registered entries' md5-gated
    // benchmark/anchor sets grow WITH the fixture (both sides 10× =>
    // ~100× pair work — that superlinear `blown` row is the gate
    // artifact, not the operator). In deployment the benchmark and the
    // per-batch anchor set are FIXED-size, so the true curve is linear
    // in the corpus: measured here by probing the blown corpus against
    // the BASE corpus's gated set.
    val deconFixedBench = if (sel.contains("q139_semantic_decon"))
      Some(time({
        val base = graft.operators.Similarity.deconStage(
          Tables(spark, baseDir, "embeddings"))
        val blown = graft.operators.Similarity.deconStage(
          Tables(spark, workDir, "embeddings"))
        graft.operators.Similarity.deconProbe(
          blown.filter(!col("is_bench")),
          base.filter(col("is_bench"))
            .select(col("vec_id").as("b_id"), col("qvec").as("b_qvec"),
              col("n2").as("bb")))
      }))
    else None
    // q133-vs-q147 skew counterfactual: collapse the blown corpus to ONE
    // source. q133's source-keyed cumulative window then runs its whole
    // input on one reducer; q147's class-keyed windows keep spreading.
    // Both are timed on the identical one-source corpus so the delta is
    // purely the plan shape.
    val budgetSkew = if (sel.contains("q133_token_budget") ||
        sel.contains("q147_source_budget_scalable")) {
      val skewDir = s"$workDir-skew"
      spark.read.parquet(s"$workDir/documents.parquet")
        .withColumn("source", lit("src_hot"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
      Seq(
        "skew1src_q133" ->
          time(SparkEntry.queries("q133_token_budget")(spark, skewDir)),
        "skew1src_q147" ->
          time(SparkEntry.queries("q147_source_budget_scalable")(spark, skewDir)))
    } else Nil
    // r9: the shared near-dup components build (q76/q87/q135/q136 reuse it
    // via NearDupCache, so their own rows measure the CONSUMER cost; this
    // row times one full un-memoized pipeline build) — plus the
    // star-contraction ROUND count at both scales, so the r8 verdict's
    // "rounds independent of diameter" claim is a measured number.
    def componentsBuild(dir: String): (Option[Double], Int) = {
      var rounds = 0
      val t = medianOf(samples)(sample {
        val (labels, r) = graft.operators.Dedup.connectedComponentsWithRounds(
          graft.operators.Dedup.minhashNearDupPairs(
            graft.operators.Dedup.shingled(
              graft.operators.Dedup.spreadIfUnderSplit(
                Tables(spark, dir, "documents")))
              .filter(size(col("sh")) > 0)),
          assumeCanonical = true) // same flag the production builder passes
        rounds = r
        labels
      }(checksum))
      (t, rounds)
    }
    val compCurve = if (sys.env.get("SPARK_GRAFT_SCALING_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .forall(ps => ps.exists("components".startsWith)))
      Some((componentsBuild(baseDir), componentsBuild(workDir)))
    else None

    // q171 deployment shape: the probe set is the QUERY WORKLOAD —
    // fixed-size while the corpus grows. The registered md5 gate selects
    // ~3% of vec_ids, so the blown row carries 10× probes × 10× corpus
    // (~100× ADC pairs — a gate artifact, q139's pattern); the true
    // curve probes the blown corpus with only the BASE corpus's gated
    // ids (codebooks still trained on the blown corpus).
    val adcFixedProbes = if (sel.contains("q171_pq_adc_topk"))
      Some(time({
        // track() matters: the registered path caches the quantized
        // frame, and the 4×Iters training passes re-read it — an
        // uncached frame here times parquet re-scans, not ADC (first
        // measurement: 8.3 s vs the registered 3.2 s for LESS work)
        val blownBase = CachePool.track(
          graft.operators.Similarity.withQuantized(
            Tables(spark, workDir, "embeddings")))
        val books = graft.operators.Pq.trainSubs(blownBase)
        graft.operators.Pq.adcTopk(blownBase, books,
          graft.operators.Pq.probeGateCol && col("vec_id") < 100000000L)
      }))
    else None

    val hnegFixedAnchors = if (sel.contains("q140_hard_negatives"))
      Some(time({
        val base = graft.operators.Similarity.labeledQvecs(
          Tables(spark, baseDir, "embeddings"))
        val blown = graft.operators.Similarity.labeledQvecs(
          Tables(spark, workDir, "embeddings"))
        graft.operators.Similarity.hardNegProbe(blown,
          base.filter(substring(md5(concat(lit("hneg:"),
            col("vec_id").cast("string"))), 1, 2) >= "e6")
            .select(col("vec_id").as("a_id"), col("label").as("a_label"),
              col("qvec").as("a_vec")))
      }))
    else None

    def v(t: Option[Double]): String = t.fold("\"failed\"")(_.toString)
    def kvs(ts: Seq[(String, Option[Double])]): Seq[String] =
      ts.map { case (k, t) => "\"" + k + "\":" + v(t) }
    def js(ts: Seq[(String, Option[Double])]): String = kvs(ts).mkString("{", ",", "}")
    def fields(ts: Seq[(String, Option[Double])]): String = kvs(ts).map(_ + ",").mkString
    println(s"""{"metric":"scaling","factor":$Factor,"base":${js(base)},""" +
      s""""blown":${js(blown)},""" +
      fields(lshFixed16.map("blown_q49_fixed16" -> _).toSeq ++
        ivfFixed16.map("blown_q59_fixed_k16" -> _) ++
        semScaledK.map("blown_q113_scaled_k" -> _) ++
        deconFixedBench.map("blown_q139_fixed_bench" -> _) ++
        hnegFixedAnchors.map("blown_q140_fixed_anchors" -> _) ++
        adcFixedProbes.map("blown_q171_fixed_probes" -> _)) +
      compCurve.map { case ((tb, rb), (tx, rx)) =>
        s""""components_base":${v(tb)},"components_blown":${v(tx)},""" +
        s""""components_rounds_base":$rb,"components_rounds_blown":$rx,"""
      }.getOrElse("") +
      fields(budgetSkew) +
      s""""samples":$samples,"base_dir":"$baseDir"}""")
  }
}
