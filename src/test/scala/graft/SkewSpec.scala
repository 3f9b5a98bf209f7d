package graft

import org.apache.spark.sql.functions._

/** Skew guards: AQE's runtime skew split on the engine's join shapes,
  * and the caps that keep hot buckets, clusters and ties of the batch
  * dedup/ANN operators from going quadratic.
  */
class SkewSpec extends SparkSpec {

  test("AQE skew join: q10's SMJ splits the hot key and matches the unsplit result") {
    import spark.implicits._
    // r8 verdict item 5: Spark's OWN runtime skew split on the engine's
    // q10 join shape — the mechanism a 100 TB run leans on first, before
    // any hand salting.
    val dir = java.nio.file.Files.createTempDirectory("graft-skewaqe-").toString
    // one hot order owns 30k lineitems (non-sequential linenumbers so the
    // shuffle blocks don't compress away), the other 49 are tiny
    val hot = (1 to 30000).map(i => (1L, i.toLong * 2654435761L % 1000000L))
    val cold = for (k <- 2L to 50L; i <- 1 to 10) yield (k, i.toLong)
    (hot ++ cold).toDF("l_orderkey", "l_linenumber")
      .repartition(4)
      .write.parquet(s"$dir/lineitem.parquet")
    (1L to 50L).map(k => (k, k * 10.0, "O"))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.parquet(s"$dir/orders.parquet")
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      // q10 ends in a presentation sort whose range shuffle would veto
      // the split under AQE's no-extra-shuffle heuristic; force records
      // that the split is worth it (the sort re-shuffles regardless)
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val skewed = SparkEntry.queries("q10_sortmerge_join")(spark, dir)
      skewed.collect()
      val p = skewed.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected the AQE skew-split SMJ node, got:\n${p.linesIterator.take(30).mkString("\n")}")
      // semantics: the split must change nothing vs the plain SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val plain = SparkEntry.queries("q10_sortmerge_join")(spark, dir)
      assert(plain.count() == 30000L + 49L * 10L)
      assert(skewed.exceptAll(plain).count() == 0)
      assert(plain.exceptAll(skewed).count() == 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q58 stop-shingle cap: a universal shingle cannot go quadratic") {
    import spark.implicits._
    import graft.operators.Dedup
    // hot = 0 sits first in the global (ascending-hash) order, so it is
    // inside every doc's candidate prefix — the worst case for skew.
    val hot = 0L
    // 200 docs share ONE universal (stop) shingle; each also has 3 unique
    // shingles. One planted near-dup of doc 1 shares all of doc 1's set.
    val base = (1 to 200).map(i =>
      (i.toLong, Seq(hot, i * 10L + 1, i * 10L + 2, i * 10L + 3)))
    val docs = (base :+ ((9001L, Seq(hot, 11L, 12L, 13L))))
      .toDF("doc_id", "sh")
    // candidates may repeat per shared shingle — dedup for counting
    val uncapped = Dedup.ngramCandidates(docs, maxDf = 1000000)
      .distinct().count()
    val capped = Dedup.ngramCandidates(docs, maxDf = 64).distinct().count()
    // without the cap the hot shingle alone yields all-pairs
    assert(uncapped >= 200L * 199 / 2)
    // with it, only the planted pair (sharing sub-cap shingles) survives
    assert(capped == 1)
    // exactness: Jaccard is still computed over FULL sets (incl. the hot
    // shingle), and the true pair is found
    val pairs = Dedup.ngramJaccardPairs(docs, maxDf = 64, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 9001L)))
  }

  test("q58 hot smallest-common shingle: pair still recalled via a later sub-cap collision") {
    import spark.implicits._
    import graft.operators.Dedup
    // The pair's SMALLEST common shingle (0) is hot — dropped by the df
    // cap — so its surviving collision is a later element (100), where
    // common-before-the-collision elements exist. The tight textbook
    // positional bound 1 + min(n−p) (valid only at the smallest common
    // element) reads 3 < 4 here and would wrongly prune the pair; the
    // any-collision-valid bound min(pa,pb) + min(na−pa, nb−pb) reads
    // 4 ≥ 4 and keeps it. J = |{0,100,101,102}| / 8 = 0.5, exactly τ.
    val fillers = (1 to 200).map(i => (1000L + i, Seq(0L, 10000L + i)))
    val a = (1L, Seq(0L, 100L, 101L, 102L, 500L, 501L))
    val b = (2L, Seq(0L, 50L, 51L, 100L, 101L, 102L))
    val docs = (fillers :+ a :+ b).toDF("doc_id", "sh")
    val pairs = Dedup.ngramJaccardPairs(docs, maxDf = 64, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("q58 df-cap recall loss MEASURED: the hot-only pair is the exact miss set") {
    import spark.implicits._
    import graft.operators.Dedup
    // The documented residual loss, finally EXERCISED (the eval corpus
    // cannot fire it: max df 25 vs cap 128). Planted truth, cap = 64:
    //  - shingles 0 and 1 are HOT (150 fillers carry both; filler pairs
    //    sit at J = 2/6 and filler-vs-planted at <= 2/5, all below tau);
    //  - HOT-ONLY pair (1, 2): {0,1,2} vs {0,1,3}, J = 2/4 = tau crossed
    //    ONLY by hot shingles -> both prefixes are all-hot, the pair has
    //    no surviving collision, and the cap MUST miss it;
    //  - SUB-CAP pair (3, 4): {100..103} vs {100,101,102,104}, J = 3/5 —
    //    untouched by the cap;
    //  - HOT-RESCUED pair (5, 6): {0,300,301} vs {0,300,302}, J = 2/4 —
    //    smallest common shingle hot, rescued via sub-cap 300 in both
    //    prefixes (the hp-slack path the test above pins).
    // Miss rate on this truth: 1/3 of true pairs, exactly the hot-only
    // one — recorded at the q58 registration caveat in Dedup.scala.
    val fillers = (1 to 150).map(i =>
      (1000L + i, Seq(0L, 1L, 20000L + 2 * i, 20001L + 2 * i)))
    val planted = Seq(
      (1L, Seq(0L, 1L, 2L)), (2L, Seq(0L, 1L, 3L)),
      (3L, Seq(100L, 101L, 102L, 103L)), (4L, Seq(100L, 101L, 102L, 104L)),
      (5L, Seq(0L, 300L, 301L)), (6L, Seq(0L, 300L, 302L)))
    val docs = (fillers ++ planted).toDF("doc_id", "sh")
    def pairsAt(maxDf: Int): Set[(Long, Long)] =
      Dedup.ngramJaccardPairs(docs, maxDf = maxDf, tau = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairsAt(1000000) // uncapped = ground truth on a toy corpus
    assert(truth == Set((1L, 2L), (3L, 4L), (5L, 6L)),
      s"planted truth drifted: $truth")
    val capped = pairsAt(64)
    assert(capped == Set((3L, 4L), (5L, 6L)),
      s"the cap must miss exactly the hot-only pair, got $capped")
    val missRate = (truth -- capped).size.toDouble / truth.size
    assert(missRate == 1.0 / 3,
      f"measured miss rate drifted: $missRate%.3f (miss set ${truth -- capped})")
    // q242's RECOVERY tier closes the measured miss on this corpus: docs
    // 1 and 2 share their whole hot set {0, 1}, so the hot-set bucket
    // reunites them and full-set verification confirms the pair — the
    // boilerplate-mass class the tier exists for. Full truth restored.
    val recovered = Dedup.ngramJaccardWithHotRecovery(docs, maxDf = 64,
      tau = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recovered == truth,
      s"recovery must restore the measured miss, got $recovered")
    // bounded-recovery contract: with the bucket cap below the 152-doc
    // hot-set bucket, the bucket is surrendered whole and the hot-only
    // pair stays missed — LOUDLY documented partial recovery, never a
    // quadratic blow-up
    val cappedOut = Dedup.ngramJaccardWithHotRecovery(docs, maxDf = 64,
      tau = 0.5, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedOut == Set((3L, 4L), (5L, 6L)),
      "an over-cap hot bucket must be surrendered, not exploded")
  }

  test("q46 LSH bucket cap: a clone army cannot go quadratic") {
    import spark.implicits._
    import graft.operators.Dedup
    // 300 docs colliding in one (band, bh) bucket — the all-32-bands
    // signature of mass duplicates — plus one honest 2-doc bucket.
    val rows = (1 to 300).map(i => (i.toLong, 0, 42L)) ++
      Seq((500L, 1, 7L), (501L, 1, 7L))
    val bands = rows.toDF("doc_id", "band", "bh")
    val capped = Dedup.bandedCandidates(bands, maxBucket = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped == Seq((500L, 501L)))
    // uncapped sanity: the same helper would otherwise emit the full
    // quadratic pair set
    assert(Dedup.bandedCandidates(bands, maxBucket = 1000000).count() ==
      300L * 299 / 2 + 1)
  }

  test("AQE skew-join splits a hot partition (the no-code-change skew path)") {
    import spark.implicits._
    // one hot key carrying ~100k rows vs 1k cold keys — with the skew
    // thresholds lowered to fixture scale, AQE must split the hot
    // partition at runtime (plan shows 'skew=true' on the SMJ)
    val facts = ((1 to 100000).map(_ => 7L) ++ (1 to 1000).map(_.toLong + 100))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val dim = (1 to 2000).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = facts.join(dim, "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n${p.take(1500)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salt spreads a hot key across buckets") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (42L, i.toLong)).toDF("k", "id")
    val salted = big.withColumn("_salt",
      pmod(xxhash64(col("id")), lit(8L)))
    val buckets = salted.groupBy("_salt").count().collect()
    assert(buckets.length == 8) // hot key now occupies every reducer bucket
    assert(buckets.map(_.getLong(1)).max < 1000)
  }

  test("SemDeDup head cap: a degenerate one-cluster corpus stays linear, not quadratic") {
    import spark.implicits._
    import graft.operators.Similarity
    // the adversarial case the cap exists for: an embedding-job failure
    // emits IDENTICAL vectors — k-means collapses everything into one
    // cluster (ties break to cluster 0) and an uncapped pair join would
    // be n²/2. n chosen > MaxClusterHead so the cap is actually active.
    val n = 600
    val emb = (0 until n)
      .map(i => (i.toLong, Array.fill(8)(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.semanticDedup(emb, k = 4).collect()
    assert(rows.length == n)
    // cos(identical, identical) = 1 ≥ τ: only the global min id survives
    assert(rows.count(_.getLong(2) == 1L) == 1)
    assert(rows.find(_.getLong(0) == 0L).get.getLong(2) == 1L)
    // fanout is capped: nobody can have more dominators than the head set
    val maxDom = rows.map(_.getLong(3)).max
    assert(maxDom == Similarity.MaxClusterHead.toLong,
      s"deepest row should see exactly the full head set, got $maxDom")
    // and a row inside the head region sees exactly its rank's dominators
    assert(rows.find(_.getLong(0) == 10L).get.getLong(3) == 10L)
  }

  test("q49 bucket head cap: an identical-vectors corpus probes only the head set") {
    import spark.implicits._
    import graft.operators.Similarity
    // same adversarial shape as SemDeDup's: identical embeddings collapse
    // every row into ONE sign-LSH bucket, where the uncapped self-join is
    // n² pairs. n > MaxBucketHead so the cap is active.
    val n = 600
    val emb = (0 until n)
      .map(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val res = Similarity.annLsh(emb, bits = 12)
    val rows = res.collect()
    // every vector still finds a neighbor (heads are probed by ALL rows,
    // capped or not)...
    assert(rows.length == n)
    // ...and with all cosines = 1 the (cos DESC, b_id ASC) winner is the
    // lowest OTHER id — the cap changes no answer, only the fanout
    assert(rows.filter(_.getLong(0) != 0L).forall(_.getLong(1) == 0L))
    assert(rows.find(_.getLong(0) == 0L).get.getLong(1) == 1L)
    // structural pin: the probe side of the join is the TopKAgg-bounded
    // head set, not the raw bucket
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("topkagg"),
      s"expected the bounded head-set aggregate in the plan:\n${plan.take(1500)}")
  }

  test("q144 bucket cap: a corpus clone army is surrendered whole, a small clone set matches") {
    import spark.implicits._
    import graft.operators.Dedup
    // identical shingle sets collide on EVERY band bucket. A corpus
    // clone army past MaxLshBucket fills each bucket beyond the cap and
    // the buckets are dropped whole (the q46 surrender stance — a
    // >cap template cluster is a clustering problem, not a pairwise
    // one), so candidate fanout stays bounded no matter how degenerate
    // the corpus; a small clone set stays under the cap and matches.
    val sh = (1L to 10L).toArray
    val newDoc = Seq((1000000L, sh)).toDF("doc_id", "sh")
    val army = (0 until 600).map(i => (i.toLong, sh)).toDF("doc_id", "sh")
    assert(Dedup.crossDumpNearDup(newDoc, army).collect().isEmpty,
      "buckets past the cap must be dropped whole")
    val few = (0 until 50).map(i => (i.toLong, sh)).toDF("doc_id", "sh")
    val rows = Dedup.crossDumpNearDup(newDoc, few).collect()
    assert(rows.length == 1 &&
      rows.head.getLong(1) == 50L && rows.head.getLong(2) == 0L,
      "under the cap, all 50 clones match and the first match is doc 0")
  }

  test("q140 tie storm: identical vectors rank negatives purely by id") {
    import spark.implicits._
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    // the all-ties adversarial case: every dot is equal, so the
    // (dot DESC, id ASC) tie-break IS the entire order — each anchor's
    // top-3 must be exactly the 3 lowest different-label ids, and the
    // TopKAgg buffer stays bounded no matter how degenerate the corpus
    val n = 300
    val emb = (0 until n)
      .map(i => (i.toLong, Array.fill(8)(1.0f), i % 3))
      .toDF("vec_id", "embedding", "label")
    val q = Similarity.labeledQvecs(emb)
    val anchors = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("qvec").as("a_vec"))
    val rows = Similarity.hardNegProbe(q, anchors).collect()
    assert(rows.length == 15, "5 anchors x 3 negatives each")
    rows.groupBy(_.getLong(0)).foreach { case (aId, rs) =>
      val expected = (0 until n).map(_.toLong)
        .filter(i => i % 3 != aId % 3).take(3)
      assert(rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq == expected,
        s"anchor $aId must take the 3 lowest different-label ids")
    }
  }
}
