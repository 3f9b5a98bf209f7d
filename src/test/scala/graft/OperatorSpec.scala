package graft

import org.apache.spark.sql.functions._

/** One spec entry per declared operator (SURVEY.md §5): every
  * SparkEntry query must run at sf0.001, and known invariants hold.
  * (Value-level correctness is the DuckDB oracle's job — tools/compare.py;
  * these are structural/semantic guards that run in plain `sbt test`.)
  */
class OperatorSpec extends SparkSpec {

  test("every declared query runs and every oracle key has a query") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    val counts = qs.map { case (name, fn) => name -> fn(spark, Sf).count() }
    // q31 (except) is legitimately empty at sf0.001; everything else has rows
    counts.foreach { case (name, n) =>
      assert(n >= 0, s"$name failed")
      if (name != "q31_except") assert(n > 0, s"$name returned no rows")
    }
    assert(qs.size >= 55)
  }

  test("entry (flagship) returns rows — the driver smoke gate") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("multi-probe IVF never finds a worse neighbor than single-probe") {
    import graft.functions.VectorOps
    val emb = Tables(spark, Sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def bestCos(name: String): Map[Long, Double] =
      SparkEntry.queries(name)(spark, Sf)
        .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
        .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
        .select(col("a_id"), VectorOps.cosine(col("ea"), col("eb")).as("cos"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p1 = bestCos("q59_ann_ivf")
    val p2 = bestCos("q68_ann_ivf_probe2")
    // probe-2's candidate set is a superset (r<=2 includes r=1), so its
    // argmax dominates pointwise and it can only gain vectors, not lose
    assert(p1.keySet.subsetOf(p2.keySet))
    p1.foreach { case (id, c1) =>
      assert(p2(id) >= c1, s"vec $id found a worse neighbor under probe2")
    }
  }

  test("bounded top-k aggregator == rank-window top-k on the same input") {
    import org.apache.spark.sql.Encoders
    import graft.functions.{Scored, TopKAgg}
    val windowed = SparkEntry.queries("q26_topk_per_group")(spark, Sf)
      .select(col("user_id"), col("event_id"))
    val topk = udaf(new TopKAgg(3), Encoders.product[Scored])
    val viaAgg = Tables(spark, Sf, "events")
      .groupBy(col("user_id"))
      .agg(topk(col("event_id").cast("double"), col("event_id")).as("top"))
      .select(col("user_id"), explode(col("top.id")).as("event_id"))
    assert(windowed.exceptAll(viaAgg).count() == 0)
    assert(viaAgg.exceptAll(windowed).count() == 0)
  }

  test("cosineTopK at full query width == rank-window top-k (bounded partials beyond toy width)") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorOps
    // EVERY corpus vector as a query — the widest instance the fixture
    // supports (500 at sf0.001), vs q43's 10-query slice. The bounded-
    // partial claim has to hold when the broadcast query side is no
    // longer tiny relative to the corpus.
    val emb = Tables(spark, Sf, "embeddings")
    val viaAgg = graft.operators.Similarity.cosineTopK(emb, emb, k = 5)
    val q = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      VectorOps.norm(col("embedding")).as("q_nrm"))
    val c = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      VectorOps.norm(col("embedding")).as("n_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val viaWindow = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"),
        (VectorOps.dot(col("q_emb"), col("n_emb")) /
          (col("q_nrm") * col("n_nrm"))).as("cos"), col("n_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"))
    assert(viaAgg.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaAgg).count() == 0)
    assert(viaAgg.count() == emb.count() * 5)
  }

  test("connected components: star-contraction fixpoint over a chain, a triangle, and a pair") {
    import spark.implicits._
    import graft.operators.Dedup
    // the 1-2-3-4 chain has diameter 3, so the contraction needs more
    // than one round — exercises the convergence loop, not just one hop
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cc == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("star-contraction finishes a deep path graph in O(log n) rounds") {
    import spark.implicits._
    import graft.operators.Dedup
    // r8 verdict item 1: min-label propagation needs rounds = DIAMETER —
    // a 256-vertex path would take ~255 dependent rounds; large-star/
    // small-star contraction is O(log n) regardless of diameter. A
    // self-pair rides along to pin the singleton path.
    val n = 256
    val pairs = ((0L until (n - 1).toLong).map(i => (i, i + 1)) :+ (999L, 999L))
      .toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == n + 1)
    assert(out.filter(_._1 != 999L).forall(_._2 == 0L),
      "the path is one component labeled by its minimum")
    assert(out.contains((999L, 999L)), "self-pair vertex survives as a singleton")
    assert(rounds <= 12,
      s"diameter-${n - 1} path must contract in O(log n) rounds, took $rounds")
  }

  test("the near-dup components intermediate is built once and shared by its five consumers") {
    // r8 verdict item 2: q76/q87/q135/q136 share one corpus components
    // build; q145 shares one survivor-set build. Run all five and count
    // actual pipeline constructions.
    import graft.operators.Dedup
    Dedup.NearDupCache.reset()
    val before = Dedup.NearDupCache.builds.get()
    for (q <- Seq("q76_neardup_components", "q87_canonical_keep",
        "q135_leakage_safe_split", "q136_priority_collapse",
        "q145_dedup_funnel"))
      SparkEntry.queries(q)(spark, Sf).count()
    assert(Dedup.NearDupCache.builds.get() - before == 2L,
      "expected exactly two component builds: corpus + exact-survivors")
    // and the memoized frame is still alive and consistent after reuse
    val a = SparkEntry.queries("q76_neardup_components")(spark, Sf).count()
    assert(Dedup.NearDupCache.builds.get() - before == 2L,
      "a repeat consumer must not rebuild")
    assert(a > 0)
  }

  test("connected components == union-find on adversarial graph shapes") {
    import spark.implicits._
    import graft.operators.Dedup
    // structured worst cases for a contraction algorithm: a long cycle
    // (max diameter/2 with no tree shortcut), two chains merged at their
    // far ends, a star colliding with a path, and a complete bipartite
    // block — each compared against union-find ground truth
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      (0L until 100L).map(i => (i, (i + 1) % 100)), // cycle of 100
      (0L until 50L).map(i => (i, i + 1)) ++
        (100L until 150L).map(i => (i, i + 1)) :+ (50L, 150L), // two chains, far-end merge
      (0L until 20L).map(i => (500L, 600L + i)) ++
        (600L until 619L).map(i => (i, i + 1)), // star ∪ path through its leaves
      (for (a <- 0L until 8L; b <- 8L until 16L) yield (a, b)) // K(8,8)
    )
    for ((edges, i) <- shapes.zipWithIndex) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        .map(v => (v, find(v)))
      val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"shape $i diverged from union-find")
    }
  }

  test("connected components == union-find on random graphs") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val pairs = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference: plain union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        .map(v => (v, find(v)))
      val got = Dedup.connectedComponents(pairs.toDF("a_id", "b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"trial $trial diverged from union-find")
    }
  }

  test("assumeCanonical contraction: identical labels, and correct even when the caller lies") {
    import spark.implicits._
    import graft.operators.Dedup
    // r18: every registered pair producer emits distinct canonical
    // (a < b) pairs, so the contraction's initial distinct re-shuffles
    // the full pair stream to remove nothing. The flag skips it; labels
    // must be identical on canonical input...
    val rnd = new scala.util.Random(43)
    val canonical = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val base = Dedup.connectedComponents(canonical.toDF("a_id", "b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fast = Dedup.connectedComponents(canonical.toDF("a_id", "b_id"),
        assumeCanonical = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fast == base, "assumeCanonical changed component labels")
    // ...and the flag is an optimization contract, not a correctness
    // one: duplicates, reversed pairs and self-pairs still contract to
    // the same labels (round 1's distinct cleans them), they just lose
    // the skipped shuffle.
    val lying = (canonical ++ canonical.take(20).map(_.swap) ++
      Seq((7L, 7L), (999L, 999L))).reverse
    val viaLies = Dedup.connectedComponents(lying.toDF("a_id", "b_id"),
        assumeCanonical = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaSafe = Dedup.connectedComponents(lying.toDF("a_id", "b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaLies == viaSafe,
      "a precondition-violating caller must still get correct labels")
  }

  test("bm25 ranks term spread above repetition and respects saturation") {
    import spark.implicits._
    import graft.operators.Retrieval
    // same doc length everywhere, same df per query term => ranking is
    // driven purely by the tf-saturation shape: 3 distinct terms beats
    // 2 (one repeated) beats 3 repeats of one term beats no terms
    val docs = Seq(
      (1L, "dup dup dup x y"), (2L, "scan join scan a b"),
      (3L, "x y z w v"), (4L, "dup scan join q r"))
      .toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq("scan", "join", "dup"), 4)
      .collect().map(r => (r.getLong(1), r.getLong(0),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 1L, 1L), (2L, 2L, 2L, 1L, 0L),
      (3L, 1L, 0L, 0L, 3L), (4L, 3L, 0L, 0L, 0L)))
  }

  test("int8 quantization maps the max-abs element to ±127 and stays in range") {
    val rows = SparkEntry.queries("q84_quantize_int8")(spark, Sf)
      .collect().map(_.getString(1).split(",").map(_.toLong).toSeq)
    assert(rows.nonEmpty)
    rows.foreach { q =>
      assert(q.forall(v => v >= -127L && v <= 127L))
      assert(q.map(math.abs).max == 127L,
        "the max-abs component must hit full scale")
    }
  }

  test("quantized MIPS finds the expected neighbor with exact integer ties") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(2f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizedTop1(emb, maxRows = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // v1: v2 and v4 tie at 127*127 -> lower id wins; v4: v1/v2 tie -> v1
    assert(got == Seq((1L, 2L, 16129L), (2L, 1L, 16129L),
      (3L, 4L, 16129L), (4L, 1L, 16129L)))
    val e = intercept[IllegalArgumentException] {
      Similarity.quantizedTop1(emb, maxRows = 2).count()
    }
    assert(e.getMessage.contains("bucket the corpus"))
  }

  test("source overlap counts distinct shared trigrams exactly") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      ("srcA", "a b c d"), ("srcA", "a b c d"), // duplicate doc: no double count
      ("srcB", "a b c x"), ("srcC", "p q r s"))
      .toDF("source", "text")
    val got = TextAnalysis.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    // srcA {abc,bcd} vs srcB {abc,bcx}: share 1 of 3 distinct; srcC disjoint
    assert(got == Seq(("srcA", "srcB", 2L, 2L, 1L, 1.0 / 3.0)))
  }

  test("temperature mix flattens: keep-rate decreases as source size grows") {
    val docs = Tables(spark, Sf, "documents")
    val total = docs.groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val kept = SparkEntry.queries("q93_temperature_mix")(spark, Sf)
      .groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    total.foreach { case (s, n) =>
      val q = math.floor(math.sqrt(n.toDouble) * 4.0).toLong
      assert(kept.getOrElse(s, 0L) == math.min(q, n),
        s"source $s quota mismatch")
    }
    // flattening: a strictly larger source never keeps a larger fraction
    val rates = total.toSeq.sortBy(_._2).map { case (s, n) =>
      (n, kept.getOrElse(s, 0L).toDouble / n) }
    rates.sliding(2).foreach { case Seq((n1, r1), (n2, r2)) =>
      if (n1 < n2) assert(r2 <= r1, s"keep-rate must not grow with size") }
  }

  test("k-means separates two well-separated blobs and conserves membership") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map { i =>
      val sign = if (i % 2 == 0) 10.0f else -10.0f
      (i.toLong, Seq.fill(8)(sign + rnd.nextFloat()))
    }
    val got = Similarity.kmeansAssign(rows.toDF("vec_id", "embedding"),
        k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 40)
    // one blob per cluster, 20 members each, ids split even/odd
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.size == 2)
    assert(byCluster.values.toSet ==
      Set((0L until 40L by 2).toSet, (1L until 40L by 2).toSet))
    got.foreach { case (_, c, n) => assert(n == byCluster(c).size) }
  }

  test("dup-span fraction counts cross-doc spans with multiplicity") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a b c d e f"),     // spans: abc bcd cde def
      (2L, "a b c x y z"),     // spans: abc bcx cxy xyz — shares abc with doc 1
      (3L, "a b c a b c a b"), // spans: abc bca cab abc bca cab — abc shared
      (4L, "p q"))             // too short: zero spans
      .toDF("doc_id", "text")
    val got = TextAnalysis.dupSpans(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // "abc" occurs in docs 1, 2, 3 → shared; every other span is unique
    // to its doc. Doc 3's TWO abc positions both count (multiplicity).
    assert(got == Seq(
      (1L, 4L, 1L, 0.25),
      (2L, 4L, 1L, 0.25),
      (3L, 6L, 2L, 2.0 / 6.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("cluster collapse keeps one canonical per component and conserves mass") {
    val comps = SparkEntry.queries("q76_neardup_components")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val kept = SparkEntry.queries("q87_canonical_keep")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables(spark, Sf, "documents").count()
    // every near-dup component survives exactly once, with its full mass
    val byComp = comps.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val keptClusters = kept.filter(k => byComp.contains(k._2))
    assert(keptClusters.map(_._2).distinct.length == byComp.size)
    keptClusters.foreach { case (id, comp, n) =>
      assert(byComp(comp).contains(id), s"canonical $id not in component $comp")
      assert(n == byComp(comp).size, s"component $comp mass mismatch")
    }
    // total mass (collapsed + singletons) is the corpus
    assert(kept.map(_._3).sum == nDocs)
    assert(kept.length == nDocs - comps.length + byComp.size)
  }

  test("oov novelty scores exactly the val split, bounded in [0,1]") {
    val valIds = SparkEntry.queries("q65_train_split")(spark, Sf)
      .filter(col("split") === "val").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val nov = SparkEntry.queries("q88_oov_novelty")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(nov.map(_._1).toSet == valIds)
    nov.foreach { case (id, nBi, nUn, f) =>
      assert(nUn >= 0 && nUn <= nBi, s"doc $id unseen count out of range")
      assert(f >= 0.0 && f <= 1.0, s"doc $id novelty out of [0,1]")
    }
  }

  test("q48 guard refuses corpora beyond the exact all-pairs tier") {
    val emb = Tables(spark, Sf, "embeddings")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.embeddingNearDupPairs(emb, tau = 0.45,
        maxRows = 10)
    }
    assert(e.getMessage.contains("q49"), "refusal must name the scale path")
  }

  test("q19 approx distinct self-validates: exact matches q18, every group within bound") {
    val rows = SparkEntry.queries("q19_approx_distinct")(spark, Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val exact = SparkEntry.queries("q18_distinct_count")(spark, Sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (k, (nd, ok)) =>
      assert(nd == exact(k), s"$k: q19's exact column drifted from q18")
      assert(ok, s"$k: HLL estimate outside its 3-rsd bound")
    }
  }

  test("join-family row-count algebra: |left| == |inner| for FK-complete keys, semi+anti partition the dimension") {
    val inner = SparkEntry.queries("q09_broadcast_join")(spark, Sf).count()
    val left = SparkEntry.queries("q11_left_outer_join")(spark, Sf).count()
    assert(left >= inner)
    val semi = SparkEntry.queries("q12_semi_join")(spark, Sf).count()
    val anti = SparkEntry.queries("q13_anti_join")(spark, Sf).count()
    val docs = Tables(spark, Sf, "documents").count()
    assert(semi + anti == docs)
  }

  test("window q39 tumbling counts partition the total event count") {
    val total = Tables(spark, Sf, "events").count()
    val winSum = SparkEntry.queries("q39_tumbling_window")(spark, Sf)
      .agg(sum("n")).collect().head.getLong(0)
    assert(winSum == total)
  }

  test("q42 exact dedup: distinct hashes ≤ docs; group sizes sum to docs") {
    val docs = Tables(spark, Sf, "documents").count()
    val d = SparkEntry.queries("q42_exact_dedup")(spark, Sf)
    assert(d.count() <= docs)
    assert(d.agg(sum("n_dups")).collect().head.getLong(0) == docs)
  }

  test("q46 minhash near-dup pairs are symmetric-free and self-free") {
    val pairs = SparkEntry.queries("q46_minhash_neardup")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("q43 cosine top-k: exactly k neighbors per query id, no self-matches") {
    val rows = SparkEntry.queries("q43_cosine_topk")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 10 && byQ.values.forall(_.length == 10))
    assert(rows.forall { case (q, _, n) => q != n })
    byQ.values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1L to 10L)) // dense ranks 1..k
    }
  }

  test("chunk dedup keeps the global first occurrence and rebuilds losslessly") {
    import spark.implicits._
    import graft.operators.Curation
    // doc 2's first 200-char chunk equals doc 1's (boilerplate header);
    // doc 3 is all-original; doc 4 duplicates doc 1 entirely
    val boiler = ("x" * 199) + "y"
    val d1 = boiler + "tail one"
    val d2 = boiler + "tail two"
    val d4 = d1
    val got = Curation.chunkDedup(
      Seq((1L, d1), (2L, d2), (3L, "short original"), (4L, d4))
        .toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toList
    assert(got == List(
      (1L, 2L, 2L, d1),             // first occurrence: fully kept
      (2L, 2L, 1L, "tail two"),     // shared boilerplate chunk removed
      (3L, 1L, 1L, "short original"),
      (4L, 2L, 0L, "")))            // exact clone: nothing survives
  }

  test("containment finds a truncated doc that Jaccard misses at tau") {
    import spark.implicits._
    import graft.operators.Dedup
    // doc 2 = first third of doc 1: containment 1.0, Jaccard ~1/3
    val words = (1 to 30).map(i => s"w$i")
    val d1 = words.mkString(" ")
    val d2 = words.take(10).mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, (31 to 60).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextOps.shingleHashes(
          graft.functions.TextOps.tokens(col("text")), 3).as("sh"))
    val got = Dedup.containmentPairs(docs, maxDf = 128, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    // d2 has 8 trigrams, all inside d1 (28 trigrams): common=8=min size
    assert(got == List((1L, 2L, 8L, 28L, 8L)))
    // the hot-shingle cap is part of the measure: with maxDf=1 every
    // shared shingle is excluded and no pair can exist
    assert(Dedup.containmentPairs(docs, maxDf = 1, tau = 0.8).count() == 0)
  }

  test("gopher filter's keep bit is the conjunction of its rule flags") {
    val rows = SparkEntry.queries("q99_gopher_filter")(spark, Sf)
      .select(col("ok_len"), col("ok_mwl"), col("ok_stop"), col("ok_rep"),
        col("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c, d, k) => assert(k == a * b * c * d) }
    assert(rows.exists(_._5 == 0L) && rows.exists(_._5 == 1L),
      "the gate must discriminate on this corpus")
  }

  test("JL projection: identical vectors project identically, bounded, non-constant") {
    val rows = SparkEntry.queries("q98_jl_projection")(spark, Sf)
      .collect()
    assert(rows.nonEmpty)
    val projs = rows.map(r => (1 to 16).map(r.getLong))
    // int8 inputs x ±1 entries over 64 dims: |p| ≤ 127*64
    projs.foreach(p => p.foreach(v => assert(math.abs(v) <= 127L * 64)))
    assert(projs.distinct.size > 1, "projection must not collapse")
  }

  test("tf-idf top terms: dense ranks 1..3 per doc, ordered by score") {
    val rows = SparkEntry.queries("q96_tfidf_topterms")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = rows.groupBy(_._1)
    byDoc.values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.length) && g.length <= 3)
    }
  }

  test("bigram-LM score is a proper mean conditional probability") {
    val rows = SparkEntry.queries("q102_bigram_lm")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nBi, meanP) =>
      assert(nBi > 0) // every corpus doc has >= 2 tokens
      // each p = c(w1 w2)/c(w1 .) is in (0, 1]; so is their mean
      assert(meanP > 0.0 && meanP <= 1.0)
    }
    // the score must discriminate (not all docs equally fluent)
    assert(rows.map(_._3).distinct.length > 1)
  }

  test("incremental dedup verdicts are consistent with their audit counts") {
    val rows = SparkEntry.queries("q103_incremental_dedup")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nInf, best, verdict) =>
      assert(best <= nInf, "containment hits cannot exceed the doc's own set")
      verdict match {
        case "near_dup" =>
          assert(nInf > 0 && best.toDouble / nInf >= 0.6)
        case "kept" =>
          assert(nInf == 0 || best.toDouble / nInf < 0.6)
        case "exact_dup" => // sha-membership tier; exercised at sf0.1
        case v => fail(s"unknown verdict $v")
      }
    }
  }

  test("zipf bands partition the trigram occurrence mass exactly") {
    val rows = SparkEntry.queries("q104_zipf_bands")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall(_._1 >= 1))
    // band b holds types with tf in [2^(b-1), 2^b): occurrences bounded
    rows.foreach { case (b, types, occ) =>
      assert(occ >= types * (1L << (b - 1)))
      assert(occ < types * (1L << b))
    }
    // the bands partition the full trigram mass
    val totalOcc = Tables(spark, Sf, "documents")
      .select(greatest(size(split(col("text"), " ")) - 2, lit(0)).cast("long")
        .as("n")).agg(sum(col("n"))).head().getLong(0)
    assert(rows.map(_._3).sum == totalOcc)
  }

  test("source report's counters are bounded by its doc counts") {
    val rows = SparkEntry.queries("q105_source_report")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, kept, dup) =>
      assert(kept <= n && dup <= n)
    }
    val totalDocs = Tables(spark, Sf, "documents").count()
    assert(rows.map(_._2).sum == totalDocs, "report must cover every doc")
  }

  test("Observation collects gate telemetry in the same pass as the query") {
    // the production-monitoring shape: keep/drop counters ride the
    // pipeline's one execution instead of a second counting scan
    val obs = new org.apache.spark.sql.Observation("gate")
    val df = graft.operators.TextAnalysis
      .gopherGate(Tables(spark, Sf, "documents"))
      .observe(obs, count(lit(1)).as("n"), sum(col("keep")).as("kept"))
    val total = df.count()
    val m = obs.get
    assert(m("n").asInstanceOf[Long] == total)
    val kept = m("kept").asInstanceOf[Long]
    assert(kept > 0 && kept < total)
  }

  test("unpivot is the exact inverse reshape of the q61 pivot") {
    val wide = SparkEntry.queries("q61_pivot")(spark, Sf)
    val long = SparkEntry.queries("q100_unpivot")(spark, Sf)
    assert(long.count() == wide.count() * 4)
    val totals = long.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val events = Tables(spark, Sf, "events")
      .filter(col("event_type")
        .isin("signup", "purchase", "view", "error")) // q61's pivot list
      .groupBy(col("event_type")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals == events)
  }

  test("funnel stages cascade: each step's timestamp follows the previous") {
    val rows = SparkEntry.queries("q107_funnel")(spark, Sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (stage, v, c, p) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // -1 = step never reached; steps can only be reached in order
      assert(stage == Seq(v, c, p).count(_ >= 0))
      if (c >= 0) assert(v >= 0 && c > v && c <= v + 3600L * 1000000L)
      if (p >= 0) assert(c >= 0 && p > c && p <= c + 3600L * 1000000L)
    }
    // the funnel must actually narrow somewhere on the fixture
    val stages = rows.map(_.getLong(1))
    assert(stages.max > stages.min)
  }

  test("gap-fill emits every day in each user's span and conserves events") {
    val filled = SparkEntry.queries("q108_gap_fill")(spark, Sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        (datediff(max(col("day")), min(col("day"))) + 1).as("span"),
        sum(col("n_events")).as("total"))
    assert(filled.filter(col("n_days") =!= col("span")).count() == 0)
    val perUser = Tables(spark, Sf, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("real"))
    assert(filled.join(perUser, "user_id")
      .filter(col("total") =!= col("real")).count() == 0)
  }

  test("semantic dedup keeps every cluster's smallest id and drops only dominated rows") {
    val rows = SparkEntry.queries("q113_semantic_dedup")(spark, Sf).collect()
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.values.foreach { members =>
      val first = members.minBy(_.getLong(0))
      assert(first.getLong(2) == 1L,
        s"cluster-min vec ${first.getLong(0)} cannot have an earlier dominator")
    }
    rows.foreach { r =>
      assert((r.getLong(2) == 1L) == (r.getLong(3) == 0L),
        "kept flag must mirror the dominator count")
    }
  }

  test("weighted sampling always keeps max-weight docs; k-fold sizes sum to the corpus") {
    val kept = SparkEntry.queries("q112_weighted_sample")(spark, Sf)
    // u < 2^32 always, so w == max_w rows pass the gate unconditionally
    val maxW = Tables(spark, Sf, "documents")
      .agg(max(least(col("n_chars"), lit(1000L)))).collect()(0).getLong(0)
    val nMax = Tables(spark, Sf, "documents")
      .filter(least(col("n_chars"), lit(1000L)) === maxW).count()
    assert(kept.filter(col("w") === maxW).count() == nMax)
    val folds = SparkEntry.queries("q111_kfold")(spark, Sf)
    assert(folds.select(col("fold")).distinct().count() == 5)
    assert(folds.count() == Tables(spark, Sf, "documents").count())
  }

  test("profile handles the all-null column and transition counts telescope") {
    val prof = SparkEntry.queries("q114_profile")(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val n = prof("event_type").getLong(1)
    assert(prof.values.forall(_.getLong(1) == n), "one pass, one row count")
    val ref = prof("ref") // extract of an absent json key: all null
    assert(ref.getLong(2) == n && ref.getLong(3) == 0 &&
      ref.getString(4) == "" && ref.getString(5) == "")
    assert(prof("event_type").getLong(3) == 5)
    // every event except each user's first is the target of one transition
    val trans = SparkEntry.queries("q115_transitions")(spark, Sf)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val ev = Tables(spark, Sf, "events")
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(trans == expected)
  }

  test("retention matrix: offset-0 equals cohort size and total mass is (user, day) distincts") {
    val ret = SparkEntry.queries("q116_retention")(spark, Sf)
    val act = Tables(spark, Sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    assert(ret.agg(sum(col("n_users"))).collect()(0).getLong(0) == act.count())
    // every user appears in their own cohort's offset-0 cell exactly once
    val day0 = ret.filter(col("day_offset") === 0)
      .agg(sum(col("n_users"))).collect()(0).getLong(0)
    assert(day0 == act.select(col("user_id")).distinct().count())
  }

  test("session-id assignment partitions events exactly like q41's session windows") {
    val ids = SparkEntry.queries("q125_session_ids")(spark, Sf)
      .groupBy(col("user_id")).agg(max(col("session_seq")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val wins = SparkEntry.queries("q41_session_window")(spark, Sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ids == wins, "per-event session ids must partition like session_window")
  }

  test("SCD2 intervals tile each user's timeline with one open row") {
    val rows = SparkEntry.queries("q124_scd2_history")(spark, Sf).collect()
    rows.groupBy(_.getLong(0)).values.foreach { hist =>
      val sorted = hist.sortBy(r => (r.getLong(2), r.getLong(1)))
      assert(sorted.count(_.getLong(4) == 1L) == 1, "exactly one current row")
      assert(sorted.last.getLong(4) == 1L && sorted.last.getLong(3) == -1L)
      sorted.sliding(2).foreach {
        // half-open intervals: each close IS the successor's open
        // (equal-timestamp revisions collapse to zero width, [t, t))
        case Array(a, b) => assert(a.getLong(3) == b.getLong(2),
          "valid_to must equal the successor's valid_from (half-open)")
        case _ =>
      }
    }
  }

  test("engagement decay never exceeds the undecayed sum; PMI ranks are dense and bounded") {
    val eng = SparkEntry.queries("q122_engagement")(spark, Sf)
      .join(Tables(spark, Sf, "events").groupBy(col("user_id"))
        .agg(sum(col("value")).as("raw")), "user_id")
    // all fixture values are positive, so decay can only shrink the sum
    assert(eng.filter(col("engagement") > col("raw") + 0.001).count() == 0)
    val pmi = SparkEntry.queries("q123_pmi_pairs")(spark, Sf).collect()
    assert(pmi.map(_.getLong(0)).toSeq == (1L to pmi.length))
    pmi.foreach { r =>
      assert(r.getLong(3) >= 5, "pair support floor")
      assert(r.getLong(3) <= math.min(r.getLong(4), r.getLong(5)),
        "co-occurrence cannot exceed either marginal df")
    }
  }

  test("anomaly flags: nonempty tail, and a constant-activity user is never flagged") {
    val rows = SparkEntry.queries("q117_anomaly_days")(spark, Sf).collect()
    val flagged = rows.count(_.getLong(3) == 1L)
    assert(flagged > 0 && flagged < rows.length / 4,
      s"2-sigma tail should be small but present, got $flagged/${rows.length}")
    rows.groupBy(_.getLong(0)).values.foreach { days =>
      val counts = days.map(_.getLong(2))
      if (counts.distinct.length == 1) // zero variance -> zero flags
        assert(days.forall(_.getLong(3) == 0L))
    }
  }

  test("q122 decay clamp: >62-day spans contribute zero, never a wrapped divisor") {
    import spark.implicits._
    // maxd = 2020-04-10; ages are 100 (u1 early), 0 (u1 late), 63 (u2 —
    // exactly the first wrapped shift amount: unclamped, shiftleft(1,63)
    // is Long.MinValue and the contribution goes NEGATIVE)
    val ev = Seq(
      ("u1", java.sql.Date.valueOf("2020-01-01"), 8.0),
      ("u1", java.sql.Date.valueOf("2020-04-10"), 2.0),
      ("u2", java.sql.Date.valueOf("2020-02-07"), 4.0)
    ).toDF("user_id", "d", "value")
    val out = graft.operators.Behavior.engagement(ev)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("u1") == 2.0, s"age-100 event must decay to zero, got ${out("u1")}")
    assert(out("u2") == 0.0, s"age-63 event must clamp to zero, got ${out("u2")}")
  }

  test("q124 equal-timestamp revisions never invert or double a point-in-time lookup") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 1000L, 1.0), (1L, 11L, 1000L, 2.0), (1L, 12L, 2000L, 3.0)
    ).toDF("user_id", "event_id", "vf", "value")
    val rows = graft.operators.Behavior.scd2(ev).collect()
    rows.foreach { r =>
      val (vf, vt) = (r.getLong(2), r.getLong(3))
      assert(vt == -1L || vt >= vf, s"inverted interval [$vf, $vt]")
    }
    // the equal-ts pair collapses to zero width: [1000, 1000)
    val first = rows.find(_.getLong(1) == 10L).get
    assert(first.getLong(3) == 1000L)
    // the half-open contract: an as-of lookup at any instant (including
    // the contested t=1000) matches AT MOST ONE revision per user
    Seq(999L, 1000L, 1500L, 2000L, 5000L).foreach { t =>
      val hits = rows.count { r =>
        r.getLong(2) <= t && (r.getLong(3) == -1L || t < r.getLong(3))
      }
      assert(hits <= 1, s"as-of t=$t matched $hits revisions")
    }
  }

  test("q132 shard shuffle: shards partition the corpus, positions are contiguous ranks") {
    val rows = SparkEntry.queries("q132_shard_shuffle")(spark, Sf).collect()
    val n = Tables(spark, Sf, "documents").count()
    assert(rows.length == n, "every document gets exactly one slot")
    rows.groupBy(_.getLong(1)).foreach { case (shard, members) =>
      assert(shard >= 0 && shard < 8)
      // in-shard positions are exactly 1..count — a writer can emit the
      // shard file by position with no gaps and no collisions
      assert(members.map(_.getLong(2)).sorted.toSeq ==
        (1L to members.length).toSeq, s"shard $shard ranks not contiguous")
    }
  }

  test("q133 token budget: per-source totals stay under budget and selection is longest-first") {
    val kept = SparkEntry.queries("q133_token_budget")(spark, Sf).collect()
    val perSource = kept.groupBy(_.getString(1))
    perSource.foreach { case (src, docs) =>
      assert(docs.map(_.getLong(3)).max <= 800L, s"$src exceeded the budget")
    }
    // greedy longest-first: every kept doc has n_chars >= every dropped
    // doc of the same source (ties broken by doc_id, so compare strictly)
    val chars = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val keptIds = kept.map(_.getLong(0)).toSet
    chars.groupBy(_._2._1).foreach { case (src, members) =>
      val (in, out) = members.partition(m => keptIds.contains(m._1))
      if (in.nonEmpty && out.nonEmpty) {
        val minKept = in.map(_._2._2).min
        val maxDrop = out.map(_._2._2).max
        // the kept set is a PREFIX of the (n_chars DESC, doc_id) order,
        // so no dropped doc outranks a kept one (equal chars = id tiebreak)
        assert(minKept >= maxDrop, s"$src kept a shorter doc over a longer one")
      }
    }
  }

  test("q135 leakage-safe split: groups are atomic across splits; singletons keep q65's assignment") {
    val split = SparkEntry.queries("q135_leakage_safe_split")(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    // every group lands wholly in one split — no near-dup leakage
    split.values.groupBy(_._1).foreach { case (g, ms) =>
      assert(ms.map(_._2).toSet.size == 1, s"group $g split across train/val")
    }
    // docs that group on their own id gate identically to q65 (same
    // salt): the leakage-safe split only MOVES documents with partners
    val q65 = SparkEntry.queries("q65_train_split")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    split.foreach { case (id, (g, s)) =>
      if (g == id) assert(q65(id) == s, s"doc $id moved without a partner")
    }
    // the fixture exercises both regimes
    assert(split.exists { case (id, (g, _)) => g != id }, "no clustered docs")
    assert(split.values.map(_._2).toSet == Set("train", "val"))
  }

  test("q136 priority collapse: survivors come from the max-mass source; cluster mass is conserved") {
    val out = SparkEntry.queries("q136_priority_collapse")(spark, Sf).collect()
    // every doc folds into exactly one survivor
    assert(out.map(_.getLong(3)).sum == Tables(spark, Sf, "documents").count())
    val mass = Tables(spark, Sf, "documents").groupBy(col("source"))
      .agg(sum(col("n_chars")).as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val srcOf = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byComp = SparkEntry.queries("q76_neardup_components")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._2)
    val multi = out.filter(_.getLong(3) > 1)
    assert(multi.nonEmpty, "fixture has no multi-member components")
    multi.foreach { r =>
      val best = byComp(r.getLong(1)).map(m => mass(srcOf(m._1))).max
      assert(mass(r.getString(2)) == best,
        s"component ${r.getLong(1)} survivor not from the max-mass source")
    }
  }

  test("q137 source drift: complete pair universe; numerator matches a brute-force TVD and its bounds") {
    val out = SparkEntry.queries("q137_source_drift")(spark, Sf).collect()
    val nSrc = Tables(spark, Sf, "documents")
      .select(col("source")).distinct().count()
    assert(out.length == nSrc * (nSrc - 1) / 2, "one row per unordered pair")
    out.foreach { r =>
      val (na, nb, num) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(num >= 0 && num <= 2 * na * nb,
        s"${r.getString(0)}/${r.getString(1)} numerator outside [0, 2*n_a*n_b]")
    }
    // brute-force the first pair from the raw token multisets
    val first = out.head
    val counts = Tables(spark, Sf, "documents")
      .filter(col("source").isin(first.getString(0), first.getString(1)))
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .groupBy(col("source"), col("t")).count().collect()
      .groupBy(_.getString(0))
      .map { case (s, rs) =>
        s -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
    val (ca, cb) = (counts(first.getString(0)), counts(first.getString(1)))
    val (na, nb) = (ca.values.sum, cb.values.sum)
    val num = (ca.keySet ++ cb.keySet).toSeq
      .map(t => math.abs(ca.getOrElse(t, 0L) * nb - cb.getOrElse(t, 0L) * na))
      .sum
    assert(first.getLong(2) == na && first.getLong(3) == nb &&
      first.getLong(4) == num, "exact numerator mismatch vs brute force")
  }

  test("q138 quality gate: each source keeps exactly its floor(0.3n) best-scored prefix") {
    val out = SparkEntry.queries("q138_quality_gate")(spark, Sf).collect()
    out.groupBy(_.getString(1)).foreach { case (src, rows) =>
      val n = rows.head.getLong(4)
      assert(rows.length == n, s"$src n_src mismatch")
      val kept = rows.filter(_.getLong(5) == 1L)
      assert(kept.length == 3 * n / 10, s"$src kept count != floor(0.3n)")
      // the kept set is the rank prefix, and ranks follow the score order
      assert(kept.isEmpty || kept.map(_.getLong(3)).max <= 3 * n / 10)
      val dropped = rows.filter(_.getLong(5) == 0L)
      if (kept.nonEmpty && dropped.nonEmpty)
        assert(kept.map(_.getLong(2)).min >= dropped.map(_.getLong(2)).max,
          s"$src kept a lower-scored doc over a higher-scored one")
    }
  }

  test("q47 NULL text propagates NULL simhash; non-null values match the DuckDB mirror") {
    import spark.implicits._
    val docs = Seq((1L, Some("hello world")), (2L, Option.empty[String]),
      (3L, Some(""))).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        graft.functions.TextOps.simhashMd5(
          array_distinct(graft.functions.TextOps.tokens(col("text"))))
          .as("simhash"))
      .orderBy("doc_id").collect()
    // pinned against DuckDB: CAST('0x'||substring(md5(w),1,15) AS BIGINT)
    // votes over the same 60 bits (the oracle's CASE mirrors the NULL)
    assert(out(0).getLong(1) == 419978266733191168L)
    assert(out(1).isNullAt(1), "NULL text must propagate NULL, not a fake 0")
    assert(out(2).getLong(1) == 955282973525019424L,
      "'' splits to [''] on both engines and must vote, not fall to 0")
  }

  test("q126 degenerate groups report NULL, never NaN") {
    import spark.implicits._
    val df = Seq(
      ("const", 5.0, Option(1.0)), ("const", 5.0, Option(2.0)),
      ("single", 1.0, Option(2.0)),
      ("nullk", 1.0, Option.empty[Double]), ("nullk", 2.0, Option.empty[Double])
    ).toDF("event_type", "value", "k")
    val rows = graft.operators.Aggregates.comoments(df).collect()
    rows.foreach { r =>
      (1 to 3).foreach { i =>
        if (!r.isNullAt(i))
          assert(!r.getDouble(i).isNaN, s"NaN leaked in ${r.getString(0)} col $i")
      }
    }
    val const = rows.find(_.getString(0) == "const").get
    assert(const.isNullAt(1), "zero-variance corr must be NULL")
    assert(const.getDouble(3) == 0.0, "zero-variance stddev is 0, not NULL")
  }

  test("q120 rolling actives stop at the corpus's last active day") {
    import spark.implicits._
    val act = Seq(
      ("u1", java.sql.Date.valueOf("2020-01-01")),
      ("u2", java.sql.Date.valueOf("2020-01-05"))
    ).toDF("user_id", "d")
    val rows = graft.operators.Behavior.rollingActives(act)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keys.max == "2020-01-05", "no phantom days past the data end")
    assert(rows("2020-01-05") == 2L, "both users active in the trailing week")
    assert(rows("2020-01-01") == 1L)
  }

  test("builder-persisted intermediates are released by CachePool.releaseAll") {
    CachePool.releaseAll()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q46_minhash_neardup", "q58_ngram_jaccard", "q80_fuzzy_dedup",
      "q101_containment", "q103_incremental_dedup")
      .foreach(q => SparkEntry.queries(q)(spark, Sf).count())
    val during = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(during.nonEmpty, "precondition: these builders persist intermediates")
    CachePool.releaseAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(after.isEmpty, s"cached blocks leaked after releaseAll: $after")
  }

  test("semantic decontamination matches a from-scratch integer recompute") {
    // Independent path: quantize + gate in plain Scala loops from the
    // raw embeddings, then compare the hit map exactly. Same IEEE double
    // ops (x/mx*127+0.5, floor) and the same BIGINT cross-multiplied
    // threshold, so any drift in the Spark expressions is a failure.
    val md = java.security.MessageDigest.getInstance("MD5")
    def benchGate(id: Long): Boolean = {
      val hex = md.digest(s"decon:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      hex >= "e6"
    }
    val raw = Tables(spark, Sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val quantized = raw.map { case (id, v) =>
      val mx = v.map(x => math.abs(x.toDouble)).max
      id -> v.map(x =>
        if (mx > 0.0) math.floor(x.toDouble / mx * 127.0 + 0.5).toLong
        else 0L)
    }
    val norms = quantized.map { case (id, q) =>
      id -> q.map(x => x * x).sum }.toMap
    val (bench, train) = quantized.partition { case (id, _) => benchGate(id) }
    val expected = train.flatMap { case (aId, aq) =>
      val hits = bench.count { case (bId, bq) =>
        val dot = aq.zip(bq).map { case (x, y) => x * y }.sum
        dot > 0 && 400L * dot * dot >= 49L * norms(aId) * norms(bId)
      }
      if (hits > 0) Some(aId -> hits.toLong) else None
    }.toMap
    val actual = SparkEntry.queries("q139_semantic_decon")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual == expected,
      s"hit maps differ: only-spark=${actual.keySet -- expected.keySet} " +
        s"only-recompute=${expected.keySet -- actual.keySet}")
    assert(actual.nonEmpty, "fixture must flag at least one training doc")
    assert(actual.keySet.forall(id => !benchGate(id)),
      "benchmark docs can never appear in the flagged set")
  }

  test("hard-negative mining matches a from-scratch integer recompute") {
    // Same discipline as the q139 test: quantize + rank in plain Scala
    // from the raw embeddings and compare the full (anchor, rk, neg, dot)
    // relation exactly — integer dots and a (dot DESC, id ASC) total
    // order mean there is exactly one right answer.
    val md = java.security.MessageDigest.getInstance("MD5")
    def anchorGate(id: Long): Boolean = {
      val hex = md.digest(s"hneg:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      hex >= "e6"
    }
    val quantized = Tables(spark, Sf, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label").cast("long"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        val mx = v.map(x => math.abs(x.toDouble)).max
        val q = v.map(x =>
          if (mx > 0.0) math.floor(x.toDouble / mx * 127.0 + 0.5).toLong
          else 0L)
        (r.getLong(0), q, r.getLong(2))
      }
    val expected = quantized.filter(t => anchorGate(t._1))
      .flatMap { case (aId, aq, aLab) =>
        quantized.filter(_._3 != aLab)
          .map { case (nId, nq, _) =>
            (nId, aq.zip(nq).map { case (x, y) => x * y }.sum) }
          .sortBy { case (nId, dot) => (-dot, nId) }.take(3)
          .zipWithIndex
          .map { case ((nId, dot), i) => (aId, (i + 1).toLong, nId, dot) }
      }.sortBy(t => (t._1, t._2)).toSeq
    val actual = SparkEntry.queries("q140_hard_negatives")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(actual == expected, "hard-negative ranking drifted from the " +
      s"recompute (first diff: ${actual.diff(expected).take(3).toList} vs " +
      s"${expected.diff(actual).take(3).toList})")
    assert(actual.nonEmpty, "fixture must mine at least one negative")
    assert(actual.forall(_._2 <= 3), "never more than 3 negatives per anchor")
  }

  test("cluster-outlier pruning flags exactly the floor(n/10) farthest per cluster") {
    val rows = SparkEntry.queries("q141_cluster_outlier_prune")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // every input vector appears exactly once, rk_far is a permutation
    // of 1..n within each cluster, and the pruned set is the integer cut
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      val n = members.length.toLong
      assert(members.map(_._3).sorted.toSeq == (1L to n).toSeq,
        s"cluster $c rk_far must be a permutation of 1..$n")
      val pruned = members.filter(_._4)
      assert(pruned.length.toLong == n / 10,
        s"cluster $c must prune exactly floor($n/10) members")
      // the pruned members are exactly the lowest ranks (farthest d2)
      assert(pruned.map(_._3).forall(_ <= n / 10),
        s"cluster $c pruned ranks must be the farthest prefix")
    }
    // membership agrees with q91's assignment (same Lloyd loop)
    val q91 = SparkEntry.queries("q91_kmeans_clusters")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall { case (id, c, _, _) => q91(id) == c },
      "q141 must reuse q91's cluster assignment")
  }

  test("cross-dump near-dup counts reconcile with q46's verified pair list") {
    // q46 and q144 share the shingle sets and tau, so q144's per-new-doc
    // counts must equal the cross-split subset of q46's pair list
    val md = java.security.MessageDigest.getInstance("MD5")
    def isNew(id: Long): Boolean =
      md.digest(s"xdup:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2) >= "b3"
    val q46 = SparkEntry.queries("q46_minhash_neardup")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val crossing = q46.flatMap { case (a, b) =>
      if (isNew(a) && !isNew(b)) Some(a -> b)
      else if (isNew(b) && !isNew(a)) Some(b -> a)
      else None
    }
    val expected = crossing.groupBy(_._1).map { case (n, ps) =>
      n -> (ps.length.toLong, ps.map(_._2).min) }
    val actual = SparkEntry.queries("q144_cross_dump_neardup")(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(actual == expected,
      s"cross-dump counts drifted: only-q144=${actual.keySet -- expected.keySet} " +
        s"only-q46-derived=${expected.keySet -- actual.keySet}")
    assert(actual.keySet.forall(isNew), "only new-batch docs may be flagged")
    assert(actual.values.forall { case (_, m) => !isNew(m) },
      "first_match_id must come from the prior corpus")
  }

  test("contamination report totals reconcile with q139's flag set") {
    val rep = SparkEntry.queries("q143_contamination_report")(spark, Sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val hits = SparkEntry.queries("q139_semantic_decon")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.map(_._3).sum == hits.size.toLong,
      "per-source contaminated counts must sum to q139's flagged docs")
    assert(rep.map(_._4).sum == hits.values.sum,
      "per-source collision counts must sum to q139's total hits")
    assert(rep.forall(r => r._3 <= r._2),
      "a source can never have more contaminated docs than train docs")
    assert(rep.forall(r => r._3 <= r._4),
      "each contaminated doc contributes at least one collision")
  }

  test("dedup funnel reconciles with q42's keeper set and is monotone") {
    val funnel = SparkEntry.queries("q145_dedup_funnel")(spark, Sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables(spark, Sf, "documents").count()
    val q42Rows = SparkEntry.queries("q42_exact_dedup")(spark, Sf).count()
    assert(funnel.map(_._2).sum == nDocs,
      "per-source raw counts must sum to the corpus size")
    assert(funnel.map(_._3).sum == q42Rows,
      "exact-dedup survivors must sum to q42's keeper count " +
        "(one keeper per distinct sha256)")
    assert(funnel.forall(r => r._2 >= r._3 && r._3 >= r._4),
      "each gate can only shrink a source: n_raw >= n_after_exact >= " +
        "n_after_neardup")
    assert(funnel.map(_._1).sorted.toSeq == funnel.map(_._1).toSeq,
      "report is ordered by source")
  }

  test("perplexity buckets are exact per-source terciles ordered by fluency") {
    val rows = SparkEntry.queries("q142_perplexity_buckets")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val lm = SparkEntry.queries("q102_bigram_lm")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows.map(_._1).distinct.length == rows.length,
      "every doc gets exactly one bucket")
    rows.groupBy(_._2).foreach { case (src, members) =>
      val n = members.length.toLong
      assert(members.map(_._3).sorted.toSeq == (1L to n).toSeq,
        s"source $src rk_fluent must be a permutation of 1..$n")
      // the integer tercile cut, exactly
      val sizes = members.groupBy(_._4).view.mapValues(_.length.toLong).toMap
      assert(sizes.getOrElse("head", 0L) == n / 3,
        s"source $src head must hold floor($n/3) docs")
      assert(sizes.getOrElse("middle", 0L) == 2 * n / 3 - n / 3,
        s"source $src middle size drifted")
      // bucket order respects the fluency score: every head doc's
      // mean_p >= every tail doc's mean_p within the source
      val headMin = members.filter(_._4 == "head").map(t => lm(t._1))
        .minOption.getOrElse(Double.MaxValue)
      val tailMax = members.filter(_._4 == "tail").map(t => lm(t._1))
        .maxOption.getOrElse(Double.MinValue)
      assert(members.count(_._4 == "tail") == 0 || headMin >= tailMax,
        s"source $src head/tail fluency order inverted")
    }
  }

  test("NULL-text token counts follow DuckDB NULL semantics through the q133 budget window") {
    // Cross-engine fixture: the expected rows below are pinned to what
    // DuckDB produces for the q133 oracle SQL over this exact corpus
    // (len(string_split(NULL)) → NULL; window SUM skips NULLs; a NULL
    // cum_tokens fails the <= filter). Spark must agree row for row —
    // legacy size(NULL) = -1 under ANSI-off would instead inject −1
    // into the cumulative sums.
    import graft.functions.TextOps
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Seq(
      (1L, "a", 10L, "w w w"), (2L, "a", 8L, null), (3L, "a", 6L, "x"),
      (4L, "b", 5L, null), (5L, "b", 3L, "y y"))
      .toDF("doc_id", "source", "n_chars", "text")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.wsTokenCount(col("text")).as("ws_tokens"))
      .withColumn("cum_tokens", sum(col("ws_tokens")).over(w))
      .filter(col("cum_tokens") <= 800L)
      .drop("n_chars")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "a", Some(3L), 3L),
      (2L, "a", None, 3L), // NULL text: NULL count, cum carries past it
      (3L, "a", Some(1L), 4L),
      (5L, "b", Some(2L), 2L))) // doc 4 (NULL-cum head of b) filtered out
  }

  test("q146's two-pass threshold selection equals the naive global cumsum rule") {
    import org.apache.spark.sql.expressions.Window
    val twoPass = SparkEntry.queries("q146_global_token_budget")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the naive single-window rule the oracle uses, recomputed in-engine
    val w = Window.orderBy(col("ws_tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = Tables(spark, Sf, "documents")
      .select(col("doc_id"),
        graft.functions.TextOps.wsTokenCount(col("text")).as("ws_tokens"))
      .withColumn("cum", sum(col("ws_tokens")).over(w))
      .select(col("doc_id"), col("ws_tokens"),
        when(col("cum") <= 10000L, 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(twoPass.toSeq == naive.toSeq,
      "threshold construction must reproduce global-cumsum membership exactly")
    // the budget is respected and selection is maximal: the kept set
    // fits, and every excluded doc is at least as short as the boundary
    val keptTok = twoPass.filter(_._3 == 1L).map(_._2).sum
    val maxExcluded = twoPass.filter(_._3 == 0L).map(_._2).maxOption
    assert(keptTok <= 10000L, s"budget blown: $keptTok")
    // maximality: when anything is excluded, admitting the longest
    // excluded doc (the boundary class, by the prefix rule) must blow
    // the budget — prior + (m+1)·w* > B by construction of m
    assert(maxExcluded.forall(keptTok + _ > 10000L),
      s"boundary not maximal: kept=$keptTok, next=$maxExcluded")
  }

  test("q147's hot-source-proof plan reproduces q133's membership exactly") {
    // q133 emits only the kept rows; q147 flags every doc. Same budget,
    // same (n_chars DESC, doc_id) order — the kept sets must be equal.
    val viaThreshold = SparkEntry
      .queries("q147_source_budget_scalable")(spark, Sf)
      .collect().filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    val viaWindow = SparkEntry.queries("q133_token_budget")(spark, Sf)
      .collect().map(_.getLong(0)).toSet
    assert(viaThreshold == viaWindow,
      s"two-pass selection drifted from the window rule: " +
        s"only-threshold=${(viaThreshold -- viaWindow).toSeq.sorted.take(5)}, " +
        s"only-window=${(viaWindow -- viaThreshold).toSeq.sorted.take(5)}")
  }

  test("q147 boundary class headed by a NULL-text doc keeps naive-rule parity") {
    import spark.implicits._
    // ADVICE r8: the boundary-class verdict's inclusive in-class cumsum is
    // NULL when the class head has NULL text (SUM over only-NULL
    // ws_tokens); the naive rule's running cum for that doc equals `prior`
    // (NULL adds nothing), so the verdict must coalesce the cumsum to +0,
    // not let NULL poison the comparison into kept=0.
    withTempDir("q147-null-") { dir =>
      // One source: class (s,100) consumes the 800-token budget exactly;
      // boundary class (s,50) opens with a NULL-text doc.
      Seq(
        (1L, ("w " * 400).trim, "en", "s", 100L),
        (2L, ("w " * 400).trim, "en", "s", 100L),
        (3L, null.asInstanceOf[String], "en", "s", 50L),
        (4L, ("w " * 100).trim, "en", "s", 50L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val kept = SparkEntry.queries("q147_source_budget_scalable")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(kept == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L),
        s"NULL-head boundary class drifted from the naive rule: $kept")
      // cross-check against q133's window rule on the same fixture
      val naive = SparkEntry.queries("q133_token_budget")(spark, dir)
        .collect().map(_.getLong(0)).toSet
      assert(kept.filter(_._2 == 1L).keySet == naive,
        "q147 kept set must equal q133's on the NULL-text fixture")
    }
  }

  test("frame sampler caps at MaxFrames so q150's fkey packing stays bijective") {
    import spark.implicits._
    import graft.operators.Multimodal
    // ADVICE r8: media longer than MaxFrames·FrameSize·FrameStep = 16384
    // bytes would otherwise emit frame_idx >= 64, colliding
    // doc_id·64 + frame_idx keys across documents (silent mis-attribution
    // of canonical/dupe frames) and diverging from the oracles'
    // generate_series(0, 63).
    val media = Seq(
      Multimodal.MediaRow(1L, Array.fill[Byte](20000)(7)),
      Multimodal.MediaRow(2L, Array.fill[Byte](300)(9))).toDS()
    val frames = Multimodal.sampleFrames(spark, media).collect()
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc(1L).length == Multimodal.MaxFrames,
      s"long media must cap at ${Multimodal.MaxFrames} frames")
    assert(byDoc(1L).map(_.frame_idx).max == Multimodal.MaxFrames - 1L,
      "frame_idx must stay below MaxFrames")
    assert(byDoc(2L).length == 2, "short media keeps its natural frame count")
  }

  test("BMP encode -> ImageIO decode round-trips pixel-exactly, including padded widths") {
    import graft.operators.Multimodal
    // real-codec tier: the hand-rolled encoder must be byte-correct BMP
    // (bottom-up rows, 4-byte row padding) for the JDK decoder to return
    // the exact planted channel values at every coordinate. Widths 3/5
    // exercise nonzero row padding; 4 exercises none; 1x1 the degenerate.
    for ((w, h) <- Seq((3, 2), (4, 1), (5, 48), (64, 48), (1, 1))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.encodeBmp(7L, w, h)))
      assert(img != null, s"ImageIO failed to decode ${w}x$h")
      assert(img.getWidth == w && img.getHeight == h,
        s"decoded ${img.getWidth}x${img.getHeight}, expected ${w}x$h")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        assert(((rgb >> 16) & 0xff) == (x + y) % 256, s"red($x,$y) w=$w h=$h")
        assert(((rgb >> 8) & 0xff) == (x * 3 + y * 5) % 256, s"green($x,$y) w=$w h=$h")
        assert((rgb & 0xff) == (x * 7 + y * 13 + 7) % 256, s"blue($x,$y) w=$w h=$h")
      }
    }
  }

  test("WARC build -> parse: record inventory, byte-lossless extraction, malformed input loud") {
    import graft.operators.Warc
    val docs = Seq((3L, "alpha beta gamma"), (7L, "delta"), (11L, "x y z w"))
    val warc = Warc.build(docs)
    val recs = Warc.parse(warc)
    // leading warcinfo + one response per doc, in order
    assert(recs.map(_.warcType) == Seq("warcinfo", "response", "response", "response"))
    recs.tail.zip(docs).foreach { case (r, (id, text)) =>
      assert(r.recordId == s"urn:doc:$id")
      val html = Warc.httpBody(r.payload)
      assert(r.contentLength == r.payload.length,
        "WARC Content-Length must equal actual payload bytes")
      assert(Warc.extractMain(html) == text,
        s"doc $id extraction not lossless")
      assert(!html.contains("</main>nav") && Warc.extractMain(html) == text)
      // boilerplate never leaks into the extract
      assert(!Warc.extractMain(html).contains("nav links"))
      assert(!Warc.extractMain(html).contains("footer"))
    }
    // truncation inside a payload and a chopped separator both raise
    intercept[IllegalArgumentException] {
      Warc.parse(java.util.Arrays.copyOfRange(warc, 0, warc.length - 3))
    }
    intercept[IllegalArgumentException] { Warc.parse("WARC/9.9\r\n\r\n".getBytes) }
    // non-ASCII text round-trips losslessly under the octet discipline
    // (r11): Content-Lengths count UTF-8 bytes, so 2- and 3-byte chars
    // survive the whole mux→parse→extract loop
    val utf8Text = "café — 東京 déjà-vu ✓ ü"
    val utf8Rt = Warc.parse(Warc.build(Seq((9L, utf8Text))))
    val resp9 = utf8Rt.find(_.warcType == "response").get
    assert(resp9.contentLength == resp9.payload.length,
      "octet Content-Length must count the actual payload bytes")
    assert(resp9.contentLength >
      Warc.httpBody(resp9.payload).length,
      "a multi-byte payload must have more octets than chars")
    assert(Warc.extractMain(Warc.httpBody(resp9.payload)) == utf8Text,
      "UTF-8 text corrupted in the WARC round trip")
    // the one thing UTF-8 cannot carry — an unpaired surrogate — must
    // raise at the WRITE (getBytes would silently substitute '?' and
    // corrupt the corpus while every Content-Length still lined up)
    intercept[IllegalArgumentException] {
      Warc.build(Seq((9L, "bad \ud800 half")))
    }
    intercept[IllegalArgumentException] {
      Warc.build(Seq((9L, "bad \udc00 half")))
    }
    // markup-laden text round-trips LOSSLESSLY via entity escaping — an
    // embedded '</main>' or '<x>' must neither truncate the extract nor
    // be eaten by the tag strip (markup injection, r10 review finding)
    val hostile = "a </main> b <x> c &amp; d <nav>boiler</nav> e"
    val rt = Warc.parse(Warc.build(Seq((13L, hostile))))
      .filter(_.warcType == "response")
      .map(r => Warc.extractMain(Warc.httpBody(r.payload)))
    assert(rt == Seq(hostile), s"hostile text corrupted: $rt")
    // an HTTP message lying about its Content-Length is caught
    val lying = ("HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nshort").getBytes
    intercept[IllegalArgumentException] { Warc.httpBody(lying) }
  }

  test("GVC temporal prediction (q176): exact reconstruction, residual stream honest, container index consistent") {
    import graft.operators.{Avi, Gvc, Multimodal}
    val (w, h, nf, doc) = (9, 5, 4, 77L)
    val rasters = (0 until nf).map { f =>
      Array.tabulate(w * h)(i => Multimodal.gvcExpected(doc, i % w, i / w, f))
    }
    val payloads = Gvc.encodeFrames(rasters, w, h)
    // the stream IS keyframe + residuals: frame 0 intra, later payloads
    // store cur − prev (+128), not the raw frame
    assert(payloads.head(0) == Gvc.MagicKey &&
      payloads.tail.forall(_(0) == Gvc.MagicPred))
    for (f <- 1 until nf; i <- 0 until w * h)
      assert((payloads(f)(i + 1) & 0xff) - 128 == rasters(f)(i) - rasters(f - 1)(i))
    // prediction-threaded decode reconstructs every frame EXACTLY
    val decoded = Gvc.decodeFrames(payloads, w, h)
    decoded.zip(rasters).foreach { case (d, r) =>
      assert(d.raster.sameElements(r), "P-frame reconstruction drifted")
    }
    assert(decoded.head.residAbsSum == 0L && decoded.tail.forall(_.residAbsSum > 0L))
    // container: idx1 marks ONLY the intra frame as seekable
    val avi = Multimodal.encodeGvcAvi(doc, w, h, nf)
    assert(Avi.idx1Flags(avi).map(f => (f & 0x10) != 0) ==
      (0 until nf).map(_ == 0))
    assert(Avi.headerDims(avi) == ((w, h)))
    // loudness: a predicted frame with no history; a keyframe-flag lie
    intercept[IllegalArgumentException] {
      Gvc.decodeFrames(payloads.tail, w, h)
    }
    intercept[IllegalArgumentException] { // payload size vs container dims
      Gvc.decodeFrames(payloads, w + 1, h)
    }
    // residuals outside the byte range refuse rather than clamp
    intercept[IllegalArgumentException] {
      Gvc.encodeFrames(Seq(Array.fill(4)(0), Array.fill(4)(200)), 2, 2)
    }
    // an idx1 that flags a P-frame as a keyframe is caught by the
    // decode stage's cross-check (a seeking player would decode garbage)
    val lyingAvi = Avi.mux(payloads, w, h, fps = 5, codec = "GVC1",
      keyframes = Some(Seq.fill(nf)(true)))
    val ds = spark.createDataset(Seq(Multimodal.MediaRow(doc, lyingAvi)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val ex = intercept[Exception] {
      Multimodal.decodeGvcVideos(spark, ds).collect()
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    assert(msgs(ex).contains("idx1 keyframe flag disagrees"))
  }

  test("GVC-Q quantized tier (q187): error bounded at every frame, entropy stage lossless, rate below raw, corruption loud") {
    import graft.operators.{Gvc, Huff, Multimodal}
    val (w, h, nf, doc) = (16, 12, 5, 41L)
    val rasters = (0 until nf).map { f =>
      Array.tabulate(w * h)(i => Multimodal.gvcExpected(doc, i % w, i / w, f))
    }
    val payloads = Gvc.encodeQuantFrames(rasters, w, h)
    assert(payloads.head(0) == Gvc.MagicKey &&
      payloads.tail.forall(_(0) == Gvc.MagicQuant))
    val decoded = Gvc.decodeQuantFrames(payloads, w, h)
    // closed-loop prediction: |recon − src| ≤ QStep/2 at EVERY frame —
    // including the last, where open-loop quantization would have
    // accumulated (nf−1)·QStep/2 of drift
    decoded.zip(rasters).zipWithIndex.foreach { case ((d, r), f) =>
      val maxErr = d.raster.zip(r).map { case (a, b) => math.abs(a - b) }.max
      assert(maxErr <= Gvc.QStep / 2, s"frame $f error $maxErr exceeds bound")
    }
    assert(decoded.head.qAbsSum == 0L && decoded.tail.forall(_.qAbsSum > 0L))
    // rate: entropy-coded P payloads strictly below the raw frame bytes
    val codedP = payloads.tail.map(_.length.toLong).sum
    assert(codedP < (nf - 1).toLong * (w * h + 1),
      s"entropy coding did not compress: $codedP bytes")
    // the entropy stage itself is LOSSLESS: exact round-trip on skewed,
    // uniform, and degenerate single-symbol streams
    for (syms <- Seq(
        Array.fill(500)(128) ++ Array.fill(20)(130) ++ Array.fill(3)(90),
        Array.tabulate(256)(identity),
        Array.fill(77)(42))) {
      assert(Huff.decode(Huff.encode(syms), 0).sameElements(syms),
        "Huffman round-trip broke")
    }
    // loudness: 'Q' with no keyframe history; a truncated bitstream
    intercept[IllegalArgumentException] {
      Gvc.decodeQuantFrames(payloads.tail, w, h)
    }
    intercept[IllegalArgumentException] {
      Gvc.decodeQuantFrames(
        payloads.init :+ payloads.last.dropRight(4), w, h)
    }
  }

  test("GVC-M motion tier (q191): search finds the true displacement, reconstruction exact, corruption loud") {
    import graft.operators.{Gvc, Multimodal}
    val (w, h, nf, doc) = (20, 15, 5, 13L)
    var sx = 0
    var sy = 0
    val rasters = (0 until nf).map { f =>
      if (f > 0) {
        val (mx, my) = Multimodal.gvmMv(doc, f)
        sx = ((sx + mx) % w + w) % w
        sy = ((sy + my) % h + h) % h
      }
      Array.tabulate(w * h)(i =>
        Multimodal.gvmExpected(doc, ((i % w) + sx) % w, ((i / w) + sy) % h, f))
    }
    val payloads = Gvc.encodeMotionFrames(rasters, w, h)
    assert(payloads.head(0) == Gvc.MagicKey &&
      payloads.tail.forall(_(0) == Gvc.MagicMotion))
    val decoded = Gvc.decodeMotionFrames(payloads, w, h)
    // the search recovers the TRUE per-frame displacement (it was never
    // told it), and motion-compensated reconstruction is exact
    decoded.zipWithIndex.drop(1).foreach { case (d, f) =>
      assert((d.mx, d.my) == Multimodal.gvmMv(doc, f),
        s"frame $f search found (${d.mx},${d.my}), true ${Multimodal.gvmMv(doc, f)}")
      assert(d.raster.sameElements(rasters(f)), s"frame $f reconstruction drifted")
      // the stream carries only the temporal term's residual — far less
      // than the frame energy (the compression story of motion search)
      assert(d.residAbsSum > 0L && d.residAbsSum < rasters(f).map(_.toLong).sum / 2)
    }
    // loudness: motion frame with no history; an out-of-window vector;
    // a truncated payload
    intercept[IllegalArgumentException] {
      Gvc.decodeMotionFrames(payloads.tail, w, h)
    }
    val badMv = payloads(1).clone()
    badMv(1) = (Gvc.SearchR + 1 + 128).toByte
    intercept[IllegalArgumentException] {
      Gvc.decodeMotionFrames(Seq(payloads.head, badMv), w, h)
    }
    intercept[IllegalArgumentException] {
      Gvc.decodeMotionFrames(Seq(payloads.head, payloads(1).dropRight(1)), w, h)
    }
  }

  test("GVC-B block motion (q194): each block's search finds its band's velocity, one vector cannot serve both") {
    import graft.operators.{Gvc, Multimodal}
    val (w, h, nf, doc) = (20, 16, 4, 29L)
    val h1 = (h / 8) * 4
    var sx0 = 0
    var sx1 = 0
    val rasters = (0 until nf).map { f =>
      if (f > 0) {
        sx0 = ((sx0 + Multimodal.gvbBandVel(doc, 0, f)) % w + w) % w
        sx1 = ((sx1 + Multimodal.gvbBandVel(doc, 1, f)) % w + w) % w
      }
      Array.tabulate(w * h) { i =>
        val (x, y) = (i % w, i / w)
        val band = if (y < h1) 0 else 1
        val sx = if (band == 0) sx0 else sx1
        Multimodal.gvbExpected(doc, (x + sx) % w, y, band, f)
      }
    }
    val payloads = Gvc.encodeBlockMotionFrames(rasters, w, h)
    val decoded = Gvc.decodeBlockMotionFrames(payloads, w, h)
    decoded.zipWithIndex.drop(1).foreach { case (d, f) =>
      // every block recovered ITS band's true velocity (it was told
      // neither), and the two bands genuinely move differently on at
      // least one frame (asserted below)
      d.mvs.zipWithIndex.foreach { case ((mx, my), b) =>
        val band = if (b * Gvc.BlockRows < h1) 0 else 1
        assert((mx, my) == ((Multimodal.gvbBandVel(doc, band, f), 0)),
          s"frame $f block $b (band $band) found ($mx,$my)")
      }
      assert(d.raster.sameElements(rasters(f)), s"frame $f reconstruction drifted")
    }
    assert((1 until nf).exists(f =>
      Multimodal.gvbBandVel(doc, 0, f) != Multimodal.gvbBandVel(doc, 1, f)),
      "fixture degenerate: bands never diverge")
    // loudness: an unaligned height; a truncated vector table
    intercept[IllegalArgumentException] {
      Gvc.encodeBlockMotionFrames(Seq(Array.fill(20 * 10)(1)), 20, 10)
    }
    intercept[IllegalArgumentException] {
      Gvc.decodeBlockMotionFrames(
        Seq(payloads.head, payloads(1).dropRight(1)), w, h)
    }
  }

  test("GVC-V full P-frame (q196): search tracks motion on quantized recon, error bounded, rate below raw") {
    import graft.operators.{Gvc, Multimodal}
    val (w, h, nf, doc) = (20, 15, 5, 61L)
    val rasters = Multimodal.gvmRasters(doc, w, h, nf)
    val payloads = Gvc.encodeFullFrames(rasters, w, h)
    assert(payloads.head(0) == Gvc.MagicKey &&
      payloads.tail.forall(_(0) == Gvc.MagicFull))
    val decoded = Gvc.decodeFullFrames(payloads, w, h)
    decoded.zipWithIndex.drop(1).foreach { case (d, f) =>
      // the search recovered the true displacement even though its
      // reference is the QUANTIZED reconstruction (±QStep/2 noise)
      assert((d.mx, d.my) == Multimodal.gvmMv(doc, f),
        s"frame $f search found (${d.mx},${d.my})")
      // closed loop end to end: error bounded at EVERY frame while the
      // content scrolls — no drift through motion + quantization
      val maxErr = d.raster.zip(rasters(f)).map {
        case (a, b) => math.abs(a - b) }.max
      assert(maxErr <= Gvc.QStep / 2, s"frame $f error $maxErr exceeds bound")
      // entropy-coded P payload strictly below raw
      assert(d.payloadBytes < w * h + 1, s"frame $f did not compress")
    }
    // corruption loudness: no history; truncated stream (loud require,
    // never an index error); a 2-byte stub; trailing garbage after the
    // entropy-coded bytes (decodeStrict's exact-consumption pin)
    intercept[IllegalArgumentException] {
      Gvc.decodeFullFrames(payloads.tail, w, h)
    }
    intercept[IllegalArgumentException] {
      Gvc.decodeFullFrames(payloads.init :+ payloads.last.dropRight(4), w, h)
    }
    intercept[IllegalArgumentException] {
      Gvc.decodeFullFrames(payloads.init :+ payloads.last.take(2), w, h)
    }
    intercept[IllegalArgumentException] {
      Gvc.decodeFullFrames(payloads.init :+ (payloads.last :+ 0x7f.toByte),
        w, h)
    }
  }

  test("AVI mux -> RIFF demux: frame payloads byte-exact, header consistent, truncation loud") {
    import graft.operators.Avi
    val frames = Seq(Array.tabulate[Byte](33)(i => (i * 3).toByte),
      Array.tabulate[Byte](40)(i => (i + 5).toByte),
      Array[Byte](1)) // odd length exercises even-byte chunk padding
    val avi = Avi.mux(frames, 16, 16, fps = 5)
    // magic + demux fidelity: '00dc' payloads come back byte-identical
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
    val out = Avi.demux(avi)
    assert(out.size == frames.size)
    frames.zip(out).zipWithIndex.foreach { case ((exp, got), i) =>
      assert(java.util.Arrays.equals(exp, got), s"frame $i payload drifted")
    }
    // the avih header's dwTotalFrames must agree with the movi stream
    assert(Avi.headerTotalFrames(avi) == frames.size)
    // malformed input fails loudly, never returns partial frames
    intercept[IllegalArgumentException] {
      Avi.demux(java.util.Arrays.copyOfRange(avi, 0, avi.length - 6))
    }
    intercept[IllegalArgumentException] { Avi.demux("nope".getBytes) }
  }

  test("q168 MJPEG fidelity: the lossy decode stays within tolerance with margin") {
    import graft.operators.Multimodal
    import spark.implicits._
    // a denser check than the query's boolean: decode one doc's AVI
    // locally and measure the actual mean error, to know the tolerance
    // isn't green by luck (want ≤ 2 where the gate allows 4)
    val avi = Multimodal.encodeMjpegAvi(9L, 24, 20, 3)
    val frames = graft.operators.Avi.demux(avi)
    assert(frames.size == 3)
    var err = 0L; var n = 0L
    frames.zipWithIndex.foreach { case (jpeg, f) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        err += math.abs(img.getRaster.getSample(x, y, 0) -
          Multimodal.mjpegExpected(9L, x, y, f)).toLong
        n += 1
      }
    }
    assert(err <= 2L * n, s"mean abs error ${err.toDouble / n} leaves no margin under the 4.0 gate")
  }

  test("q170/q171 PQ: codes in range, full top-k per probe, ADC == reconstruction distance") {
    import graft.operators.{Pq, Similarity}
    val codes = SparkEntry.queries("q170_pq_encode")(spark, Sf).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      (1 to Pq.SubSpaces).foreach { c =>
        val v = r.getLong(c)
        assert(v >= 0 && v < Pq.K, s"code out of range: $v in ${r}")
      }
    }
    val adc = SparkEntry.queries("q171_pq_adc_topk")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byProbe = adc.groupBy(_._1)
    byProbe.foreach { case (p, rows) =>
      assert(rows.length == Pq.TopK, s"probe $p returned ${rows.length} rows")
      assert(rows.map(_._2).sorted.toSeq == (1L to Pq.TopK.toLong).toSeq)
      assert(!rows.map(_._3).contains(p), s"probe $p matched itself")
    }
    // PQ's defining identity: ADC(p, x) == ||p − reconstruct(x)||² where
    // reconstruct(x) concatenates x's per-subspace centroids. A
    // driver-side reference implementation rebuilds the whole ranking
    // from (codes, codebooks) and must reproduce the query's top-k
    // exactly. (On THIS near-uniform driver fixture the identity is
    // what's checkable; RECALL is measured and floor-pinned on the
    // planted-cluster AnnFixture — see the "planted-neighbor recall"
    // test: cluster-recall@10 ≥ 0.95 for q171/q173/q177, residual
    // twin-recall@10 ≥ 0.60 — r11 verdict item 1.)
    val vecs = Similarity.withQuantized(Tables(spark, Sf, "embeddings"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val books = Pq.trainedBooks(spark, Sf)
    val codeMap = codes.map(r => r.getLong(0) ->
      (1 to Pq.SubSpaces).map(r.getLong).toArray).toMap
    def adcRef(p: Long, x: Long): Double = {
      val pv = vecs(p)
      var total = 0.0
      var m = 0
      while (m < Pq.SubSpaces) {
        val cent = books(m).find(_._1 == codeMap(x)(m)).get._2
        var s = 0.0; var i = 0
        while (i < Pq.SubDim) {
          val d = pv(m * Pq.SubDim + i).toDouble - cent(i)
          s += d * d; i += 1
        }
        total += s; m += 1
      }
      total
    }
    byProbe.foreach { case (p, rows) =>
      val ref = vecs.keys.filter(_ != p).toSeq
        .map(x => (adcRef(p, x), x)).sorted.take(Pq.TopK).map(_._2)
      assert(rows.sortBy(_._2).map(_._3).toSeq == ref,
        s"probe $p: query ADC ranking != reconstruction-distance reference")
    }
    // the quantizer must actually compress structure: mean reconstruction
    // error strictly below the corpus variance (Lloyd's beats the
    // one-centroid trivial quantizer)
    val meanVec = {
      val dim = Pq.SubSpaces * Pq.SubDim
      val acc = new Array[Double](dim)
      vecs.values.foreach { v =>
        var i = 0; while (i < dim) { acc(i) += v(i).toDouble; i += 1 }
      }
      acc.map(_ / vecs.size)
    }
    def reconErr(x: Long): Double = {
      val v = vecs(x)
      (0 until Pq.SubSpaces).map { m =>
        val cent = books(m).find(_._1 == codeMap(x)(m)).get._2
        (0 until Pq.SubDim).map { i =>
          val d = v(m * Pq.SubDim + i).toDouble - cent(i); d * d
        }.sum
      }.sum
    }
    val mse = vecs.keys.map(reconErr).sum / vecs.size
    val variance = vecs.values.map { v =>
      v.zip(meanVec).map { case (x, mu) => (x - mu) * (x - mu) }.sum
    }.sum / vecs.size
    assert(mse < variance,
      s"PQ reconstruction MSE $mse not below corpus variance $variance")
  }

  test("q173 IVF+ADC == driver-side reference: cell pruning + ADC ranking") {
    import graft.operators.{Pq, Similarity}
    val base = Similarity.withQuantized(Tables(spark, Sf, "embeddings"))
    val vecs = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val coarse = Pq.trainSlice(base, 1, Pq.SubSpaces * Pq.SubDim, Pq.CoarseK)
    val books = (0 until Pq.SubSpaces).map(m => Pq.trainSub(base, m))
    // reference model: NearestCentroid's exact fold for cells and codes
    def d2(xd: Array[Double], c: Array[Double]): Double = {
      var xdot = 0.0; var acc = 0.0; var cc = 0.0; var i = 0
      while (i < xd.length) {
        xdot += xd(i) * xd(i); acc += xd(i) * c(i); cc += c(i) * c(i); i += 1
      }
      (xdot - 2.0 * acc) + cc
    }
    def argminId(xd: Array[Double], cents: Seq[(Long, Array[Double])]): Long =
      cents.map { case (id, c) => (d2(xd, c), id) }
        .reduceLeft((a, b) => if (b._1 < a._1) b else a)._2 // strict <, asc scan
    def cellOf(v: Array[Long]): Long = argminId(v.map(_.toDouble), coarse)
    def codesOf(v: Array[Long]): Seq[Long] = (0 until Pq.SubSpaces).map { m =>
      argminId(v.slice(m * Pq.SubDim, (m + 1) * Pq.SubDim).map(_.toDouble),
        books(m))
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def probeGate(id: Long): Boolean = md.digest(s"pqprobe:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 2) >= Pq.ProbeGate
    val cellMap = vecs.map { case (id, v) => id -> cellOf(v) }
    val codeMap = vecs.map { case (id, v) => id -> codesOf(v) }
    val out = SparkEntry.queries("q173_ivf_adc")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (p, rows) =>
      assert(probeGate(p), s"non-gated probe $p in the output")
      val pv = vecs(p)
      val probedCells = coarse.map { case (cid, c) =>
        (d2(pv.map(_.toDouble), c), cid)
      }.sorted.take(Pq.NProbe).map(_._2).toSet
      // pruning: every hit's cell is a probed cell
      rows.foreach { case (_, _, v) =>
        assert(probedCells.contains(cellMap(v)), s"probe $p hit $v outside its cells")
      }
      // full ranking equality vs the reference ADC over probed cells
      val ref = vecs.keys
        .filter(x => x != p && probedCells.contains(cellMap(x))).toSeq
        .map { x =>
          val dd = (0 until Pq.SubSpaces).map { m =>
            val c = books(m).find(_._1 == codeMap(x)(m)).get._2
            var s = 0.0; var i = 0
            while (i < Pq.SubDim) {
              val d = pv(m * Pq.SubDim + i).toDouble - c(i); s += d * d; i += 1
            }
            s
          }.reduceLeft(_ + _)
          (dd, x)
        }.sorted.take(Pq.TopK).map(_._2)
      assert(rows.sortBy(_._2).map(_._3).toSeq == ref,
        s"probe $p: IVF-ADC ranking != reference")
    }
  }

  test("q177 residual IVF-PQ: residual SSE beats whole-vector PQ with margin (independent reference)") {
    import graft.operators.{Pq, Similarity}
    val base = Similarity.withQuantized(Tables(spark, Sf, "embeddings"))
    val vecs = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray.map(_.toDouble))
      .toMap
    def d2(x: Array[Double], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { val d = x(i) - c(i); s += d * d; i += 1 }
      s
    }
    def argmin(x: Array[Double], cents: Seq[(Long, Array[Double])]): (Long, Double) =
      cents.map { case (id, c) => (d2(x, c), id) }
        .reduceLeft((a, b) => if (b._1 < a._1) b else a) match {
        case (d, id) => (id, d)
      }
    // cell inventory: the ENGINE's exact-fold coarse quantizer (the q173
    // test's discipline — bit-identical assignment arithmetic)
    val coarseE = Pq.trainSlice(base, 1, Pq.SubSpaces * Pq.SubDim, Pq.CoarseK)
    def foldD2(x: Array[Double], c: Array[Double]): Double = {
      var xdot = 0.0; var acc = 0.0; var cc = 0.0; var i = 0
      while (i < x.length) {
        xdot += x(i) * x(i); acc += x(i) * c(i); cc += c(i) * c(i); i += 1
      }
      (xdot - 2.0 * acc) + cc
    }
    val cellOf = vecs.map { case (id, v) =>
      id -> coarseE.map { case (cid, c) => (foldD2(v, c), cid) }
        .reduceLeft((a, b) => if (b._1 < a._1) b else a)._2
    }
    // residuals against the engine's coarse centroids; the SSE
    // comparison runs on an INDEPENDENT plain-Scala Lloyd (same
    // init/tie-break discipline, its own arithmetic) so the engine is
    // not grading its own homework
    def lloyd(pts: Seq[(Long, Array[Double])], k: Int): Seq[(Long, Array[Double])] = {
      var cents: Seq[(Long, Array[Double])] = pts.sortBy(_._1).take(k)
        .zipWithIndex.map { case ((_, v), j) => (j.toLong, v.clone()) }
      for (_ <- 0 until Pq.Iters) {
        cents = pts.map { case (_, v) => (argmin(v, cents)._1, v) }
          .groupBy(_._1).toSeq.sortBy(_._1).map { case (j, vs) =>
            val m = new Array[Double](vs.head._2.length)
            vs.foreach(t => for (i <- m.indices) m(i) += t._2(i))
            for (i <- m.indices) m(i) /= vs.length
            (j, m)
          }
      }
      cents
    }
    val resid = vecs.map { case (id, v) =>
      id -> v.zip(coarseE.find(_._1 == cellOf(id)).get._2).map(t => t._1 - t._2)
    }
    def subSse(data: Map[Long, Array[Double]]): Double =
      (0 until Pq.SubSpaces).map { m =>
        val pts = data.toSeq.sortBy(_._1).map { case (id, v) =>
          (id, v.slice(m * Pq.SubDim, (m + 1) * Pq.SubDim))
        }
        val book = lloyd(pts, Pq.K)
        pts.map { case (_, x) => argmin(x, book)._2 }.sum
      }.sum
    val ssePq = subSse(vecs)
    val sseIvf = subSse(resid)
    // the refinement's falsifiable promise, with real margin: residual
    // encoding must cut reconstruction SSE, not merely tie
    assert(sseIvf < ssePq * 0.99,
      f"residual PQ SSE $sseIvf%.1f not below whole-vector PQ $ssePq%.1f by ≥1%%")
    // the registered query agrees: verdict TRUE everywhere, cells exact
    val out = SparkEntry.queries("q177_residual_ivfpq")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty && out.forall(_._3), "q177 verdict not TRUE")
    val refCells = cellOf.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    assert(out.map(t => t._1 -> t._2).toMap == refCells,
      "q177 cell inventory != engine-fold coarse assignment")
    assert(out.map(_._2).sum == vecs.size.toLong)
  }

  test("q179 suffix-doubling scrub: membership ≡ q159's gram formulation at n=50; exact classes loud") {
    import graft.operators.{Curation, SuffixScrub}
    // the verdict contract: the prefix-doubling tier must compute the
    // SAME scrub as the positional-gram tier at the same granularity —
    // row-identical output on the shared fixture
    val viaGrams = Curation.dupspanScrub(
      Tables(spark, Sf, "documents"), SuffixScrub.N)
      .collect().map(_.toSeq).toSeq
    val viaSa = SparkEntry.queries("q179_dupspan_scrub_sa")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(viaSa == viaGrams,
      "suffix-doubling scrub membership drifted from the gram tier at n=50")
    // the fixture exercises the operator: duplicated 50-gram spans exist
    val removed = viaSa.map(r => r(2) match {
      case l: Long => l
      case _ => 0L
    }).sum
    assert(removed > 0L, "fixture has no duplicated 50-gram spans to scrub")
    // the Stride guard is loud, not silent
    intercept[IllegalArgumentException] {
      val wide = spark.range(1).selectExpr("id AS doc_id",
        s"array_join(transform(sequence(1, ${SuffixScrub.Stride.toInt + 1}), " +
          "x -> 'w'), ' ') AS text")
      SuffixScrub.saDupspanScrub(wide, SuffixScrub.N).collect()
    }
  }

  test("q174 pipeline: full-funnel membership == driver reference; packing arithmetic self-consistent") {
    import graft.operators.{Pipeline, Warc}
    val raw = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        Option(r.getString(3))))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex2(s: String): String = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2)
    }
    // driver-side reference of the WHOLE extended funnel (r11): suffix →
    // gate → keep-lowest dedup → holdout split → 13-gram decon → erasure
    val suffixed = raw.collect { case (id, Some(t), Some(l), Some(s)) =>
      (id, t + Warc.NonAsciiProbe, l, s)
    }
    val gated = suffixed.filter { case (_, t, l, _) =>
      t.length >= Pipeline.MinChars && Pipeline.Langs.contains(l)
    }
    val dedup = gated.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    val (vals, train) = dedup.partition { case (id, _, _, _) =>
      md5hex2(s"split:$id") >= Pipeline.ValGate
    }
    def grams(t: String): Set[Seq[String]] =
      t.split(" ").sliding(Pipeline.DeconGram)
        .filter(_.length == Pipeline.DeconGram).map(_.toSeq).toSet
    val holdGrams = vals.flatMap(v => grams(v._2)).toSet
    val decon = train.filter(d => grams(d._2).intersect(holdGrams).isEmpty)
    val clean = decon.filter(d => md5hex2(s"erase:${d._1}") >= Pipeline.EraseGate)
    val expect = clean.map(_._1).toSet
    val out = SparkEntry.queries("q174_crawl_to_training")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    assert(out.map(_._1).toSet == expect,
      "q174 survivor set != driver-side funnel reference")
    // metadata rode the WARC headers losslessly
    val meta = suffixed.map(d => d._1 -> (d._3, d._4)).toMap
    out.foreach { case (id, src, lang, _, _) =>
      assert((lang, src) == meta(id), s"doc $id metadata drifted")
    }
    // packing: recompute seq_id from the output's own (source, doc_id,
    // n_bpe) order — formula consistency, not oracle duplication
    out.groupBy(_._2).foreach { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, _, nBpe, seqId) =>
        assert(seqId == cum / Pipeline.SeqLen,
          s"doc $id in $src: seq_id $seqId != floor($cum/${Pipeline.SeqLen})")
        cum += nBpe
      }
    }
    // q180's audit reconciles with q174's detail: per-source n_clean ==
    // the detail row counts, and attrition is monotone stage to stage
    val audit = SparkEntry.queries("q180_pipeline_audit")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(audit.nonEmpty)
    val detailBySrc = out.groupBy(_._2).map { case (s, rs) => s -> rs.length.toLong }
    audit.foreach { case (s, p, g, d, t, dc, c) =>
      assert(p >= g && g >= d && d >= t && t >= dc && dc >= c,
        s"source $s: attrition not monotone ($p,$g,$d,$t,$dc,$c)")
      assert(c == detailBySrc.getOrElse(s, 0L),
        s"source $s: audit n_clean $c != q174 detail rows")
    }
    // the funnel's new stages actually fire on the fixture
    assert(audit.map(_._5).sum > audit.map(_._6).sum ||
      audit.map(_._6).sum > audit.map(_._7).sum,
      "neither decon nor erasure removed anything — fixture not exercising the stages")
    // q185 (the q151-scan packing variant) is row-for-row q174: same
    // funnel, same packing RULE, different physical strategy — the
    // hot-source-proof composition must be value-identical (r12)
    val scan = SparkEntry.queries("q185_crawl_to_training_scan")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(scan.toSeq == out.toSeq,
      "q185 scan-packed pipeline != q174 window-packed pipeline")
  }

  test("q175 preference pairs: chosen/rejected are the true extremes, margin filter honored") {
    import graft.operators.Behavior
    val scores = Tables(spark, Sf, "events")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .filter(col("k").isNotNull)
      .collect().groupBy(_.getLong(0)).map { case (u, rows) =>
        u -> rows.groupBy(_.getLong(1))
          .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
      }
    val out = SparkEntry.queries("q175_preference_pairs")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.foreach { case (u, chosen, rejected, margin, nItems) =>
      val s = scores(u)
      assert(chosen != rejected)
      assert(nItems == s.size.toLong)
      // true extremes with the declared tie-breaks
      val top = s.toSeq.maxBy { case (k, v) => (v, -k) }
      val bot = s.toSeq.minBy { case (k, v) => (v, -k) }
      assert(chosen == top._1 && rejected == bot._1,
        s"user $u: ($chosen,$rejected) != reference (${top._1},${bot._1})")
      assert(margin == top._2 - bot._2 && margin >= Behavior.MinMarginCents)
    }
    // the filter actually excludes someone (fixture sanity)
    val excluded = scores.keySet -- out.map(_._1).toSet
    excluded.foreach { u =>
      val s = scores(u)
      val ok = s.size >= 2 &&
        s.values.max - s.values.min >= Behavior.MinMarginCents
      assert(!ok, s"user $u passes the margin filter but was excluded")
    }
  }

  test("q153 importance scores separate the target distribution from the raw corpus") {
    // the discriminative property the DSIR-style weight exists for: docs
    // drawn from the target (English) subset must average a higher
    // importance score than the rest — and the global score mass is
    // conserved only through the bucket identity, so check it end-to-end
    val scores = SparkEntry.queries("q153_importance_reweight")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val langs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (tgt, rest) = scores.partition { case (id, _) => langs(id) == "en" }
    def mean(m: Map[Long, Long]): Double =
      m.values.map(_.toDouble).sum / m.size
    assert(tgt.nonEmpty && rest.nonEmpty, "fixture must carry both classes")
    assert(mean(tgt) > mean(rest),
      s"target-class mean score ${mean(tgt)} must exceed raw ${mean(rest)}")
    val selected = SparkEntry.queries("q153_importance_reweight")(spark, Sf)
      .collect().filter(_.getLong(2) == 1L).map(_.getLong(0)).toSet
    assert(selected == scores.filter(_._2 > 0L).keySet,
      "selected must be exactly the positive-score docs")
  }

  test("q154 k-center coreset: 8 self-covered centers, max-min farthest-first picks") {
    val rows = SparkEntry.queries("q154_kcenter_coreset")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val centers = rows.map(_._2).distinct
    assert(centers.length == 8, s"expected 8 centers, got ${centers.length}")
    // every center covers itself at distance zero
    val self = rows.filter(r => centers.contains(r._1))
    assert(self.forall(_._3 == 0L), "a center's own assignment must be d2=0")
    assert(rows.forall(_._3 >= 0L), "squared distances are nonnegative")
    // farthest-first: the point assigned with the LARGEST d2 (the next
    // would-be center) must be farther from its center than every
    // non-center point would be after adding it — weak form: no
    // non-center point sits farther than the greedy's final radius from
    // ALL centers (true by construction; guards a broken min-distance)
    val radius = rows.map(_._3).max
    assert(radius > 0L, "degenerate coreset: all points identical")
  }

  test("q148's histogram rank-cut reproduces q138's kept flags exactly") {
    // same 30% rule, same score — (doc_id → kept) must agree row-for-row
    val viaHistogram = SparkEntry
      .queries("q148_quality_gate_scalable")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val viaWindow = SparkEntry.queries("q138_quality_gate")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(viaHistogram == viaWindow,
      s"rank-cut drifted from the window rule on " +
        s"${viaHistogram.collect { case (k, v) if viaWindow.get(k) != Some(v) => k }
          .toSeq.sorted.take(5)}")
  }

  test("q149's hash-cutoff candidate pool reproduces q93's quota selection exactly") {
    val viaCutoff = SparkEntry
      .queries("q149_temperature_mix_scalable")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val viaFullRank = SparkEntry.queries("q93_temperature_mix")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(viaCutoff == viaFullRank,
      "candidate-pool ranking drifted from the full per-source rank")
  }

  test("q150 frame dedup reconciles with q56's frame inventory") {
    val dedup = SparkEntry.queries("q150_frame_dedup")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val frames = SparkEntry.queries("q56_frame_sample")(spark, Sf).collect()
    val framesPerDoc = frames.groupBy(_.getLong(0)).view.mapValues(_.length.toLong)
    // every frame is either canonical or a dupe, per doc and in total
    dedup.foreach { case (doc, n, canon, dupes) =>
      assert(canon + dupes == n, s"doc $doc: $canon + $dupes != $n")
      assert(framesPerDoc(doc) == n, s"doc $doc: frame count drifted from q56")
    }
    // canonical copies biject with distinct frame contents corpus-wide
    val distinctFrames = frames.map(_.getString(3)).distinct.length.toLong
    assert(dedup.map(_._3).sum == distinctFrames,
      "sum of canonical frames must equal the distinct-frame count")
  }

  test("q155's Bloom gate never drops a true member and actually prunes") {
    import graft.operators.Curation
    val tagged = Curation.erasureTagged(spark, Sf)
    val deny = Curation.erasureDenyList(spark, Sf)
    // no false negatives: every deny-listed user's events probe `might`
    assert(tagged.join(deny, "user_id").filter(!col("might")).count() == 0,
      "a deny-listed event escaped the Bloom gate — false negative")
    // the gate is a gate: the exact anti-join only ever sees the flagged
    // sliver, which must be far smaller than the corpus (deny list is
    // ~10% of users; fpp at this geometry is negligible)
    val total = tagged.count()
    val flagged = tagged.filter(col("might")).count()
    assert(flagged < total / 2, s"Bloom gate stopped pruning: $flagged/$total")
    // end-to-end: bloom-gate + exact verify == the plain anti-join
    val viaBloom = SparkEntry.queries("q155_erasure_scrub")(spark, Sf)
    val naive = Tables(spark, Sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(deny, Seq("user_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"))
    assert(viaBloom.exceptAll(naive).count() == 0 &&
      naive.exceptAll(viaBloom).count() == 0,
      "bloom-pruned scrub drifted from the exact anti-join")
  }

  test("q158's sketch gate reproduces q81's contamination exactly; the probe never lies negative") {
    import graft.functions.TextOps
    // end-to-end: bloom-gated two-phase ≡ the broadcast hit-join tier
    val viaBloom = SparkEntry.queries("q158_decontaminate_bloom")(spark, Sf)
    val viaJoin = SparkEntry.queries("q81_decontaminate")(spark, Sf)
    assert(viaBloom.exceptAll(viaJoin).count() == 0 &&
      viaJoin.exceptAll(viaBloom).count() == 0,
      "sketch-tier membership drifted from the exact hit-join")
    // sketch contract, probed directly through the expression: every
    // inserted key answers true (scalar mode)...
    val keys = spark.range(1000).select((col("id") * 2654435761L).as("k"))
    val bf = keys.stat.bloomFilter("k", 1000, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bits = spark.sparkContext.broadcast(bos.toByteArray)
    assert(keys.filter(!TextOps.bloomAnyContain(col("k"), bits)).count() == 0,
      "a member key probed false — the sketch broke its no-false-negative contract")
    // ...and non-member ARRAYS pass the gate at ~the configured fpp,
    // not wholesale (array mode; 3 probes/row → expect ~3% flagged)
    val junk = spark.range(1000).select(array((col("id") + 1000000L) * 7L,
      (col("id") + 2000000L) * 11L, (col("id") + 3000000L) * 13L).as("ks"))
    val fp = junk.filter(TextOps.bloomAnyContain(col("ks"), bits)).count()
    assert(fp < 200, s"Bloom gate stopped pruning: $fp/1000 non-members flagged")
    // null array → null → filtered out, never a crash or a hit
    val withNull = spark.range(2).select(
      when(col("id") === 0, array(lit(1L))).as("ks"))
    assert(withNull.filter(TextOps.bloomAnyContain(col("ks"), bits)).count() <= 1)
  }

  test("q159 removes exactly the tokens covered by cross-corpus duplicate spans") {
    import spark.implicits._
    // docs 1 and 2 share the 5-gram "alpha beta gamma delta epsilon";
    // doc 3 is fully unique; doc 4 is too short to form any 5-gram;
    // doc 5 has NULL text. Nothing else repeats.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon one two three four five six"),
      (2L, "seven eight alpha beta gamma delta epsilon nine ten eleven"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8"),
      (4L, "tiny doc"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = graft.operators.Curation.dupspanScrub(corpus, 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    // shared span excised from BOTH owners, flanks intact
    assert(out(1L).getString(3) == "one two three four five six")
    assert(out(1L).getLong(2) == 5L)
    assert(out(2L).getString(3) == "seven eight nine ten eleven")
    assert(out(2L).getLong(2) == 5L)
    // unique and sub-width docs pass through untouched
    assert(out(3L).getLong(2) == 0L && out(3L).getString(3) == "u1 u2 u3 u4 u5 u6 u7 u8")
    assert(out(4L).getLong(2) == 0L && out(4L).getString(3) == "tiny doc")
    // NULL text propagates as NULL, not as an empty rewrite
    assert(out(5L).isNullAt(1) && out(5L).isNullAt(2) && out(5L).isNullAt(3))
    // conservation on the real fixture: clean token count + removed =
    // original, and removal never exceeds the doc
    val fx = SparkEntry.queries("q159_dupspan_scrub")(spark, Sf)
      .filter(col("n_tokens").isNotNull)
      .filter(col("n_removed") < 0L || col("n_removed") > col("n_tokens") ||
        (col("n_tokens") - col("n_removed")) =!=
          when(col("text_clean") === "", 0L)
            .otherwise(size(split(col("text_clean"), " ")).cast("long")))
    assert(fx.count() == 0, "token conservation broke on the fixture")
  }

  test("q161 greedy coverage: gains non-increasing, picks distinct, totals conserve") {
    import graft.functions.TextOps
    val rows = SparkEntry.queries("q161_maxcover_select")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // no doc is ever selected twice
    assert(rows.map(_._2).distinct.length == rows.length)
    // submodularity: the greedy's marginal gains are non-increasing
    val gains = rows.map(_._3)
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"marginal gains increased: ${gains.mkString(",")}")
    // covered_total is exactly the running sum of gains
    assert(gains.scanLeft(0L)(_ + _).tail.toSeq == rows.map(_._4).toSeq)
    // round 1 takes the globally richest document
    val maxSh = Tables(spark, Sf, "documents")
      .select(size(TextOps.shingleHashes(TextOps.tokens(col("text")), 3))
        .cast("long").as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(gains.head == maxSh,
      "round 1 must take the document with the most distinct shingles")
  }

  test("q159 interval-merged rebuild == brute-force span coverage on a boilerplate-heavy long doc") {
    import spark.implicits._
    val n = 5
    // doc 1 is "book-length": a long, highly repetitive boilerplate run
    // (every one of its 5-grams also occurs in doc 2 → one giant chain
    // of overlapping dup spans, the case the interval merge exists for)
    // followed by a unique tail; doc 3 is short and clean
    val boiler = (1 to 300).map(i => s"b${i % 7}").mkString(" ")
    val d1 = boiler + " " + (1 to 200).map(i => s"u$i").mkString(" ")
    val corpus = Seq((1L, d1), (2L, boiler), (3L, "z1 z2 z3 z4 z5 z6"))
      .toDF("doc_id", "text")
    val out = graft.operators.Curation.dupspanScrub(corpus, n)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // brute-force oracle: corpus-wide positional n-gram counts → dup
    // spans → per-token coverage, over token STRINGS (gram-hash
    // identity == string identity absent collisions, the operator's
    // own documented assumption)
    val toks = Map(1L -> d1.split(" "), 2L -> boiler.split(" "),
      3L -> "z1 z2 z3 z4 z5 z6".split(" "))
    val grams = toks.toSeq.flatMap { case (id, ws) =>
      ws.sliding(n).filter(_.length == n).zipWithIndex
        .map { case (g, p) => (id, p, g.mkString(" ")) }
    }
    val dupSet = grams.groupBy(_._3).filter(_._2.size > 1).keySet
    toks.foreach { case (id, ws) =>
      val covered = Array.fill(ws.length)(false)
      grams.filter(g => g._1 == id && dupSet(g._3)).foreach { case (_, p, _) =>
        (p until math.min(p + n, ws.length)).foreach(covered(_) = true)
      }
      val keptToks = ws.indices.filterNot(covered).map(ws)
      val (nTok, nRem, clean) = out(id)
      assert(nTok == ws.length.toLong, s"doc $id token count")
      assert(nRem == covered.count(identity).toLong,
        s"doc $id removed-count drifted from brute force")
      assert(clean == keptToks.mkString(" "),
        s"doc $id rebuilt text drifted from brute force")
    }
    // the merge actually merged: doc 1's 296 overlapping dup spans form
    // ONE chain covering exactly the 300 boilerplate tokens (the bridge
    // grams into the unique tail occur once and scrub nothing)
    assert(out(1L)._2 == 300L, s"expected the full chain scrubbed, got ${out(1L)._2}")
    assert(out(2L)._2 == 300L && out(3L)._2 == 0L)
  }

  test("q161 greedy terminates with the selected prefix when the pool runs dry") {
    import spark.implicits._
    // three eligible docs, k=6: rounds 4-6 see an empty pool and the
    // greedy must return the three selected rows (it NPE'd here pre-r10)
    val tiny = Seq(
      (1L, "a b c d e f"),      // 4 trigram shingles
      (2L, "a b c"),            // 1, subset of doc 1's first
      (3L, "x y z w"),          // 2, disjoint
      (4L, "q")                 // no trigram — never eligible
    ).toDF("doc_id", "text")
    val rows = graft.operators.Curation.maxcoverSelect(tiny, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"greedy order drifted: ${rows.mkString(",")}")
    // doc 2's shingle is covered by doc 1 → zero marginal gain, but it
    // is still selected (fresh-doc rule) before the pool is exhausted
    assert(rows.map(_._3).toSeq == Seq(4L, 2L, 0L),
      s"gains drifted: ${rows.mkString(",")}")
  }

  test("q160 transcripts reconcile with q125's sessionization") {
    import org.apache.spark.sql.expressions.Window
    val tr = SparkEntry.queries("q160_session_transcripts")(spark, Sf)
    // per-(user, session) inventory ≡ q125's assignment
    val a = tr.select(col("user_id"), col("session_seq"), col("n_events"))
    val b = SparkEntry.queries("q125_session_ids")(spark, Sf)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "transcript inventory drifted from q125's session assignment")
    // the rendering is complete: exactly n_events tokens per transcript
    assert(tr.filter(size(split(col("transcript"), " ")).cast("long")
      =!= col("n_events")).count() == 0,
      "a transcript dropped or duplicated events")
    // sessions are genuinely gap-separated: consecutive sessions of a
    // user sit more than 30 minutes apart, and spans are well-formed
    assert(tr.filter(col("t_start") > col("t_end")).count() == 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_seq"))
    val overlapping = tr.withColumn("prev_end", lag(col("t_end"), 1).over(w))
      .filter(col("prev_end").isNotNull)
      .filter(col("t_start") - col("prev_end") <= 1800L * 1000000L)
    assert(overlapping.count() == 0,
      "two sessions of one user are not separated by the 30-minute gap")
  }

  test("q156 pseudonymization is consistent, id-free, and skeleton-lossless") {
    val out = SparkEntry.queries("q156_pseudonymize")(spark, Sf)
      .join(Tables(spark, Sf, "events")
        .select(col("event_id"), col("props"), col("user_id")), "event_id")
    // join preservation: one pseudonym per user, everywhere
    val perUser = out.groupBy(col("user_id"))
      .agg(countDistinct(col("user_pseudo")).as("n"))
      .filter(col("n") =!= 1L).count()
    assert(perUser == 0, "a user received two different pseudonyms")
    // distinct users keep distinct pseudonyms (no 8-hex collision here)
    val users = out.select(col("user_id")).distinct().count()
    val pseudos = out.select(col("user_pseudo")).distinct().count()
    assert(users == pseudos, s"pseudonym collision: $users users, $pseudos pseudonyms")
    // skeleton losslessness: strip pseudonym tokens from the scrub and
    // raw identifiers from the original — the remaining text is equal,
    // so nothing but the identifiers was touched
    val broken = out.filter(
      regexp_replace(col("scrubbed"), "id_[0-9a-f]{8}", "") =!=
        regexp_replace(col("props"), "[0-9]+", "")).count()
    assert(broken == 0, "scrub altered non-identifier text")
    // and the count of replacements matches the count of identifiers
    val miscount = out.filter(col("n_ids") =!=
      size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))).count()
    assert(miscount == 0, "n_ids drifted from the identifier count")
  }

  test("q157 UniMax allocation respects the budget, the cap, and monotone fairness") {
    val rows = SparkEntry.queries("q157_unimax_mix")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val budget = rows.map(_._2).sum
    // conservation: never over-allocates the one-pass budget
    assert(rows.map(_._3).sum <= budget, "allocated more than the budget")
    rows.foreach { case (lang, s, alloc, bp) =>
      // per-language epoch cap: alloc ≤ 6s/5 (1.2 epochs), bp ≤ 12000
      assert(alloc <= 6L * s / 5L, s"$lang over its epoch cap")
      assert(bp <= 12000L, s"$lang epochs_bp $bp over the 1.2-epoch cap")
    }
    // monotone fairness: visiting ascending by size, a larger language
    // never receives less than a smaller one (water-filling invariant)
    val bySize = rows.sortBy(r => (r._2, r._1)).map(_._3)
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a <= b },
      "allocation is not monotone in language size")
  }

  test("q151's distributed scan equals q82's window packing, at any partition count") {
    def rows(name: String) = SparkEntry.queries(name)(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val viaWindow = rows("q82_pack_sequences")
    assert(rows("q151_pack_sequences_scalable") == viaWindow,
      "scan decomposition drifted from the window prefix sums")
    // offsets must absorb any range-boundary placement: the same result
    // under a different partition count (1 partition = degenerate range;
    // 16 = more boundaries than the 4-thread default)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (p <- Seq("1", "16")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        assert(rows("q151_pack_sequences_scalable") == viaWindow,
          s"running totals changed at shuffle.partitions=$p")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q166 BPE trainer: hand-traced greedy on a tiny dict; invariants at sf") {
    import graft.operators.Tokenizer
    // "aaab"×3 + "ab"×2: round 1 pairs = {(a,a):6, (a,b):5} → merge (a,a);
    // the left-to-right replace turns " a a a b " into " aa a b " (the
    // overlap-consumption case), so round 2 pairs = {(aa,a):3, (a,b):3+2}
    // → merge (a,b) at weighted count 5
    val m = Tokenizer.bpeTrain(Seq(("aaab", 3L), ("ab", 2L)), rounds = 2)
    assert(m(0).left == "a" && m(0).right == "a" && m(0).count == 6L)
    assert(m(1).left == "a" && m(1).right == "b" && m(1).merged == "ab"
      && m(1).count == 5L, s"round-2 selection drifted: ${m(1)}")
    // corpus-level invariants
    val rows = SparkEntry.queries("q166_bpe_train")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1L to Tokenizer.MergeRounds).toSeq)
    rows.foreach { case (rk, l, rt, mg, c) =>
      assert(mg == l + rt, s"rank $rk merged != left+right")
      assert(c > 0L, s"rank $rk non-positive pair count")
      assert(!l.contains(" ") && !rt.contains(" "))
    }
  }

  test("BPE alphabet gate (r11): BMP non-ASCII trains and tokenizes; control/astral loud") {
    import spark.implicits._
    import graft.operators.Tokenizer
    // widened alphabet: multi-byte BMP words train fine — "東京東京"×3
    // gives round-1 pairs {(東,京):6, (京,東):3} → merge (東,京); the
    // non-overlapping left-to-right replace consumes the shared space,
    // so " 東 京 東 京 " → " 東京 東 京 " and round 2 ties (東京,東):3
    // vs (東,京):3 — lexicographic tie-break picks (東,京) again
    val m = Tokenizer.bpeTrain(Seq(("東京東京", 3L), ("naïve", 2L)), rounds = 2)
    assert(m(0).left == "東" && m(0).right == "京" && m(0).count == 6L)
    assert(m(1).left == "東" && m(1).right == "京" && m(1).count == 3L,
      s"round-2 selection drifted: ${m(1)}")
    // dict words with chars the engines' per-char splits disagree on
    // still refuse loudly
    intercept[IllegalArgumentException] {
      Tokenizer.bpeTrain(Seq(("a\rb", 1L)), rounds = 1)
    }
    intercept[IllegalArgumentException] {
      Tokenizer.bpeTrain(Seq(("g𝄞clef", 1L)), rounds = 1) // astral
    }
    // corpus-side gate (the r10 ADVICE divergence surface): a doc whose
    // TEXT carries \r or an astral char fails the tokenize pass loudly
    // instead of silently diverging from the oracle's RE2 split
    val merges = Tokenizer.bpeTrain(Seq(("ab", 2L)), rounds = 1)
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    for (bad <- Seq("bad\rtext", "ok g𝄞clef")) {
      val docs = Seq((1L, "ab ab"), (2L, bad)).toDF("doc_id", "text")
      val ex = intercept[Exception] {
        Tokenizer.tokenized(docs, merges).collect()
      }
      assert(msgs(ex).contains("out-of-alphabet"),
        s"expected the loud alphabet gate for '$bad', got: ${msgs(ex)}")
    }
    // NULL text still sails through to the NULL-count path
    val nulls = Seq((1L, "ab"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Tokenizer.tokenized(nulls, merges).orderBy("doc_id").collect()
    assert(r(1).isNullAt(1) && r(1).isNullAt(2))
  }

  test("q167 BPE tokenize: expression chain == driver-side reference segmenter") {
    import graft.operators.Tokenizer
    val merges = Tokenizer.bpeTrain(Tokenizer.wordDictOf(Tables(spark, Sf, "documents")))
    // reference: same spaced-replace pipeline in plain Scala
    def refCount(text: String): Long = text.split(" ", -1).map { w =>
      if (w.isEmpty) 0L
      else {
        var s = " " + w.map(_.toString).mkString(" ") + " "
        merges.foreach(m => s = s.replace(s" ${m.left} ${m.right} ", s" ${m.merged} "))
        s.split(" ").count(_.nonEmpty).toLong
      }
    }.sum
    val docs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val out = SparkEntry.queries("q167_bpe_tokenize")(spark, Sf)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.length == docs.size)
    out.foreach { case (id, nWs, nBpe) =>
      docs(id) match {
        case None => assert(nWs == -1L && nBpe == -1L, s"doc $id: NULL text must yield NULLs")
        case Some(t) =>
          assert(nBpe == refCount(t), s"doc $id: chain != reference")
          assert(nBpe >= nWs, s"doc $id: fewer BPE tokens than words")
          assert(nBpe <= t.count(_ != ' ').toLong, s"doc $id: more tokens than chars")
      }
    }
  }

  // shared shuffle-count pin: walk the final (AQE-unwrapped) tree — the
  // printed form repeats the initial plan and would double-count; a
  // ShuffleQueryStageExec is a LEAF wrapping its materialized Exchange,
  // so counting both names cannot double-count one shuffle.
  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    root.collectWithSubqueries {
      case e if e.nodeName.contains("Exchange") ||
        e.nodeName.contains("ShuffleQueryStage") => e
    }.size
  }

  test("q167 is map-only: no shuffle in the tokenize pass") {
    // the trailing orderBy is presentation; everything upstream of it
    // must be exchange-free (scan → project) — at most the final sort's
    // range partitioning may shuffle.
    val exchanges = shuffleCount(SparkEntry.queries("q167_bpe_tokenize")(spark, Sf))
    assert(exchanges <= 1,
      s"tokenization should shuffle at most once (final sort), got $exchanges")
  }

  test("q178 vocab-map tokenize: row-identical to q167's chain, map entries honest, still map-only") {
    import graft.operators.Tokenizer
    // the fast path and the reference chain must be indistinguishable
    val chain = SparkEntry.queries("q167_bpe_tokenize")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    val vocab = SparkEntry.queries("q178_bpe_tokenize_vocab")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(vocab == chain, "vocab-map tokenize diverged from the chain")
    // every dict word's precomputed segment count == the chain's result
    // for that word in isolation (the map's honesty, word by word)
    val dict = Tokenizer.wordDictOf(Tables(spark, Sf, "documents"))
    val merges = Tokenizer.bpeTrain(dict)
    dict.foreach { case (w, _) =>
      var s = " " + w.map(_.toString).mkString(" ") + " "
      merges.foreach(m => s = s.replace(s" ${m.left} ${m.right} ", s" ${m.merged} "))
      assert(Tokenizer.segmentCount(w, merges) ==
        s.split(" ").count(_.nonEmpty).toLong, s"map entry for '$w' dishonest")
    }
    // the literal map adds no join: still at most the presentation sort
    val exchanges = shuffleCount(
      SparkEntry.queries("q178_bpe_tokenize_vocab")(spark, Sf))
    assert(exchanges <= 1,
      s"vocab tokenize should stay map-only (≤1 exchange), got $exchanges")
  }

  test("q181 vocab export: id layout honest, token conservation vs q167, segmentation closed over the vocab") {
    import graft.operators.Tokenizer
    val merges = Tokenizer.bpeTrain(Tokenizer.wordDictOf(Tables(spark, Sf, "documents")))
    // the fixture's merged strings are distinct — the Σfreq conservation
    // below relies on it (a duplicate string would double-join its freq)
    assert(merges.map(_.merged).distinct.size == merges.size)
    val out = SparkEntry.queries("q181_vocab_export")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // ids are dense 0..n-1; base chars are single chars in binary order,
    // then the merged tokens in merge-rank order
    assert(out.map(_._1).toSeq == out.indices.map(_.toLong))
    val (base, merged) = out.partition(_._2.length == 1)
    assert(base.map(_._2).toSeq == base.map(_._2).sorted.toSeq)
    assert(merged.map(_._2).toSeq == merges.map(_.merged))
    // conservation: every corpus token lands in exactly one vocab row,
    // so Σ freq ≡ Σ q167 n_bpe over non-null docs
    val nBpeTotal = SparkEntry.queries("q167_bpe_tokenize")(spark, Sf)
      .agg(sum(col("n_bpe"))).head().getLong(0)
    assert(out.map(_._3).sum == nBpeTotal,
      s"vocab freqs ${out.map(_._3).sum} != corpus BPE tokens $nBpeTotal")
    // base chars all appear in the corpus (freq > 0 by construction —
    // the alphabet is corpus-derived)
    assert(base.forall(_._3 >= 0L) && out.map(_._3).sum > 0L)
  }

  test("vocabInputs: one SQL execution gives the two-query dict and alphabet; q181 and q215 build with it alone; vocabIds orders chars as Spark's orderBy") {
    import graft.operators.Tokenizer
    import spark.implicits._
    val docs = Tables(spark, Sf, "documents")
    // a corpus whose only U+03A9 is in a word below the dict cap
    val toy = ((1 to 30).map(i => s"w$i w$i") :+ "\u03a9")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (d <- Seq(docs, toy)) {
      // the independent two-query reference: the word dict, and the
      // alphabet as distinct chars over every token OCCURRENCE
      val refDict = Tokenizer.wordDictOf(d)
      val refAlphabet = d.filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("w"))
        .select(explode(filter(split(regexp_replace(col("w"), "(.)", "$1 "), " "),
          c => c =!= "")).as("ch"))
        .distinct().orderBy("ch").collect().map(_.getString(0)).toSeq
      val ((dict, alphabet), _, execs) = startedBy(Tokenizer.vocabInputs(d))
      assert(execs.size == 1, s"vocabInputs ran ${execs.size} SQL executions: $execs")
      assert(dict == refDict)
      assert(alphabet == refAlphabet.toSet && alphabet.size == refAlphabet.size)
      assert(Tokenizer.vocabIds(alphabet, Tokenizer.bpeTrain(dict))
        .take(alphabet.size).map(_._1) == refAlphabet)
    }
    assert(!Tokenizer.wordDictOf(toy).exists(_._1 == "\u03a9"),
      "the toy corpus must keep its rare word out of the dict")
    for (q <- Seq("q181_vocab_export", "q215_wordpiece")) {
      // Tables.spread's partition count is an execution with no job
      val (_, _, built) = startedBy(SparkEntry.queries(q)(spark, Sf))
      val vocab = built.filterNot(_.startsWith("rdd at Tables.scala"))
      assert(vocab.size == 1 && vocab.head.startsWith("collect at Tokenizer.scala"),
        s"building $q ran SQL executions $built")
    }
    // U+FF21 sorts before U+1F600 in UTF-16 and after it in UTF-8: ids
    // follow Spark's orderBy, not String.compareTo
    val hand = Set("\uff21", "\ud83d\ude00", "b", "\u00e9")
    val sparkOrder = spark.createDataFrame(hand.toSeq.map(Tuple1(_))).toDF("ch")
      .orderBy("ch").collect().map(_.getString(0)).toSeq
    assert(sparkOrder != hand.toSeq.sorted, "the chars must tell the two orders apart")
    val merge = Tokenizer.Merge(1L, "b", "\u00e9", "b\u00e9", 1L)
    assert(Tokenizer.vocabIds(hand, Seq(merge)) ==
      (sparkOrder :+ "b\u00e9").zipWithIndex.map { case (t, i) => (t, i.toLong) })
  }

  test("q183 manifest: partition-order-stable checksum, flips on any single-doc tamper") {
    import graft.operators.TextAnalysis
    val docs = Tables(spark, Sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.manifestOf(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toMap
    val base = rows(docs)
    assert(base.nonEmpty)
    // order independence: a reshuffled corpus yields the identical
    // manifest (the xor combine is commutative — the release property)
    assert(rows(docs.repartition(3, col("doc_id"))) == base,
      "manifest must not depend on partitioning/arrival order")
    // tamper detection: flip ONE doc's text — that source's checksum
    // (and octets) move, every other source's row is untouched
    val victim = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source")).orderBy("doc_id").head()
    val tampered = rows(docs.withColumn("text",
      when(col("doc_id") === victim.getLong(0),
        concat(col("text"), lit(" x"))).otherwise(col("text"))))
    assert(tampered(victim.getString(1))._4 != base(victim.getString(1))._4,
      "single-doc tamper did not flip the source checksum")
    (base.keySet - victim.getString(1)).foreach { s =>
      assert(tampered(s) == base(s), s"untouched source $s drifted")
    }
  }

  test("q188 incremental vocab: frozen-partial combine == frozen-vocab re-segmentation; conservation holds") {
    import graft.operators.Tokenizer
    val merges = Tokenizer.bpeTrain(Tokenizer.wordDictOf(Tables(spark, Sf, "documents")))
    val docs = Tables(spark, Sf, "documents")
    def gate(prefix: String) = substring(org.apache.spark.sql.functions.md5(
      concat(lit(prefix), col("doc_id").cast("string"))), 1, 2)
    val old = docs.filter(gate("vdump:") < "cd")
    val removed = old.filter(gate("vretract:") < "10")
    val delta = docs.filter(gate("vdump:") >= "cd")
    // freeze each dump's token partials to DRIVER ROWS and rebuild
    // literal frames — the combine provably reads only stored partials
    def frozen(df: org.apache.spark.sql.DataFrame) = {
      val p = Tokenizer.tokenFreqPartials(df, merges)
      spark.createDataFrame(spark.sparkContext.parallelize(p.collect().toSeq),
        p.schema)
    }
    val viaPartials = Tokenizer.combineTokenFreq(Seq(
      (frozen(old), 1L), (frozen(removed), -1L), (frozen(delta), 1L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference: re-segment the FINAL corpus with the same frozen vocab
    val finalDocs = old.join(removed.select(col("doc_id")), Seq("doc_id"),
      "left_anti").unionByName(delta)
    val rescan = Tokenizer.tokenFreqPartials(finalDocs, merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaPartials.filter(_._2 != 0L) == rescan,
      "incremental token-frequency combine drifted from the rescan")
    assert(removed.count() > 0L, "fixture retracts nothing")
    // conservation on the final corpus: Σ freq ≡ Σ n_bpe (every corpus
    // token lands in exactly one vocab row, still true post-fix)
    val sumFreq = SparkEntry.queries("q188_vocab_incremental")(spark, Sf)
      .agg(sum(col("freq"))).head().getLong(0)
    val sumBpe = Tokenizer.tokenized(finalDocs, merges)
      .agg(sum(col("n_bpe"))).head().getLong(0)
    assert(sumFreq == sumBpe,
      s"conservation broken post-fix: vocab freqs $sumFreq vs n_bpe $sumBpe")
  }

  test("q193 epoch shuffle: one appearance per doc per epoch, epochs permute differently, shards balanced, deterministic") {
    val out = SparkEntry.queries("q193_epoch_shuffle")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables(spark, Sf, "documents").count()
    // every doc exactly once per epoch
    assert(out.length == 2 * nDocs)
    (0L to 1L).foreach { e =>
      val docs = out.filter(_._1 == e).map(_._4)
      assert(docs.length == nDocs && docs.distinct.length == nDocs,
        s"epoch $e is not a permutation of the corpus")
    }
    // the two epochs read the corpus in genuinely different orders
    def order(e: Long) = out.filter(_._1 == e)
      .sortBy(t => (t._2, t._3)).map(_._4).toSeq
    assert(order(0L) != order(1L), "epochs produced the same permutation")
    // shard balance: hash-binomial, loosely pinned (expected n/S ± a few σ)
    (0L to 1L).foreach { e =>
      val sizes = out.filter(_._1 == e).groupBy(_._2).map(_._2.length)
      assert(sizes.size == 4, s"epoch $e lost a shard")
      assert(sizes.max <= 2 * sizes.min,
        s"epoch $e shard skew ${sizes.mkString(",")}")
    }
    // positions are dense 1..|shard| within every (epoch, shard)
    out.groupBy(t => (t._1, t._2)).foreach { case (k, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"non-dense positions in $k")
    }
    // bit-reproducible from the seed alone
    val again = SparkEntry.queries("q193_epoch_shuffle")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == out.toSeq, "shuffle is not deterministic")
  }

  test("q192 incremental IVF index: frozen-state combine == frozen-quantizer rescan; no vector read in the combine") {
    import graft.operators.{Pq, Similarity}
    val base = graft.CachePool.track(
      Similarity.withQuantized(Tables(spark, Sf, "embeddings")))
    val coarse = Pq.trainSlice(base, 1, Pq.SubSpaces * Pq.SubDim, Pq.CoarseK)
    val assigned = Pq.ivfAssign(base, coarse)
    def gate(prefix: String) = substring(org.apache.spark.sql.functions.md5(
      concat(lit(prefix), col("vec_id").cast("string"))), 1, 2)
    val old = assigned.filter(gate("idump:") < "cd")
    val removed = old.filter(gate("iretract:") < "10")
    val delta = assigned.filter(gate("idump:") >= "cd")
    // freeze the (vec_id, cell) state to DRIVER ROWS and rebuild
    // literal frames — the combine provably reads index rows only,
    // never a vector
    def frozen(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq),
        df.schema)
    val viaState = Pq.combineIvfState(Seq(
      (frozen(old), 1L), (frozen(removed), -1L), (frozen(delta), 1L)))
      .collect().map(_.toSeq).toSeq
    // reference: re-assign the FINAL corpus against the same frozen
    // centroids and aggregate
    val finalAssigned = assigned.filter(
      (gate("idump:") < "cd" && gate("iretract:") >= "10") ||
        gate("idump:") >= "cd")
    val rescan = finalAssigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
        bit_xor(col("vec_id")).as("id_xor"))
      .orderBy("cell").collect().map(_.toSeq).toSeq
    assert(viaState == rescan,
      "incremental IVF-state combine drifted from the rescan")
    assert(removed.count() > 0L, "fixture retracts nothing")
    val registered = SparkEntry.queries("q192_ivf_state_incremental")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(registered == rescan)
  }

  test("q190 incremental near-dup: frozen-state combine == q46 rescan; retraction severs, delta bridges") {
    import graft.operators.Dedup
    val docs = Tables(spark, Sf, "documents")
    def gate(prefix: String) = substring(org.apache.spark.sql.functions.md5(
      concat(lit(prefix), col("doc_id").cast("string"))), 1, 2)
    def shingleOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.shingled(df).filter(size(col("sh")) > 0)
    val old = shingleOf(docs.filter(gate("ldump:") < "cd"))
    val removedIds = old.filter(gate("lretract:") < "10").select(col("doc_id"))
    val delta = shingleOf(docs.filter(gate("ldump:") >= "cd"))
    // freeze the text-free state (shingle-hash index + verified pairs)
    // to DRIVER ROWS and rebuild literal frames — the combine provably
    // reads stored state only, never corpus text
    def frozen(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq),
        df.schema)
    val viaState = Dedup.combineNearDupState(frozen(old), frozen(removedIds),
      frozen(delta), frozen(Dedup.minhashNearDupPairs(old)))
      .collect().map(_.toSeq).toSeq
    // reference: full q46 pipeline over a rescan of the final corpus
    val finalDocs = docs.filter(
      (gate("ldump:") < "cd" && gate("lretract:") >= "10") ||
        gate("ldump:") >= "cd")
    val rescan = Dedup.minhashNearDupPairs(shingleOf(finalDocs))
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    assert(viaState == rescan,
      "incremental near-dup combine drifted from the q46 rescan")
    assert(removedIds.count() > 0L, "fixture retracts nothing")
    val registered = SparkEntry.queries("q190_neardup_incremental")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(registered == rescan)

    // surgical fixture (literal frames only): a retraction SEVERS the
    // stored (1,2) pair; the delta BRIDGES old survivors (1,4), (3,5),
    // (3,6) and pairs within itself (5,6)
    import spark.implicits._
    val t1 = "a b c d e f g h"
    val t3 = "p q r s t u v w"
    val oldB = shingleOf(Seq((1L, t1), (2L, t1), (3L, t3)).toDF("doc_id", "text"))
    val deltaB = shingleOf(Seq(
      (4L, "a b c d e f g x"), (5L, t3), (6L, "p q r s t u v y"))
      .toDF("doc_id", "text"))
    val storedB = Dedup.minhashNearDupPairs(oldB)
    assert(storedB.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)), "old-dump stored pairs unexpected")
    val out = Dedup.combineNearDupState(oldB, Seq(2L).toDF("doc_id"),
      deltaB, storedB)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 4L), (3L, 5L), (3L, 6L), (5L, 6L)),
      s"sever/bridge semantics broken: $out")
  }

  test("q186 incremental dedup state: frozen-state combine == q42 rescan; retracted keeper promotes next id") {
    import graft.operators.Dedup
    val docs = Tables(spark, Sf, "documents")
    def gate(prefix: String) = substring(org.apache.spark.sql.functions.md5(
      concat(lit(prefix), col("doc_id").cast("string"))), 1, 2)
    val old = docs.filter(gate("ddump:") < "cd")
    val removed = old.filter(gate("dretract:") < "10")
    val delta = docs.filter(gate("ddump:") >= "cd")
    // the IVM contract: freeze each dump's (hash, id) state to DRIVER
    // ROWS and rebuild literal frames — the combine then provably reads
    // only stored index rows, never a corpus row
    def frozen(df: org.apache.spark.sql.DataFrame) = {
      val st = Dedup.dedupState(df)
      spark.createDataFrame(spark.sparkContext.parallelize(st.collect().toSeq),
        st.schema)
    }
    val viaState = Dedup.combineDedupState(Seq(
      (frozen(old), 1L), (frozen(removed), -1L), (frozen(delta), 1L)))
      .collect().map(_.toSeq).toSeq
    // reference: q42 over a rescan of the final corpus
    val finalDocs = old.join(removed.select(col("doc_id")), Seq("doc_id"),
      "left_anti").unionByName(delta)
    val rescan = finalDocs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id").collect().map(_.toSeq).toSeq
    assert(viaState == rescan,
      "incremental dedup-state combine drifted from the q42 rescan")
    assert(removed.count() > 0L, "fixture retracts nothing")
    val registered = SparkEntry.queries("q186_dedup_state_incremental")(
      spark, Sf).collect().map(_.toSeq).toSeq
    assert(registered == rescan)

    // keeper succession: retracting a group's stored keeper must promote
    // the next-smallest SURVIVING member — the case (min, count)-only
    // state cannot answer, and the reason the state is id-level. Literal
    // frames only; group "y" also gains a new member from the delta.
    import spark.implicits._
    val oldB = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val retractB = Seq((1L, "x")).toDF("doc_id", "text")
    val deltaB = Seq((4L, "y"), (5L, "z")).toDF("doc_id", "text")
    val out = Dedup.combineDedupState(Seq(
      (Dedup.dedupState(oldB), 1L), (Dedup.dedupState(retractB), -1L),
      (Dedup.dedupState(deltaB), 1L)))
      .select(col("keep_id"), col("n_dups"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 1L), (3L, 2L), (5L, 1L)),
      s"keeper succession broken: $out")
  }

  test("q184 incremental manifest: combine of MATERIALIZED partials == full recompute; retraction honest") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.{md5 => _, _}
    val docs = Tables(spark, Sf, "documents")
    def gate(prefix: String) = substring(org.apache.spark.sql.functions.md5(
      concat(lit(prefix), col("doc_id").cast("string"))), 1, 2)
    val old = docs.filter(gate("dump:") < "cd")
    val removed = old.filter(gate("retract:") < "10")
    val delta = docs.filter(gate("dump:") >= "cd")
    // the IVM contract: freeze each partial to DRIVER ROWS and rebuild
    // literal frames — the combine then provably cannot read any corpus
    // row, only the |sources|-row state a store would hold
    def frozen(df: org.apache.spark.sql.DataFrame) = {
      val rows = TextAnalysis.manifestPartials(df).collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        TextAnalysis.manifestPartials(df).schema)
    }
    val viaPartials = TextAnalysis.combineManifestPartials(Seq(
      (frozen(old), 1L), (frozen(removed), -1L), (frozen(delta), 1L)))
      .collect().map(_.toSeq).toSeq
    // reference: rescan the final corpus
    val finalDocs = old.join(removed.select(col("doc_id")), Seq("doc_id"),
      "left_anti").unionByName(delta)
    val rescan = TextAnalysis.manifestOf(finalDocs).collect().map(_.toSeq).toSeq
    assert(viaPartials == rescan,
      "incremental combine drifted from the full rescan")
    // the fixture actually retracts something, and the registered query
    // agrees with the frozen-partial path
    assert(removed.count() > 0L, "fixture retracts nothing")
    val registered = SparkEntry.queries("q184_manifest_incremental")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(registered == rescan)
  }

  test("q170 encode and q171 ADC never shuffle vectors: at most the final sort/window exchange") {
    // PQ's whole point at 100 TB: after training (bounded model-state
    // collects), the corpus-side passes are map-only. q170's plan may
    // shuffle once (presentation sort); q171's may shuffle twice (the
    // per-probe window + final sort) — but NEVER a vector-carrying
    // join exchange (the probe side is broadcast).
    val enc = shuffleCount(SparkEntry.queries("q170_pq_encode")(spark, Sf))
    assert(enc <= 1, s"PQ encode should be map-only + sort, got $enc exchanges")
    val adcDf = SparkEntry.queries("q171_pq_adc_topk")(spark, Sf)
    val adc = shuffleCount(adcDf)
    assert(adc <= 2, s"ADC should shuffle only for window+sort, got $adc exchanges")
    val plan = adcDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"probe side must broadcast:\n${plan.take(1200)}")
  }

  test("q177's output pass never shuffles vectors: one partial-aggregating cell rollup + sort") {
    // after the bounded model-state trainings, the registered output is
    // the per-cell inventory: a partial-aggregating count keyed on the
    // cell id (only (cell, count) partials cross the wire — never xd or
    // resid arrays) plus the presentation sort.
    val out = shuffleCount(SparkEntry.queries("q177_residual_ivfpq")(spark, Sf))
    assert(out <= 2,
      s"q177 output should shuffle only for the cell rollup + sort, got $out")
  }

  test("manifest tier plan shapes: q182 map-only, q183 one rollup, q184 partials-only combine") {
    assert(shuffleCount(SparkEntry.queries("q182_nfc_normalize")(spark, Sf)) <= 1,
      "NFC normalization must stay map-only (+presentation sort)")
    assert(shuffleCount(SparkEntry.queries("q183_corpus_manifest")(spark, Sf)) <= 2,
      "manifest must be one partial-aggregating rollup (+sort)")
    // q184: three partial rollups + the combine agg + sort — but never
    // a corpus-row-carrying join (no join at all, in fact)
    val df = SparkEntry.queries("q184_manifest_incremental")(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q184 must combine by union+agg, not join")
  }

  test("q172's rank pass broadcasts the sketch estimates (no sort-merge join)") {
    val df = SparkEntry.queries("q172_quantile_sketch")(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-group estimates are tiny — the rank join must broadcast:\n${plan.take(1200)}")
  }

  test("planted-neighbor recall: every ANN tier hits its measured floor on clustered embeddings") {
    // r11 verdict item 1: the ANN family was proven exact against its
    // own definitions but recall@k was unverifiable on the near-uniform
    // driver fixture. AnnFixture plants unambiguous neighbor structure
    // (seeded clusters + twin pairs); here each tier's recall against
    // brute-force truth is a PINNED floor. Floors are a few points
    // below the deterministic measured values (the fixture is seeded,
    // so these are contracts, not statistics) — see the inline measured
    // numbers.
    import graft.operators.{Pq, Similarity}
    val fix = AnnFixture.planted(spark)
    val n = AnnFixture.N

    // brute-force truth (q43's cosineTopK operator, k=1 per vector)
    val bf1 = Similarity.cosineTopK(fix, fix, 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    // fixture sanity: the planted twin IS the brute-force top-1
    val twinOk = bf1.count { case (q, t) => t == AnnFixture.twinOf(q) }
    assert(twinOk == n,
      s"planted twin not the brute-force top-1 for ${n - twinOk}/$n vectors — fixture broken")

    def recall1(rows: Array[(Long, Long)]): Double =
      rows.count { case (a, b) => bf1(a) == b }.toDouble / n

    // q49 sign-LSH at the registered width policy
    val lshR = recall1(Similarity.annLsh(fix, Similarity.lshBits(n))
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    // q59 single-probe IVF and q68 multi-probe, same √n quantizer
    val k = Similarity.ivfK(n)
    val ivf1R = recall1(Similarity.ivfTop1(fix, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val ivf2R = recall1(Similarity.ivfTop1Probe2(fix, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))))

    // PQ tiers: 20 MID-RANGE probes (10 twin pairs across all 8
    // clusters) — mid-range so the (dd, vec_id) tie-break cannot hand
    // a code-colliding twin its rank for free (probes 0..19 would have
    // the lowest-id twins, and twin@10 would measure the tie-break,
    // not the quantizer)
    val base = graft.CachePool.track(Similarity.withQuantized(fix))
    val books = (0 until Pq.SubSpaces).map(m => Pq.trainSub(base, m))
    val probeLo = 1000L
    val nProbes = 20
    val probePred = col("vec_id") >= probeLo &&
      col("vec_id") < probeLo + nProbes
    def top10(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (p, rs) =>
          p -> rs.sortBy(_._2).map(_._3).toSeq
        }
    def twinR(t: Map[Long, Seq[Long]]): Double =
      t.count { case (p, ids) => ids.contains(AnnFixture.twinOf(p)) }
        .toDouble / t.size
    def clusterR(t: Map[Long, Seq[Long]]): Double =
      t.map { case (p, ids) =>
        ids.count(i => AnnFixture.clusterOf(i) == AnnFixture.clusterOf(p))
          .toDouble / ids.size
      }.sum / t.size
    val adcT = top10(Pq.adcTopk(base, books, probePred))
    val coarse = Pq.trainSlice(base, 1, Pq.SubSpaces * Pq.SubDim, Pq.CoarseK)
    val ivfAdcT = top10(Pq.ivfAdcTopk(base, coarse, books, probePred))

    // q177 residual IVF-PQ: rebuild the residual-ADC ranking driver-side
    // from the registered query's own parts (cells + residual codebooks)
    val (withResid, residBooks) = Pq.residualParts(base, coarse)
    val wr = withResid.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).toArray, r.getLong(2), r.getSeq[Double](3).toArray))
    val coarseArr = coarse.toMap
    def sub(v: Array[Double], m: Int): Array[Double] =
      java.util.Arrays.copyOfRange(v, m * Pq.SubDim, (m + 1) * Pq.SubDim)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // per-vector residual codes: argmin over each residual book
    val codes = wr.map { case (id, _, _, resid) =>
      id -> (0 until Pq.SubSpaces).map { m =>
        residBooks(m).minBy { case (cid, cw) => (d2(sub(resid, m), cw), cid) }
      }.toArray
    }.toMap
    val residT = wr.filter(x => x._1 >= probeLo && x._1 < probeLo + nProbes)
      .map { case (pid, pxd, _, _) =>
      val pcells = coarse.map { case (cid, c) => (d2(pxd, c), cid) }
        .sorted.take(Pq.NProbe).map(_._2).toSet
      val ranked = wr.filter(x => x._1 != pid && pcells.contains(x._3))
        .map { case (xid, _, xcell, _) =>
          val presid = pxd.zip(coarseArr(xcell)).map { case (a, b) => a - b }
          val dd = (0 until Pq.SubSpaces).map { m =>
            d2(sub(presid, m), codes(xid)(m)._2)
          }.sum
          (dd, xid)
        }.sorted.take(Pq.TopK).map(_._2).toSeq
      pid -> ranked
    }.toMap

    info(f"recall@1  lsh=$lshR%.3f ivf1=$ivf1R%.3f ivf2=$ivf2R%.3f")
    info(f"twin@10   adc=${twinR(adcT)}%.3f ivfadc=${twinR(ivfAdcT)}%.3f resid=${twinR(residT)}%.3f")
    info(f"cluster@10 adc=${clusterR(adcT)}%.3f ivfadc=${clusterR(ivfAdcT)}%.3f resid=${clusterR(residT)}%.3f")

    // ---- pinned floors (measured on the seeded fixture; floors sit a
    // few points under the deterministic measured values) ----
    // measured: lsh 0.753, ivf1 0.878, ivf2 0.972
    assert(lshR >= 0.72, s"q49 LSH recall@1 $lshR below the 0.72 floor")
    assert(ivf1R >= 0.85, s"q59 IVF recall@1 $ivf1R below the 0.85 floor")
    assert(ivf2R >= ivf1R,
      s"q68 probe-2 recall $ivf2R must dominate q59's $ivf1R")
    assert(ivf2R >= 0.95, s"q68 recall@1 $ivf2R below the 0.95 floor")
    // measured: all three cluster@10 = 1.000 — a 12-bit code budget
    // recalls the NEIGHBORHOOD perfectly on clustered data
    assert(clusterR(adcT) >= 0.95,
      s"q171 ADC cluster-recall@10 ${clusterR(adcT)} below the 0.95 floor")
    assert(clusterR(ivfAdcT) >= 0.95,
      s"q173 IVF-ADC cluster-recall@10 ${clusterR(ivfAdcT)} below the 0.95 floor")
    assert(clusterR(residT) >= 0.95,
      s"q177 residual cluster-recall@10 ${clusterR(residT)} below the 0.95 floor")
    // measured: raw-PQ twin@10 = 0.000 (K=8 codewords/subspace ≈ one
    // per cluster, so cluster members share code tuples and the twin is
    // indistinguishable) vs RESIDUAL twin@10 = 0.650 — the same code
    // budget spent on residuals resolves within-cluster structure raw
    // PQ structurally cannot. This is q177's SSE verdict at recall
    // level: pin both the dominance and the absolute floor.
    assert(twinR(residT) >= twinR(adcT) - 1e-9,
      s"q177 residual twin-recall ${twinR(residT)} must not lose to raw PQ's ${twinR(adcT)}")
    assert(twinR(residT) >= 0.60,
      s"q177 residual twin-recall@10 ${twinR(residT)} below the 0.60 floor")

    // q170's encoder on the same books: a twin (±2 raw jitter, ≤ ±1
    // after int8 quantization) keeps its 4 codes except where it
    // crosses a codeword boundary — measured 0.971, the Voronoi-edge
    // residue any quantizer has
    val pqCodes = Pq.encoded(base, books).collect()
      .map(r => r.getLong(0) -> (1 to Pq.SubSpaces).map(r.getLong)).toMap
    assert(pqCodes.size == n)
    val stability = (0 until n by 2).count(i =>
      pqCodes(i.toLong) == pqCodes(AnnFixture.twinOf(i.toLong))).toDouble / (n / 2)
    info(f"q170 twin code stability $stability%.3f")
    assert(stability >= 0.95,
      f"q170 PQ codes unstable across twin jitter: $stability%.3f < 0.95")

    // q139's decon gate on the planted clusters: with cluster 0's even
    // members as the benchmark, the gate (cos ≥ 0.35) flags exactly
    // cluster 0's other members — cos≈1 in-cluster, ≈0.1 across
    val benchIds = (0L until n).filter(id =>
      AnnFixture.clusterOf(id) == 0 && id % 2 == 0)
    val inBench = col("vec_id").isin(benchIds: _*)
    val staged = Similarity.deconStage(fix)
    val flagged = Similarity.deconProbe(staged.filter(!inBench),
        staged.filter(inBench).select(col("vec_id").as("b_id"),
          col("qvec").as("b_qvec"), col("n2").as("bb")))
      .collect().map(_.getLong(0)).toSet
    val expect = (0L until n).filter(id =>
      AnnFixture.clusterOf(id) == 0 && id % 2 == 1).toSet
    assert(expect.nonEmpty && flagged == expect,
      s"q139 decon on planted clusters: missed=${(expect -- flagged).size} " +
        s"spurious=${(flagged -- expect).size}")
  }

  test("q198 unigram viterbi: DP == exponential enumeration; BPE-path dominance; NULL discipline") {
    import graft.operators.Tokenizer
    val docs = Tables(spark, Sf, "documents")
    val merges = Tokenizer.bpeTrain(Tokenizer.wordDictOf(Tables(spark, Sf, "documents")))
    // r13: q198 runs under the q237-TRAINED table, so the enumeration must
    // too (the BPE-dominance invariant below holds under ANY cost table:
    // the BPE path is one candidate segmentation)
    val costs = Tokenizer.trainedUnigram(spark, Sf)._1
    val costMap = costs.toMap
    // THIRD implementation (after the engine DP and the oracle's
    // recursive CTE): brute-force enumeration of every segmentation —
    // exponential, fine at the fixture's ≤8-char words
    val memo = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def enumBest(w: String): (Long, Long) = memo.getOrElseUpdate(w, {
      def go(rest: String): Seq[Long] =
        if (rest.isEmpty) Seq(0L)
        else (1 to rest.length).flatMap { k =>
          costMap.get(rest.take(k)).toSeq.flatMap(c => go(rest.drop(k)).map(_ + c))
        }
      val all = go(w)
      assert(all.nonEmpty, s"word '$w' not coverable — fixture broken")
      (all.min, all.count(_ == all.min).toLong)
    })
    val out = SparkEntry.queries("q198_unigram_viterbi")(spark, Sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))).toMap
    val docRows = docs.select("doc_id", "text").collect()
    docRows.foreach { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) {
        assert(out(id).isEmpty, s"doc $id: NULL text must yield NULL cost/ways")
      } else {
        val ws = r.getString(1).split(" ").filter(_.nonEmpty)
        if (ws.isEmpty) assert(out(id).isEmpty)
        else {
          val exp = ws.map(enumBest)
          assert(out(id).contains((exp.map(_._1).sum, exp.map(_._2).sum)),
            s"doc $id: engine DP ${out(id)} != enumeration " +
              s"(${exp.map(_._1).sum}, ${exp.map(_._2).sum})")
        }
      }
    }
    // cross-family invariant: the BPE segmentation of a word is ONE
    // candidate path (all its segments are vocab tokens), so the
    // unigram optimum can never cost more than the BPE path
    val distinctWords = docRows.filter(!_.isNullAt(1))
      .flatMap(_.getString(1).split(" ")).filter(_.nonEmpty).distinct
    distinctWords.foreach { w =>
      var s = " " + w.map(_.toString).mkString(" ") + " "
      merges.foreach(m => s = s.replace(s" ${m.left} ${m.right} ", s" ${m.merged} "))
      val bpeCost = s.split(" ").filter(_.nonEmpty).map(costMap).sum
      assert(enumBest(w)._1 <= bpeCost,
        s"word '$w': unigram optimum ${enumBest(w)._1} exceeds BPE path $bpeCost")
    }
    // a genuinely multi-token optimum exists (the DP is not just
    // whole-word lookup) and some word has >1 optimal path somewhere
    // in the corpus — otherwise the fixture can't pin `ways`
    assert(distinctWords.exists(w => enumBest(w)._1 > 0 && {
      val (b, _) = enumBest(w); costMap.get(w).forall(_ > b) || !costMap.contains(w)
    } && w.length > 1), "no word exercises a multi-token optimum")
  }

  test("q199 count-min: matches a plain-Scala reference sketch; est>=true; collisions exercised; no heavy hitter missed") {
    val docs = Tables(spark, Sf, "documents")
    val out = SparkEntry.queries("q199_countmin_heavy")(spark, Sf).collect()
    assert(out.nonEmpty)
    val tokArr = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "").collect().map(_.getString(0))
    // SECOND implementation (after the oracle's SQL): the sketch in
    // plain Scala off java MessageDigest
    def bucket(tok: String, seed: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cm$seed:$tok".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    tokArr.foreach { t =>
      (0 until 4).foreach { s =>
        val k = (s, bucket(t, s)); cells(k) = cells.getOrElse(k, 0L) + 1L
      }
    }
    val truec = tokArr.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bar = tokArr.length.toLong / 32L
    out.foreach { r =>
      val (t, est, tc) = (r.getString(0), r.getLong(1), r.getLong(2))
      val refEst = (0 until 4).map(s => cells((s, bucket(t, s)))).min
      assert(est == refEst, s"token '$t': engine est $est != reference $refEst")
      assert(tc == truec(t), s"token '$t': true count drifted")
      assert(est >= tc, s"token '$t': CM theorem violated")
      assert(est >= bar, s"token '$t': below the heavy-hitter bar")
      assert(r.getBoolean(3) == (est == tc))
    }
    // the fixture must exercise COLLISION overestimates, or the hash
    // pins only the happy path
    assert(out.exists(r => !r.getBoolean(3)),
      "no collided (est > true) heavy hitter in the fixture")
    assert(out.exists(r => r.getBoolean(3)), "no exact heavy hitter either")
    // CM never misses a true heavy hitter (est >= true >= bar)
    val outToks = out.map(_.getString(0)).toSet
    truec.filter(_._2 >= bar).keys.foreach(t =>
      assert(outToks(t), s"true heavy hitter '$t' missing from the output"))
  }

  test("q200 rrf: fused order == exact-rational RRF; legs verbatim q83/q43; lcm divisibility; NULL leg discipline") {
    import graft.operators.{Retrieval, Similarity}
    // the lcm-exactness invariant the integer scaling rests on
    (1 to Retrieval.RrfLegK).foreach(r =>
      assert(Retrieval.RrfLcm % (Retrieval.RrfK + r) == 0L,
        s"RrfLcm not divisible by ${Retrieval.RrfK + r}"))
    val out = SparkEntry.queries("q200_rrf_hybrid")(spark, Sf).collect()
    assert(out.length == Retrieval.RrfTopK)
    // the legs, re-collected from the STANDALONE operators — a hybrid
    // result's legs must be exactly the operators users run alone
    val bm25 = SparkEntry.queries("q83_bm25")(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dense = Similarity.cosineTopK(
        Tables(spark, Sf, "embeddings"),
        Tables(spark, Sf, "embeddings").filter(col("vec_id") === 0),
        Retrieval.RrfLegK)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    // exact-rational reference: score = Σ 1/(K+r) as BigInt fractions,
    // ordered by cross-multiplication — INDEPENDENT of the lcm scaling
    def frac(rs: Seq[Long]): (BigInt, BigInt) =
      rs.map(r => (BigInt(1), BigInt(Retrieval.RrfK + r)))
        .foldLeft((BigInt(0), BigInt(1))) {
          case ((n, d), (tn, td)) => (n * td + tn * d, d * td)
        }
    val expected = (bm25.keySet ++ dense.keySet).toSeq
      .map(id => (id, frac(Seq(bm25.get(id), dense.get(id)).flatten.toSeq)))
      .sortWith { case ((ida, (na, da)), (idb, (nb, db))) =>
        val c = (na * db).compare(nb * da)
        if (c != 0) c > 0 else ida < idb
      }
      .take(Retrieval.RrfTopK).map(_._1)
    assert(out.map(_.getLong(0)).toSeq == expected,
      "fused order drifted from the exact-rational RRF reference")
    out.foreach { r =>
      val id = r.getLong(0)
      val rb = bm25.get(id)
      val rd = dense.get(id)
      val want = rb.map(x => Retrieval.RrfLcm / (Retrieval.RrfK + x)).getOrElse(0L) +
        rd.map(x => Retrieval.RrfLcm / (Retrieval.RrfK + x)).getOrElse(0L)
      assert(r.getLong(2) == want, s"doc $id: rrf_score ${r.getLong(2)} != $want")
      assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) == rb,
        s"doc $id: bm25 leg rank drifted")
      assert((if (r.isNullAt(4)) None else Some(r.getLong(4))) == rd,
        s"doc $id: cosine leg rank drifted")
    }
    // absence from a leg = NULL rank + zero contribution, and the
    // corpus fixture must actually exercise single-leg docs
    assert(out.exists(_.isNullAt(3)) || out.exists(_.isNullAt(4)),
      "fixture never exercised a single-leg doc")

    // toy fixture: deterministic BOTH-LEGS fusion (overlap at corpus
    // scale is luck; here doc 1 is engineered into both top lists and
    // must outrank every single-leg doc at these ranks)
    import spark.implicits._
    val toyDocs = Seq(
      (0L, "filler filler"), (1L, "scan join dup"), (2L, "scan scan join"),
      (3L, "join dup"), (4L, "filler"), (5L, "dup")).toDF("doc_id", "text")
    val toyEmb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.0f, 1.0f), 0), (3L, Seq(0.1f, 0.9f), 0),
      (4L, Seq(0.8f, 0.3f), 0), (5L, Seq(-1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val toy = Retrieval.rrfHybrid(toyDocs, toyEmb).collect()
    val t1 = toy.find(_.getLong(0) == 1L).get
    assert(!t1.isNullAt(3) && !t1.isNullAt(4),
      "toy doc 1 must appear in BOTH legs")
    assert(t1.getLong(2) ==
      Retrieval.RrfLcm / (Retrieval.RrfK + t1.getLong(3)) +
        Retrieval.RrfLcm / (Retrieval.RrfK + t1.getLong(4)),
      "both-legs score must be the sum of both contributions")
    assert(toy.head.getLong(0) == 1L,
      "the both-legs doc must fuse to the top at these leg ranks")
  }

  test("q201 k-anonymity: matches a plain-Scala audit; coarsening monotone; chosen = min satisfying; loud below k; NULL = own class") {
    import graft.operators.Privacy
    val out = SparkEntry.queries("q201_k_anonymity")(spark, Sf).collect()
    assert(out.length == 5)
    // SECOND implementation (after the oracle's SQL): the whole ladder
    // re-derived in plain Scala off collected rows
    val regionOf = Tables(spark, Sf, "nation").collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    val rows = Tables(spark, Sf, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    def band(b: Double, w: Int): String = math.floor(b / w).toLong.toString
    def qi(l: Int, nat: Int, seg: String, bal: Double): (String, String, String) = l match {
      case 0 => (s"n$nat", seg, s"b100:${band(bal, 100)}")
      case 1 => (s"n$nat", seg, s"b1000:${band(bal, 1000)}")
      case 2 => (s"r${regionOf(nat)}", seg, s"b1000:${band(bal, 1000)}")
      case 3 => (s"r${regionOf(nat)}", "*", s"b5000:${band(bal, 5000)}")
      case 4 => ("*", "*", "*")
    }
    val ref = (0 to 4).map { l =>
      val sizes = rows.groupBy { case (n, s, b) => qi(l, n, s, b) }
        .values.map(_.size.toLong).toSeq
      val viol = sizes.filter(_ < Privacy.AnonK)
      (l.toLong, sizes.size.toLong, viol.size.toLong, viol.sum)
    }
    out.zip(ref).foreach { case (r, (l, nc, vc, ar)) =>
      assert(r.getLong(0) == l)
      assert(r.getLong(1) == nc, s"level $l: n_classes ${r.getLong(1)} != $nc")
      assert(r.getLong(2) == vc, s"level $l: violating ${r.getLong(2)} != $vc")
      assert(r.getLong(3) == ar, s"level $l: at-risk ${r.getLong(3)} != $ar")
      assert(r.getBoolean(4) == (vc == 0L))
    }
    // strict-coarsening monotonicity: merging classes can only shrink
    // the at-risk set, and satisfaction never reverses up the ladder
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(3) <= a.getLong(3),
        s"at-risk grew from level ${a.getLong(0)} to ${b.getLong(0)}")
      assert(!a.getBoolean(4) || b.getBoolean(4),
        "satisfies reversed up the ladder")
    }
    // exactly one chosen level, and it is the MIN satisfying one
    val chosen = out.filter(_.getBoolean(5))
    assert(chosen.length == 1)
    assert(chosen.head.getLong(0) == out.filter(_.getBoolean(4)).map(_.getLong(0)).min)
    // the fixture must exercise a non-trivial ladder: level 0 violating
    assert(!out.head.getBoolean(4), "level 0 must violate or the ladder is vacuous")

    // corpus below k: every rung violates -> loud refusal, not an audit
    import spark.implicits._
    val tiny = Seq((1L, 3, 55.0, "BUILDING"), (2L, 3, 55.0, "BUILDING"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val nat = Tables(spark, Sf, "nation")
    val e = intercept[Exception] {
      Privacy.kAnonymityAudit(tiny, nat, Privacy.AnonK).collect()
    }
    assert(e.getMessage != null || e.getCause != null)

    // NULL quasi-identifiers form their OWN class (6 null-balance rows
    // clear k=5 as one class; the 5 real-value rows clear it too)
    val nulls = ((1 to 6).map(i => (i.toLong, 3, null.asInstanceOf[java.lang.Double], "AUTO")) ++
      (7 to 11).map(i => (i.toLong, 3, java.lang.Double.valueOf(55.0), "AUTO")))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val na = Privacy.kAnonymityAudit(nulls, nat, Privacy.AnonK).collect()
    assert(na.head.getLong(1) == 2L && na.head.getBoolean(4),
      "level 0 must hold exactly {null-band, 55-band} classes, both >= k")
  }

  test("q202 l-diversity: matches a plain-Scala audit; monotone; loud below l; NULL sensitive is a value") {
    import graft.operators.Privacy
    val out = SparkEntry.queries("q202_l_diversity")(spark, Sf).collect()
    assert(out.length == 4)
    val regionOf = Tables(spark, Sf, "nation").collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    val rows = Tables(spark, Sf, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    def band(b: Double, w: Int): String = math.floor(b / w).toLong.toString
    def qi(l: Int, n: Int, b: Double): (String, String) = l match {
      case 0 => (s"n$n", s"b1000:${band(b, 1000)}")
      case 1 => (s"r${regionOf(n)}", s"b1000:${band(b, 1000)}")
      case 2 => (s"r${regionOf(n)}", s"b5000:${band(b, 5000)}")
      case 3 => ("*", "*")
    }
    (0 to 3).zip(out).foreach { case (l, r) =>
      val cls = rows.groupBy { case (n, _, b) => qi(l, n, b) }.values
        .map(g => (g.size.toLong, g.map(_._2).distinct.size.toLong)).toSeq
      val viol = cls.filter(_._2 < Privacy.DivL)
      assert(r.getLong(0) == l.toLong)
      assert(r.getLong(1) == cls.size.toLong, s"level $l n_classes")
      assert(r.getLong(2) == viol.size.toLong, s"level $l violating")
      assert(r.getLong(3) == viol.map(_._1).sum, s"level $l at-risk")
      assert(r.getLong(4) == cls.count(_._2 == 1L).toLong, s"level $l homogeneous")
      assert(r.getBoolean(5) == viol.isEmpty)
    }
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(3) <= a.getLong(3), "at-risk grew up the ladder")
      assert(!a.getBoolean(5) || b.getBoolean(5), "satisfies reversed")
    }
    assert(out.count(_.getBoolean(6)) == 1)
    assert(!out.head.getBoolean(5), "level 0 must violate or the ladder is vacuous")

    // fewer than l sensitive values in the whole corpus -> loud refusal
    import spark.implicits._
    val nat = Tables(spark, Sf, "nation")
    val twoSeg = (1 to 12).map(i =>
      (i.toLong, i % 25, 50.0 * i, if (i % 2 == 0) "AUTO" else "BUILDING"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val e = intercept[Exception] {
      Privacy.lDiversityAudit(twoSeg, nat, Privacy.DivL).collect()
    }
    assert(e.getMessage != null || e.getCause != null)

    // NULL sensitive counts as a VALUE: {AUTO, <null>, BUILDING} is
    // 3-diverse at the top rung
    val withNull = Seq(
      (1L, 1, 10.0, "AUTO"), (2L, 2, 20.0, null: String), (3L, 3, 30.0, "BUILDING"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val na = Privacy.lDiversityAudit(withNull, nat, Privacy.DivL).collect()
    assert(na.last.getBoolean(5),
      "top rung must be 3-diverse when NULL counts as its own sensitive value")
  }

  test("q214 t-closeness: matches a plain-Scala exact-rational EMD audit; monotone; top rung EMD=0; loud on NULL/degenerate order") {
    import graft.operators.Privacy
    val out = SparkEntry.queries("q214_t_closeness")(spark, Sf).collect()
    assert(out.length == 4)
    // SECOND implementation (after the oracle's SQL): the ordered EMD
    // re-derived in plain Scala with BigInt (no scaling shortcuts)
    val regionOf = Tables(spark, Sf, "nation").collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    val rows = Tables(spark, Sf, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        math.floor(r.getDouble(2) / Privacy.BalBands(1)).toLong))
    val bands = rows.map(_._3).distinct.sorted
    val m = bands.length
    val bigN = rows.length.toLong
    val cumG = bands.map(b => rows.count(_._3 <= b).toLong)
    def qi(l: Int, n: Int, s: String): (String, String) = l match {
      case 0 => (s"n$n", s)
      case 1 => (s"r${regionOf(n)}", s)
      case 2 => (s"r${regionOf(n)}", "*")
      case 3 => ("*", "*")
    }
    val ref = (0 to 3).map { l =>
      val cls = rows.groupBy { case (n, s, _) => qi(l, n, s) }.values.map { g =>
        val n = g.size.toLong
        val d = (0 until m - 1).map { i =>
          val cumc = g.count(_._3 <= bands(i)).toLong
          (BigInt(bigN) * cumc - BigInt(n) * cumG(i)).abs
        }.sum
        (n, BigInt(Privacy.TDen) * d >
          BigInt(Privacy.TNum) * n * bigN * (m - 1))
      }.toSeq
      val viol = cls.filter(_._2)
      (l.toLong, cls.size.toLong, viol.size.toLong, viol.map(_._1).sum)
    }
    out.zip(ref).foreach { case (r, (l, nc, vc, ar)) =>
      assert(r.getLong(0) == l)
      assert(r.getLong(1) == nc, s"level $l: n_classes ${r.getLong(1)} != $nc")
      assert(r.getLong(2) == vc, s"level $l: violating ${r.getLong(2)} != $vc")
      assert(r.getLong(3) == ar, s"level $l: at-risk ${r.getLong(3)} != $ar")
      assert(r.getBoolean(4) == (vc == 0L))
    }
    // EMD joint convexity: coarsening merges classes into mixtures, so
    // the at-risk set shrinks and satisfaction never reverses up
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(3) <= a.getLong(3),
        s"at-risk grew from level ${a.getLong(0)} to ${b.getLong(0)}")
      assert(!a.getBoolean(4) || b.getBoolean(4),
        "satisfies reversed up the ladder")
    }
    // top rung is P ≡ Q: EMD identically 0, always satisfies
    assert(out.last.getBoolean(4) && out.last.getLong(2) == 0L)
    assert(out.count(_.getBoolean(5)) == 1)
    assert(out.filter(_.getBoolean(5)).head.getLong(0) ==
      out.filter(_.getBoolean(4)).map(_.getLong(0)).min)
    // fixture non-vacuous: level 0 must violate
    assert(!out.head.getBoolean(4), "level 0 must violate or the ladder is vacuous")

    import spark.implicits._
    val nat = Tables(spark, Sf, "nation")
    // NULL sensitive value: loud refusal (ordered EMD undefined)
    val withNull = Seq(
      (1L, 1, java.lang.Double.valueOf(10.0), "AUTO"),
      (2L, 2, null.asInstanceOf[java.lang.Double], "AUTO"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val e1 = intercept[Exception] {
      Privacy.tClosenessAudit(withNull, nat, Privacy.TNum, Privacy.TDen).collect()
    }
    assert(e1.getMessage != null || e1.getCause != null)
    // single band in the whole corpus: m < 2 -> loud refusal
    val oneBand = (1 to 8).map(i => (i.toLong, i % 25, 50.0 + i, "AUTO"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val e2 = intercept[Exception] {
      Privacy.tClosenessAudit(oneBand, nat, Privacy.TNum, Privacy.TDen).collect()
    }
    assert(e2.getMessage != null || e2.getCause != null)
  }

  test("q215 wordpiece: matches a plain-Scala greedy walk; greedy >= DP optimum; UNK all-or-nothing; 200-char cap; model guards") {
    import graft.operators.Tokenizer
    import graft.expressions.WordpieceGreedy
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val docs = Tables(spark, Sf, "documents")
    val (dict, alphabet) = Tokenizer.vocabInputs(docs)
    val merges = Tokenizer.bpeTrain(dict)
    val inv = Tokenizer.vocabIds(alphabet, merges).map(_._1)
    // the DataFrame form, ordered by id, is the same inventory
    assert(Tokenizer.vocabTable(spark, alphabet, merges).orderBy("token_id")
      .collect().map(_.getString(0)).toSeq == inv)
    val invSet = inv.toSet
    val maxTok = inv.map(_.length).max
    // THIRD implementation (after the engine expression and the
    // oracle's recursive CTE): the greedy walk in plain Scala
    def greedy(w: String): (Long, Long) = {
      if (w.length > WordpieceGreedy.MaxWordChars) return (1L, 1L)
      var pos = 0; var p = 0L
      while (pos < w.length) {
        val len = (math.min(w.length - pos, maxTok) to 1 by -1)
          .find(k => invSet.contains(w.substring(pos, pos + k))).getOrElse(0)
        if (len == 0) return (1L, 1L)
        p += 1L; pos += len
      }
      (p, 0L)
    }
    val out = SparkEntry.queries("q215_wordpiece")(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))).toMap
    val docRows = docs.select("doc_id", "text").collect()
    docRows.foreach { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) assert(out(id).isEmpty, s"doc $id: NULL text must yield NULLs")
      else {
        val ws = r.getString(1).split(" ").filter(_.nonEmpty)
        if (ws.isEmpty) assert(out(id).isEmpty)
        else {
          val g = ws.map(greedy)
          assert(out(id).contains((g.map(_._1).sum, g.map(_._2).sum)),
            s"doc $id: engine ${out(id)} != plain-Scala greedy")
        }
      }
    }
    // single-char base coverage: [UNK] cannot fire on the gated corpus
    assert(out.values.flatten.forall(_._2 == 0L),
      "UNK fired on the full-inventory vocab — base coverage broken")
    // cross-family invariant: greedy longest-match-first is NEVER
    // better than the uniform-cost DP optimum (q198's expression with
    // all costs = 1 computes the min piece count over the same vocab)
    val distinctWords = docRows.filter(!_.isNullAt(1))
      .flatMap(_.getString(1).split(" ")).filter(_.nonEmpty).distinct
    val uniform = inv.toArray
    val ones = Array.fill(inv.size)(1L)
    distinctWords.foreach { w =>
      val opt = graft.expressions.UnigramViterbi(
        Literal(UTF8String.fromString(w)), uniform, ones)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        .getLong(0)
      assert(greedy(w)._1 >= opt,
        s"word '$w': greedy ${greedy(w)._1} beat the DP optimum $opt — impossible")
    }
    // greedy is genuinely suboptimal somewhere OR the pinned toy shows
    // it: initial {ab,a}, cont {bcd,c,d} on "abcd" — greedy takes ab
    // then c,d (3 pieces); the optimum a+bcd is 2. The published
    // algorithm is greedy; this pins that we implement IT, not the DP.
    def toy(w: String, ini: Seq[String], con: Seq[String]): (Long, Long) = {
      val row = WordpieceGreedy(Literal(UTF8String.fromString(w)),
        ini.toArray, con.toArray)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      (row.getLong(0), row.getLong(1))
    }
    assert(toy("abcd", Seq("ab", "a"), Seq("bcd", "c", "d")) == (3L, 0L),
      "greedy must take ab+c+d (3), not the optimal a+bcd (2)")
    // UNK all-or-nothing: matched prefix pieces are DISCARDED
    assert(toy("abc", Seq("ab"), Seq("c")) == (2L, 0L))
    assert(toy("abd", Seq("ab"), Seq("c")) == (1L, 1L),
      "unmatched cursor after a match must collapse the WHOLE word to [UNK]")
    assert(toy("xab", Seq("ab"), Seq("a", "b", "x")) == (1L, 1L),
      "no word-initial match must be [UNK] even if continuations cover it")
    // position sides are distinct vocabularies
    assert(toy("aa", Seq("a"), Seq.empty[String]) == (1L, 1L),
      "an empty continuation side must UNK any multi-piece word")
    // the 200-char published cap maps to UNK without scanning
    assert(toy("a" * 201, Seq("a"), Seq("a")) == (1L, 1L))
    assert(toy("a" * 200, Seq("a"), Seq("a")) == (200L, 0L))
    // model guards: duplicates and empty pieces refused loudly
    intercept[Exception] { toy("a", Seq("a", "a"), Seq("a")) }
    intercept[Exception] { toy("a", Seq("a", ""), Seq("a")) }
    intercept[Exception] {
      WordpieceGreedy(Literal(UTF8String.fromString("a")),
        Array.empty[String], Array("a")).eval(null)
    }
  }

  test("q216 dHash near-dup: decode==formula; banding==brute force; margins measured; brightness invariance; geometry loudness") {
    import graft.operators.Multimodal
    val docIds = Tables(spark, Sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // THIRD implementation (after the decode path and the oracle's SQL):
    // hashes straight from the pixel FORMULA, never touching BMP bytes
    def formulaHash(id: Long): Long = {
      val sums = Array.ofDim[Long](Multimodal.DhashGridH, Multimodal.DhashGridW)
      for (y <- 0 until Multimodal.DhashImgH; x <- 0 until Multimodal.DhashImgW)
        sums(y / Multimodal.DhashCell)(x / Multimodal.DhashCell) +=
          Multimodal.dhashPixel(id, x, y).toLong
      Multimodal.dhash64(sums)
    }
    val expected = docIds.map(id => id -> formulaHash(id)).toMap
    // the engine's hashes come through REAL bytes: encode → ImageIO →
    // luma block sums; any codec/luma/packing drift breaks this equality
    import spark.implicits._
    val engineHashes = Multimodal.perceptualHashes(spark,
      spark.createDataset(docIds.toSeq)
        .map(id => Multimodal.MediaRow(id, Multimodal.encodeBmpDhash(id))))
      .collect().map(h => h.doc_id -> h.dhash).toMap
    assert(engineHashes == expected,
      "decoded-pixel dHash diverged from the formula-side hash")
    // banding completeness: the registered query's pair set must equal
    // brute-force all-pairs (pigeonhole: ≤3 flips can't touch 4 bands)
    val brute = (for {
      i <- docIds.indices.iterator; j <- (i + 1) until docIds.length
      a = docIds(i); b = docIds(j)
      h = java.lang.Long.bitCount(expected(a) ^ expected(b))
      if h <= Multimodal.DhashMaxHamming
    } yield (a, b, h.toLong)).toSet
    val out = SparkEntry.queries("q216_image_neardup")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == brute, s"banded join (${out.size}) != brute force (${brute.size})")
    // measured margins (the verify-skill fixture discipline): same-group
    // distances ∈ {0, 2} with BOTH populated; cross-group min far above
    // the threshold even after member flips
    val dists = for {
      i <- docIds.indices; j <- (i + 1) until docIds.length
      a = docIds(i); b = docIds(j)
    } yield (a % Multimodal.DhashGroups == b % Multimodal.DhashGroups,
      java.lang.Long.bitCount(expected(a) ^ expected(b)))
    val same = dists.filter(_._1).map(_._2)
    val cross = dists.filterNot(_._1).map(_._2)
    assert(same.max <= 2 && same.contains(0) && same.exists(_ > 0),
      s"same-group distances ${same.toSet} must stay ≤ 2 flips and " +
        "populate both the re-render (0) and visible-edit (>0) cases")
    assert(cross.min > 2 * Multimodal.DhashMaxHamming,
      s"cross-group min ${cross.min} leaves no margin over the threshold")
    // the invariance that makes the hash perceptual: a uniform
    // brightness shift moves every cell sum equally — hash unchanged
    val base = Array.tabulate(Multimodal.DhashGridH, Multimodal.DhashGridW)(
      (gy, gx) => (Multimodal.dhashLevel(3L, gx, gy) * 16).toLong)
    val shifted = base.map(_.map(_ + 160L))
    assert(Multimodal.dhash64(base) == Multimodal.dhash64(shifted),
      "uniform brightness shift must not move a dHash")
    // wrong-geometry payloads refuse loudly (raise-don't-drift)
    val e = intercept[Exception] {
      Multimodal.perceptualHashes(spark,
        spark.createDataset(Seq(Multimodal.MediaRow(7L,
          Multimodal.encodeBmp(7L, 8, 8))))).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("q217 boilerplate extract: matches a plain-Scala re-derivation; density/word rules; injection-proof; parser loudness") {
    import graft.operators.Warc
    import graft.expressions.BoilerplateExtract
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    def ext(html: String): (Long, Long, Long, String) = {
      val r = BoilerplateExtract(Literal(UTF8String.fromString(html)))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getUTF8String(3).toString)
    }
    // THIRD implementation (after the expression and the oracle's SQL):
    // the fixture's classification re-derived from word slices alone
    val out = SparkEntry.queries("q217_boilerplate_extract")(spark, Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val docs = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
    docs.foreach { r =>
      val id = r.getLong(0)
      val ws = (r.getString(1) + Warc.NonAsciiProbe).split(" ").filter(_.nonEmpty)
      val paras = ws.grouped(Warc.ParaWords).toSeq
      val content = paras.filter(_.length >= BoilerplateExtract.MinContentWords)
      val md = java.security.MessageDigest.getInstance("MD5")
      val md5 = md.digest(content.map(_.mkString(" ")).mkString("\n")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(out(id) == ((5L + paras.size, content.size.toLong,
        content.map(_.length.toLong).sum, md5)),
        s"doc $id: engine ${out(id)} != word-slice re-derivation")
    }
    // both classes populated across the corpus: some tail paragraph is
    // boilerplate, some doc extracts real content
    assert(out.values.exists(_._2 > 0), "no doc extracted content")
    assert(docs.exists { r =>
      val nw = (r.getString(1) + Warc.NonAsciiProbe).split(" ").count(_.nonEmpty)
      nw % Warc.ParaWords != 0 &&
        nw % Warc.ParaWords < BoilerplateExtract.MinContentWords
    }, "no doc exercises the under-bar tail paragraph")
    // link-density boundary: 12 words, 4 links = exactly 1/3 → content;
    // 5 links → boilerplate
    val eightWords = "w1 w2 w3 w4 w5 w6 w7 w8"
    val atBar = s"<p><a>l1</a> <a>l2</a> <a>l3</a> <a>l4</a> $eightWords</p>"
    assert(ext(atBar)._2 == 1L, "link density exactly 1/3 must stay content")
    val overBar = s"<p><a>l1</a> <a>l2</a> <a>l3</a> <a>l4</a> <a>l5</a> $eightWords w9</p>"
    assert(ext(overBar)._2 == 0L, "14 words with 5 link words (>1/3) must drop")
    // word-count bar: 9 plain words drop, 10 keep
    assert(ext("<p>a b c d e f g h i</p>")._2 == 0L)
    assert(ext("<p>a b c d e f g h i j</p>")._2 == 1L)
    // inline tags do not split blocks; block tags and <br> do
    val inline = ext("<p>one <b>two</b> three four five six seven eight nine ten</p>")
    assert(inline._1 == 1L && inline._2 == 1L && inline._3 == 10L)
    assert(ext("<p>a b c d e f<br>g h i j</p>")._1 == 2L,
      "<br> must split the block (both halves under the word bar)")
    // markup injection: escaped tags in text stay TEXT (the escapeHtml
    // rationale) — '&lt;footer&gt;' must not open a footer block
    val inj = ext("<p>x &lt;footer&gt; a b c d e f g h i j</p>")
    assert(inj._2 == 1L && inj._4.contains("<footer>"),
      "escaped markup must extract as literal text")
    // case-insensitive tags; head/script/style/comments contribute nothing
    assert(ext("<HTML><HEAD><title>t t t</title></HEAD><BODY>" +
      "<P>a b c d e f g h i j</P><!-- c1 c2 --></BODY></HTML>") ==
      ((1L, 1L, 10L, "a b c d e f g h i j")))
    assert(ext("<body><script>var x = 'a b c d e f g h i j k';</script>" +
      "<p>k l m n o p q r s t</p></body>")._3 == 10L)
    // documented word-boundary contract: ANY tag ends the in-progress
    // word, and a word starting inside <a> is a link word
    val split = ext("<p>so<b>ft</b>ware plus eight more words here now ok</p>")
    assert(split._3 == 10L, "so|ft|ware must count as 3 words by contract")
    // parser loudness: unclosed script/comment/tag refuse
    intercept[Exception] { ext("<p>a</p><script>oops") }
    intercept[Exception] { ext("<p>a</p><!-- oops") }
    intercept[Exception] { ext("<p>a b c <div") }
  }

  test("q218 scene cuts: closed-form structure; analytic SAD margins; cuts == container keyframes; cross-cut P-frame refusal") {
    import graft.operators.{Multimodal, Gvc, Avi}
    val out = SparkEntry.queries("q218_scene_cuts")(spark, Sf).collect()
    assert(out.nonEmpty)
    // closed form: the fixture cuts at k·fp, k = 1..S−1 — the detector
    // must land exactly there (n_cuts, position sum, longest shot)
    out.foreach { r =>
      val id = r.getLong(0)
      val s = Multimodal.sceneCount(id)
      val fp = Multimodal.sceneFp(id)
      assert(r.getLong(1) == s.toLong * fp, s"doc $id n_frames")
      assert(r.getLong(2) == (s - 1).toLong, s"doc $id n_cuts")
      assert(r.getLong(3) == (1 until s).map(_.toLong * fp).sum, s"doc $id cut_pos_sum")
      assert(r.getLong(4) == fp.toLong, s"doc $id longest_shot")
    }
    // the analytic margins, measured: within-scene adjacent SAD ≤ 32/px
    // (the mod-7 temporal term's max step), cut SAD ≥ 57/px (texture
    // offset 89 or 111 minus the ≤ 32 temporal swing) — bar at 40
    val docs = Tables(spark, Sf, "documents")
      .select("doc_id", "n_chars").collect()
    docs.take(40).foreach { r =>
      val id = r.getLong(0)
      val w = (16 + r.getLong(1) % 16).toInt
      val h = (8 + (id % 3) * 4).toInt
      val fp = Multimodal.sceneFp(id)
      val nf = Multimodal.sceneCount(id) * fp
      (1 until nf).foreach { f =>
        var sad = 0L
        for (x <- 0 until w; y <- 0 until h)
          sad += math.abs(Multimodal.sceneExpected(id, x, y, f) -
            Multimodal.sceneExpected(id, x, y, f - 1))
        if (f % fp == 0)
          assert(sad >= 57L * w * h, s"doc $id f $f: cut SAD $sad under the analytic floor")
        else
          assert(sad <= 32L * w * h, s"doc $id f $f: in-scene SAD $sad over the analytic ceiling")
      }
    }
    // encoder/detector agreement: the container's keyframe index (the
    // encoder's I-frame placement) sits exactly at {0} ∪ detected cuts
    docs.take(10).foreach { r =>
      val id = r.getLong(0)
      val w = (16 + r.getLong(1) % 16).toInt
      val h = (8 + (id % 3) * 4).toInt
      val fp = Multimodal.sceneFp(id)
      val nf = Multimodal.sceneCount(id) * fp
      val flags = Avi.idx1Flags(Multimodal.encodeSceneAvi(id, w, h, nf))
      val keyPos = flags.zipWithIndex.filter(t => (t._1 & 0x10) != 0).map(_._2)
      assert(keyPos == (0 until nf by fp).toSeq,
        s"doc $id: container keyframes $keyPos != scene starts")
    }
    // the byte-range physics behind keyframes-at-cuts: a cut-sized jump
    // refuses P-frame coding loudly (residual −140 < −128), and keying
    // the cut frame makes the same pair encodable
    val jump = Seq(Array.fill(16)(150), Array.fill(16)(10))
    intercept[Exception] { Gvc.encodeFrames(jump, 4, 4) }
    assert(Gvc.encodeFramesAt(jump, 4, 4, _ => true).size == 2)
    // and an intra predicate that skips frame 0 is refused
    intercept[Exception] { Gvc.encodeFramesAt(jump, 4, 4, _ == 1) }
  }

  test("q219 audio fingerprint: decode==formula; volume invariance; fade-out flips one bit; banding==brute force; geometry loudness") {
    import graft.operators.Multimodal
    val docIds = Tables(spark, Sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // THIRD implementation: energies straight from the closed form the
    // oracle derives (64·mult·level + noise-residue), never touching
    // WAV bytes
    def formulaHash(id: Long): Long = {
      val gid = id % Multimodal.AfpGroups
      val member = id / Multimodal.AfpGroups
      val mult = 1 + (member % 2)
      val en = (0 until Multimodal.AfpFrames).map { j =>
        64L * mult * Multimodal.afpLevel(gid, member, j) +
          ((j.toLong * 64 + member) % 3) - 1
      }
      (0 until Multimodal.AfpFrames - 1)
        .foldLeft(0L)((h, j) => if (en(j) > en(j + 1)) h | (1L << j) else h)
    }
    val expected = docIds.map(id => id -> formulaHash(id)).toMap
    import spark.implicits._
    val engine = Multimodal.audioFingerprints(spark,
      spark.createDataset(docIds.toSeq)
        .map(id => Multimodal.MediaRow(id, Multimodal.encodeWavAfp(id))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine == expected,
      "decoded-PCM fingerprint diverged from the closed-form energies")
    // volume invariance: members of the same group and edit class hash
    // identically across the ×1/×2 re-level — ≤ 2 distinct hashes per
    // group (unedited + fade-out), exactly 2 where both classes exist
    docIds.groupBy(_ % Multimodal.AfpGroups).foreach { case (g, ids) =>
      val classes = ids.groupBy(id => (id / Multimodal.AfpGroups) % 3 == 1)
      classes.foreach { case (_, cls) =>
        assert(cls.map(expected).distinct.length == 1,
          s"group $g: re-leveled copies must hash identically")
      }
      if (classes.size == 2)
        assert(ids.map(expected).distinct.length == 2, s"group $g")
    }
    // the fade-out edit flips EXACTLY bit 63 in every group
    docIds.groupBy(_ % Multimodal.AfpGroups).foreach { case (g, ids) =>
      val byClass = ids.groupBy(id => (id / Multimodal.AfpGroups) % 3 == 1)
      if (byClass.size == 2)
        assert((expected(byClass(false).head) ^ expected(byClass(true).head))
          == (1L << 63), s"group $g: edit must flip exactly bit 63")
    }
    // banding completeness == brute force (pigeonhole)
    val brute = (for {
      i <- docIds.indices.iterator; j <- (i + 1) until docIds.length
      a = docIds(i); b = docIds(j)
      h = java.lang.Long.bitCount(expected(a) ^ expected(b))
      if h <= Multimodal.DhashMaxHamming
    } yield (a, b, h.toLong)).toSet
    val out = SparkEntry.queries("q219_audio_neardup")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == brute, s"banded (${out.size}) != brute force (${brute.size})")
    assert(out.exists(_._3 == 1L) && out.exists(_._3 == 0L),
      "both the exact-copy and the one-bit-edit pair classes must appear")
    // cross-group margin measured: min distance ≥ 7 (signature 9 − 2 flips)
    val cross = for {
      i <- docIds.indices; j <- (i + 1) until docIds.length
      if docIds(i) % Multimodal.AfpGroups != docIds(j) % Multimodal.AfpGroups
    } yield java.lang.Long.bitCount(expected(docIds(i)) ^ expected(docIds(j)))
    assert(cross.min >= 7, s"cross-group min ${cross.min} under the margin floor")
    // wrong-geometry payloads refuse loudly
    val e = intercept[Exception] {
      Multimodal.audioFingerprints(spark,
        spark.createDataset(Seq(Multimodal.MediaRow(3L,
          Multimodal.encodeWav(3L, 100))))).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("q220 webdataset tar: byte round trip; GNU tar interop; checksum/truncation/magic loudness; offset closed form") {
    import graft.operators.Tar
    val samples = Seq(
      (7L, "hello world"),
      (23L, "naïve 東京 ✓ multi-byte payload"),
      (105L, "x" * 700)) // spans two payload blocks
    val members = samples.flatMap { case (id, t) => Tar.sampleMembers(id, t) }
    val tar = Tar.write(members.iterator)
    assert(tar.length % 512 == 0)
    // byte-exact round trip, order preserved, offsets follow the
    // closed form (cumulative 512-padded sizes)
    val rd = Tar.read(tar)
    assert(rd.map(_.name) == members.map(_._1))
    rd.zip(members).foreach { case (m, (name, payload)) =>
      assert(java.util.Arrays.equals(m.payload, payload), s"payload drift in $name")
    }
    val expOffsets = members.scanLeft(0L) { case (off, (_, p)) =>
      off + 512L + (p.length + 511) / 512 * 512
    }.init
    assert(rd.map(_.offset) == expOffsets, "member offsets off the closed form")
    // closed-form checksum: FixedHeaderSum + Σascii(name) + Σoctal digits
    rd.zip(members).foreach { case (m, (name, p)) =>
      val octd = java.lang.Long.toOctalString(p.length.toLong)
        .map(_ - '0').map(_.toLong).sum
      assert(m.headerChecksum ==
        Tar.FixedHeaderSum + name.getBytes("US-ASCII").map(_.toLong).sum + octd,
        s"checksum closed form broke for $name")
    }
    // REAL-WORLD interop: GNU tar must list and extract our archive
    val tmp = java.nio.file.Files.createTempFile("graft", ".tar")
    try {
      java.nio.file.Files.write(tmp, tar)
      def run(cmd: String*): String = {
        val pr = new ProcessBuilder(cmd: _*).redirectErrorStream(false).start()
        val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
        require(pr.waitFor() == 0, s"${cmd.mkString(" ")} failed")
        out
      }
      val listed = run("tar", "-tf", tmp.toString).split("\n").toSeq
      assert(listed == members.map(_._1), s"GNU tar listing drift: $listed")
      val extracted = run("tar", "-xOf", tmp.toString, "23.txt")
      assert(extracted == samples(1)._2, "GNU tar extraction drift")
    } finally java.nio.file.Files.deleteIfExists(tmp)
    // loudness: a flipped payload byte is caught downstream consumers'
    // problem, but a flipped HEADER byte must break the checksum
    val corrupted = tar.clone()
    corrupted(3) = 'X'.toByte // inside the first member's name field
    intercept[Exception] { Tar.read(corrupted) }
    // truncation (no end marker) and foreign magic refuse
    intercept[Exception] { Tar.read(tar.dropRight(513)) }
    val foreign = tar.clone()
    foreign(257) = 'w'.toByte
    intercept[Exception] { Tar.read(foreign) }
    // writer guards: oversized names and sizes refuse
    intercept[Exception] {
      Tar.write(Iterator(("a" * 101, Array[Byte]())))
    }
    // the registered query's per-doc facts survive the full
    // pack→parse loop at corpus scale (engine vs the q169-style text)
    val out = SparkEntry.queries("q220_webdataset_tar")(spark, Sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) % 16, "shard key drift")
      assert(r.getLong(2) % 512 == 0, "member offsets must be block-aligned")
    }
  }

  test("q221 HRW reshard: matches a plain-Scala rendezvous; minimal-disruption theorem; movement fraction; loud on foreign moves") {
    import graft.operators.Curation
    val docIds = Tables(spark, Sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    // THIRD implementation: rendezvous over java MessageDigest
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def owner(key: Long, shards: Int): Long =
      (0 until shards).map(s => (h60(s"hrw:$key:$s"), s.toLong)).max._2
    val before = docIds.map(id => id -> owner(id, Curation.HrwBefore)).toMap
    val after = docIds.map(id => id -> owner(id, Curation.HrwBefore + 1)).toMap
    // the theorem, verified on raw assignments: every moved key lands
    // on the ADDED shard, and nothing else changes
    val moved = docIds.filter(id => before(id) != after(id))
    assert(moved.nonEmpty, "fixture must exercise movement")
    assert(moved.forall(id => after(id) == Curation.HrwBefore.toLong),
      "a key moved to a non-new shard — HRW broken")
    // engine rollup == plain-Scala rollup
    val out = SparkEntry.queries("q221_hrw_reshard")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    (0 to Curation.HrwBefore).foreach { s =>
      val nb = docIds.count(before(_) == s.toLong).toLong
      val na = docIds.count(after(_) == s.toLong).toLong
      val mo = docIds.count(id => before(id) == s.toLong && after(id) != s.toLong).toLong
      assert(out(s.toLong) == ((nb, na, mo)), s"shard $s rollup drift")
    }
    // movement fraction ≈ 1/(S+1): between half and double expectation
    val exp = docIds.length.toDouble / (Curation.HrwBefore + 1)
    assert(moved.length > exp / 2 && moved.length < exp * 2,
      s"moved ${moved.length} vs expected ~$exp — hash balance broken")
    // every original shard keeps a nonempty slice
    (0 until Curation.HrwBefore).foreach(s =>
      assert(out(s.toLong)._2 > 0, s"shard $s emptied by the reshard"))
    // loudness: a foreign move (owner drift mid-flight) refuses
    import spark.implicits._
    val doctored = Seq((1L, 0L, 3L)).toDF("doc_id", "before", "after")
    val e = intercept[Exception] {
      Curation.hrwAudit(doctored, Curation.HrwBefore).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("q222 contamination score: matches a plain-Scala audit; every eval doc reported; both verdict classes populated") {
    import graft.operators.Dedup
    val out = SparkEntry.queries("q222_contamination_score")(spark, Sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    // THIRD implementation: the whole audit off collected rows
    def evalSide(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"eval:$id".getBytes("UTF-8"))
      "%02x".format(d(0)).charAt(0) < '4'
    }
    val docs = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def grams(t: String): Set[String] = {
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < Dedup.ContamN) Set.empty
      else ws.sliding(Dedup.ContamN).map(_.mkString(" ")).toSet
    }
    val train = docs.filterNot(d => evalSide(d._1)).iterator
      .flatMap(d => grams(d._2)).toSet
    val evals = docs.filter(d => evalSide(d._1))
    assert(out.keySet == evals.map(_._1).toSet,
      "every eval doc must be reported, including gram-less ones")
    evals.foreach { case (id, t) =>
      val g = grams(t)
      val hit = g.count(train.contains).toLong
      val dirty = hit * Dedup.ContamDen >= g.size * Dedup.ContamNum && g.nonEmpty
      assert(out(id) == ((g.size.toLong, hit, dirty)),
        s"doc $id: engine ${out(id)} != plain-Scala (${g.size}, $hit, $dirty)")
    }
    // the fixture exercises all three regimes
    assert(out.values.exists(_._3), "no dirty eval doc — audit untested")
    assert(out.values.exists(v => !v._3 && v._1 > 0), "no clean eval doc")
    assert(out.values.exists(v => v._2 == 0 && v._1 > 0), "no zero-hit doc")
  }

  test("q223 merge compaction: matches plain-Scala; compaction is associative; tombstones persist; double-claimed slot is loud") {
    import graft.operators.Relational
    import spark.implicits._
    val out = SparkEntry.queries("q223_merge_compaction")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) null else r.getString(3))).toMap
    // THIRD implementation off collected docs
    def hex1(s: String): Char = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      "%02x".format(d(0)).charAt(0)
    }
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables(spark, Sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1)))
    val ref = scala.collection.mutable.Map.empty[Long, (Long, Boolean, String)]
    docs.foreach { case (id, t) =>
      ref(id) = (1L, true, if (t == null) null else md5s(t))
    }
    docs.foreach { case (id, t) =>
      if (hex1(s"mdel:$id") < '2') ref(id) = (2L, false, null)
      else if (hex1(s"mupd:$id") < '4')
        ref(id) = (2L, true, if (t == null) null else md5s(t + " v2"))
    }
    docs.foreach { case (id, t) =>
      if (hex1(s"mupd2:$id") < '2')
        ref(id) = (3L, true, if (t == null) null else md5s(t + " v3"))
      if (hex1(s"mnew:$id") < '1')
        ref(id + Relational.MergeNewBase) = (3L, true, md5s(s"new doc $id"))
    }
    assert(out == ref.toMap, "engine compaction drifted from plain-Scala")
    // fixture exercises every regime: dead keys persist in the
    // manifest, delta-born keys exist, a v3 overrode a v2 somewhere,
    // and a delete overrode an update (version-order wins)
    assert(out.values.exists(v => !v._2), "no tombstoned key")
    assert(out.keys.exists(_ >= Relational.MergeNewBase), "no delta-born key")
    assert(docs.exists { case (id, _) =>
      hex1(s"mupd:$id") < '4' && hex1(s"mupd2:$id") < '2' &&
        hex1(s"mdel:$id") >= '2'
    }, "no v2→v3 update chain")
    assert(docs.exists { case (id, _) =>
      hex1(s"mdel:$id") < '2' && hex1(s"mupd2:$id") >= '2'
    }, "no surviving tombstone")
    // the LSM law: compact(compact(base, d1), d2) == compact(base, d1, d2)
    def dump(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("doc_id", "version", "op", "txt")
    val a = dump(Seq((1L, 1L, "U", "one"), (2L, 1L, "U", "two")))
    val b = dump(Seq((1L, 2L, "D", null), (3L, 2L, "U", "three")))
    val c = dump(Seq((1L, 3L, "U", "back"), (2L, 3L, "U", "two2")))
    val direct = Relational.mergeCompact(Seq(a, b, c)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // re-level the first compaction's output into a dump (alive → U)
    val lvl1 = Relational.mergeCompact(Seq(a, b))
    val asDump = lvl1.select(col("doc_id"), col("version"),
      when(col("alive"), "U").otherwise("D").as("op"),
      when(col("alive"), concat(lit("x"), col("text_md5")))
        .otherwise(lit(null)).as("txt"))
    // (text differs post-relevel; compare keys/versions/aliveness only)
    val staged = Relational.mergeCompact(Seq(asDump, c)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(staged == direct, "leveled compaction broke the merge law")
    assert(direct == Set((1L, 3L, true), (2L, 3L, true), (3L, 2L, true)))
    // un-delete via a LATER version is legal; resurrecting via an older
    // dump is not possible because the tombstone's version wins
    val res = Relational.mergeCompact(Seq(b, a)).collect()
      .map(r => (r.getLong(0), r.getBoolean(1 + 1))).toMap
    assert(res(1L) == false, "an older dump must not resurrect a tombstone")
    // double-claimed (key, version) slot refuses loudly
    val e = intercept[Exception] {
      Relational.mergeCompact(Seq(
        dump(Seq((1L, 1L, "U", "w1"))),
        dump(Seq((1L, 1L, "U", "w2"))))).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("q224 frontier schedule: matches a plain-Scala schedule; dedup collapses; politeness spacing exact; withheld reported") {
    val canon = SparkEntry.queries("q211_url_canonicalize")(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getString(4))).toMap
    val verdicts = SparkEntry.queries("q212_robots_eval")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // THIRD implementation: dedup + schedule off the (already
    // oracle-green) q211/q212 surfaces
    val keeper = canon.toSeq
      .map { case (id, (c, h)) => (c, h, verdicts(id), id) }
      .groupBy(t => (t._1, t._2, t._3))
      .map { case ((c, h, a), g) => (c, h, a, g.map(_._4).min) }.toSeq
    val ref = scala.collection.mutable.Map.empty[Long, (String, String, Boolean, Option[Long], Option[Long])]
    keeper.filter(_._3).groupBy(_._2).foreach { case (h, g) =>
      val delay = 1L + h.length % 5
      g.sortBy(_._1).zipWithIndex.foreach { case ((c, _, _, id), i) =>
        ref(id) = (c, h, true, Some(i.toLong), Some(i.toLong * delay))
      }
    }
    keeper.filterNot(_._3).foreach { case (c, h, _, id) =>
      ref(id) = (c, h, false, None, None)
    }
    val out = SparkEntry.queries("q224_frontier_schedule")(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getBoolean(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
    assert(out == ref.toMap, "engine schedule drifted from plain-Scala")
    // canonical dedup collapsed something, and withheld URLs exist
    assert(out.size < canon.size, "no canonical collapse — frontier dedup untested")
    assert(out.values.exists(!_._3), "no withheld URL — politeness untested")
    // politeness law: within a host, consecutive slots are exactly one
    // crawl delay apart, starting at 0
    out.values.filter(_._3).groupBy(_._2).foreach { case (h, g) =>
      val times = g.flatMap(_._5).toSeq.sorted
      val delay = 1L + h.length % 5
      assert(times == times.indices.map(_ * delay),
        s"host $h: fetch slots $times are not $delay-spaced from 0")
    }
  }

  test("q225 erasure parity: GF(256) laws; ALL 28 double erasures recover; corruption detected; shard facts match") {
    import graft.operators.Erasure
    // field laws the algebra stands on: every nonzero element inverts,
    // multiplication is commutative/associative on a sweep, and g=2
    // has full order (the 8 generator powers are distinct — the
    // condition that makes gⁱ ⊕ gʲ invertible for i ≠ j)
    (1 to 255).foreach { x =>
      assert(Erasure.gfMul(x, Erasure.gfInv(x)) == 1, s"inv broke at $x")
    }
    for (a <- Seq(3, 29, 130, 255); b <- Seq(7, 91, 200); c <- Seq(5, 173)) {
      assert(Erasure.gfMul(a, b) == Erasure.gfMul(b, a))
      assert(Erasure.gfMul(Erasure.gfMul(a, b), c) ==
        Erasure.gfMul(a, Erasure.gfMul(b, c)))
    }
    val gs = (0 until Erasure.DataShards).map(Erasure.gfPow2)
    assert(gs.distinct.size == gs.size, "generator powers collide")
    // a deterministic toy stripe: EVERY (i, j) pair recovers, not just
    // the adjacent pairs the in-plan verdict sweeps
    val blocks = Array.tabulate(Erasure.DataShards) { s =>
      Array.tabulate[Byte](64)(b => ((s * 37 + b * 11 + 5) % 256).toByte)
    }
    val (p, q) = Erasure.parity(blocks)
    for (i <- 0 until Erasure.DataShards; j <- (i + 1) until Erasure.DataShards) {
      val (ri, rj) = Erasure.recover(blocks, i, j, p, q)
      assert(java.util.Arrays.equals(ri, blocks(i)) &&
        java.util.Arrays.equals(rj, blocks(j)), s"pair ($i,$j) failed")
    }
    // corruption detection: a flipped parity byte makes recovery
    // provably wrong (what the in-plan raise_error guards)
    val pc = p.clone(); pc(7) = (pc(7) ^ 0x40).toByte
    val (ci, _) = Erasure.recover(blocks, 2, 5, pc, q)
    assert(!java.util.Arrays.equals(ci, blocks(2)),
      "corrupted parity must not reconstruct the original")
    // the registered audit: shard facts match a plain-Scala count and
    // the proven verdict is true everywhere
    val out = SparkEntry.queries("q225_erasure_parity")(spark, Sf).collect()
    assert(out.length == Erasure.DataShards)
    val docs = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1) + graft.operators.Warc.NonAsciiProbe))
    out.foreach { r =>
      val s = r.getLong(0)
      val mine = docs.filter(_._1 % Erasure.DataShards == s)
      assert(r.getLong(1) == mine.length.toLong)
      assert(r.getLong(2) == mine.map(_._2.getBytes("UTF-8").length.toLong).sum)
      assert(r.getBoolean(3), s"shard $s verdict must be proven true")
    }
  }

  test("q226 batch packing: matches plain-Scala; bucketing beats naive; scanRank == global row_number") {
    import graft.operators.Curation
    val docs = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
    val out = SparkEntry.queries("q226_batch_packing_audit")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // THIRD implementation
    def audit(sorted: Seq[(Long, Long)], scheme: String) =
      sorted.grouped(Curation.BatchDocs).zipWithIndex.map { case (g, i) =>
        val lens = g.map(_._2)
        (scheme, i.toLong) ->
          (g.size.toLong, lens.max, lens.sum,
            g.size * lens.max - lens.sum)
      }.toMap
    val ref = audit(docs.sortBy(_._1).toSeq, "naive") ++
      audit(docs.sortBy(d => (d._2, d._1)).toSeq, "bucketed")
    assert(out == ref, "engine audit drifted from plain-Scala")
    // the point of the operator, measured: bucketed total padding waste
    // strictly below naive on this corpus (equality only if all equal)
    val naiveWaste = out.collect { case (("naive", _), v) => v._4 }.sum
    val buckWaste = out.collect { case (("bucketed", _), v) => v._4 }.sum
    assert(buckWaste < naiveWaste,
      s"bucketed waste $buckWaste must beat naive $naiveWaste")
    // every batch is full except possibly the last of each scheme
    Seq("naive", "bucketed").foreach { s =>
      val batches = out.keys.filter(_._1 == s).map(_._2).toSeq.sorted
      batches.init.foreach(b =>
        assert(out((s, b))._1 == Curation.BatchDocs, s"$s batch $b not full"))
    }
    // scanRank is a true global row_number under its order
    val ranked = Curation.scanRank(
      Tables(spark, Sf, "documents").filter(col("text").isNotNull)
        .select(col("doc_id")), Seq(col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expRank = docs.map(_._1).sorted.zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    assert(ranked == expRank, "scanRank drifted from a global row_number")
  }

  test("q227 FIM transform: matches plain-Scala; char budget conserved; invertible; both arms + empty-middle populated") {
    val out = SparkEntry.queries("q227_fim_transform")(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val docs = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // THIRD implementation + the invertibility proof per doc
    docs.foreach { case (id, t) =>
      val len = t.length.toLong
      val applied = md5hex(s"fim:$id").charAt(0) < '8' && len >= 2
      if (!applied) {
        assert(out(id) == ((false, len, 0L, 0L, md5hex(t))), s"doc $id passthrough")
      } else {
        val a = (1L + h60(s"fima:$id") % (len - 1)).toInt
        val m = (h60(s"fimb:$id") % (len - a + 1)).toInt
        val (pre, rest) = t.splitAt(a)
        val (mid, suf) = rest.splitAt(m)
        val psm = s"<PRE>$pre<SUF>$suf<MID>$mid"
        assert(out(id) == ((true, a.toLong, m.toLong, (len - a - m),
          md5hex(psm))), s"doc $id transform drift")
        // character budget conserved and the transform inverts
        assert(a + m + (len - a - m) == len)
        val ip = psm.stripPrefix("<PRE>")
        val Array(p2, rest2) = ip.split("<SUF>", 2)
        val Array(s2, m2) = rest2.split("<MID>", 2)
        assert(md5hex(p2 + m2 + s2) == md5hex(t), s"doc $id not invertible")
      }
    }
    // regimes populated: both gate arms, and an empty middle somewhere
    assert(out.values.exists(_._1) && out.values.exists(!_._1))
    assert(out.values.exists(v => v._1 && v._3 == 0L),
      "no empty-middle sample — the paper's kept edge case untested")
    assert(out.values.forall(v => !v._1 || v._2 >= 1L),
      "prefix must hold at least one char")
  }

  test("q228 time travel: AS OF max version == compaction; born-after-V keys absent not dead; v2 state visible") {
    import graft.operators.Relational
    val asOf = SparkEntry.queries("q228_time_travel")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val full = SparkEntry.queries("q223_merge_compaction")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // nonexistence vs death: keys born at v3 are ABSENT from the v2
    // snapshot, not tombstoned
    val born = full.keys.filter(_ >= Relational.MergeNewBase)
    assert(born.nonEmpty)
    born.foreach(k => assert(!asOf.contains(k), s"born-later key $k visible at v2"))
    // v3 updates are invisible: their keys read at version ≤ 2
    assert(asOf.values.forall(_._1 <= Relational.TimeTravelVersion))
    assert(full.exists { case (k, (v, _)) => v == 3L && asOf.contains(k) },
      "no key demonstrates a v3 update hidden by the snapshot")
    // tombstones laid at v2 are already dead in the snapshot
    assert(asOf.values.exists(!_._2), "no v2 tombstone visible")
    // the law: AS OF the maximum version ≡ the full compaction
    val maxV = 3L
    val atMax = Relational.timeTravelRead(
      Relational.mergeDumps(spark, Sf), maxV).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    val compacted = SparkEntry.queries("q223_merge_compaction")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(atMax == compacted, "AS OF max version must equal the compaction")
  }

  test("q229 release audit card: every value equals its source operator's own output; all checks present") {
    import graft.operators.Erasure
    val card = SparkEntry.queries("q229_release_audit_card")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(card.keySet == Set(
      ("k_anonymity", "chosen_level"), ("l_diversity", "chosen_level"),
      ("t_closeness", "chosen_level"), ("contamination", "dirty_docs"),
      ("contamination", "eval_docs"), ("erasure", "shards_proven"),
      ("merge", "live_keys"), ("merge", "dead_keys")))
    // composition fidelity: each card value recomputed from the SOURCE
    // operator's registered output
    def q(name: String) = SparkEntry.queries(name)(spark, Sf).collect()
    assert(card(("k_anonymity", "chosen_level")) ==
      q("q201_k_anonymity").filter(_.getBoolean(5)).head.getLong(0))
    assert(card(("l_diversity", "chosen_level")) ==
      q("q202_l_diversity").filter(_.getBoolean(6)).head.getLong(0))
    assert(card(("t_closeness", "chosen_level")) ==
      q("q214_t_closeness").filter(_.getBoolean(5)).head.getLong(0))
    val contam = q("q222_contamination_score")
    assert(card(("contamination", "dirty_docs")) ==
      contam.count(_.getBoolean(3)).toLong)
    assert(card(("contamination", "eval_docs")) == contam.length.toLong)
    assert(card(("erasure", "shards_proven")) == Erasure.DataShards.toLong)
    val merged = q("q223_merge_compaction")
    assert(card(("merge", "live_keys")) == merged.count(_.getBoolean(2)).toLong)
    assert(card(("merge", "dead_keys")) == merged.count(!_.getBoolean(2)).toLong)
  }

  test("q230 image resize: decoded area means == formula; brightness exactness; non-multiple geometry loud") {
    import graft.operators.Multimodal
    val out = SparkEntry.queries("q230_image_resize")(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // THIRD implementation from the pixel formula
    val docIds = Tables(spark, Sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    docIds.foreach { id =>
      var px = 0L
      for (gy <- 0 until Multimodal.DhashGridH; gx <- 0 until Multimodal.DhashGridW) {
        var s = 0L
        for (dy <- 0 until 4; dx <- 0 until 4)
          s += Multimodal.dhashPixel(id, gx * 4 + dx, gy * 4 + dy).toLong
        px += s / 16
      }
      assert(out(id) == ((36L, 32L, 9L, 8L, px)), s"doc $id resize drift")
    }
    // area averaging commutes with uniform brightness shifts exactly
    // when the shift is integral per block: mean(p + c) = mean(p) + c
    val base = Array.tabulate(16)(i => 40 + i) // one 4x4 block
    val mean0 = base.map(_.toLong).sum / 16
    val mean1 = base.map(v => (v + 9).toLong).sum / 16
    assert(mean1 == mean0 + 9, "uniform shift must move the exact mean by c")
    // non-multiple geometry refuses loudly (fractional-footprint
    // blending is a different operator)
    import spark.implicits._
    val e = intercept[Exception] {
      Multimodal.resizeImages(spark,
        spark.createDataset(Seq(Multimodal.MediaRow(5L,
          Multimodal.encodeBmp(5L, 10, 10))))).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("q231 homoglyph dedup: matches plain-Scala skeleton grouping; spoofs invisible to byte dedup; both collision classes") {
    import graft.operators.Dedup
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hex1(s: String): Char = md5s(s).charAt(0)
    def toCyr(t: String): String =
      Dedup.ConfusablesAscii.zip(Dedup.ConfusablesCyr)
        .foldLeft(t) { case (x, (a, c)) => x.replace(a, c) }
    def skel(t: String): String =
      Dedup.ConfusablesCyr.zip(Dedup.ConfusablesAscii)
        .foldLeft(t) { case (x, (c, a)) => x.replace(c, a) }
    val docs = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val all = docs ++ docs.filter(d => hex1(s"spoof:${d._1}") < '4')
      .map(d => (d._1 + Dedup.SpoofBase, toCyr(d._2)))
    // THIRD implementation
    val groups = all.groupBy(d => md5s(skel(d._2))).values.filter(_.length > 1)
    val ref = groups.flatMap { g =>
      val canon = g.minBy(_._1)
      g.filter(_._1 != canon._1).map(d =>
        d._1 -> (canon._1, md5s(d._2) != md5s(canon._2)))
    }.toMap
    val out = SparkEntry.queries("q231_homoglyph_dedup")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == ref, "engine skeleton dedup drifted from plain-Scala")
    // the attack surface, demonstrated: a spoof's RAW hash differs from
    // its source (byte dedup is blind), its SKELETON hash matches
    val spoofPair = docs.find(d => hex1(s"spoof:${d._1}") < '4').get
    assert(md5s(toCyr(spoofPair._2)) != md5s(spoofPair._2) ||
      !spoofPair._2.exists(Dedup.ConfusablesAscii.contains(_)),
      "substitution must change raw bytes when confusable chars exist")
    assert(md5s(skel(toCyr(spoofPair._2))) == md5s(skel(spoofPair._2)))
    // collision classes: true homoglyph pairs always (the synthetic
    // spoofs); exact duplicates only when the corpus holds any at this
    // SF (sf0.001's non-null texts are all distinct — checked, not
    // assumed)
    assert(out.values.exists(_._2), "no homoglyph collision")
    if (all.groupBy(_._2).values.exists(_.length > 1))
      assert(out.values.exists(!_._2), "exact dups exist but none reported")
    // every synthetic spoof is caught and points below the spoof base
    all.filter(_._1 >= Dedup.SpoofBase).foreach { case (id, _) =>
      assert(out.contains(id) && out(id)._1 < Dedup.SpoofBase,
        s"spoof $id must resolve to a real canonical")
    }
  }

  test("q232 blocklist scan: matches plain-Scala greedy counts; nested/cross-pattern overlaps counted; bordered patterns refused") {
    import graft.operators.TextAnalysis
    import graft.expressions.BlocklistScan
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    def ac(text: String, pats: Seq[String]): (Long, Long) = {
      val r = BlocklistScan(Literal(UTF8String.fromString(text)), pats.toArray)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      (r.getLong(0), r.getLong(1))
    }
    // THIRD implementation: per-pattern greedy non-overlapping counts
    def greedy(text: String, p: String): Long = {
      var c = 0L; var i = text.indexOf(p)
      while (i >= 0) { c += 1; i = text.indexOf(p, i + p.length) }
      c
    }
    val out = SparkEntry.queries("q232_blocklist_scan")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val docs = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, t) =>
      val occ = TextAnalysis.Blocklist.map(greedy(t, _))
      assert(out(id) == ((occ.sum, occ.count(_ > 0).toLong, occ.sum > 0)),
        s"doc $id blocklist drift")
    }
    // the miss pattern caps distinct counts below the list size
    assert(out.values.forall(_._2 < TextAnalysis.Blocklist.size),
      "the guaranteed-miss pattern must never hit")
    assert(out.values.exists(_._3), "no flagged doc")
    // automaton semantics: nested and cross-pattern overlapping
    // occurrences all count ("ab", "abc", "c" all fire in "abc")
    assert(ac("abc", Seq("ab", "abc", "c")) == (3L, 3L))
    // a pattern inside a longer word still fires (substring semantics)
    assert(ac("scans", Seq("scan")) == (1L, 1L))
    // one pattern, many docs' worth of text: O(len) single pass agrees
    assert(ac("key key key", Seq("key")) == (3L, 1L))
    // bordered patterns refuse (self-overlap would diverge from the
    // oracle's greedy replace-count), as do duplicates and empties
    intercept[Exception] { ac("x", Seq("coco")) }
    intercept[Exception] { ac("x", Seq("aa")) }
    intercept[Exception] { ac("x", Seq("ab", "ab")) }
    intercept[Exception] { ac("x", Seq("")) }
  }

  test("q233 image cluster collapse: clusters close to the planted groups; singleton passthrough; collapse == union-find") {
    import graft.operators.{Dedup, Multimodal}
    val out = SparkEntry.queries("q233_image_cluster_collapse")(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    // closed form on the planted fixture: every group is a full clique
    // (all same-group distances ≤ 2 < 3), so the cluster representative
    // is the group's min doc_id = the gid itself
    out.foreach { case (id, (cid, in)) =>
      assert(cid == id % Multimodal.DhashGroups, s"doc $id cluster drift")
      assert(in, s"doc $id must be clustered on this fixture")
    }
    // the pairwise surface and the collapsed surface agree: q216's
    // pairs, run through a plain-Scala union-find, give the same labels
    val pairs = SparkEntry.queries("q216_image_neardup")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    out.keys.foreach { id =>
      assert(out(id)._1 == find(id), s"doc $id: star contraction != union-find")
    }
    // singleton passthrough: a pairless doc keeps its own id (toy —
    // the planted fixture never exercises it)
    import spark.implicits._
    val toyPairs = Seq((10L, 20L)).toDF("a_id", "b_id")
    val comps = Dedup.connectedComponents(toyPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(10L -> 10L, 20L -> 10L))
    assert(!comps.contains(99L), "components only label edge-touched docs")
  }

  test("q238 pruning advisor == plain-Scala group model; clustering dominates; advice sane") {
    import graft.operators.Relational
    val out = SparkEntry.queries("q238_layout_pruning_advisor")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out.size == 12)
    // THIRD implementation off collected rows
    val rows = Tables(spark, Sf, "documents")
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val g = Relational.PruneGroupRows.toInt
    // the reference uses the min/max OVERLAP rule (the only sound footer
    // rule): a group survives iff [min, max] intersects the predicate —
    // which can keep a group containing NO matching row (min<=v<=max
    // without v present), exactly like real row-group pruning
    val layouts = Map(
      "as_written" -> rows.sortBy(_._1).toSeq,
      "by_length" -> rows.sortBy(r => (r._4, r._1)).toSeq,
      "by_source" -> rows.sortBy(r => (r._2, r._1)).toSeq)
    def minMaxScan[T](ordered: Seq[(Long, String, String, Long)],
        key: ((Long, String, String, Long)) => T, lo: T, hi: T)(
        implicit o: Ordering[T]): (Long, Long, Long) = {
      val grps = ordered.grouped(g).toSeq
      val scanned = grps.filter { gr =>
        val ks = gr.map(key)
        o.lteq(ks.min, hi) && o.gteq(ks.max, lo)
      }
      (grps.size.toLong, scanned.size.toLong, scanned.map(_.size).sum.toLong)
    }
    layouts.foreach { case (name, ordered) =>
      val expect = Map(
        "lang_eq_en" -> minMaxScan(ordered, _._3, "en", "en"),
        "source_eq_src3" -> minMaxScan(ordered, _._2, "src3", "src3"),
        "nchars_100_199" -> minMaxScan(ordered, _._4, 100L, 199L),
        "docid_100_149" -> minMaxScan(ordered, _._1, 100L, 149L))
      expect.foreach { case (p, (ng, gs, rs)) =>
        val (gotNg, gotGs, gotRs, _) = out((name, p))
        assert((gotNg, gotGs, gotRs) == (ng, gs, rs),
          s"($name, $p): got ${(gotNg, gotGs, gotRs)} expected ${(ng, gs, rs)}")
      }
    }
    // advice sanity: sorting BY the predicate column must prune at least
    // as well as any other layout — and exactly one advised per predicate
    Seq("lang_eq_en", "nchars_100_199", "docid_100_149", "source_eq_src3")
      .foreach { p =>
        assert(out.count { case ((_, p2), v) => p2 == p && v._4 } == 1,
          s"$p: exactly one advised layout")
      }
    assert(out(("by_source", "source_eq_src3"))._3 <=
      out(("as_written", "source_eq_src3"))._3,
      "clustering on source must not scan more rows for the source predicate")
    assert(out(("by_length", "nchars_100_199"))._3 <=
      out(("as_written", "nchars_100_199"))._3,
      "clustering on n_chars must not scan more rows for the length band")
    assert(out(("as_written", "docid_100_149"))._4,
      "the id-range predicate must advise the id-sorted layout")
  }

  test("q239 footer reader: loud on corrupt tails; scope equals the schema truth") {
    import graft.operators.Footer
    // the registered output is oracle-checked against the data; here pin
    // the FORMAT-side loudness the oracle can't see
    val out = SparkEntry.queries("q239_parquet_footer_stats")(spark, Sf)
      .collect()
    assert(out.length == 38)
    assert(out.forall(_.getString(3) == "SNAPPY"))
    // corrupt tail magic -> loud
    val tmp = java.nio.file.Files.createTempFile("graft_footer", ".parquet")
    try {
      val real = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$Sf/nation.parquet"))
      val bad = real.clone(); bad(bad.length - 1) = 'X'.toByte
      java.nio.file.Files.write(tmp, bad)
      val e = intercept[IllegalArgumentException] {
        Footer.readFooter("nation", tmp.toString)
      }
      assert(e.getMessage.contains("PAR1"))
      // truncated file -> loud (footer length now points past the head)
      java.nio.file.Files.write(tmp,
        java.util.Arrays.copyOfRange(real, real.length - 64, real.length))
      intercept[Exception] { Footer.readFooter("nation", tmp.toString) }
      // and the genuine article parses: same rows as the registered scan
      val direct = Footer.readFooter("nation", s"$Sf/nation.parquet")
      assert(direct.map(_.column).sorted ==
        Seq("n_name", "n_nationkey", "n_regionkey"))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  test("q239 multi-row-group accumulation on a parquet-mr (Spark-written) file") {
    import graft.operators.Footer
    // the testdata files are single-row-group arrow writes; exercise the
    // per-group accumulation path AND cross-writer interop by writing a
    // multi-group file through Spark's parquet-mr with a tiny block size
    withTempDir("graft_rg") { tmp =>
      Tables(spark, Sf, "documents").select(col("doc_id"), col("source"))
        .coalesce(1)
        .write.option("parquet.block.size", "2048")
        .option("compression", "snappy")
        .mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      val (leaves, chunks) = Footer.parseFooter(part)
      assert(leaves.map(_.name) == Seq("doc_id", "source"))
      assert(chunks.head.length > 1,
        s"block size 2048 must yield multiple row groups, got ${chunks.head.length}")
      val stats = Footer.readFooter("documents", part)
        .map(s => s.column -> s).toMap
      // footer-aggregated facts == data facts, across groups and writers
      val rows = Tables(spark, Sf, "documents")
        .select(col("doc_id"), col("source")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(stats("doc_id").n_values == rows.length.toLong)
      assert(stats("doc_id").min_value == rows.map(_._1).min.toString)
      assert(stats("doc_id").max_value == rows.map(_._1).max.toString)
      assert(stats("source").n_values == rows.length.toLong)
      assert(stats("source").min_value == rows.map(_._2).min)
      assert(stats("source").max_value == rows.map(_._2).max)
      assert(stats("source").codec == "SNAPPY")
    }
  }

  test("q244 table-debt census: conservation laws and plain-Scala recount") {
    import graft.operators.Relational
    val out = SparkEntry.queries("q244_table_debt_census")(spark, Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val rows = Relational.mergeDumps(spark, Sf).reduce(_ unionByName _)
      .select("doc_id", "version", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val latest = rows.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).max }
    val ref = rows.groupBy(_._2).map { case (v, g) =>
      v -> (g.length.toLong, g.count(_._3 == "D").toLong,
        g.count(t => t._2 < latest(t._1)).toLong,
        g.count(t => t._2 == latest(t._1)).toLong)
    }
    assert(out == ref, "census drifted from the plain-Scala recount")
    // conservation: every row is either superseded or current; all
    // current rows across versions = the key population; the newest
    // version can never be superseded
    out.foreach { case (v, (n, _, sup, cur)) =>
      assert(sup + cur == n, s"v$v: superseded + current != rows")
    }
    assert(out.values.map(_._4).sum == latest.size.toLong)
    assert(out(out.keys.max)._3 == 0L, "the head version has no successor")
    // the debt profile motivates the q236 vacuum: v1 carries real debt
    assert(out(1L)._3 > 0L, "fixture must carry superseded v1 mass")
  }

  test("q243 writer-choice audit: actual prices == q234 models; waste nonneg; dict optimal only where advised") {
    import graft.operators.Footer
    val adv = SparkEntry.queries("q234_encoding_advisor")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    val out = SparkEntry.queries("q243_writer_choice_audit")(spark, Sf)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out.size == 4)
    out.foreach { case (c, (act, actB, advE, advB, waste)) =>
      assert(act == "dict", s"$c: the arrow writer dictionary-encodes here")
      assert(actB == adv((c, act))._1, s"$c: actual price must be q234's model")
      assert(advB == adv((c, advE))._1 && adv((c, advE))._2,
        s"$c: advised leg must be q234's advised row")
      assert(waste == actB - advB && waste >= 0L,
        s"$c: waste must be the nonnegative model gap")
    }
    // the audit says something real: dict is optimal for the low-card
    // strings and suboptimal for the sorted/int columns
    assert(out("lang")._5 == 0L && out("source")._5 == 0L)
    assert(out("doc_id")._3 == "delta" && out("doc_id")._5 > 0L)
    // and the footer-derived actuals equal the format truth
    val actual = Footer.encodingClasses(s"$Sf/documents.parquet")
    assert(Seq("doc_id", "source", "lang", "n_chars")
      .forall(actual(_) == "dict"))
  }

  test("q241 change feed: applying the feed reproduces the to-version; resurrection is an insert") {
    import graft.operators.{Relational, Txn}
    val dumps = Relational.mergeDumps(spark, Sf)
    // CDC-CONSISTENCY LAW: start from the from-version's alive view,
    // apply the emitted feed row by row (with pre-image checks — a feed
    // whose pre-images don't match the table is corrupt), land exactly
    // on the to-version's alive view
    Seq(1L, 2L).foreach { from =>
      val feed = Txn.changeFeed(dumps, from, 3L).collect()
        .map(r => (r.getLong(1), r.getString(2),
          Option(r.getString(3)), Option(r.getString(4))))
      def aliveView(v: Long): Map[Long, String] =
        Relational.timeTravelRead(dumps, v).collect()
          .filter(_.getBoolean(2))
          .map(r => r.getLong(0) -> r.getString(3)).toMap
      val state = scala.collection.mutable.Map.empty[Long, String]
      aliveView(from).foreach { case (k, m) => state(k) = m }
      feed.foreach { case (k, ch, preM, postM) =>
        ch match {
          case "insert" =>
            assert(!state.contains(k), s"insert over live key $k")
            state(k) = postM.get
          case "update" =>
            assert(state.get(k) == preM, s"update pre-image drift at $k")
            state(k) = postM.get
          case "delete" =>
            assert(state.get(k) == preM, s"delete pre-image drift at $k")
            state.remove(k)
        }
      }
      assert(state.toMap == aliveView(3L),
        s"feed from v$from does not reproduce v3")
    }
    // the v2 window must exercise the dead->alive RESURRECTION insert
    val deadAt2 = Relational.timeTravelRead(dumps, 2L).collect()
      .filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    val ins2 = Txn.changeFeed(dumps, 2L, 3L).collect()
      .filter(_.getString(2) == "insert").map(_.getLong(1)).toSet
    assert((ins2 & deadAt2).nonEmpty,
      "fixture must exercise the dead->alive resurrection insert")
    // and the v1 window must exercise real deletes
    assert(Txn.changeFeed(dumps, 1L, 3L).collect()
      .exists(_.getString(2) == "delete"))
  }

  test("q240 stats catalog: insert-only is exact+tight; a delete widens the envelope SOUNDLY") {
    import spark.implicits._
    import graft.operators.Txn
    // registered surface: AS OF 1 exact, AS OF 3 inexact (deletes+updates)
    val out = SparkEntry.queries("q240_stats_catalog_ivm")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(5))
      .toMap
    assert(out((1L, "doc_id")) && out((1L, "txt_octets")),
      "the insert-only snapshot must be exact")
    assert(!out((3L, "doc_id")) && !out((3L, "txt_octets")),
      "after deletes/updates the catalog must admit inexactness")
    // toy: deleting the extremum strands it inside the envelope — the
    // maintained bounds go WIDER than truth but never narrower (the
    // soundness direction a pruning planner needs: no false skips)
    val v1 = Seq((1L, 1L, "U", "a"), (2L, 1L, "U", "bb"), (3L, 1L, "U", "ccc"))
      .toDF("doc_id", "version", "op", "txt")
    val v2 = Seq((3L, 2L, "D", null.asInstanceOf[String]))
      .toDF("doc_id", "version", "op", "txt")
    val rows = Txn.statsCatalogAsOf(Seq(v1, v2), 2L).collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5),
          r.getLong(6), r.getLong(7))).toMap
    val (nA, envMinI, envMaxI, exI, trMinI, trMaxI) = rows("doc_id")
    assert(nA == 2L && !exI)
    assert(envMaxI == 3L && trMaxI == 2L,
      "the deleted max key must stay inside the envelope (wider, sound)")
    assert(envMinI == trMinI)
    val (_, envMinO, envMaxO, _, trMinO, trMaxO) = rows("txt_octets")
    assert(envMaxO == 3L && trMaxO == 2L,
      "the deleted 3-octet text must widen the octet envelope")
    assert(envMinO == 1L && trMinO == 1L)
  }

  test("q237 EM counts == exhaustive optimal-path enumeration; cost-mass identity; q198 reads the trained table") {
    import graft.expressions.{UnigramEdgeCounts, UnigramViterbi}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // THIRD implementation on a tie-rich toy vocab: enumerate EVERY
    // segmentation, keep the min-cost ones, count token occurrences —
    // the expression must match exactly (ties included: 'ab'+'c' and
    // 'a'+'bc' both cost 3 below, so counts mix both paths)
    val toks = Array("a", "b", "c", "ab", "bc", "abc")
    val cs = Array(2L, 2L, 1L, 2L, 3L, 9L)
    val tid = toks.zipWithIndex.toMap
    def enumCounts(w: String): Map[Int, Long] = {
      def segs(s: String): Seq[Seq[String]] =
        if (s.isEmpty) Seq(Seq.empty)
        else (1 to s.length).flatMap { k =>
          val h = s.substring(0, k)
          if (tid.contains(h)) segs(s.substring(k)).map(h +: _) else Seq.empty
        }
      val all = segs(w)
      assert(all.nonEmpty, s"'$w' uncoverable")
      val costOf = (g: Seq[String]) => g.map(t => cs(tid(t))).sum
      val best = all.map(costOf).min
      val opt = all.filter(costOf(_) == best)
      opt.flatten.groupBy(t => tid(t)).map { case (k, v) => k -> v.size.toLong }
    }
    def exprCounts(w: String): Map[Int, Long] = {
      val arr = UnigramEdgeCounts(Literal(UTF8String.fromString(w)), toks, cs)
        .eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      (0 until arr.numElements()).map { i =>
        val s = arr.getStruct(i, 2); (s.getInt(0), s.getLong(1))
      }.toMap
    }
    val words = Seq("abc", "abcabc", "aabbcc", "abcbcab", "c", "ab",
      "abcabcabcabc", "cba", "bcbcbc")
    words.foreach { w =>
      assert(exprCounts(w) == enumCounts(w), s"counts drifted on '$w'")
      // cost-mass identity: every optimal path spends exactly `best`, so
      // sum(cnt(t) * cost(t)) == ways * best — ties the edge-count DP to
      // the q198 (best, ways) DP analytically
      val row = UnigramViterbi(Literal(UTF8String.fromString(w)), toks, cs)
        .eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      val (best, ways) = (row.getLong(0), row.getLong(1))
      val mass = exprCounts(w).map { case (t, n) => n * cs(t) }.sum
      assert(mass == ways * best,
        s"'$w': cost mass $mass != ways*best ${ways * best}")
    }
    // the registered surface: q237's table is what q198 now consumes —
    // re-segmenting under the exported table must reproduce q198 exactly
    val trained = SparkEntry.queries("q237_unigram_em_train")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaTable = graft.operators.Tokenizer
      .unigramSegmented(Tables(spark, Sf, "documents"), trained)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.get(2), r.get(3))).toSeq
    val q198 = SparkEntry.queries("q198_unigram_viterbi")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.get(2), r.get(3))).toSeq
    assert(viaTable == q198, "q198 must read exactly the q237 artifact")
    // EM moved the table: at least one token's cost changed from the seed
    val docs = Tables(spark, Sf, "documents")
    val (dict, alphabet) = graft.operators.Tokenizer.vocabInputs(docs)
    val seed = graft.operators.Tokenizer.unigramCosts(docs, alphabet,
      graft.operators.Tokenizer.bpeTrain(dict)).toMap
    assert(trained.exists { case (t, c) => seed(t) != c },
      "EM rounds must actually move at least one rank on this corpus")
  }

  test("q235 sparse cluster collapse == q233 row-for-row; edge list linear; bucket-head counterexample connected") {
    import spark.implicits._
    import graft.operators.Multimodal
    // 1. IDENTICAL OUTPUT CONTRACT: the sparsified composition must land
    // on exactly q233's rows (components preserved by the signature-head
    // theorem in dhashClusterCollapseSparse's scaladoc)
    val sparse = SparkEntry.queries("q235_image_cluster_sparse")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = SparkEntry.queries("q233_image_cluster_collapse")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(sparse == full, "q235 components drifted from q233's")
    // 2. EDGE LINEARITY — the point of the sparsification: the edge list
    // the contraction sees is (docs - distinct signatures) member edges
    // + verified DISTINCT-signature pairs, strictly below the
    // materialized doc-pair count on any fixture with hash-identical mass
    val media = Tables(spark, Sf, "documents")
      .select(col("doc_id")).as[Long]
      .map(id => Multimodal.MediaRow(id, Multimodal.encodeBmpDhash(id)))
    val hashes = Multimodal.perceptualHashes(spark, media).toDF()
      .localCheckpoint()
    val nDocs = hashes.count()
    val nSig = hashes.select("dhash").distinct().count()
    assert(nSig < nDocs, "fixture must carry hash-identical re-renders")
    val nEdges = Multimodal.sparseClusterEdges(hashes).count()
    val nPairs = SparkEntry.queries("q216_image_neardup")(spark, Sf).count()
    assert(nEdges < nPairs,
      s"sparsified edges ($nEdges) must undercut the pair stream ($nPairs)")
    val sigPairs = nEdges - (nDocs - nSig)
    assert(sigPairs <= nSig * (nSig - 1) / 2,
      "verified head pairs must be bounded by distinct-signature pairs")
    // 3. WHY NOT per-band bucket-head verification (the tempting O(n·bands)
    // form): plant three signatures where b and c land in head h's bucket
    // on bands 1-2 (all zero there), each sits FAR (> 3 bits) from h, yet
    // b and c are 2 bits apart. A bucket-head scheme that Hamming-verifies
    // only member<->head edges drops the true (b, c) pair; the
    // distinct-signature form keeps it because b and c are their own heads
    // and meet in the banded join.
    val hB = 0xAAAA000000000000L        // bands 0-2 zero, band3 = 0xAAAA
    val hC = hB ^ 3L                    // 2 bits from hB (inside band 0)
    val hH = 0x0F0F000000000000L        // bands 1-2 zero too; 8-10 bits away
    require(java.lang.Long.bitCount(hB ^ hH) > Multimodal.DhashMaxHamming &&
      java.lang.Long.bitCount(hC ^ hH) > Multimodal.DhashMaxHamming &&
      java.lang.Long.bitCount(hB ^ hC) <= Multimodal.DhashMaxHamming)
    val toy = Seq((1L, hH), (2L, hB), (3L, hC)).toDF("doc_id", "dhash")
    val comps = Multimodal.dhashClusterCollapseSparse(toy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.get(2L) == Some(2L) && comps.get(3L) == Some(2L),
      "true 2-bit pair must stay connected despite a far bucket head")
    assert(!comps.contains(1L),
      "the far head pairs with nobody and must stay out of the edge graph")
  }

  test("q248 advisor: rule branches; advised broadcasts execute as broadcast joins; estimates exact where preconditions hold") {
    import graft.operators.Txn
    // the advice rule's three branches (the pure decision function)
    assert(Txn.joinAdvice(5L, 25L) == "broadcast_left")
    assert(Txn.joinAdvice(150L, 25L) == "broadcast_right")
    assert(Txn.joinAdvice(6000L, 6000L) == "shuffle")
    assert(Txn.joinAdvice(4L, 16L) == "broadcast_left", "boundary is <=")
    val rows = SparkEntry.queries("q248_join_advisor")(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))
      .toMap
    // PK-FK steps: est == actual (dense-unique + containment verified)
    (1 to 4).foreach { s =>
      val (_, _, eo, ao, adv) = rows(("chain", s.toLong))
      assert(eo == ao, s"chain step $s estimate must be exact")
      assert(adv == "broadcast_left")
    }
    assert(rows(("dim_probe", 1L))._5 == "broadcast_right")
    // model-bound rows: the log bound is SOUND (never under), the
    // System-R self-join bound diverges by key-frequency variance only
    val (_, _, ldEo, ldAo, ldAdv) = rows(("log_docs", 1L))
    assert(ldEo >= ldAo && ldAdv == "shuffle",
      "log_docs estimate must upper-bound the actual join")
    // the executed plan honors the advice: an advised-broadcast step
    // runs as a broadcast join (the advice is an execution fact)
    val r = Tables(spark, Sf, "region")
    val n = Tables(spark, Sf, "nation")
    val plan = broadcast(r).join(n, col("r_regionkey") === col("n_regionkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"advised broadcast must execute as BroadcastHashJoin:\n${plan.take(400)}")
  }

  test("q247 schedule: defer-then-compact classes fire; vacuuming at the advised version keeps reads transparent") {
    import graft.operators.{Relational, TableLog}
    val rows = SparkEntry.queries("q247_compaction_scheduler")(spark, Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(6))).toMap
    assert(!rows(1L)._3, "v1 has nothing to reclaim - must defer")
    val advisedAll = rows.filter(_._2._3).keys
    assert(advisedAll.nonEmpty, "fixture must carry enough dead weight to compact")
    val advised = advisedAll.max
    // THE EPISODE: run the q236 protocol history, vacuum at the ADVISED
    // version, and prove the checkpointed read equals the full-history
    // read - the schedule's decision composes with the transparency law
    val dumps = Relational.mergeDumps(spark, Sf).map(_.localCheckpoint())
    val log = new TableLog
    def keysOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    require(log.commit("loader", 0L, None, _ => dumps(0)) == 1L)
    require(log.commit("d1", 1L, Some(keysOf(dumps(1))), _ => dumps(1)) == 2L)
    val d3 = dumps(2).unionByName(dumps(3))
    require(log.commit("d2", 2L, Some(keysOf(d3)), _ => d3) == 3L)
    val before = log.readAsOf(3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) "" else r.getString(3))).sortBy(_._1).toSeq
    log.vacuum(advised)
    val after = log.readAsOf(3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) "" else r.getString(3))).sortBy(_._1).toSeq
    assert(after == before,
      "vacuum at the advised version must leave reads unchanged")
  }

  test("q245 pruned scan: sort-key predicate skips groups; pruned read opens only surviving files; unsound skip raises") {
    import graft.operators.Footer
    // 1. the planner's report card: on the by_length layout, the n_chars
    // predicate must actually SKIP groups, and rows_read must bound I/O
    val out = SparkEntry.queries("q245_pruned_scan")(spark, Sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (gTot, gRead, rowsRead, nMatch) = out("nchars_100_199")
    assert(gRead < gTot, s"nchars predicate must prune groups ($gRead/$gTot)")
    assert(nMatch <= rowsRead && rowsRead < gTot * 64L,
      "rows_read must bound matches and undercut a full scan")
    // every predicate's totals agree on the layout geometry
    assert(out.values.map(_._1).toSet.size == 1)
    // 2. the EXECUTED read touches only surviving files (the skip is an
    // I/O fact, not a report): rebuild the plan inputs and count files
    val groups = Footer.pruneLayout(spark, Sf)
    val preds = Footer.prunePredicates
    val (_, keep, _) = preds.find(_._1 == "nchars_100_199").get
    val surviving = groups.filter(keep)
    assert(surviving.size.toLong == gRead)
    val opened = spark.read.parquet(surviving.map(_.path): _*)
      .inputFiles.length
    assert(opened.toLong == gRead,
      s"pruned scan must open exactly the surviving files ($opened vs $gRead)")
    // 3. LOUDNESS: an unsound planner (inverted overlap test -> skips
    // matching groups) must raise in-plan, never return a partial answer
    val bad = preds.map { case (n, k, p) =>
      if (n == "nchars_100_199") (n, (u: Footer.UnitStats) => !k(u), p)
      else (n, k, p)
    }
    val e = intercept[Exception] {
      Footer.prunedScan(spark, Sf, bad).collect()
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null) t else root(t.getCause)
    assert((e.getMessage + root(e).getMessage).contains("q245"),
      s"unsound skip must raise the q245 guard, got: ${e.getMessage}")
  }

  test("q251 z-order scan: 1-D layout cannot prune the second dimension; z-order prunes both and dominates the 2-D box") {
    val rows = SparkEntry.queries("q251_zorder_pruned_scan")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (gTot, byUserK, _) = rows(("by_user", "k_0_24"))
    // the structural fact behind Z-ordering: a 1-D clustering key leaves
    // the OTHER dimension's envelope full-width in every unit
    assert(byUserK == gTot,
      s"by_user must be unable to prune the k predicate ($byUserK/$gTot)")
    val (_, zK, _) = rows(("zorder", "k_0_24"))
    assert(zK < gTot, s"z-order must prune the k predicate ($zK/$gTot)")
    // the 1-D layout still wins its own dimension; z-order must at
    // least match it on the 2-D box (both dims prunable there)
    val (_, byUserUk, byUserUkRows) = rows(("by_user", "uk_box"))
    val (_, zUk, zUkRows) = rows(("zorder", "uk_box"))
    assert(zUk <= byUserUk && zUkRows <= byUserUkRows,
      s"z-order must dominate the 2-D box (groups $zUk vs $byUserUk, " +
        s"rows $zUkRows vs $byUserUkRows)")
    assert(zUk < gTot && byUserUk < gTot, "the 2-D box must prune under both layouts")
  }

  test("q254 dict-pruned scan: stats leg blind, dictionary leg prunes; incomplete/absent dictionaries refuse; unsound membership raises") {
    import graft.operators.Footer
    val out = SparkEntry.queries("q254_dict_pruned_scan")(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Footer.DictPruneValues.map(v => s"k_eq_$v").toSet)
    for ((p, (gTot, gStats, gDict, rowsRead, nMatch)) <- out) {
      // 1. the structural fact: min/max CANNOT prune a scattered
      // interior point predicate (every unit's envelope covers it)...
      assert(gStats == gTot, s"$p: stats leg must be blind ($gStats/$gTot)")
      // 2. ...while the dictionary leg never reads MORE than stats
      assert(gDict <= gStats, s"$p: dict leg must undercut stats ($gDict/$gStats)")
      assert(nMatch <= rowsRead && rowsRead <= gTot * Footer.DictPruneRows,
        s"$p: rows_read must bound matches and be bounded by the layout")
    }
    // 2b. the dictionary genuinely skips units in aggregate (per-value
    // presence is a draw — ~28% absent per unit — so the strict claim
    // is made across the four-predicate workload, robust to testdata
    // regeneration between rounds)
    val totalDict = out.values.map(_._3).sum
    val totalAll = out.values.map(_._1).sum
    assert(totalDict < totalAll,
      s"dictionary must prune across the workload ($totalDict/$totalAll)")
    // 3. LOUDNESS, absent dictionary: event_id in the units is PLAIN
    // (unique longs — parquet-mr's dictionary loses and falls back), so
    // membership pruning on it must refuse, not silently read everything
    val ev = Tables(spark, Sf, "events")
      .filter(col("user_id") < Footer.DictPruneUsers)
      .select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val units = Footer.writeUnits(ev,
      Seq(col("user_id"), col("event_id")), "q254_spec", Footer.DictPruneRows)
    val e1 = intercept[Exception] {
      Footer.dictDomain(units.head.path, "event_id")
    }
    assert(e1.getMessage.contains("q254"),
      s"plain-column refusal must cite q254, got: ${e1.getMessage}")
    // 4. LOUDNESS, unsound planner: inverted membership (skips exactly
    // the units that contain the value) must raise in-plan
    val v = Footer.DictPruneValues.head
    val e2 = intercept[Exception] {
      Footer.executePruned(spark, "q254", units, Seq("event_id", "user_id", "k"),
        Seq((s"k_eq_$v",
          (u: Footer.UnitStats) => !Footer.dictDomain(u.path, "k").contains(v),
          col("k") === v))).collect()
    }
    def root2(t: Throwable): Throwable =
      if (t.getCause == null) t else root2(t.getCause)
    assert((e2.getMessage + root2(e2).getMessage).contains("q254"),
      s"unsound membership skip must raise the q254 guard, got: ${e2.getMessage}")
    // 5. the dictionary leg agrees with brute-force containment (the
    // dictionary is EXACT — pruned set == containing set, no slack)
    val domains = units.map(u => Footer.dictDomain(u.path, "k"))
    val (gTot5, _, gDict5, _, _) = out(s"k_eq_$v")
    assert(gTot5 == units.size.toLong)
    assert(gDict5 == domains.count(_.contains(v)).toLong,
      "dictionary leg must equal exact containment")
  }

  test("q252 catalyst stats broadcast: the rule drives the physical plan; no-rule control, abstention, and hint respect") {
    import graft.operators.{Footer, Txn}
    import graft.plans.StatsBroadcastRule
    val out = SparkEntry.queries("q252_catalyst_stats_broadcast")(spark, Sf)
      .collect().map(r => r.getString(0) -> (r.getString(3), r.getString(4)))
      .toMap
    // all three advice classes fire, and the PLANNER followed each
    assert(out("chain_dim") == (("broadcast_left", "broadcast_hash")))
    assert(out("dim_probe") == (("broadcast_right", "broadcast_hash")))
    assert(out("selfjoin") == (("shuffle", "sort_merge")))

    val exp = spark.experimental
    val prevRules = exp.extraOptimizations
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def probeJoin() = Tables(spark, Sf, "customer")
      .join(Tables(spark, Sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy().count()
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // NEGATIVE CONTROL: same join, same threshold, NO rule — the
      // broadcast in the registered query is the rule's doing, not a
      // leftover auto-broadcast
      val ctl = probeJoin(); ctl.head()
      assert(Txn.physicalJoinOf(ctl) == "sort_merge",
        "without the rule, threshold -1 must leave the join sort_merge")
      val catalog = Tables.all
        .map(n => n -> Footer.tableStats(Sf, n).values.map(_.n_values).max)
        .toMap
      exp.extraOptimizations = prevRules :+ StatsBroadcastRule(catalog)
      // with the rule, the SAME stock join plans broadcast
      val withRule = probeJoin(); withRule.head()
      assert(Txn.physicalJoinOf(withRule) == "broadcast_hash",
        "the rule must turn the stock join into a broadcast")
      // ABSTENTION: un-cataloged in-memory frames stay untouched even
      // with the rule active (sound-by-abstention, never a guess)
      import spark.implicits._
      val mem = (1 to 50).map(i => (i.toLong, s"m$i")).toDF("mk", "mv")
        .join((1 to 5000).map(i => (i.toLong % 50L, i.toLong))
          .toDF("nk", "nv"), col("mk") === col("nk"))
        .groupBy().count()
      mem.head()
      assert(Txn.physicalJoinOf(mem) == "sort_merge",
        "the rule must abstain on un-cataloged inputs")
      // HINT RESPECT: an explicit user strategy hint survives the rule
      val hinted = Tables(spark, Sf, "customer").hint("merge")
        .join(Tables(spark, Sf, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy().count()
      hinted.head()
      assert(Txn.physicalJoinOf(hinted) == "sort_merge",
        "an explicit user hint must never be overridden")
      // JOIN-SIDE ABSTENTION (r14 ADVICE): a side whose subtree contains
      // a join can exceed every leaf bound (many-to-many), so the rule
      // must not estimate it — the outer join stays un-hinted even
      // though every LEAF is cataloged and the leaf-max arithmetic
      // would have said broadcast
      val joinSide = Tables(spark, Sf, "nation")
        .join(Tables(spark, Sf, "region"),
          col("n_regionkey") === col("r_regionkey"))
      val nested = joinSide
        .join(Tables(spark, Sf, "customer"),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy().count()
      nested.head()
      assert(Txn.physicalJoinOf(nested) == "sort_merge",
        "a join-containing side must abstain, not broadcast on leaf bounds")
    } finally {
      exp.extraOptimizations = prevRules
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("q268 manifest: warm planning opens zero footers; stale manifests fall back; appended units keep envelopes sound") {
    import graft.operators.Footer
    val docs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val loRows = docs.filter(col("n_chars") < 300L)
    val hiRows = docs.filter(col("n_chars") >= 300L)
    val cold = Footer.writeUnits(loRows,
      Seq(col("n_chars"), col("doc_id")), "q268_spec_lo", 64L)
    val loDir = System.getProperty("java.io.tmpdir") + "/graft_prune_q268_spec_lo"
    // 1. ZERO FOOTER READS when warm, and warm == cold exactly
    val before = Footer.footerReads.get()
    val warm = Footer.readManifest(loDir).get
    assert(Footer.footerReads.get() == before,
      "warm manifest planning must open zero footers")
    assert(warm == cold)
    // 2. STALENESS: a manifest naming files that are no longer the
    // layout's falls back (None), never plans from dangling stats
    val manifest = new java.io.File(loDir, "_graft_manifest.tsv")
    val saved = java.nio.file.Files.readAllBytes(manifest.toPath)
    Footer.writeUnits(hiRows, // rewrite → fresh part-file UUIDs
      Seq(col("n_chars"), col("doc_id")), "q268_spec_lo", 64L)
    java.nio.file.Files.write(manifest.toPath, saved) // restore OLD manifest
    assert(Footer.readManifest(loDir).isEmpty,
      "a stale manifest must fall back to the footer walk, not plan")
    // 3. APPEND: rebuild the lo layout, then append the hi rows as new
    // units — the manifest grows by exactly the new lines, a predicate
    // matching only appended rows reads the new units, and the xor proof
    // holds
    val loStats = Footer.writeUnits(loRows,
      Seq(col("n_chars"), col("doc_id")), "q268_spec_lo", 64L)
    val hiStats = Footer.writeUnits(hiRows,
      Seq(col("n_chars"), col("doc_id")), "q268_spec_hi", 64L)
    val moved = hiStats.zipWithIndex.map { case (u, i) =>
      val dst = java.nio.file.Paths.get(loDir, f"part-9$i%04d-appended.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(u.path), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      u.copy(path = dst.toString)
    }
    Footer.appendManifest(loDir, moved)
    val all = Footer.readManifest(loDir).get
    assert(all.size == loStats.size + moved.size,
      "append must grow the manifest by exactly the new units")
    assert(all.take(loStats.size) == loStats,
      "append must leave existing entries untouched")
    val out = Footer.executePruned(spark, "q268spec", all,
      Seq("doc_id", "source", "lang", "n_chars"),
      Seq(("hi_only",
        (u: Footer.UnitStats) => u.lo("n_chars") <= 99999L &&
          u.hi("n_chars") >= 400L,
        col("n_chars") >= 400L))).collect().head
    assert(out.getLong(2) > 0 && out.getLong(2) < all.size,
      "the appended-rows predicate must read some but not all units")
    assert(out.getLong(4) ==
      docs.filter(col("n_chars") >= 400L).count(),
      "match legs over the appended manifest must be exact")
  }

  test("GraftExtensions: ONE entry point installs functions AND both planner rules session-wide; no conf means rule no-op") {
    import graft.operators.Txn
    import org.apache.spark.sql.SparkSession
    // the spark.sql.extensions contract: zero-arg reflective
    // construction of THE single entry point (r15 verdict #4 — the
    // plans-package twin is gone; this name carries the whole surface)
    val byName = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a REAL second session on the shared context, extensions applied
      // at build time — the production install path end to end
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.graft.catalogDir", Sf)
        .withExtensions(byName)
        .getOrCreate()
      assert(s2 ne prev, "the test needs a fresh session to own extensions")
      def chain = Tables(s2, Sf, "orders")
        .join(Tables(s2, Sf, "customer"), col("o_custkey") === col("c_custkey"))
        .join(Tables(s2, Sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables(s2, Sf, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy().count()
      val q = chain
      q.head()
      // ORDER: the stock largest-first chain planned smallest-first
      assert(Txn.scanOrderOf(q) == "region,nation,customer,orders",
        "session-wide extensions must reorder un-hinted chains")
      // STRATEGY: the rebuilt small joins broadcast from catalog stats
      // (threshold -1, so every broadcast is the rule's doing)
      assert(q.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "session-wide extensions must broadcast stats-justified sides")
      // FUNCTIONS: the SAME install carries the SQL surface — the exact
      // trap this entry point retires is rules-without-functions
      assert(s2.sql(
        "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect().head.getDouble(0) == 11.0,
        "the single entry point must also register the SQL functions")
      // NO-CONF NO-OP: unset the catalog dir → both rules abstain and
      // the user order plans verbatim
      s2.conf.unset("spark.graft.catalogDir")
      val q2 = chain
      q2.head()
      assert(Txn.scanOrderOf(q2) == "orders,customer,nation,region",
        "without a catalog conf the extensions must be a complete no-op")
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("q267 join reorder: abstains on un-cataloged frames and 2-table joins; idempotent; composes with the broadcast rule") {
    import graft.operators.{Footer, Txn}
    import graft.plans.{JoinReorderRule, StatsBroadcastRule}
    import spark.implicits._
    val catalog = Tables.all
      .map(n => n -> Footer.tableStats(Sf, n).values.map(_.n_values).max)
      .toMap
    val exp = spark.experimental
    val prevRules = exp.extraOptimizations
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      exp.extraOptimizations = prevRules :+ JoinReorderRule(catalog)
      // 1. ABSTENTION on un-cataloged in-memory frames: user order runs
      val mem = (1 to 50).map(i => (i.toLong, i.toLong % 5L)).toDF("mk", "mg")
      val big = Tables(spark, Sf, "lineitem")
        .join(Tables(spark, Sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(mem, col("o_custkey") === col("mk"))
        .groupBy().count()
      big.head()
      assert(Txn.scanOrderOf(big).startsWith("lineitem,orders"),
        "an un-cataloged item must leave the chain in user order")
      // 2. two-table joins are not reordered (nothing to advise)
      val two = Tables(spark, Sf, "lineitem")
        .join(Tables(spark, Sf, "customer"), col("l_orderkey") === col("c_custkey"))
        .groupBy().count()
      two.head()
      assert(Txn.scanOrderOf(two) == "lineitem,customer")
      // 3. IDEMPOTENT: the advised chain re-plans to the same order
      def chain4 = Tables(spark, Sf, "orders")
        .join(Tables(spark, Sf, "customer"), col("o_custkey") === col("c_custkey"))
        .join(Tables(spark, Sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables(spark, Sf, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy().count()
      val a = chain4; a.head()
      val b = chain4; b.head()
      assert(Txn.scanOrderOf(a) == "region,nation,customer,orders" &&
        Txn.scanOrderOf(b) == Txn.scanOrderOf(a),
        "the advised order must be stable across plannings")
      // 4. COMPOSITION: with the q252 broadcast rule registered too,
      // the chain plans in advised order AND the stats-justified
      // broadcasts fire on the rebuilt joins (reorder runs first, the
      // hints it leaves un-set get filled by the broadcast rule; the
      // next fixed-point pass abstains on the now-hinted chain)
      exp.extraOptimizations =
        prevRules :+ JoinReorderRule(catalog) :+ StatsBroadcastRule(catalog)
      val c = chain4; c.head()
      assert(Txn.scanOrderOf(c) == "region,nation,customer,orders",
        "composition must keep the advised order")
      // the INNER rebuilt joins broadcast (region 4x under nation, etc.);
      // the TOP join stays sort_merge because its side contains joins —
      // exactly the r14-advice abstention, composing soundly
      assert(c.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "the rebuilt small-side joins must broadcast under the stats rule")
    } finally {
      exp.extraOptimizations = prevRules
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q256 bloom pruning: stats blind, bloom resolves point lookups; xxh64 parity with catalyst; bloom-less columns refuse") {
    import graft.operators.Footer
    // 0. the house XXH64 must BE the algorithm parquet keys blooms on —
    // parity against Spark's own catalyst implementation (independent
    // code, same public spec) across lengths covering every tail path
    // (empty, <4, <8, 8..31, >=32 stripes)
    for (n <- 0 to 100) {
      val bytes = Array.tabulate(n)(i => ((i * 31 + 7) & 0xff).toByte)
      val expected = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          n, 0L)
      assert(Footer.xxh64(bytes) == expected, s"xxh64 parity broke at length $n")
    }
    // 1. the report card: stats blind on every interior point lookup,
    // the bloom resolves each to exactly its one containing unit
    val out = SparkEntry.queries("q256_bloom_pruned_scan")(spark, Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    for ((p, (gTot, gStats, gNonEmpty, nMatch)) <- out) {
      assert(gStats == gTot, s"$p: stats leg must be blind ($gStats/$gTot)")
      assert(nMatch == 1L && gNonEmpty == 1L,
        s"$p: a dense unique key must land in exactly one unit")
    }
    // 2. measured bloom behavior on the rebuilt layout: positives must
    // cover every containing unit (no false negative — soundness), and
    // the false-positive count across the workload is pinned small (the
    // filters are sized for ndv=64 at the default fpp; byte-level
    // determinism makes the measurement stable for a given corpus)
    val docs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val units = Footer.writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
      "q256_spec", writeOptions = Map(
        "parquet.bloom.filter.enabled#doc_id" -> "true",
        "parquet.bloom.filter.expected.ndv#doc_id" -> "64"))
    val blooms = units.map(u => u.path -> Footer.readBloom(u.path, "doc_id"))
    var fps = 0
    for (v <- Footer.BloomProbeIds) {
      val h = Footer.xxh64(Array.tabulate(8)(i => ((v >>> (8 * i)) & 0xff).toByte))
      val positives = blooms.collect { case (p, b) if b.mightContain(h) => p }.toSet
      val containing = units.filter { u =>
        spark.read.parquet(u.path).filter(col("doc_id") === v).count() > 0
      }.map(_.path).toSet
      assert(containing.subsetOf(positives),
        s"docid=$v: bloom false NEGATIVE — soundness broken")
      fps += (positives -- containing).size
    }
    assert(fps <= 3,
      s"measured false positives across the workload must stay small, got $fps")
    // 3. LOUDNESS: a column written without blooms refuses to point-prune
    val e = intercept[Exception] { Footer.readBloom(units.head.path, "source") }
    assert(e.getMessage.contains("q256"),
      s"bloom-less refusal must cite q256, got: ${e.getMessage}")
  }

  test("q257 page pruning: index says the truth per page; sorted key prunes pages; no-index refusal; unsound skip raises") {
    import graft.operators.Footer
    // 1. the report card: on the doc_id-sorted layout every range
    // predicate must skip pages, and the index totals must hold
    val out = SparkEntry.queries("q257_page_pruned_scan")(spark, Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    for ((p, (pTot, pRead, rowsRead, nMatch)) <- out) {
      assert(pTot > 1, s"$p: fixture must carry multiple pages")
      assert(pRead < pTot, s"$p: the sorted key must prune pages ($pRead/$pTot)")
      assert(nMatch <= rowsRead, s"$p: rows_read must bound matches")
    }
    // point predicate resolves to exactly one page on a dense sorted key
    assert(out("id_250_250")._2 == 1L)
    // 2. the ColumnIndex must say the TRUTH page by page: re-read the
    // layout and check each page's decoded min/max against the index
    val dir2 = System.getProperty("java.io.tmpdir") + "/graft_q257_" +
      Sf.replaceAll("[^A-Za-z0-9]", "_")
    val file = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.head
    val (leaves, chunks) = Footer.parseFooter(file)
    val cs = chunks(leaves.indexWhere(_.name == "doc_id")).head
    val locs = Footer.readOffsetIndex(file, "doc_id")
    val (nullPages, mins, maxs, boundary) = Footer.readColumnIndex(file, "doc_id")
    assert(boundary == 1, "sorted layout must record ASCENDING boundary order")
    for (i <- locs.indices) {
      val vals = Footer.decodeLongPage(file, locs(i), cs.codec, 1)
      assert(!nullPages(i) && vals.min == mins(i) && vals.max == maxs(i),
        s"page $i: index (min=${mins(i)}, max=${maxs(i)}) vs decoded " +
          s"(${vals.min}, ${vals.max})")
    }
    // 3. LOUDNESS: a file whose writer emitted no page index (the
    // arrow-written stock testdata — parquet-mr 1.16 always writes one,
    // arrow only on request) refuses to page-prune rather than silently
    // scanning everything
    val e1 = intercept[Exception] {
      Footer.readColumnIndex(s"$Sf/documents.parquet", "doc_id")
    }
    assert(e1.getMessage.contains("q257"),
      s"missing-index refusal must cite q257, got: ${e1.getMessage}")
    // 4. LOUDNESS: an unsound page skip (inverted overlap) must raise
    // the in-engine proof, never return a partial answer — replayed
    // through the same arithmetic the engine runs
    val full = Footer.decodeColumnChunk(file, "doc_id").longs
    val keepInverted = locs.indices.filterNot(i =>
      maxs(i) >= 100L && mins(i) <= 149L)
    val partial = keepInverted
      .flatMap(i => Footer.decodeLongPage(file, locs(i), cs.codec, 1))
      .filter(v => v >= 100L && v <= 149L)
    assert(partial != full.filter(v => v >= 100L && v <= 149L),
      "the inverted skip must genuinely drop rows for the guard to matter")
  }

  test("q258 list decode: nullable-array shape and empty lists reassemble exactly; a true null list refuses") {
    import graft.operators.Footer
    import spark.implicits._
    // nullable array column (maxDef=3 — the registered probe's split()
    // writes the required-group maxDef=2 shape, so this covers the
    // OTHER audited width) with planted EMPTY lists
    val out = System.getProperty("java.io.tmpdir") + "/graft_q258_spec"
    Tables(spark, Sf, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, array().cast("array<string>"))
          .otherwise(split(col("text"), " ")).as("words"))
      .repartition(1).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(out)
    val file = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.head
    val (leaves, _) = Footer.parseFooter(file)
    val leaf = leaves.find(l => l.name == "element" && l.depth == 3).get
    assert(leaf.maxDef == 3 && leaf.maxRep == 1,
      s"when/otherwise must write the nullable shape, got maxDef=${leaf.maxDef}")
    val ids = Footer.decodeColumnChunk(file, "doc_id").longs
    val lists = Footer.decodeListStrChunk(file, "words")
    val truth = spark.read.parquet(file)
      .orderBy("doc_id").select(col("doc_id"), col("words"))
      .as[(Long, Seq[String])].collect()
    assert(ids.zip(lists) == truth.toSeq.map { case (i, w) => (i, w) },
      "reassembled records must equal the engine read, empties included")
    assert(lists.exists(_.isEmpty), "the fixture must carry empty lists")
    // a TRUE null list is outside the audited scope and must refuse
    val outNull = System.getProperty("java.io.tmpdir") + "/graft_q258_null"
    Tables(spark, Sf, "documents")
      .select(col("doc_id"),
        when(col("doc_id") === 0, lit(null).cast("array<string>"))
          .otherwise(split(col("text"), " ")).as("words"))
      .repartition(1).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(outNull)
    val nullFile = new java.io.File(outNull).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.head
    val e = intercept[Exception] { Footer.decodeListStrChunk(nullFile, "words") }
    assert(e.getMessage.contains("q258"),
      s"null-list refusal must cite q258, got: ${e.getMessage}")
  }

  test("q259 house scan: decode is genuinely distributed; rows equal the engine read; aggregation rides map-side partials") {
    import graft.operators.Footer
    import spark.implicits._
    val rows = Footer.houseScanRows(spark, Sf)
    // the decode stage runs one task per unit file — parallel executor
    // work, not a driver loop
    assert(rows.rdd.getNumPartitions > 1,
      s"house scan must decode in parallel, got ${rows.rdd.getNumPartitions}")
    // row-level equality with the engine's own read of the same table
    val truth = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .as[(Long, String, String, Long)].collect().toSet
    val decoded = rows.as[(Long, String, String, Long)].collect().toSet
    assert(decoded == truth, "house-decoded rows must equal the table")
    // the aggregate on top is ordinary Catalyst: partial aggregation
    // before the exchange (map-side combine — the 100 TB shape)
    val agg = Footer.houseScan(spark, Sf)
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && plan.contains("Exchange"),
      s"aggregate must ride hash partial aggregation:\n${plan.take(600)}")
  }

  test("q260 pushdown scan: bloom tightens where stats are blind; column pruning is real I/O; conjunction intersects") {
    import graft.operators.Footer
    val out = SparkEntry.queries("q260_pushdown_house_scan")(spark, Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val (uTot, pointBound, pointMatch) = out("docid_eq_250")
    // stats are blind on the scattered point lookup...
    assert(pointBound == uTot,
      s"stats bound must be blind on the point lookup ($pointBound/$uTot)")
    assert(pointMatch == 1L)
    // ...and the range + conjunction bounds genuinely prune
    assert(out("nchars_100_199")._2 < uTot)
    assert(out("conj")._2 <= out("nchars_100_199")._2)
    // measured bloom tightening on the rebuilt layout: the point
    // lookup's read set collapses to ~1 unit where stats said "all"
    val docs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val unitRows = Footer.adaptiveUnitRows(docs.count())
    val units = Footer.writeUnits(docs,
      Seq(col("n_chars"), col("doc_id")), "q260_spec", unitRows,
      writeOptions = Map(
        "parquet.bloom.filter.enabled#doc_id" -> "true",
        "parquet.bloom.filter.expected.ndv#doc_id" -> unitRows.toString))
    val h = Footer.xxh64(Array.tabulate(8)(i => ((250L >>> (8 * i)) & 0xff).toByte))
    val positives = units.filter(u =>
      Footer.readBloom(u.path, "doc_id").mightContain(h))
    assert(positives.size >= 1 && positives.size <= 2,
      s"bloom must collapse the point lookup to ~1 unit, got ${positives.size}")
    // COLUMN PRUNING IS REAL I/O, not prose: corrupt an UN-requested
    // column's page header in a copied unit — the pushdown read of
    // (doc_id, source) must succeed untouched, the read that requests
    // the corrupted column must refuse
    val victim = units.head.path
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(victim))
    val (leaves, chunks) = Footer.parseFooter(victim)
    val langOff = chunks(leaves.indexWhere(_.name == "lang"))
      .head.dataPageOffset.toInt
    val bad = bytes.clone(); bad(langOff) = 0x7f.toByte
    val badPath = victim.stripSuffix(".parquet") + "-corrupt.bin"
    java.nio.file.Files.write(java.nio.file.Paths.get(badPath), bad)
    val okRows = Footer.houseRead(spark, Seq(badPath),
      Seq(("doc_id", true), ("source", false))).collect()
    assert(okRows.length.toLong == units.head.nRows,
      "a corrupted UN-requested column must not affect the pruned read")
    intercept[Exception] {
      Footer.houseRead(spark, Seq(badPath),
        Seq(("doc_id", true), ("lang", false))).collect()
    }
  }

  test("q261 layout optimize: results invariant across geometries; re-clustering never reads more; fraction improves somewhere") {
    val out = SparkEntry.queries("q261_layout_optimize")(spark, Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    var improved = false
    for ((p, (uPre, readPre, uPost, readPost, nMatch)) <- out) {
      assert(uPre > 0 && uPost > 0 && nMatch > 0, s"$p: degenerate fixture")
      // soundness both sides is already xor-proven in-plan; the PRICE:
      // the optimized layout's read FRACTION never regresses...
      val preFrac = readPre.toDouble / uPre
      val postFrac = readPost.toDouble / uPost
      assert(postFrac <= preFrac + 1e-9,
        s"$p: optimize must not regress the read fraction " +
          s"($readPost/$uPost vs $readPre/$uPre)")
      if (postFrac < preFrac - 1e-9) improved = true
    }
    // ...and strictly improves on at least part of the workload (the
    // whole point of paying the rewrite)
    assert(improved, "optimize must improve the read fraction somewhere")
  }

  test("q262 house writer: house decoder and footer walker read the house file; stats are the exact extrema; pruning works on house units") {
    import graft.operators.{Footer, HouseWriter}
    import spark.implicits._
    val rows = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source")).orderBy("doc_id")
      .as[(Long, String)].collect()
    val path = System.getProperty("java.io.tmpdir") + "/graft_q262_spec.parquet"
    HouseWriter.write(path, Seq(
      HouseWriter.LongCol("doc_id", rows.map(_._1).toSeq),
      HouseWriter.StrCol("source", rows.map(_._2).toSeq)))
    // 1. the HOUSE DECODER reads the house file (writer == reader across
    // the house's own two halves, independently of Spark)
    val ids = Footer.decodeColumnChunk(path, "doc_id")
    assert(ids.longs == rows.map(_._1).toSeq && ids.nNulls == 0L)
    val srcs = Footer.decodeColumnChunk(path, "source")
    assert(srcs.strs == rows.map(_._2).toSeq)
    // 2. the q239 footer walker audits the house footer: stats are the
    // exact column extrema, codec/encoding classes as declared
    val stats = Footer.readFooter("house", path)
      .map(s => s.column -> s).toMap
    assert(stats("doc_id").min_value.toLong == rows.map(_._1).min &&
      stats("doc_id").max_value.toLong == rows.map(_._1).max)
    assert(stats("source").min_value == rows.map(_._2).min &&
      stats("source").max_value == rows.map(_._2).max)
    assert(stats("doc_id").codec == "UNCOMPRESSED")
    // 3. the PRUNING arithmetic works on house-written units verbatim:
    // unitStatsOf consumes the house footer like any writer's
    val u = Footer.unitStatsOf(path)
    assert(u.nRows == rows.length.toLong)
    assert(u.lo("doc_id") == rows.map(_._1).min &&
      u.hi("doc_id") == rows.map(_._1).max)
    assert(u.loS("source") == rows.map(_._2).min)
    // 4. string stats are picked in UNSIGNED UTF-8 BYTE order, the
    // order parquet readers compare BYTE_ARRAY stats in (r14 ADVICE):
    // U+FFFD sorts ABOVE U+1F600 by UTF-16 code units (0xFFFD > 0xD83D)
    // but BELOW it by UTF-8 bytes (ef bf bd < f0 9f 98 80) — the
    // emitted max must be the UTF-8 max or a stats-trusting pruner
    // skips matching rows
    val uPath = path + ".supp"
    HouseWriter.write(uPath, Seq(
      HouseWriter.StrCol("s", Seq("\uFFFD", new String(
        Character.toChars(0x1F600)), "a"))))
    val sStat = Footer.readFooter("house", uPath)
      .find(_.column == "s").get
    assert(sStat.min_value == "a", "unsigned UTF-8 min")
    assert(sStat.max_value == new String(Character.toChars(0x1F600)),
      "max must follow UTF-8 byte order, not UTF-16 code units")
    // 5. refusals: ragged columns and empty tables are loud
    val e1 = intercept[Exception] {
      HouseWriter.write(path + ".bad", Seq(
        HouseWriter.LongCol("a", Seq(1L, 2L)),
        HouseWriter.StrCol("b", Seq("x"))))
    }
    assert(e1.getMessage.contains("q262"))
    val e2 = intercept[Exception] {
      HouseWriter.write(path + ".bad", Seq(HouseWriter.LongCol("a", Nil)))
    }
    assert(e2.getMessage.contains("q262"))
  }

  test("q264 house writer tier 1: three-way agreement on dict+snappy+multi-group files; per-group stats exact; pruning runs on house units") {
    import graft.operators.{Footer, HouseWriter}
    import spark.implicits._
    val rows = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source")).orderBy("doc_id")
      .as[(Long, String)].collect()
    val path = System.getProperty("java.io.tmpdir") + "/graft_q264_spec.parquet"
    val rpg = (rows.length + 2) / 3
    HouseWriter.write(path, Seq(
      HouseWriter.LongCol("doc_id", rows.map(_._1).toSeq),
      HouseWriter.StrCol("source", rows.map(_._2).toSeq)),
      HouseWriter.HouseSpec(dictionary = true, snappy = true,
        rowsPerGroup = rpg.toLong))
    // 1. THREE-WAY AGREEMENT: Spark's reader, the house decoder, and
    // the q239 footer walker all read the same tier-1 file
    val viaSpark = spark.read.parquet(path)
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(viaSpark.toSeq == rows.toSeq,
      "Spark's reader must reproduce the rows byte-exactly")
    val ids = Footer.decodeColumnChunk(path, "doc_id")
    val srcs = Footer.decodeColumnChunk(path, "source")
    assert(ids.longs == rows.map(_._1).toSeq, "house decoder: doc_id")
    assert(srcs.strs == rows.map(_._2).toSeq, "house decoder: source")
    assert(ids.encClass == "dict" && srcs.encClass == "dict",
      "the decoder must actually take the dictionary path")
    // 2. MULTI ROW GROUP with per-group stats: the walker sees 3 groups
    // and each group's stats are that slice's exact extrema
    val (_, chunks) = Footer.parseFooter(path)
    assert(chunks.head.size == 3, s"want 3 row groups, got ${chunks.head.size}")
    val slices = (0 until rows.length by rpg)
      .map(s => rows.slice(s, math.min(s + rpg, rows.length)))
    chunks.head.zip(slices).foreach { case (cs, slice) =>
      assert(cs.numValues == slice.length.toLong)
      val mn = java.nio.ByteBuffer.wrap(cs.minV)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      val mx = java.nio.ByteBuffer.wrap(cs.maxV)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      assert(mn == slice.map(_._1).min && mx == slice.map(_._1).max,
        "per-group doc_id stats must be the slice's exact extrema")
      assert(cs.codec == 1, "chunk must declare SNAPPY")
    }
    // 3. q245's pruning arithmetic consumes the multi-group house
    // footer verbatim: folded stats are the global extrema
    val u = Footer.unitStatsOf(path)
    assert(u.nRows == rows.length.toLong)
    assert(u.lo("doc_id") == rows.map(_._1).min &&
      u.hi("doc_id") == rows.map(_._1).max)
    // 4. dictionary completeness holds by construction: encodings list
    // is exactly [PLAIN_DICTIONARY, RLE] — no PLAIN fallback, so q254's
    // membership-skip soundness requirement is a theorem on house files
    chunks.head.foreach(cs =>
      assert(cs.encodings.sorted == Seq(2, 3),
        s"encodings ${cs.encodings} must be exactly dict+RLE"))
  }

  test("q265 house page-index + bloom write: blooms sound with bounded FPs; indexes tell the truth page-by-page; Spark reads the indexed file") {
    import graft.operators.{Footer, HouseWriter}
    import spark.implicits._
    val ids = Tables(spark, Sf, "documents")
      .select(col("doc_id")).orderBy("doc_id").as[Long].collect()
    val path = System.getProperty("java.io.tmpdir") + "/graft_q265_spec.parquet"
    HouseWriter.write(path, Seq(HouseWriter.LongCol("doc_id", ids.toSeq)),
      HouseWriter.HouseSpec(snappy = true, rowsPerPage = 64L,
        pageIndex = true, bloomCols = Set("doc_id")))
    // 1. the house BLOOM read back by the house probe: NO false
    // negative over every present id (soundness — the direction
    // pruning rides), false positives bounded (~11 bits/value sizing;
    // byte-deterministic, so the measured count is stable)
    val bloom = Footer.readBloom(path, "doc_id")
    def hashOf(v: Long) =
      Footer.xxh64(Array.tabulate(8)(i => ((v >>> (8 * i)) & 0xff).toByte))
    ids.foreach(v => assert(bloom.mightContain(hashOf(v)),
      s"house bloom false NEGATIVE on present id $v — soundness broken"))
    val absent = (1 to 200).map(k => ids.max + 1000L + k * 7L)
    val fps = absent.count(v => bloom.mightContain(hashOf(v)))
    assert(fps <= 10, s"house bloom FP count $fps over 200 absent probes " +
      "exceeds the ~1% sizing's reasonable bound")
    // 2. the house INDEXES tell the truth page-by-page: each page's
    // decoded extrema equal its ColumnIndex entry, and OffsetIndex
    // first_row_index partitions the chunk exactly
    val locs = Footer.readOffsetIndex(path, "doc_id")
    val (nullPages, mins, maxs, boundary) =
      Footer.readColumnIndex(path, "doc_id")
    assert(boundary == 1, "sorted key must index ASCENDING")
    assert(locs.size == mins.size && locs.size > 1)
    val cs = Footer.parseFooter(path)._2.head.head
    locs.indices.foreach { i =>
      assert(!nullPages(i))
      val vals = Footer.decodeLongPage(path, locs(i), cs.codec, 1)
      assert(vals.min == mins(i) && vals.max == maxs(i),
        s"page $i: ColumnIndex (${mins(i)},${maxs(i)}) is not the " +
          s"decoded extrema (${vals.min},${vals.max})")
      assert(locs(i).firstRow ==
        locs.take(i).map(_.firstRow).lastOption.map(_ =>
          locs(i - 1).firstRow + Footer.decodeLongPage(path, locs(i - 1),
            cs.codec, 1).size).getOrElse(0L),
        s"page $i: first_row_index does not chain from the prior page")
    }
    // 3. INTEROP: Spark's reader reads the index+bloom-carrying house
    // file and reproduces the rows (the extra structures don't corrupt
    // the layout parquet-mr sees)
    val viaSpark = spark.read.parquet(path)
      .orderBy("doc_id").as[Long].collect()
    assert(viaSpark.toSeq == ids.toSeq)
    // 4. bloom scope refusal: strings refuse loudly
    val e = intercept[Exception] {
      HouseWriter.write(path + ".bad",
        Seq(HouseWriter.StrCol("s", Seq("a", "b"))),
        HouseWriter.HouseSpec(bloomCols = Set("s")))
    }
    assert(e.getMessage.contains("q265"))
  }

  test("q269 house v2 writer: delta streams roundtrip through the house reader; uncompressed v2 house files read correctly row-based; negative deltas and empty strings covered") {
    import graft.operators.{Footer, HouseWriter}
    import spark.implicits._
    // 1. DELTA_BINARY_PACKED roundtrip against the house READER across
    // the shapes that bite: multi-block (>128), negative deltas,
    // all-equal (width 0), partial last miniblock, single value
    val shapes = Seq(
      (0L until 500L).toSeq,                        // +1 deltas, 4 blocks
      (0L until 300L).map(i => (i * 37L) % 101L),   // sign-mixed deltas
      Seq.fill(130)(42L),                           // width-0 blocks
      Seq(7L), (0L until 9L).toSeq)                 // tiny tails
    shapes.foreach { vs =>
      val enc = HouseWriter.deltaBinaryPacked(vs)
      val (dec, _) = Footer.readDeltaBinaryPacked(enc, 0, vs.size)
      assert(dec.toSeq == vs, s"DBP roundtrip broke on ${vs.take(5)}...")
    }
    // 2. DELTA_BYTE_ARRAY roundtrip incl. empty strings and shared
    // prefixes
    val strs = Seq("", "a", "ab", "abc", "abd", "", "zz", "abce", "b")
    val encS = HouseWriter.deltaByteArray(strs)
    assert(Footer.readDeltaByteArray(encS, 0, strs.size).toSeq == strs)
    // 3. the ecosystem-bug shape, house-handled: an UNCOMPRESSED v2
    // file (the layout Spark's vectorized reader corrupts) — the house
    // decoder and the ROW-BASED reader both read it exactly
    val rows = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source")).orderBy("doc_id")
      .as[(Long, String)].collect()
    val path = System.getProperty("java.io.tmpdir") + "/graft_q269_spec.parquet"
    HouseWriter.write(path, Seq(
      HouseWriter.LongCol("doc_id", rows.map(_._1).toSeq),
      HouseWriter.StrCol("source", rows.map(_._2).toSeq)),
      HouseWriter.HouseSpec(v2 = true)) // uncompressed, one group
    assert(Footer.decodeColumnChunk(path, "doc_id").longs ==
      rows.map(_._1).toSeq)
    assert(Footer.decodeColumnChunk(path, "source").strs ==
      rows.map(_._2).toSeq)
    val prev = spark.conf.get("spark.sql.parquet.enableVectorizedReader")
    try {
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
      val back = spark.read.parquet(path).orderBy("doc_id")
        .as[(Long, String)].collect()
      assert(back.toSeq == rows.toSeq,
        "the row-based reader must reproduce the uncompressed v2 house file")
    } finally
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", prev)
    // 4. scope refusal: v2 + dictionary is out of scope, loudly
    val e = intercept[Exception] {
      HouseWriter.write(path + ".bad",
        Seq(HouseWriter.LongCol("a", Seq(1L, 2L))),
        HouseWriter.HouseSpec(v2 = true, dictionary = true))
    }
    assert(e.getMessage.contains("q269"))
  }

  test("q270 full house loop: the DSv2 source prunes from house metadata and the house bloom collapses the point lookup") {
    import spark.implicits._
    val out = SparkEntry.queries("q270_full_house_roundtrip")(spark, Sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // stats bound prunes the sort-key range on the all-house layout
    val (tot, boundRange, nRange) = out("nchars_100_199")
    assert(boundRange < tot && nRange > 0,
      s"range predicate must prune house units ($boundRange/$tot)")
    // the scattered point: stats blind (bound = total); the HOUSE bloom
    // collapsed the actual plan below it (pinned by the query's own
    // require; here we pin the stats-blindness premise)
    val (tot2, boundPoint, nPoint) = out("docid_eq_250")
    assert(boundPoint == tot2 && nPoint == 1L,
      s"point lookup must be stats-blind on the scattered key ($boundPoint/$tot2)")
  }

  test("q271 house list write: empty lists and record boundaries land exactly; Spark and the house reader agree; null elements refuse") {
    import graft.operators.{Footer, HouseWriter}
    import spark.implicits._
    // 1. a synthetic fixture exercising the level-stream edges: empty
    // lists (def = maxDef-2), single-element records, multi-element
    // runs, and an empty string ELEMENT (present, zero bytes)
    val lists = Seq(
      Seq("a", "b", "c"), Seq.empty[String], Seq("x"),
      Seq("", "y"), Seq.empty[String], Seq("tail", "end"))
    val ids = lists.indices.map(_.toLong)
    val path = System.getProperty("java.io.tmpdir") + "/graft_q271_spec.parquet"
    HouseWriter.writeListFile(path,
      HouseWriter.LongCol("doc_id", ids), "words", lists)
    // the house reader reassembles the records exactly
    assert(Footer.decodeListStrChunk(path, "words") == lists)
    // Spark's reader agrees, empty lists included
    val back = spark.read.parquet(path).orderBy("doc_id")
      .select(col("words")).as[Seq[String]].collect().toSeq
    assert(back == lists,
      "Spark must reassemble the house-written level streams exactly")
    // 2. refusals: null elements and ragged inputs are loud
    val e1 = intercept[Exception] {
      HouseWriter.writeListFile(path + ".bad",
        HouseWriter.LongCol("doc_id", Seq(1L)), "w", Seq(Seq("a", null)))
    }
    assert(e1.getMessage.contains("q271"))
    val e2 = intercept[Exception] {
      HouseWriter.writeListFile(path + ".bad",
        HouseWriter.LongCol("doc_id", Seq(1L, 2L)), "w", Seq(Seq("a")))
    }
    assert(e2.getMessage.contains("q271"))
  }

  test("q246 audio cluster collapse == q219-pair-derived components row-for-row; edge list linear in signatures") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    // 1. IDENTICAL OUTPUT CONTRACT: the sparsified collapse must equal
    // the components derived from q219's full pair stream (the
    // signature-head theorem, applied to audio fingerprints)
    val sparse = SparkEntry.queries("q246_audio_cluster_collapse")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val pairs = SparkEntry.queries("q219_audio_neardup")(spark, Sf)
      .select(col("doc_a").as("a_id"), col("doc_b").as("b_id"))
    val full = Tables(spark, Sf, "documents").select(col("doc_id"))
      .join(Dedup.connectedComponents(pairs)
        .withColumnRenamed("component_id", "cid"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cid"), col("doc_id")), col("cid").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(sparse == full, "q246 components drifted from q219's pair closure")
    // 2. EDGE LINEARITY — the point: the planted fixture has at most 2
    // distinct signatures per group (re-levels hash identically, the
    // fade-out edit flips one bit), so the contraction's edge list is
    // (docs - signatures) member edges + a bounded head-pair set,
    // strictly under the quadratic pair stream
    val media = Tables(spark, Sf, "documents")
      .select(col("doc_id")).as[Long]
      .map(id => Multimodal.MediaRow(id, Multimodal.encodeWavAfp(id)))
    val hashes = Multimodal.audioFingerprints(spark, media).localCheckpoint()
    val nDocs = hashes.count()
    val nSig = hashes.select("dhash").distinct().count()
    assert(nSig <= 2 * Multimodal.AfpGroups,
      s"fixture must collapse to <= 2 signatures per group, got $nSig")
    val nEdges = Multimodal.sparseClusterEdges(hashes).count()
    val nPairs = pairs.count()
    assert(nEdges < nPairs,
      s"sparsified edges ($nEdges) must undercut the pair stream ($nPairs)")
    assert(nEdges - (nDocs - nSig) <= nSig * (nSig - 1) / 2,
      "verified head pairs must be bounded by distinct-signature pairs")
  }

  test("q234 encoding advisor: matches plain-Scala size models; sane advice; varint/NULL loudness") {
    import graft.operators.Relational
    val out = SparkEntry.queries("q234_encoding_advisor")(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    // THIRD implementation off collected values
    val rows = Tables(spark, Sf, "documents")
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    val n = rows.length.toLong
    def strSizes(vs: Seq[String], col: String): Map[(String, String), Long] = {
      val plain = vs.map(4L + _.length).sum
      val card = vs.distinct.size.toLong
      val dict = vs.distinct.map(4L + _.length).sum +
        n * Relational.idxBytes(card)
      val rle = vs.zipWithIndex.map { case (v, i) =>
        if (i == 0 || vs(i - 1) != v) 8L + v.length else 0L
      }.sum
      Map((col, "plain") -> plain, (col, "dict") -> dict, (col, "rle") -> rle)
    }
    def vint(u: Long): Long =
      1L + (if (u >= 128) 1 else 0) + (if (u >= 16384) 1 else 0) +
        (if (u >= 2097152) 1 else 0) + (if (u >= 268435456) 1 else 0)
    def zz(v: Long): Long = if (v >= 0) v * 2 else -v * 2 - 1
    def intSizes(vs: Seq[Long], col: String): Map[(String, String), Long] = {
      val card = vs.distinct.size.toLong
      val rle = vs.zipWithIndex.map { case (v, i) =>
        if (i == 0 || vs(i - 1) != v) 12L else 0L
      }.sum
      val delta = 8L + vs.sliding(2).map(p => vint(zz(p(1) - p(0)))).sum
      Map((col, "plain") -> 8L * n,
        (col, "dict") -> (8L * card + n * Relational.idxBytes(card)),
        (col, "rle") -> rle, (col, "delta") -> delta)
    }
    val ref = strSizes(rows.map(_._2).toSeq, "source") ++
      strSizes(rows.map(_._3).toSeq, "lang") ++
      intSizes(rows.map(_._1).toSeq, "doc_id") ++
      intSizes(rows.map(_._4).toSeq, "n_chars")
    ref.foreach { case (k, b) =>
      assert(out(k)._1 == b, s"$k: engine ${out(k)._1} != model $b")
    }
    // exactly one advised per column, and it is the (bytes, name) min
    Seq("source", "lang", "doc_id", "n_chars").foreach { c =>
      val mine = out.filter(_._1._1 == c)
      assert(mine.values.count(_._2) == 1, s"$c: advised not unique")
      val best = mine.minBy { case ((_, e), (b, _)) => (b, e) }
      assert(best._2._2, s"$c: advised is not the minimum")
    }
    // sanity of the advice itself: sorted unique ids want DELTA; a
    // low-cardinality string must not stay PLAIN
    assert(out(("doc_id", "delta"))._2, "sorted unique ids must advise delta")
    assert(!out(("source", "plain"))._2, "low-cardinality source stayed plain")
    // loudness: NULLs and out-of-model deltas refuse
    import spark.implicits._
    val e1 = intercept[Exception] {
      Relational.encodingAdvisor(spark,
        Seq((1L, null.asInstanceOf[String], "en", 5L))
          .toDF("doc_id", "source", "lang", "n_chars")).collect()
    }
    assert(e1.getMessage != null || e1.getCause != null)
    val e2 = intercept[Exception] {
      Relational.encodingAdvisor(spark,
        Seq((0L, "s", "en", 5L), (1L << 36, "s", "en", 5L))
          .toDF("doc_id", "source", "lang", "n_chars")).collect()
    }
    assert(e2.getMessage != null || e2.getCause != null)
  }

  test("q203 KMV: matches a plain-Scala sketch; error inside the envelope; exact-mode loudness; MinKAgg laws") {
    import graft.operators.Sketches
    val out = SparkEntry.queries("q203_kmv_theta")(spark, Sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set("a", "b", "union", "intersect"))
    // SECOND implementation (after the oracle's SQL): the whole sketch
    // in plain Scala off java MessageDigest
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(t: String): Long = java.lang.Long.parseLong(md5hex("kmv:" + t).take(15), 16)
    val rows = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shingles = rows.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      val inA = md5hex("kmvdump:" + id).head < '8'
      (0 to ws.length - 3).map(i => (inA, ws.slice(i, i + 3).mkString(" ")))
    }
    val setA = shingles.filter(_._1).map(_._2).toSet
    val setB = shingles.filterNot(_._1).map(_._2).toSet
    val k = 128
    val H = 1L << 60
    def syn(s: Set[String]): Seq[Long] =
      s.map(h60).toSeq.distinct.sorted.take(k)
    val (sa, sb) = (syn(setA), syn(setB))
    val (thA, thB) = (sa(k - 1), sb(k - 1))
    val thU = math.min(thA, thB)
    def est(m: Long, th: Long): Long =
      math.floor((m.toDouble * H.toDouble) / th.toDouble).toLong
    val sampA = sa.take(k - 1).toSet
    val sampB = sb.take(k - 1).toSet
    val mU = (sampA ++ sampB).count(_ < thU).toLong
    val mI = (sampA & sampB).count(_ < thU).toLong
    val ref = Map(
      "a" -> (thA, (k - 1).toLong, est(k - 1, thA), setA.size.toLong),
      "b" -> (thB, (k - 1).toLong, est(k - 1, thB), setB.size.toLong),
      "union" -> (thU, mU, est(mU, thU), (setA ++ setB).size.toLong),
      "intersect" -> (thU, mI, est(mI, thU), (setA & setB).size.toLong))
    ref.foreach { case (m, want) =>
      assert(out(m) == want, s"measure $m: engine ${out(m)} != reference $want")
    }
    // the 1/sqrt(k) error envelope, with slack: the estimate must be a
    // real estimate, not garbage that happens to hash
    out.foreach { case (m, (_, _, e, x)) =>
      assert(math.abs(e - x).toDouble / x < 3.0 / math.sqrt(k),
        s"measure $m: |$e - $x| outside 3/sqrt(k)")
    }

    // below k distinct hashes -> exact mode -> loud refusal
    import spark.implicits._
    val tiny = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      graft.operators.Sketches.kmvOverlap(tiny).collect()
    }
    assert(e1.getMessage != null || e1.getCause != null)

    // MinKAgg laws on a deterministic sequence: distinct, sorted,
    // bounded, idempotent, merge-order-free
    val agg = new graft.functions.MinKAgg(8)
    val xs = (1 to 200).map(i => ((i * 7919L) % 101) - 50)
    val direct = xs.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = xs.splitAt(77)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    val expect = xs.distinct.sorted.take(8)
    assert(agg.finish(direct) == expect)
    assert(agg.finish(merged) == expect)
    assert(agg.finish(agg.merge(direct, direct)) == expect, "idempotence")
  }

  test("q204 pagerank: matches a plain-Scala fixpoint; base floor; sink discipline; deterministic") {
    import graft.operators.Graph
    val out = SparkEntry.queries("q204_pagerank")(spark, Sf).collect()
    val n = out.length
    assert(n > 0)
    // SECOND implementation: edges + 5 integer iterations in plain Scala
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = out.map(_.getLong(0))
    assert(ids.toSeq == ids.sorted.toSeq)
    val idx = ids.zipWithIndex.toMap
    val edges = ids.flatMap(u => (1 to Graph.OutDeg).map { j =>
      val h = java.lang.Long.parseLong(md5hex(s"edge:$u:$j").take(15), 16)
      (u, ids((h % n + n).toInt % n))
    })
    var r = ids.map(_ => Graph.PrScale)
    (1 to Graph.PrIters).foreach { _ =>
      val nxt = Array.fill(n)(Graph.PrBase)
      edges.foreach { case (u, v) =>
        nxt(idx(v)) += (r(idx(u)) * 85L) / (100L * Graph.OutDeg)
      }
      r = nxt
    }
    out.zipWithIndex.foreach { case (row, i) =>
      assert(row.getLong(2) == r(i),
        s"doc ${row.getLong(0)}: pr ${row.getLong(2)} != reference ${r(i)}")
    }
    // floors: every rank >= the damping base, exactly the base for sinks
    val indeg = edges.groupBy(_._2).view.mapValues(_.size).toMap
    out.foreach { row =>
      assert(row.getLong(2) >= Graph.PrBase)
      if (!indeg.contains(row.getLong(0)))
        assert(row.getLong(2) == Graph.PrBase,
          s"in-degree-0 doc ${row.getLong(0)} must sit exactly at the base")
    }
    // the fixture must exercise both sinks and hubs
    assert(out.exists(_.getLong(2) == Graph.PrBase), "no sink in the fixture")
    assert(out.exists(_.getLong(2) > 2 * Graph.PrBase), "no hub in the fixture")
    // integer mass sanity: floors only ever lose mass
    val total = out.map(_.getLong(2)).sum
    assert(total <= n.toLong * Graph.PrScale && total >= n.toLong * Graph.PrBase)
  }

  test("q205 symspell: matches plain-Scala brute force; all typo arms land; neighborhood theorem; lexicon cap loud") {
    import graft.operators.Fuzzy
    val out = SparkEntry.queries("q205_symspell_fuzzy")(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // THIRD implementation (after the oracle's brute-force SQL): plain
    // Scala levenshtein over the re-derived query/lexicon sets
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = Tables(spark, Sf, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val lex = rows.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty).distinct.toSet
    val typos = rows.flatMap { case (id, text) =>
      val w = text.split(" ", -1).head
      if (w.isEmpty || w.length < 3) None
      else md5hex("typo:" + id).head match {
        case g if g < '4' => Some(w.take(1) + w.drop(2))
        case g if g < '8' => Some("z" + w.drop(1))
        case g if g < 'c' => Some(w + "q")
        case _ => None
      }
    }
    val qt = lex ++ typos
    val ref = (for (q <- qt; w <- lex; d = lev(q, w) if d <= Fuzzy.MaxEdits)
      yield (q, w, d.toLong)).toSet
    assert(out.toSet == ref,
      "SymSpell join drifted from the brute-force reference (blocking lost a pair?)")
    // every distance tier and every typo arm must be exercised
    assert(Set(0L, 1L, 2L).subsetOf(out.map(_._3).toSet))
    assert(out.exists { case (t, w, d) => d == 1 && t == "z" + w.drop(1) },
      "substitution arm missing")
    assert(out.exists { case (t, w, d) => d == 1 && t == w + "q" },
      "insertion arm missing")
    assert(out.exists { case (t, w, d) =>
      d == 1 && w.length >= 3 && t == w.take(1) + w.drop(2) },
      "deletion arm missing")
    // the SymSpell theorem, exercised directly on every matched pair:
    // lev <= 2 => the deletion neighborhoods intersect
    def nbhd(s: String): Set[String] = {
      val one = (0 until s.length).map(i => s.take(i) + s.drop(i + 1))
      val two = one.flatMap(t => (0 until t.length).map(i => t.take(i) + t.drop(i + 1)))
      (Seq(s) ++ one ++ two).toSet
    }
    ref.foreach { case (q, w, _) =>
      assert(nbhd(q).intersect(nbhd(w)).nonEmpty,
        s"neighborhoods of '$q' and '$w' must intersect")
    }

    // a corpus-sized lexicon voids the broadcast contract -> loud
    import spark.implicits._
    val big = Seq((1L, (0 until 5000).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Fuzzy.symspellJoin(Fuzzy.queryTokens(big), Fuzzy.lexicon(big)).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("q206 ewma: matches a plain-Scala fold; both spike and collapse fire; first observation seeds; NULL discipline") {
    val out = SparkEntry.queries("q206_ewma_anomaly")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // THIRD implementation (after the oracle's recursive CTE): the fold
    // in plain Scala, with spike/collapse split out to prove the
    // fixture exercises BOTH failure directions
    val ev = Tables(spark, Sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .filter(col("cents").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    var spikes = 0L; var collapses = 0L
    val ref = ev.groupBy(_._1).map { case (u, rows) =>
      val vs = rows.sortBy(t => (t._2, t._3)).map(_._4)
      var e = 0L; var a = 0L; var n = 0L
      vs.foreach { v =>
        if (n > 0) {
          val sp = v > 3 * e; val cl = 3 * v < e
          if (sp) spikes += 1
          if (cl) collapses += 1
          if (sp || cl) a += 1
          e = Math.floorDiv(7 * e + v, 8) // floor ≡ the engine's floor(x/8.0)
        } else e = v
        n += 1
      }
      u -> (n, e, a)
    }
    assert(out == ref.toMap, "EWMA fold drifted from the plain-Scala reference")
    assert(spikes > 0 && collapses > 0,
      s"fixture must exercise both directions (spikes=$spikes collapses=$collapses)")
    // toy: first observation seeds the state and is never flagged (a
    // huge first value alone yields zero anomalies); a NULL value drops
    // from the fold and from n_events; order rides (us, event_id)
    import spark.implicits._
    val toy = Seq(
      (1L, 100L, 1L, java.lang.Double.valueOf(999.0)),
      (1L, 200L, 2L, null.asInstanceOf[java.lang.Double]),
      (1L, 300L, 3L, java.lang.Double.valueOf(1.0)),
      (2L, 100L, 4L, java.lang.Double.valueOf(500000.0)))
      .toDF("user_id", "usl", "event_id", "value")
      .select(col("user_id"), timestamp_micros(col("usl")).as("ts"),
        col("event_id"), col("value"))
    val t = graft.operators.Behavior.ewmaAnomaly(toy).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // user 1: seeds 99900, then v=100 collapses (300 < 99900);
    // ewma = (7*99900 + 100)/8 = 87425; NULL row excluded (n=2)
    assert(t(1L) == ((2L, 87425L, 1L)), s"toy user 1 got ${t(1L)}")
    // user 2: single huge first observation, never flagged
    assert(t(2L) == ((1L, 50000000L, 0L)), s"toy user 2 got ${t(2L)}")
  }

  test("q207 hll: matches a plain-Scala sketch; envelope; rho law; small-range loudness") {
    import graft.operators.Sketches
    val out = SparkEntry.queries("q207_hll_exact")(spark, Sf).collect().head
    val (m, used, z, est, exact) = (out.getLong(0), out.getLong(1),
      out.getLong(2), out.getLong(3), out.getLong(4))
    assert(m == 256L)
    // SECOND implementation (after the oracle's SQL): registers, Z and
    // the estimate in plain Scala off java MessageDigest
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shingles = Tables(spark, Sf, "documents").filter(col("text").isNotNull)
      .select(col("text")).collect().flatMap { r =>
        val ws = r.getString(0).split(" ", -1)
        (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" "))
      }.toSet
    val regs = scala.collection.mutable.Map.empty[Long, Long]
    shingles.foreach { t =>
      val h = java.lang.Long.parseLong(md5hex("hll:" + t).take(15), 16)
      val b = h >> 52
      val w = h & ((1L << 52) - 1)
      val rho = if (w == 0L) 53L else 53L - (64 - java.lang.Long.numberOfLeadingZeros(w))
      regs(b) = math.max(regs.getOrElse(b, 0L), rho)
    }
    val zRef = regs.values.map(mj => 1L << (53 - mj)).sum +
      (256L - regs.size) * (1L << 53)
    val estRef = math.floor(((1846528.0 * 65536.0) / 2570790.0) *
      (9007199254740992.0 / zRef.toDouble)).toLong
    assert(used == regs.size.toLong, s"used $used != ${regs.size}")
    assert(z == zRef, s"Z $z != $zRef")
    assert(est == estRef, s"est $est != $estRef")
    assert(exact == shingles.size.toLong)
    // the 3σ envelope (σ = 1.04/√256): a real estimate, not noise
    assert(math.abs(est - exact).toDouble / exact < 3.0 * 1.04 / 16.0,
      s"|$est - $exact| outside the HLL envelope")
    // rho law on adversarial words: w == 0 ⇒ 53; bitlength inverse
    assert((1L to 52L).forall { bits =>
      val w = 1L << (bits - 1)
      53L - (64 - java.lang.Long.numberOfLeadingZeros(w)) == 53L - bits
    })

    // a tiny corpus sits in the small-range regime -> loud refusal,
    // never a silent linear-counting fallback
    import spark.implicits._
    val tiny = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Sketches.hllEstimate(tiny).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("q208 hits: matches a plain-Scala fixpoint; normalization lands on the scale; both sides spread") {
    import graft.operators.Graph
    val out = SparkEntry.queries("q208_hits_bipartite")(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // SECOND implementation: the alternating integer fixpoint in Scala
    val edges = Tables(spark, Sf, "events")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val items = edges.map(_._2)
    var auth = items.map(_ -> Graph.HitsScale).toMap
    var hub = Map.empty[Long, Long]
    (1 to Graph.HitsIters).foreach { _ =>
      val hr = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.toSeq.map(e => auth(e._2)).sum }
      val hm = hr.values.max
      hub = hr.map { case (u, s) => u -> (s * Graph.HitsScale) / hm }
      val ar = edges.groupBy(_._2).map { case (i, es) =>
        i -> es.toSeq.map(e => hub(e._1)).sum }
      val am = ar.values.max
      auth = ar.map { case (i, s) => i -> (s * Graph.HitsScale) / am }
    }
    val ref = hub.map { case (u, s) => ("hub", u) -> s } ++
      auth.map { case (i, s) => ("authority", i) -> s }
    assert(out == ref, "HITS fixpoint drifted from the plain-Scala reference")
    // max-normalization: each side tops out exactly at the scale, and
    // the fixture actually separates scores (no degenerate flat graph)
    Seq("hub", "authority").foreach { k =>
      val scores = out.collect { case ((kk, _), s) if kk == k => s }
      assert(scores.max == Graph.HitsScale, s"$k max must sit at the scale")
      assert(scores.min < scores.max, s"$k scores must spread")
      assert(scores.forall(s => s >= 0L && s <= Graph.HitsScale))
    }
  }

  test("q209 rerank: matches a plain-Scala min-cover; permutes the L1 set; NULLs last; actually reorders") {
    import graft.operators.Retrieval
    val out = SparkEntry.queries("q209_proximity_rerank")(spark, Sf).collect()
    val l1 = SparkEntry.queries("q200_rrf_hybrid")(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the L2 stage reranks EXACTLY the L1 candidate set
    assert(out.map(_.getLong(0)).toSet == l1.keySet)
    assert(out.map(r => r.getLong(0) -> r.getLong(3)).toMap == l1,
      "fused ranks must ride through the rerank unchanged")
    // THIRD implementation: brute-force min cover over candidate texts
    val texts = Tables(spark, Sf, "documents")
      .filter(col("doc_id").isin(l1.keySet.toSeq: _*))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def cover(text: String): Option[Long] = {
      val ws = text.split(" ", -1)
      val ps = Retrieval.QueryTerms.map(t =>
        ws.zipWithIndex.collect { case (w, i) if w == t => i + 1 })
      if (ps.exists(_.isEmpty)) None
      else Some((for (a <- ps(0); b <- ps(1); c <- ps(2))
        yield (Seq(a, b, c).max - Seq(a, b, c).min + 1).toLong).min)
    }
    out.foreach { r =>
      val want = cover(texts(r.getLong(0)))
      val got = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(got == want, s"doc ${r.getLong(0)}: window $got != $want")
      // a 3-distinct-term cover is at least 3 tokens wide
      got.foreach(w => assert(w >= 3L))
    }
    // expected order: (window asc nulls last, fused rank)
    val expect = out.map { r =>
      (r.getLong(0), if (r.isNullAt(2)) Long.MaxValue else r.getLong(2), r.getLong(3))
    }.sortBy(t => (t._2, t._3)).map(_._1)
    assert(out.sortBy(_.getLong(1)).map(_.getLong(0)).toSeq == expect.toSeq)
    // the fixture must show the cascade DOING something: at least one
    // candidate moves, and both windowed and term-missing docs exist
    assert(out.exists(r => r.getLong(1) != r.getLong(3)), "rerank never moved a doc")
    assert(out.exists(!_.isNullAt(2)) && out.exists(_.isNullAt(2)),
      "fixture must exercise both covered and term-missing candidates")
  }

  test("q210 csv: bijection on adversarial fields; malformed input is loud; every arm exercised") {
    import graft.expressions.CsvCodec
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    def enc(fs: Seq[String]): String =
      CsvCodec.encode(new GenericArrayData(fs.map(u).toArray[Any])).toString
    def dec(line: String): Seq[String] = {
      val a = CsvCodec.split(u(line))
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else a.getUTF8String(i).toString)
    }
    // bijection: encode then split returns the fields verbatim, over
    // every quoting shape RFC 4180 has (empty vs NULL, comma, doubled
    // quote, bare quote, CR/LF, unicode)
    val adversarial: Seq[Seq[String]] = Seq(
      Seq("plain", "x", "y"),
      Seq("", null, "a,b"),
      Seq("q\"q", "\"", "\"\""),
      Seq("nl\nnl", "cr\rcr", ",,"),
      Seq(null, "", "a\n\"b\",c"),
      Seq("café", "é,é", null))
    adversarial.foreach { fs =>
      assert(dec(enc(fs)) == fs, s"round trip broke on $fs (line=${enc(fs)})")
    }
    // fixed encodings, byte for byte (the rule itself, not just the
    // round trip): NULL -> empty unquoted, "" -> quoted empty
    assert(enc(Seq("a", null, "b")) == "a,,b")
    assert(enc(Seq("a", "", "b")) == "a,\"\",b")
    assert(enc(Seq("a,b")) == "\"a,b\"")
    assert(enc(Seq("a\"b")) == "\"a\"\"b\"")
    // strict decoder: every malformed shape refuses loudly
    Seq("a\"b", "\"ab\"x", "\"ab", "\"a\"\"", "x,\"y\"z").foreach { bad =>
      intercept[IllegalArgumentException] { dec(bad) }
    }
    // the registered query: every arm present, in-plan identity held
    val out = SparkEntry.queries("q210_csv_roundtrip")(spark, Sf).collect()
    assert(out.nonEmpty)
    val arms = out.map(_.getString(1)).toSet
    assert(Seq("0", "3", "6", "9", "c", "e").map(_.head).forall(a =>
      arms.exists(_.head >= a)), s"arm coverage hole: $arms")
    assert(out.exists(_.getString(2).contains("\n")), "no newline-quoted line")
    assert(out.exists(r => r.getString(2).contains("\"\"")),
      "no doubled-quote line")
  }

  test("q211 url: every rule on adversarial urls; malformed is loud; frontier-key collisions resolved") {
    import graft.expressions.UrlCanonicalize
    import org.apache.spark.unsafe.types.UTF8String
    def c(s: String): String =
      UrlCanonicalize.canonicalize(UTF8String.fromString(s)).toString
    // rule-by-rule fixed expectations
    assert(c("HTTP://ExAmple.COM/Path") == "http://example.com/Path") // 1 (path case kept)
    assert(c("http://example.com:80/a") == "http://example.com/a") // 2
    assert(c("https://example.com:443/a") == "https://example.com/a") // 2
    assert(c("http://example.com:8080/a") == "http://example.com:8080/a") // non-default kept
    assert(c("http://example.com/a/b/../c/./d") == "http://example.com/a/c/d") // 3
    assert(c("http://example.com/a/b/..") == "http://example.com/a/") // 3 trailing
    assert(c("http://example.com/a/.") == "http://example.com/a/") // 3 trailing
    assert(c("http://example.com/p%2fq?x=%3a") == "http://example.com/p%2Fq?x=%3A") // 4
    assert(c("http://example.com/a#frag?not-a-query") == "http://example.com/a") // 5
    assert(c("http://example.com") == "http://example.com/") // 6
    assert(c("http://example.com?q=1") == "http://example.com/?q=1") // 6 + query
    assert(c("http://example.com/a//b") == "http://example.com/a//b") // empty segs kept
    // the canonical form is a FIXPOINT
    Seq("HTTP://A.B:80/x/../y%2f?z=%3a#f", "https://H.I:443/.").foreach { u =>
      assert(c(c(u)) == c(u), s"not idempotent on $u")
    }
    // loudness: every malformed shape refuses
    Seq("example.com/a", "ftp://example.com/a", "http:///a",
      "http://example.com/a%zz", "http://example.com/a%3",
      "http://example.com/../a").foreach { bad =>
      intercept[IllegalArgumentException] {
        c(bad)
      }
    }
    // the registered query: all arms present; frontier-key dedup works
    // (case/port/dot variants of the same page collapse)
    val out = SparkEntry.queries("q211_url_canonicalize")(spark, Sf).collect()
    assert(out.nonEmpty)
    val arms = out.map(_.getString(1)).toSet
    assert(arms.size >= 5, s"arm coverage hole: $arms")
    assert(out.forall(r => r.getString(3) == c(r.getString(2))),
      "registered output must equal the expression on the raw url")
    assert(out.forall(r => r.getString(4) == r.getString(3)
      .split("://")(1).split("/")(0)), "host key drifted from the canon host")
    // the frontier-dedup claim itself: raw variants of one page
    // collapse to a single canonical key
    assert(c("HTTP://Ex.COM:80/a/../b") == c("http://ex.com/b"),
      "case/port/dot variants must collapse to one frontier key")
  }

  test("q212 robots: matcher laws incl. multi-star; winner == plain-Scala REP; every rule class fires") {
    import graft.expressions.RobotsMatch.matches
    import graft.operators.Relational
    // the general matcher, beyond the oracle's closed form: multi-star,
    // anchored stars, empty segments, greedy completeness
    assert(matches("/a/b/c", "/a"))
    assert(!matches("/b/a", "/a"))
    assert(matches("/a/b/c", "/a/*/c"))
    assert(matches("/a/x/y/c", "/a/*/c"))
    assert(!matches("/a/b", "/a/*/c"))
    assert(matches("/a/b/c", "/a/*/c$"))
    assert(!matches("/a/b/c/d", "/a/*/c$"))
    assert(matches("/ab/cd/ef", "*b*d*f"))
    assert(!matches("/ab/cd/ef", "*f*d"))
    assert(matches("/abc", "/abc$"))
    assert(!matches("/abcd", "/abc$"))
    assert(matches("/xx", "*"))
    assert(matches("/aa", "/a*a$")) // greedy must not overshoot
    // winner logic vs a plain-Scala REP evaluator over the fixture
    val out = SparkEntry.queries("q212_robots_eval")(spark, Sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val path = r.getString(1)
      val hits = Relational.RobotsRules
        .filter { case (_, p) => matches(path, p) }
        .map { case (al, p) => (p.length.toLong, if (al) 1L else 0L, p) }
      val want = if (hits.isEmpty) (true, None, -1L)
      else {
        val w = hits.max
        (w._2 == 1L, Some(w._3), w._1)
      }
      assert(r.getBoolean(2) == want._1, s"doc ${r.getLong(0)} allowed drift")
      assert((if (r.isNullAt(3)) None else Some(r.getString(3))) == want._2)
      assert(r.getLong(4) == want._3)
    }
    // every rule CLASS fires on the fixture: default-allow, prefix
    // disallow, the anchor override, star, escaped path, the allow tie
    val rules = out.map(r => if (r.isNullAt(3)) "<none>" else r.getString(3)).toSet
    Seq("<none>", "/scan", "/scan/column$", "*/end", "/p%2Fq/", "/big")
      .foreach(r => assert(rules.contains(r), s"rule class $r never fired"))
    // the two headline REP behaviors, stated directly
    val colDoc = out.find(r => !r.isNullAt(3) && r.getString(3) == "/scan/column$").get
    assert(colDoc.getBoolean(2), "the anchored allow must override /scan")
    val bigDoc = out.find(r => !r.isNullAt(3) && r.getString(3) == "/big").get
    assert(bigDoc.getBoolean(2), "equal-length tie must fall to allow")
  }

  test("q198 guards: uncoverable word, over-length word, tie counting on a toy vocab") {
    import spark.implicits._
    import graft.operators.Tokenizer
    // tie fixture from the DP literature: 'aab' = a+a+b = a+ab = aab, all cost 3
    val toy = Seq((1L, "aab abab")).toDF("doc_id", "text")
    val r = Tokenizer.unigramSegmented(toy,
      Seq(("a", 1L), ("b", 1L), ("ab", 2L), ("aab", 3L))).collect().head
    assert(r.getLong(2) == 3L + 4L, s"tie fixture cost ${r.getLong(2)}")
    assert(r.getLong(3) == 3L + 4L, s"tie fixture ways ${r.getLong(3)}")
    // uncoverable word → loud task failure, never a silent skip
    val bad = Seq((1L, "zz")).toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      Tokenizer.unigramSegmented(bad, Seq(("a", 1L))).collect()
    }
    assert(e1.getMessage != null || e1.getCause != null)
    // NULL text and zero-word text → NULL cost/ways (the fixture has no
    // NULL-text doc, so the discipline is pinned here)
    val nulls = Seq((1L, null: String), (2L, ""), (3L, "a")).toDF("doc_id", "text")
    val nr = Tokenizer.unigramSegmented(nulls, Seq(("a", 7L)))
      .orderBy("doc_id").collect()
    assert(nr(0).isNullAt(2) && nr(0).isNullAt(3), "NULL text must yield NULLs")
    assert(nr(1).isNullAt(2) && nr(1).isNullAt(3), "empty text must yield NULLs")
    assert(nr(2).getLong(2) == 7L && nr(2).getLong(3) == 1L)
    // over-length word → loud refusal naming the cap
    val long = Seq((1L, "a" * 65)).toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      Tokenizer.unigramSegmented(long, Seq(("a", 1L))).collect()
    }
    assert((Option(e2.getMessage) ++ Option(e2.getCause).map(_.getMessage))
      .mkString.contains("MaxWordLen") ||
      e2.toString.contains("MaxWordLen"))
  }
}
