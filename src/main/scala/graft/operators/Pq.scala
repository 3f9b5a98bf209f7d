package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Product quantization (Jégou et al., TPAMI'11) — the compression tier
  * a billion-vector ANN index actually runs on (FAISS's PQ/IVF-PQ scan):
  * the 64-dim int8 embedding splits into `SubSpaces` contiguous
  * subspaces, each with its own `K`-centroid codebook (per-subspace
  * Lloyd's, q91's exact discipline), and every vector compresses to
  * `SubSpaces` small codes. Search is ADC (asymmetric distance
  * computation): per probe, a `SubSpaces`×`K` distance table is computed
  * ONCE, and each corpus vector's approximate distance is just
  * `SubSpaces` table lookups + adds — no per-pair vector math.
  *
  * Scale shape:
  *  - codebook training: per subspace, the corpus contributes one
  *    partial-aggregating (cluster, pos) BIGINT-sum pass per iteration
  *    (k·subdim rows to the driver — MODEL state, the kmeansCore
  *    stance); assignment is a codegen'd [[graft.expressions.NearestCentroid]]
  *    map over centroid literals. No shuffle ever carries vectors.
  *  - encode (q170): ONE map-only pass — all four subspace argmins are
  *    literal-centroid expressions in a single projection. At 100 TB the
  *    codes are 4 longs/vector vs 64 — the 16× scan-size reduction is
  *    the operator's point.
  *  - ADC search (q171): probes are the QUERY WORKLOAD (bounded, the
  *    q139/q140 broadcast-benchmark stance) — their distance tables are
  *    driver-computed arrays broadcast in a literal frame; the corpus
  *    side does a broadcast cross-join + 4 `element_at` lookups + a
  *    fixed-order 4-term add, then a per-probe top-k partial aggregate.
  *    The corpus is scanned once, map-only, reading ONLY the code
  *    columns (the PQ promise).
  *
  * Exactness discipline (every value cross-engine bit-identical):
  * centroid components are BIGINT-sum/count double divisions; distances
  * are the NearestCentroid fold `(x·x − 2·x·c) + c·c`; ADC table entries
  * are sequential folds of `(p_i − c_i)²`; the 4-term ADC sum is added
  * in written order on both engines; ranking tie-breaks on vec_id. The
  * oracle unrolls all four Lloyd loops as chained CTEs (q91's mirror,
  * parameterized by subspace slice).
  */
object Pq extends QueryGroup {

  val SubSpaces = 4
  val SubDim = 16 // 64-dim embeddings / 4
  val K = 8
  val Iters = 2
  val TopK = 10
  /** md5('pqprobe:'||vec_id) prefix gate — ~3% of vectors are probes. */
  val ProbeGate = "f8"
  /** q173's coarse quantizer: cell count and probed cells per query. */
  val CoarseK = 8
  val NProbe = 2
  /** Hard ceiling on the collected probe workload: probes are BOUNDED
    * QUERY STATE (the q139/q140 broadcast-benchmark stance — in
    * deployment the probe set is the query load, fixed-size while the
    * corpus grows), and each probe materializes SubSpaces×K dt doubles
    * into the broadcast. Without the ceiling, a corpus-proportional
    * probe predicate (like the registered md5 gate at a real SF) is a
    * driver OOM hiding behind a fixture-sized fixture — the q157/q48
    * loud-guard discipline, applied here (r10 verdict item 2).
    */
  val MaxProbes = 4096

  private def selfDot(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  private def ncStruct(xd: Column,
      cents: Seq[(Long, Array[Double])]): Column =
    org.apache.spark.sql.graftbridge.toColumn(
      graft.expressions.NearestCentroid(
        org.apache.spark.sql.graftbridge.toExpression(xd),
        cents.map(_._1).toArray,
        cents.map(_._2).toArray,
        cents.map(c => selfDot(c._2)).toArray))

  /** The m-th subspace slice of the quantized vector, as doubles. */
  private def xdSlice(m: Int): Column =
    transform(slice(col("qvec"), m * SubDim + 1, SubDim), _.cast("double"))

  /** Train the m-th subspace codebook: init = the K smallest vec_ids'
    * subvectors; `Iters` rounds of assign (NearestCentroid literals) +
    * exact BIGINT (cluster, pos) sum recompute. Returns final centroids
    * sorted by cluster id. A cluster that loses every member drops out —
    * identically on the oracle side.
    */
  private[graft] def trainSub(base: DataFrame, m: Int): Seq[(Long, Array[Double])] =
    trainSlice(base, m * SubDim + 1, SubDim, K)

  /** Run independent driver-side legs CONCURRENTLY on `threads` threads
    * and give their results in `thunks`' order (guide §2.6 job overlap):
    * FIFO scheduling back-fills one leg's task tail with the next leg's
    * tasks. The one runner for q248's seven count legs and for this
    * tier's Lloyd loops, each of which is `Iters` tiny driver-coordinated
    * collect jobs over K·SubDim model rows, so run serially the tier
    * pays every loop's job latencies end to end. The loops are
    * independent and share only the read-only cached base (Spark's block
    * manager serializes the first materialization), so each loop's
    * arithmetic — and every downstream code — is bit-identical to the
    * sequential order. The wait is finite (10 min, not Duration.Inf) and
    * `shutdownNow` then interrupts the remaining legs, so a wedged leg
    * fails loud rather than hanging the query (r17 advice).
    */
  private[graft] def concurrently[T](threads: Int)(thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futs = thunks.map(t => scala.concurrent.Future(t()))
      futs.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration(10, "min")))
    } finally pool.shutdownNow()
  }

  /** All four subspace codebooks, trained concurrently. */
  private[graft] def trainSubs(base: DataFrame): Seq[Seq[(Long, Array[Double])]] =
    concurrently(SubSpaces)((0 until SubSpaces).map(m => () => trainSub(base, m)))

  /** Coarse quantizer + the four subspace codebooks — five independent
    * loops over the same cached base, overlapped (q173/q177).
    */
  private[graft] def trainCoarseAndSubs(base: DataFrame)
      : (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val all = concurrently(SubSpaces + 1)(
      (() => trainSlice(base, 1, SubSpaces * SubDim, CoarseK)) +:
        (0 until SubSpaces).map(m => () => trainSub(base, m)))
    (all.head, all.tail)
  }

  /** The same exact Lloyd loop over an arbitrary 1-based slice of qvec —
    * subspace codebooks use (m·SubDim+1, SubDim); q173's COARSE
    * quantizer uses the whole vector (1, SubSpaces·SubDim).
    */
  private[graft] def trainSlice(base: DataFrame, from: Int, len: Int,
      k: Int): Seq[(Long, Array[Double])] = {
    val q = base.select(col("vec_id"),
      slice(col("qvec"), from, len).as("qsub"),
      transform(slice(col("qvec"), from, len), _.cast("double")).as("xd"))
    var cents: Seq[(Long, Array[Double])] =
      q.orderBy("vec_id").limit(k).select(col("xd")).collect()
        .zipWithIndex
        .map { case (r, j) => (j.toLong, r.getSeq[Double](0).toArray) }
        .toSeq
    var it = 0
    while (it < Iters) {
      val sums = q
        .withColumn("a", ncStruct(col("xd"), cents))
        .select(coalesce(col("a.cluster"), lit(-1L)).as("cluster"),
          posexplode(col("qsub")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        .collect() // K·SubDim rows — model state, not data
      cents = sums.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map {
        case (j, rows) =>
          val arr = new Array[Double](rows.length)
          rows.foreach { r =>
            arr(r.getInt(1)) = r.getLong(2).toDouble / r.getLong(3).toDouble
          }
          (j, arr)
      }
      it += 1
    }
    cents
  }

  /** The same exact Lloyd loop over an arbitrary (vec_id, xd:
    * array<double>) frame — the RESIDUAL codebooks' trainer (q177),
    * where the input is `x − coarse_centroid(cell(x))` and the
    * component sums are DOUBLE (residual centroids are rationals with
    * per-cell denominators, so the BIGINT-sum exactness discipline of
    * [[trainSlice]] cannot carry — which is exactly why q177 verifies
    * by in-plan verdict instead of a value-level oracle).
    */
  private[graft] def trainVecD(q: DataFrame, k: Int): Seq[(Long, Array[Double])] = {
    var cents: Seq[(Long, Array[Double])] =
      q.orderBy("vec_id").limit(k).select(col("xd")).collect()
        .zipWithIndex
        .map { case (r, j) => (j.toLong, r.getSeq[Double](0).toArray) }
        .toSeq
    var it = 0
    while (it < Iters) {
      val sums = q
        .withColumn("a", ncStruct(col("xd"), cents))
        .select(coalesce(col("a.cluster"), lit(-1L)).as("cluster"),
          posexplode(col("xd")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        .collect() // K·SubDim rows — model state, not data
      cents = sums.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map {
        case (j, rows) =>
          val arr = new Array[Double](rows.length)
          rows.foreach { r =>
            arr(r.getInt(1)) = r.getDouble(2) / r.getLong(3).toDouble
          }
          (j, arr)
      }
      it += 1
    }
    cents
  }

  /** The quantized base frame, cached once per query (both the four
    * training loops and the encode pass read it).
    */
  private def quantizedBase(spark: SparkSession, dir: String): DataFrame =
    // r17: a spread-before-cache variant was MEASURED OUT here — the
    // PQ tier's many Lloyd rounds and encode passes are each cheap, so
    // 32-task scheduling per round cost far more than the single-task
    // compute it parallelized (full-suite A/B: q170 1.5->4.2 s,
    // q171 1.7->5.0 s, q173 2.1->6.1 s, q177 2.3->10.4 s; reverted).
    graft.CachePool.track(
      Similarity.withQuantized(Tables(spark, dir, "embeddings")))

  /** (vec_id [, extra...], code0..code3) — one map-only projection over
    * the base. `extra` lets q173's coarse-cell argmin ride the SAME
    * projection (the code-column expressions exist exactly once, so
    * q170's codes can never drift from the ADC queries' — r10 review
    * finding).
    */
  private[graft] def encoded(base: DataFrame,
      books: Seq[Seq[(Long, Array[Double])]],
      extra: Seq[Column] = Nil): DataFrame =
    base.select(col("vec_id") +: (extra ++
      books.zipWithIndex.map { case (cents, m) =>
        coalesce(ncStruct(xdSlice(m), cents).getField("cluster"), lit(-1L))
          .as(s"code$m")
      }): _*)

  /** All four trained codebooks (tests reuse this to rebuild the
    * reference reconstruction).
    */
  private[graft] def trainedBooks(spark: SparkSession,
      dir: String): Seq[Seq[(Long, Array[Double])]] = {
    val base = quantizedBase(spark, dir)
    trainSubs(base)
  }

  def queries: Map[String, Q] = Map(
    // q170 [north star, r10]: PQ encode — train 4 subspace codebooks,
    // then compress every vector to 4 codes in one map pass.
    "q170_pq_encode" -> ((spark, dir) => {
      val base = quantizedBase(spark, dir)
      val books = trainSubs(base)
      encoded(base, books).orderBy("vec_id")
    }),

    // q171 [north star, r10]: ADC top-k — per gated probe, a driver-side
    // distance table (K doubles per subspace) broadcast as literals;
    // corpus side = 4 map lookups + a fixed-order add + per-probe top-k.
    "q171_pq_adc_topk" -> ((spark, dir) => {
      val base = quantizedBase(spark, dir)
      adcTopk(base, trainSubs(base), probeGateCol)
    }),

    // q173 [north star, r10]: IVF + ADC — the composed FAISS index
    // shape. A COARSE full-dimension quantizer (same exact Lloyd loop,
    // CoarseK cells) partitions the corpus; each probe scans only its
    // NProbe nearest cells' vectors with q171's ADC lookups. At 100 TB
    // the cell column is a partition key: a probe touches NProbe/CoarseK
    // of the corpus (here 1/4), and the scan still reads only code
    // columns. This is IVF-Flat over raw-vector PQ codes; production
    // IVF-PQ encodes RESIDUALS (x − cell centroid) for tighter tables —
    // residual centroids are rationals with per-cell denominators, so
    // the exact-integer recompute discipline doesn't carry; the
    // refinement needs tolerance-based verification at the same seam.
    "q173_ivf_adc" -> ((spark, dir) => {
      val base = quantizedBase(spark, dir)
      val (coarse, books) = trainCoarseAndSubs(base)
      ivfAdcTopk(base, coarse, books, probeGateCol)
    }),

    // q177 [north star, r11]: RESIDUAL IVF-PQ — true IVF-PQ encodes
    // `x − coarse_centroid(cell(x))` (Jégou TPAMI'11 §IV), not the raw
    // vector q173 quantizes: removing the coarse structure shrinks what
    // the subspace codebooks must cover, tightening reconstruction.
    // Residual centroids are rationals with per-cell denominators, so
    // the exact-integer oracle discipline cannot carry — verification
    // is the q168 self-validating stance: the EXACT half (cell
    // inventory from the coarse quantizer's unrolled chain) hashes
    // value-level, and the residual half is an in-plan verdict pinning
    // the refinement's one falsifiable promise — residual-PQ
    // reconstruction SSE strictly below whole-vector PQ's on the same
    // corpus, same K, same subspaces. The row goes red the day residual
    // encoding stops beating raw encoding (i.e. the refinement broke).
    "q177_residual_ivfpq" -> ((spark, dir) => {
      val base = quantizedBase(spark, dir)
      val (coarse, books) = trainCoarseAndSubs(base)
      residualIvfPq(base, coarse, books)
    }),

    // q192 [north star, r12]: INCREMENTAL IVF index maintenance — the
    // IVM discipline (q184/q186/q188/q190) applied to the ANN index,
    // the first operational question a production vector store faces:
    // vectors arrive and get deleted daily, and rebuilding the index is
    // the cost maintenance exists to avoid. The coarse quantizer is
    // FROZEN (q188's stance: retraining is a rebuild, not maintenance —
    // and the contract every stored code depends on); per-dump state =
    // the (vec_id, cell) assignment rows, computed map-only at ingest
    // against the frozen centroids; a point fix updates the per-cell
    // inventory (counts + min id + order-independent id-xor, q183's
    // checksum discipline) from signed state partials alone — no vector
    // is ever re-embedded or re-assigned. Oracle takes the other road:
    // the unrolled-Lloyd chain assigns the FULL corpus, then filters to
    // the final corpus and aggregates — hash match proves combine ≡
    // rescan. OperatorSpec freezes state to literal frames (the combine
    // provably reads no vector).
    "q192_ivf_state_incremental" -> ((spark, dir) => {
      val base = quantizedBase(spark, dir)
      val coarse = trainSlice(base, 1, SubSpaces * SubDim, CoarseK)
      val assigned = ivfAssign(base, coarse)
      def gate(prefix: String) =
        substring(md5(concat(lit(prefix), col("vec_id").cast("string"))), 1, 2)
      val old = assigned.filter(gate("idump:") < "cd")
      val removed = old.filter(gate("iretract:") < "10")
      val delta = assigned.filter(gate("idump:") >= "cd")
      combineIvfState(Seq((old, 1L), (removed, -1L), (delta, 1L)))
    }))

  /** The stored IVF assignment state a dump contributes: one map-only
    * pass against the FROZEN coarse centroids (literal broadcast), one
    * (vec_id, cell) row per vector — the index, never the vector.
    */
  private[graft] def ivfAssign(base: DataFrame,
      coarse: Seq[(Long, Array[Double])]): DataFrame =
    base.select(col("vec_id"),
      coalesce(ncStruct(transform(col("qvec"), _.cast("double")), coarse)
        .getField("cluster"), lit(-1L)).as("cell"))

  /** Combine signed per-dump assignment state into the final per-cell
    * inventory: net membership per (cell, vec_id), then counts + min id
    * + the order-independent id xor (incrementally maintainable for the
    * same reason q183's checksum is). Touches ONLY state rows.
    */
  private[graft] def combineIvfState(
      parts: Seq[(DataFrame, Long)]): DataFrame =
    parts.map { case (p, sgn) =>
      p.select(col("cell"), col("vec_id"), lit(sgn).as("w"))
    }.reduce(_ unionByName _)
      .groupBy(col("cell"), col("vec_id")).agg(sum(col("w")).as("net"))
      .filter(col("net") > 0L)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
        bit_xor(col("vec_id")).as("id_xor"))
      .orderBy("cell")

  /** q177's body: assign cells, form residuals, train residual subspace
    * codebooks with the same Lloyd discipline, then compare summed
    * reconstruction SSE (Σ subspace d2 of the chosen codeword — exactly
    * the quantization error) against whole-vector PQ's on the same
    * frame. One cached residual frame feeds the 4 trainings + the
    * verdict pass; per-cell counts are the exact-hashing output grain.
    */
  private[graft] def residualIvfPq(base: DataFrame,
      coarse: Seq[(Long, Array[Double])],
      books: Seq[Seq[(Long, Array[Double])]]): DataFrame = {
    val (withResid, residBooks) = residualParts(base, coarse)
    def sse(src: Column, bks: Seq[Seq[(Long, Array[Double])]]): Column =
      (0 until SubSpaces).map { m =>
        ncStruct(slice(src, m * SubDim + 1, SubDim), bks(m)).getField("d2")
      }.reduce(_ + _)
    val t = withResid.agg(
      sum(sse(col("xd"), books)).as("pq_sse"),
      sum(sse(col("resid"), residBooks)).as("ivf_sse")).collect()(0)
    val (pqSse, ivfSse) = (t.getDouble(0), t.getDouble(1))
    require(pqSse > 0.0 && ivfSse >= 0.0,
      s"degenerate reconstruction SSEs (pq=$pqSse, ivfpq=$ivfSse)")
    withResid.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("cell"), col("n_vecs"),
        lit(ivfSse < pqSse).as("mse_improved"))
      .orderBy("cell")
  }

  /** q177's shared internals: the cached residual frame (vec_id, xd,
    * cell, resid) and the four residual-trained subspace codebooks —
    * exposed so the recall fixture (OperatorSpec) can rebuild the
    * residual-ADC ranking and measure recall@k against brute force,
    * guaranteed to use the exact codebooks the registered query trains.
    */
  private[graft] def residualParts(base: DataFrame,
      coarse: Seq[(Long, Array[Double])])
      : (DataFrame, Seq[Seq[(Long, Array[Double])]]) = {
    val xd = transform(col("qvec"), _.cast("double"))
    val centMap = map_from_arrays(
      array(coarse.map(c => lit(c._1)): _*),
      array(coarse.map(c => array(c._2.map(lit): _*)): _*))
    val withResid = graft.CachePool.track(
      base.select(col("vec_id"), xd.as("xd"),
          coalesce(ncStruct(xd, coarse).getField("cluster"), lit(-1L))
            .as("cell"))
        .withColumn("resid",
          zip_with(col("xd"), element_at(centMap, col("cell")),
            (a, b) => a - b)))
    val residBooks = concurrently(SubSpaces)((0 until SubSpaces).map(m => () =>
      trainVecD(withResid.select(col("vec_id"),
        slice(col("resid"), m * SubDim + 1, SubDim).as("xd")), K)))
    (withResid, residBooks)
  }

  /** IVF-gated ADC: corpus rows carry their coarse cell; each probe's
    * broadcast row carries its NProbe nearest cells (driver-computed
    * with NearestCentroid's exact fold + (d2, cell) tie-break), and the
    * ADC join filters on cell membership before ranking.
    */
  private[graft] def ivfAdcTopk(base: DataFrame,
      coarse: Seq[(Long, Array[Double])],
      books: Seq[Seq[(Long, Array[Double])]], probePred: Column): DataFrame =
    adcCore(base, books, probePred, Some(coarse))

  /** The registered probe-workload gate (~3% of vec_ids). */
  private[graft] def probeGateCol: Column =
    substring(md5(concat(lit("pqprobe:"),
      col("vec_id").cast("string"))), 1, 2) >= ProbeGate

  /** q171's body with the probe predicate as a parameter — the scaling
    * bench's fixed-workload counterfactual reuses it (in deployment the
    * probe set is the query load, fixed-size while the corpus grows; the
    * registered gate grows WITH the fixture, a gate artifact).
    */
  private[graft] def adcTopk(base: DataFrame,
      books: Seq[Seq[(Long, Array[Double])]], probePred: Column): DataFrame =
    adcCore(base, books, probePred, None)

  /** The ONE ADC scan both q171 (no coarse gate) and q173 (IVF cells)
    * run — a single copy so the exactness-bearing pieces (the dt fold,
    * the 4-term add order, the (dd, vec_id) tie-break) cannot drift
    * between the two queries (r10 review finding). With `coarse` set,
    * corpus rows carry their cell, each probe its NProbe nearest cells,
    * and the ADC join filters on membership; without, the filter is
    * vacuously true (every row in the one implicit cell).
    */
  private def adcCore(base: DataFrame,
      books: Seq[Seq[(Long, Array[Double])]], probePred: Column,
      coarseOpt: Option[Seq[(Long, Array[Double])]]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    // the dt tuple columns and the 4-term ADC add below are spelled out
    // for SubSpaces = 4; a changed constant would otherwise compile and
    // silently sum only 4 of the subspace distances
    require(SubSpaces == 4,
      s"adcCore's dt/ADC expressions are written for 4 subspaces, got $SubSpaces")
    val probes = base
      .filter(probePred)
      .select(col("vec_id"), col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(probes.nonEmpty, "probe gate selected no vectors")
    require(probes.length <= MaxProbes,
      s"probe workload ${probes.length} exceeds MaxProbes=$MaxProbes — " +
        "ADC probes are bounded query state (driver-collected, dt-table " +
        "broadcast); a corpus-proportional probe set needs the batched " +
        "deployment gate, not a bigger collect")
    // NearestCentroid's exact fold + (d2, id) tie-break, driver-side —
    // the probe's nprobe cell short-list
    def nearestCells(qv: Array[Long], coarse: Seq[(Long, Array[Double])]): Seq[Long] = {
      val xd = qv.map(_.toDouble)
      var xdot = 0.0
      var i = 0
      while (i < xd.length) { xdot += xd(i) * xd(i); i += 1 }
      coarse.map { case (cid, c) =>
        var acc = 0.0; var cc = 0.0
        i = 0
        while (i < xd.length) { acc += xd(i) * c(i); cc += c(i) * c(i); i += 1 }
        ((xdot - 2.0 * acc) + cc, cid)
      }.sortBy(identity).take(NProbe).map(_._2)
    }
    // per probe × subspace: dt[j] = Σ_i (p_i − c_{j,i})², the exact
    // sequential fold the oracle mirrors; keyed by cluster id in a map
    // (ids need not be contiguous if a cluster emptied). cells = [0] in
    // the ungated mode, matching the constant cell below.
    val probeDt = probes.toSeq.map { case (pid, qv) =>
      val dts = (0 until SubSpaces).map { m =>
        books(m).map { case (cid, c) =>
          var s = 0.0; var i = 0
          while (i < SubDim) {
            val d = qv(m * SubDim + i).toDouble - c(i)
            s += d * d; i += 1
          }
          (cid, s)
        }.toMap
      }
      val cells = coarseOpt.map(nearestCells(qv, _)).getOrElse(Seq(0L))
      (pid, cells, dts(0), dts(1), dts(2), dts(3))
    }.toDF("p_id", "cells", "dt0", "dt1", "dt2", "dt3")
    // one projection carries codes AND the coarse cell (encoded() drops
    // qvec, so the cell argmin must ride the same select)
    val cellCol = coarseOpt match {
      case Some(coarse) => coalesce(
        ncStruct(transform(col("qvec"), _.cast("double")), coarse)
          .getField("cluster"), lit(-1L))
      case None => lit(0L)
    }
    val codes = encoded(base, books, Seq(cellCol.as("cell")))
    // dd is NULL exactly when a code is missing from its dt map — i.e.
    // the -1 emptied-cluster sentinel (or a codebook/encode drift). The
    // ranking window orders NULLS FIRST, so a NULL dd would silently
    // rank rk=1 for every probe instead of failing; raise instead
    // (raise-don't-drift, r10 ADVICE finding).
    val ddRaw = element_at(col("dt0"), col("code0")) +
      element_at(col("dt1"), col("code1")) +
      element_at(col("dt2"), col("code2")) +
      element_at(col("dt3"), col("code3"))
    val adc = codes.crossJoin(broadcast(probeDt))
      .filter(col("vec_id") =!= col("p_id") &&
        array_contains(col("cells"), col("cell")))
      .select(col("p_id"), col("vec_id"),
        when(ddRaw.isNull, raise_error(concat(
          lit("PQ ADC: vector "), col("vec_id").cast("string"),
          lit(" carries a code outside a probe's distance table " +
            "(emptied codebook cluster?) — refusing to rank")))
          .cast("double"))
          .otherwise(ddRaw).as("dd"))
    import org.apache.spark.sql.expressions.Window
    adc.withColumn("rk", row_number().over(
        Window.partitionBy(col("p_id")).orderBy(col("dd"), col("vec_id"))))
      .filter(col("rk") <= TopK)
      .select(col("p_id"), col("rk").cast("long").as("rk"), col("vec_id"))
      .orderBy("p_id", "rk")
  }

  // ---- oracle: the Lloyd loops unrolled (q91's mirror per slice) ----

  private def subQ(tag: String, from: Int, to: Int): String =
    s"""q$tag AS MATERIALIZED (SELECT vec_id, qvec[$from:$to] AS qsub,
       |  list_transform(qvec[$from:$to], v -> CAST(v AS DOUBLE)) AS xd
       |  FROM ${Similarity.qvecSql} z$tag)""".stripMargin

  private def dotD(a: String, b: String): String = Similarity.dot(a, b)

  private def aSql(tag: String, cents: String): String =
    s"""SELECT vec_id, cluster, d2 FROM (
       |  SELECT a.vec_id, c.cluster,
       |    (${dotD("a.xd", "a.xd")} - 2.0 * ${dotD("a.xd", "c.cvec")}
       |      + ${dotD("c.cvec", "c.cvec")}) AS d2,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      (${dotD("a.xd", "a.xd")} - 2.0 * ${dotD("a.xd", "c.cvec")}
       |        + ${dotD("c.cvec", "c.cvec")}), c.cluster) AS rk
       |  FROM q$tag a CROSS JOIN $cents c) t WHERE rk = 1""".stripMargin

  private def rSql(tag: String, assigned: String): String =
    s"""SELECT cluster,
       |  list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY pos) AS cvec
       |FROM (SELECT cluster, struct_extract(u, 'pos') AS pos,
       |        SUM(struct_extract(u, 'v')) AS s, COUNT(*) AS cnt
       |      FROM (SELECT a.cluster,
       |              unnest(list_transform(range(1, len(q$tag.qsub) + 1),
       |                i -> {'pos': i, 'v': q$tag.qsub[i]})) AS u
       |            FROM $assigned a JOIN q$tag ON q$tag.vec_id = a.vec_id) mm
       |      GROUP BY 1, 2) g
       |GROUP BY cluster""".stripMargin

  /** CTE chain for one codebook (tag, 1-based slice, k) ending in
    * fin_tag (vec_id, cluster) — subspace books and q173's coarse
    * quantizer share it.
    */
  private[graft] def chain(tag: String, from: Int, to: Int, k: Int): String =
    s"""${subQ(tag, from, to)},
       |c0_$tag AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
       |         xd AS cvec
       |       FROM (SELECT vec_id, xd FROM q$tag ORDER BY vec_id LIMIT $k) s),
       |a0_$tag AS MATERIALIZED (${aSql(tag, s"c0_$tag")}),
       |c1_$tag AS MATERIALIZED (${rSql(tag, s"a0_$tag")}),
       |a1_$tag AS MATERIALIZED (${aSql(tag, s"c1_$tag")}),
       |c2_$tag AS MATERIALIZED (${rSql(tag, s"a1_$tag")}),
       |fin_$tag AS MATERIALIZED (${aSql(tag, s"c2_$tag")})""".stripMargin

  private def chain(m: Int): String =
    chain(m.toString, m * SubDim + 1, (m + 1) * SubDim, K)

  private def codesCte: String = {
    val chains = (0 until SubSpaces).map(chain).mkString(",\n")
    val joins = (1 until SubSpaces)
      .map(m => s"JOIN fin_$m f$m USING (vec_id)").mkString(" ")
    s"""$chains,
       |codes AS MATERIALIZED (
       |  SELECT f0.vec_id,
       |    ${(0 until SubSpaces).map(m => s"f$m.cluster AS code$m").mkString(", ")}
       |  FROM fin_0 f0 $joins)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // q177: the exact half — per-cell corpus inventory from the coarse
    // quantizer's unrolled Lloyd chain (identical to q173's fifth
    // chain); the residual half hashes as the literal verdict (the
    // q19/q168 self-validating discipline — see the query comment for
    // what a red row means).
    "q177_residual_ivfpq" ->
      s"""WITH ${chain("c", 1, SubSpaces * SubDim, CoarseK)}
         |SELECT CAST(cluster AS BIGINT) AS cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs, TRUE AS mse_improved
         |FROM fin_c GROUP BY cluster ORDER BY cell""".stripMargin,
    // q192: the oracle assigns the FULL corpus with the same unrolled
    // Lloyd chain (the frozen quantizer), filters to the final corpus,
    // and aggregates per cell — the rescan road the engine's signed
    // state combine must agree with exactly.
    "q192_ivf_state_incremental" ->
      s"""WITH ${chain("c", 1, SubSpaces * SubDim, CoarseK)}
         |SELECT CAST(cluster AS BIGINT) AS cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(MIN(vec_id) AS BIGINT) AS min_vec,
         |  CAST(bit_xor(vec_id) AS BIGINT) AS id_xor
         |FROM fin_c
         |WHERE (substring(md5('idump:' || CAST(vec_id AS VARCHAR)), 1, 2) < 'cd'
         |       AND substring(md5('iretract:' || CAST(vec_id AS VARCHAR)), 1, 2) >= '10')
         |   OR substring(md5('idump:' || CAST(vec_id AS VARCHAR)), 1, 2) >= 'cd'
         |GROUP BY cluster ORDER BY cell""".stripMargin,
    "q170_pq_encode" ->
      s"""WITH $codesCte
         |SELECT vec_id,
         |  ${(0 until SubSpaces).map(m => s"CAST(code$m AS BIGINT) AS code$m").mkString(", ")}
         |FROM codes ORDER BY vec_id""".stripMargin,
    // q171: probe distance tables from the final centroids (the same
    // (p_i − c_i)² sequential fold), 4 keyed joins (one per subspace),
    // the SAME written-order 4-term add, rank by (distance, vec_id).
    "q171_pq_adc_topk" -> {
      val dts = (0 until SubSpaces).map { m =>
        s"""SELECT p.p_id, $m AS m, c.cluster,
           |  list_reduce(list_transform(range(1, ${SubDim + 1}),
           |    i -> (CAST(pq.qsub[i] AS DOUBLE) - c.cvec[i])
           |       * (CAST(pq.qsub[i] AS DOUBLE) - c.cvec[i])), (x, y) -> x + y) AS dtv
           |FROM probes p JOIN q$m pq ON pq.vec_id = p.p_id CROSS JOIN c2_$m c""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH $codesCte,
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS p_id FROM q0
         |  WHERE substring(md5('pqprobe:' || CAST(vec_id AS VARCHAR)), 1, 2) >= '$ProbeGate'),
         |dt AS MATERIALIZED ($dts),
         |adc AS (
         |  SELECT co.vec_id, p.p_id,
         |    ((d0.dtv + d1.dtv) + d2.dtv) + d3.dtv AS dd
         |  FROM codes co CROSS JOIN probes p
         |  JOIN dt d0 ON d0.p_id = p.p_id AND d0.m = 0 AND d0.cluster = co.code0
         |  JOIN dt d1 ON d1.p_id = p.p_id AND d1.m = 1 AND d1.cluster = co.code1
         |  JOIN dt d2 ON d2.p_id = p.p_id AND d2.m = 2 AND d2.cluster = co.code2
         |  JOIN dt d3 ON d3.p_id = p.p_id AND d3.m = 3 AND d3.cluster = co.code3
         |  WHERE co.vec_id <> p.p_id),
         |rk AS (SELECT p_id, vec_id,
         |         row_number() OVER (PARTITION BY p_id ORDER BY dd, vec_id) AS rk
         |       FROM adc)
         |SELECT p_id, CAST(rk AS BIGINT) AS rk, vec_id
         |FROM rk WHERE rk <= $TopK ORDER BY p_id, rk""".stripMargin
    },
    // q173: the q171 oracle plus a fifth chain (tag "c", whole vector,
    // CoarseK) — corpus cells from fin_c, each probe's NProbe nearest
    // cells ranked by the same assign-d2 expression, and the ADC join
    // additionally keyed on cell membership.
    "q173_ivf_adc" -> {
      val dim = SubSpaces * SubDim
      val dts = (0 until SubSpaces).map { m =>
        s"""SELECT p.p_id, $m AS m, c.cluster,
           |  list_reduce(list_transform(range(1, ${SubDim + 1}),
           |    i -> (CAST(pq.qsub[i] AS DOUBLE) - c.cvec[i])
           |       * (CAST(pq.qsub[i] AS DOUBLE) - c.cvec[i])), (x, y) -> x + y) AS dtv
           |FROM probes p JOIN q$m pq ON pq.vec_id = p.p_id CROSS JOIN c2_$m c""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH $codesCte,
         |${chain("c", 1, dim, CoarseK)},
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS p_id FROM q0
         |  WHERE substring(md5('pqprobe:' || CAST(vec_id AS VARCHAR)), 1, 2) >= '$ProbeGate'),
         |pcells AS MATERIALIZED (
         |  SELECT p_id, cluster AS cell FROM (
         |    SELECT p.p_id, c.cluster,
         |      row_number() OVER (PARTITION BY p.p_id ORDER BY
         |        (${dotD("pq.xd", "pq.xd")} - 2.0 * ${dotD("pq.xd", "c.cvec")}
         |          + ${dotD("c.cvec", "c.cvec")}), c.cluster) AS rk
         |    FROM probes p JOIN qc pq ON pq.vec_id = p.p_id
         |    CROSS JOIN c2_c c) t WHERE rk <= $NProbe),
         |dt AS MATERIALIZED ($dts),
         |adc AS (
         |  SELECT co.vec_id, p.p_id,
         |    ((d0.dtv + d1.dtv) + d2.dtv) + d3.dtv AS dd
         |  FROM codes co
         |  JOIN fin_c fc ON fc.vec_id = co.vec_id
         |  CROSS JOIN probes p
         |  JOIN pcells pc ON pc.p_id = p.p_id AND pc.cell = fc.cluster
         |  JOIN dt d0 ON d0.p_id = p.p_id AND d0.m = 0 AND d0.cluster = co.code0
         |  JOIN dt d1 ON d1.p_id = p.p_id AND d1.m = 1 AND d1.cluster = co.code1
         |  JOIN dt d2 ON d2.p_id = p.p_id AND d2.m = 2 AND d2.cluster = co.code2
         |  JOIN dt d3 ON d3.p_id = p.p_id AND d3.m = 3 AND d3.cluster = co.code3
         |  WHERE co.vec_id <> p.p_id),
         |rnk AS (SELECT p_id, vec_id,
         |         row_number() OVER (PARTITION BY p_id ORDER BY dd, vec_id) AS rk
         |       FROM adc)
         |SELECT p_id, CAST(rk AS BIGINT) AS rk, vec_id
         |FROM rnk WHERE rk <= $TopK ORDER BY p_id, rk""".stripMargin
    })
}
