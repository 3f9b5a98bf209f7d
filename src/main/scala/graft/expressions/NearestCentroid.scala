package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Argmin-over-centroids for the k-means assignment step: returns
  * `struct(d2: double, cluster: bigint)` — the squared distance to, and
  * the id of, the nearest centroid of a LITERAL centroid matrix.
  *
  * Exists because the expression-tree alternative — `least()` over k
  * struct candidates, each with its own dot-against-a-64-double-literal —
  * generates code (and an interpreted-eval fallback path) whose size
  * grows with k·dim: at the k=8 registered queries it codegens fine, but
  * at the SemDeDup scale policy (k ∝ n; k=80 on a 10× corpus, see
  * BASELINE.md's scaling rows) the generated method blows past JIT
  * limits and a single map-only assignment pass measured ~14 s for
  * 50k×80×64 ≈ 256M multiply-adds (~100× below compiled-loop speed).
  * This expression is the same arithmetic as a compact double loop over
  * a reference-object matrix: codegen size is CONSTANT in k, and the
  * matrix lives once per executor instead of being re-parsed as k
  * literal arrays.
  *
  * Determinism contract (bit-identical to the least()-chain it replaces,
  * and to the DuckDB oracle's `row_number() OVER (ORDER BY d2, cluster)`
  * unrolled-Lloyd mirror — see Similarity.kmAssignSql):
  *  - d2_j = (x·x − 2·x·c_j) + cc_j, every dot a LEFT-TO-RIGHT
  *    sequential fold into a double accumulator (the VecDot order);
  *    cc_j is precomputed on the driver in the same fold order;
  *  - x·x is computed ONCE per row then reused across candidates,
  *    exactly like the hoisted `xdot` column in the chain form;
  *  - candidates are scanned in ascending cluster-id order with a
  *    STRICT `<`, so ties keep the lowest id — `least()`'s
  *    lexicographic (d2, cluster) rule. d2 is never NaN/−0.0 here
  *    (integer-quantized inputs, non-negative self-dots), so Java `<`
  *    and Spark's double ordering agree on every comparison made.
  *
  * `ids` carries the surviving cluster ids (a cluster that loses every
  * member drops out between Lloyd iterations), parallel to `cents` rows.
  */
case class NearestCentroid(
    child: Expression,
    ids: Array[Long],
    cents: Array[Array[Double]],
    selfDots: Array[Double])
    extends UnaryExpression {

  require(ids.length == cents.length && ids.length == selfDots.length &&
    ids.length > 0, "ids/cents/selfDots must be parallel and non-empty")

  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cluster", LongType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid needs array<double>, got ${dt.sql}")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val d = x.numElements()
    var xdot = 0.0
    var i = 0
    while (i < d) { val xi = x.getDouble(i); xdot += xi * xi; i += 1 }
    var best = Double.PositiveInfinity
    var bj = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var acc = 0.0
      i = 0
      while (i < d) { acc += x.getDouble(i) * c(i); i += 1 }
      val d2 = (xdot - 2.0 * acc) + selfDots(j)
      if (d2 < best) { best = d2; bj = j }
      j += 1
    }
    new GenericInternalRow(Array[Any](best, ids(bj)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("ncCents", cents, "double[][]")
      val cc = ctx.addReferenceObj("ncSelfDots", selfDots, "double[]")
      val id = ctx.addReferenceObj("ncIds", ids, "long[]")
      val d = ctx.freshName("ncD")
      val xdot = ctx.freshName("ncXdot")
      val best = ctx.freshName("ncBest")
      val bj = ctx.freshName("ncBj")
      val i = ctx.freshName("ncI")
      val j = ctx.freshName("ncJ")
      val c = ctx.freshName("ncC")
      val acc = ctx.freshName("ncAcc")
      val d2 = ctx.freshName("ncD2")
      s"""
         |int $d = $a.numElements();
         |double $xdot = 0.0;
         |for (int $i = 0; $i < $d; $i++) {
         |  double ncXi = $a.getDouble($i);
         |  $xdot += ncXi * ncXi;
         |}
         |double $best = Double.POSITIVE_INFINITY;
         |int $bj = 0;
         |for (int $j = 0; $j < $m.length; $j++) {
         |  double[] $c = $m[$j];
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $acc += $a.getDouble($i) * $c[$i];
         |  }
         |  double $d2 = ($xdot - 2.0 * $acc) + $cc[$j];
         |  if ($d2 < $best) { $best = $d2; $bj = $j; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ Double.valueOf($best), Long.valueOf($id[$bj]) });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCentroid = copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}
