package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Payload codec: the reference's record decode stage.
  *
  * Reference behavior being modeled (see SURVEY.md §0 step 2):
  *  - each Kinesis record payload is gzip-compressed UTF-8 JSON
  *    (reference `app.py:36`, `app.py:41`);
  *  - a decode failure must NOT fail the batch — the reference logs and
  *    continues (`app.py:35-38`), so our decode returns null for corrupt
  *    input and the row is preserved with a null marker.
  */
object Codec {

  private[graft] def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  private[graft] def gunzipBytes(zipped: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(zipped))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** gzip-compress a string column as a native expression — the producer
    * side of the wire codec (tests + q02's round-trip). An Expression
    * rather than a `udf(...)`: the UDF wrapper copies every UTF8String
    * into a java.lang.String and pays the invocation layer per row; this
    * reads the backing bytes directly.
    */
  case class GzipBytes(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any =
      gzipBytes(input.asInstanceOf[UTF8String].getBytes)
    override protected def withNewChildInternal(c: Expression): GzipBytes = copy(c)
    override def prettyName: String = "gzip_bytes"
  }

  /** Column API for [[GzipBytes]]. */
  def gzip(c: Column): Column = toColumn(GzipBytes(toExpression(c)))

  /** Error-tolerant gunzip as a native Catalyst expression.
    *
    * Decode failure => null (row survives, `app.py:37-38` semantics).
    * Keeping it an Expression (vs a Scala UDF) avoids the UDF
    * serialization wrapper and keeps null-handling in the planner.
    *
    * It is a `CodegenFallback`, and that costs more than a virtual call:
    * `CollapseCodegenStages` refuses whole-stage codegen for any operator
    * holding a non-leaf `CodegenFallback`. `from_json` (`JsonToStructs`)
    * is one too in Spark 4.1, so the decode `Project` runs unfused either
    * way, and every task generates an `UnsafeProjection` for it: 19% of
    * the task threads' samples in a JFR profile of the tag pipeline
    * (`tag_live_mem`, 4 cores), inside the 37% spent generating code.
    */
  case class GunzipToString(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      try {
        val bytes = input.asInstanceOf[Array[Byte]]
        UTF8String.fromBytes(gunzipBytes(bytes))
      } catch { case _: Exception => null }
    }
    override protected def withNewChildInternal(c: Expression): GunzipToString = copy(c)
    override def prettyName: String = "gunzip_to_string"
  }

  /** Column API for [[GunzipToString]]. */
  def gunzip(c: Column): Column = toColumn(GunzipToString(toExpression(c)))
}
