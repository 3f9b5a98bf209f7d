package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.AnsModel.Tag

/** The streaming sink of [[TagPipeline.start]] and
  * [[TagPipeline.startRaw]]: `addBatch` hands the micro-batch the engine
  * planned to [[TagPipeline.enrichAndUpsert]] (or its raw twin), which
  * reads the ids straight off the batch's own RDD. See [[TagPipeline]]
  * for why this is not `foreachBatch`.
  *
  * The options are the pipeline's wiring, set by [[TagPipeline]] only:
  * the store's registry key, `raw`, `exactlyOnce`, the run namespace and
  * the tag's two fields.
  */
class TagSinkProvider extends StreamSinkProvider {
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new TagSink(parameters("storeKey"), parameters("raw").toBoolean,
      Tag(parameters("tagSlug"), parameters("tagText")),
      parameters("exactlyOnce").toBoolean, parameters("runNs"))
}

private class TagSink(storeKey: String, raw: Boolean, tag: Tag,
    exactlyOnce: Boolean, runNs: String) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit =
    if (raw) TagPipeline.enrichAndUpsertRaw(storeKey, tag, exactlyOnce, runNs)(data, batchId)
    else TagPipeline.enrichAndUpsert(storeKey, tag, exactlyOnce, runNs)(data, batchId)

  override def toString: String =
    s"TagSink[${if (raw) "raw " else ""}$storeKey]"
}

object TagSinkProvider {

  /** The sink's options for one pipeline. */
  private[streaming] def options(storeKey: String, raw: Boolean, tag: Tag,
      exactlyOnce: Boolean, runNs: String): Map[String, String] = Map(
    "storeKey" -> storeKey, "raw" -> raw.toString, "tagSlug" -> tag.slug,
    "tagText" -> tag.text, "exactlyOnce" -> exactlyOnce.toString,
    "runNs" -> runNs)
}
