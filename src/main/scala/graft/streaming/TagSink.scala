package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.AnsModel.Tag

/** The streaming sink of [[TagPipeline.start]]: `addBatch` hands the
  * micro-batch the engine planned to [[TagPipeline.enrichAndUpsert]],
  * which reads the ids straight off the batch's own RDD. See
  * [[TagPipeline]] for why this is not `foreachBatch`.
  *
  * The options are the pipeline's wiring, set by [[TagPipeline]] only:
  * the store's registry key and the tag's two fields.
  */
class TagSinkProvider extends StreamSinkProvider {
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new TagSink(parameters("storeKey"),
      Tag(parameters("tagSlug"), parameters("tagText")))
}

private class TagSink(storeKey: String, tag: Tag) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit =
    TagPipeline.enrichAndUpsert(storeKey, tag)(data)

  override def toString: String = s"TagSink[$storeKey]"
}

object TagSinkProvider {

  /** The sink's options for one pipeline. */
  private[streaming] def options(storeKey: String, tag: Tag): Map[String, String] =
    Map("storeKey" -> storeKey, "tagSlug" -> tag.slug, "tagText" -> tag.text)
}
