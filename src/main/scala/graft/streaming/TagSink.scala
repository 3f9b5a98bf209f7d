package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

/** The streaming sink of [[TagPipeline.start]]: `addBatch` hands the
  * micro-batch the engine planned to [[TagPipeline.enrichAndUpsert]],
  * which reads the ids straight off the batch's own RDD. See
  * [[TagPipeline]] for why this is not `foreachBatch`.
  *
  * The one option, `storeKey`, is the pipeline's wiring, set by
  * [[TagPipeline]] only: the store's registry key.
  */
class TagSinkProvider extends StreamSinkProvider {
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new TagSink(parameters("storeKey"))
}

private class TagSink(storeKey: String) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit =
    TagPipeline.enrichAndUpsert(storeKey)(data)

  override def toString: String = s"TagSink[$storeKey]"
}
