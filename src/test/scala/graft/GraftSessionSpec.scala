package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The timed-sample path every bench main shares: a failed sample is
  * never timed and leaves no cached frame behind.
  */
class GraftSessionSpec extends SparkSpec {

  test("sample: a builder that throws gives None and leaves none of its tracked frames persisted") {
    var tracked: DataFrame = null
    var levelInside: StorageLevel = null
    val t = GraftSession.sample {
      tracked = CachePool.track(spark.range(100).toDF("x"))
      tracked.count()
      levelInside = tracked.storageLevel
      throw new IllegalStateException("builder failed")
    }(GraftSession.checksum)
    assert(t.isEmpty, "a failed sample must not be timed")
    assert(levelInside.useMemory, "the frame was cached inside the scope")
    assert(tracked.storageLevel == StorageLevel.NONE,
      "the scope must release the failed builder's frames")
  }

  test("sample: a builder that succeeds gives a positive time") {
    val t = GraftSession.sample(spark.range(1000).toDF("x"))(GraftSession.checksum)
    assert(t.exists(_ > 0), s"got $t")
  }
}
