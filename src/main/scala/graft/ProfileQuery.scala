package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.GraftSession.{checksum, sample}

/** r17 optimization tooling: run ONE query under the bench's exact
  * session shape with a stage listener, and print a per-stage time
  * breakdown (wall-clock submit→complete, task-time sum, shuffle bytes,
  * task count, and the first line of the stage's call site) so the
  * expensive stage of a multi-second query is identified from DATA, not
  * guesses (guide §1.1/§7.1 — the UI is disabled here, so this is the
  * stage page in text form).
  *
  *   sbt "runMain graft.ProfileQuery <sfDir> <query> [samples]"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = GraftSession.main { spark =>
    val sfDir = args(0)
    val name = args(1)
    val samples = if (args.length > 2) args(2).toInt else 2
    System.setProperty(graft.operators.Footer.LayoutMemoProp, "true")
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())

    case class StageRec(id: Int, name: String, tasks: Int,
        wallMs: Long, taskMs: Long, shufRead: Long, shufWrite: Long,
        inBytes: Long)
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        val m = si.taskMetrics
        stages += StageRec(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    }

    (1 to samples).foreach { s =>
      stages.clear()
      CachePool.memoClear()
      spark.sparkContext.addSparkListener(listener)
      val t = sample(SparkEntry.queries(name)(spark, sfDir))(checksum)
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let late stage-completed events drain
      println(s"[profile] sample $s: $name total " +
        t.fold("failed")(v => f"$v%.3f s") + s", ${stages.size} stages")
      stages.sortBy(-_.wallMs).take(25).foreach { r =>
        println(f"[profile]   stage ${r.id}%4d wall=${r.wallMs}%6d ms " +
          f"taskSum=${r.taskMs}%7d ms tasks=${r.tasks}%3d " +
          f"in=${r.inBytes / 1024}%7d KB sr=${r.shufRead / 1024}%7d KB " +
          f"sw=${r.shufWrite / 1024}%6d KB  ${r.name.take(80)}%s")
      }
      val wallSum = stages.map(_.wallMs).sum
      println(f"[profile] stage wall sum ${wallSum / 1000.0}%.3f s" +
        t.fold("")(v => f" (gaps = driver/planning time: ${v - wallSum / 1000.0}%.3f s)"))
    }
  }
}
