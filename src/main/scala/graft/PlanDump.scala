package graft

/** Optimization-round tooling: dump `.explain("formatted")` for the
  * named queries to `<outDir>/<query>_<tag>.txt` — the before/after plan
  * artifacts of an optimization round (e.g. `plans/r18`). Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <tag> q216_image_neardup,q233_..."
  *
  * Reads nothing the bench does not; plans only — though queries whose
  * CONSTRUCTION executes eager seams (the funnel's localCheckpoints,
  * the iterative contractions) do run those jobs while planning.
  */
object PlanDump {
  def main(args: Array[String]): Unit = GraftSession.main { spark =>
    val Array(sfDir, outArg, tag, queries) = args
    val names = queries.split(",").map(_.trim).filter(_.nonEmpty)
    System.setProperty(graft.operators.Footer.LayoutMemoProp, "true")
    val outDir = java.nio.file.Paths.get(outArg)
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${n}_$tag.txt"), txt)
      println(s"[plandump] wrote ${n}_$tag.txt (${txt.length} chars)")
    }
  }
}
