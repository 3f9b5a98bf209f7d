package graft

import org.apache.spark.sql.SparkSession

/** Driver-mimic smoke: a PLAIN session (none of [[GraftSession.local]]'s
  * confs) calling SparkEntry.entry, exactly like the driver's rows>0 check.
  * It deliberately does not use GraftSession: the driver hands the library
  * a bare session, and this main exists to exercise that path (Tables'
  * runtime conf-set included).
  */
object SmokeCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // r15 verdict #7: WARN spam
    // (WindowExec partition warnings) floods the driver scrape tails
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"SMOKE entry rows=$n schema=${df.schema.simpleString}")
    df.show(3, truncate = false)
    // also drive two queries through the public map, like the driver does
    Seq("q39_tumbling_window", "q46_minhash_neardup").foreach { q =>
      val r = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      println(s"SMOKE $q rows=$r")
    }
    println(s"SMOKE oracleSql entries=${SparkEntry.oracleSql.size} queries=${SparkEntry.queries.size}")
    spark.stop()
    System.out.flush()
    sys.exit(0) // wire stubs' non-daemon HttpServer thread must not pin the JVM
  }
}
