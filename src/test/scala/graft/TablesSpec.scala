package graft

import java.nio.file.{Files, Path => JPath}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.AnalysisException

/** `Tables.apply`, and `Footer.executePruned`'s scans of the unit files a
  * query has written, read each schema from a parquet footer on the
  * driver: no Spark job, the schema Spark's own inference gives, and the
  * same errors in the same place.
  */
class TablesSpec extends SparkSpec {

  test("Tables.apply starts no job and gives the inferred schema, every table at sf0.001, sf0.01 and sf0.1") {
    for (sf <- Seq("0.001", "0.01", "0.1"); t <- Tables.all) {
      val dir = s"${new java.io.File(Sf).getParent}/sf$sf"
      val path = s"$dir/$t.parquet"
      val (df, jobs, _) = startedBy(Tables(spark, dir, t))
      assert(jobs == 0, s"Tables($dir, $t) started $jobs job(s)")
      // the reference: Spark's own inference, under the confs Tables set
      val inferred = spark.read.parquet(path)
      val expected = if (t == "events") Tables.normalizeEventsTs(inferred) else inferred
      assert(df.schema == expected.schema, s"$t at sf$sf")
    }
  }

  test("a Spark-written multi-part directory: same schema as inference, summaries first, hidden files skipped, no job") {
    import org.apache.spark.sql.functions._
    withTempDir("tables-dir-") { tmp =>
      val root = java.nio.file.Paths.get(tmp)
      // several part files beside _SUCCESS and .crc side files; `id` is
      // non-nullable in the file, nullable in any read of it
      val dir = root.resolve("parts").toString
      spark.range(0, 100, 1, 3)
        .select(col("id"), col("id").cast("string").as("s"),
          array(col("id")).as("a"), map(col("id").cast("string"), col("id")).as("m"))
        .write.parquet(dir)
      val names = new java.io.File(dir).list().toSeq
      assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
        names.count(_.endsWith(".parquet")) >= 2, names)
      val (read, jobs, _) = startedBy(spark.read.schema(Tables.footerSchema(spark, dir)).parquet(dir))
      assert(jobs == 0)
      assert(read.schema == spark.read.parquet(dir).schema)
      assert(read.count() == 100)

      // the file choice, pinned against Spark's: a summary file wins over
      // the data files, `_common_metadata` over `_metadata`; `_`/`.` names
      // are never read (each copy below carries a distinct schema)
      def one(name: String, df: org.apache.spark.sql.DataFrame): JPath = {
        val d = root.resolve(name).toString
        df.coalesce(1).write.parquet(d)
        Files.list(java.nio.file.Paths.get(d)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
      }
      val data = one("data", spark.range(3).select(col("id").as("data_col")))
      val meta = one("meta", spark.range(3).select(col("id").as("meta_col")))
      val common = one("common", spark.range(3).select(col("id").as("common_col")))
      val other = one("other", spark.range(3).select(col("id").as("hidden_col")))
      val pick = root.resolve("pick")
      Files.createDirectories(pick.resolve("k=1"))
      Files.copy(data, pick.resolve("k=1").resolve("part-1.parquet"))
      Files.copy(other, pick.resolve("_a.parquet"))
      Files.copy(other, pick.resolve(".b.parquet"))
      def agrees(expect: String): Unit = {
        val s = Tables.footerSchema(spark, pick.toString)
        assert(s.fieldNames.toSeq == Seq(expect))
        // Spark appends the partition column to a given schema as it
        // does to an inferred one
        assert(spark.read.schema(s).parquet(pick.toString).schema ==
          spark.read.parquet(pick.toString).schema)
        assert(spark.read.parquet(pick.toString).schema.fieldNames.head == expect)
      }
      agrees("data_col")
      Files.copy(meta, pick.resolve("_metadata"))
      agrees("meta_col")
      Files.copy(common, pick.resolve("_common_metadata"))
      agrees("common_col")
    }
  }

  test("a missing table, a file that is not parquet and an empty directory fail inside Tables.apply, naming the path") {
    withTempDir("tables-bad-") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      val missing = intercept[AnalysisException](Tables(spark, dir.toString, "absent"))
      assert(missing.getCondition == "PATH_NOT_FOUND")
      assert(missing.getMessage.contains(s"$dir/absent.parquet"), missing.getMessage)

      Files.writeString(dir.resolve("text.parquet"), "not a parquet file\n")
      val notParquet = intercept[SparkException](Tables(spark, dir.toString, "text"))
      assert(notParquet.getCondition == "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER")
      assert(notParquet.getMessage.contains(s"$dir/text.parquet"), notParquet.getMessage)

      // a directory holding only hidden files has nothing to infer from
      Files.createDirectories(dir.resolve("empty.parquet"))
      Files.writeString(dir.resolve("empty.parquet").resolve("_SUCCESS"), "")
      val empty = intercept[AnalysisException](Tables(spark, dir.toString, "empty"))
      assert(empty.getCondition == "UNABLE_TO_INFER_SCHEMA")
      // Spark's own inference fails the same way on each
      for ((name, cond) <- Seq("absent" -> "PATH_NOT_FOUND",
          "empty" -> "UNABLE_TO_INFER_SCHEMA")) {
        val e = intercept[Exception](spark.read.parquet(s"$dir/$name.parquet"))
        assert(e.asInstanceOf[SparkThrowable].getCondition == cond)
      }
    }
  }

  test("Footer.executePruned builds its pruned and full scans without a job, with the schema inference gives") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Footer
    val docs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val tag = s"tables_spec_${UUID.randomUUID()}"
    try {
      val units = Footer.writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
        tag, 64L)
      val paths = units.map(_.path)
      // few enough files that Spark lists them on the driver, so only a
      // schema inference could start a job while the scans are built
      assert(units.size >= 2 && units.size <= 32, s"${units.size} units")
      val preds = Footer.prunePredicates
      assert(preds.exists { case (_, keep, _) => units.exists(keep) },
        "no predicate keeps a unit: every pruned scan would be the empty one")
      val (out, jobs, _) = startedBy(Footer.executePruned(spark, "tables-spec", units,
        Seq("doc_id", "source", "lang", "n_chars"), preds))
      assert(jobs == 0, s"building the scans started $jobs job(s)")
      val inferred = spark.read.parquet(paths: _*)
      assert(spark.read.schema(Tables.footerSchema(spark, paths.head))
        .parquet(paths: _*).schema == inferred.schema)
      // and the scans match what Spark's own inferring read matches
      val matched = out.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
      for ((name, _, pred) <- preds)
        assert(matched(name) == inferred.filter(pred).count(), name)
    } finally rm(java.nio.file.Paths.get(Footer.layoutDirFor(tag)))
  }
}
