package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextOps, VectorOps}

/** Bit-parity guards for the custom codegen expressions against the
  * higher-order-function formulations they replaced. The DuckDB oracle
  * SQL still mirrors the HOF form, so these equalities are precisely what
  * keeps the oracle valid: VecDot must equal the sequential
  * aggregate(zip_with) fold BIT-FOR-BIT, and ShingleHashes must produce
  * exactly xxhash64(concat_ws(' ', ...)) over the same n-grams.
  */
class ExpressionParitySpec extends SparkSpec {
  import spark.implicits._

  test("VecDot == aggregate(zip_with) fold, bit-for-bit, on random float vectors") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map { _ =>
      val n = 1 + rnd.nextInt(96)
      (Seq.fill(n)(rnd.nextFloat() * 2 - 1), Seq.fill(n)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val diffs = df.select(
        VectorOps.dot(col("a"), col("b")).as("fast"), hofDot.as("ref"))
      .filter(col("fast") =!= col("ref")) // exact double equality
      .count()
    assert(diffs == 0)
  }

  test("VecDot integer mode == aggregate(zip_with) long fold, exactly") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 300).map { _ =>
      val n = 1 + rnd.nextInt(96)
      (Seq.fill(n)((rnd.nextInt(255) - 127).toLong),
        Seq.fill(n)((rnd.nextInt(255) - 127).toLong))
    }
    val df = rows.toDF("a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val got = df.select(VectorOps.dot(col("a"), col("b")).as("fast"),
      hofDot.as("ref"))
    assert(got.schema("fast").dataType ==
      org.apache.spark.sql.types.LongType,
      "long × long dot must stay BIGINT")
    assert(got.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("VecDot on mismatched lengths → null, like the fold's null-padded sum") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"),
        col("b").cast("array<float>").as("b"))
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val row = df.select(VectorOps.dot(col("a"), col("b")).as("fast"),
      hofDot.as("ref")).head
    assert(row.isNullAt(0), "VecDot must be null on length mismatch")
    assert(row.isNullAt(1), "zip_with reference is null too — same contract")
  }

  test("FingerprintHash == the aggregate(split/ascii) rolling fold, bit-for-bit") {
    val rnd = new scala.util.Random(19)
    val texts = (1 to 200).map(_ =>
      Seq.fill(rnd.nextInt(40))((rnd.nextInt(26) + 'a').toChar).mkString) :+
      "" :+ "a" :+ "hello world 123"
    val df = texts.toDF("text")
    val hofFp = aggregate(
      filter(split(col("text"), ""), c => c =!= ""),
      lit(0L),
      (h, c) => (h * lit(31L) + ascii(c).cast("long")) % lit(1000000007L))
    val diffs = df.select(
        TextOps.fingerprint(col("text")).as("fast"), hofFp.as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diffs == 0)
  }

  test("SimHash64 == the 64 per-bit aggregate(xxhash64) folds, bit-for-bit") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val texts = (1 to 150).map(_ =>
      Seq.fill(1 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val df = texts.toDF("text")
      .select(array_distinct(split(col("text"), " ")).as("toks"))
    def bitVote(j: Int) = aggregate(col("toks"), lit(0L),
      (acc, t) => acc +
        shiftrightunsigned(xxhash64(t), j).bitwiseAND(lit(1L)) * 2L - 1L)
    val hofSim = (0 until 64).map { j =>
      when(bitVote(j) > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << j)
    }.reduce(_ + _)
    val diffs = df.select(
        TextOps.simhash(col("toks")).as("fast"), hofSim.as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diffs == 0)
  }

  test("JaccardSim == the array_intersect formula, bit-for-bit, dupes and empties included") {
    val rnd = new scala.util.Random(23)
    // random long arrays, deliberately including duplicates (nextInt(8)
    // values collide often), empty arrays, and the both-empty row whose
    // 0/0 must be null under both forms
    val rows = (1 to 300).map { _ =>
      def arr = Seq.fill(rnd.nextInt(12))(rnd.nextInt(8).toLong)
      (arr, arr)
    } :+ ((Seq.empty[Long], Seq.empty[Long]))
    val df = rows.toDF("a", "b")
    val ref = size(array_intersect(col("a"), col("b"))).cast("double") /
      (size(col("a")) + size(col("b")) -
        size(array_intersect(col("a"), col("b")))).cast("double")
    val diffs = df.select(
        TextOps.jaccard(col("a"), col("b")).as("fast"), ref.as("ref"))
      .filter(col("fast") =!= col("ref") ||
        (col("fast").isNull =!= col("ref").isNull))
      .count()
    assert(diffs == 0)
  }

  test("ShingleHashes == xxhash64(concat_ws) over transform/sequence n-grams") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val texts = (1 to 200).map(_ =>
      Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = texts.toDF("text").select(split(col("text"), " ").as("ws"))
    val n = 3
    val hof = array_distinct(transform(
      sequence(lit(0), size(col("ws")) - n),
      i => xxhash64(concat_ws(" ",
        (1 to n).map(k => element_at(col("ws"), i + k)): _*))))
    val ref = when(size(col("ws")) >= n, hof)
      .otherwise(array().cast("array<bigint>"))
    val diffs = df.select(
        TextOps.shingleHashes(col("ws"), n).as("fast"), ref.as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diffs == 0)
  }

  test("ShingleHashes positional mode keeps every position, in order") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val texts = (1 to 200).map(_ =>
      Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = texts.toDF("text").select(split(col("text"), " ").as("ws"))
    val n = 3
    // reference: the raw (non-deduplicated) transform/sequence pipeline
    val hof = transform(
      sequence(lit(0), size(col("ws")) - n),
      i => xxhash64(concat_ws(" ",
        (1 to n).map(k => element_at(col("ws"), i + k)): _*)))
    val ref = when(size(col("ws")) >= n, hof)
      .otherwise(array().cast("array<bigint>"))
    val diffs = df.select(
        TextOps.shingleHashesAll(col("ws"), n).as("fast"), ref.as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diffs == 0)
  }

  test("NearestCentroid == the least()-of-struct-candidates chain, bit-for-bit, ties to lowest id") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rnd = new scala.util.Random(23)
    val dim = 16
    // integer-valued doubles: the quantized domain the assignment runs on
    // (also what makes the planted-tie d2 an exact 0.0)
    def vec(): Array[Double] = Array.fill(dim)((rnd.nextInt(9) - 4).toDouble)
    val cents: Array[Array[Double]] = Array.fill(7)(vec())
    cents(5) = cents(2).clone() // duplicate centroid → exact d2 ties
    val ids = Array.tabulate(7)(j => j.toLong * 3 + 1) // ascending, non-contiguous
    def selfDot(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }
    val selfDots = cents.map(selfDot)
    // random rows plus every centroid itself, so the duplicated centroid's
    // tie (d2 = 0 at BOTH copies) is actually exercised
    val rows = (1 to 400).map(_ => vec().toSeq) ++ cents.map(_.toSeq)
    val df = rows.map(Tuple1(_)).toDF("x")
    val fast = toColumn(graft.expressions.NearestCentroid(
      toExpression(col("x")), ids, cents, selfDots))
    // the chain form this expression replaced: hoisted x·x, one
    // aggregate(zip_with) dot per candidate, least() lexicographic on
    // (d2, cluster)
    val xd = aggregate(col("x"), lit(0.0), (a, v) => a + v * v)
    val cands = cents.indices.map { j =>
      val dot = aggregate(
        zip_with(col("x"), typedlit(cents(j).toSeq), (a, b) => a * b),
        lit(0.0), (acc, v) => acc + v)
      struct(((col("xd") - lit(2.0) * dot) + lit(selfDots(j))).as("d2"),
        lit(ids(j)).as("cluster"))
    }
    val collected = df.withColumn("xd", xd)
      .select(col("x"), fast.as("fast"), least(cands: _*).as("ref"))
      .collect()
    assert(collected.length == rows.length)
    // interpreted-eval twin of the codegen'd plan path
    val interp = graft.expressions.NearestCentroid(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      ids, cents, selfDots)
    collected.foreach { r =>
      val f = r.getStruct(1)
      val g = r.getStruct(2)
      assert(java.lang.Double.doubleToRawLongBits(f.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(g.getDouble(0)),
        s"d2 drift: ${f.getDouble(0)} vs ${g.getDouble(0)}")
      assert(f.getLong(1) == g.getLong(1),
        s"cluster drift: ${f.getLong(1)} vs ${g.getLong(1)}")
      val x = r.getSeq[Double](0).toArray
      val ev = interp.eval(InternalRow(new GenericArrayData(x)))
        .asInstanceOf[InternalRow]
      assert(java.lang.Double.doubleToRawLongBits(ev.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(f.getDouble(0)) &&
        ev.getLong(1) == f.getLong(1),
        "interpreted eval must match the codegen'd result")
      // the planted tie: a row AT the duplicated centroid sits at exact
      // d2 = 0 from both copies and must keep the LOWEST cluster id
      if (x.sameElements(cents(2))) {
        assert(f.getDouble(0) == 0.0 && f.getLong(1) == ids(2))
      }
    }
  }

  test("q139 BIGINT exactness guard refuses at the documented dim boundary, and the oracle mirrors it") {
    import graft.operators.Similarity
    // dim = 9414 is the last width where 400·dot² stays inside BIGINT
    // (floor(sqrt(2^63/400)/127²)); the guard must pass 9414 and refuse 9415.
    def stage(dim: Int) = Similarity.deconStage(
      Seq((1L, Seq.fill(dim)(1.0f))).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")
          .as("embedding")))
    assert(stage(9414).select(col("n2")).as[Long].head() ==
      9414L * 127L * 127L)
    val err = intercept[Exception] { stage(9415).select(col("n2")).head() }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(err).exists(_.contains(
      "BIGINT exactness bound")), s"unexpected failure: $err")
    // The DuckDB mirrors must refuse at the SAME boundary with the same
    // message family — the guard is part of the contract, not decoration.
    // (DuckDB-side firing is validated by the driver's oracle run; here we
    // pin that the mirrored guard text cannot silently disappear.)
    for ((q, marker) <- Seq(
        ("q139_semantic_decon", "error('q139"),
        ("q131_source_centroids", "error('q131"),
        ("q137_source_drift", "error('q137"))) {
      assert(SparkEntry.oracleSql(q).contains(marker),
        s"$q oracle lost its mirrored exactness guard")
    }
  }

  test("CsvEncode/CsvSplit interpreted eval == codegen path on every quoting shape") {
    import graft.expressions.{CsvCodec, CsvEncode, CsvSplit}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val shapes: Seq[Seq[String]] = Seq(
      Seq("plain", "x"), Seq("", null), Seq("a,b", "q\"q"),
      Seq("nl\nnl", "cr\rcr"), Seq("café", null))
    // codegen path: through a DataFrame projection
    import spark.implicits._
    val viaDf = shapes.map(_.toArray).toDF("fs")
      .select(org.apache.spark.sql.graftbridge.toColumn(CsvEncode(
        org.apache.spark.sql.graftbridge.toExpression(col("fs")))).as("line"))
      .select(col("line"), org.apache.spark.sql.graftbridge.toColumn(CsvSplit(
        org.apache.spark.sql.graftbridge.toExpression(col("line")))).as("back"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1))
    // interpreted path: direct static eval
    shapes.zip(viaDf).foreach { case (fs, (lineDf, backDf)) =>
      val line = CsvCodec.encode(new GenericArrayData(
        fs.map(s => if (s == null) null
          else UTF8String.fromString(s)).toArray[Any])).toString
      assert(line == lineDf, s"encode parity broke on $fs")
      val a = CsvSplit(Literal(UTF8String.fromString(line))).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val back = (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else a.getUTF8String(i).toString)
      assert(back == backDf.toSeq, s"split parity broke on <$line>")
      assert(back == fs, s"round trip broke on $fs")
    }
  }

  test("UrlCanonicalize interpreted eval == codegen path on the fixture's raw urls") {
    import graft.expressions.UrlCanonicalize
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val raws = SparkEntry.queries("q211_url_canonicalize")(spark, Sf)
      .select(col("raw_url"), col("canon")).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(raws.nonEmpty)
    raws.foreach { case (raw, viaDf) =>
      val interp = UrlCanonicalize(Literal(UTF8String.fromString(raw)))
        .eval(null).asInstanceOf[UTF8String].toString
      assert(interp == viaDf, s"parity broke on <$raw>")
    }
  }

  test("BoilerplateExtract interpreted eval == codegen path, bit-for-bit, on corpus pages") {
    import graft.expressions.BoilerplateExtract
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.Warc
    val pages = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => Warc.richPageFor(r.getLong(0), r.getString(1) + Warc.NonAsciiProbe))
    assert(pages.nonEmpty)
    val viaDf = pages.toSeq.toDF("h")
      .select(col("h"), org.apache.spark.sql.graftbridge.toColumn(
        BoilerplateExtract(org.apache.spark.sql.graftbridge.toExpression(col("h")))).as("v"))
      .select(col("h"), col("v.n_blocks"), col("v.n_content"),
        col("v.content_words"), col("v.content"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    pages.foreach { h =>
      val row = BoilerplateExtract(Literal(UTF8String.fromString(h)))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      assert((row.getLong(0), row.getLong(1), row.getLong(2),
        row.getUTF8String(3).toString) == viaDf(h), "parity broke")
    }
  }

  test("BlocklistScan interpreted eval == codegen path, bit-for-bit, on corpus docs") {
    import graft.expressions.BlocklistScan
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.TextAnalysis
    val pats = TextAnalysis.Blocklist.toArray
    val texts = Tables(spark, Sf, "documents")
      .filter(col("text").isNotNull).select("text").collect()
      .map(_.getString(0))
    assert(texts.nonEmpty)
    val viaDf = texts.toSeq.toDF("t")
      .select(col("t"), org.apache.spark.sql.graftbridge.toColumn(
        BlocklistScan(org.apache.spark.sql.graftbridge.toExpression(col("t")),
          pats)).as("v"))
      .select(col("t"), col("v.hits"), col("v.patterns_hit"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.foreach { t =>
      val row = BlocklistScan(Literal(UTF8String.fromString(t)), pats)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      assert((row.getLong(0), row.getLong(1)) == viaDf(t), "parity broke")
    }
  }

  test("WordpieceGreedy interpreted eval == codegen path, bit-for-bit, on corpus words") {
    import graft.expressions.WordpieceGreedy
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.Tokenizer
    val docs = Tables(spark, Sf, "documents")
    val (dict, alphabet) = Tokenizer.vocabInputs(docs)
    val inv = Tokenizer.vocabIds(alphabet, Tokenizer.bpeTrain(dict)).map(_._1).toArray
    val words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().collect().map(_.getString(0))
    assert(words.nonEmpty)
    val viaDf = words.toSeq.toDF("w")
      .select(col("w"), org.apache.spark.sql.graftbridge.toColumn(
        WordpieceGreedy(org.apache.spark.sql.graftbridge.toExpression(col("w")),
          inv, inv)).as("v"))
      .select(col("w"), col("v.pieces"), col("v.unk"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    words.foreach { w =>
      val row = WordpieceGreedy(Literal(UTF8String.fromString(w)), inv, inv)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      assert((row.getLong(0), row.getLong(1)) == viaDf(w),
        s"word '$w': interpreted ${(row.getLong(0), row.getLong(1))} != codegen ${viaDf(w)}")
    }
  }

  test("UnigramViterbi interpreted eval == codegen path, bit-for-bit, on corpus + adversarial words") {
    import graft.expressions.UnigramViterbi
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.Tokenizer
    val docs = Tables(spark, Sf, "documents")
    val (dict, alphabet) = Tokenizer.vocabInputs(docs)
    val costs = Tokenizer.unigramCosts(docs, alphabet, Tokenizer.bpeTrain(dict))
    val toks = costs.map(_._1).toArray
    val cs = costs.map(_._2).toArray
    val words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().collect().map(_.getString(0))
    assert(words.nonEmpty)
    // codegen path: through a DataFrame projection (whole-stage codegen)
    val viaDf = words.toSeq.toDF("w")
      .select(col("w"), org.apache.spark.sql.graftbridge.toColumn(
        UnigramViterbi(org.apache.spark.sql.graftbridge.toExpression(col("w")),
          toks, cs)).as("v"))
      .select(col("w"), col("v.cost"), col("v.ways"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // interpreted path: Literal child, direct eval()
    words.foreach { w =>
      val row = UnigramViterbi(Literal(UTF8String.fromString(w)), toks, cs)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      assert((row.getLong(0), row.getLong(1)) == viaDf(w),
        s"word '$w': interpreted ${(row.getLong(0), row.getLong(1))} != codegen ${viaDf(w)}")
    }
  }

  test("UnigramEdgeCounts interpreted eval == codegen path on corpus words") {
    import graft.expressions.UnigramEdgeCounts
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.Tokenizer
    val docs = Tables(spark, Sf, "documents")
    val (dict, alphabet) = Tokenizer.vocabInputs(docs)
    val costs = Tokenizer.unigramCosts(docs, alphabet, Tokenizer.bpeTrain(dict))
    val toks = costs.map(_._1).toArray
    val cs = costs.map(_._2).toArray
    val words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().collect().map(_.getString(0))
    assert(words.nonEmpty)
    val viaDf = words.toSeq.toDF("w")
      .select(col("w"), org.apache.spark.sql.graftbridge.toColumn(
        UnigramEdgeCounts(org.apache.spark.sql.graftbridge.toExpression(col("w")),
          toks, cs)).as("e"))
      .select(col("w"), col("e"))
      .collect().map { r =>
        r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getInt(0), x.getLong(1))).toSeq
      }.toMap
    words.foreach { w =>
      val arr = UnigramEdgeCounts(Literal(UTF8String.fromString(w)), toks, cs)
        .eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      val got = (0 until arr.numElements()).map { i =>
        val s = arr.getStruct(i, 2)
        (s.getInt(0), s.getLong(1))
      }
      assert(got == viaDf(w), s"word '$w': interpreted $got != codegen ${viaDf(w)}")
    }
  }
}
