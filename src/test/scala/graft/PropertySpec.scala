package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.streaming.DocumentStore
import graft.streaming.AnsModel._

/** Property tests (SURVEY.md §5 rule 3) over the pure core of the tag
  * transform — the invariants that make the at-least-once streaming sink
  * safe. Uses raw scalacheck generators with fixed seeds (the scalatest
  * bridge artifact is not in the offline cache).
  */
class PropertySpec extends SparkSpec {

  private val genTag: Gen[Tag] = for {
    s <- Gen.alphaLowerStr
    t <- Gen.alphaLowerStr
  } yield Tag("s" + s.take(8), t.take(8))

  private val genDoc: Gen[AnsDoc] = for {
    id <- Gen.identifier.map(_.take(10))
    rev <- Gen.option(Gen.posNum[Long])
    tags <- Gen.option(Gen.option(Gen.listOfN(3, genTag)))
  } yield AnsDoc(id, rev, tags.map(t => Taxonomy(t)))

  /** Deterministic exhaustive-ish sampling: 300 seeded draws per property. */
  private def forAllSeeded[A](g: Gen[A])(check: A => Unit): Unit = {
    val p = Gen.Parameters.default.withSize(20)
    (1L to 300L).foreach { i =>
      g.apply(p, Seed(i)).foreach(check)
    }
  }

  test("RawAns splice on arbitrary generated documents: valid JSON out, tag exactly once, unknown subtrees AST-identical, single byte edit, idempotent") {
    import graft.streaming.RawAns
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val om = new ObjectMapper() // INDEPENDENT JSON implementation (Jackson)
    // JSON string bodies assembled from safe pieces: raw chars plus
    // valid escapes plus decoy structure ("taxonomy", braces, brackets)
    val genStrBody: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.oneOf("\\\"", "\\\\", "\\n", "\\u0041"),
      1 -> Gen.oneOf("{", "}", "[", "]", ":", ",", " ", "taxonomy",
        "slug", "π"))).map(_.mkString)
    def genLeaf: Gen[String] = Gen.oneOf(
      genStrBody.map(s => "\"" + s + "\""),
      Gen.chooseNum(-999999L, 999999L).map(_.toString),
      Gen.oneOf("true", "false", "null"))
    def genValue(depth: Int): Gen[String] =
      if (depth == 0) genLeaf
      else Gen.frequency(3 -> genLeaf,
        1 -> Gen.lzy(genObj(depth - 1)), 1 -> Gen.lzy(genArr(depth - 1)))
    def genMember(depth: Int): Gen[String] = for {
      // nested keys MAY be "taxonomy" (decoys the scanner must treat as
      // opaque bytes); escape-spelled keys too
      k <- Gen.oneOf(Gen.identifier.map(_.take(8)), Gen.const("taxonomy"),
        Gen.const("tax\\u006fnomy"))
      v <- genValue(depth)
    } yield "\"" + k + "\":" + v
    def genObj(depth: Int): Gen[String] =
      Gen.listOf(genMember(depth)).map(_.mkString("{", ",", "}"))
    def genArr(depth: Int): Gen[String] =
      Gen.listOf(genValue(depth)).map(_.mkString("[", ",", "]"))
    // top-level: _id + unknown members (never top-level "taxonomy") +
    // one of the six taxonomy arms + more unknown members
    val genTaxArm: Gen[String] = Gen.oneOf(
      Gen.const(""), Gen.const("\"taxonomy\":null"),
      Gen.const("\"taxonomy\":{}"),
      Gen.const("\"taxonomy\":{\"v\":1}"),
      Gen.const("\"taxonomy\":{\"tags\":null}"),
      genValue(1).map(v => "\"taxonomy\":{\"tags\":[" +
        "{\"slug\":\"other\",\"text\":\"o\",\"extra\":" + v + "}]}"),
      Gen.const("\"taxonomy\":{\"tags\":[" + RawAns.tagJson(AutoTag) + "]}"))
    // top-level unknown members must not UNESCAPE to "taxonomy" (RawAns
    // compares unescaped keys, so "taxonomy" IS the taxonomy key);
    // plain identifiers filtered by name are safe
    def genTopMember: Gen[String] = for {
      k <- Gen.identifier.map(_.take(8)).suchThat(_ != "taxonomy")
      v <- genValue(2)
    } yield "\"" + k + "\":" + v
    val genDocJson: Gen[String] = for {
      pre <- Gen.listOf(genTopMember)
      arm <- genTaxArm
      post <- Gen.listOf(genTopMember)
    } yield ("\"_id\":\"d1\"" +: (pre ++ (if (arm.isEmpty) Nil else Seq(arm))
      ++ post)).mkString("{", ",", "}")
    forAllSeeded(genDocJson) { doc =>
      val out = RawAns.appendTagIfAbsent(doc, AutoTag)
      // 1. output parses under an independent JSON implementation
      val outTree = om.readTree(out)
      val inTree = om.readTree(doc)
      // 2. the tag slug appears exactly once in taxonomy.tags
      val tags = outTree.get("taxonomy").get("tags")
      val slugCount = (0 until tags.size()).count(i =>
        tags.get(i).has("slug") &&
          tags.get(i).get("slug").asText() == AutoTag.slug)
      assert(slugCount == 1, s"tag not exactly-once in $out")
      // 3. everything OUTSIDE taxonomy is AST-identical
      inTree.asInstanceOf[ObjectNode].remove("taxonomy")
      outTree.asInstanceOf[ObjectNode].remove("taxonomy")
      assert(inTree == outTree, s"unknown subtree drift:\n$doc\n$out")
      // 4. single contiguous byte edit, removing at most "null"
      var p = 0
      while (p < doc.length && p < out.length && doc(p) == out(p)) p += 1
      var s = 0
      while (s < doc.length - p && s < out.length - p &&
        doc(doc.length - 1 - s) == out(out.length - 1 - s)) s += 1
      val removed = doc.substring(p, doc.length - s)
      assert(removed.isEmpty || removed == "null",
        s"non-splice edit (removed '$removed') on:\n$doc")
      // 5. idempotent by reference
      assert(RawAns.appendTagIfAbsent(out, AutoTag) eq out)
    }
  }

  test("modifyAns is idempotent: f(f(d)) == f(d)") {
    forAllSeeded(Gen.zip(genDoc, genTag)) { case (d, t) =>
      val once = DocumentStore.modifyAns(d, t)
      assert(DocumentStore.modifyAns(once, t) == once)
    }
  }

  test("modifyAns always results in exactly one copy of the tag") {
    forAllSeeded(Gen.zip(genDoc, genTag)) { case (d, t) =>
      val out = DocumentStore.modifyAns(d, t)
      assert(out.taxonomy.get.tags.get.count(_ == t) == 1)
    }
  }

  test("modifyAns preserves pre-existing tags and their order") {
    forAllSeeded(Gen.zip(genDoc, genTag)) { case (d, t) =>
      val before = d.taxonomy.flatMap(_.tags).getOrElse(Seq.empty)
      val after = DocumentStore.modifyAns(d, t).taxonomy.get.tags.get
      assert(after.startsWith(before) || before.contains(t))
    }
  }

  test("modifyAns commutes for distinct tags up to order (set semantics)") {
    forAllSeeded(Gen.zip(genDoc, genTag, genTag)) { case (d, t1, t2) =>
      val ab = DocumentStore.modifyAns(DocumentStore.modifyAns(d, t1), t2)
      val ba = DocumentStore.modifyAns(DocumentStore.modifyAns(d, t2), t1)
      assert(ab.taxonomy.get.tags.get.toSet == ba.taxonomy.get.tags.get.toSet)
    }
  }

  test("q67 chunks reconstruct every document exactly (stride slices + final tail)") {
    import org.apache.spark.sql.functions._
    // stride 150 / window 200: the first 150 chars of every chunk,
    // concatenated in chunk order, plus the LAST chunk's tail beyond its
    // first 150 chars, must equal the original text byte-for-byte.
    val rebuilt = SparkEntry.queries("q67_chunk")(spark, Sf)
      .groupBy(col("doc_id"))
      .agg(
        concat(
          array_join(transform(
            array_sort(collect_list(struct(col("chunk_id"),
              substring(col("chunk"), 1, 150).as("head")))),
            x => x.getField("head")), ""),
          max_by(substring(col("chunk"), 151, 50), col("chunk_id")))
          .as("rebuilt"))
    val docs = Tables(spark, Sf, "documents").select(col("doc_id"), col("text"))
    val mismatched = docs.join(rebuilt, "doc_id")
      .filter(col("text") =!= col("rebuilt")).count()
    assert(mismatched == 0)
  }

  test("q65 split is total and deterministic: every doc in exactly one split, twice") {
    val a = SparkEntry.queries("q65_train_split")(spark, Sf).collect()
    val b = SparkEntry.queries("q65_train_split")(spark, Sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq) // rerun-stable
    val splits = a.map(_.getAs[String]("split")).toSet
    assert(splits == Set("train", "val"))
    assert(a.length == Tables(spark, Sf, "documents").count())
    val trainFrac = a.count(_.getAs[String]("split") == "train").toDouble / a.length
    assert(trainFrac > 0.70 && trainFrac < 0.90, s"train fraction $trainFrac")
  }

  test("SimHash64 is order- and duplication-invariant over token sets") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextOps
    import spark.implicits._
    val df = Seq(
      ("alpha beta gamma delta", "delta gamma beta alpha"),
      ("x y z", "z z y y x x")
    ).toDF("t1", "t2")
    val diffs = df.select(
        TextOps.simhash(array_distinct(split(col("t1"), " "))).as("a"),
        TextOps.simhash(array_distinct(split(col("t2"), " "))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diffs == 0)
  }

  test("zorderKey is a bijection on its bit range and preserves quadrant order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // exhaustive over 6+6 bits: every (x, y) pair in [0,64)^2
    val pairs = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
    val df = pairs.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.operators.Layout.zorderKey(col("x"), col("y"), 6).as("z"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    // bijective: 4096 distinct z values in [0, 4096)
    val zs = rows.map(_._2)
    assert(zs.distinct.length == 4096 && zs.min == 0L && zs.max == 4095L)
    // quadrant order: the top interleaved bits ARE the quadrant id, so all
    // of quadrant (x<32, y<32) sorts before any of (x>=32, y>=32)
    val loLo = rows.filter { case ((x, y), _) => x < 32 && y < 32 }.map(_._2).max
    val hiHi = rows.filter { case ((x, y), _) => x >= 32 && y >= 32 }.map(_._2).min
    assert(loLo < hiHi)
  }

  test("q144's packed band keys: probe-side array == build-side row keys, doc by doc") {
    // the consistency q144's exactness argument rests on: the per-doc
    // bandKeyArray (probe side, below the explode) must produce EXACTLY
    // the xxhash64(bh, band) values the exploded band-row build side
    // produces — any drift (argument order, type widths, band indexing)
    // would make the Bloom gate silently drop true candidates.
    import org.apache.spark.sql.functions.{col, xxhash64}
    import spark.implicits._
    val docs = graft.operators.Dedup.shingled(
        Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t"),
          (3L, "a b c d e f g h i j")).toDF("doc_id", "text"))
      .filter(org.apache.spark.sql.functions.size(col("sh")) > 0)
    val sigs = graft.operators.Dedup.minhashSigs(docs)
    val probe = sigs.select(col("doc_id"),
        graft.operators.Dedup.bandKeyArray(col("sig")).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val build = graft.operators.Dedup.minhashBandRows(sigs)
      .select(col("doc_id"), col("band"),
        xxhash64(col("bh"), col("band")).as("k"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toVector).toMap
    assert(probe == build,
      "bandKeyArray drifted from the exploded band-row key expression")
  }

  test("BloomAnyProbe never lies negative, for arbitrary key sets") {
    // the q155/q158/q144 safety property: a true member
    // (scalar mode) — or any array containing one — always probes true,
    // whatever the key distribution; the empty array can never hit.
    // False-positive RATE is geometry-dependent and covered by the
    // fixture-level pruning assertions; the no-false-negative side must
    // hold unconditionally or the fast path silently drops exact hits.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import org.apache.spark.util.sketch.BloomFilter
    forAllSeeded(Gen.nonEmptyListOf(
        Gen.choose(Long.MinValue, Long.MaxValue))) { keys =>
      val bf = BloomFilter.create(math.max(keys.size.toLong, 1L), 0.01)
      keys.foreach(bf.putLong)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val bits = spark.sparkContext.broadcast(bos.toByteArray)
      try {
        keys.foreach { k =>
          assert(graft.expressions.BloomAnyProbe(Literal(k), bits)
            .eval(null) == true, s"member $k probed false")
        }
        val arr = Literal.create(Seq(keys.head, keys.head ^ 0x5a5a5a5aL),
          ArrayType(LongType))
        assert(graft.expressions.BloomAnyProbe(arr, bits).eval(null) == true)
        val empty = Literal.create(Seq.empty[Long], ArrayType(LongType))
        assert(graft.expressions.BloomAnyProbe(empty, bits).eval(null) == false)
      } finally bits.destroy()
    }
  }

  test("KPL aggregate/deaggregate round-trips arbitrary payloads, keys, and counts") {
    import graft.streaming.Kpl
    val genRec = for {
      pk <- Gen.oneOf(Gen.identifier.map(_.take(12)), Gen.const("naïve-東京")) // incl. multi-byte pk
      n <- Gen.choose(0, 64)
      data <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (pk, data.toArray)
    forAllSeeded(Gen.choose(1, 12).flatMap(Gen.listOfN(_, genRec))) { recs =>
      val back = Kpl.deaggregate(Kpl.aggregate(recs), "unused")
      assert(back.length == recs.length)
      back.zip(recs).zipWithIndex.foreach { case ((u, (pk, data)), i) =>
        assert(u.partitionKey == pk, s"pk drift at $i")
        assert(u.data.sameElements(data), s"payload drift at $i")
        assert(u.subSeq == i.toLong, s"subseq drift at $i")
      }
    }
  }

  test("GVC-Q: error <= QStep/2 at every frame on arbitrary rasters; Huffman round-trips arbitrary symbol streams") {
    import graft.operators.{Gvc, Huff}
    val genSeq = for {
      w <- Gen.choose(1, 12)
      h <- Gen.choose(1, 8)
      nf <- Gen.choose(1, 5)
      frames <- Gen.listOfN(nf, Gen.listOfN(w * h, Gen.choose(0, 255)))
    } yield (w, h, frames.map(_.toArray))
    forAllSeeded(genSeq) { case (w, h, frames) =>
      // fully arbitrary rasters (no delta bound — quantized symbols span
      // ±64 at QStep 4, inside the ±127 symbol range); the closed loop
      // must still bound error per frame with zero drift
      val decoded = Gvc.decodeQuantFrames(
        Gvc.encodeQuantFrames(frames, w, h), w, h)
      assert(decoded.length == frames.length)
      assert(decoded.head.raster.sameElements(frames.head)) // intra exact
      decoded.zip(frames).foreach { case (d, f) =>
        d.raster.zip(f).foreach { case (a, b) =>
          assert(math.abs(a - b) <= Gvc.QStep / 2, "quantization bound broken")
        }
      }
    }
    val genSyms = Gen.choose(1, 400).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        8 -> Gen.const(128), 2 -> Gen.choose(120, 136), 1 -> Gen.choose(0, 255))))
    forAllSeeded(genSyms) { syms =>
      val a = syms.toArray
      assert(Huff.decode(Huff.encode(a), 0).sameElements(a),
        "Huffman round-trip broke")
    }
  }

  test("GVC-M: motion encode/decode round-trips arbitrary rasters exactly, whatever vector the search picks") {
    import graft.operators.Gvc
    // values in [64, 190] keep EVERY possible residual in [-126, 126],
    // so the round trip is exact for ANY displacement the search
    // chooses on arbitrary (motion-free, noisy) content — the lossless-
    // residual guarantee the q191 oracle leans on
    val genSeq = for {
      w <- Gen.choose(7, 14)
      h <- Gen.choose(7, 12)
      nf <- Gen.choose(1, 4)
      frames <- Gen.listOfN(nf, Gen.listOfN(w * h, Gen.choose(64, 190)))
    } yield (w, h, frames.map(_.toArray))
    forAllSeeded(genSeq) { case (w, h, frames) =>
      val decoded = Gvc.decodeMotionFrames(
        Gvc.encodeMotionFrames(frames, w, h), w, h)
      assert(decoded.length == frames.length)
      decoded.zip(frames).foreach { case (d, f) =>
        assert(d.raster.sameElements(f), "motion reconstruction drift")
      }
      assert(decoded.head.isKey && decoded.tail.forall(!_.isKey))
      decoded.tail.foreach(d =>
        assert(math.abs(d.mx) <= Gvc.SearchR && math.abs(d.my) <= Gvc.SearchR))
    }
  }

  test("GVC encode/decode round-trips any raster sequence whose deltas fit a byte") {
    import graft.operators.Gvc
    val genSeq = for {
      w <- Gen.choose(1, 12)
      h <- Gen.choose(1, 8)
      nf <- Gen.choose(1, 5)
      base <- Gen.listOfN(w * h, Gen.choose(60, 190))
      deltas <- Gen.listOfN(nf - 1, Gen.listOfN(w * h, Gen.choose(-50, 50)))
    } yield {
      val frames = deltas.scanLeft(base.toArray) { (prev, d) =>
        prev.zip(d).map { case (p, dd) =>
          math.max(0, math.min(255, p + dd))
        }
      }
      (w, h, frames)
    }
    forAllSeeded(genSeq) { case (w, h, frames) =>
      // clamping keeps samples in range but may push a delta outside the
      // byte range only if |clamped diff| > 127 — impossible at ±50
      val decoded = Gvc.decodeFrames(Gvc.encodeFrames(frames, w, h), w, h)
      assert(decoded.length == frames.length)
      decoded.zip(frames).foreach { case (d, f) =>
        assert(d.raster.sameElements(f), "reconstruction drift")
      }
      assert(decoded.head.isKey && decoded.tail.forall(!_.isKey))
    }
  }

  test("bench stdout line fits the driver's scrape window at the full query count, worst-case entries (r17 verdict #1)") {
    val n = SparkEntry.queries.size
    // realistic worst case: every query at 6-digit milliseconds (a
    // 999 s query — the suite budget itself is 2100 s), three more
    // failed queries with long names, a 5-digit degrade count, the real
    // sf path
    val worst = (1 to n).map(i => s"q$i" -> Some(999.999)) ++
      (1 to 3).map(i => s"q999_xxxxxxxxxxxxxxxx_$i" -> None)
    val line = Bench.stdoutRecord(worst, "BENCH_LOCAL.json", 99999,
      99999.999, "/root/testdata/sf0.1", 3)
    assert(line.length <= 1950, s"stdout line ${line.length} chars")
    // the checksum column must SURVIVE the fit — as the plain JSON array
    // when it fits, else as the base-36 fallback; never dropped
    assert(line.contains("\"checksum_ms\":[") ||
      line.contains("\"checksum_ms_b36\":\""))
    // typical-case entries (≤ 5-digit ms, i.e. every query under 100 s)
    // keep the PLAIN array — the form the driver's PERF parser reads
    val typical = Bench.stdoutRecord((1 to n).map(i => s"q$i" -> Some(99.999)),
      "BENCH_LOCAL.json", 0, 1333.834, "/root/testdata/sf0.1", 3)
    assert(typical.length <= 1950)
    assert(typical.contains("\"checksum_ms\":["))
    // the base-36 fallback round-trips the values
    val enc = java.lang.Long.toString(987654L, 36)
    assert(java.lang.Long.parseLong(enc, 36) == 987654L)
  }

  test("bench stdout line: a failed query is named, left out of value, and its checksum_ms entry is -1") {
    val line = Bench.stdoutRecord(
      Seq("q1_a" -> Some(1.5), "q2_b" -> None, "q3_c" -> Some(0.25)),
      "BENCH_LOCAL.json", 0, 10.0, "/root/testdata/sf0.01", 3)
    assert(line.contains("\"value\":1.750,"), line)
    assert(line.contains("\"n_queries\":3,"), line)
    assert(line.contains("\"checksum_ms\":[1500,-1,250],"), line)
    assert(line.contains("\"failed\":[\"q2_b\"],"), line)
  }
}
