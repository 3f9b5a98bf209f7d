package graft.perfbench

import graft.streaming.AnsModel._

/** The benchmark's own checks (`python3 perfbench/run.py --selftest`):
  *  - the event generator's composition is exact for a seed, repeatable,
  *    and what the decoder sees (decode errors, url rows, filtered rows);
  *  - the end-of-run check passes on a correct store and fails on each
  *    planted defect: a document tagged twice, a lost edit, an untagged
  *    id, a filtered event that was stored.
  */
object SelfTest {
  import Events._

  def run(work: String): Int = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    for (seed <- Seq(1L, 7L, 12345L); n <- Seq(400, 1000)) {
      val evs = generate(seed, s"t$seed", n, DrainMix, 4)
      val want = counts(n, DrainMix)
      val got = evs.groupBy(_.kind).map { case (k, v) => k -> v.size }
      expect(got == want, s"seed $seed n $n: composition $got == $want")
      val firstSeen = evs.zipWithIndex.filter(_._1.kind == Publish)
        .map { case (e, i) => e.id -> i }.toMap
      expect(evs.zipWithIndex.forall { case (e, i) =>
        e.kind != Redelivery || firstSeen.get(e.id).exists(_ < i) },
        s"seed $seed n $n: every redelivery follows its publish")
      expect(evs.filter(_.kind != Redelivery).map(_.id).distinct.size ==
        n - want(Redelivery), s"seed $seed n $n: ids are unique")
      val again = generate(seed, s"t$seed", n, DrainMix, 4)
      expect(again.map(e => (e.id, e.kind, e.shard, e.payload.toSeq)) ==
        evs.map(e => (e.id, e.kind, e.shard, e.payload.toSeq)),
        s"seed $seed n $n: same seed, same events")
    }

    val spark = Session.start(2, work)
    val evs = generate(3L, "dec", 1000, DrainMix, 4)
    val c = counts(1000, DrainMix)
    val d = Tagging.decodeLayers(spark, evs)
    expect(d("decode.rows_in") == 1000, "decoder sees every record")
    expect(d("decode.errors") == c(Corrupt), s"decode errors == corrupt (${c(Corrupt)})")
    expect(d("decode.url_rows") == c(Url), s"url rows == url payloads (${c(Url)})")
    expect(d("decode.filtered_out") ==
      c(Unpublished) + c(NonInsert) + c(Corrupt) + c(Url),
      "filtered out == unpublished + non-insert + corrupt + url")
    spark.stop()

    // a correct end state, then one planted defect at a time
    val pr = priors(3L, evs)
    val hot = pr.filter(_._2 != Absent).keys.toSeq.sorted.take(3)
    val bumps = hot.map(_ -> 2).toMap
    val good = pr.toSeq.map { case (id, p) =>
      val base = priorDoc(id, p).getOrElse(AnsDoc(id, None, None))
      val tagged = graft.streaming.DocumentStore.modifyAns(base, AutoTag)
      tagged.copy(revision = base.revision.map(_ + bumps.getOrElse(id, 0)))
    }
    val (attempted, ok) = check(evs, pr, bumps, good)
    expect(ok.isEmpty && attempted > 0, s"correct store passes ($attempted operations)")
    def plant(what: String, store: Seq[AnsDoc]): Unit =
      expect(check(evs, pr, bumps, store)._2.nonEmpty, s"planted $what is caught")
    val victim = good.find(_._id == hot.head).get
    val rest = good.filterNot(_._id == victim._id)
    plant("double tag", rest :+ victim.copy(taxonomy = Some(Taxonomy(Some(
      victim.taxonomy.get.tags.get :+ AutoTag)))))
    plant("lost edit", rest :+ victim.copy(revision = Some(1L)))
    plant("untagged id", rest :+ victim.copy(taxonomy = Some(Taxonomy(Some(Seq(OtherTag))))))
    plant("missing document", rest)
    plant("stored filtered event", good :+
      AnsDoc(evs.find(_.kind == Unpublished).get.id, None, None))
    plant("duplicate document", good :+ victim)

    println(s"[selftest] ${if (failures.isEmpty) "PASS" else s"${failures.size} FAILED"}")
    if (failures.isEmpty) 0 else 1
  }
}
