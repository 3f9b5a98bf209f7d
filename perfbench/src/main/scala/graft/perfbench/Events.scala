package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.Codec
import graft.streaming.AnsModel._

/** Seeded ANS event mixes for the tag workloads, with the exact
  * composition each correctness check relies on.
  */
object Events {

  sealed trait Kind
  case object Publish extends Kind      // insert-story, published: tagged
  case object Unpublished extends Kind  // published = false: filtered
  case object NonInsert extends Kind    // update-story: filtered
  case object Corrupt extends Kind      // not gzip: decode error
  case object Url extends Kind          // >1 MB side channel: {url} row
  case object Redelivery extends Kind   // a Publish record sent again

  final case class Ev(id: String, kind: Kind, payload: Array[Byte],
      shard: Int)

  /** How a publish id's document looks before the run. */
  sealed trait Prior
  case object Absent extends Prior      // create: 404, then If-None-Match
  case object OtherTags extends Prior   // update: If-Match, tag appended
  case object Tagged extends Prior      // already tagged: a no-op write

  val OtherTag: Tag = Tag("politics", "politics")

  final case class Mix(publish: Double, unpublished: Double,
      nonInsert: Double, corrupt: Double, url: Double, redelivery: Double)

  /** Catch-up backlog: every kind the decoder and filter distinguish. */
  val DrainMix = Mix(0.70, 0.06, 0.06, 0.04, 0.04, 0.10)
  /** Steady publishing: mostly publishes, a few drops and redeliveries. */
  val LiveMix = Mix(0.86, 0.04, 0.02, 0.02, 0.02, 0.04)

  private def json(id: String, op: String, published: Boolean): String =
    s"""{"id":"$id","operation":"$op","published":$published,""" +
      s""""type":"story","body":{"headlines":{"basic":"h-$id"},"revision":1}}"""

  def gz(s: String): Array[Byte] = Codec.gzipBytes(s.getBytes(UTF_8))

  /** Exact counts per kind for `n` events: floor of each share, the
    * remainder to publishes.
    */
  def counts(n: Int, m: Mix): Map[Kind, Int] = {
    val other = Map[Kind, Int](
      Unpublished -> (n * m.unpublished).toInt,
      NonInsert -> (n * m.nonInsert).toInt,
      Corrupt -> (n * m.corrupt).toInt,
      Url -> (n * m.url).toInt,
      Redelivery -> (n * m.redelivery).toInt)
    other + (Publish -> (n - other.values.sum))
  }

  /** `n` events in a seeded order, dealt round-robin over `shards`
    * shards (so every seed fills the shards, and so the triggers, alike).
    * A redelivery repeats an earlier publish's exact record, so it
    * always follows it.
    */
  def generate(seed: Long, prefix: String, n: Int, m: Mix,
      shards: Int): Seq[Ev] = {
    val rng = new scala.util.Random(seed)
    val c = counts(n, m)
    val kinds = rng.shuffle(c.toSeq.sortBy(_._1.toString)
      .flatMap { case (k, k_n) => Seq.fill(k_n)(k) })
    // redeliveries must come after at least one publish: move any that
    // lead the sequence behind the first publish
    val firstPub = kinds.indexOf(Publish)
    val ordered = kinds.take(firstPub).filter(_ != Redelivery) ++
      Seq(Publish) ++ kinds.take(firstPub).filter(_ == Redelivery) ++
      kinds.drop(firstPub + 1)
    val published = scala.collection.mutable.ArrayBuffer.empty[Ev]
    ordered.zipWithIndex.map { case (k, i) =>
      val id = f"$prefix-$i%06d"
      val shard = i % shards
      val ev = k match {
        case Publish => Ev(id, k, gz(json(id, "insert-story", true)), shard)
        case Unpublished => Ev(id, k, gz(json(id, "insert-story", false)), shard)
        case NonInsert => Ev(id, k, gz(json(id, "update-story", true)), shard)
        case Corrupt =>
          Ev(id, k, Array[Byte](0x1f, 0x8b.toByte, 8, 0) ++
            id.getBytes(UTF_8), shard)
        case Url => Ev(id, k, gz(s"s3://ans-bucket/large/$id.json"), shard)
        case Redelivery =>
          val orig = published(rng.nextInt(published.size))
          Ev(orig.id, k, orig.payload, shard)
      }
      if (k == Publish) published += ev
      ev
    }
  }

  /** Seeded prior state for each publish id (a third each). */
  def priors(seed: Long, evs: Seq[Ev]): Map[String, Prior] = {
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    evs.filter(_.kind == Publish).map(e =>
      e.id -> (rng.nextInt(3) match {
        case 0 => Absent
        case 1 => OtherTags
        case _ => Tagged
      })).toMap
  }

  def priorDoc(id: String, p: Prior): Option[AnsDoc] = p match {
    case Absent => None
    case OtherTags => Some(AnsDoc(id, Some(1L), Some(Taxonomy(Some(Seq(OtherTag))))))
    case Tagged =>
      Some(AnsDoc(id, Some(1L), Some(Taxonomy(Some(Seq(OtherTag, AutoTag))))))
  }

  /** The end-of-run check, one operation per id. A publish id must carry
    * the tag exactly once and keep its other tags; an id that was
    * filtered (or any id not in the mix) must not be in the store; an
    * edited id's revision must show every acknowledged bump. Returns
    * (attempted, failures).
    */
  def check(evs: Seq[Ev], priors: Map[String, Prior],
      bumps: Map[String, Int], store: Seq[AnsDoc]): (Int, Seq[String]) = {
    val docs = store.groupBy(_._id)
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val pubIds = evs.filter(_.kind == Publish).map(_.id).distinct
    pubIds.foreach { id =>
      docs.get(id) match {
        case Some(Seq(d)) =>
          val tags = d.taxonomy.flatMap(_.tags).getOrElse(Nil)
          val n = tags.count(_ == AutoTag)
          if (n != 1) fails += s"$id: tag count $n"
          if (priors(id) != Absent && !tags.contains(OtherTag))
            fails += s"$id: lost its other tag"
          val want = priors(id) match {
            case Absent => None
            case _ => Some(1L + bumps.getOrElse(id, 0))
          }
          if (want.nonEmpty && d.revision != want)
            fails += s"$id: revision ${d.revision}, expected $want (lost edit)"
        case Some(ds) => fails += s"$id: ${ds.size} documents"
        case None => fails += s"$id: untagged"
      }
    }
    val dropped = evs.filter(e => e.kind != Publish && e.kind != Redelivery)
      .map(_.id).distinct
    dropped.foreach(id => if (docs.contains(id)) fails += s"$id: dropped event stored")
    val known = pubIds.toSet
    docs.keys.filterNot(known).filterNot(dropped.toSet)
      .foreach(id => fails += s"$id: unexpected document")
    (pubIds.size + dropped.size, fails.toSeq)
  }
}
