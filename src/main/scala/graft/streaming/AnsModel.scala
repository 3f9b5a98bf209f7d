package graft.streaming

/** Typed model of the document-store side of the ANS surface the
  * reference touches (shapes per FIXTURES.md §B; every type cites where
  * the reference reads it). The event side is declared once, as
  * `EventDecoder.EventSchema`. Only fields the reference reads are typed;
  * on an HTTP write-back the rest of the ANS document rides along as the
  * stored JSON (see `AnsJson.write`), reproducing the reference's "modify
  * only what you understand, preserve the rest" behavior (`tag.py:64`).
  */
object AnsModel {

  /** A taxonomy tag (`tag.py:60-61`). */
  case class Tag(slug: String, text: String)

  /** `ans.taxonomy` (`tag.py:33-44`). */
  case class Taxonomy(tags: Option[Seq[Tag]])

  /** The document-store record (`tag.py:16,33`). */
  case class AnsDoc(_id: String, revision: Option[Long],
      taxonomy: Option[Taxonomy])

  /** The constant tag the reference applies (`tag.py:59-62`). */
  val AutoTag: Tag = Tag("kinesis-autotag", "kinesis autotag")
}
