package graft.streaming

/** Typed model of the ANS content-operation surface the reference touches
  * (shapes per FIXTURES.md §B; every field cites where the reference reads
  * it). Only fields the reference reads are typed; on an HTTP write-back
  * the rest of the ANS document rides along as the stored JSON (see
  * `AnsJson.write`), reproducing the reference's "modify only what you
  * understand, preserve the rest" behavior (`tag.py:64`).
  */
object AnsModel {

  /** `record.trigger.referent_update`, null-guarded at `app.py:64`. */
  case class EventTrigger(referent_update: Option[Boolean])

  /** `body.headlines.basic` (`app.py:65`). */
  case class Headlines(basic: Option[String])

  /** `body.headlines`, `body.revision` (`app.py:65-66`). */
  case class Body(headlines: Option[Headlines], revision: Option[Long])

  /** The Kinesis event envelope (`app.py:56-67`). */
  case class ContentEvent(
      id: Option[String],         // app.py:56,59
      operation: Option[String],  // app.py:56,60 — e.g. "insert-story"
      created: Option[Boolean],   // app.py:61
      `type`: Option[String],     // app.py:62
      published: Option[Boolean], // app.py:56,63
      trigger: Option[EventTrigger], // app.py:64
      body: Option[Body],         // app.py:65-66
      url: Option[String])        // >1 MB S3-pointer fallback, app.py:43-46

  /** The 9-field flat projection the reference builds (`app.py:57-67`). */
  case class ProjectedEvent(
      shard_origination: Option[String], // app.py:58
      id: Option[String],
      operation: Option[String],
      created: Option[Boolean],
      content_type: Option[String],
      published: Option[Boolean],
      referent_update: Option[Boolean],
      headline: Option[String],
      revision: Option[Long])

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
