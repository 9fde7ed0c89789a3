package graft.model

/**
 * Core data model (SURVEY.md §1.5). The engine's primary input is the
 * interleaved document table
 *   docs(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)
 * which encodes web tables (reference t2k/match/data/WebTables.java:39-68):
 * one header doc per table + one row doc per data row. Media spans carry
 * provenance only — invisible to matching, preserved verbatim (the per-row
 * span-sequence-equality invariant).
 */
case class Span(kind: String, text: String, media_ref: String, offset: Int)
case class Doc(doc_id: String, spans: Seq[Span])

object Dtype {
  val String = "string"
  val Numeric = "numeric"
  val Date = "date"
  val RdfsLabelUri = "http://www.w3.org/2000/01/rdf-schema#label"
}
