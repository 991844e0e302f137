package graft.core

import java.sql.Timestamp

/** Core row types of the extraction engine.
  *
  * The input-table shape is fixed by BASELINE.json `input_hint`:
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING) —
  * a Common-Crawl-style pages table (reference analog: the per-page JSONL
  * records of /root/reference/nougat/dataset/create_index.py:81-98).
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** A detected structural span inside the emitted markdown.
  *
  * Replaces the reference's marker + side-dict design
  * (`markdown.py:166-188,391-395`) with explicit [start,end) char offsets
  * into the final markdown, per the north rule ("byte-identical extracted
  * text + span offsets per url"). `id` is DETERMINISTIC: the source
  * element's id attribute when present, else "<kind>-<per-doc counter>"
  * (replaces `uuid4()[:5]` at markdown.py:168,184,219).
  */
final case class Span(
    kind: String, // figure | table | footnote | math_inline | math_display | code
    id: String,
    start: Int,
    end: Int,
    body: String
)

/** One parsed bibliography entry (X2).
  *
  * Reference analog: the `Reference` dataclass (document.py:124-159) and
  * `parse_latexml_references` (latexml_parser.py:420-426), which sets the
  * title to the bibitem's stripped text; here `raw` carries that full
  * text, `title` the text with the leading "[n]"/"n." marker removed, and
  * `label` the citation number inline IRef markers resolve to.
  */
final case class RefEntry(
    id: String,
    label: String,
    title: String,
    raw: String
)

/** Extraction output: one row per url (north-rule invariant). */
final case class ExtractedDoc(
    url: String,
    markdown: String,
    spans: Seq[Span],
    blocks_kept: Int,
    blocks_dropped: Int,
    span_counts: Map[String, Int],
    ok: Boolean,
    error: String,
    references: Seq[RefEntry] = Seq.empty
)
