package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Pipeline scalar functions re-expressing the reference's per-message
  * operators as pure Catalyst `Column` expressions (codegen'd, no UDFs).
  *
  * Reference behavior studied at:
  *  - topic truncation: bin/mqtt-streamr.js:99-106
  *  - stream-id templating: bin/mqtt-streamr.js:166
  *  - JSON parse w/ drop-on-malformed: bin/mqtt-streamr.js:149-155
  */
object PipelineFunctions {

  /** T2 — keep the first `levels`+1 '/'-split segments of a topic
    * (the reference keeps `levels+1` elements of `topic.split('/')`,
    * so a leading '/' counts as an empty first segment).
    * `levels <= 0` is the identity, as in the reference.
    *
    * Pure string/array expression => whole-stage codegen, no shuffle.
    */
  def topicTruncate(topic: Column, levels: Int): Column =
    if (levels <= 0) topic
    else array_join(slice(split(topic, "/"), 1, levels + 1), "/")

  /** Dynamic-levels variant (levels as a Column; NULL/<=0 → identity). */
  def topicTruncate(topic: Column, levels: Column): Column =
    when(levels.isNull || levels <= 0, topic)
      .otherwise(array_join(slice(split(topic, "/"), lit(1), levels + 1), "/"))

  /** T3 — stream-id templating: replace the literal `$topic` placeholder
    * in `template` with the (already truncated) topic. A template without
    * `$topic` yields a constant => Catalyst constant-folds the whole
    * derivation into a literal (single-stream mode).
    */
  def streamIdTemplate(template: String, topic: Column): Column =
    if (!template.contains("$topic")) lit(template)
    else {
      // split on the placeholder and interleave; avoids regex escaping of '$'
      val parts = template.split(java.util.regex.Pattern.quote("$topic"), -1)
      val cols = parts.toIndexedSeq.map(lit(_): Column)
      concat(cols.head +: cols.tail.flatMap(p => Seq(topic, p)): _*)
    }

  /** Fixed stream id (reference `--stream-id` short-circuit). */
  def fixedStreamId(id: String): Column = lit(id)

  /** Name of the corrupt-record sidecar field appended by [[parseJsonLenient]]. */
  val CorruptField = "_corrupt"

  /** F1 — ONE JSON parse per row. `from_json` in PERMISSIVE mode with a
    * corrupt-record sidecar column: the result struct carries the schema
    * fields plus `_corrupt` (NULL when the payload parsed cleanly, the raw
    * text otherwise; the whole struct is NULL for a NULL payload). Validity
    * comes from the SAME parse — no second try_parse_json/variant pass.
    *
    * Schema-first caveat (documented divergence): a well-formed non-object
    * root (`5`, `"x"`, `[1]`) is corrupt under a struct schema, while the
    * reference's JSON.parse accepts it (bin/mqtt-streamr.js:151). Field
    * extraction needs an object root either way; routing-only pipelines
    * (empty schema) should use [[jsonIsValid]] instead.
    */
  def parseJsonLenient(payload: Column, schema: StructType): Column =
    from_json(payload, schema.add(CorruptField, StringType),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptField))

  /** Optimizer barrier: output = `keep` columns plus each staged
    * (name, expr) materialized ONCE per row behind a Generate node.
    * Use when a non-trivial expression is referenced more than once
    * downstream — Columns are trees, not DAGs. The single-parse stage
    * of a JSON payload is `stageBarrier(df, keep, "p" ->
    * parseJsonLenient(payload, schema))`.
    *
    * The `inline(array(struct(...)))` generator is deliberate: a Generate
    * node is an optimizer barrier. A plain Project stage survives
    * CollapseProject when its expression is not "cheap" (from_json is
    * not), but PushDownPredicates inlines any downstream filter's
    * expression THROUGH a Project regardless of cost — a
    * `filter(parsed.isNotNull)` re-derives the whole parse inside the
    * Filter (and again per field at the consumer). Neither rule crosses
    * a Generate, so every downstream reference — filters included —
    * sees each staged name as a plain attribute: exactly one evaluation
    * per row, verified in PLANS.md.
    */
  def stageBarrier(df: DataFrame, keep: Seq[Column], staged: (String, Column)*): DataFrame =
    df.select(keep :+ inline(array(struct(staged.map { case (n, c) => c.as(n) }: _*))): _*)

  /** Validity predicate over a [[parseJsonLenient]] struct. */
  def parseOk(parsed: Column): Column =
    parsed.isNotNull && parsed.getField(CorruptField).isNull

  /** Project the corrupt-record sidecar away: the parsed struct with
    * exactly the user schema's fields (cheap ExtractValues when `parsed`
    * is already an attribute behind a [[stageBarrier]]).
    */
  def parsedPayload(parsed: Column, schema: StructType): Column =
    struct(schema.map(f => parsed.getField(f.name).as(f.name)): _*)

  /** True iff the payload is well-formed JSON (any root: object, array,
    * scalar — JSON.parse semantics, bin/mqtt-streamr.js:151). One variant
    * parse; right for routing-only validity where no fields are read.
    */
  def jsonIsValid(payload: Column): Column =
    payload.isNotNull && try_parse_json(payload).isNotNull

  /** Strict UTF-8 decode of a BINARY payload: NULL when the bytes are not
    * well-formed UTF-8. The reference hands raw bytes straight to
    * `JSON.parse` and drop-counts the failure (bin/mqtt-streamr.js:144,
    * 149-155; Buffer→string replacement chars never parse as JSON) — here
    * undecodable bytes surface as a NULL payload that the parse stage
    * already routes into the same drop-and-count path. The binary→string
    * cast is a byte reinterpretation (non-validating); `try_validate_utf8`
    * supplies the validation, all codegen'd.
    */
  def decodeUtf8Strict(bytes: Column): Column =
    try_validate_utf8(bytes.cast(StringType))
}
