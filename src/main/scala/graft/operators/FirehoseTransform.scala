package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.envelope.Envelope
import graft.functions.codecs

/** The reference's entire data-transformation logic (lambda/main.py:72-98)
  * re-expressed as one declarative, shuffle-free Spark plan.
  *
  * Input:  (recordId: String, data: String)    -- data = base64(gzip(JSON))
  * Output: (recordId: String, result: String, data: String)
  *   result in {Ok, Dropped, ProcessingFailed}; data null when failed.
  *
  * Design notes (100 TB):
  *  - No shuffle anywhere: the per-record event re-assembly
  *    (lambda/main.py:92, a b''.join over logEvents) is one
  *    `array_join` on the UNexploded array, so record-internal event
  *    order is preserved without a groupBy/collect_list (whose
  *    post-shuffle order is nondeterministic). The whole transform is a
  *    narrow map pipeline in a single stage; `from_json` is its one
  *    interpreted expression.
  *  - Corrupt inputs: the reference raises and fails the whole batch
  *    (main.py:74 has no try/except). We instead route
  *    undecodable/unparsable records to ProcessingFailed, the same side
  *    channel as non-DATA_MESSAGE control records: base64 and gzip
  *    decode leniently and `from_json` is PERMISSIVE, so one corrupt
  *    record never fails its batch.
  */
object FirehoseTransform {

  import Envelope.Result._

  /** The record payload (main.py:92): transformLogEvent
    * (main.py:55-69: every "Hello" -> "Hell Yeah", then a "\n"
    * delimiter, main.py:42-44) over each event, in event order.
    * Computed over the joined text instead of per event, with one
    * array_join and one replace: "Hello" holds no "\n", so no match can
    * straddle a delimiter, and null messages are skipped either way. An
    * empty or all-null array yields "".
    */
  private def transformLogEvents(messages: Column): Column =
    when(array_max(messages).isNull, lit(""))
      .otherwise(replace(concat(array_join(messages, "\n"), lit("\n")),
        lit("Hello"), lit("Hell Yeah")))

  /** Java's `\s`: a bare-string payload is `^\s*"` (main.py:80-85). */
  private val Whitespace = " \t\n\u000B\f\r"

  /** Decode + dispatch + transform (processRecords, lambda/main.py:72-98).
    *
    * The decode chain (`gunzip . unbase64`) and the JSON parse are
    * bound to intermediate columns and every downstream expression
    * references THOSE columns — CollapseProject refuses to inline
    * non-cheap expressions referenced more than once, so gunzip and
    * from_json each run once per record instead of once per consuming
    * expression (the dispatch CASEs reference them ~6 times).
    * No regex runs per record: the bare-string test is an ltrim over
    * `\s` and a prefix compare, and `get_json_object` sits behind it in
    * every CASE, so only bare strings pay for it.
    */
  def transform(records: DataFrame): DataFrame = {
    val payload = codecs.gunzip(codecs.unbase64(col("data"), lenient = true),
      lenient = true)
    val text = col("_text")
    val decoded = records
      .select(col("recordId"), payload.cast("string").as("_text"))
      // PERMISSIVE from_json: corrupt JSON => null struct.
      .select(col("recordId"), text, from_json(text, Envelope.ENVELOPE_SCHEMA).as("_env"))

    // Re-ingested data comes back as a bare JSON string (main.py:80-85):
    // json.loads yields a str; pass it through unchanged with result Ok.
    val isBareString = ltrim(text, Whitespace).startsWith("\"")
    val bareValue = get_json_object(text, "$")
    // array_join output is valid UTF-8, so the cast is the encode
    val transformed = codecs.base64Unchunked(
      transformLogEvents(col("_env.logEvents.message")).cast("binary"))

    // A bare-string payload whose JSON is malformed (quote-prefixed
    // but unparsable) must fail like any other corrupt input, not pass
    // through as Ok with null data.
    decoded.select(
      col("recordId"),
      when(isBareString && bareValue.isNull, lit(ProcessingFailed))
        .when(isBareString, lit(Ok))
        .when(col("_env").isNull || col("_env.messageType").isNull, lit(ProcessingFailed))
        .when(col("_env.messageType") =!= "DATA_MESSAGE", lit(ProcessingFailed))
        // DATA_MESSAGE without logEvents: the reference would raise on
        // data['logEvents']; we fail the record rather than emitting
        // Ok-with-null-data.
        .when(col("_env.logEvents").isNull, lit(ProcessingFailed))
        .otherwise(lit(Ok))
        .as("result"),
      when(isBareString, bareValue)
        .when(col("_env").isNull || col("_env.messageType").isNull, lit(null))
        .when(col("_env.messageType") =!= "DATA_MESSAGE", lit(null))
        .when(col("_env.logEvents").isNull, lit(null))
        .otherwise(transformed)
        .as("data"))
  }

  /** Size governor (handler, lambda/main.py:137-151): running
    * `len(data)+len(recordId)` over the batch in arrival order;
    * every record at which the running total exceeds `cap` is marked
    * Dropped, its payload moved to `reingest_data` (the re-ingest
    * queue, main.py:148-151) and removed from `data`.
    * ProcessingFailed records do not count toward the total
    * (main.py:141-142).
    *
    * Scale note: this is BATCH-LOCAL state by construction (the
    * reference resets projectedSize per Lambda invocation), so in
    * streaming it runs inside foreachBatch on micro-batches bounded by
    * the delivery batch size — the single-partition window below is a
    * faithful per-delivery-batch fold, not a global sort of the world.
    * Two guards keep it from being misapplied to an unbounded frame:
    * streaming inputs are rejected eagerly (apply per micro-batch via
    * foreachBatch instead), and any batch larger than `maxBatchRows`
    * fails the job at runtime via `raise_error` rather than silently
    * single-partition-sorting the world.
    */
  def sizeGovernor(transformed: DataFrame, cap: Long = 4000000L,
      orderCol: Option[Column] = None, maxBatchRows: Long = 1000000L): DataFrame = {
    require(!transformed.isStreaming,
      "sizeGovernor is a batch-local fold (single-partition running sum); " +
        "apply it to each micro-batch inside foreachBatch, not to a streaming frame")
    require(maxBatchRows > 0, s"maxBatchRows must be positive, got $maxBatchRows")
    val ord = orderCol.getOrElse(monotonically_increasing_id())
    val w = Window.orderBy(col("_ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val recSize = when(col("result") === ProcessingFailed, lit(0L))
      .otherwise(length(col("data")).cast("long") + length(col("recordId")).cast("long"))
    val drop = col("result") =!= ProcessingFailed && col("_cum") > cap
    transformed
      .select(col("*"), ord.as("_ord"))
      // one window spec -> one Window operator computes both
      .select(col("*"), row_number().over(w).as("_rn"), sum(recSize).over(w).as("_cum"))
      .select(
        col("recordId"),
        when(col("_rn") > maxBatchRows, raise_error(concat(
            lit(s"sizeGovernor: batch exceeds maxBatchRows=$maxBatchRows rows "),
            lit("— this operator is a batch-local fold; bound the batch or raise the limit"))))
          .when(drop, lit(Dropped)).otherwise(col("result")).as("result"),
        when(drop, lit(null)).otherwise(col("data")).as("data"),
        when(drop, col("data")).as("reingest_data"))
  }

  /** Build Firehose-framed records from a DataFrame of envelope columns:
    * to_json -> utf8 -> gzip -> base64 (the producer side of the wire
    * format, main.py:30 + put_test_log_to_log_stream.sh). `envelope`
    * must be a struct column matching ENVELOPE_SCHEMA. to_json output
    * is valid UTF-8, so the binary cast is the encode, without
    * `encode`'s per-row validation.
    */
  def frameRecords(df: DataFrame, recordId: Column, envelope: Column): DataFrame =
    df.select(
      recordId.cast("string").as("recordId"),
      codecs.base64Unchunked(codecs.gzip(to_json(envelope).cast("binary"))).as("data"))
}
