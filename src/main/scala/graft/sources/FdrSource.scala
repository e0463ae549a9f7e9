package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import graft.ocsf.OcsfMappings

/** Reader for raw FDR telemetry: gzipped JSON-lines objects
  * (reference: README.md:34-36, qopcfdr_stream_loader.py:92-136).
  *
  * The reference decompresses one S3 object at a time inside a Lambda;
  * here the whole landing prefix is one `spark.read.text` (Hadoop
  * decompresses `.gz` transparently). A single .gz file is
  * non-splittable, so at 100 TB parallelism comes from the object
  * count — FDR writes thousands of objects per day, giving one task
  * per object, which is exactly the reference's Lambda fan-out
  * re-expressed as Spark partitions.
  *
  * Each line is parsed once into a `fields` map (payload key → value;
  * nested JSON stays as raw JSON text in the value) — the Spark
  * equivalent of the reference's per-line `json.loads`, kept as a map
  * so normalizers can both read fields and compute the `unmapped`
  * remainder with `map_filter`.
  */
object FdrSource {

  private val payloadType = MapType(StringType, StringType)

  /** A1 — gz JSON-lines → DataFrame with `raw` (the line) and `fields`
    * (parsed map). Blank lines are dropped. */
  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("raw")
      .filter(length(trim(col("raw"))) > 0)
      .withColumn("fields", from_json(col("raw"), payloadType))

  /** A2 — the reference's 3-key event-name coalesce
    * (qopcfdr_stream_loader.py:112-127). */
  def eventName(fields: Column): Column =
    coalesce(fields.getItem("event_simpleName"),
             fields.getItem("event_type"),
             fields.getItem("EventType"))

  def withEventName(df: DataFrame): DataFrame =
    df.withColumn("event_name", eventName(col("fields")))
      // lines with no event distinction key are dropped, as in the
      // reference's `continue` (qopcfdr_stream_loader.py:118-127)
      .filter(col("event_name").isNotNull)

  /** A3+A4 — keep only the 122 mapped event types and attach the OCSF
    * base-event columns + sink route (the reference's mappedEvents
    * filter + class routing, qopcfdr_stream_loader.py:129-214), by one
    * [[OcsfMappings.baseEventOf]] lookup per row. Unmapped events are
    * dropped (the reference logs-and-skips them).
    *
    * A lookup, not a join against [[OcsfMappings.dimension]]: Catalyst
    * estimates an inner join as the product of its sides, which made
    * a 10 KB gz batch plan as ~600 MB and sized the fan-out cache to
    * match. A filter and a projection keep the estimate that of the
    * parsed input, and the batch has no exchange. Output: `df`'s
    * columns, then the dimension's minus `eventName`, with the same
    * types and nullability. */
  def mappedWithClass(df: DataFrame): DataFrame = {
    val base = "__graft_base_event"
    val classCols = baseEventFields.map(f => col(base).getField(f).as(f)) :+
      OcsfMappings.routeOf(col("event_name"), col(base).getField("className")).as("route")
    df.withColumn(base, OcsfMappings.baseEventOf(col("event_name")))
      .filter(col(base).isNotNull)
      // never null past the filter; the unreachable fallback types the
      // struct NOT NULL, so the dimension's NOT NULL ints stay NOT NULL
      // (and the lookup, no longer cheap to repeat, runs once a row)
      .withColumn(base, coalesce(col(base), typedLit(OcsfMappings.baseEvents.head)))
      .select(df.columns.map(col).toSeq ++ classCols: _*)
  }

  private val baseEventFields: Seq[String] =
    Encoders.product[OcsfMappings.BaseEvent].schema.fieldNames.toSeq.filterNot(_ == "eventName")

  /** Classified events plus the quarantine relation. The reference
    * logs-and-skips bad lines (py:113-135); at 100 TB a silent drop is
    * invisible data loss, so the skipped lines are a first-class
    * output instead: `quarantined` carries (raw, reason) with reason ∈
    * {unparseable_json, missing_event_key, unmapped_event}, cheap to
    * count per reason or land beside the lake for replay. Both
    * DataFrames share the one scan+parse subtree. */
  final case class Loaded(classified: DataFrame, quarantined: DataFrame)

  def loadWithQuarantine(spark: SparkSession, path: String): Loaded =
    splitQuarantine(
      readJsonLines(spark, path).withColumn("event_name", eventName(col("fields"))))

  /** Shared batch/streaming split: `named` is the parsed relation with
    * (raw, fields, event_name). Map-only on both sides, so in
    * streaming it needs no state store and no static relation. */
  def splitQuarantine(named: DataFrame): Loaded = {
    val good = mappedWithClass(named.filter(col("event_name").isNotNull))
    val quarantined = named
      .filter(col("fields").isNull || col("event_name").isNull ||
        OcsfMappings.baseEventOf(col("event_name")).isNull)
      .select(col("raw"),
        when(col("fields").isNull, "unparseable_json")
          .when(col("event_name").isNull, "missing_event_key")
          .otherwise("unmapped_event").as("reason"))
    Loaded(good, quarantined)
  }

  /** Full front-end: raw gz json-lines path → classified events. */
  def load(spark: SparkSession, path: String): DataFrame =
    mappedWithClass(withEventName(readJsonLines(spark, path)))
}
