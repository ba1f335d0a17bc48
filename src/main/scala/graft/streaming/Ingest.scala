package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope

/** The reference pipeline (S1), rebuilt as declarative column
  * expressions over either a batch or a streaming DataFrame — the same
  * plan works for both (Structured Streaming's incremental execution).
  *
  * Reference semantics reproduced (RawDataIngestion.java:129–149):
  *   - 1 envelope → N rows via explode of the `data` array (:134)
  *   - datastream_id (:136)
  *   - day = yyyyMMdd of dateTime (:137; UTC here — documented deviation)
  *   - datetime = timestamp of epoch-ms dateTime (:138)
  *   - offset = offset / 60000 with Java int division, truncating
  *     toward zero incl. negatives (:139 — `div` matches)
  *   - sample kept as the raw JSON text of whatever value shape (:140)
  *
  * Deviation (SURVEY.md §1.4.1): malformed/structurally-invalid
  * envelopes go to a quarantine output instead of crashing the batch
  * (the reference NPEs on them).
  *
  * Scale notes: the whole pipeline is narrow (zero shuffles), so
  * ingestion parallelism = source partitions, exactly like the
  * reference's direct-stream design. The optimized plan parses each
  * envelope once (one `from_json`). That parse runs in an interpreted
  * Project outside the WholeStageCodegen stage, because `JsonToStructs`
  * is `CodegenFallback`; the explode and the scalar derivations run in
  * the codegen'd stage above it. One streaming Jackson pass per envelope
  * replaces the reference's per-record Gson DOM parsing (SURVEY.md
  * §4.1.2).
  */
object Ingest {

  /** Raw envelope text column → parsed struct (PERMISSIVE: unparseable
    * rows yield a null struct rather than failing the task). */
  def parse(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.withColumn("env", from_json(col(valueCol), Envelope.schema))

  private def invalid: Column =
    col("env").isNull || col("env.data").isNull || col("env.datastream_id").isNull

  /** Rows the reference would have crashed on: kept, routed aside. */
  def quarantine(parsed: DataFrame, valueCol: String = "value"): DataFrame =
    parsed.filter(invalid).select(col(valueCol).as("corrupt_record"))

  /** The envelope→DataPoint transform (schema = graft.model.DataPoint).
    * No `!invalid` filter: a null `env`, `data` or `datastream_id` already
    * explodes to zero rows, and the optimizer would copy the parse into
    * such a filter once per field it tests. */
  def dataPoints(parsed: DataFrame): DataFrame =
    parsed
      .select(col("env.datastream_id").as("datastream_id"),
        explode(when(col("env.datastream_id").isNotNull, col("env.data"))).as("d"))
      .select(
        col("datastream_id"),
        date_format(timestamp_millis(col("d.dateTime")), "yyyyMMdd").as("day"),
        timestamp_millis(col("d.dateTime")).as("datetime"),
        expr("d.offset div 60000").cast("int").as("offset"),
        col("d.sample").as("sample"))

  /** Full pipeline: raw strings → (datapoints, quarantine). */
  def apply(raw: DataFrame, valueCol: String = "value"): (DataFrame, DataFrame) = {
    val parsed = parse(raw, valueCol)
    (dataPoints(parsed), quarantine(parsed, valueCol))
  }

  /** Q55 — the reference's envelope→DataPoint transform under the DuckDB
    * oracle gate (the one reference-central behavior that was ScalaTest-
    * golden only through r8; RawDataIngestion.java:129–149).
    *
    * Fixture: a deterministic pure function of `documents.doc_id` builds
    * one envelope JSON string per doc — 1–3 datapoints (`doc_id % 3`),
    * dateTime = 1700000000000 + doc_id·100000 + i·7919 ms (injective;
    * the spread crosses a UTC midnight so `day` derivation is exercised),
    * offset = (doc_id%7 − 3)·61000 + i·1000 ms (negative values included
    * so the truncate-toward-zero `div` is distinguished from floor:
    * −59000 ms → 0 min under both engines' trunc, −1 under floor), and an
    * opaque object sample {"v":doc_id+i}. Every 10th doc (doc_id%10==7)
    * is malformed — alternating truncated JSON and a valid object missing
    * `data` — and must land in quarantine, surfaced as one summary row
    * (datastream_id −1, day 'quarantine', dt_ms = count).
    *
    * The engine runs the REAL pipeline (string → from_json PERMISSIVE →
    * explode → derivations; the same plan a stream executes
    * incrementally); the oracle never parses JSON on the datapoint side —
    * it rebuilds every output value arithmetically from doc_id (epoch_ms/
    * strftime for day, TRUNC for the int division, string concat for the
    * compact sample rendering, which matches Jackson's copy of the
    * no-whitespace fixture object byte for byte).
    *
    * Presentation: datetime as epoch-ms BIGINT (`unix_millis`) — declared
    * TIMESTAMP output columns are the known driver-hash-incompatible
    * class (q24 history, SparkEntry scaladoc). `dt_ms` is unique across
    * rows and orders the output totally.
    */
  def q55(s: SparkSession, d: String): DataFrame = {
    val docs = graft.sources.Tables.documents(s, d).select(col("doc_id"))
    val nPts = (col("doc_id") % 3 + 1).cast("int")
    val valid = concat(
      lit("{\"datastream_id\":"), col("doc_id") % 50,
      lit(",\"data\":["),
      concat_ws(",", (0 until 3).map { i =>
        when(lit(i) < nPts, concat(
          lit("{\"dateTime\":"),
          lit(1700000000000L) + col("doc_id") * 100000L + lit(i * 7919L),
          lit(",\"offset\":"),
          (col("doc_id") % 7 - 3) * 61000 + lit(i * 1000),
          lit(",\"sample\":{\"v\":"), col("doc_id") + lit(i), lit("}}")))
          .otherwise(lit(null)) // concat_ws skips the unused slots
      }: _*),
      lit("]}"))
    val raw = docs.select(
      when(col("doc_id") % 20 === 7, lit("{\"datastream_id\":"))      // truncated JSON
        .when(col("doc_id") % 20 === 17, lit("{\"datastream_id\":5}")) // missing data array
        .otherwise(valid).as("value"))
    val (dp, qr) = Ingest(raw)
    val main = dp.select(
      col("datastream_id"), col("day"),
      unix_millis(col("datetime")).as("dt_ms"),
      col("offset").as("offset_min"), col("sample"))
    val summary = qr.agg(count(lit(1)).as("dt_ms")).select(
      lit(-1).cast("int").as("datastream_id"), lit("quarantine").as("day"),
      col("dt_ms"), lit(null).cast("int").as("offset_min"),
      lit(null).cast("string").as("sample"))
    main.unionByName(summary).orderBy("dt_ms")
  }
}
