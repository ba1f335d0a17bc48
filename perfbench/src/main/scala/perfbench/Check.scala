package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reads an ingest sink back and compares it with the generator's own
  * arithmetic. Every check that fails is returned as a message. */
object Check {

  private val dataPointSchema = StructType(Seq(
    StructField("datastream_id", IntegerType),
    StructField("day", StringType),
    StructField("datetime", TimestampType),
    StructField("offset", IntegerType),
    StructField("sample", StringType)))

  final case class Sink(rows: Long, files: Int, bytes: Long)

  /** Parquet part files under a sink directory, skipping the file sink's
    * own metadata log. */
  def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      } else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  /** Checks the rows of envelopes [lo, hi) landed in `dir` exactly once. */
  def sink(spark: SparkSession, dir: String, gen: Envelopes, lo: Int, hi: Int,
      errors: collection.mutable.Buffer[String]): Sink = {
    val fs = files(dir)
    // One pass: rows per (datastream_id, datetime, sample) key, then totals.
    val r = spark.read.schema(dataPointSchema).parquet(dir)
      .groupBy("datastream_id", "datetime", "sample")
      .agg(count(lit(1)).as("n"),
        sum(shiftright(xxhash64(col("datastream_id"), col("day"),
          unix_millis(col("datetime")), col("offset"), col("sample")), 32)).as("h"))
      .agg(coalesce(sum("n"), lit(0L)),
        coalesce(sum(when(col("datastream_id") === 0, col("n")).otherwise(0L)), lit(0L)),
        coalesce(sum("h"), lit(0L)),
        count(when(col("n") > 1, 1)))
      .head()
    val rows = r.getLong(0)
    val dups = r.getLong(3)
    val expectRows = gen.validEnvelopes(lo, hi).toLong * Envelopes.PointsPerEnvelope
    if (rows != expectRows) errors += s"sink $dir: $rows rows, expected $expectRows"
    if (dups != 0) errors += s"sink $dir: $dups duplicated (datastream_id, datetime, sample) keys"
    if (r.getLong(1) != 0) errors += s"sink $dir: ${r.getLong(1)} rows from malformed envelopes"
    val expectSum = gen.checksum(lo, hi)
    if (r.getLong(2) != expectSum)
      errors += s"sink $dir: checksum ${r.getLong(2)}, expected $expectSum"
    Sink(rows, fs.size, fs.map(_.length).sum)
  }
}
