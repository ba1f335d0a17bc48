package graft.core

import org.apache.spark.sql.SparkSession

/** Session bootstrap (SURVEY.md §2.1 A9 — the reference configures its
  * context in `RawDataIngestion.java:86-91`; here every entry point goes
  * through one builder so semantics-bearing conf lives in exactly one
  * place).
  *
  * Conf choices:
  *  - UTC session timezone: the reference derives its `day` bucket in the
  *    JVM-default zone (`RawDataIngestion.java:137`); we pin UTC for
  *    reproducibility (documented deviation, SURVEY §1.4.3).
  *  - `parquet.nanosAsLong`: the `events` table carries INT64
  *    TIMESTAMP(NANOS) which Spark 4.x refuses natively; the legacy flag
  *    reads it as LongType nanos (converted to µs in Tables.events).
  *    Set here at build time — NOT mutated inside table accessors.
  *  - AQE on (explicit): runtime re-planning (skew joins, partition
  *    coalescing) is part of the 100 TB posture.
  *  - shuffle partitions = cores in local mode; on a real cluster this
  *    would be sized to data volume (AQE coalesces down as needed).
  *  - `file://` bound to `ForkFreeLocalFs` at both Hadoop entry points
  *    (`FileSystem` and `FileContext`): with no native `libhadoop`, Hadoop
  *    spawns one `chmod` process per local file or directory it creates
  *    and one `readlink` per checkpoint log lookup, which set the
  *    per-trigger latency of a local sink. HDFS and S3 paths are untouched.
  *    Hadoop caches `FileSystem` instances JVM-wide, so the binding holds
  *    only if no `file://` instance was made from another conf first.
  */
object Sessions {

  def configure(b: SparkSession.Builder, cpus: Int): SparkSession.Builder =
    ForkFreeLocalFs.hadoopConf.foldLeft(b) { case (b, (k, v)) => b.config(s"spark.hadoop.$k", v) }
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Write TIMESTAMP as INT64 micros, not legacy INT96: INT96 is
      // deprecated, unreadable as a typed value by many readers (pyarrow
      // surfaces it as ns), and breaks bit-exact schema comparison with
      // engines that emit standard micros.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** Local session for the CLI mains and tests. Installs the graft
    * extensions (native `vec_dot`/`vec_norm`/`nfc_normalize` Catalyst
    * expressions); external deployments get the same via
    * `spark.sql.extensions=graft.functions.GraftExtensions`. */
  def local(cpus: Int, appName: String = "graft"): SparkSession =
    configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName)
        .withExtensions(graft.functions.VectorExpressions.install)
        .withExtensions(graft.functions.TextExpressions.install),
      cpus).getOrCreate()

  /** Cores requested via env (driver contract), default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
