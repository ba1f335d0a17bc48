package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.core.Sessions

final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  def update(name: String, value: Double): Unit = metrics(name) = value
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def json: String = {
    val ms = metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed, "metrics": $ms, "errors": ${errors.map(Json.str).mkString("[", ", ", "]")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

/** Benchmark program: one workload, one seed, one JSON result file.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  * <tables dir> <process start epoch ms>`; `run.py` builds the inputs,
  * starts this, checks query outputs against the oracle and prints the
  * final line. */
object Main {
  val Cores = 4
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, work, tables, startArg) = args
    val (seed, seconds, trace) = (seedArg.toLong, secondsArg.toInt, traceArg == "1")
    val res = new Result

    // Set-up is repeated and its median reported; the first round also
    // carries JVM start. The last round's session and inputs are kept.
    var begin = startArg.toLong
    var spark: SparkSession = null
    var inputs: () => Unit = () => ()
    val setups = for (round <- 1 to SetupRounds) yield {
      if (spark != null) spark.stop()
      spark = Sessions.local(Cores, "perfbench")
      spark.sparkContext.setLogLevel("WARN")
      inputs = prepare(spark, workload, seed, seconds, trace, work, tables, res)
      val s = (System.currentTimeMillis() - begin) / 1000.0
      begin = System.currentTimeMillis()
      s
    }
    res("setup_s") = Stats.median(setups)
    System.err.println(s"[perfbench] set-up rounds (s): ${setups.mkString(" ")}")
    val (gc0, gcn0) = Stats.gc()
    inputs()
    val (gc1, gcn1) = Stats.gc()
    if (trace) { res("jvm.gc_ms") = gc1 - gc0; res("jvm.gc_count") = gcn1 - gcn0 }
    res("peak_rss_mb") = Stats.peakRssMb()
    if (trace) res.metrics.get("latency_p50_ms").foreach(res("trace.latency_p50_ms") = _)
    if (trace) res.metrics.get("throughput_per_s").foreach(res("trace.throughput_per_s") = _)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), res.json)
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  /** Builds the workload's inputs in `spark` and returns its timed body. */
  private def prepare(spark: SparkSession, workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, tables: String, res: Result): () => Unit =
    workload match {
      case "ingest" =>
        val gen = new Envelopes(seed, IngestRun.envelopes(seconds))
        val recs = gen.records()
        val backlog = recs.take(IngestRun.BacklogEnvelopes)
        () => {
          IngestRun.backlog(spark, gen, backlog, trace, work, res)
          IngestRun.paced(spark, gen, recs.take(IngestRun.pacedEnvelopes(seconds)), trace, work, res)
          if (trace) {
            spark.stop()
            val one = Sessions.local(1, "perfbench-1core")
            one.sparkContext.setLogLevel("WARN")
            res("engine.rows_per_s_1core") = IngestRun.oneCoreRowsPerSecond(one, gen, backlog, work, res)
          }
        }
      case "query_mix" =>
        graft.sources.Tables.names.foreach(graft.sources.Tables(spark, tables, _).schema)
        () => QueryMix.run(spark, tables, seconds, trace, work, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}
