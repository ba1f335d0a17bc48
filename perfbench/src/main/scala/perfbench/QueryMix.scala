package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry

/** Closed loop over a fixed query list, one query at a time. */
object QueryMix {
  /** Light set: one query per module, bound by per-job overhead and
    * scans. Each maps to the module that implements it. */
  val light: Seq[(String, String)] = Seq(
    "q13_hash_agg_b" -> "Relational", "q43_tfidf" -> "TextOps",
    "q27_cosine_topk" -> "Similarity", "q28_near_dup_minhash" -> "NearDup",
    "q34_ann_topk" -> "Ann", "q249_haversine_join" -> "Geo",
    "q250_point_in_poly" -> "Spatial", "q120_triangles" -> "Graph",
    "q131_scd2" -> "Warehouse", "q270_hll_error_gate" -> "Sketches",
    "q283_mixture_quotas" -> "Mixture", "q100_fuzzy_join" -> "Entity",
    "q251_quality_clf" -> "Classifier", "q53_multimodal" -> "Multimodal",
    "q276_bpe_conservation" -> "Bpe", "q57_stream_tumbling" -> "StreamOps",
    "q55_ingest" -> "Ingest", "q96_format_roundtrip" -> "Formats")
  /** Pair set: bound by shuffle and memory. */
  val pair: Seq[String] = Seq("q121_item_neighbors", "q130_recommend", "q179_assoc_rules")
  val all: Seq[String] = light.map(_._1) ++ pair
  /** Run once, untimed, before the pass: they absorb the JVM's first-query
    * costs (class loading, codegen, JIT of the common operators), which
    * otherwise land on whichever query comes first. */
  val warmup: Seq[String] = Seq("q01_filter_project", "q06_inner_join", "q17_rank_window")

  private def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  final case class Timing(pass: Int, query: String, buildMs: Double, execMs: Double, leaked: Int) {
    def ms: Double = buildMs + execMs
  }

  /** Writes one pass's collected results to parquet for the oracle
    * compare, with the oracle SQL beside them. Runs after timing. */
  private def writeBack(spark: SparkSession, results: Seq[(String, DataFrame, Array[Row])],
      out: String): Unit = {
    for ((q, df, rows) <- results)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    val json = all.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }

  /** Passes over the whole list until `seconds` have passed, at least
    * one. Each result is collected, which runs every row to the Spark driver
    * as the noop sink would, and the first pass's rows are checked. */
  def run(spark: SparkSession, tables: String, seconds: Int, trace: Boolean,
      work: String, res: Result): Unit = {
    val jobs = if (trace) Some(new JobTrace) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val sc = spark.sparkContext
    warmup.foreach { q => SparkEntry.queries(q)(spark, tables).collect(); sweep(spark) }
    val timings = mutable.ArrayBuffer.empty[Timing]
    val results = mutable.ArrayBuffer.empty[(String, DataFrame, Array[Row])]
    val failed = mutable.LinkedHashSet.empty[String]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      pass += 1
      for (q <- all) {
        sweep(spark)
        sc.setJobGroup(s"$pass/$q", q)
        res.attempted += 1
        try {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, tables)
          val t1 = System.nanoTime()
          val rows = df.collect()
          val t2 = System.nanoTime()
          timings += Timing(pass, q, (t1 - t0) / 1e6, (t2 - t1) / 1e6, sc.getPersistentRDDs.size)
          if (pass == 1) results += ((q, df, rows))
          System.err.println(f"[perfbench] pass $pass $q ${(t2 - t0) / 1e6}%.0f ms")
        } catch { case e: Throwable =>
          res.failed += 1
          if (failed.add(q)) res.errors += s"$q failed: ${e.getMessage}"
        } finally sc.clearJobGroup()
      }
    }
    sweep(spark)
    writeBack(spark, results.toSeq, s"$work/out")

    val lightNames = light.map(_._1).toSet
    val ms = timings.map(t => t.ms -> 1L).toSeq
    res("latency_p50_ms") = Stats.percentile(ms, 0.5)
    res("latency_p90_ms") = Stats.percentile(ms, 0.9)
    res("throughput_per_s") = timings.size / (timings.map(_.ms).sum / 1000.0)

    def perPass(names: Set[String]): Double =
      Stats.median((1 to pass).map(p => timings.filter(t => t.pass == p && names(t.query)).map(_.ms).sum))
    res("light_query_s") = perPass(lightNames) / 1000.0
    res("pair_query_s") = perPass(pair.toSet) / 1000.0

    jobs.foreach { jt =>
      jt.drain(spark)
      sc.removeSparkListener(jt)
      // Medians over passes of each query's (or module's) per-pass sum.
      def layer(prefix: String, queries: Seq[String], detail: Boolean): Unit = {
        def med(f: Int => Double) = Stats.median((1 to pass).map(f))
        def ts(p: Int) = timings.filter(t => t.pass == p && queries.contains(t.query))
        def accs(p: Int) = queries.flatMap(q => jt.get(s"$p/$q"))
        res(s"$prefix.build_ms") = med(p => ts(p).map(_.buildMs).sum)
        res(s"$prefix.exec_ms") = med(p => ts(p).map(_.execMs).sum)
        res(s"$prefix.jobs") = med(p => accs(p).map(_.jobs).sum.toDouble)
        if (detail) {
          res(s"$prefix.tasks") = med(p => accs(p).map(_.tasks).sum.toDouble)
          res(s"$prefix.cpu_ms") = med(p => accs(p).map(_.cpuNs).sum / 1e6)
          res(s"$prefix.gc_ms") = med(p => accs(p).map(_.gcMs).sum.toDouble)
          res(s"$prefix.shuffle_write_bytes") = med(p => accs(p).map(_.shuffleWrite).sum.toDouble)
          res(s"$prefix.spill_bytes") = med(p => accs(p).map(_.spill).sum.toDouble)
          res(s"$prefix.peak_exec_mem_bytes") = med(p => accs(p).map(_.peakMem).foldLeft(0L)(math.max).toDouble)
          res(s"$prefix.task_skew") = med { p =>
            val d = accs(p).flatMap(_.durations).map(_.toDouble)
            val m = Stats.median(d)
            if (m > 0) d.max / m else 0.0
          }
          res(s"$prefix.leaked_rdds") = med(p => ts(p).map(_.leaked).sum.toDouble)
        }
      }
      pair.foreach(q => layer(q.takeWhile(_ != '_'), Seq(q), detail = true))
      light.groupBy(_._2).foreach { case (m, qs) => layer(m, qs.map(_._1), detail = false) }
    }
  }
}
