package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.sources.{KafkaContractProvider, KafkaContractSource, KafkaSource}
import graft.streaming.{Ingest, Sinks}

/** The ingest workload: the reference topology `KafkaSource.values →
  * Ingest.parse → Ingest.dataPoints → Sinks.parquetPartitioned` over a
  * `KafkaContractSource` log, loaded two ways in one JVM. A backlog phase
  * drains a pre-loaded log in one trigger (per-row cost dominates); a paced
  * phase then appends records on a fixed schedule and commits them in small
  * triggers (per-trigger cost dominates). The backlog drains also warm the
  * JIT for the paced phase. The traced run replaces the sink with a
  * `foreachBatch` that times the layer calls one by one. */
object IngestRun {
  val BacklogEnvelopes = 40000
  val MeasuredDrains = 3
  /** About a fifth of what the backlog phase drains per second on 4
    * cores. Near saturation a slower trigger gathers a bigger next batch,
    * so latency would amplify every run-to-run speed difference. */
  val EnvelopesPerSecond = 2500
  val TickMs = 100
  val WarmupSeconds = 6

  def pacedEnvelopes(seconds: Int): Int = (WarmupSeconds + seconds) * EnvelopesPerSecond

  /** Envelopes the generator pre-builds; the backlog uses the first
    * `BacklogEnvelopes` of them and the paced phase the first
    * `pacedEnvelopes`. */
  def envelopes(seconds: Int): Int = math.max(BacklogEnvelopes, pacedEnvelopes(seconds))

  private val cfg = KafkaSource.Config("contract:9092", Seq(Envelopes.Topic))

  /** Wall time of each traced layer call, summed over triggers. */
  final class LayerTimes {
    var parseMs = 0.0; var quarantineMs = 0.0; var writeMs = 0.0; var quarantined = 0L
  }

  private def start(spark: SparkSession, log: String, out: String, ckpt: String,
      trigger: Trigger, layers: Option[LayerTimes]): StreamingQuery = {
    val values = KafkaSource.values(
      spark.readStream.format(classOf[KafkaContractProvider].getName)
        .options(KafkaSource.options(cfg) + ("registry" -> log)).load())
    layers match {
      case None =>
        Sinks.parquetPartitioned(Ingest.dataPoints(Ingest.parse(values)), out, ckpt, trigger)
      case Some(t) =>
        values.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
          val t0 = System.nanoTime()
          val parsed = Ingest.parse(batch.toDF()).persist()
          parsed.count()
          val points = Ingest.dataPoints(parsed)
          val t1 = System.nanoTime()
          val bad = Ingest.quarantine(parsed).count()
          val t2 = System.nanoTime()
          Sinks.writeBatchPartitioned(points, out)
          val t3 = System.nanoTime()
          parsed.unpersist()
          t.synchronized {
            t.parseMs += (t1 - t0) / 1e6; t.quarantineMs += (t2 - t1) / 1e6
            t.writeMs += (t3 - t2) / 1e6; t.quarantined += bad
          }
          ()
        }.option("checkpointLocation", ckpt).trigger(trigger).start()
    }
  }

  private def mean(ps: Seq[StreamingQueryProgress], key: String): Double =
    if (ps.isEmpty) 0.0 else ps.map(p => ProgressLog.duration(p, key).toDouble).sum / ps.size

  /** Drains the whole log in one AvailableNow trigger; returns wall ms. */
  private def drain(spark: SparkSession, log: String, out: String, ckpt: String,
      layers: Option[LayerTimes]): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val q = start(spark, log, out, ckpt, Trigger.AvailableNow(), layers)
    q.awaitTermination()
    ((System.nanoTime() - t0) / 1e6, q.exception)
  }

  /** Closed loop: a pre-loaded log drained once to warm up, then
    * `MeasuredDrains` times, each into a fresh sink and checkpoint. */
  def backlog(spark: SparkSession, gen: Envelopes, recs: Array[KafkaContractSource.Rec],
      trace: Boolean, work: String, res: Result): Unit = {
    val log = s"backlog-${System.nanoTime()}"
    KafkaContractSource.put(log, recs.toSeq)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val layers = if (trace) Some(new LayerTimes) else None
    def run(k: Int, into: Option[LayerTimes]): (Double, Check.Sink) = {
      val out = s"$work/backlog/out$k"
      val (ms, err) = drain(spark, log, out, s"$work/backlog/ckpt$k", into)
      res.attempted += recs.length
      val before = res.errors.size
      err.foreach(e => res.errors += s"drain $k failed: ${e.getMessage}")
      val sink = Check.sink(spark, out, gen, 0, recs.length, res.errors)
      if (res.errors.size > before) res.failed += recs.length
      (ms, sink)
    }
    run(0, None)
    progress.clear()
    val drains = (1 to MeasuredDrains).map(run(_, layers))
    spark.streams.removeListener(progress)
    KafkaContractSource.put(log, Nil)
    System.err.println(s"[perfbench] drains (ms): ${drains.map(_._1.round).mkString(" ")}")
    res("throughput_per_s") = recs.length / (Stats.median(drains.map(_._1)) / 1000.0)

    res("engine.add_batch_ms") = mean(progress.reports.filter(_.numInputRows > 0), "addBatch")
    res("ingest.rows_out") = drains.last._2.rows
    res("sinks.bytes") = drains.last._2.bytes
    layers.foreach { t =>
      res("ingest.parse_ms") = t.parseMs / MeasuredDrains
      res("ingest.quarantine_ms") = t.quarantineMs / MeasuredDrains
      res("ingest.quarantined") = t.quarantined / MeasuredDrains
      res("sinks.write_ms") = t.writeMs / MeasuredDrains
    }
  }

  /** Open loop: one generator thread appends a tick of pre-built records
    * every 100 ms; each record's Kafka timestamp is its due time, so a late
    * generator counts as latency. Ticks in the first `WarmupSeconds` are
    * not measured. */
  def paced(spark: SparkSession, gen: Envelopes, recs: Array[KafkaContractSource.Rec],
      trace: Boolean, work: String, res: Result): Unit = {
    val perTick = EnvelopesPerSecond * TickMs / 1000
    val ticks = recs.length / perTick
    val warmTicks = WarmupSeconds * 1000 / TickMs
    // tickEnd(k)(p): end offset of partition p once tick k is appended
    val tickEnd = Array.ofDim[Long](ticks, Envelopes.Partitions)
    val ends = new Array[Long](Envelopes.Partitions)
    for (k <- 0 until ticks) {
      for (i <- k * perTick until (k + 1) * perTick) ends(recs(i).partition) += 1
      Array.copy(ends, 0, tickEnd(k), 0, ends.length)
    }
    def covers(e: Map[Int, Long], want: Array[Long]) =
      want.indices.forall(p => want(p) == 0 || e.getOrElse(p, 0L) >= want(p))

    val log = s"paced-${System.nanoTime()}"
    KafkaContractSource.put(log, Nil)
    val appended = new AtomicLong(0)
    val due = new Array[Long](ticks)
    val late = new Array[Long](ticks)
    val progress = new ProgressLog
    @volatile var lagMax = 0L
    @volatile var measuring = false
    progress.onReport = p => if (measuring) {
      val committed = ProgressLog.endOffsets(p).values.sum
      lagMax = math.max(lagMax, appended.get - committed)
    }
    spark.streams.addListener(progress)
    val layers = if (trace) Some(new LayerTimes) else None
    val out = s"$work/paced/out"
    val q = start(spark, log, out, s"$work/paced/ckpt", Trigger.ProcessingTime(0), layers)
    val t0 = System.currentTimeMillis() + 500
    val generator = new Thread(() => {
      for (k <- 0 until ticks) {
        due(k) = t0 + k.toLong * TickMs
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (k == warmTicks) measuring = true
        KafkaContractSource.append(log,
          recs.slice(k * perTick, (k + 1) * perTick).map(_.copy(timestampMs = due(k))).toSeq)
        appended.addAndGet(perTick)
        late(k) = System.currentTimeMillis() - due(k)
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    q.processAllAvailable()
    // the last report may still be on its way to the listener
    val deadline = System.currentTimeMillis() + 60000
    while (!progress.reports.exists(p => covers(ProgressLog.endOffsets(p), tickEnd(ticks - 1))) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    q.stop()
    spark.streams.removeListener(progress)
    q.exception.foreach(e => res.errors += s"paced query failed: ${e.getMessage}")

    // Commit time of each tick: end of the first trigger whose offsets cover it.
    val reports = progress.reports.filter(_.numInputRows > 0).sortBy(_.batchId)
    val commits = reports.map(p => (ProgressLog.endOffsets(p), ProgressLog.endMs(p)))
    val lat = mutable.ArrayBuffer.empty[(Double, Long)]
    var uncommitted = 0L
    for (k <- warmTicks until ticks)
      commits.find { case (e, _) => covers(e, tickEnd(k)) } match {
        case Some((_, endMs)) => lat += ((endMs - due(k)).toDouble -> perTick.toLong)
        case None => uncommitted += perTick
      }
    val measuredRecords = (ticks - warmTicks).toLong * perTick
    res.attempted += measuredRecords
    if (uncommitted > 0) res.errors += s"$uncommitted measured records never committed"
    val before = res.errors.size
    val sink = Check.sink(spark, out, gen, 0, recs.length, res.errors)
    res.failed += (if (res.errors.size > before) measuredRecords else uncommitted)
    res("latency_p50_ms") = Stats.percentile(lat.toSeq, 0.5)
    res("latency_p90_ms") = Stats.percentile(lat.toSeq, 0.9)

    // per-layer: the triggers that committed a measured tick
    val warmEnd = tickEnd(warmTicks - 1)
    val measured = reports.zip(commits).collect {
      case (p, (e, _)) if warmEnd.indices.exists(i => e.getOrElse(i, 0L) > warmEnd(i)) => p
    }
    val trig = measured.map(p => ProgressLog.duration(p, "triggerExecution").toDouble -> 1L)
    System.err.println(s"[perfbench] triggers (ms): ${reports.map(p => s"${p.numInputRows}:${ProgressLog.duration(p, "triggerExecution")}").mkString(" ")}")
    res("engine.triggers") = measured.size
    res("engine.trigger_ms_p50") = Stats.percentile(trig, 0.5)
    res("engine.trigger_ms_p90") = Stats.percentile(trig, 0.9)
    res("engine.query_planning_ms") = mean(measured, "queryPlanning")
    res("engine.wal_commit_ms") = mean(measured, "walCommit")
    res("engine.commit_offsets_ms") = mean(measured, "commitOffsets")
    res("sources.latest_offset_ms") = mean(measured, "latestOffset")
    res("sources.get_batch_ms") = mean(measured, "getBatch")
    res("sources.records") = measured.map(_.numInputRows).sum
    res("sinks.files") = sink.files
    res("sinks.files_per_trigger") = sink.files.toDouble / math.max(1, reports.size)
    res("generator.late_max_ms") = late.drop(warmTicks).max
    res("generator.lag_records_max") = lagMax
  }

  /** The single-threaded baseline: one drain of the backlog on one core. */
  def oneCoreRowsPerSecond(spark: SparkSession, gen: Envelopes,
      recs: Array[KafkaContractSource.Rec], work: String, res: Result): Double = {
    val log = s"backlog1-${System.nanoTime()}"
    KafkaContractSource.put(log, recs.toSeq)
    val out = s"$work/backlog1/out"
    val (ms, err) = drain(spark, log, out, s"$work/backlog1/ckpt", None)
    err.foreach(e => res.errors += s"one-core drain failed: ${e.getMessage}")
    Check.sink(spark, out, gen, 0, recs.length, res.errors)
    gen.validEnvelopes(0, recs.length).toLong * Envelopes.PointsPerEnvelope / (ms / 1000.0)
  }
}
