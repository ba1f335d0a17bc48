package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Records every trigger's progress report. Each report is posted after
  * its trigger committed, so its offsets say which records are durable. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  /** Called on the listener thread with each report as it arrives. */
  @volatile var onReport: StreamingQueryProgress => Unit = _ => ()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    onReport(e.progress)
    synchronized(buf += e.progress)
  }
  def reports: Seq[StreamingQueryProgress] = synchronized(buf.toList)
  def clear(): Unit = synchronized(buf.clear())
}

object ProgressLog {
  /** Wall-clock end of the trigger, epoch ms. */
  def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration

  def duration(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  /** Per-partition end offsets of the (single) source, `{"topic":{"p":n}}`. */
  def endOffsets(p: StreamingQueryProgress): Map[Int, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    if (p.sources.isEmpty || p.sources(0).endOffset == null) Map.empty
    else JsonMethods.parse(p.sources(0).endOffset) match {
      case JObject(topics) => topics.flatMap {
        case (_, JObject(parts)) => parts.collect { case (k, JInt(v)) => k.toInt -> v.toLong }
        case _ => Nil
      }.toMap
      case _ => Map.empty
    }
  }
}

/** Task metrics summed per Spark job group. Jobs inherit the group set
  * with `setJobGroup`, including those AQE starts on other threads. */
final class JobTrace extends SparkListener {
  final class Acc {
    var jobs = 0; var tasks = 0
    var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val accs = mutable.HashMap.empty[String, Acc]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  @volatile private var fenced = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      if (g != JobTrace.Fence) accs.getOrElseUpdate(g, new Acc).jobs += 1
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) stageGroup(e.stageInfo.stageId) = g
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = accs.getOrElseUpdate(g, new Acc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.durations += e.taskInfo.duration
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobGroup.remove(e.jobId).contains(JobTrace.Fence)) fenced = true
  }

  def get(group: String): Option[Acc] = synchronized(accs.get(group))

  /** Runs one job in the fence group and waits until its end event is
    * seen: the listener queue is ordered, so every earlier event has
    * then been handled too. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    fenced = false
    val sc = spark.sparkContext
    sc.setJobGroup(JobTrace.Fence, JobTrace.Fence)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!fenced && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }
}

object JobTrace {
  val Fence = "perfbench-fence"
}

object Stats {
  /** Percentile over weighted samples, nearest rank. */
  def percentile(samples: Seq[(Double, Long)], q: Double): Double = {
    val s = samples.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) return 0.0
    val total = s.map(_._2).sum
    val rank = math.max(1L, math.ceil(q * total).toLong)
    var seen = 0L
    s.find { case (_, w) => seen += w; seen >= rank }.map(_._1).getOrElse(s.last._1)
  }
  def median(xs: Seq[Double]): Double = percentile(xs.map(_ -> 1L), 0.5)

  def gc(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Peak resident set of this process, MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
