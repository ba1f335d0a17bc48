package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.sources.{KafkaSource, Tables}
import graft.streaming.{Ingest, Sinks}

/** Source adapters (A1 Kafka wiring, CSV/JSON scans), sink helpers
  * (A8 limit-10 semantics, foreachBatch fan-out) and the fork-free
  * `file://` binding under the sinks and the checkpoint. */
class SourcesSinksSpec extends SparkSpec {

  test("kafka option map mirrors the reference's direct-stream config") {
    val opts = KafkaSource.options(KafkaSource.Config(
      bootstrapServers = "broker-1:9092,broker-2:9092",
      topics = Seq("rawdata", "rawdata2"),
      maxOffsetsPerTrigger = Some(50000L)))
    assert(opts("kafka.bootstrap.servers") == "broker-1:9092,broker-2:9092")
    assert(opts("subscribe") == "rawdata,rawdata2") // comma-join, :80-81
    assert(opts("startingOffsets") == "earliest")   // auto.offset.reset=smallest, :97
    assert(opts("failOnDataLoss") == "true")
    assert(opts("maxOffsetsPerTrigger") == "50000")
    intercept[IllegalArgumentException](KafkaSource.options(
      KafkaSource.Config("b:9092", Seq.empty)))
    intercept[IllegalArgumentException](KafkaSource.options(
      KafkaSource.Config("b:9092", Seq("a,b"))))
  }

  test("kafka value projection casts binary value to string (A3)") {
    val kafkaShaped = spark.createDataFrame(Seq(
      ("k1".getBytes, """{"datastream_id":1,"data":[]}""".getBytes),
      ("k2".getBytes, "plain".getBytes))).toDF("key", "value")
    val vals = KafkaSource.values(kafkaShaped).collect().map(_.getString(0))
    assert(vals.sameElements(Array("""{"datastream_id":1,"data":[]}""", "plain")))
  }

  test("CSV and JSON-lines scans of nation match the parquet scan") {
    val pq = Tables.nation(spark, sf("sf0.001"))
    val csvDir = tmpDir("nation_csv")
    val jsonDir = tmpDir("nation_json")
    pq.write.mode("overwrite").option("header", "true").csv(csvDir)
    pq.write.mode("overwrite").json(jsonDir)

    val expect = pq.orderBy("n_nationkey").collect().toSeq
    val fromCsv = Tables.csv(spark, csvDir, pq.schema).orderBy("n_nationkey").collect().toSeq
    val fromJson = Tables.jsonLines(spark, jsonDir, pq.schema).orderBy("n_nationkey").collect().toSeq
    assert(fromCsv == expect)
    assert(fromJson == expect)
    assert(Tables.csv(spark, csvDir, pq.schema).schema == pq.schema) // explicit, not inferred
  }

  test("ORC roundtrip of lineitem matches the parquet scan, with pushdown") {
    val pq = Tables.lineitem(spark, sf("sf0.001"))
    val orcDir = tmpDir("lineitem_orc")
    pq.write.mode("overwrite").orc(orcDir)
    val orc = Tables.orc(spark, orcDir, pq.schema)
    val key = Seq("l_orderkey", "l_linenumber").map(col)
    assert(orc.orderBy(key: _*).collect().toSeq ==
      pq.orderBy(key: _*).collect().toSeq)
    // the ORC reader keeps the parquet reader's posture: vectorized
    // batch scan + filter pushed to the scan node
    val plan = orc.filter(col("l_quantity") > 45).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"), plan)
  }

  test("A8: foreachBatchLimit hands the sink at most 10 rows per batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Int]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    // before start: an AvailableNow query reads only what exists when it starts
    mem.addData(1 to 25: _*)
    val q = Sinks.foreachBatchLimit(mem.toDF(), 10,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()) { (rows, id) =>
      seen.synchronized { seen += ((id, rows.length)); () }
    }
    q.processAllAvailable(); q.stop()
    assert(seen.nonEmpty && seen.forall(_._2 <= 10))
    assert(seen.map(_._2).sum >= 10) // the limit actually engaged
  }

  test("fanOut computes the batch once and feeds every sink") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Int]
    val a = scala.collection.mutable.ArrayBuffer.empty[Int]
    val b = scala.collection.mutable.ArrayBuffer.empty[Int]
    mem.addData(1, 2, 3) // before start, as in the A8 test
    val q = Sinks.fanOut(mem.toDF().select(col("value") * 2 as "v"),
      tmpDir("fanout_ckpt"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())(
      (df, _) => a.synchronized { a ++= df.collect().map(_.getInt(0)); () },
      (df, _) => b.synchronized { b ++= df.collect().map(_.getInt(0)); () })
    q.processAllAvailable(); q.stop()
    assert(a.sorted == Seq(2, 4, 6) && b.sorted == Seq(2, 4, 6))
  }

  /** Commands of the child processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
      } finally Files.delete(dump)
    } finally rec.close()
  }

  private def envelopes(n: Int): Seq[String] = (0 until n).map { i =>
    s"""{"datastream_id":${i % 3},"data":[{"dateTime":${1718064000000L + i * 43200000L},"offset":0,"sample":$i}]}"""
  }

  /** One batch write and one checkpointed streaming trigger, each into a
    * fresh directory, recorded for child-process starts. */
  private lazy val localWrites = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val points = Ingest.dataPoints(Ingest.parse(envelopes(6).toDF("value")))
    // first use of the writers outside the recording: one-time class
    // set-up is not a per-file cost
    Sinks.writeBatchPartitioned(points, tmpDir("forkfree_warm"))
    val (batchOut, streamOut, ckpt) = (tmpDir("forkfree_batch"), tmpDir("forkfree_stream"), tmpDir("forkfree_ckpt"))
    val mem = MemoryStream[String]
    mem.addData(envelopes(6): _*)
    val started = processStarts {
      Sinks.writeBatchPartitioned(points, batchOut)
      val q = Sinks.parquetPartitioned(Ingest.dataPoints(Ingest.parse(mem.toDF())),
        streamOut, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      q.exception.foreach(throw _)
    }
    (started, Seq(batchOut, streamOut, ckpt).map(Paths.get(_)))
  }

  private def tree(root: JPath): Seq[JPath] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("local sink writes and checkpoint commits start no child process") {
    val (started, Seq(batchOut, streamOut, ckpt)) = localWrites
    val parts = Seq(batchOut, streamOut).flatMap(tree).filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.size >= 6, parts) // 3 streams x 2 days, each sink
    assert(Files.exists(ckpt.resolve("commits/0")) && Files.exists(ckpt.resolve("offsets/0")))
    assert(started.isEmpty, s"child processes started: ${started.mkString("; ")}")
  }

  test("fork-free writes keep file modes and .crc sidecars") {
    val (_, outs @ Seq(_, _, ckpt)) = localWrites
    val files = outs.flatMap(tree)
    val (dirs, regular) = files.partition(Files.isDirectory(_))
    val written = regular.filterNot(_.getFileName.toString.endsWith(".crc"))
    val made = dirs.filterNot(outs.contains) // the roots are private temp dirs
    assert(made.nonEmpty && made.forall(mode(_) == "rwxr-xr-x"), made.map(d => d -> mode(d)))
    assert(written.forall(mode(_) == "rw-r--r--"), written.map(f => f -> mode(f)))
    val parts = written.filter(_.getFileName.toString.startsWith("part-"))
    val noCrc = parts.filterNot(p => Files.exists(p.resolveSibling(s".${p.getFileName}.crc")))
    assert(parts.nonEmpty && noCrc.isEmpty, s"part files without .crc: $noCrc")
    Seq("offsets/0", "commits/0").map(ckpt.resolve).foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
    }
  }

  test("Sessions.local binds file:// to the fork-free classes at both Hadoop entry points") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration) eq fs)
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("fork-free link status: a symlink still reports its target, a plain file is no link") {
    val dir = Files.createTempDirectory("forkfree_link")
    val target = Files.writeString(dir.resolve("target.txt"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new URI("file:///"), conf)
    val fc = FileContext.getLocalFSFileContext(conf)
    // plain absolute paths: Hadoop's own `readlink` lookup misses a link
    // named by a `file:` URI
    for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)), fc.getFileLinkStatus(new Path(link.toString)))) {
      assert(st.isSymlink, st)
      assert(st.getSymlink.toUri.getPath == target.toString, st)
    }
    for (st <- Seq(fs.getFileLinkStatus(new Path(target.toString)), fc.getFileLinkStatus(new Path(target.toString)))) {
      assert(!st.isSymlink && st.isFile && st.getLen == 3, st)
    }
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("absent").toString)))
  }
}
