package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Testdata-drift tripwire (VERDICT r10 item 2).
  *
  * The driver regenerates `/root/testdata` between rounds and has changed
  * physical column types before (r10: `events.ts` went from INT64
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS), silently zeroing the 10
  * events-table queries mid-round). This check reads the raw parquet
  * footers of all ten tables at startup, logs each column's
  * physical/logical type, and fails loudly when a table carries a shape
  * the engine has no read path for — so a drift surfaces as one clear
  * line at the top of the round log, not as ten analysis errors deep in
  * the correctness run.
  *
  * Footer-only: reads ~KB of metadata per table, no row groups — safe to
  * run unconditionally at the top of Verify/Bench.
  */
object DriftCheck {

  /** Footer type signature of one parquet file: `col:PHYSICAL(logical)`
    * per leaf column. */
  def footerSignature(path: String): Seq[String] = {
    val conf = new Configuration()
    // runs before the session: the FileSystem it caches must be the bound one
    graft.core.ForkFreeLocalFs.hadoopConf.foreach { case (k, v) => conf.set(k, v) }
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    // Driver testdata is a single file; Spark-written tables are dirs of
    // part files (all parts share one schema — footer of the first one).
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).head
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      schema.getColumns.asScala.toSeq.map { cd =>
        val pt = cd.getPrimitiveType
        val logical = Option(pt.getLogicalTypeAnnotation)
          .map(l => s"(${l.toString})").getOrElse("")
        s"${cd.getPath.mkString(".")}:${pt.getPrimitiveTypeName}$logical"
      }
    } finally reader.close()
  }

  private implicit class JIter[A](it: java.util.List[A]) {
    def asScala: Iterator[A] = {
      val i = it.iterator()
      new Iterator[A] { def hasNext = i.hasNext; def next() = i.next() }
    }
  }

  /** Shapes of `events.ts` the engine can read (Tables.events branches on
    * the loaded Spark type; these are the footer-level counterparts). */
  private val knownEventsTs = Set(
    "INT64(TIMESTAMP(NANOS,false))", "INT64(TIMESTAMP(NANOS,true))",
    "INT64(TIMESTAMP(MICROS,false))", "INT64(TIMESTAMP(MICROS,true))",
    "INT64(TIMESTAMP(MILLIS,false))", "INT64(TIMESTAMP(MILLIS,true))",
    "INT64")

  /** Log every table's footer signature; throw on an unrecognized
    * `events.ts` shape. Output goes to stderr so Bench's one-JSON-line
    * stdout contract stays intact. */
  def run(sfDir: String): Unit = {
    Tables.names.foreach { n =>
      val path = s"$sfDir/$n.parquet"
      val sig =
        try footerSignature(path)
        catch { case e: Throwable =>
          throw new IllegalStateException(
            s"[drift] cannot read parquet footer of $path: ${e.getMessage}", e)
        }
      System.err.println(s"[drift] $n: ${sig.mkString(", ")}")
      if (n == "events") {
        val ts = sig.find(_.startsWith("ts:")).map(_.stripPrefix("ts:"))
        if (!ts.exists(knownEventsTs.contains)) throw new IllegalStateException(
          s"[drift] events.ts footer type ${ts.getOrElse("<missing>")} is not a " +
            s"shape Tables.events can read (known: ${knownEventsTs.mkString(", ")}). " +
            "The driver likely regenerated testdata with a new schema — extend " +
            "Tables.events before trusting this round's results.")
      }
    }
  }
}
