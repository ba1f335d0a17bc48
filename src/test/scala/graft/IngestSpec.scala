package graft

import org.apache.spark.sql.functions._
import graft.streaming.Ingest

/** S1 golden tests: the envelope→DataPoint transform, incl. every edge
  * case from SURVEY.md §1.4 / FIXTURES.md §2. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def run(lines: String*) = {
    val (points, quarantine) = Ingest(lines.toDF("value"))
    (points.collect(), quarantine.collect())
  }

  test("happy path: 1 envelope, 2 data elements → 2 DataPoints with exact derivations") {
    val env =
      """{"datastream_id": 17, "data": [
        |  {"dateTime": 1718064000123, "offset": 3600000, "sample": [1.5, 2.5, 3.5]},
        |  {"dateTime": 1718064000456, "offset": 3599999, "sample": {"hr": 72}}
        |]}""".stripMargin
    val (points, quarantine) = run(env)
    assert(quarantine.isEmpty)
    assert(points.length == 2)
    val sorted = points.sortBy(_.getTimestamp(2).getTime)
    val p0 = sorted(0)
    assert(p0.getInt(0) == 17)
    assert(p0.getString(1) == "20240611") // 2024-06-11 UTC
    assert(p0.getTimestamp(2).getTime == 1718064000123L)
    assert(p0.getInt(3) == 60)            // 3600000 ms div 60000 = 60 min
    assert(sorted(1).getInt(3) == 59)     // 3599999 div 60000 truncates to 59
  }

  test("sample keeps raw JSON text for object and array payloads") {
    val env = """{"datastream_id":1,"data":[{"dateTime":1000,"offset":0,"sample":{"hr":72}},{"dateTime":2000,"offset":0,"sample":[1,2]}]}"""
    val (points, _) = run(env)
    val samples = points.map(_.getString(4)).sorted
    assert(samples.exists(_.replaceAll("\\s", "") == """{"hr":72}"""))
    assert(samples.exists(_.replaceAll("\\s", "") == "[1,2]"))
  }

  test("malformed JSON is quarantined, not crashed (deviation from reference NPE)") {
    val (points, quarantine) = run("{oops", """{"datastream_id":1,"data":[{"dateTime":1000,"offset":0,"sample":1}]}""")
    assert(points.length == 1)
    assert(quarantine.map(_.getString(0)).toSeq == Seq("{oops"))
  }

  test("missing or null data array is quarantined") {
    val (points, quarantine) = run("""{"datastream_id":1}""", """{"datastream_id":2,"data":null}""")
    assert(points.isEmpty)
    assert(quarantine.length == 2)
  }

  test("empty data array yields zero rows and no quarantine") {
    val (points, quarantine) = run("""{"datastream_id":1,"data":[]}""")
    assert(points.isEmpty && quarantine.isEmpty)
  }

  test("day flips at the UTC midnight boundary") {
    // 2024-06-11T23:59:59.999Z = 1718150399999; +1 ms = next day
    val env = s"""{"datastream_id":1,"data":[{"dateTime":1718150399999,"offset":0,"sample":1},{"dateTime":1718150400000,"offset":0,"sample":1}]}"""
    val (points, _) = run(env)
    assert(points.map(_.getString(1)).sorted.toSeq == Seq("20240611", "20240612"))
  }

  test("negative offset truncates toward zero like Java int division") {
    val env = """{"datastream_id":1,"data":[{"dateTime":1000,"offset":-90000,"sample":1},{"dateTime":2000,"offset":-120000,"sample":1}]}"""
    val (points, _) = run(env)
    // Java: -90000/60000 = -1 (not floor -2); -120000/60000 = -2
    assert(points.map(_.getInt(3)).sorted.toSeq == Seq(-2, -1))
  }

  test("q55 gate fixture: datapoint expansion, quarantine count, trunc division, UTC day split") {
    val r = Ingest.q55(spark, sf("sf0.001")).collect()
    // 450 valid docs expand by 1 + doc_id%3 (898 points) + 1 quarantine summary
    assert(r.length == 899)
    val q = r.filter(_.getString(1) == "quarantine")
    assert(q.length == 1 && q.head.getInt(0) == -1 && q.head.getLong(2) == 50L)
    // doc_id=2 carries offsets -61000/-60000/-59000 ms → -1, -1, 0 minutes
    // (truncation toward zero; floor would give -1, -1, -1)
    val d2 = r.filter(x => x.getInt(0) == 2 && !x.isNullAt(3) &&
      x.getLong(2) >= 1700000200000L && x.getLong(2) < 1700000300000L)
    assert(d2.map(_.getInt(3)).sorted.toSeq == Seq(-1, -1, 0))
    // the dateTime spread crosses one UTC midnight
    assert(r.map(_.getString(1)).distinct.sorted.toSeq ==
      Seq("20231114", "20231115", "quarantine"))
    // opaque sample survives as compact JSON text
    assert(d2.map(_.getString(4)).contains("""{"v":3}"""))
  }

  test("pipeline stays narrow: no shuffle (Exchange) in the physical plan") {
    val (points, _) = Ingest(Seq("""{"datastream_id":1,"data":[]}""").toDF("value"))
    val plan = points.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    // a column the optimizer cannot fold, unlike a local Seq
    val raw = spark.range(1).select(col("id").cast("string").as("value"))
    val optimized = Ingest.dataPoints(Ingest.parse(raw)).queryExecution.optimizedPlan.toString
    assert("from_json\\(".r.findAllMatchIn(optimized).size == 1, s"not one parse in:\n$optimized")
  }
}
