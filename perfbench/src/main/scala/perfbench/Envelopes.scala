package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.KafkaContractSource.Rec

/** Seeded envelope generator shared by both ingest workloads.
  *
  * Envelope `i` is a pure function of (seed, i): 10 datapoints on one of
  * 64 datastreams, keyed to one of 4 partitions with Kafka's default
  * partitioner. Streams are drawn uniformly. Every 100th envelope is malformed, alternating truncated
  * JSON and an object without `data`; both carry the reserved datastream
  * id 0, which no valid envelope uses. Event times step 10 ms per
  * envelope and are centred on a UTC midnight, so `day` partitions split.
  *
  * The expected sink content is derived from the same arithmetic, never
  * from the engine: `checksum` is the sum over rows of
  * `xxhash64(datastream_id, day, epoch_ms, offset, sample) >> 32`,
  * the expression [[Check]] evaluates over the rows read back. */
final class Envelopes(seed: Long, val n: Int) {
  import Envelopes._

  private def mix(i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(i: Long, salt: Long, bound: Int): Int =
    java.lang.Math.floorMod(mix(i, salt), bound.toLong).toInt

  /** 64 distinct datastream ids in [1, 100000), 16 landing on each
    * partition, so no seed makes one partition's task the straggler. */
  val streams: Array[Int] = {
    val ids = scala.collection.mutable.LinkedHashSet.empty[Int]
    val perPartition = new Array[Int](Partitions)
    var k = 0L
    while (ids.size < Streams) {
      val id = 1 + pick(k, 1, 99999)
      val p = partitionOf(id)
      if (perPartition(p) < Streams / Partitions && ids.add(id)) perPartition(p) += 1
      k += 1
    }
    ids.toArray
  }

  /** First event time: `n` envelopes straddle the midnight ending day 19000 + seed % 1000. */
  val t0: Long = (19000L + java.lang.Math.floorMod(seed, 1000L) + 1) * 86400000L - n.toLong * StepMs / 2

  def malformed(i: Int): Boolean = i % 100 == 99
  def stream(i: Int): Int = if (malformed(i)) 0 else streams(pick(i, 2, Streams))
  def partition(i: Int): Int = partitionOf(stream(i))

  def dateTime(i: Int, j: Int): Long = t0 + i.toLong * StepMs + j
  /** Offset in ms, both signs, so truncating `div` differs from floor. */
  def offsetMs(i: Int, j: Int): Int = pick(i * 16L + j, 3, 1440001) - 720000
  def sample(i: Int, j: Int): String = {
    val a = pick(i * 16L + j, 4, 1000)
    if (j % 2 == 0) s"[$a,${a + 1},${a * 7 % 13}]" else s"""{"hr":$a}"""
  }

  def json(i: Int): String =
    if (!malformed(i)) {
      val sb = new StringBuilder(700)
      sb.append("{\"datastream_id\":").append(stream(i)).append(",\"data\":[")
      var j = 0
      while (j < PointsPerEnvelope) {
        if (j > 0) sb.append(',')
        sb.append("{\"dateTime\":").append(dateTime(i, j))
          .append(",\"offset\":").append(offsetMs(i, j))
          .append(",\"sample\":").append(sample(i, j)).append('}')
        j += 1
      }
      sb.append("]}").toString
    } else if ((i / 100) % 2 == 0) "{\"datastream_id\":0"
    else "{\"datastream_id\":0}"

  /** Every record, offsets dense per partition in index order. The
    * Kafka timestamp is left 0; the paced generator stamps due times. */
  def records(count: Int = n): Array[Rec] = {
    val next = new Array[Long](Partitions)
    Array.tabulate(count) { i =>
      val p = partition(i)
      val off = next(p); next(p) += 1
      Rec(stream(i).toString.getBytes(UTF_8), json(i).getBytes(UTF_8), Topic, p, off, 0L)
    }
  }

  def validEnvelopes(lo: Int, hi: Int): Int = (lo until hi).count(i => !malformed(i))

  /** Expected DataPoint checksum of envelopes [lo, hi). */
  def checksum(lo: Int, hi: Int): Long = {
    var sum = 0L
    var i = lo
    while (i < hi) {
      if (!malformed(i)) {
        var j = 0
        while (j < PointsPerEnvelope) {
          val ms = dateTime(i, j)
          val day = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
            .format(DayFormat)
          var h = XXH64.hashInt(stream(i), 42L)
          h = hashString(day, h)
          h = XXH64.hashLong(ms, h)
          h = XXH64.hashInt(offsetMs(i, j) / 60000, h)
          h = hashString(sample(i, j), h)
          sum += h >> 32
          j += 1
        }
      }
      i += 1
    }
    sum
  }
}

object Envelopes {
  val Topic = "raw"
  val Partitions = 4
  val Streams = 64
  val PointsPerEnvelope = 10
  val StepMs = 10L
  private val DayFormat = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")

  private def hashString(s: String, seed: Long): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }

  /** Kafka's default partitioner: murmur2 of the key bytes, made positive. */
  def partitionOf(ds: Int): Int =
    (murmur2(ds.toString.getBytes(UTF_8)) & 0x7fffffff) % Partitions

  private def murmur2(data: Array[Byte]): Int = {
    val length = data.length
    val m = 0x5bd1e995
    val r = 24
    var h = 0x9747b28c ^ length
    val length4 = length / 4
    var i = 0
    while (i < length4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) + ((data(i4 + 1) & 0xff) << 8) +
        ((data(i4 + 2) & 0xff) << 16) + ((data(i4 + 3) & 0xff) << 24)
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      i += 1
    }
    val rem = length % 4
    val base = length & ~3
    if (rem == 3) h ^= (data(base + 2) & 0xff) << 16
    if (rem >= 2) h ^= (data(base + 1) & 0xff) << 8
    if (rem >= 1) { h ^= data(base) & 0xff; h *= m }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }
}
