package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** One tick of one series. `ver` is the correction version used by upsert. */
final case class Tick(ts: Long, price: Double, size: Long, bid: Double, ask: Double, ver: Long)

object Ticks {
  val Schema: StructType = StructType(Seq(
    StructField("uid", StringType), StructField("ts", TimestampType),
    StructField("price", DoubleType), StructField("size", LongType),
    StructField("bid", DoubleType), StructField("ask", DoubleType),
    StructField("ver", LongType)))
  val AllCols: Seq[String] = Schema.fieldNames.toSeq
  val NarrowCols: Seq[String] = Seq("ts", "price")
  val DayUs: Long = 86400L * 1000000L
  val HourUs: Long = 3600L * 1000000L
  /** 2024-01-01T00:00:00Z. */
  val T0: Long = 1704067200L * 1000000L

  def uidName(i: Int): String = f"U$i%04d"

  /** An independent generator per (seed, stream): both are hashed, since
    * SplittableRandom's own seeds step by its gamma and nearby seeds would
    * otherwise yield shifted copies of one sequence.
    */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) + stream))

  private def round4(x: Double) = math.round(x * 1e4) / 1e4

  /** Ticks of one series in `[from, until)` at `perDay` ticks a day on
    * average; timestamps are strictly increasing.
    */
  def series(r: SplittableRandom, from: Long, until: Long, perDay: Int, px0: Double): Seq[Tick] = {
    val n = math.max(1L, (until - from) * perDay / DayUs).toInt
    val step = (until - from) / n
    var px = px0
    (0 until n).map { i =>
      px = math.max(1.0, px * (1.0 + (r.nextDouble() - 0.5) * 0.002))
      val spread = round4(0.0001 * px * (1 + r.nextInt(5)))
      val p = round4(px)
      Tick(from + i * step + r.nextLong(step), p, 1L + r.nextInt(1000), round4(p - spread),
        round4(p + spread), 0L)
    }
  }

  def frame(spark: SparkSession, rows: Seq[(String, Tick)]): DataFrame = {
    val data = new java.util.ArrayList[Row](rows.size)
    rows.foreach { case (u, t) =>
      data.add(Row(u, DateTimeUtils.toJavaTimestamp(t.ts), t.price, t.size, t.bid, t.ask, t.ver))
    }
    spark.createDataFrame(data, Schema)
  }

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def value(uid: String, t: Tick, c: String): Long = c match {
    case "uid" => uid.hashCode.toLong
    case "ts" => t.ts
    case "price" => java.lang.Double.doubleToLongBits(t.price)
    case "size" => t.size
    case "bid" => java.lang.Double.doubleToLongBits(t.bid)
    case "ask" => java.lang.Double.doubleToLongBits(t.ask)
    case "ver" => t.ver
  }

  /** Order-independent checksum of the projected rows. */
  def checksum(rows: Iterable[(String, Tick)], cols: Seq[String]): Long =
    rows.foldLeft(0L) { case (acc, (u, t)) =>
      acc + mix(cols.foldLeft(17L)((h, c) => mix(h * 31 + value(u, t, c))))
    }

  /** Rows read back from the store, as (uid, tick) with absent columns zeroed. */
  def fromRows(rows: Array[Row], uid: String, cols: Seq[String]): Seq[(String, Tick)] = {
    val idx = cols.map(c => c -> cols.indexOf(c)).toMap
    def get[T](r: Row, c: String, z: T): T = idx.get(c).map(i => r.getAs[T](i)).getOrElse(z)
    rows.toSeq.map { r =>
      val u = get[String](r, "uid", uid)
      u -> Tick(DateTimeUtils.fromJavaTimestamp(get[java.sql.Timestamp](r, "ts", null)),
        get(r, "price", 0.0), get(r, "size", 0L), get(r, "bid", 0.0), get(r, "ask", 0.0),
        get(r, "ver", 0L))
    }
  }

  /** Hot series first: the series of rank `r` (0-based) gets weight (r+1)^-s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(i => math.pow(i, -s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): Int = at(r.nextDouble())
    /** The rank at quantile `x` in [0, 1). */
    def at(x: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, x)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** The reference model: every live row of a store, by series and timestamp. */
final class Reference {
  private val bySeries = scala.collection.mutable.LinkedHashMap[String, java.util.TreeMap[Long, Tick]]()

  def put(uid: String, t: Tick): Unit =
    bySeries.getOrElseUpdate(uid, new java.util.TreeMap[Long, Tick]()).put(t.ts, t)

  def slice(uid: String, from: Long, to: Long): Seq[(String, Tick)] = {
    import scala.jdk.CollectionConverters._
    bySeries.get(uid).toSeq.flatMap(_.subMap(from, true, to, true).values.asScala.map(uid -> _))
  }

  def remove(uid: String, from: Long, to: Long): Int =
    bySeries.get(uid).map { m =>
      val sub = m.subMap(from, true, to, true)
      val n = sub.size
      sub.clear()
      n
    }.getOrElse(0)

  def last(uid: String): Long = bySeries.get(uid).map(_.lastKey()).getOrElse(0L)
  def uids: Seq[String] = bySeries.keys.toSeq
  def size: Long = bySeries.values.map(_.size.toLong).sum
  def all: Iterable[(String, Tick)] = {
    import scala.jdk.CollectionConverters._
    bySeries.view.flatMap { case (u, m) => m.values.asScala.map(u -> _) }
  }
}

/** Bookkeeping of generated inputs so a seed's inputs can be fingerprinted. */
final class InputLog {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def addRows(rows: Seq[(String, Tick)]): Unit = {
    val b = java.nio.ByteBuffer.allocate(48)
    rows.foreach { case (u, t) =>
      md.update(u.getBytes("UTF-8"))
      b.clear()
      b.putLong(t.ts).putDouble(t.price).putLong(t.size).putDouble(t.bid).putDouble(t.ask).putLong(t.ver)
      md.update(b.array())
    }
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}
