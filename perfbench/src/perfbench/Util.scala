package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value),
      "unit" -> str(m.unit)))))
}

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0,1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}

/** Heap over a window: the peak occupancy right after a collection (what
  * the program retained at its busiest, subject to when collections ran),
  * and the live heap after a full collection at the window's end. */
final class HeapPeak {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification,
        h: Any): Unit = n.getUserData match {
      case cd: javax.management.openmbean.CompositeData
          if n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION =>
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (used > peak) peak = used
      case _ =>
    }
  }
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val heapPools = pools.map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }

  def start(): Unit = {
    peak = 0L
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }
  /** Stop watching; returns (peak after collections, live at the end),
    * both in MB. */
  def stop(): (Double, Double) = {
    // live = the heap right after a full collection (not after whatever the
    // runtime's threads allocate next); later collections reclaim what
    // Spark's cleaner released after the first, so take the least of three
    val live = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }.min
    emitters.foreach(e =>
      try e.removeNotificationListener(listener) catch { case _: Exception => () })
    (peak / (1024.0 * 1024.0), live / (1024.0 * 1024.0))
  }
}

/** Order-insensitive content digest of a DataFrame: row count plus the sum
  * of a 32-bit prefix of each row's MD5. Doubles are rounded to 6 decimals
  * so summation order cannot flip a digest. [[rowDigest]] is the
  * in-memory twin for rows the benchmark generated itself. */
object Digest {
  final case class D(rows: Long, sum: Long)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_number(round(c.cast("double"), 6), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      to_json(transform(c, x => round(x.cast("double"), 6)))
    case _: ArrayType | _: StructType | _: MapType => to_json(c)
    case _ => c.cast("string")
  }

  def of(df: DataFrame): D = {
    val cols = df.schema.fields.toSeq.map(f =>
      coalesce(canon(col(s"`${f.name}`"), f.dataType), lit("\u0000")))
    val h = conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 8), 16, 10)
      .cast("long")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    D(r.getLong(0), r.getLong(1))
  }

  def rowDigest(fields: Seq[Any]): Long = {
    val s = fields.map(_.toString).mkString("\u0001")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
      ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
  }

  def ofRows(rows: Iterable[Seq[Any]]): D =
    D(rows.size.toLong, rows.iterator.map(rowDigest).sum)
}
