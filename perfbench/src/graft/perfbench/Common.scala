package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options shared by every workload. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    cores: Int,
    verified: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = need("work"),
      cores = need("cores").toInt,
      verified = kv.get("verified").filter(p => new java.io.File(p).exists()))
  }
}

/** Minimal JSON rendering for the result record (no library on the
  * classpath is guaranteed to be stable across Spark versions).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (render(v) + "\n").getBytes("UTF-8"))

  /** Flat `{"k": "v", ...}` reader for the verified-digest cache, which
    * this benchmark writes itself (string keys and string values only).
    */
  def readFlat(path: String): Map[String, String] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail the benchmark reports: the highest percentile that still
    * has at least 10 samples beyond it, and never below the median.
    * Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val idx = s.size - 11
    if (idx <= (s.size - 1) / 2) (median(s), 50.0)
    else (s(idx), 100.0 * idx / (s.size - 1))
  }
}

/** Counts every operation the run attempts and every one that failed
  * (an exception or a digest mismatch). A failed operation is never
  * timed: callers record its latency only on success.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

object Common {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-insensitive digest of a full result: the row count and the sum
    * of pmod(xxhash64(every column), 2^31-1). Hashing every column makes
    * the action materialize all of them (a `count()` lets Catalyst prune
    * them); pmod keeps the ANSI long sum from overflowing. Columns are
    * renamed positionally first so duplicate names cannot be ambiguous.
    */
  def digest(df: DataFrame): String = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = d.select(pmod(xxhash64(d.columns.toIndexedSeq.map(col): _*), lit(Int.MaxValue.toLong)).as("h"))
      .agg(sum("h"), count(lit(1))).head()
    s"${if (r.isNullAt(0)) 0L else r.getLong(0)}:${r.getLong(1)}"
  }

  /** A session with the engine's own profile (`graft.GraftSession`). */
  def session(cores: Int): SparkSession = graft.GraftSession(s"local[$cores]", cores)

  /** The largest memory use seen right after a garbage collection: every
    * pool the JVM manages (heap and non-heap), in MB. It follows what the
    * program holds, not how far the collector let the heap grow.
    */
  object PeakAfterGc {
    @volatile private var peak = 0L
    def mb: Double = peak / 1048576.0
    /** Registers the listener, which the first use of this object does. */
    def start(): Unit = ()
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
      case _ => ()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Total bytes of the regular files under a path. */
  def duBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
}
