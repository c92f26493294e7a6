package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: set up (timed, from JVM start), prepare
  * (untimed), then measure for the given seconds.
  */
trait Workload {
  def setup(s: SparkSession, dir: String): Unit
  def prepare(s: SparkSession, dir: String): Unit = ()
  def measure(s: SparkSession, tr: Option[Tracer], seconds: Double): Result
  /** What the oracle check needs, and the digests to cache once it passes. */
  def oracle: Map[String, Any]
}

/** End-to-end metrics, per-layer metrics (traced units only) and detail. */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    detail: Map[String, Any])

object Result {
  import Stats._

  /** One serve_rw request: its kind, latency (ms) and, when traced, its
    * layer sums.
    */
  final case class Op(kind: String, ms: Double, layers: Map[String, Double])

  /** One serve_rw pass: its wall if every request in it succeeded. */
  final case class Block(warm: Boolean, traced: Boolean, wall: Option[Double], ops: Seq[Op])

  private def medianOr(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else median(xs)

  /** Per-key median over units (a key a unit lacks counts as 0). */
  def medianLayers(units: Seq[Map[String, Double]]): Map[String, Double] =
    units.flatMap(_.keySet).distinct.map(k => k -> median(units.map(_.getOrElse(k, 0.0)))).toMap

  /** The cold pass's compile costs, named apart from the warm ones. */
  private def coldLayers(l: Map[String, Double]): Map[String, Double] =
    Seq("codegen.compile_s", "codegen.classes", "jit.compile_s")
      .map(k => s"cold.$k" -> l.getOrElse(k, 0.0)).toMap

  private def latencies(reads: Seq[Double], writes: Seq[Double]): (Map[String, Double], Map[String, Any]) = {
    val (tailMs, pct) = if (reads.isEmpty) (Double.NaN, Double.NaN) else tail(reads)
    (Map("read_p50_ms" -> medianOr(reads), "write_p50_ms" -> medianOr(writes)),
      Map("read_tail_ms" -> tailMs, "read_tail_percentile" -> pct,
        "reads" -> reads.size, "writes" -> writes.size))
  }

  /** The typical query's latency in a pass, in ms: the geometric mean over
    * its queries, so each query weighs the same whatever its size.
    */
  private def typicalMs(p: Batch.PassRec): Double =
    math.exp(p.perQuery.map(q => math.log(q._2 * 1e3)).sum / p.perQuery.size)

  /** A batch run: the cold pass commits each result (the writes); warm
    * passes digest them (the reads). A read latency is a warm pass's
    * typical query latency, a write latency the cold pass's typical commit.
    */
  def batch(cold: Batch.PassRec, warm: Seq[Batch.PassRec], traced: Seq[Batch.PassRec]): Result = {
    val walls = warm.flatMap(_.wall)
    val (lat, latDetail) = latencies(
      warm.filter(_.perQuery.nonEmpty).map(typicalMs), Seq(cold).filter(_.perQuery.nonEmpty).map(typicalMs))
    val tracedWalls = traced.flatMap(_.wall)
    val layers = if (traced.isEmpty) Map.empty[String, Double] else
      medianLayers(traced.map(_.layers)) ++ coldLayers(cold.layers) +
        ("trace.overhead_s" -> (medianOr(tracedWalls) - medianOr(walls)))
    Result(
      Map("cold_pass_s" -> cold.wall.getOrElse(Double.NaN), "pass_s" -> medianOr(walls)) ++ lat,
      layers,
      latDetail ++ Map("cold_pass_s" -> cold.wall, "warm_pass_s" -> walls,
        "traced_pass_s" -> tracedWalls,
        "query_ms" -> warm.flatMap(_.perQuery).groupBy(_._1)
          .map { case (q, xs) => q -> median(xs.map(_._2 * 1e3)) },
        "write_ms" -> cold.perQuery.map { case (q, w) => q -> w * 1e3 }.toMap))
  }

  def serve(blocks: Seq[Block], compacts: Seq[(Double, Map[String, Double])],
      bytesPerLiveByte: Double): Result = {
    def ops(bs: Seq[Block], kinds: Set[String]) = bs.flatMap(_.ops.filter(o => kinds(o.kind)))
    val untraced = blocks.filter(!_.traced)
    val warm = untraced.filter(_.warm)
    val warmTraced = blocks.filter(b => b.warm && b.traced)
    // the latencies are those of warm untraced requests; the cold pass's
    // are in cold_pass_s
    val reads = ops(warm, Set("read")).map(_.ms)
    val (lat, latDetail) = latencies(reads, ops(warm, Set("append", "delete")).map(_.ms))
    val layers = if (warmTraced.isEmpty) Map.empty[String, Double] else {
      val tracedReads = ops(warmTraced, Set("read"))
      def kindMs(k: String) = medianOr(ops(warmTraced, Set(k)).map(_.ms))
      val coldSums = blocks.head.ops.flatMap(_.layers).groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      medianLayers(tracedReads.map(_.layers)) ++ coldLayers(coldSums) ++ Map(
        "write.append_ms" -> kindMs("append"), "write.delete_ms" -> kindMs("delete"),
        "write.compact_ms" -> medianOr(compacts.map(_._1)),
        "ixset.bytes_per_live_byte" -> bytesPerLiveByte,
        "trace.overhead_s" -> (medianOr(tracedReads.map(_.ms)) - medianOr(reads)) / 1e3)
    }
    Result(
      Map("cold_pass_s" -> blocks.head.wall.getOrElse(Double.NaN),
        "pass_s" -> medianOr(warm.flatMap(_.wall))) ++ lat,
      layers,
      latDetail ++ Map("cold_pass_s" -> blocks.head.wall, "warm_pass_s" -> warm.flatMap(_.wall),
        "ops" -> blocks.map(b => b.ops.map(o => s"${o.kind}:${"%.1f".format(o.ms)}")),
        "compact_ms" -> compacts.map(_._1)))
  }
}
