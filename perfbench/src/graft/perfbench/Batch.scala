package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GenScale, SparkEntry}

/** Seeded GenScale inputs for the batch workloads. */
object Inputs {
  val DefaultSeed = 42L

  /** Tables whose rows a non-default seed thins, with the key it hashes.
    * lineitem and orders hash the same order key, so the join stays
    * whole; dimension tables are never thinned.
    */
  val FactKey: Map[String, String] = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id",
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey")

  val All: Seq[String] = Seq("documents", "embeddings", "events", "lineitem",
    "orders", "customer", "supplier", "part", "region", "nation")

  /** GenScale's tables at scale factor `sf`, as its own main sizes them.
    * The default seed keeps every row; any other seed drops the 5% of
    * each fact table whose key hashes (with the seed) below 5 of 100 — a
    * shape-preserving variant of the same data.
    */
  def table(s: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    def n(perSf1: Long): Long = math.max(1L, math.round(perSf1 * sf))
    val df = name match {
      case "documents" => GenScale.documents(s, n(50000L), heapsVocab = true)
      case "embeddings" => GenScale.embeddings(s, n(20000L))
      case "events" => GenScale.events(s, n(1000000L), n(15000L))
      case "lineitem" => GenScale.lineitem(s, n(1500000L), n(200000L), n(10000L))
      case "orders" => GenScale.orders(s, n(1500000L), n(150000L))
      case "customer" => GenScale.customer(s, n(150000L))
      case "supplier" => GenScale.supplier(s, n(10000L))
      case "part" => GenScale.part(s, n(200000L))
      case "region" => GenScale.region(s)
      case "nation" => GenScale.nation(s)
      case other => sys.error(s"unknown table $other")
    }
    FactKey.get(name).filter(_ => seed != DefaultSeed).fold(df)(k =>
      df.filter(pmod(xxhash64(lit(seed), col(k)), lit(100L)) >= 5))
  }

  /** Write `tables` under `dir` as `<table>.parquet` directories. */
  def generate(s: SparkSession, dir: String, sf: Double, seed: Long,
      tables: Seq[String]): Unit = tables.foreach { t =>
    table(s, t, sf, seed).repartition(math.max(1, math.min(32, (sf * 8).toInt)))
      .write.mode("overwrite").parquet(s"$dir/$t.parquet")
  }
}

/** `etl_curate` and `iter_train`: registry queries run through
  * `SparkEntry.queries`, each timed to its full result (the digest).
  */
object Batch {
  final case class Spec(queries: Seq[String], sf: Double, tables: Seq[String])

  val Specs: Map[String, Spec] = Map(
    "etl_curate" -> Spec(Seq("q20_edgar_index_parse", "q103_structured_db",
      "q131_partial_ratio", "q58_curation_pipeline", "q144_trained_chain"),
      0.01, Seq("customer", "orders", "lineitem", "supplier", "nation", "documents")),
    "iter_train" -> Spec(Seq("q90_kmeans", "q105_tfidf_kmeans", "q108_cluster_labels",
      "q129_lr_train", "q132_lda_fit", "q135_lr_balanced", "q138_sided_crossval",
      "q141_bpe_train", "q151_svc_train"), 0.1, Inputs.All))

  /** The operator module each benchmarked query lives in. */
  val Module: Map[String, String] = Map(
    "q20_edgar_index_parse" -> "Edgar", "q131_partial_ratio" -> "Edgar",
    "q103_structured_db" -> "BalanceSheet", "q58_curation_pipeline" -> "Curation",
    "q144_trained_chain" -> "Bpe", "q141_bpe_train" -> "Bpe",
    "q90_kmeans" -> "Similarity", "q105_tfidf_kmeans" -> "Similarity",
    "q108_cluster_labels" -> "Similarity", "q132_lda_fit" -> "Similarity",
    "q129_lr_train" -> "LrTrain", "q135_lr_balanced" -> "LrTrain",
    "q151_svc_train" -> "LrTrain", "q138_sided_crossval" -> "MlEval")
  val Modules: Seq[String] =
    Seq("Edgar", "BalanceSheet", "Dedup", "Curation", "Bpe", "LrTrain", "MlEval", "Similarity")

  /** Measured warm passes an untraced run makes at least. */
  val MinWarm = 2

  final case class PassRec(wall: Option[Double], perQuery: Seq[(String, Double)],
      rows: Long, layers: Map[String, Double])
}

final class Batch(o: Opts, ledger: Ledger) extends Workload {
  import Batch._
  import Common._

  private val spec = Specs(o.workload)
  private var dir: String = _
  private val expected = mutable.Map.empty[String, String]
  o.verified.foreach(p => expected ++= Json.readFlat(p))
  private val verifiedAtStart = expected.nonEmpty

  def setup(s: SparkSession, inDir: String): Unit = {
    dir = inDir
    Inputs.generate(s, dir, spec.sf, o.seed, spec.tables)
  }

  private val results = s"${o.work}/results"

  /** One query: construct the frame, then run the timed action on its
    * full result — in the cold pass a commit to parquet, as a one-shot
    * job ends; in a warm pass the digest. Returns the wall and the row
    * count (0 for a commit).
    */
  private def query(s: SparkSession, q: String, tr: Option[Tracer],
      commit: Boolean): Option[(Double, Long)] = {
    def within[A](kind: String)(body: => A): A = tr.fold(body)(_.span(kind, q)(body))
    ledger.attempt(q) {
      val t0 = now()
      val d = within("query") {
        val df = within("construct")(SparkEntry.queries(q)(s, dir))
        within("action") {
          if (commit) { df.write.mode("overwrite").parquet(s"$results/$q"); None }
          else Some(digest(df))
        }
      }
      val w = secs(t0)
      d.foreach(check(q, _))
      (w, d.fold(0L)(_.split(":")(1).toLong))
    }
  }

  /** A digest that differs from the verified one (or, for a seed not yet
    * verified, from the first one computed) is a failure, never timed.
    */
  private def check(q: String, d: String): Unit = expected.get(q) match {
    case Some(e) if e != d => sys.error(s"digest $d differs from expected $e")
    case None => expected(q) = d
    case _ => ()
  }

  private def pass(s: SparkSession, tr: Option[Tracer], name: String,
      commit: Boolean = false): PassRec = {
    def body(): (Seq[(String, Option[(Double, Long)])], Double) = {
      val t0 = now()
      val r = spec.queries.map(q => q -> query(s, q, tr, commit))
      (r, secs(t0))
    }
    val ((res, wall), layers) = tr match {
      case Some(t) => t.unit("pass", name)(body())
      case None => (body(), Map.empty[String, Double])
    }
    val ok = res.forall(_._2.isDefined)
    val perQuery = res.collect { case (q, Some((w, _))) => q -> w }
    val rows = res.collect { case (_, Some((_, n))) => n }.sum
    val extra = if (tr.isEmpty) Map.empty[String, Double] else
      perQuery.map { case (q, w) => s"q.${q}_s" -> w }.toMap ++
        Modules.map(m => s"op.${m}_s" ->
          perQuery.filter(p => Module.get(p._1).contains(m)).map(_._2).sum) ++
        Map("scan.rows_per_result" ->
          (if (rows == 0) 0.0 else layers.getOrElse("scan.rows", 0.0) / rows))
    PassRec(if (ok) Some(wall) else None, perQuery, rows, layers ++ extra)
  }

  def measure(s: SparkSession, tr: Option[Tracer], seconds: Double): Result = {
    val t0 = now()
    tr.foreach(_.on())
    val cold = pass(s, tr, "cold", commit = true)
    // a traced run compares traced and untraced warm passes, so it keeps
    // the first warm pass, which still compiles the digest path, out of both
    tr.foreach { t => t.off(); pass(s, None, "warm-up") }
    val warm = ArrayBuffer.empty[PassRec]
    val traced = ArrayBuffer.empty[PassRec]
    // measured warm passes run until the measuring time is used, at least
    // MinWarm; in a traced run, traced and untraced ones interleave as T U U T
    // (two of each), so warm-up drift cancels out of the tracing overhead
    var i = 0
    def enough = if (tr.isEmpty) warm.size >= MinWarm else warm.size >= 2 && traced.size >= 2
    while (!enough || secs(t0) < seconds) {
      val useTrace = tr.isDefined && (i % 4 == 0 || i % 4 == 3)
      if (useTrace) { tr.get.on(); traced += pass(s, tr, s"warm$i") }
      else { tr.foreach(_.off()); warm += pass(s, None, s"warm$i") }
      i += 1
    }
    tr.foreach(_.off())
    // untimed: each committed result must carry the digest the warm
    // passes computed
    cold.perQuery.foreach { case (q, _) =>
      ledger.attempt(s"$q committed result")(check(q, digest(s.read.parquet(s"$results/$q"))))
    }
    Result.batch(cold, warm.toSeq, traced.toSeq)
  }

  /** What the oracle check needs: the written results, the inputs and
    * each query's DuckDB SQL; the digests to cache once it passes.
    */
  def oracle: Map[String, Any] = Map(
    "kind" -> "duckdb",
    "needed" -> !verifiedAtStart,
    "input_dir" -> dir,
    "results_dir" -> results,
    "sql" -> spec.queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap,
    "digests" -> expected.toMap)
}
