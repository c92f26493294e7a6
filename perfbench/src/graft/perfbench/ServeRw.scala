package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IndexSet, Quantize, Retrieval}
import graft.streaming.HybridServe

/** `serve_rw`: one closed-loop client against an `IndexSet` published
  * from GenScale documents and embeddings. Each pass is one block of
  * four requests — append, read, delete, read: every read follows a
  * write — with the contents drawn from a seeded stream; a compaction
  * opens every second pass, the first warm one included, so segments
  * build up between compactions. A read is `IndexSet.loadSnapshot` then
  * `HybridServe.fusedWithContent`, so it sees every committed write.
  */
object ServeRw {
  val Sf = 0.02
  val AppendDocs = 3
  val DeleteDocs = 2
  val CompactEvery = 2
  /** Untraced warm passes a run makes at least: enough that the gated
    * reads and writes span a compaction and the segments that follow it.
    */
  val MinWarm = 2
  val FirstNewId = 10000000L
  /** Words per read request: a span of a live document. */
  val RequestWords = 6

  val RequestSchema: StructType = StructType(Seq(
    StructField("query_id", LongType), StructField("text", StringType),
    StructField("pvec", ArrayType(FloatType))))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** One served read, the request before it, and the client's view of
    * the corpus at that time.
    */
  final case class ServedRead(opNo: Long, after: String, req: Row, fit: Quantize.PqIndex,
      docs: Seq[(Long, String)], vecs: Seq[(Long, (Array[Float], Int))], rows: Seq[Row])

  /** Order-insensitive digest of a response's rows. */
  def rowsDigest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

final class ServeRw(o: Opts, ledger: Ledger) extends Workload {
  import Common._
  import Result.Op
  import ServeRw._

  private var root: String = _
  private val liveDocs = mutable.LinkedHashMap.empty[Long, String]
  private val liveVecs = mutable.LinkedHashMap.empty[Long, (Array[Float], Int)]
  private val rng = new SplittableRandom(o.seed)
  private var nextId = FirstNewId
  private var opNo = 0L
  private val verified: Map[String, String] = o.verified.map(Json.readFlat).getOrElse(Map.empty)
  private val digests = mutable.LinkedHashMap.empty[String, String]
  /** Every read, with the client's view of the live corpus when it was
    * served, for the oracle check after the measuring time.
    */
  private val served = ArrayBuffer.empty[ServedRead]
  private var prevKind = ""
  private var corpusDir: String = _

  /** Generate the corpus and publish it. */
  def setup(s: SparkSession, dir: String): Unit = {
    corpusDir = s"$dir/corpus"
    Inputs.generate(s, corpusDir, Sf, o.seed, Seq("documents", "embeddings"))
    root = s"$dir/ixset"
    IndexSet.publish(s, graft.Tables.documents(s, corpusDir).select("doc_id", "text"),
      graft.Tables.embeddings(s, corpusDir), root)
  }

  /** The client's own view of the corpus, for drawing requests and for
    * the oracle (untimed, after set-up).
    */
  override def prepare(s: SparkSession, dir: String): Unit = {
    graft.Tables.documents(s, corpusDir).select("doc_id", "text").collect()
      .foreach(r => liveDocs(r.getLong(0)) = r.getString(1))
    graft.Tables.embeddings(s, corpusDir).collect().foreach(r =>
      liveVecs(r.getLong(0)) = (r.getSeq[Float](1).toArray, r.getInt(2)))
  }

  private def pick[A](xs: collection.IndexedSeq[A]): A = xs(rng.nextInt(xs.size))

  private def nextRequest(): Row = {
    val words = liveDocs(pick(liveDocs.keys.toIndexedSeq)).split(" ")
    val k = math.min(words.length, RequestWords)
    val start = rng.nextInt(words.length - k + 1)
    val vec = liveVecs(pick(liveVecs.keys.toIndexedSeq))._1
    opNo += 1
    Row(1000000L + opNo, words.slice(start, start + k).mkString(" "), vec.toSeq)
  }

  private def df(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(rows.asJava, schema)

  /** One read; returns the snapshot it served from and its response rows. */
  private def read(s: SparkSession, req: Row, tr: Option[Tracer]): (IndexSet.HybridSnapshot, Seq[Row]) = {
    def call[A](name: String)(body: => A): A = tr.fold(body)(_.span("call", name)(body))
    val snap = call("snapshot")(IndexSet.loadSnapshot(s, root))
    (snap, call("fused")(
      HybridServe.fusedWithContent(df(s, Seq(req), RequestSchema), snap).collect().toSeq))
  }

  private def append(s: SparkSession): Unit = {
    val srcIds = liveDocs.keys.toIndexedSeq
    val vecIds = liveVecs.keys.toIndexedSeq
    val docs = (0 until AppendDocs).map { _ =>
      val words = liveDocs(pick(srcIds)).split(" ")
      // a near-copy: the source's words, rotated by a seeded offset
      val r = rng.nextInt(words.length)
      nextId += 1
      (nextId, (words.drop(r) ++ words.take(r)).mkString(" "), liveVecs(pick(vecIds)))
    }
    IndexSet.append(s, df(s, docs.map(d => Row(d._1, d._2)), DocSchema),
      df(s, docs.map(d => Row(d._1, d._3._1.toSeq, d._3._2)), VecSchema), root)
    docs.foreach { d => liveDocs(d._1) = d._2; liveVecs(d._1) = d._3 }
  }

  private def delete(s: SparkSession): Unit = {
    val ids = Iterator.continually(pick(liveDocs.keys.toIndexedSeq)).distinct
      .take(DeleteDocs).toSeq
    IndexSet.delete(s, ids, root)
    ids.foreach { i => liveDocs.remove(i); liveVecs.remove(i) }
  }

  /** Run one request, timed; a traced read also times each serve-path
    * call on its own, outside the request's wall.
    */
  private def op(s: SparkSession, kind: String, tr: Option[Tracer], blockNo: Int): Option[Op] = {
    val req = if (kind == "read") Some(nextRequest()) else None
    val after = prevKind
    prevKind = kind
    var results = 0
    def body(): Double = {
      val t0 = now()
      kind match {
        case "read" =>
          val (snap, rows) = read(s, req.get, tr)
          val w = secs(t0)
          results = rows.size
          served += ServedRead(opNo, after, req.get, snap.pq, liveDocs.toVector, liveVecs.toVector, rows)
          if (blockNo == 0) digests(s"read${opNo}") = rowsDigest(rows)
          w
        case "append" => append(s); secs(t0)
        case "delete" => delete(s); secs(t0)
        case "compact" => IndexSet.compact(s, root); secs(t0)
      }
    }
    ledger.attempt(s"$kind ${opNo}") {
      tr match {
        case None => Op(kind, body() * 1e3, Map.empty)
        case Some(t) =>
          val (w, l) = t.unit(if (kind == "read") "read" else "write", kind)(body())
          val extra = if (kind != "read") Map.empty[String, Double] else
            serveCalls(s, req.get, t) + ("scan.rows_per_result" ->
              (if (results == 0) 0.0 else l.getOrElse("scan.rows", 0.0) / results))
          Op(kind, w * 1e3, l ++ extra)
      }
    }
  }

  /** Each serve-path call timed separately on the request's snapshot. */
  private def serveCalls(s: SparkSession, req: Row, t: Tracer): Map[String, Double] = {
    def ms[A](body: => A): (A, Double) = { val t0 = now(); val r = body; (r, secs(t0) * 1e3) }
    t.off()
    val (snap, snapMs) = ms(IndexSet.loadSnapshot(s, root))
    val reqDf = df(s, Seq(req), RequestSchema)
    val (_, lexMs) = ms(Retrieval.scoreQueries(reqDf.select("query_id", "text"), snap.bm25).collect())
    val (top, semMs) = ms(Quantize.probeTopK(
      reqDf.select(col("query_id").as("probe_id"), col("pvec")), snap.pq, excludeSelf = false).collect())
    val ids = top.map(_.getAs[Long]("vec_id")).toSeq
    val (_, fetchMs) = ms(IndexSet.fetchDocs(snap, ids).collect())
    t.on()
    Map("serve.snapshot_ms" -> snapMs, "serve.lex_ms" -> lexMs, "serve.sem_ms" -> semMs,
      "serve.fetch_ms" -> fetchMs, "ixset.segments" -> snap.manifest.bm25Postings.size.toDouble)
  }

  private val Block = Seq("append", "read", "delete", "read")

  def measure(s: SparkSession, tr: Option[Tracer], seconds: Double): Result = {
    val t0 = now()
    val blocks = ArrayBuffer.empty[Result.Block]
    val compacts = ArrayBuffer.empty[(Double, Map[String, Double])]
    // the first block is the cold pass; after it, untraced and (in a
    // traced run) traced blocks alternate until the measuring time is
    // used, with at least MinWarm untraced warm blocks, or in a traced run
    // one of each kind
    def enough = blocks.count(b => b.warm && !b.traced) >= (if (tr.isEmpty) MinWarm else 1) &&
      (tr.isEmpty || blocks.count(b => b.warm && b.traced) >= 1)
    var b = 0
    while (!enough || secs(t0) < seconds) {
      // a compaction opens every CompactEvery-th pass from the first warm
      // one, so reads follow it both at once and after segments build up
      if (b % CompactEvery == 1) {
        tr.foreach(_.on())
        compacts ++= op(s, "compact", tr, b).map(c => (c.ms, c.layers))
      }
      val btr = tr.filter(_ => b % 2 == 0)
      btr.fold(tr.foreach(_.off()))(_.on())
      val tb = now()
      val ops = Block.map(k => op(s, k, btr, b))
      val wall = secs(tb)
      blocks += Result.Block(b > 0, btr.isDefined,
        if (ops.forall(_.isDefined)) Some(wall) else None, ops.flatten)
      b += 1
    }
    tr.foreach(_.off())
    // every read after an append, and the run's last read (after a delete)
    (served.filter(_.after == "append") ++ served.lastOption).distinct.foreach(checkRead(s, _))
    checkDigests()
    Result.serve(blocks.toSeq, compacts.toSeq, ixsetBytesRatio(s))
  }

  /** On-disk bytes under the index root per byte the current version
    * references (what uncompacted and superseded segments cost).
    */
  private def ixsetBytesRatio(s: SparkSession): Double = {
    val man = IndexSet.readManifest(s, root)
    def bytes(rel: String) = duBytes(new java.io.File(root, rel))
    val segs = Seq("bm25/postings" -> man.bm25Postings, "bm25/dl" -> man.bm25Dl,
      "pq/codes" -> man.pqCodes, "docs" -> man.docs)
    val live = segs.map { case (d, refs) => refs.map(r => bytes(s"$d/seg=${r.id}")).sum }.sum +
      bytes(s"bm25/df/gen=${man.bm25DfGen}") + bytes(s"pq/coarse/gen=${man.pqFitGen}") +
      bytes(s"pq/book/gen=${man.pqFitGen}")
    if (live == 0) 0.0 else duBytes(new java.io.File(root)).toDouble / live
  }

  /** The correctness gate, untimed: a read must equal the frozen-fit
    * in-memory composition over the client's view of the live corpus when
    * it was served (the IndexSetSpec oracle), content included.
    */
  private def checkRead(s: SparkSession, r: ServedRead): Unit = ledger.attempt(s"read ${r.opNo} oracle") {
    val reqs = df(s, Seq(r.req), RequestSchema)
    val docsDf = df(s, r.docs.map { case (i, t) => Row(i, t) }, DocSchema)
    val vecsDf = df(s, r.vecs.map { case (i, (v, l)) => Row(i, v.toSeq, l) }, VecSchema)
    val want = HybridServe.fused(reqs, Retrieval.buildBm25IndexFrom(docsDf),
      r.fit.copy(codes = Quantize.encodeUnder(r.fit.coarse, r.fit.book, vecsDf))).collect().toSeq
    def key(x: Row) = (x.getAs[Long]("query_id"), x.getAs[Long]("rk"),
      x.getAs[Long]("cand_id"), x.getAs[Long]("rrf_u"))
    val got = r.rows.map(key).toSet
    if (got != want.map(key).toSet)
      sys.error(s"served ${got.size} rows unlike the in-memory composition")
    val live = r.docs.toMap
    r.rows.foreach { x =>
      val id = x.getAs[Long]("cand_id")
      if (Option(x.getAs[String]("text")) != live.get(id))
        sys.error(s"content for $id is not the live document")
    }
  }

  /** A seeded run's first-block responses repeat exactly. */
  private def checkDigests(): Unit = ledger.attempt("response digests") {
    verified.foreach { case (k, v) =>
      if (digests.get(k).exists(_ != v)) sys.error(s"response $k digest ${digests(k)} != verified $v")
    }
  }

  def oracle: Map[String, Any] = Map(
    "kind" -> "responses",
    "needed" -> verified.isEmpty,
    "digests" -> digests.toMap)
}
