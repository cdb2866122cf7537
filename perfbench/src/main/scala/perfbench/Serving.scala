package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{KnnSearch, TextStore, VectorIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-side reference for every vector answer: the collected
  * embeddings table scored by brute force in double precision. */
final class Oracle(val ids: Array[Long], val vecs: Array[Array[Float]], val labels: Array[Int]) {
  private val index = ids.zipWithIndex.toMap
  def vec(id: Long): Array[Float] = vecs(index(id))

  def score(s: KnnSearch.Strategy, a: Array[Float], b: Array[Float]): Double = s match {
    case KnnSearch.Cosine => Oracle.cosine(a, b)
    case KnnSearch.InnerProduct =>
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
      d
    case KnnSearch.Euclidean =>
      var d = 0.0; var i = 0
      while (i < a.length) { val x = a(i).toDouble - b(i); d += x * x; i += 1 }
      math.sqrt(d)
  }

  /** Exact scores of every candidate id, best first. */
  def ranked(s: KnnSearch.Strategy, q: Array[Float], keep: Int => Boolean): Seq[(Long, Double)] = {
    val all = ids.indices.filter(keep).map(i => ids(i) -> score(s, q, vecs(i)))
    if (s.descending) all.sortBy(-_._2) else all.sortBy(_._2)
  }
}

object Oracle {
  /** A 4-dp score matches its exact value. */
  def same4(engine: Double, exact: Double): Boolean = math.abs(engine - exact) <= 0.5e-4 + 1e-6

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def load(spark: SparkSession, dir: String): Oracle = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
    new Oracle(rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray), rows.map(_.getInt(2)))
  }

  /** `k` results check out against the exact ranking: each carries its
    * exact score to 4 dp and none ranks below the exact k-th score (ties
    * at the k-th score may pick either id). */
  def topKHolds(
      got: Seq[(Long, Double)], exact: Seq[(Long, Double)], k: Int,
      descending: Boolean): Option[String] = {
    val want = math.min(k, exact.size)
    val byId = exact.toMap
    if (got.size != want) return Some(s"returned ${got.size} rows, expected $want")
    if (want == 0) return None
    val kth = exact(want - 1)._2
    got.collectFirst {
      case (id, _) if !byId.contains(id) => s"id $id is not a candidate"
      case (id, s) if !same4(s, byId(id)) => s"id $id score $s, exact ${byId(id)}"
      case (id, _) if (if (descending) byId(id) < kth - 1e-4 else byId(id) > kth + 1e-4) =>
        s"id $id exact score ${byId(id)} ranks below the k-th ($kth)"
    }
  }
}

/** The reference's /search request: featurize the query text, top-k
  * chunk search, read the top 3 hits back and join them into the RAG
  * context, which the benchmark does itself as the reference's app did. */
final class RagRequest(
    spark: SparkSession, tracer: Tracer, out: Outcomes, docText: Long => Option[String]) {
  import RagRequest._

  /** The hits, best first, or None when the request failed. */
  def run(path: String, req: Long, text: String, lang: Option[String]): Option[Seq[(Long, Double)]] =
    out.op(s"rag request $req") {
      tracer.span("request", req) { _ =>
        val q = tracer.span("TextStore.featurizeText", req)(_ => TextStore.featurizeText(spark, text))
        val filter = lang.map(l => get_json_object(col("metadata"), "$.lang") === lit(l))
        val hits = tracer.span("VectorIndex.searchStore", req) { ctx =>
          val rows = ctx.frame(VectorIndex.searchStore(spark, path, q, K, NProbe, filter))
            .collect().map(r => r.getLong(0) -> r.getDouble(3)).toSeq
          ctx.put("hits", rows.size)
          rows
        }
        val top = hits.take(Context)
        val got = if (top.isEmpty) Seq.empty else tracer.span("VectorIndex.getByIds", req) { ctx =>
          val rows = ctx.frame(VectorIndex.getByIds(spark, path, top.map(_._1))).collect()
            .map(r => (r.getLong(0), r.getString(2), r.getSeq[Float](3).toArray)).toSeq
          ctx.put("hits", rows.size)
          rows
        }
        val context = got.sortBy(g => top.indexWhere(_._1 == g._1)).map { case (id, meta, _) =>
          val (doc, chunk) = (id >> TextStore.ChunkIdBits, id & ((1L << TextStore.ChunkIdBits) - 1))
          val step = TextStore.ChunkSize - TextStore.ChunkOverlap
          val body = docText(doc).map(t => t.slice((chunk * step).toInt,
            (chunk * step).toInt + TextStore.ChunkSize)).getOrElse("")
          s"[$meta] $body"
        }.mkString("\n")
        out.check(hits.nonEmpty, s"request $req: no hits")
        out.check(hits.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)),
          s"request $req: hits not ordered by score")
        out.check(got.map(_._1).toSet == top.map(_._1).toSet,
          s"request $req: getByIds returned ${got.map(_._1)} for ${top.map(_._1)}")
        val score = top.toMap
        got.foreach { case (id, meta, emb) =>
          out.check(Oracle.same4(score(id), Oracle.cosine(q, emb)),
            s"request $req: hit $id score ${score(id)} but cosine ${Oracle.cosine(q, emb)}")
          lang.foreach(l => out.check(meta.contains(s""""lang":"$l""""),
            s"request $req: hit $id metadata $meta fails the lang filter $l"))
        }
        out.check(top.isEmpty || context.nonEmpty, s"request $req: empty context")
        hits
      }
    }
}

object RagRequest {
  val K = 5
  val NProbe = 4
  val Context = 3
}

/** store_churn: RAG and vector-search serving while the chunk store it
  * reads takes appends, updates, deletes and compactions.
  *
  * Every cycle has the same shape, so a run's metrics do not depend on how
  * many cycles fit in it: append a 50-doc batch (40 fresh docs, 10 updates
  * of earlier ones); read the fresh probe text back (it must be the top
  * hit); an exact kNN; delete 10 earlier docs (never to be read again); a
  * text RAG read over the store's deltas; compact; a text RAG read over the
  * compacted single-generation store; an exact kNN and an IVF search of the
  * embeddings store. */
final class StoreChurn(spark: SparkSession, tracer: Tracer, out: Outcomes, work: String)
    extends Workload {
  import spark.implicits._

  private val dir = s"$work/serve"
  private val docs: Map[Long, String] = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  private val rag = new RagRequest(spark, tracer, out, docs.get)
  private var chunkPath: String = _
  private var ivfPath: String = _
  private lazy val oracle = Oracle.load(spark, dir)

  private final case class Cycle(
      docs: Seq[(Long, String, String)], probe: Long, reads: Seq[Array[String]], deletes: Seq[Long])

  private val cycles: Iterator[Cycle] = {
    val lines = Files.readAllLines(Paths.get(dir, "churn.tsv")).asScala.map(_.split("\t", -1))
    lines.groupBy(_(1).toInt).toSeq.sortBy(_._1).iterator.map { case (_, ls) =>
      Cycle(
        ls.collect { case Array("doc", _, id, lang, text) => (id.toLong, text, lang) }.toSeq,
        ls.collectFirst { case Array("probe", _, id) => id.toLong }.get,
        ls.collect { case l if l(0) == "read" => l.drop(2) }.toSeq,
        ls.collect { case Array("delete", _, id) => id.toLong }.toSeq)
    }
  }

  /** (kind, latency ms, traced) of each timed operation. */
  private val timings = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  private var timing = false
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val deleted = mutable.Set.empty[Long]
  private val docsSeen = mutable.Set.empty[Long]
  private var gen = 0L
  private var req = 0L
  private var chunksAdded = 0L
  private var liveAdded = 0L
  private var baseChunks = 0L
  private var elapsedS = 0.0

  def setup(): Unit = {
    chunkPath = tracer.span("TextStore.ensureChunkStore")(_ => TextStore.ensureChunkStore(spark, dir))
    ivfPath = tracer.span("VectorIndex.ensureStore")(_ => VectorIndex.ensureStore(spark, dir))
  }

  /** Runs one operation, timed once the warm-up is over. */
  private def op[T](kind: String)(body: => T): T =
    if (!timing) body
    else {
      val t0 = System.nanoTime()
      try body
      finally timings += ((kind, (System.nanoTime() - t0) / 1e6, tracer.on && !tracer.paused))
    }

  private def lat(kinds: String*): Seq[Double] =
    timings.toSeq.collect { case (k, ms, _) if kinds.contains(k) => ms }

  private def vecId(doc: Long) = doc << TextStore.ChunkIdBits

  private def ragRead(text: String, lang: Option[String]): Option[Seq[(Long, Double)]] = {
    req += 1
    val hits = op("rag")(rag.run(chunkPath, req, text, lang))
    hits.foreach(_.foreach { case (id, _) =>
      val doc = id >> TextStore.ChunkIdBits
      out.check(!deleted.contains(doc), s"request $req returned deleted doc $doc")
    })
    hits
  }

  private def serve(r: Array[String]): Unit = r(0) match {
    case "rag" => ragRead(r(1), Some(r(2)).filter(_ != "-"))
    case "knn" =>
      req += 1
      val q = r(1).toLong
      val strat = r(2) match {
        case "cosine" => KnnSearch.Cosine
        case "inner" => KnnSearch.InnerProduct
        case _ => KnnSearch.Euclidean
      }
      val label = Some(r(3)).filter(_ != "-").map(_.toInt)
      val got = op("knn")(out.op(s"knn $req")(tracer.span("KnnSearch.topK", req) { ctx =>
        val rows = ctx.frame(KnnSearch.topK(spark, dir, strat, RagRequest.K, q,
          label.map(l => col("label") === l))).collect().map(x => x.getLong(0) -> x.getDouble(2)).toSeq
        ctx.put("hits", rows.size)
        rows
      }))
      got.foreach { rows =>
        val exact = oracle.ranked(strat, oracle.vec(q),
          i => oracle.ids(i) != q && label.forall(_ == oracle.labels(i)))
        Oracle.topKHolds(rows, exact, RagRequest.K, strat.descending)
          .foreach(e => out.fail(s"knn $req ($strat, q=$q): $e"))
      }
    case "ivf" =>
      req += 1
      val qv = oracle.vec(r(1).toLong)
      val got = op("ivf")(out.op(s"ivf $req")(tracer.span("VectorIndex.searchStore", req) { ctx =>
        val rows = ctx.frame(VectorIndex.searchStore(spark, ivfPath, qv, RagRequest.K, RagRequest.NProbe))
          .collect().map(x => x.getLong(0) -> x.getDouble(3)).toSeq
        ctx.put("hits", rows.size)
        rows
      }))
      got.foreach { rows =>
        val exact = oracle.ranked(KnnSearch.Cosine, qv, _ => true)
        val byId = exact.toMap
        val kth = exact(RagRequest.K - 1)._2
        rows.foreach { case (id, s) =>
          out.check(Oracle.same4(s, byId(id)), s"ivf $req: id $id score $s, exact ${byId(id)}")
        }
        out.check(rows.size == RagRequest.K, s"ivf $req: ${rows.size} hits")
        recalls += rows.count { case (id, _) => byId(id) >= kth - 1e-4 }.toDouble / RagRequest.K
      }
  }

  private def cycle(c: Int, cy: Cycle): Unit = {
    val Seq(knn1, rag1, rag2, knn2, ivf) = cy.reads
    gen += 1
    val fresh = cy.docs.count(d => !docsSeen(d._1))
    op("append")(out.op(s"append $c")(tracer.span("TextStore.addTexts", c) { ctx =>
      TextStore.addTexts(spark, chunkPath, cy.docs.toDF("doc_id", "text", "lang"), gen)
      ctx.put("chunks", cy.docs.size)
    }))
    cy.docs.foreach(d => docsSeen += d._1)
    if (timing) chunksAdded += cy.docs.size
    liveAdded += fresh
    // read-your-writes: the fresh probe doc is one chunk led by a token of
    // its own, so its own text must rank it first with a cosine of 1
    ragRead(cy.docs.find(_._1 == cy.probe).get._2, None).foreach { h =>
      val best = h.headOption.map(_._2).getOrElse(0.0)
      out.check(best >= 0.9999 && h.exists { case (id, s) => id == vecId(cy.probe) && s == best },
        s"cycle $c: the text just added (doc ${cy.probe}) is not the top hit: ${h.take(3)}")
    }
    serve(knn1)
    gen += 1
    op("delete")(out.op(s"delete $c")(tracer.span("VectorIndex.deleteFromStore", c)(_ =>
      VectorIndex.deleteFromStore(spark, chunkPath, cy.deletes.map(vecId), gen))))
    deleted ++= cy.deletes
    liveAdded -= cy.deletes.size
    serve(rag1)
    op("compact")(out.op(s"compact $c")(tracer.span("VectorIndex.compactStore", c)(_ =>
      VectorIndex.compactStore(spark, chunkPath))))
    Seq(rag2, knn2, ivf).foreach(serve)
  }

  /** One cycle, untimed and untraced. */
  def warmUp(): Unit = {
    baseChunks = spark.read.parquet(s"$chunkPath/vectors").count()
    tracer.paused = true
    cycle(0, cycles.next())
    tracer.paused = false
  }

  /** Whole cycles until the time is up; then every deleted id is read back
    * and must be gone. A traced run alternates traced and untraced cycles,
    * so both see the same cache and store states, and runs at least one of
    * each. */
  def measure(seconds: Double): Unit = {
    timing = true
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var c = 1
    while ((System.nanoTime() < deadline || (tracer.on && c <= 2)) && cycles.hasNext) {
      tracer.paused = tracer.on && c % 2 == 0
      cycle(c, cycles.next())
      c += 1
    }
    elapsedS = (System.nanoTime() - t0) / 1e9
    timing = false
    tracer.paused = false
    out.op("deleted read-back") {
      val back = VectorIndex.getByIds(spark, chunkPath, deleted.toSeq.map(vecId)).count()
      out.check(back == 0, s"$back deleted ids still readable")
    }
  }

  private def storeFiles: Seq[java.nio.file.Path] =
    Files.walk(Paths.get(chunkPath)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  def endToEnd(): Map[String, Double] = Map(
    "p50_ms" -> Stats.median(lat("rag")),
    "throughput_per_s" -> timings.size / elapsedS)

  def details(): Map[String, Double] = {
    val bytes = storeFiles.map(Files.size).sum.toDouble
    val all = timings.map(_._2).toSeq
    Map(
      "rag_p50_ms" -> Stats.median(lat("rag")),
      "knn_exact_p50_ms" -> Stats.median(lat("knn")),
      "knn_ivf_p50_ms" -> Stats.median(lat("ivf")),
      "recall_at_5" -> Stats.mean(recalls.toSeq),
      "write_p50_ms" -> Stats.median(lat("append", "delete")),
      "ingest_chunks_per_s" -> chunksAdded / (lat("append").sum / 1000.0),
      "compact_s" -> Stats.mean(lat("compact")) / 1000.0,
      "space_amp" -> bytes / ((baseChunks + liveAdded) * TextStore.Dim * 4.0),
      "ops_per_s" -> timings.size / elapsedS,
      "operations" -> timings.size.toDouble) ++
      (Stats.tailLevel(all.size) match {
        case Some(p) => Map("tail_ms" -> Stats.percentile(all, p), "tail_level" -> p)
        case None => Map.empty
      })
  }

  override def layerExtras(): Map[String, Double] = {
    val files = storeFiles
    Map(
      "store.delta_files" -> files.count(p => p.toString.contains("vectors_delta") &&
        p.getFileName.toString.endsWith(".parquet")).toDouble,
      "store.bytes_on_disk" -> files.map(Files.size).sum.toDouble)
  }

  /** Traced over untraced median latency per operation kind, weighted by
    * each kind's traced operations. */
  def tracingOverhead(): Map[String, Double] = {
    val perKind = timings.toSeq.groupBy(_._1).toSeq.flatMap { case (_, ts) =>
      val t = ts.collect { case (_, ms, true) => ms }
      val u = ts.collect { case (_, ms, false) => ms }
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t) / Stats.median(u) - 1) * 100 -> t.size.toDouble)
    }
    val n = perKind.map(_._2).sum
    Map("trace.overhead_pct" -> (if (n == 0) 0.0 else perKind.map(x => x._1 * x._2).sum / n))
  }
}
