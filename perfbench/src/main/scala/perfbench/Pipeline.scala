package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{CleanCorpus, CorpusOps, Dedup}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** corpus_pipeline: each seeded shard, a corpus directory of its own,
  * goes through the training-data chain, every step into a `noop` sink.
  * Each shard is a new corpus, so per-corpus session caches start cold. */
final class CorpusPipeline(
    spark: SparkSession, tracer: Tracer, out: Outcomes, work: String,
    checksumFile: Option[String]) extends Workload {
  private val shardRoot = s"$work/shards"
  private val planted: Map[String, Seq[Long]] =
    Files.readAllLines(Paths.get(shardRoot, "shards.tsv")).asScala.toSeq
      .map(_.split("\t")).groupBy(_(0)).map { case (s, ls) => s -> ls.map(_(1).toLong) }
  private val shards: Seq[String] =
    Files.list(Paths.get(shardRoot)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("shard-")).toSeq.sorted
  /** (shard, chain ms, docs, traced) of each timed shard. */
  private val timings = mutable.ArrayBuffer.empty[(String, Double, Long, Boolean)]
  private val checksums = mutable.ArrayBuffer.empty[String]

  def setup(): Unit = ()

  private def steps(dir: String): Seq[(String, () => DataFrame)] = Seq(
    "CleanCorpus.cleanFull" -> (() => CleanCorpus.cleanFull(spark, dir)),
    "Dedup.minhashLshRepr" -> (() => Dedup.minhashLshRepr(spark, dir)),
    "CorpusOps.bpeTrain" -> (() => CorpusOps.bpeTrain(spark, dir)),
    "CorpusOps.bpeTokenize" -> (() => CorpusOps.bpeTokenize(spark, dir)),
    "CorpusOps.packSequences" -> (() => CorpusOps.packSequences(spark, dir)),
    "CorpusOps.shuffleAssign" -> (() => CorpusOps.shuffleAssign(spark, dir)))

  /** Order-independent checksum of a frame's rows, taken in the same
    * pass that feeds the sink. */
  private def checksum(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(2147483647L))).as("h"))

  private def runShard(i: Int, shard: String): Unit = {
    val dir = s"$shardRoot/$shard"
    val copies = planted.getOrElse(shard, Nil)
    for ((name, mk) <- steps(dir)) {
      val obs = Observation(s"$shard/$name")
      out.op(s"$shard $name") {
        tracer.span(name, i) { ctx =>
          val df = ctx.frame(mk())
          val survivors =
            if (name == "CleanCorpus.cleanFull")
              Seq(sum(when(col("doc_id").isin(copies: _*), 1L).otherwise(0L)).as("copies"))
            else Nil
          val cols = checksum(df) ++ survivors
          df.observe(obs, cols.head, cols.tail: _*).write.format("noop").mode("overwrite").save()
        }
        val m = obs.get
        checksums += s"$shard\t$name\t${m("n")}\t${m("h")}"
        m.get("copies").foreach(n => out.check(n == 0L,
          s"$shard: $n planted verbatim duplicates survive cleanFull"))
      }
    }
  }

  private def docsIn(shard: String): Long =
    spark.read.parquet(s"$shardRoot/$shard/documents.parquet").count()

  /** Shard 0 warms the JVM up, untimed and untraced. */
  def warmUp(): Unit = {
    tracer.paused = true
    runShard(0, shards.head)
    tracer.paused = false
  }

  /** Whole shards until the time is up. A traced run alternates untraced
    * and traced shards and runs at least one of each. */
  def measure(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    while (i < shards.size &&
        (System.nanoTime() < deadline || (tracer.on && timings.size < 2))) {
      tracer.paused = tracer.on && i % 2 == 1
      val n = docsIn(shards(i))
      val s0 = System.nanoTime()
      runShard(i, shards(i))
      timings += ((shards(i), (System.nanoTime() - s0) / 1e6, n, tracer.on && !tracer.paused))
      i += 1
    }
    tracer.paused = false
    compareChecksums()
  }

  /** Same seed, same shard outputs: the first run with a seed records the
    * checksums, every later run with that seed must reproduce them. */
  private def compareChecksums(): Unit = checksumFile.foreach { f =>
    val p = Paths.get(f)
    if (Files.exists(p)) {
      val before = Files.readAllLines(p, UTF_8).asScala.map { l =>
        val k = l.split("\t").take(2).mkString("\t"); k -> l }.toMap
      for (c <- checksums) {
        val k = c.split("\t").take(2).mkString("\t")
        before.get(k).foreach(b => out.check(b == c, s"checksum changed for the same seed: $b -> $c"))
      }
    } else {
      Files.createDirectories(p.getParent)
      Files.write(p, checksums.mkString("\n").getBytes(UTF_8))
    }
  }

  private def secs = timings.map(_._2).sum / 1000.0

  def endToEnd(): Map[String, Double] = Map(
    "p50_ms" -> Stats.median(timings.map(_._2).toSeq),
    "throughput_per_s" -> timings.map(_._3).sum / secs)

  def details(): Map[String, Double] = Map(
    "pipeline_docs_per_s" -> timings.map(_._3).sum / secs,
    "shards_timed" -> timings.size.toDouble)

  def tracingOverhead(): Map[String, Double] = {
    def rate(traced: Boolean) = {
      val ts = timings.filter(_._4 == traced)
      if (ts.isEmpty) 0.0 else ts.map(_._2).sum / ts.map(_._3).sum
    }
    val (t, u) = (rate(true), rate(false))
    Map("trace.overhead_pct" -> (if (u > 0 && t > 0) (t - u) / u * 100 else 0.0))
  }
}
