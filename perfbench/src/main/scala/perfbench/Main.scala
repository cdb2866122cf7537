package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The benchmark harness JVM: one workload, one closed-loop client thread,
  * `local[nproc]`. Reads the inputs perfbench/gen.py wrote into `--work`,
  * runs set-up, then the workload for `--seconds`, checks every output, and
  * writes its results as one JSON object to `--out`. With `--trace 1` it
  * also writes the spans of the run and the per-layer metrics.
  *
  * Usage: Main --workload <name> --work <dir> --seconds <s> --trace <0|1>
  *             --out <file> [--checksums <file>]
  *        Main --selfcheck <dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("selfcheck")) sys.exit(if (SelfCheck.run(a("selfcheck"))) 0 else 1)
    val run = new Run(a("workload"), a("work"), a("seconds").toDouble, a("trace") == "1",
      a.get("checksums"))
    val res = run.execute()
    Files.write(Paths.get(a("out")), Json.obj(res).getBytes(UTF_8))
    System.err.println(s"perfbench: result written at ${System.currentTimeMillis()}")
  }
}

/** Pass/fail bookkeeping: every operation attempted counts, whether it
  * threw or a check on its output failed. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Runs one operation; a throw counts as a failure, not as a lost op. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)); None
    }
  }

  /** A failed check fails the operation it checks (already counted). */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
}

final class Run(
    workload: String, work: String, seconds: Double, traced: Boolean,
    checksumFile: Option[String]) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = Runtime.getRuntime.availableProcessors()

  private def mark(phase: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s $phase")

  def execute(): Map[String, Any] = {
    val out = new Outcomes
    val spark = GraftSession.local(cores)
    val tracer = new Tracer(spark, traced)
    // no span can time the session (the tracer needs it); it counts from
    // the process start
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    val wl: Workload = workload match {
      case "store_churn" => new StoreChurn(spark, tracer, out, work)
      case "corpus_pipeline" => new CorpusPipeline(spark, tracer, out, work, checksumFile)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    mark("session")
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    mark("setup")
    wl.warmUp()
    mark("warm-up")
    val probePre = Probe.run(spark)
    val gc0 = gcMs()
    val m0 = System.nanoTime()
    wl.measure(seconds)
    val measureS = (System.nanoTime() - m0) / 1e9
    val gcDuring = gcMs() - gc0
    mark("measure")
    val probePost = Probe.run(spark)
    val rec = tracer.finish()
    mark("trace")
    val heapMb = retainedHeapMb()
    mark("heap")
    val e2e = wl.endToEnd() ++ Map(
      "setup_s" -> setupS,
      "retained_heap_mb" -> heapMb)
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        Files.write(Paths.get(work, "spans.jsonl"),
          rec.spanLines.mkString("\n").getBytes(UTF_8))
        Layers.report(rec, sessionMs.toDouble) ++ wl.layerExtras() ++
          Map("jvm.gc_ms" -> gcDuring.toDouble) ++ wl.tracingOverhead()
      }
    mark("report")
    spark.stop()
    mark("stop")
    Map(
      "workload" -> workload,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures.toSeq,
      "session_s" -> sessionMs / 1000.0,
      "measure_s" -> measureS,
      "end_to_end" -> e2e,
      "details" -> wl.details(),
      "per_layer" -> layers,
      "probe_pre" -> probePre,
      "probe_post" -> probePost)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** A workload: set-up, an untimed warm-up, a closed-loop measured phase,
  * and what it reports. */
trait Workload {
  def setup(): Unit
  def warmUp(): Unit
  def measure(seconds: Double): Unit
  def endToEnd(): Map[String, Double]
  def details(): Map[String, Double]
  /** Store facts read from the file system after the run. */
  def layerExtras(): Map[String, Double] =
    Map("store.delta_files" -> 0.0, "store.bytes_on_disk" -> 0.0)
  def tracingOverhead(): Map[String, Double]
}

/** Fixed host-window probe: a single-thread mixing loop and a
  * `local[nproc]` aggregate, each the faster of two passes. It labels slow
  * windows beside the results and never normalizes a metric. */
object Probe {
  def run(spark: SparkSession): Map[String, Double] = {
    def timeMs(body: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }.min
    val st = timeMs {
      var z = 0x243F6A8885A308D3L
      var acc = 0L
      var i = 0
      while (i < 50000000) {
        z += 0x9E3779B97F4A7C15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        acc ^= x ^ (x >>> 31)
        i += 1
      }
      if (acc == 42L) println(acc)
    }
    val mt = timeMs {
      import org.apache.spark.sql.functions._
      spark.range(0L, 50000000L, 1L, spark.sparkContext.defaultParallelism)
        .agg(bit_xor(xxhash64(col("id")))).collect()
    }
    Map("cpu_st_ms" -> st, "cpu_mt_ms" -> mt)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
