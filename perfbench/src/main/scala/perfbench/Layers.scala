package perfbench

/** The per-layer metrics of a traced run, `<Module>.<function>.<counter>`.
  * Every traced run reports all of them; a layer the workload never calls
  * reads 0.
  *
  * Counters: `ms` self time; `cpu_ms` executor CPU; `plan_ms` analysis +
  * optimization + planning of the returned frame; `driver_ms` wall time in
  * which none of the call's tasks ran — all medians per call. `jobs`,
  * `stages`, `tasks`, `shuffle_bytes`, `spill_bytes`, `bytes_written`,
  * `files_read`, `exchanges` and `chunks` are means per call;
  * `rows_per_hit` is rows scanned over rows returned, summed over calls. */
object Layers {
  val PipelineOps: Seq[String] = Seq("CleanCorpus.cleanFull", "Dedup.minhashLshRepr",
    "CorpusOps.bpeTrain", "CorpusOps.bpeTokenize", "CorpusOps.packSequences",
    "CorpusOps.shuffleAssign")

  val Spec: Seq[(String, Seq[String])] = Seq(
    "TextStore.ensureChunkStore" -> Seq("ms", "jobs", "cpu_ms", "shuffle_bytes"),
    "VectorIndex.ensureStore" -> Seq("ms", "jobs", "cpu_ms"),
    "TextStore.featurizeText" -> Seq("ms", "jobs", "driver_ms"),
    "VectorIndex.searchStore" -> Seq("ms", "jobs", "tasks", "plan_ms", "driver_ms",
      "files_read", "rows_per_hit", "exchanges"),
    "VectorIndex.getByIds" -> Seq("ms", "jobs", "tasks", "plan_ms", "files_read"),
    "KnnSearch.topK" -> Seq("ms", "jobs", "tasks", "cpu_ms", "plan_ms", "driver_ms",
      "rows_per_hit"),
    "TextStore.addTexts" -> Seq("ms", "jobs", "tasks", "cpu_ms", "shuffle_bytes",
      "bytes_written", "chunks"),
    "VectorIndex.deleteFromStore" -> Seq("ms", "jobs"),
    "VectorIndex.compactStore" -> Seq("ms", "jobs", "cpu_ms", "bytes_written")) ++
    PipelineOps.map(_ -> Seq("ms", "jobs", "stages", "cpu_ms", "shuffle_bytes",
      "spill_bytes", "exchanges"))

  def value(calls: Seq[Tracer.Call], counter: String): Double = {
    def med(f: Tracer.Call => Double) = Stats.median(calls.map(f))
    def avg(f: Tracer.Call => Double) = Stats.mean(calls.map(f))
    def perQuery(f: org.apache.spark.sql.execution.QueryExecution => Double)(k: Tracer.Call) =
      k.c.queries.map(f).sum
    counter match {
      case "ms" => med(_.ms)
      case "cpu_ms" => med(_.c.cpuNs / 1e6)
      case "plan_ms" => med(_.planMs)
      case "driver_ms" => med(_.driverMs)
      case "jobs" => avg(_.c.jobs.toDouble)
      case "stages" => avg(_.c.stages.toDouble)
      case "tasks" => avg(_.c.tasks.toDouble)
      case "shuffle_bytes" => avg(_.c.shuffleBytes.toDouble)
      case "spill_bytes" => avg(_.c.spillBytes.toDouble)
      case "bytes_written" => avg(_.c.bytesWritten.toDouble)
      case "files_read" => avg(perQuery(Plans.filesRead(_).toDouble))
      case "exchanges" => avg(perQuery(Plans.exchanges(_).toDouble))
      case "chunks" => avg(_.ctx.notes.getOrElse("chunks", 0.0))
      case "rows_per_hit" =>
        val hits = calls.map(_.ctx.notes.getOrElse("hits", 0.0)).sum
        if (hits == 0) 0.0 else calls.map(perQuery(Plans.rowsScanned(_).toDouble)).sum / hits
    }
  }

  /** Evaluation sites of each tracked expression per query that
    * evaluates it at all: 1 when every row evaluates it once. */
  def evalsPerRow(rec: Tracer.Recorded): Map[String, Double] = {
    val sites = rec.calls.flatMap(_.c.queries).map(Plans.exprSites)
    Plans.TrackedExprs.map { e =>
      val used = sites.map(_(e)).filter(_ > 0)
      s"functions.$e.evals_per_row" -> (if (used.isEmpty) 0.0 else used.sum.toDouble / used.size)
    }.toMap
  }

  def report(rec: Tracer.Recorded, sessionMs: Double): Map[String, Double] = {
    val byLayer = for ((fn, counters) <- Spec; c <- counters) yield {
      val calls = rec.named(fn)
      s"$fn.$c" -> (if (calls.isEmpty) 0.0 else value(calls, c))
    }
    byLayer.toMap ++ evalsPerRow(rec) + ("GraftSession.local.ms" -> sessionMs)
  }
}
