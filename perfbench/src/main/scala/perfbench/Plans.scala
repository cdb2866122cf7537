package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Facts read from executed plans, from outside the engine. */
object Plans {
  /** Native and built-in expressions whose evaluation count per row is
    * tracked: the filter-pushdown duplication class copies exactly these
    * expensive expressions into a second operator. */
  val TrackedExprs: Seq[String] = Seq("regexp_extract_all", "minhash_sig_hashes",
    "simhash64", "hashing_featurize", "apply_bpe_merges", "poly_fingerprint")

  /** Analysis + optimization + planning time of a frame's query. */
  def planningMs(df: DataFrame): Double = {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(ph.get)
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
  }

  /** Every physical operator that ran, through adaptive wrappers, query
    * stages and subqueries. */
  def operators(qe: QueryExecution): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other +: (other.children.flatMap(walk) ++ other.subqueries.flatMap(walk))
    }
    walk(qe.executedPlan)
  }

  def exchanges(qe: QueryExecution): Int =
    operators(qe).count(_.isInstanceOf[ShuffleExchangeLike])

  private def scanMetric(qe: QueryExecution, key: String): Long =
    operators(qe).collect {
      case s: FileSourceScanExec => s.metrics.get(key).map(_.value).getOrElse(0L)
      case s: BatchScanExec => s.metrics.get(key).map(_.value).getOrElse(0L)
    }.sum

  def filesRead(qe: QueryExecution): Long = scanMetric(qe, "numFiles")
  def rowsScanned(qe: QueryExecution): Long = scanMetric(qe, "numOutputRows")

  /** Operators evaluating expression `name`, per tracked name. Scans are
    * skipped: their data filters are evaluated by the Filter above them. */
  def exprSites(qe: QueryExecution): Map[String, Int] = {
    val ops = operators(qe).filterNot(p =>
      p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[BatchScanExec])
    TrackedExprs.map { n =>
      n -> ops.count(_.expressions.exists(e => contains(e, n)))
    }.toMap
  }

  private def contains(e: Expression, name: String): Boolean =
    e.exists(x => x.prettyName == name)
}
