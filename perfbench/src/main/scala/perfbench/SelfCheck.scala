package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own helpers: the percentile rule, the
  * self-time computation and listener attribution. (Generator determinism
  * is checked on the Python side, where the inputs are made.) */
object SelfCheck {
  def run(work: String): Boolean = {
    var ok = true
    def expect(what: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }

    // the highest percentile with at least ten samples beyond it
    expect("200 samples report p95", Stats.tailLevel(200).contains(95.0))
    expect("199 samples report p90", Stats.tailLevel(199).contains(90.0))
    expect("100 samples report p90", Stats.tailLevel(100).contains(90.0))
    expect("40 samples report p75", Stats.tailLevel(40).contains(75.0))
    expect("20 samples report p50", Stats.tailLevel(20).contains(50.0))
    expect("19 samples report no tail", Stats.tailLevel(19).isEmpty)
    val xs = (1 to 200).map(_.toDouble)
    expect("p95 of 1..200 leaves ten beyond", xs.count(_ > Stats.percentile(xs, 95.0)) == 10)

    // self time: duration minus the union of the children's intervals,
    // clipped to the parent
    def sp(id: Int, parent: Int, s: Long, e: Long) = Span(id, "s", -1, parent, s, e, 0, 0)
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 30), sp(2, 0, 20, 50),
      sp(3, 0, 90, 120), sp(4, 1, 12, 14))
    val self = Stats.selfTimes(spans)
    expect("parent self time excludes overlapping children", self(0) == 50)
    expect("child self time excludes its own child", self(1) == 18)
    expect("leaf self time is its duration", self(2) == 30 && self(4) == 2)

    // listener attribution through the tracer's job groups
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selfcheck")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse").getOrCreate()
    try {
      val sc = spark.sparkContext
      val tracer = new Tracer(spark, on = true)
      tracer.span("two") { _ =>
        sc.parallelize(1 to 100, 2).count()
        tracer.span("one")(_ => sc.parallelize(1 to 100, 3).count())
        sc.parallelize(1 to 100, 2).count()
      }
      tracer.span("none")(_ => 1 + 1)
      sc.parallelize(1 to 10, 1).count() // outside any span
      val rec = tracer.finish()
      val two = rec.named("two").head.c
      val one = rec.named("one").head.c
      expect("a call known to run 2 jobs counts 2", two.jobs == 2 && two.tasks == 4)
      expect("its nested call's job counts there", one.jobs == 1 && one.tasks == 3)
      expect("a call with no jobs counts 0", rec.named("none").head.c.jobs == 0)
    } finally spark.stop()
    ok
  }
}
