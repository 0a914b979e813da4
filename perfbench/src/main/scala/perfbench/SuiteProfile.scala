package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** A per-query profile of the whole SparkEntry query suite, the evidence the
  * `analyze_suite` workload's pinned queries are chosen from.
  *
  * `perfbench.SuiteProfile <sf0.01 dir> <out dir> <passes>` runs every
  * SparkEntry.queries entry, in Bench's (alphabetical) order, in one session
  * with the benchmark's session configs, `passes` times. Each query is
  * written as parquet, as the workload does. It writes `<out dir>/profile.tsv`:
  * per query and pass, whether the workload pins it, the wall, the Spark
  * jobs, task seconds, single-task stage wall, and the storage memory and
  * persisted RDDs left after it.
  * Run it through `perfbench/profile_suite.py`.
  */
object SuiteProfile {
  def main(args: Array[String]): Unit = {
    val Array(data, out, passes) = args
    val spark = Session.start(out)
    try {
      val tracer = new Tracer(spark.sparkContext)
      val names = SparkEntry.queries.keys.toSeq.sorted
      val rows = for (p <- 1 to passes.toInt; q <- names) yield {
        val span = s"p$p:$q"
        val (_, s) = Stats.timed(tracer.span(span) {
          SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$out/q/$q")
        })
        val (mb, rdds) = Probes.storage(spark)
        println(f"[profile] pass $p $q%-32s $s%7.3f s")
        (p, q, span, s, mb, rdds)
      }
      tracer.drain()
      val lines = rows.map { case (p, q, span, s, mb, rdds) =>
        val m = tracer.layer(span, 1, withRows = false)
          .map { case (k, v, _) => k.stripPrefix(s"$span.") -> v }.toMap
        val pinned = if (AnalyzeSuiteWorkload.Queries.contains(q)) 1 else 0
        Seq(p, q, pinned, f"$s%.3f", m("jobs").toLong, f"${m("task_s")}%.3f",
          f"${m("one_task_s")}%.3f", f"$mb%.2f", rdds).mkString("\t")
      }
      val header = "pass\tquery\tpinned\twall_s\tjobs\ttask_s\tone_task_s\tstorage_mb\tpersisted_rdds"
      Files.writeString(Paths.get(out, "profile.tsv"), (header +: lines).mkString("", "\n", "\n"))
    } finally Session.stop()
  }
}
