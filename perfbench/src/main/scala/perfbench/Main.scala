package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point.
  *
  * `perfbench.Main --workload <build|analyze_suite> --seed <n> --seconds <s>
  *  --trace <0|1> --out <run dir> --data <sf0.01 dir> --budget-s <s>` runs
  * one workload in one JVM, prints what it measured, and writes
  * `<run dir>/result.json` for
  * `perfbench/run.py`, which adds the DuckDB oracle check of the suite
  * queries and prints the final JSON line.
  *
  * An untraced run sets up three times, each time in a fresh session, and
  * reports the median as setup_s. It warms the last session up, untimed, then runs
  * timed passes until they add up to `--seconds`, and at least the
  * workload's minimum, so a slow host does not leave fewer samples. A
  * traced run traces every other pass, so traced minus untraced wall is the
  * tracing overhead.
  */
object Main {

  /** `budgetS`: JVM uptime by which a traced run must be done with its
    * passes, so that run.py can still check and report in time. */
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: String, data: String, budgetS: Double)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"), m("data"), m("budget-s").toDouble)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.out).mkdirs()
    val res = new Result(o)
    val w: Workload = o.workload match {
      case "build"         => new BuildWorkload(o, res)
      case "analyze_suite" => new AnalyzeSuiteWorkload(o, res)
      case other           => sys.error(s"unknown workload $other")
    }
    try run(o, res, w) finally Session.stop()
    res.write()
  }

  private def run(o: Opts, res: Result, w: Workload): Unit = {
    var spark: SparkSession = null
    // setup_s is an end-to-end metric, so a traced run sets up once
    for (k <- 1 to (if (o.trace) 1 else 3)) {
      val (_, s) = Stats.timed {
        spark = Session.start(o.out)
        w.setup(spark, s"${o.out}/setup$k")
      }
      res.setupS += s
    }
    val (_, warm) = Stats.timed(w.warmUp(spark))
    lazy val tracer = new Tracer(spark.sparkContext)
    val traced = ArrayBuffer.empty[Double]
    val untraced = ArrayBuffer.empty[Double]
    Probes.resetHeapPeak()
    // the passes measure --seconds between them; checks after a pass do not
    // count. A traced run traces the odd passes. Pass 0 is the coldest, so
    // the tracing overhead compares the traced passes with the untraced ones
    // after pass 0, which do the same work.
    var i = 0
    var checks = 0.0
    def more = i < w.minPasses || res.passS.sum < o.seconds ||
      (o.trace && (traced.isEmpty || untraced.size < 2))
    // once a traced run has its traced pass, it makes another pass only if
    // that pass fits in its time
    def fits = !o.trace || traced.isEmpty ||
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3 + 1.2 * res.passS.last < o.budgetS
    while (more && fits) {
      val tr: Trace = if (o.trace && i % 2 == 1) tracer else NoTrace
      val (_, s) = Stats.timed(res.op(s"${o.workload} pass $i")(tr.span(Tracer.Pass)(w.pass(spark, i, tr))))
      res.passS += s
      (if (tr eq NoTrace) untraced else traced) += s
      checks += Stats.timed(w.afterPass(spark, i, tr))._2
      i += 1
    }
    val heapMb = Probes.heapPeakMb
    res.say(f"set-ups ${res.setupS.sum}%.1f s, warm-up $warm%.1f s, ${res.passS.size} passes " +
      f"${res.passS.sum}%.1f s, checks after passes $checks%.1f s")
    w.summary()
    if (o.trace) {
      tracer.drain()
      w.spans.foreach { case (name, rows) =>
        tracer.layer(name, traced.size, rows).foreach { case (k, v, u) => res.layer(k, v, u) }
      }
      res.layer("jvm.heap_peak_mb", heapMb, "MB")
      res.layer("cache.leftover_mb", res.leftoverMb, "MB")
      res.layer("cache.leftover_queries", res.leftoverQueries.toDouble / traced.size, "count")
      tracer.selfTimes.foreach { case (n, total, self) =>
        res.say(f"span $n%-22s total $total%8.3f s  self $self%8.3f s")
      }
      res.say(s"jobs traced passes started outside every layer span: ${tracer.listener.jobsOutsideSpans.get}")
      if (untraced.size < 2) res.say("tracing overhead: not measured, no untraced pass after " +
        "pass 0 fitted in the run's time")
      else res.say(f"tracing overhead: ${Stats.median(traced.toSeq) - Stats.median(untraced.tail.toSeq)}%.3f s " +
        s"per pass (median traced wall of ${traced.size} passes minus median untraced wall of " +
        s"${untraced.size - 1} passes after pass 0)")
    }
  }
}

/** One workload: seeded set-up, a timed pass, untimed checks after it. */
trait Workload {
  /** Spans reported as per-layer metrics, and whether each reports rows. */
  def spans: Seq[(String, Boolean)]
  /** Timed passes a run makes at least. */
  def minPasses: Int
  /** Seeded inputs and fixture commits, in a fresh session. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Untimed work before the timed passes, so they run warm. */
  def warmUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, i: Int, tr: Trace): Unit
  def afterPass(spark: SparkSession, i: Int, tr: Trace): Unit
  /** Prints the workload's own figures. */
  def summary(): Unit
}

/** Bench.newSession's configs, copied so the benchmark runs the program
  * the way graft.Bench does. Two differences: the master is local[nproc]
  * of this host, and the local dir sits in the run directory, because the
  * benchmark reads and writes only inside its checkout.
  */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val partitions: Int = 4 * cores

  def configs(out: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.sql.files.maxPartitionBytes" -> "16m",
    "spark.local.dir" -> s"$out/spark-local",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> s"$out/warehouse")

  private var current: Option[SparkSession] = None

  /** Stops the running session, if any, and starts a fresh one. */
  def start(out: String): SparkSession = {
    stop()
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    val s = configs(out).foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    current = Some(s)
    s
  }

  def stop(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** What one run measured, and the figures it reports. */
final class Result(o: Main.Opts) {
  val setupS = ArrayBuffer.empty[Double]
  val passS = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var leftoverMb = 0.0
  var leftoverQueries = 0
  private val layers = scala.collection.mutable.Map.empty[String, Double]

  def say(line: String): Unit = println(s"[perfbench] $line")

  /** Runs one operation; a throw counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        say(s"FAILED $what: $e")
        None
    }
  }

  /** Records one output check. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; say(s"CHECK FAILED $what $detail") }
  }

  /** Runs `what` and, in a traced pass, probes the storage it leaves: the
    * most storage memory in use after any call, and how many queries leave
    * storage non-empty, that is, leave persisted RDDs behind. Storage
    * memory alone does not tell, because broadcast blocks stay in it until
    * the context cleaner drops them.
    */
  def leftover[T](spark: SparkSession, tr: Trace, what: String, query: Boolean)(body: => T): T =
    if (tr eq NoTrace) body
    else {
      val r = body
      val (mb, rdds) = Probes.storage(spark)
      leftoverMb = math.max(leftoverMb, mb)
      if (rdds > 0) {
        if (query) leftoverQueries += 1
        say(f"leftover after $what: $mb%.2f MB, $rdds persisted RDDs")
      }
      r
    }

  def layer(name: String, value: Double, unit: String): Unit = {
    require(Result.PerLayer.contains(name -> unit), s"undeclared metric $name ($unit)")
    layers(name) = value
  }

  def write(): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    // a traced run reports every per-layer metric; a layer this workload
    // does not call reads 0
    val ls = if (!o.trace) Nil else Result.PerLayer.map { case (k, u) =>
      s""""$k":{"value":${num(layers.getOrElse(k, 0.0))},"unit":"$u"}"""
    }
    val json =
      s"""{"attempted":$attempted,"failed":$failed,""" +
        s""""setup_s":${setupS.map(num).mkString("[", ",", "]")},""" +
        s""""pass_s":${passS.map(num).mkString("[", ",", "]")},""" +
        s""""layers":${ls.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(o.out, "result.json"), json)
  }
}

object Result {
  private def span(name: String, rows: Boolean): Seq[(String, String)] =
    (Seq("wall_s" -> "s", "jobs" -> "count", "task_s" -> "s", "gc_s" -> "s",
      "shuffle_mb" -> "MB", "one_task_s" -> "s") ++ (if (rows) Seq("rows" -> "rows") else Nil))
      .map { case (k, u) => s"$name.$k" -> u }

  /** Every per-layer metric and its unit, in report order. */
  val PerLayer: Seq[(String, String)] = {
    val m = (BuildWorkload.Spans ++ AnalyzeSuiteWorkload.Spans)
      .flatMap { case (n, rows) => span(n, rows) } ++
      Seq("cache.leftover_mb" -> "MB", "cache.leftover_queries" -> "count",
        "jvm.heap_peak_mb" -> "MB")
    m.foreach { case (k, _) => require(k.matches("[A-Za-z0-9_.-]+"), s"bad metric name $k") }
    m
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile (in whole percent) with at least ten samples
    * beyond it, and its value (nearest rank); None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    def rank(p: Int) = math.ceil(p / 100.0 * n).toInt
    (1 to 99).reverse.find(p => n - rank(p) >= 10).map(p => (p, xs.sorted.apply(rank(p) - 1)))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** JVM heap and Spark storage probes. */
object Probes {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Storage memory in use (MB) and the number of persisted RDDs. */
  def storage(spark: SparkSession): (Double, Int) = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    (used / 1048576.0, sc.getPersistentRDDs.size)
  }
}
