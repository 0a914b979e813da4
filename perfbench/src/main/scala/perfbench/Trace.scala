package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the harness's calls into the program's public functions.
  *
  * `NoTrace` is what an untraced run uses: it runs the body and records
  * nothing, so end-to-end figures carry no tracing cost. `Tracer` keeps
  * spans in memory and tags every Spark job started inside a span with the
  * span's path (a local property, which Spark copies onto each job and onto
  * the threads AQE and broadcasts start), so the listener can charge job,
  * task, GC, shuffle and single-task-stage counters to the spans on that
  * path.
  */
trait Trace {
  def span[T](name: String)(body: => T): T
  def addRows(name: String, n: Long): Unit = ()
}

object NoTrace extends Trace {
  def span[T](name: String)(body: => T): T = body
}

/** Counters charged to one span name; every span on a job's path gets the
  * job's counters, so a parent's counters include its children's.
  */
final class Counters {
  val jobs = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val oneTaskMs = new AtomicLong
}

final class SpanListener extends SparkListener {
  val byName = new ConcurrentHashMap[String, Counters]()
  private val stagePath = new ConcurrentHashMap[Int, String]()
  /** Jobs a traced pass started outside every layer span. */
  val jobsOutsideSpans = new AtomicLong
  @volatile var markerSeen = false

  private def charge(path: String)(f: Counters => Unit): Unit =
    path.split('/').foreach(n => f(byName.computeIfAbsent(n, _ => new Counters)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val path = Option(e.properties).map(_.getProperty(Tracer.Key)).orNull
    if (path == Tracer.Marker) markerSeen = true
    else if (path != null) {
      if (path == Tracer.Pass) jobsOutsideSpans.incrementAndGet()
      e.stageIds.foreach(stagePath.putIfAbsent(_, path))
      charge(path)(_.jobs.incrementAndGet())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val path = stagePath.get(e.stageId)
    if (path != null) charge(path) { c =>
      c.taskMs.addAndGet(e.taskInfo.duration)
      if (e.taskMetrics != null) {
        c.gcMs.addAndGet(e.taskMetrics.jvmGCTime)
        c.shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val path = stagePath.get(info.stageId)
    if (path != null && info.numTasks == 1)
      for (s <- info.submissionTime; c <- info.completionTime)
        charge(path)(_.oneTaskMs.addAndGet(c - s))
  }
}

final case class SpanRec(name: String, parent: Int, startNs: Long, var endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

final class Tracer(sc: SparkContext) extends Trace {
  val listener = new SpanListener
  sc.addSparkListener(listener)
  val spans = ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[Int]
  private val rows = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  def span[T](name: String)(body: => T): T = {
    val idx = spans.size
    spans += SpanRec(name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
    stack = idx :: stack
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, stack.reverse.map(spans(_).name).mkString("/"))
    try body
    finally {
      spans(idx).endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  override def addRows(name: String, n: Long): Unit = rows(name) += n

  /** Waits until the listener bus has delivered every event posted so far:
    * the bus is FIFO, so once a marker job's start is seen, every earlier
    * job's task and stage events have been seen too.
    */
  def drain(): Unit = {
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, Tracer.Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tracer.Key, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (!listener.markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Self time of a span: its duration minus the time its children cover. */
  def selfS(idx: Int): Double =
    spans(idx).durS - spans.iterator.filter(_.parent == idx).map(_.durS).sum

  /** Per-layer counters for `name`, divided by `per` (passes traced). */
  def layer(name: String, per: Int, withRows: Boolean): Seq[(String, Double, String)] = {
    val c = Option(listener.byName.get(name)).getOrElse(new Counters)
    val wall = spans.iterator.filter(_.name == name).map(_.durS).sum
    Seq(
      (s"$name.wall_s", wall / per, "s"),
      (s"$name.jobs", c.jobs.get.toDouble / per, "count"),
      (s"$name.task_s", c.taskMs.get / 1e3 / per, "s"),
      (s"$name.gc_s", c.gcMs.get / 1e3 / per, "s"),
      (s"$name.shuffle_mb", c.shuffleBytes.get / 1048576.0 / per, "MB"),
      (s"$name.one_task_s", c.oneTaskMs.get / 1e3 / per, "s")) ++
      (if (withRows) Seq((s"$name.rows", rows(name).toDouble / per, "rows")) else Nil)
  }

  def selfTimes: Seq[(String, Double, Double)] =
    spans.indices.groupBy(spans(_).name).toSeq.sortBy(_._1).map { case (n, ix) =>
      (n, ix.map(spans(_).durS).sum, ix.map(selfS).sum)
    }
}

object Tracer {
  val Key = "perfbench.span"
  val Marker = "perfbench.marker"
  /** The span around a whole traced pass; the layer spans nest in it. */
  val Pass = "pass"
}
