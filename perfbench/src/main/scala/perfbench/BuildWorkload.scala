package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{Extractor, OracleExtractor}
import graft.graph.GraphTables
import graft.io.{TableIO, Transcripts}

object BuildWorkload {
  /** span name -> the table its call commits */
  val Commits: Seq[(String, String)] = Seq(
    "extract.triples" -> "triples", "graph.edges" -> "edges", "graph.vertices" -> "vertices")
  val Spans: Seq[(String, Boolean)] = (Commits.map(_._1) :+ "io.resume").map(_ -> true)
}

/** `build`: a seeded transcript parquet -> committed `triples`, `edges` and
  * `vertices` snapshots (the build half of Pipeline.runResumable). After
  * the first pass and each traced one, untimed, the chain reruns on the
  * pass's root with only `triples` left, as after a kill between stages
  * (the `io.resume` span).
  * Map-heavy extraction and write-heavy commits over a skewed input (every
  * 97th conversation has 64x the turns); algo, measures and queries do no
  * work.
  */
final class BuildWorkload(o: Main.Opts, res: Result) extends Workload {
  import BuildWorkload._

  val Convs = 10000L
  val SampleConvs = 1000

  def spans: Seq[(String, Boolean)] = Spans
  /** the first pass after the warm-up is still the slowest; a median of
    * three leaves it out */
  def minPasses: Int = 3

  private var turnsPath = ""
  private var nTurns = 0L
  private val inSnap = s"transcripts:seed=${o.seed},convs=$Convs"
  private val resumeS = ArrayBuffer.empty[Double]
  private var counts: Option[Seq[Long]] = None
  private var edgesFingerprint: Option[(Long, String)] = None

  /** The build half of Pipeline.runResumable over a transcript table. */
  private def chain(io: TableIO, turns: DataFrame, tr: Trace,
                    onExtract: () => Unit = () => ()): Unit = {
    tr.span("extract.triples") {
      io.resumeOrCompute("triples", "extract", inSnap) {
        onExtract()
        Extractor.triples(turns, Some(Session.partitions))
      }
    }
    val triples = io.read("triples")
    val trSnap = s"triples@${io.latest("triples").get.id}"
    tr.span("graph.edges") {
      io.resumeOrCompute("edges", "materialize", trSnap)(GraphTables.edges(triples))
    }
    tr.span("graph.vertices") {
      io.resumeOrCompute("vertices", "materialize", trSnap)(GraphTables.vertices(triples))
    }
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    turnsPath = s"$dir/transcripts"
    Inputs.turns(spark, o.seed, Convs).write.parquet(turnsPath)
    nTurns = spark.read.parquet(turnsPath).count()
  }

  /** One untimed pass: a pass on a smaller input is still cold after it. */
  def warmUp(spark: SparkSession): Unit = {
    chain(new TableIO(spark, s"${o.out}/warm-up"), spark.read.parquet(turnsPath), NoTrace)
    Inputs.delete(s"${o.out}/warm-up")
  }

  private def root(i: Int) = s"${o.out}/build/pass$i"

  def pass(spark: SparkSession, i: Int, tr: Trace): Unit =
    chain(new TableIO(spark, root(i)), spark.read.parquet(turnsPath), tr)

  def afterPass(spark: SparkSession, i: Int, tr: Trace): Unit = {
    val io = new TableIO(spark, root(i))
    val rowCounts = Commits.map { case (span, table) =>
      val n = io.latest(table).map(_.rowCount).getOrElse(-1L)
      tr.addRows(span, n)
      n
    }
    counts match {
      case None => counts = Some(rowCounts)
      case Some(c) => res.check("build: row counts repeat across passes", c == rowCounts,
        s"$c vs $rowCounts")
    }
    if (i == 0) {
      checkLineage(io)
      checkExtraction(io)
      edgesFingerprint = Some(Inputs.fingerprint(io.read("edges")))
    }
    // the resume is checked after the first pass and traced after each
    // traced one
    if (i == 0 || (tr ne NoTrace)) resume(spark, io, tr, i)
    Inputs.delete(root(i))
  }

  private def resume(spark: SparkSession, io: TableIO, tr: Trace, i: Int): Unit = {
    // a kill after the triples commit: only `triples` is left on the root
    val triplesId = io.latest("triples").map(_.id)
    Inputs.delete(s"${root(i)}/edges")
    Inputs.delete(s"${root(i)}/vertices")
    var extracted = false
    // the chain's own spans stay closed, so graph.* count only the pass
    val (_, s) = Stats.timed(res.op("resume") {
      tr.span("io.resume") {
        chain(io, spark.read.parquet(turnsPath), NoTrace, () => extracted = true)
      }
    })
    resumeS += s
    tr.addRows("io.resume", Commits.tail.map { case (_, t) =>
      io.latest(t).map(_.rowCount).getOrElse(0L)
    }.sum)
    res.check("resume: extraction skipped", !extracted)
    res.check("resume: triples snapshot unchanged", io.latest("triples").map(_.id) == triplesId)
    if (i == 0) {
      val again = Inputs.fingerprint(io.read("edges"))
      res.check("resume: edge table equals the uninterrupted one",
        edgesFingerprint.contains(again), s"$edgesFingerprint vs $again")
    }
  }

  def summary(): Unit =
    res.say(f"build: $Convs convs from ${Inputs.firstConv(o.seed)}, $nTurns turns, " +
      f"${res.passS.size} passes: build_turns_per_s=${nTurns / Stats.median(res.passS.toSeq)}%.1f " +
      f"turns/s, resume_s=${Stats.median(resumeS.toSeq)}%.3f s")

  /** Every snapshot's lineage row counts sum to its manifest row count,
    * which equals the rows its data holds.
    */
  private def checkLineage(io: TableIO): Unit = Commits.foreach { case (_, t) =>
    val snap = io.latest(t)
    val lineage = io.readLineage(t).agg(coalesce(sum("row_count"), lit(0L))).head().getLong(0)
    val data = io.read(t).count()
    res.check(s"build: $t lineage row_count sums to the manifest",
      snap.exists(s => s.rowCount == lineage && lineage == data),
      s"manifest=${snap.map(_.rowCount)} lineage=$lineage data=$data")
  }

  /** Committed triples of a seeded sample of conversations against
    * OracleExtractor: precision and recall >= 0.95.
    */
  private def checkExtraction(io: TableIO): Unit = {
    val rnd = new scala.util.Random(o.seed)
    val sample = rnd.shuffle((0L until Convs).toVector).take(SampleConvs)
      .map(_ + Inputs.firstConv(o.seed))
    val expected = sample.flatMap { c =>
      (0 until Transcripts.turnsFor(c)).flatMap { t =>
        OracleExtractor.turnTriples(Transcripts.turn(c, t))
          .map(x => (x.conv_id, x.turn_idx, x.subj, x.pred, x.obj))
      }
    }
    val got = io.read("triples").where(col("conv_id").isin(sample.map(Transcripts.convId): _*))
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
      .toSeq
    val e = expected.groupBy(identity).view.mapValues(_.size).toMap
    val hit = got.groupBy(identity).map { case (k, v) => math.min(v.size, e.getOrElse(k, 0)) }
      .sum.toDouble
    val p = if (got.isEmpty) 0.0 else hit / got.size
    val r = if (expected.isEmpty) 0.0 else hit / expected.size
    res.say(f"build: extraction on $SampleConvs sampled convs P=$p%.4f R=$r%.4f " +
      s"(${got.size} triples, ${expected.size} from the oracle)")
    res.check("build: extraction P/R >= 0.95 against OracleExtractor", p >= 0.95 && r >= 0.95)
  }
}
