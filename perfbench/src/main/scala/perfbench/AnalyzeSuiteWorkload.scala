package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, SparkEntry}
import graft.algo.ConnectedComponents
import graft.extract.Extractor
import graft.graph.GraphTables
import graft.io.TableIO

object AnalyzeSuiteWorkload {
  /** span name -> the default feature it runs alone in a traced pass */
  val Features: Seq[(String, String)] = Seq(
    "algo.pagerank" -> "pagerank", "algo.pseudo_diameter" -> "diameter",
    "measures.basic" -> "basic", "measures.degree" -> "degree",
    "measures.plots" -> "plots", "measures.h_index" -> "h_index",
    "measures.powerlaw" -> "powerlaw", "measures.reciprocity" -> "reciprocity")

  val Prefixes: Seq[String] = Seq("kg", "doc", "emb", "ev", "mm")

  val Spans: Seq[(String, Boolean)] =
    (("algo.cc" +: Features.map(_._1)).map(_ -> true)) ++ Prefixes.map(p => s"queries.$p" -> false)

  /** Queries of SparkEntry.queries run in every pass, in Bench's
    * (alphabetical) order, pinned by name. They are graft.Bench's headline
    * queries without kg_pagerank, kg_cc and kg_pseudo_diameter, whose
    * kernels the analyze half already runs, and without doc_dedup_clusters,
    * which alone would add about 8 s to a run; plus kg_bgp_matcher, which
    * reaches the generic BGP matcher, and mm_feature_knn, the heaviest
    * query of the mm prefix. kg_canon_incremental reaches canon and
    * ev_window reaches streaming. suite_profile.tsv, written by
    * profile_suite.py, has every query's wall and jobs on 4 cores.
    */
  val Queries: Seq[String] = Seq(
    "doc_minhash_lsh", "emb_knn", "ev_window", "kg_basic",
    "kg_bgp", "kg_bgp_matcher", "kg_canon_incremental", "mm_feature_knn").sorted

  /** A measure each default feature must emit. */
  private val Marks: Seq[(String, String => Boolean)] = Seq(
    "fill" -> (_ == "fill"), "parallel_edges" -> (_ == "parallel_edges"),
    "degree" -> (_ == "max_degree"), "plots" -> (_.startsWith("degree_distribution_")),
    "diameter" -> (_ == "pseudo_diameter"), "h_index" -> (_ == "h_index_u"),
    "pagerank" -> (_ == "max_pagerank"), "powerlaw" -> (_ == "powerlaw_exponent_degree"),
    "reciprocity" -> (_ == "reciprocity"))
  /** Measures only features outside the default set emit. */
  private val NonDefault = Set("max_eigenvector", "gini_coefficient", "lpa_communities",
    "kcore10_vertices", "ktruss4_edges", "max_hits_authority", "clustering")
}

/** `analyze_suite`: reads of committed data, in one session.
  *
  *  1. The analyze half of Pipeline.runResumable over a seeded `edges`
  *     snapshot committed during set-up: the `components` commit
  *     (ConnectedComponents.run), then the `measures` commit of lodcc's
  *     default features given those components. Iterative kernels whose
  *     rounds are bound by job launches, plus TableIO reads and writes.
  *  2. The pinned suite queries over the read-only sf0.01 tables, each
  *     result written as parquet for run.py's DuckDB oracle check. Many
  *     short jobs, each run on whatever state the earlier calls left.
  *
  * Extraction runs only in set-up. A traced pass runs each default feature
  * alone, as Pipeline.measures(edges, Set(f), Some(cc)), so each gets a span.
  */
final class AnalyzeSuiteWorkload(o: Main.Opts, res: Result) extends Workload {
  import AnalyzeSuiteWorkload._

  val Convs = 300L

  def spans: Seq[(String, Boolean)] = Spans
  /** one pass outlasts the run_seconds in BENCHMARK.json */
  def minPasses: Int = 1

  private var edges: DataFrame = _
  private var edgesSnap = ""
  private var nEdges = 0L
  private var measuresSeen: Option[Seq[(String, Double)]] = None
  private val analyzeS = ArrayBuffer.empty[Double]
  private val suiteS = ArrayBuffer.empty[Double]
  private val latencies = ArrayBuffer.empty[Double]

  def setup(spark: SparkSession, dir: String): Unit = {
    val fixture = new TableIO(spark, dir)
    val triples = Extractor.triples(Inputs.turns(spark, o.seed, Convs), Some(Session.partitions))
    val snap = fixture.commit("edges", GraphTables.edges(triples), "materialize",
      s"transcripts:seed=${o.seed},convs=$Convs")
    edges = fixture.read("edges")
    edgesSnap = s"edges@${snap.id}"
    nEdges = snap.rowCount
  }

  /** None. The analyze half's kernels launch about as many jobs on a small
    * graph as on this one, so a warm-up would cost nearly a pass; and the
    * analyze half runs the session's jobs before the queries do.
    */
  def warmUp(spark: SparkSession): Unit = ()

  private def root(i: Int) = s"${o.out}/analyze/pass$i"

  def pass(spark: SparkSession, i: Int, tr: Trace): Unit = {
    val (_, a) = Stats.timed(analyze(spark, new TableIO(spark, root(i)), tr))
    analyzeS += a
    val (_, s) = Stats.timed(Queries.foreach { q =>
      def run() = tr.span(s"queries.${q.takeWhile(_ != '_')}") {
        SparkEntry.queries(q)(spark, o.data)
          .write.mode("overwrite").parquet(s"${o.out}/suite/pass$i/$q")
      }
      val (_, qs) = Stats.timed(res.op(q)(res.leftover(spark, tr, q, query = true)(run())))
      latencies += qs
      if (i == 0) res.say(f"suite: $q%-22s $qs%.3f s")
    })
    suiteS += s
  }

  /** Components then measures, each committed under the pass's root. */
  private def analyze(spark: SparkSession, out: TableIO, tr: Trace): Unit = {
    val cc = tr.span("algo.cc") {
      out.resumeOrCompute("components", "analyze", edgesSnap)(ConnectedComponents.run(edges))
    }
    tr.addRows("algo.cc", out.latest("components").get.rowCount)
    if (!o.trace)
      out.commit("measures", Pipeline.measures(edges, Pipeline.DefaultFeatures, Some(cc)),
        "analyze", edgesSnap)
    else Features.foreach { case (span, f) =>
      val snap = res.leftover(spark, tr, span, query = false) {
        tr.span(span) {
          out.commit(s"measures_$f", Pipeline.measures(edges, Set(f), Some(cc)), "analyze", edgesSnap)
        }
      }
      tr.addRows(span, snap.rowCount)
    }
  }

  def afterPass(spark: SparkSession, i: Int, tr: Trace): Unit = {
    val out = new TableIO(spark, root(i))
    def rows(t: String) =
      out.read(t).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)
    val got =
      if (!o.trace) rows("measures")
      else Features.flatMap { case (_, f) => rows(s"measures_$f") }.distinct.sortBy(_._1)
    val names = got.map(_._1)
    val covered = Marks.collect { case (f, m) if names.exists(m) => f }.toSet
    res.check("analyze: measure names are those of the default features",
      covered == Pipeline.DefaultFeatures && !names.exists(NonDefault), s"covered=$covered")
    measuresSeen match {
      case None => measuresSeen = Some(got)
      case Some(first) => res.check("analyze: measure values identical across passes",
        first == got, s"${first.diff(got).take(3)} vs ${got.diff(first).take(3)}")
    }
    Inputs.delete(root(i))
    // run.py checks the passes that have oracle_sql.json: every pass of an
    // untraced run, the traced passes of a traced run (its untraced passes
    // only time the overhead, and checking them would not fit in 180 s)
    if (!o.trace || (tr ne NoTrace)) writeOracleSql(s"${o.out}/suite/pass$i")
  }

  def summary(): Unit = {
    res.say(f"analyze: $Convs convs from ${Inputs.firstConv(o.seed)}, $nEdges edges, " +
      f"analyze_s=${Stats.median(analyzeS.toSeq)}%.3f s over ${analyzeS.size} passes")
    res.say(f"suite: ${Queries.size} queries, suite_s=${Stats.median(suiteS.toSeq)}%.3f s, " +
      f"query_p50_s=${Stats.median(latencies.toSeq)}%.3f s over ${latencies.size} samples")
    Stats.tail(latencies.toSeq) match {
      case Some((p, v)) => res.say(f"suite: query_p${p}_s=$v%.3f s, the highest percentile " +
        s"with at least 10 of ${latencies.size} samples beyond it")
      case None => res.say(s"suite: no percentile has 10 of ${latencies.size} samples beyond it")
    }
  }

  /** The pinned queries' oracleSql twins as `<dir>/oracle_sql.json`, the
    * layout scripts/check_oracle.py reads next to the results.
    */
  private def writeOracleSql(dir: String): Unit = {
    val sql = Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    res.check("suite: every pinned query has an oracleSql twin", sql.size == Queries.size,
      s"missing ${Queries.filterNot(sql.contains)}")
    new ObjectMapper().writeValue(new File(s"$dir/oracle_sql.json"), sql.asJava)
  }
}
