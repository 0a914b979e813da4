package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.{Betweenness, Bfs, TransitiveClosure}
import graft.ops.{EventOps, TextOps}

class AnalyticsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("betweenness: shortcut path — only c carries dependency") {
    // a->b, b->c, c->d, a->c; seeds a and b.
    // From a: shortest a->c is the direct edge (sigma 1), so b carries no
    // dependency; c relays d. From b: c relays d again. bc(c) = 2.
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")).toDF("src", "dst")
    val bc = Betweenness.run(e, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(bc.keySet == Set("c"))
    assert(bc("c")._1 === 2.0)
    assert(bc("c")._2 === 2L)
  }

  test("betweenness: diamond splits dependency by path count") {
    // a->b->d, a->c->d: sigma(d)=2, so b and c each carry 1/2
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")).toDF("src", "dst")
    val bc = Betweenness.run(e, Seq("a")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc == Map("b" -> 0.5, "c" -> 0.5))
  }

  test("betweenness: sigma multiplicities compound across levels") {
    // two parallel 2-paths a->{b,c}->d then d->e: sigma(d)=2, sigma(e)=2.
    // delta(d) = 1 (relays e); delta(b) = 1/2 * (1+1) = 1 = delta(c)
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val bc = Betweenness.run(e, Seq("a")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc == Map("b" -> 1.0, "c" -> 1.0, "d" -> 1.0))
  }

  test("betweenness: an empty edge table picks no seeds and yields no rows") {
    val adj = Bfs.prepareAdj(Seq.empty[(String, String)].toDF("src", "dst"))
    val seeds = Bfs.topOutDegree(adj, 3)
    assert(seeds.isEmpty)
    val bc = Betweenness.run(adj, seeds)
    assert(bc.columns.toSeq == Seq("vertex", "betweenness", "n_seeds"))
    assert(bc.collect().isEmpty)
  }

  test("transitive closure: min dist honors the shortcut") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")).toDF("src", "dst")
    val tc = TransitiveClosure.minDist(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tc == Map(("a", "b") -> 1L, ("b", "c") -> 1L, ("c", "d") -> 1L,
      ("a", "c") -> 1L, ("a", "d") -> 2L, ("b", "d") -> 2L))
  }

  test("transitive closure: cycle closes without self pairs") {
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val tc = TransitiveClosure.minDist(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tc == Map(("a", "b") -> 1L, ("b", "a") -> 1L))
  }

  test("transitive closure: 20-chain closes; tight maxRounds throws") {
    val e = (0 until 20).map(i => (s"c$i", s"c${i + 1}")).toDF("src", "dst")
    val tc = TransitiveClosure.minDist(e)
    assert(tc.count() == 21L * 20 / 2)
    assert(tc.agg(max("dist")).head().getLong(0) == 20L)
    assertThrows[IllegalStateException] {
      TransitiveClosure.minDist(e, maxRounds = 2).count()
    }
  }

  test("cdcChunks: content-hash boundaries, exact reassembly, shift-stable") {
    val toks = (0 until 60).map(i => s"t$i")
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val flags = toks.toDF("tok")
      .select(col("tok"), (TextOps.portableHash31(col("tok")) % 16 === 0).as("b"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val expected = scala.collection.mutable.ListBuffer[String]()
    var cur = scala.collection.mutable.ListBuffer[String]()
    toks.foreach { t =>
      cur += t
      if (flags(t)) { expected += cur.mkString(" "); cur.clear() }
    }
    if (cur.nonEmpty) expected += cur.mkString(" ")
    assert(expected.size > 1, "fixture must produce at least one boundary")
    val got = TextOps.cdcChunks(docs, "doc_id", "text", 16)
      .orderBy("chunk_id").collect().map(_.getAs[String]("chunk_text"))
    assert(got.toList == expected.toList)
    // shifted content: a prepended token only perturbs the first chunk
    val got2 = TextOps.cdcChunks(
      Seq((1L, "zzz " + toks.mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", 16)
      .orderBy("chunk_id").collect().map(_.getAs[String]("chunk_text"))
    assert(got2.takeRight(got.length - 1).toList == got.drop(1).toList)
  }

  test("bm25: hand-computed scores on a 3-doc corpus") {
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "w w w w"))
      .toDF("doc_id", "text")
    val r = TextOps.bm25(docs, "doc_id", "text", Seq("x", "y")).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    // N=3, avgdl=3; df(x)=2, df(y)=1; idf = ln(1+(N-df+.5)/(df+.5))
    val s1 = math.log(1.6) * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 3)) +
      math.log(8.0 / 3) * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3.0 / 3))
    val s2 = math.log(1.6) * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2.0 / 3))
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L)._1 == 2L && math.abs(r(1L)._2 - s1) < 1e-9)
    assert(r(2L)._1 == 1L && math.abs(r(2L)._2 - s2) < 1e-9)
  }

  test("canonicalizeUrl: case, ports, params, fragment, trailing slash") {
    val in = Seq(
      "HTTPS://Example.COM:443/Docs/a/item5/?utm_source=feed&b=2&a=1#frag",
      "https://www.example.com:8080/x",
      "https://example.com/",
      "http://example.com:80/x?utm_campaign=x",
      "https://example.com/x?b=2&a=1&utm_medium=m").toDF("url")
    val out = in.select(TextOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0))
    assert(out === Array(
      "https://example.com/Docs/a/item5?a=1&b=2",
      "https://www.example.com:8080/x",
      "https://example.com",
      "http://example.com/x",
      "https://example.com/x?a=1&b=2"))
  }

  test("attribution: first/last touch, lookback, strict-before, ties") {
    def ev(user: Long, id: Long, typ: String, tsSec: Long, v: Double) =
      (user, id, typ, tsSec, v)
    val events = Seq(
      ev(1, 10, "view", 1000, 0), ev(1, 11, "click", 2000, 0),
      ev(1, 12, "purchase", 3000, 5.0),
      ev(2, 20, "view", 100, 0), ev(2, 21, "purchase", 100 + 8 * 86400, 7.0),
      ev(3, 30, "view", 500, 0), ev(3, 31, "purchase", 500, 9.0),
      ev(4, 40, "view", 100, 0), ev(4, 41, "click", 100, 0),
      ev(4, 42, "purchase", 200, 11.0))
      .toDF("user_id", "event_id", "event_type", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val a = EventOps.attribution(events, "user_id", "ts", "event_id",
      "event_type", "purchase", Seq("view", "click", "signup"),
      lookbackSeconds = 7L * 86400L)
    val m = a.collect().map(r => r.getAs[Long]("user_id") ->
      ((Option(r.getAs[String]("first_touch_type")),
        Option(r.getAs[String]("last_touch_type"))))).toMap
    assert(m(1L) == ((Some("view"), Some("click"))))
    assert(m(2L) == ((None, None)))       // outside 7-day lookback
    assert(m(3L) == ((None, None)))       // same-ts touch is not "before"
    assert(m(4L) == ((Some("view"), Some("click")))) // ties pinned by id
  }

  test("charEntropy: hand-computed bits, alphabet filter, empty-doc drop") {
    val d = Seq(
      (1L, "aabb"),      // 2 classes, uniform -> exactly 1 bit
      (2L, "aaaa"),      // single class -> 0 bits
      (3L, "a b!C d"),   // case-folded + filtered to {a,b,c,d} -> 2 bits
      (4L, "!!! ???")    // nothing in [a-z0-9] -> dropped
    ).toDF("doc_id", "text")
    val e = TextOps.charEntropy(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(e.keySet == Set(1L, 2L, 3L))
    assert(e(1L) == ((4L, 2L, 1.0)))
    assert(e(2L) == ((4L, 1L, 0.0)))
    assert(e(3L)._1 == 4L && e(3L)._2 == 4L && math.abs(e(3L)._3 - 2.0) < 1e-12)
  }
}
