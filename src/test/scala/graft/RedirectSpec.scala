package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CrawlPolicy
import graft.fixtures.MediaGen
import graft.sources.Warc

class RedirectSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def resolve(edges: Seq[(String, String)], maxHops: Int = 64,
                      parts: Int = 4): Map[String, (String, Long, Boolean)] =
    CrawlPolicy.resolveRedirects(
      edges.toDF("src", "dst").repartition(parts), "src", "dst", maxHops)
      .as[(String, String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  // plain-Scala reference walker
  private def walk(edges: Map[String, String], maxHops: Int): Map[String, (String, Long, Boolean)] =
    edges.keys.map { s =>
      var cur = edges(s); var n = 1L; var ok = true
      val seen = scala.collection.mutable.Set(s)
      while (edges.contains(cur) && ok) {
        if (seen.contains(cur) || n >= 4096) ok = false
        else { seen += cur; cur = edges(cur); n += 1 }
      }
      s -> ((cur, n, ok && n <= maxHops))
    }.toMap

  test("deep chain resolves in O(log hops) rounds; hops exact") {
    val n = 1000
    val edges = (0 until n).map(i => (s"u$i", s"u${i + 1}"))
    val got = resolve(edges, maxHops = 1024)
    assert(got.size === n)
    (0 until n).foreach { i =>
      assert(got(s"u$i") === ((s"u$n", (n - i).toLong, true)), s"chain drift at u$i")
    }
  }

  test("cycles and over-budget chains report resolved=false, never spin") {
    val cyc = resolve(Seq(("a", "b"), ("b", "c"), ("c", "a")))
    assert(cyc.keySet === Set("a", "b", "c"))
    cyc.values.foreach { case (_, _, ok) => assert(!ok, "cycle must not resolve") }
    // chain of 100 under a 64-hop budget: walk completes, budget exceeded
    val long = resolve((0 until 100).map(i => (s"v$i", s"v${i + 1}")), maxHops = 64)
    assert(long("v0")._3 === false, "over-budget chain must be unresolved")
    assert(long("v50") === (("v100", 50L, true)), "short tail within budget resolves")
  }

  test("matches a plain walker on a pseudo-random functional graph; parallelism-invariant") {
    val rnd = new scala.util.Random(42)
    // functional graph over 400 nodes: ~half redirect somewhere, possible
    // shared targets (merging chains), some self-contained cycles
    val edges = (0 until 400).flatMap { i =>
      if (rnd.nextBoolean()) Some((s"n$i", s"n${rnd.nextInt(400)}")) else None
    }.filter { case (a, b) => a != b }
      .groupBy(_._1).map(_._2.head).toSeq // one Location per src
    val want = walk(edges.toMap, 64)
    val got1 = resolve(edges, parts = 1)
    val got13 = resolve(edges, parts = 13)
    assert(got1 === got13, "resolution must not depend on partitioning")
    got1.foreach { case (s, (fin, n, ok)) =>
      val (wf, wn, wok) = want(s)
      assert(ok === wok, s"resolved flag drift at $s")
      if (ok) assert((fin, n) === ((wf, wn)), s"final/hops drift at $s")
    }
  }

  test("duplicate redirect sources are refused loudly") {
    intercept[IllegalArgumentException] {
      resolve(Seq(("a", "b"), ("a", "c")))
    }
  }

  test("warc: status line and Location parse; read() keeps only 2xx pages") {
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val html = "<html><body><p>final page body text</p></body></html>".getBytes("UTF-8")
    val entries = Seq(
      ("https://a.example/start", ts, 301, "https://a.example/mid", "<a>moved</a>".getBytes("UTF-8")),
      ("https://a.example/mid", ts, 302, "https://a.example/end", Array.empty[Byte]),
      ("https://a.example/end", ts, 200, "", html),
      ("https://a.example/gone", ts, 404, "", "<h1>404</h1>".getBytes("UTF-8")))
    val dir = scratchDir("redir")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.warc.gz"),
      MediaGen.warcGzStatus(entries))
    val resp = Warc.readResponses(spark, s"$dir/*.warc.gz")
      .select($"url", $"http_status", $"location")
      .as[(String, Int, String)].collect().map { case (u, s, l) => u -> ((s, l)) }.toMap
    assert(resp("https://a.example/start") === ((301, "https://a.example/mid")))
    assert(resp("https://a.example/mid") === ((302, "https://a.example/end")))
    assert(resp("https://a.example/end") === ((200, "")))
    assert(resp("https://a.example/gone") === ((404, "")))
    val pages = Warc.read(spark, s"$dir/*.warc.gz")
      .select($"url").as[String].collect().toSet
    assert(pages === Set("https://a.example/end"), "read() must keep only 2xx")
    // end-to-end: 3xx rows are the redirect edges; resolution finds the page
    val edges = Warc.readResponses(spark, s"$dir/*.warc.gz")
      .where($"http_status" >= 300 && $"http_status" < 400 && $"location" =!= "")
      .select($"url".as("src"), $"location".as("dst"))
    val fin = CrawlPolicy.resolveRedirects(edges, "src", "dst")
      .as[(String, String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(fin("https://a.example/start") === (("https://a.example/end", 2L, true)))
    assert(fin("https://a.example/mid") === (("https://a.example/end", 1L, true)))
  }
}
