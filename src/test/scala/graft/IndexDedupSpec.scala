package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup

class IndexDedupSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // reference corpus + a new batch where some docs near-dup the reference
  private lazy val refDocs = graft.fixtures.PageGen.pages(60).zipWithIndex
    .map { case (p, i) => (i.toLong, p.text) }
  private lazy val newDocs: Seq[(Long, String)] = {
    // 10 near-dups of ref docs (one word dropped), 10 fresh docs
    val muts = refDocs.take(10).map { case (id, t) =>
      val toks = t.split(' ')
      (5000L + id, toks.patch(toks.length / 2, Nil, 1).mkString(" "))
    }
    val fresh = graft.fixtures.PageGen.pages(80).zipWithIndex.drop(70)
      .map { case (p, i) => (6000L + i, p.text) }
    muts ++ fresh
  }

  private def naiveJac(a: String, b: String, k: Int): Double = {
    val sa = Dedup.shingleSet(a, k).toSet
    val sb = Dedup.shingleSet(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("index probe: every returned pair is a true near-dup (exact verify)") {
    val dir = scratchDir("mh-idx")
    Dedup.writeMinhashIndex(refDocs.toDF("id", "text"), "id", "text", dir)
    val pairs = Dedup.minhashPairsAgainstIndex(
        newDocs.toDF("id", "text"), "id", "text", dir, threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    val refMap = refDocs.toMap
    val newMap = newDocs.toMap
    pairs.foreach { case (n, r, jac) =>
      val truth = naiveJac(newMap(n), refMap(r), 3)
      assert(truth >= 0.7, s"pair ($n,$r) reported jac=$jac but truth=$truth")
      assert(math.abs(jac - (math.rint(truth * 10000) / 10000)) < 1e-9)
    }
  }

  test("recall: every planted mutation is caught; dedup filter drops exactly the caught docs") {
    val dir = scratchDir("mh-idx2")
    Dedup.writeMinhashIndex(refDocs.toDF("id", "text"), "id", "text", dir)
    val newDf = newDocs.toDF("id", "text")
    val pairs = Dedup.minhashPairsAgainstIndex(newDf, "id", "text", dir, threshold = 0.7)
    val caught = pairs.select($"new_id").distinct().as[Long].collect().toSet
    // all 10 one-word-dropped mutations must be found against their source
    (0 until 10).foreach(i => assert(caught.contains(5000L + i), s"mutation ${5000 + i} missed"))
    val survivors = Dedup.dedupAgainstIndex(newDf, "id", "text", dir, threshold = 0.7)
      .select($"id").as[Long].collect().toSet
    assert(survivors === newDocs.map(_._1).toSet -- caught)
  }

  test("meta row pins signature params: a k=5 index probes with k=5 automatically") {
    val dir = scratchDir("mh-idx3")
    Dedup.writeMinhashIndex(refDocs.toDF("id", "text"), "id", "text", dir,
      shingleK = 5, numHashes = 16, numBands = 4)
    val pairs = Dedup.minhashPairsAgainstIndex(
        newDocs.toDF("id", "text"), "id", "text", dir, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    val refMap = refDocs.toMap
    val newMap = newDocs.toMap
    // jac values must be the k=5 truth, proving the probe used the meta
    pairs.foreach { case (n, r, jac) =>
      val truth = naiveJac(newMap(n), refMap(r), 5)
      assert(math.abs(jac - (math.rint(truth * 10000) / 10000)) < 1e-9,
        s"pair ($n,$r): jac=$jac but k=5 truth=$truth")
    }
  }

  test("maxBucket cap: exact duplicates still dropped when the bucket saturates") {
    val dir = scratchDir("mh-idx4")
    // reference: 30 copies of the same text → every band bucket is hot
    val sameText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val ref = (0L until 30L).map(i => (i, sameText))
    Dedup.writeMinhashIndex(ref.toDF("id", "text"), "id", "text", dir)
    val newDf = Seq((900L, sameText), (901L, "totally different content no overlap here at all"))
      .toDF("id", "text")
    val survivors = Dedup.dedupAgainstIndex(newDf, "id", "text", dir,
        threshold = 0.8, maxBucket = 2)
      .select($"id").as[Long].collect().toSet
    assert(survivors === Set(901L))
  }

  test("null-text new rows survive; empty new batch returns empty") {
    val dir = scratchDir("mh-idx5")
    Dedup.writeMinhashIndex(refDocs.toDF("id", "text"), "id", "text", dir)
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, refDocs.head._2))
      .toDF("id", "text")
    val out = Dedup.dedupAgainstIndex(withNull, "id", "text", dir, threshold = 0.7)
      .select($"id").as[Long].collect().toSet
    assert(out === Set(1L)) // the verbatim copy is dropped, the null row kept
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.minhashPairsAgainstIndex(empty, "id", "text", dir).count() === 0)
  }

  test("appendMinhashSigs: refuses an unpartitioned index, refuses mismatched params") {
    val dir = scratchDir("mh-idx6")
    Dedup.writeMinhashIndex(refDocs.toDF("id", "text"), "id", "text", dir)
    val more = Seq((500L, "fresh doc words entirely new")).toDF("id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.appendMinhashSigs(more, "id", "text", dir, batchId = 0L)
    }
    assert(e1.getMessage.contains("unpartitioned"), e1.getMessage)

    val dir2 = scratchDir("mh-idx7")
    Dedup.appendMinhashSigs(more, "id", "text", dir2, batchId = 0L, shingleK = 3)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendMinhashSigs(more, "id", "text", dir2, batchId = 1L, shingleK = 5)
    }
    assert(e2.getMessage.contains("pins"), e2.getMessage)
    // matched params append fine and the grown index probes correctly
    Dedup.appendMinhashSigs(
      Seq((501L, refDocs.head._2)).toDF("id", "text"), "id", "text", dir2, batchId = 1L)
    val probe = Dedup.dedupAgainstIndex(
      Seq((900L, refDocs.head._2)).toDF("id", "text"), "id", "text", dir2, threshold = 0.7)
    assert(probe.count() === 0, "copy of an indexed doc must be dropped")
  }
}
