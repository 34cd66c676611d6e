package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity
import org.apache.spark.sql.functions._
import scala.util.Random

class PqSpec extends AnyFunSuite with SparkSuite {

  private val dim = 64

  /** Clustered fixture: `groups` seed vectors, `perGroup` noisy members
    * each — PQ has real structure to quantize and true neighbors exist.
    */
  private def corpus(groups: Int, perGroup: Int, seed: Int): Seq[(Long, Seq[Float])] = {
    val r = new Random(seed)
    (0 until groups).flatMap { g =>
      val base = Array.fill(dim)(r.nextDouble() * 2 - 1)
      (0 until perGroup).map { j =>
        val v = base.map(x => (x + r.nextGaussian() * 0.08).toFloat)
        ((g * perGroup + j).toLong, v.toSeq)
      }
    }
  }

  test("pqEncode: codes are m bytes and identical at any parallelism") {
    import spark.implicits._
    val data = corpus(6, 10, 1)
    def codesAt(parts: Int) = {
      val df = data.toDF("vec_id", "embedding").repartition(parts)
      val (codes, _) = Similarity.pqEncode(df, "vec_id", "embedding", m = 8, ksub = 16)
      codes.as[(Long, Array[Byte])].collect().map { case (id, c) => id -> c.toSeq }.toMap
    }
    val c1 = codesAt(1)
    val c5 = codesAt(5)
    assert(c1.values.forall(_.length == 8), "code must be m bytes")
    assert(c1 == c5, "codes drift with partitioning")
  }

  test("pq reconstruction: decoded centroids stay close to the original vector") {
    import spark.implicits._
    val data = corpus(8, 12, 2)
    val df = data.toDF("vec_id", "embedding")
    val (codes, bc) = Similarity.pqEncode(df, "vec_id", "embedding", m = 8, ksub = 16)
    val byId = data.map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    val sims = codes.as[(Long, Array[Byte])].collect().map { case (id, code) =>
      val books = bc.value
      val dsub = dim / books.length
      val rec = new Array[Double](dim)
      code.zipWithIndex.foreach { case (cb, sub) =>
        System.arraycopy(books(sub)(cb & 0xff), 0, rec, sub * dsub, dsub)
      }
      val v = byId(id)
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until dim).foreach { i => d += v(i) * rec(i); na += v(i) * v(i); nb += rec(i) * rec(i) }
      d / math.sqrt(na * nb)
    }
    assert(sims.min > 0.7, s"worst reconstruction cosine ${sims.min}")
    assert(sims.sum / sims.length > 0.9, s"mean reconstruction cosine ${sims.sum / sims.length}")
  }

  test("pqTopK: exact-refined results, recall vs brute force") {
    import spark.implicits._
    val data = corpus(10, 10, 3)
    val df = data.toDF("vec_id", "embedding")
    val qid = 7L
    val k = 10
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", qid, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = Similarity.pqTopK(df, "vec_id", "embedding", qid, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // returned sims are EXACT cos6 (the refine pass re-ranks true vectors):
    // every returned (id, sim) must appear in the full exact ranking
    val exactAll = Similarity.bruteForceTopK(df, "vec_id", "embedding", qid, data.size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.foreach { case (id, sim) =>
      assert(math.abs(exactAll(id) - sim) < 1e-9, s"sim for $id not exact")
    }
    val recall = got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size.toDouble / k
    assert(recall >= 0.8, s"recall@$k = $recall")
    // the query's own group (true top neighbors) must dominate
    assert(got.map(_._1).contains(qid), "query itself missing from its own top-k")
  }

  test("pqEncode plan: one stateless pass, no shuffle") {
    import spark.implicits._
    val df = corpus(4, 8, 9).toDF("vec_id", "embedding")
    val (codes, _) = Similarity.pqEncode(df, "vec_id", "embedding", m = 8, ksub = 16)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"encoding must be a map-only pass (broadcast codebooks):\n$plan")
  }

  test("pq index at rest: probe finds the planted duplicate, recall holds") {
    import spark.implicits._
    val data = corpus(8, 10, 4)
    val df = data.toDF("vec_id", "embedding")
    val dir = scratchDir("pq")
    Similarity.pqBuildIndex(df, "vec_id", "embedding", dir, m = 8, ksub = 16)
    // index stores CODES only — 8 bytes/vector, no raw floats
    val codeRows = spark.read.parquet(s"$dir/codes")
    assert(codeRows.columns.toSeq == Seq("id", "code"))
    val qv = data.find(_._1 == 3L).get._2.map(_.toDouble).toArray
    val got = Similarity.pqProbeIndex(spark, dir, qv, 10)
      .collect().map(_.getLong(0))
    assert(got.contains(3L), "planted query vector missing from ADC top-10")
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", 3L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = got.toSet.intersect(exact).size.toDouble / 10
    assert(recall >= 0.6, s"at-rest ADC recall@10 = $recall")
  }
}
