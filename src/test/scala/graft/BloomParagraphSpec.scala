package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

class BloomParagraphSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def doc(id: Long, paras: String*): (Long, String) = (id, paras.mkString("\n"))

  test("within-batch: duplicate paragraphs keep first occurrence, docs reassemble in order") {
    val dir = scratchDir("bloom1")
    val batch = Seq(
      doc(1, "alpha one", "shared paragraph", "alpha two"),
      doc(2, "beta one", "shared paragraph", "beta two"),   // shared drops here
      doc(3, "shared paragraph"),                           // fully duplicate → gone
      doc(4, "gamma", "", "  ", "gamma tail"))              // blank units ignored
    val got = Dedup.paragraphBloomDedup(batch.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/bloom")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 4L))
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === "alpha one\nshared paragraph\nalpha two")
    assert(byId(1L)._3 === 3L && byId(1L)._4 === 0L)
    assert(byId(2L)._2 === "beta one\nbeta two", "doc 2 must lose the shared paragraph")
    assert(byId(2L)._4 === 1L)
    assert(byId(4L)._2 === "gamma\ngamma tail")
  }

  test("cross-run: paragraphs seen in earlier batches drop via the at-rest filter") {
    val dir = scratchDir("bloom2")
    val run1 = Seq(doc(1, "first run para A", "first run para B"))
    Dedup.paragraphBloomDedup(run1.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/bloom").collect()
    // run 2: one repeated paragraph, one novel
    val run2 = Seq(doc(10, "first run para A", "novel paragraph"))
    val got2 = Dedup.paragraphBloomDedup(run2.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/bloom")
      .as[(Long, String, Long, Long)].collect()
    assert(got2.length === 1)
    assert(got2(0)._2 === "novel paragraph")
    assert((got2(0)._3, got2(0)._4) === ((1L, 1L)))
    // run 3: everything already seen → zero surviving documents
    val run3 = Seq(doc(20, "first run para B", "novel paragraph"))
    val got3 = Dedup.paragraphBloomDedup(run3.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/bloom").collect()
    assert(got3.isEmpty, "fully-seen documents must drop out entirely")
  }

  test("decisions are deterministic and parallelism-invariant; filter bytes stable") {
    val dirA = scratchDir("bloom3a")
    val dirB = scratchDir("bloom3b")
    val batch = (0L until 200L).map { i =>
      doc(i, (0 until 8).map(p => s"para ${(i * 3 + p) % 97} body $p"): _*)
    }
    val a = Dedup.paragraphBloomDedup(batch.toDF("doc_id", "text").repartition(1),
      "doc_id", "text", s"$dirA/bloom").orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val b = Dedup.paragraphBloomDedup(batch.toDF("doc_id", "text").repartition(13),
      "doc_id", "text", s"$dirB/bloom").orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(a === b, "dedup decisions must not depend on partitioning")
    val bytesA = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dirA/bloom/bloom.bin"))
    val bytesB = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dirB/bloom/bloom.bin"))
    assert(bytesA.toSeq === bytesB.toSeq, "at-rest filter must be parallelism-invariant")
  }
}
