package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ZoneMap
import org.apache.spark.sql.functions._

class ZoneMapSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def table(n: Int) =
    (0 until n).map(i => (i.toLong, s"payload-$i", i % 7)).toDF("k", "payload", "tag")

  // "file:/x" (Hadoop Path) and "file:///x" (input_file_name) both mean /x
  private def norm(f: String) = new java.net.URI(f).getPath

  test("sidecar stats equal the true per-file min/max/rows") {
    val dir = scratchDir("zm1")
    ZoneMap.write(table(5000), dir, "k", files = 10)
    val stats = ZoneMap.stats(spark, dir).collect()
      .map(r => (norm(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.length === 10)
    assert(stats.map(_._4).sum === 5000L)
    // differential: footer-derived stats vs a full data scan
    val truth = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("k").as("lo"), max("k").as("hi"), count(lit(1)).as("n"))
      .collect().map(r => (norm(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(stats.toSet === truth)
    // clustered write → file ranges are disjoint
    val sorted = stats.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a._3 < b._2, s"overlapping files $a $b")
      case _ =>
    }
  }

  test("point probe touches exactly one file; range probe prunes, results exact") {
    val dir = scratchDir("zm2")
    ZoneMap.write(table(5000), dir, "k", files = 10)
    val pt = ZoneMap.readPoint(spark, dir, "k", 4242L)
    assert(pt.inputFiles.length === 1, s"point read touched ${pt.inputFiles.length} files")
    assert(pt.select("payload").as[String].collect().toSeq === Seq("payload-4242"))

    val rg = ZoneMap.readRange(spark, dir, "k", 1000L, 1999L)
    // exactly the files whose sidecar range intersects, and strictly
    // fewer than the table's total (the probe must actually skip)
    val expected = ZoneMap.stats(spark, dir)
      .where(col("min_key") <= 1999L && col("max_key") >= 1000L).count()
    assert(rg.inputFiles.length.toLong === expected)
    assert(expected < 10, s"range probe skipped nothing ($expected of 10 files)")
    val got = rg.select("k").as[Long].collect().sorted
    assert(got.toSeq === (1000L to 1999L))

    // out-of-domain range → zero files, empty result, no crash
    val none = ZoneMap.readRange(spark, dir, "k", 100000L, 200000L)
    assert(none.count() === 0)
  }

  test("plain spark.read still works (sidecar invisible) and non-integral keys refuse") {
    val dir = scratchDir("zm3")
    ZoneMap.write(table(500), dir, "k", files = 4)
    assert(spark.read.parquet(dir).count() === 500L)
    val dir2 = scratchDir("zm4")
    val e = intercept[Exception] {
      ZoneMap.write(table(100), dir2, "payload", files = 2)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }
}
