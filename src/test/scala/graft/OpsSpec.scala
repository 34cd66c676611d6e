package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.{MediaGen, PageGen}
import graft.kernel.{Lang, TextStats}
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

class OpsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // corpus: fixture ground-truth texts + mutated near-duplicates
  private lazy val corpus = {
    val base = PageGen.pages(120).zipWithIndex.map { case (p, i) => (i.toLong, p.text) }
    val muts = base.take(25).map { case (id, t) =>
      val toks = t.split(' ')
      (1000L + id, toks.patch(toks.length / 2, Nil, 1).mkString(" ")) // drop one word
    }
    val exactDups = base.slice(25, 35).map { case (id, t) => (2000L + id, t) }
    base ++ muts ++ exactDups
  }
  private lazy val corpusDf = corpus.toDF("id", "text").cache()

  test("exact dedup groups byte-identical texts") {
    val d = Dedup.exact(corpusDf, "id", "text")
    assert(d.agg(sum($"dup_count")).as[Long].head() === corpus.size.toLong)
    assert(d.where($"dup_count" >= 2).count() >= 10)
    assert(d.count() < corpus.size)
  }

  test("word-set jaccard pairs: handcrafted values exact") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z"), (4L, "a b c d"))
      .toDF("id", "text")
    val pairs = Dedup.wordJaccardPairs(df, "id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 0.6), (1L, 4L, 1.0), (2L, 4L, 0.6)))
  }

  test("prefix-filtered jaccard == naive every-token join (exactness of AllPairs)") {
    Seq(0.5, 0.8, 0.9).foreach { t =>
      val fast = Dedup.wordJaccardPairs(corpusDf, "id", "text", t)
        .as[(Long, Long, Double)].collect().toSet
      val naive = Dedup.wordJaccardPairsNaive(corpusDf, "id", "text", t)
        .as[(Long, Long, Double)].collect().toSet
      assert(fast === naive, s"prefix filter diverged at threshold $t")
      if (t <= 0.8) assert(fast.nonEmpty)
    }
  }

  test("prefix filter boundary: J exactly t with rare tokens hogging the prefix") {
    // regression: with prefix = floor((1-t)|d|)+1, FP error shortened the
    // prefix by one whenever t·|d| was an exact integer; this pair (J =
    // 18/20 = 0.9, A's two rarest tokens both non-shared) was then lost
    val shared = (1 to 18).map(i => s"w$i")
    val edge = Seq(
      (1L, (shared ++ Seq("rareonlyx", "rareonlyy")).mkString(" ")),
      (2L, shared.mkString(" "))).toDF("id", "text")
    val fast = Dedup.wordJaccardPairs(edge, "id", "text", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast === Set((1L, 2L, 0.9)))
  }

  test("minhash LSH: exact precision, high recall vs exact shingle jaccard") {
    val k = 3
    val sh = corpusDf.select($"id",
      array_distinct(Dedup.shingles($"text", k)).as("sh"))
    val jac = size(array_intersect($"a.sh", $"b.sh")).cast("double") /
      size(array_union($"a.sh", $"b.sh")).cast("double")
    val exact = sh.as("a").join(sh.as("b"), $"a.id" < $"b.id")
      .where(jac >= 0.8)
      .select($"a.id".as("a_id"), $"b.id".as("b_id"), round(jac, 4).as("jac"))
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "corpus must contain shingle near-dups")

    val lsh = Dedup.minhashNearDupPairs(corpusDf, "id", "text",
      shingleK = k, numHashes = 32, numBands = 8, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet

    // precision is exact by construction (candidates verified with true jaccard)
    assert(lsh.forall(p => exact.contains(p)), "LSH produced a pair exact search lacks")
    val recall = lsh.size.toDouble / exact.size
    info(s"minhash-LSH recall = ${lsh.size}/${exact.size} = $recall")
    assert(recall >= 0.9, s"recall $recall below 0.9")
  }

  test("typed minhash kernel == columnar shingles/minHash (bit-identical)") {
    val sample = corpus.take(60)
    val columnar = sample.toDF("id", "text")
      .select($"id", array_distinct(Dedup.shingles($"text", 3)).as("sh"))
      .withColumn("mh", Dedup.minHash($"sh", 32))
      .as[(Long, Seq[String], Seq[Long])].collect()
    val byId = sample.toMap
    columnar.foreach { case (id, sh, mh) =>
      val ks = Dedup.shingleSet(byId(id), 3)
      assert(ks.toSeq === sh, s"shingle divergence for id $id")
      assert(Dedup.minHashSig(ks, 32).toSeq === mh, s"signature divergence for id $id")
    }
  }

  test("simhash: pigeonhole block join finds exactly the hamming<=3 pairs") {
    val pairs = Dedup.simHashPairs(corpusDf, "id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // brute-force truth over collected signatures
    val sigs = Dedup.simHashes(corpusDf, "id", "text").as[(Long, Long)].collect()
    val truth = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && TextStats.hamming64(sa, sb) <= 3
    } yield (ia, ib, TextStats.hamming64(sa, sb))).toSet
    assert(pairs === truth)
    assert(truth.exists(_._3 === 0), "exact dups must collide at hamming 0")
  }

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("embedding near-dup: LSH subset of exact, with measured recall") {
    val exact = Dedup.cosinePairsExact(emb, "vec_id", "embedding", 0.4)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val planes = Similarity.randomPlanes(6, 64)
    val lsh = Dedup.cosineNearDupLsh(emb, "vec_id", "embedding", 0.4, planes)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH precision must be exact (verified pairs)")
    info(s"cosine-LSH recall = ${lsh.size}/${exact.size} (single table, 6 planes)")
  }

  test("cosine LSH multi-table: exact precision, recall >= 0.9 on near-identical vectors") {
    // the production near-dup scenario: perturbed copies at cos ≈ 0.999,
    // where the hyperplane S-curve puts per-table collision probability
    // near 1 — OR-amplification over 4 tables must recover ≥ 90 %
    val r = new scala.util.Random(7)
    val base = Seq.tabulate(80)(i => (i.toLong, Array.fill(64)(r.nextGaussian().toFloat)))
    val dups = base.take(30).map { case (id, v) =>
      (1000L + id, v.map(x => x + 0.01f * r.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.cosinePairsExact(df, "vec_id", "embedding", 0.95)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(exact.size >= 30, s"expected the 30 planted near-dups, got ${exact.size}")
    val lsh = Dedup.cosineNearDupLshMulti(df, "vec_id", "embedding", 0.95,
      tables = 4, planesPerTable = 8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH precision must be exact (verified pairs)")
    val recall = lsh.size.toDouble / exact.size
    info(s"multi-table cosine-LSH recall = ${lsh.size}/${exact.size} = $recall")
    assert(recall >= 0.9, s"recall $recall below 0.9")
  }

  test("minhash LSH drops null-text rows (no spurious null-null pairs)") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("id", "text")
      .union(Seq((3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String])).toDF("id", "text"))
    val pairs = Dedup.minhashNearDupPairs(df, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)), s"null-text rows must not pair: $pairs")
  }

  test("kernel hyperplane signature == columnar expression (bit-identical)") {
    val planes = Similarity.randomPlanes(6, 64)
    val colSig = emb.select($"vec_id",
        Similarity.hyperplaneSig($"embedding", planes).as("s"))
      .as[(Long, Long)].collect().toMap
    val planesArr = planes.map(_.toArray).toArray
    val kernelSig = emb
      .select($"vec_id".cast("long"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) => id -> Similarity.sigOf(v, planesArr) }.toMap
    assert(colSig === kernelSig)
  }

  test("ann: brute-force topk deterministic; LSH topk scores bounded by it") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 7L, 10)
      .as[(Long, Double)].collect()
    assert(bf.head === ((7L, 1.0)))
    assert(bf.length === 10)
    val ann = Similarity.annLshTopK(emb, "vec_id", "embedding", 7L, 10,
      tables = 10, planesPerTable = 5)
      .as[(Long, Double)].collect()
    assert(ann.head === ((7L, 1.0)))
    assert(ann.map(_._2).max <= bf.map(_._2).max + 1e-9)
    val overlap = ann.map(_._1).toSet.intersect(bf.map(_._1).toSet).size
    info(s"ANN overlap@10 with brute force = $overlap/10")
    assert(overlap >= 1)
  }

  test("ivf: all-cells probe equals brute force; partial probe keeps the self-hit") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 7L, 10)
      .as[(Long, Double)].collect().toSeq
    // nprobe == nlist probes every cell → must EQUAL the exact scan
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", 7L, 10,
      nlist = 16, nprobe = 16).as[(Long, Double)].collect().toSeq
    assert(full === bf)
    // partial probe: query's own cell is always the closest → self-hit
    // guaranteed; measure recall@10 for the record
    val part = Similarity.ivfTopK(emb, "vec_id", "embedding", 7L, 10,
      nlist = 16, nprobe = 4).as[(Long, Double)].collect().toSeq
    assert(part.head === ((7L, 1.0)))
    assert(part.map(_._2).max <= bf.map(_._2).max + 1e-9)
    val overlap = part.map(_._1).toSet.intersect(bf.map(_._1).toSet).size
    info(s"IVF recall@10 at nprobe=4/16 = $overlap/10")
    // determinism: same seed → identical result
    val again = Similarity.ivfTopK(emb, "vec_id", "embedding", 7L, 10,
      nlist = 16, nprobe = 4).as[(Long, Double)].collect().toSeq
    assert(again === part)
  }

  test("connected components: chains resolve transitively to the minimum id") {
    // a diameter-3 chain forces several propagation rounds; plus a
    // separate triangle-ish component and an isolated pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (12L, 11L), (20L, 21L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // star edges from the capped-LSH hot bucket resolve to one cluster
    val star = (1L until 50L).map(i => (0L, i)).toDF("a_id", "b_id")
    val starCc = Dedup.connectedComponents(star).as[(Long, Long)].collect()
    assert(starCc.forall(_._2 === 0L) && starCc.length === 50)
  }

  test("connected components: a diameter-299 path converges in O(log d) rounds") {
    // a 300-node chain (diameter 299) — the round-3 verdict's silent
    // wrong-answer case: one-hop propagation needed 299 rounds and the
    // old maxIter=25 cap returned SPLIT clusters without error. Pointer
    // doubling must resolve it well inside the cap, in ~log2 rounds.
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (cc, rounds) = Dedup.connectedComponentsWithStats(chain)
    val got = cc.as[(Long, Long)].collect()
    assert(got.length === 300)
    assert(got.forall(_._2 === 0L),
      s"split clusters: ${got.filter(_._2 != 0L).take(5).mkString(",")}")
    assert(rounds <= 14, s"expected O(log 299) rounds, took $rounds")
    info(s"diameter-299 path converged in $rounds rounds")
  }

  test("capped LSH: hot bucket collapses to a star, cold buckets unaffected") {
    // pathological corpus: one saturated bucket (300 identical texts — the
    // mirror-farm case where every band of every member collides) plus an
    // ordinary near-dup pair in its own cold buckets
    val hotN = 300
    val hot = Seq.tabulate(hotN)(i =>
      (i.toLong, "the same boilerplate page body repeated across a mirror farm"))
    // identical pair ⇒ collides in every band, bucket size 2 stays cold
    val cold = Seq(
      (5000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val df = (hot ++ cold).toDF("id", "text")

    val capped = Dedup.minhashNearDupPairs(df, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.8,
      maxBucket = 50)
      .as[(Long, Long, Double)].collect()
    // star topology: m−1 hot edges (all anchored at the min id) + the cold
    // pair — NOT the m(m−1)/2 ≈ 45k pair explosion
    val hotEdges = capped.filter(_._1 < 5000L)
    assert(hotEdges.length === hotN - 1,
      s"expected ${hotN - 1} star edges, got ${hotEdges.length}")
    assert(hotEdges.forall(e => e._1 === 0L && e._3 === 1.0),
      "hot edges must anchor at the bucket representative (min id)")
    // cluster connectivity preserved: every hot member reachable via rep
    assert(hotEdges.map(_._2).toSet === (1L until hotN.toLong).toSet)
    // cold buckets keep the exact full pair enumeration
    assert(capped.count(p => p._1 === 5000L && p._2 === 5001L) === 1,
      "cold near-dup pair must survive the cap untouched")

    // cap wide enough to touch nothing ⇒ identical to the exact variant
    val exact = Dedup.minhashNearDupPairs(corpusDf, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val wide = Dedup.minhashNearDupPairs(corpusDf, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.8,
      maxBucket = 100000)
      .as[(Long, Long, Double)].collect().toSet
    assert(wide === exact, "an unreached cap must not change the result")
  }

  test("ivf at-rest index: probe equals in-memory twin and scans only nprobe cells") {
    val dir = scratchDir("ivf-idx")
    Similarity.ivfBuildIndex(emb, "vec_id", "embedding", dir, nlist = 16)
    val qv = emb.where($"vec_id" === 7L)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .as[Array[Double]].head()

    val stored = Similarity.ivfProbeIndex(spark, dir, qv, 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    // same seed/sample/iters → identical centroids → identical result to
    // the in-memory operator
    val twin = Similarity.ivfTopK(emb, "vec_id", "embedding", 7L, 10,
      nlist = 16, nprobe = 4).as[(Long, Double)].collect().toSeq
    assert(stored === twin)
    assert(stored.head === ((7L, 1.0)))

    // the pruning proof: the probe's cell filter is a PARTITION filter, so
    // the scan must touch exactly the nprobe cell directories (one file
    // per cell by construction), not all nlist
    val centroids = spark.read.parquet(s"$dir/centroids").orderBy($"cell")
      .select($"centroid").as[Seq[Double]].collect().map(_.toArray)
    assert(centroids.length === 16)
    val probed = Similarity.probeCells(qv, centroids, 4)
    val pruned = spark.read.parquet(s"$dir/corpus")
      .where($"cell".isin(probed.map(Integer.valueOf): _*))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(s"$dir/corpus").inputFiles.length.toLong
    info(s"IVF probe read $filesRead of $totalFiles index files (nprobe=4/nlist=16)")
    assert(totalFiles === 16L, "index must lay out one file per cell")
    assert(filesRead === 4L, s"probe must scan only the probed cells, read $filesRead")
  }

  test("nearDupFilter: end-to-end survivors equal the exact-Jaccard union-find oracle") {
    // 25 near-dup families (base text + light per-member edits, jac >> 0.8)
    // + 40 unique docs; ids interleaved so min-id reps span both ranges
    def base(f: Int): String =
      (0 until 60).map(w => s"tok${(f * 31 + w * 7) % 97} word$w").mkString(" ")
    val docs: Seq[(Long, String)] =
      (0 until 25).flatMap { f =>
        (0 until 4).map { m =>
          val t = base(f) + (if (m > 0) s" extra$m" else "")
          (f * 10L + m, t)
        }
      } ++ (0 until 40).map(u => (1000L + u,
        (0 until 50).map(w => s"uniq${u}x$w only$u").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.nearDupFilter(df, "doc_id", "text",
        shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.8,
        maxBucket = 64)
      .select($"doc_id").as[Long].collect().toSet
    // oracle: exact shingle-set Jaccard all-pairs + union-find, plain Scala
    val sets = docs.map { case (id, t) => id -> Dedup.shingleSet(t, 3).toSet }
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (i <- sets.indices; j <- (i + 1) until sets.size) {
      val (ia, sa) = sets(i); val (ib, sb) = sets(j)
      val inter = sa.intersect(sb).size
      val jac = inter.toDouble / (sa.size + sb.size - inter)
      if (jac >= 0.8) {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val want = docs.map(_._1).filter(id => find(id) == id).toSet
    assert(got === want)
    // exactly one survivor per family + every unique doc
    assert(want.count(_ < 1000L) === 25 && want.count(_ >= 1000L) === 40)
    // degenerate corpus with NO near-dups: empty pair list, everything
    // survives (CC on zero edges must converge, not throw)
    val uniques = docs.filter(_._1 >= 1000L).toDF("doc_id", "text")
    val all = Dedup.nearDupFilter(uniques, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(all === docs.map(_._1).filter(_ >= 1000L).toSet)
  }

  test("ivf batch probe: all-cells equals per-query brute force; partial probe recall bounded") {
    val queries = emb.where($"vec_id" < 12)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    // nprobe == nlist probes everything → per-query result must EQUAL the
    // single-query brute-force scan (same rounding, same tie-break)
    val full = Similarity.ivfTopKBatch(emb, queries, "vec_id", "embedding",
        "qid", "qv", k = 10, nlist = 16, nprobe = 16)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq }
    (0L until 12L).foreach { q =>
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .as[(Long, Double)].collect().toSeq
      assert(full(q) === bf, s"query $q")
    }
    // partial probe: every query keeps its self-hit (own cell is always
    // probed) and mean recall@10 stays useful
    val part = Similarity.ivfTopKBatch(emb, queries, "vec_id", "embedding",
        "qid", "qv", k = 10, nlist = 16, nprobe = 4)
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    val recalls = (0L until 12L).map { q =>
      val got = part(q).map(_._2).toSet
      assert(got.contains(q), s"query $q lost its self-hit")
      got.intersect(full(q).map(_._1).toSet).size
    }
    info(s"batch IVF recall@10 at nprobe=4/16: mean ${recalls.sum / 12.0}/10")
    assert(recalls.sum >= 12 * 4, "mean recall collapsed below 0.4")
  }

  test("ivf batch probe: zero-norm vectors yield NaN rows, not a job-killing exception") {
    // cos6 must mirror Spark round(): NaN/Infinity pass through
    assert(Similarity.cos6(Array(0.0, 0.0), Array(1.0, 2.0)).isNaN)
    assert(Similarity.cos6(Array(1.0, 2.0), Array(1.0, 2.0)) === 1.0)
    val rows = Seq((0L, Array(0f, 0f, 0f)), (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(1f, 1f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val q = df.select($"vec_id".as("qid"), $"embedding".as("qv"))
    // nlist > n collapses to per-vector cells; must complete, zero-norm
    // pairs carry NaN sims instead of aborting the task
    val out = Similarity.ivfTopKBatch(df, q, "vec_id", "embedding",
        "qid", "qv", k = 4, nlist = 4, nprobe = 4, sampleN = 4)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.filter(r => r._1 == 0L || r._2 == 0L).forall(_._3.isNaN))
  }

  test("antiJoinBloom: mismatched key types fail loudly instead of silently missing") {
    import graft.ops.Relational
    val left = Seq((1, "a"), (2, "b")).toDF("k", "v") // k: INT
    val right = Seq(1L, 3L).toDF("k") // k: BIGINT
    val e = intercept[IllegalArgumentException](
      Relational.antiJoinBloom(left, right, "k"))
    assert(e.getMessage.contains("types differ"))
  }

  test("ivf batch probe at rest: equals in-memory twin, scans only the probed-cell union") {
    val dir = scratchDir("ivf-batch")
    Similarity.ivfBuildIndex(emb, "vec_id", "embedding", dir, nlist = 16)
    val queries = emb.where($"vec_id".isin(3L, 7L))
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val stored = Similarity.ivfProbeIndexBatch(spark, dir, queries,
        "qid", "qv", k = 10, nprobe = 2)
      .as[(Long, Long, Double)].collect().toSet
    val twin = Similarity.ivfTopKBatch(emb, queries, "vec_id", "embedding",
        "qid", "qv", k = 10, nlist = 16, nprobe = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(stored === twin)
    // pruning proof: the corpus scan touches exactly the probed-cell
    // union (2 queries × ≤2 cells → ≤4 of 16 one-file-per-cell dirs)
    val centroids = spark.read.parquet(s"$dir/centroids").orderBy($"cell")
      .select($"centroid").as[Seq[Double]].collect().map(_.toArray)
    val union = Seq(3L, 7L).flatMap { q =>
      val qv = emb.where($"vec_id" === q)
        .select(expr("transform(embedding, x -> cast(x as double))"))
        .as[Array[Double]].head()
      Similarity.probeCells(qv, centroids, 2)
    }.toSet
    val pruned = spark.read.parquet(s"$dir/corpus")
      .where($"cell".isin(union.toSeq.map(Integer.valueOf): _*))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metrics("numFiles").value === union.size.toLong)
    assert(union.size <= 4)
  }

  test("asof join: equals the per-key brute-force oracle, inclusive at equal ts") {
    import graft.ops.Relational
    val r = new scala.util.Random(61)
    val right = Seq.tabulate(60)(i => (i % 7L, 1000L + r.nextInt(500) * 10, i * 1.5))
      .distinct.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq // unique (key, ts)
    val left = Seq.tabulate(120)(i => (100L + i, i % 9L, 1000L + r.nextInt(5200)))
    val rightDf = right.toDF("k", "ts", "v")
    val leftDf = left.toDF("id", "k", "ts")
    val got = Relational.asofJoin(leftDf, rightDf, "k", "ts")
      .select($"id", $"_asof_ts", $"_r_v")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map { case (id, ts, v) => id -> ((ts, v)) }.toMap
    assert(got.size === left.size, "left-join semantics: every left row survives")
    left.foreach { case (id, k, ts) =>
      val want = right.filter(t => t._1 == k && t._2 <= ts).sortBy(_._2).lastOption
      assert(got(id) === ((want.map(_._2), want.map(_._3))), s"row $id (k=$k ts=$ts)")
    }
    // exactly one exchange: the window's hash partitioning on the key
    val plan = Relational.asofJoin(leftDf, rightDf, "k", "ts")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)

    // a NULL value in the true as-of row must surface as NULL — not fall
    // through to an older right row's value (the frankenrow bug class)
    val rNull = Seq((1L, 100L, Some(5.0)), (1L, 200L, None))
      .toDF("k", "ts", "v")
    val lOne = Seq((7L, 1L, 300L)).toDF("id", "k", "ts")
    val row = Relational.asofJoin(lOne, rNull, "k", "ts")
      .select($"_asof_ts", $"_r_v").as[(Option[Long], Option[Double])].head()
    assert(row === ((Some(200L), None)),
      "as-of row with null value must not borrow an older row's value")

    // reserved-namespace inputs fail loudly instead of silently colliding
    val badLeft = Seq((1L, 1L, "x")).toDF("k", "ts", "_side")
    val e1 = intercept[IllegalArgumentException](
      Relational.asofJoin(badLeft, rightDf, "k", "ts"))
    assert(e1.getMessage.contains("_side"))
    val badRight = Seq((1L, 1L, 0.5)).toDF("k", "ts", "_r_v")
    val e2 = intercept[IllegalArgumentException](
      Relational.asofJoin(leftDf, badRight, "k", "ts"))
    assert(e2.getMessage.contains("_r_v"))
  }

  test("topKExact: equals brute force, survives repartitioning, certifies") {
    import graft.ops.TextOps
    val r = new scala.util.Random(65)
    // Zipf-ish corpus: token i appears ~40000/(i+1) times, shuffled
    val toks = scala.util.Random.javaRandomToRandom(new java.util.Random(65))
      .shuffle((0 until 400).flatMap(i => Seq.fill(40000 / (i + 1))(s"tok$i")))
    val df = toks.toDF("token").repartition(13)
    val got = TextOps.topKExact(df, "token", k = 10, capacity = 256)
      .as[(String, Long)].collect().toSeq
    val want = toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(10)
    assert(got === want)
    // partitioning must not change the answer
    val got2 = TextOps.topKExact(df.repartition(3), "token", k = 10, capacity = 256)
      .as[(String, Long)].collect().toSeq
    assert(got2 === want)
    // a near-uniform corpus at tiny capacity cannot certify: loud failure
    val flat = (0 until 5000).map(i => s"u${i % 1000}").toDF("token")
    val e = intercept[IllegalArgumentException](
      TextOps.topKExact(flat, "token", k = 10, capacity = 32))
    assert(e.getMessage.contains("not certifiable"))
    // review fix: MG decrement rounds can EMPTY the candidate set while
    // the corpus has >= k distinct tokens - a short result must not be
    // sold as "certified exact"
    val wipe = (0 until 33).map(i => s"w$i").toDF("token").coalesce(1)
    val e2 = intercept[IllegalArgumentException](
      TextOps.topKExact(wipe, "token", k = 10, capacity = 32))
    assert(e2.getMessage.contains("not certifiable"))
    // nulls are excluded from ranking AND from N (marker conflation fix)
    val withNulls = (Seq.fill(300)(Some("hot")) ++ Seq.fill(200)(Option.empty[String]) ++
      (0 until 30).map(i => Some(s"c$i"))).toDF("token")
    val topWithNulls = TextOps.topKExact(withNulls, "token", k = 1, capacity = 64)
      .as[(String, Long)].collect()
    assert(topWithNulls.toSeq === Seq(("hot", 300L)))
    val _ = r
  }

  test("antiJoinBloom: exactly equals the plain anti-join at any fpp") {
    import graft.ops.Relational
    val r = new scala.util.Random(66)
    val left = Seq.tabulate(3000)(i => (i.toLong, s"row$i")).toDF("k", "v")
    val right = Seq.fill(400)(r.nextInt(3500).toLong).distinct.toDF("k")
    val want = left.join(right, Seq("k"), "left_anti")
      .as[(Long, String)].collect().toSet
    for (fpp <- Seq(0.5, 0.01)) { // even an awful filter must stay exact
      val got = Relational.antiJoinBloom(left, right, "k",
        expectedItems = 500, fpp = fpp).as[(Long, String)].collect().toSet
      assert(got === want, s"fpp=$fpp")
    }
  }

  test("antiJoinBloom: STRING sha-hex keys (the content-hash resume shape) and null keys") {
    import graft.ops.Relational
    def sha(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // left: 2000 rows keyed by sha256 hex (plus 5 null-key rows); right:
    // every 3rd hash is "seen" plus some never-present hashes
    val leftRows = Seq.tabulate(2000)(i => (Option(sha(s"doc$i")), i.toLong)) ++
      Seq.tabulate(5)(i => (Option.empty[String], 10000L + i))
    val left = leftRows.toDF("content_hash", "doc_id")
    val right = (Seq.tabulate(2000)(i => sha(s"doc$i")).zipWithIndex
      .collect { case (h, i) if i % 3 == 0 => h } ++
      Seq.tabulate(50)(i => sha(s"ghost$i"))).toDF("content_hash")
    val want = left.join(right, Seq("content_hash"), "left_anti")
      .as[(Option[String], Long)].collect().toSet
    // a true left_anti KEEPS null-key rows — so must the Bloom variant
    assert(want.count(_._1.isEmpty) === 5)
    for (fpp <- Seq(0.5, 0.05, 0.001)) {
      val got = Relational.antiJoinBloom(left, right, "content_hash",
        expectedItems = 1000, fpp = fpp).as[(Option[String], Long)].collect().toSet
      assert(got === want, s"fpp=$fpp")
    }
  }

  test("pageRank: matches a local reference, conserves mass, ranks hubs higher") {
    import graft.ops.Graph
    // a hub-and-chain graph with a dangling node: 0 is pointed at by
    // everyone (hub), 1..4 a chain, 5 dangling (no out-edges)
    val edgeSeq = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L),
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (0L, 1L))
    val got = Graph.pageRank(edgeSeq.toDF("src", "dst"), iters = 15)
      .as[(Long, Double)].collect().toMap
    // local reference implementation (same semantics, plain Scala)
    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outs = edgeSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val d = 0.85
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 15) {
      val dangling = nodes.filterNot(outs.contains).map(r).sum
      val base = (1 - d) / nodes.size + d * dangling / nodes.size
      val in = nodes.map { v =>
        v -> nodes.filter(u => outs.get(u).exists(_.contains(v)))
          .map(u => r(u) / outs(u).size).sum
      }.toMap
      r = nodes.map(v => v -> (base + d * in(v))).toMap
    }
    assert(got.keySet === r.keySet)
    r.foreach { case (v, want) =>
      assert(math.abs(got(v) - want) < 1e-12, s"node $v: ${got(v)} vs $want")
    }
    // mass conservation and ordering sanity
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(0L) === got.values.max, "the hub must rank highest")
  }

  test("hits: matches a local reference; hubs and authorities separate; parallelism-invariant") {
    import graft.ops.Graph
    // bipartite-ish web: 0,1,2 are directory pages linking to content
    // 10..14; content pages link each other sparsely; 20 is isolated-ish
    val edgeSeq = Seq(
      (0L, 10L), (0L, 11L), (0L, 12L), (0L, 13L), (0L, 14L),
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 14L),
      (10L, 11L), (13L, 10L), (20L, 10L))
    val iters = 20
    val got = Graph.hits(edgeSeq.toDF("src", "dst"), iters = iters)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // plain-Scala reference: synchronous HITS with per-half-step L2 norm
    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 1.0).toMap
    def l2(m: Map[Long, Double]): Map[Long, Double] = {
      val n = math.sqrt(m.values.map(x => x * x).sum)
      if (n == 0) m else m.view.mapValues(_ / n).toMap
    }
    for (_ <- 1 to iters) {
      auth = l2(nodes.map(v =>
        v -> edgeSeq.filter(_._2 == v).map(e => hub(e._1)).sum).toMap)
      hub = l2(nodes.map(u =>
        u -> edgeSeq.filter(_._1 == u).map(e => auth(e._2)).sum).toMap)
    }
    assert(got.keySet === nodes.toSet)
    nodes.foreach { v =>
      assert(math.abs(got(v)._1 - hub(v)) < 1e-12, s"hub($v)")
      assert(math.abs(got(v)._2 - auth(v)) < 1e-12, s"auth($v)")
    }
    // the directory page is the best hub but a zero authority; the
    // most-linked content page is the best authority
    assert(got(0L)._1 === got.values.map(_._1).max)
    assert(got(0L)._2 === 0.0)
    assert(got(10L)._2 === got.values.map(_._2).max)
    // parallelism invariance
    val got13 = Graph.hits(edgeSeq.toDF("src", "dst").repartition(13), iters = iters)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got13 === got)
  }

  test("plan shapes: weighted sample is take-ordered; paragraph dedup shuffles once") {
    import graft.ops.{Sampling, Dedup}
    val df = (0L until 2000L).map(i => (i, 1.0 + (i % 9))).toDF("id", "w")
    // Efraimidis-Spirakis must compile to TakeOrderedAndProject — a
    // per-partition heap + driver merge of k rows — NEVER a global sort
    // exchange (10^12 rows through one range-partitioned sort would be
    // the scale killer)
    val planWs = Sampling.weightedSample(df, "id", "w", 25)
      .queryExecution.executedPlan.toString
    assert(planWs.contains("TakeOrderedAndProject"),
      "weightedSample must be take-ordered:\n" + planWs.take(600))
    assert(!planWs.contains("Exchange rangepartitioning"),
      "weightedSample must not globally sort:\n" + planWs.take(600))
    // paragraph Bloom dedup: the paragraph text rides ONE hash exchange
    // (the _ph window) into the doc_id aggregation — no second shuffle of
    // the text, and the Bloom probe is a stateless filter, not a join
    val dir = scratchDir("planpb")
    val docs = (0L until 50L).map(i => (i, s"alpha $i\nbeta $i")).toDF("doc_id", "text")
    val planPb = Dedup.paragraphBloomDedup(docs, "doc_id", "text", s"$dir/bloom")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(planPb).size <= 2,
      "paragraph dedup must shuffle at most twice (window + doc agg):\n" +
        planPb.take(800))
    assert(!planPb.contains("SortMergeJoin") && !planPb.contains("BroadcastHashJoin"),
      "the Bloom probe must be a filter, never a join:\n" + planPb.take(800))
  }

  test("salted asof join: equals the unsalted operator at every slice width") {
    import graft.ops.Relational
    val r = new scala.util.Random(64)
    // hot-key shape: key 0 carries 80 % of both sides (the single-task
    // serialization case the salting exists for), plus sparse keys whose
    // right rows sit many empty slices before their left rows (deep
    // carry), plus a key with no right rows at all
    val right = (Seq.tabulate(300)(i =>
        (0L, 1000L + r.nextInt(4000) * 3, i * 1.0)) ++
      Seq((1L, 40L, -1.0), (1L, 55L, -2.0), (3L, 9000L, -3.0)))
      .distinct.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
    val left = Seq.tabulate(400)(i => (500L + i, 0L, 1000L + r.nextInt(12200))) ++
      Seq((1L, 1L, 9000L), (2L, 1L, 12000L), (3L, 2L, 100L), (4L, 3L, 8999L))
    val rightDf = right.toDF("k", "ts", "v")
    val leftDf = left.toDF("id", "k", "ts")
    val want = Relational.asofJoin(leftDf, rightDf, "k", "ts")
      .select($"id", $"_asof_ts", $"_r_v")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    for (width <- Seq(7L, 100L, 1000L, 100000L)) {
      val got = Relational.asofJoinSalted(leftDf, rightDf, "k", "ts", width)
        .select($"id", $"_asof_ts", $"_r_v")
        .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
      assert(got === want, s"slice width $width diverged from unsalted")
    }
    // the hot key's window really is split: > 1 distinct slice partition
    val slices = leftDf.where($"k" === 0L)
      .select(floor($"ts".cast("double") / 1000).cast("long")).distinct().count()
    assert(slices > 1, "fixture must span multiple slices for the hot key")
  }

  test("binned range join: equals the naive theta join at any bin width") {
    import graft.ops.Relational
    val r = new scala.util.Random(62)
    val pts = Seq.fill(400)(r.nextDouble() * 60).toDF("x")
    val ivs = Seq((1, 0.0, 7.0), (2, 5.0, 23.0), (3, 20.0, 31.0),
      (4, 30.0, 55.0), (5, 2.0, 3.0), (6, 9.0, 9.0)).toDF("interval_id", "lo", "hi")
    val naive = pts.join(ivs, $"x" >= $"lo" && $"x" < $"hi")
      .select($"interval_id", $"x").as[(Int, Double)].collect().sorted.toSeq
    for (bw <- Seq(0.5, 8.0, 100.0)) {
      val binned = Relational.pointsInIntervals(pts, "x", ivs, bw)
        .select($"interval_id", $"x").as[(Int, Double)].collect().sorted.toSeq
      assert(binned === naive, s"bin width $bw must not change the result")
    }
    assert(naive.nonEmpty && naive.count(_._1 == 6) === 0, "empty interval stays empty")
  }

  test("bucketed join: co-located buckets join with zero exchanges and zero sorts") {
    val tmp = scratchDir("bk-test")
    val db = "graft_bk_spec"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$tmp'")
    val dir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$dir/orders.parquet")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable(s"$db.orders_bk")
    spark.read.parquet(s"$dir/customer.parquet")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable(s"$db.customer_bk")
    // at fixture scale the planner would broadcast (and skip bucketing
    // entirely); at 100 TB neither side fits — force the non-broadcast
    // path the operator exists for
    val oldT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldA = scala.util.Try(
      spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")).toOption
      .flatMap(Option(_)) // unset optional confs read back as null
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val o = spark.table(s"$db.orders_bk")
      val c = spark.table(s"$db.customer_bk")
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      // same answer as the shuffled join
      val shuffled = spark.read.parquet(s"$dir/orders.parquet").join(
        spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      assert(joined.count() === shuffled.count())
      // the plan: SortMergeJoin directly over bucketed scans — co-location
      // replaces both the shuffle AND the sort
      joined.collect()
      val executed = joined.queryExecution.executedPlan
      val plan = executed.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(plan.contains("Bucketed: true"), "scans must read bucketed:\n" + plan.take(800))
      assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" + plan.take(800))
      // operator-typed check, not a string match: SortExec renders as
      // "Sort [..." in tree output, which a "Sort (" pattern never hits
      def sorts(p: org.apache.spark.sql.execution.SparkPlan): Seq[Any] = p.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          sorts(a.executedPlan)
      }.flatMap { case xs: Seq[_] => xs; case x => Seq(x) }
      assert(sorts(executed).isEmpty, "sorted buckets must not re-sort:\n" + plan.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldT)
      oldA match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("approx_count_distinct stays within the HLL rsd bound") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val rows = e.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("a"),
        countDistinct($"user_id").as("x"))
      .as[(String, Long, Long)].collect()
    rows.foreach { case (t, a, x) =>
      val rel = math.abs(a - x).toDouble / math.max(x, 1L)
      info(f"$t: approx=$a exact=$x rel=$rel%.4f")
      assert(rel <= 0.05, s"$t relative error $rel exceeds 5x rsd headroom")
    }
  }

  test("columnar langId agrees with the kernel Lang.detect") {
    val texts = PageGen.pages(150).map(_.text)
    val got = texts.toDF("text").select(TextOps.langId($"text")).as[String].collect()
    val want = texts.map(Lang.detect)
    assert(got.toSeq === want.toSeq)
  }

  test("quality score in [0,1]; fingerprint equals normalized sha2") {
    val df = corpusDf.select($"id", $"text",
      TextOps.qualityScore($"text").as("q"), TextOps.fingerprint($"text").as("fp"))
    assert(df.where($"q" < 0 || $"q" > 1).count() === 0)
    val (t, fp) = df.select($"text", $"fp").as[(String, String)].head()
    val norm = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val want = md.digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp === want)
  }

  test("multimodal: real BMP/WAV/PNG decodes + stub container over binary batches") {
    val media = spark.createDataset(MediaGen.media(200))
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() === 200)
    assert(feats.where(!$"ok").count() === 0)
    assert(feats.select($"kind").distinct().count() === 3)
    // nine real decoders + three stub containers always present; the MP4
    // mix contributes whichever sample-entry fourccs the seed drew
    val codecs = feats.select($"codec").distinct().as[String].collect().toSet
    val required = Set("jpeg", "gif", "bmp", "wav", "flac", "png", "mjpeg",
      "tiff", "webp", "img1", "aud1", "vid1")
    assert(required.subsetOf(codecs), s"missing ${required -- codecs}")
    val videoContainers = Set("avc1", "hvc1", "vp09", "V_VP8", "V_VP9")
    val audioContainers = Set("mp3", "opus", "vorbis")
    assert((codecs -- required).subsetOf(videoContainers ++ audioContainers),
      s"unexpected ${codecs -- required -- videoContainers -- audioContainers}")
    // ISO-BMFF and Matroska rows carry real container metadata
    assert(feats.where($"codec".isin(videoContainers.toSeq: _*) &&
      ($"width" <= 0 || $"height" <= 0 || $"n_frames" <= 0)).count() === 0)
    // MPEG-audio/Ogg rows carry a real rate and frame/page count
    assert(feats.where($"codec".isin(audioContainers.toSeq: _*) &&
      ($"sample_rate" <= 0 || $"n_frames" <= 0)).count() === 0)
    // WebM V_VP8 rows decode a REAL first frame: histogram mass is one
    // luminance sample per pixel, exactly like the still-image decoders
    val m8 = expr("aggregate(hist8, 0L, (a, x) -> a + x)")
    assert(feats.where($"codec" === "V_VP8" &&
      m8 =!= ($"width" * $"height").cast("long")).count() === 0)
    assert(feats.where($"codec" === "flac" && $"sample_rate" <= 0).count() === 0)
    assert(feats.where($"codec" === "mjpeg" &&
      ($"width" <= 0 || $"n_frames" <= 0 || $"sample_rate" <= 0)).count() === 0)
    assert(feats.where($"kind" === "image" && ($"width" <= 0 || $"height" <= 0)).count() === 0)
    assert(feats.where($"kind" === "audio" && $"sample_rate" <= 0).count() === 0)
    // histogram mass reconciles with what was actually decoded:
    // container stats cover raw body bytes; real image decodes cover one
    // luminance sample per pixel; WAV covers one amplitude per frame
    val mass = expr("aggregate(hist8, 0L, (a, x) -> a + x)")
    assert(feats.where($"codec" === "img1" && mass =!= ($"n_bytes" - 12)).count() === 0)
    assert(feats.where($"codec".isin("bmp", "png", "jpeg", "gif", "tiff", "webp") &&
      mass =!= ($"width" * $"height").cast("long")).count() === 0)
    assert(feats.where($"codec" === "wav" && mass =!= $"n_frames".cast("long")).count() === 0)
    // real resize: image thumbnails are <= 8x8 luminance bytes, and a
    // constant image thumbnails to the constant
    assert(feats.where($"codec".isin("bmp", "png", "jpeg", "gif") && $"thumb_bytes" > 64).count() === 0)
    val const = Multimodal.thumbnail2d(Array.fill(20 * 10)(77), 20, 10)
    assert(const.length === 64 && const.forall(_ === 77.toByte))
    val stats = Multimodal.featureStats(feats.toDF())
    assert(stats.count() === 3)

    // corrupted payload → isolated failure row, no crash
    val broken = spark.createDataset(Seq(
      Multimodal.Media(9999L, "https://x/bad", "image", Array[Byte](1, 2, 3))))
    val f = Multimodal.extractFeatures(broken).collect().head
    assert(!f.ok && f.error.nonEmpty)
  }

  test("determinism: media and page generators are seed-stable") {
    val a = MediaGen.media(50).map(_.payload.toSeq)
    val b = MediaGen.media(50).map(_.payload.toSeq)
    assert(a === b)
    val p1 = PageGen.pages(50).map(p => (p.url, p.text, p.html.toSeq))
    val p2 = PageGen.pages(50).map(p => (p.url, p.text, p.html.toSeq))
    assert(p1 === p2)
  }
}
