package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Checkpoint, Extraction}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of a few standard percentiles with at least ten samples
    * beyond it, if any.
    */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10)

  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.ceil(p / 100.0 * s.length).toInt - 1))
  }
}

/** One timed rep: a `Checkpoint.run` into the restored start state, the
  * gate, and an immediate rerun.
  */
final case class Rep(runS: Double, rerunS: Double, docsPerSec: Double, outMb: Double,
                     outFiles: Int, cachedMb: Double, heapMb: Double,
                     stealPct: Double, load1: Double, wallS: Double, verdict: Verdict)

/** Benchmark of the production write path, `Checkpoint.run`.
  *
  * {{{
  * perfbench.Main --root <checkout> --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * perfbench.Main --root <checkout> --gate-selftest
  * }}}
  *
  * Prints a table of metrics, then one JSON line as the last line of
  * standard output. Exits 1 when the correctness gate fails.
  */
object Main {
  val Cores = 4
  private val MB = 1e6
  private val RunTs = Timestamp.valueOf("2024-01-09 00:00:00")

  final case class Args(root: Path, workload: String, seed: Long, seconds: Int,
                        trace: Boolean, gateSelftest: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val selftest = a.contains("--gate-selftest")
    Args(Paths.get(need("root")).toAbsolutePath.normalize,
      if (selftest) "" else need("workload"),
      kv.get("seed").map(_.toLong).getOrElse(1L),
      kv.get("seconds").map(_.toInt).getOrElse(10),
      kv.get("trace").contains("1"), selftest)
  }

  private def session(work: Path): SparkSession = {
    val spark = Extraction.configureLocal(SparkSession.builder()
      .master(s"local[$Cores]").appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString), Cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One rep from the restored state. Never throws: a run that throws is
    * a rep whose every row failed.
    */
  private def rep(spark: SparkSession, probe: Probe, gc: GcWatch, fx: Fixture,
                  truth: Map[String, Truth], id: String): Rep = {
    val sc = spark.sparkContext
    val w0 = System.nanoTime()
    fx.restore()
    System.gc()
    val before = fx.docFiles()
    probe.fence(sc)
    probe.resetStoragePeak()
    val cpu0 = Host.cpuStat()
    val load = Host.load1()
    try {
      val up0 = gc.uptimeMs
      val t0 = System.nanoTime()
      val taken = Checkpoint.run(spark, fx.pages, fx.docs, fx.manifest, fx.metrics, s"run-$id", RunTs)
      val runS = (System.nanoTime() - t0) / 1e9
      val up1 = gc.uptimeMs
      probe.fence(sc)
      val cachedMb = probe.storagePeakBytes / MB
      val written = fx.docFiles().filter { case (f, _) => !before.contains(f) }
      val (verdict, state) = Gate.check(spark, fx, truth, s"run-$id", taken)
      val commits = fx.commitFiles()

      val up2 = gc.uptimeMs
      val t1 = System.nanoTime()
      val retaken = Checkpoint.run(spark, fx.pages, fx.docs, fx.manifest, fx.metrics, s"rerun-$id", RunTs)
      val rerunS = (System.nanoTime() - t1) / 1e9
      val up3 = gc.uptimeMs
      val steal = Host.stealPct(cpu0, Host.cpuStat())
      val rerunProblems = Gate.checkRerun(spark, fx, retaken, state, commits)
      val heapMb = math.max(gc.peakOld(up0, up1), gc.peakOld(up2, up3)) / MB
      Rep(runS, rerunS, fx.todoRows / runS, written.values.sum / MB, written.size,
        cachedMb, heapMb, steal, load, (System.nanoTime() - w0) / 1e9,
        verdict.copy(problems = verdict.problems ++ rerunProblems))
    } catch {
      case NonFatal(e) =>
        Rep(0, 0, 0, 0, 0, 0, 0, Host.stealPct(cpu0, Host.cpuStat()), load, (System.nanoTime() - w0) / 1e9,
          Verdict(0.0, fx.todoRows, fx.todoRows, Seq(s"run $id threw: $e")))
    }
  }

  private def say(s: String): Unit = println(s"perfbench: $s")

  private def describe(r: Rep, label: String): Unit =
    say(f"$label run_s=${r.runS}%.4f rerun_s=${r.rerunS}%.4f docs_per_sec=${r.docsPerSec}%.1f " +
      f"out_mb=${r.outMb}%.3f out_files=${r.outFiles} cached_mb=${r.cachedMb}%.2f " +
      f"heap_live_mb=${r.heapMb}%.1f steal_pct=${r.stealPct}%.2f load1=${r.load1}%.2f rep_wall_s=${r.wallS}%.2f " +
      s"gate=${if (r.verdict.ok) "pass" else r.verdict.problems.mkString("FAIL: ", "; ", "")}")

  /** Untimed warm-up: a run and a rerun from the restored state, repeated
    * until two runs in a row agree within 5 % (at least 4, at most 5). The
    * per-file and per-job code of the write path needs several runs to be
    * compiled, so the first runs in a JVM are never timed.
    * Returns the run times.
    */
  private def warmUp(spark: SparkSession, fx: Fixture): Seq[Double] = {
    val runS = ArrayBuffer.empty[Double]
    while (runS.length < 4 || (runS.length < 5 &&
        math.abs(runS.last / runS(runS.length - 2) - 1) > 0.05)) {
      fx.restore()
      val t0 = System.nanoTime()
      Checkpoint.run(spark, fx.pages, fx.docs, fx.manifest, fx.metrics, s"warm${runS.length}", RunTs)
      runS += (System.nanoTime() - t0) / 1e9
      Checkpoint.run(spark, fx.pages, fx.docs, fx.manifest, fx.metrics, s"rewarm${runS.length}", RunTs)
    }
    runS.toSeq
  }

  private def timedReps(spark: SparkSession, probe: Probe, gc: GcWatch, fx: Fixture,
                        truth: Map[String, Truth], seconds: Double, minReps: Int): Seq[Rep] = {
    val reps = ArrayBuffer.empty[Rep]
    val t0 = System.nanoTime()
    // stop before a rep that would end more than half a rep past `seconds`
    def more = reps.length < minReps ||
      (System.nanoTime() - t0) / 1e9 + reps.map(_.wallS).sum / reps.length / 2 < seconds
    while (more) {
      reps += rep(spark, probe, gc, fx, truth, s"t${reps.length}")
      describe(reps.last, s"rep ${reps.length}")
      if (!reps.last.verdict.ok) return reps.toSeq
    }
    reps.toSeq
  }

  private val endToEndUnits = Seq(
    "setup_s" -> "s", "run_s" -> "s", "docs_per_sec" -> "docs/s", "rerun_s" -> "s",
    "match_rate" -> "fraction", "failed_frac" -> "fraction", "out_mb" -> "MB",
    "out_files" -> "count", "cached_mb_peak" -> "MB", "heap_live_peak_mb" -> "MB")

  private def endToEnd(setupS: Double, reps: Seq[Rep]): Map[String, Double] = {
    def med(f: Rep => Double) = Stats.median(reps.map(f))
    Map(
      "setup_s" -> setupS,
      "run_s" -> med(_.runS),
      "docs_per_sec" -> med(_.docsPerSec),
      "rerun_s" -> med(_.rerunS),
      "match_rate" -> reps.map(_.verdict.matchRate).min,
      "failed_frac" -> reps.map(_.verdict.failed).sum.toDouble / reps.map(_.verdict.attempted).sum,
      "out_mb" -> med(_.outMb),
      "out_files" -> med(_.outFiles.toDouble),
      "cached_mb_peak" -> med(_.cachedMb),
      "heap_live_peak_mb" -> med(_.heapMb))
  }

  /** Unit of a per-layer metric, from its name. */
  def layerUnit(name: String): String =
    if (name.endsWith(".ns_per_doc")) "ns"
    else if (name.endsWith(".mb_per_s")) "MB/s"
    else if (name.endsWith(".s") || name.endsWith("_s")) "s"
    else if (name.endsWith("_mb") || name.endsWith(".mb") || name.endsWith(".mb_read")) "MB"
    else if (name.endsWith("_frac") || name.endsWith("slot_util") || name == "trace.overhead") "fraction"
    else if (name.endsWith("task_skew")) "ratio"
    else "count"

  private def printTable(metrics: Seq[(String, Double, String)], notes: Map[String, String]): Unit =
    metrics.foreach { case (n, v, u) =>
      say(f"  $n%-32s $v%16.6f $u%-9s ${notes.getOrElse(n, "")}")
    }

  private def resultLine(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = args.root.resolve("perfbench").resolve("work")
    val spark = session(work)
    val status =
      try if (args.gateSelftest) gateSelftest(spark, work) else bench(spark, args, work, jvmStartMs)
      finally spark.stop()
    sys.exit(status)
  }

  private def bench(spark: SparkSession, args: Args, work: Path, jvmStartMs: Long): Int = {
    val w = Workload.named(args.workload)
    val gc = new GcWatch
    val probe = new Probe(traced = false)
    spark.sparkContext.addSparkListener(probe)
    val sinceStart = () => (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sessionS = sinceStart()
    val fx = Fixture.build(spark, w, args.seed, work.resolve(s"${w.name}-s${args.seed}"))
    val truth = Gate.loadTruth(spark, fx.truth)
    say(f"workload ${w.name} seed ${args.seed}: ${fx.pageRows} pages, ${fx.todoRows} to extract, " +
      f"local[$Cores], boost ${Workload.Boost}; session up at $sessionS%.3f s, fixture built at ${sinceStart()}%.3f s")
    val warm = warmUp(spark, fx)
    val setupS = sinceStart()
    say(f"setup done after $setupS%.3f s; warm-up run_s ${warm.map(x => f"$x%.3f").mkString(" ")}")
    if (args.trace) traced(spark, probe, gc, fx, truth, args)
    else {
      val reps = timedReps(spark, probe, gc, fx, truth, args.seconds, minReps = 3)
      val correct = reps.forall(_.verdict.ok)
      val m = endToEnd(setupS, reps)
      val tail = Stats.tailPercentile(reps.length)
      val timing = (f: Rep => Double) => {
        val xs = reps.map(f)
        tail.fold(f"median of ${xs.length} reps; max ${xs.max}%.4f (no percentile has 10 samples beyond it)")(p =>
          f"median of ${xs.length} reps; p$p ${Stats.percentile(xs, p)}%.4f")
      }
      val steal = reps.map(_.stealPct)
      say(f"host: steal_pct median ${Stats.median(steal)}%.2f max ${steal.max}%.2f, " +
        f"load1 median ${Stats.median(reps.map(_.load1))}%.2f over ${reps.length} reps")
      val rows = endToEndUnits.map { case (n, u) => (n, m(n), u) }
      printTable(rows, Map("run_s" -> timing(_.runS), "rerun_s" -> timing(_.rerunS),
        "docs_per_sec" -> timing(_.docsPerSec), "setup_s" -> "one per process"))
      val attempted = reps.map(_.verdict.attempted).sum
      val failed = reps.map(_.verdict.failed).sum
      // failed_frac is carried by `attempted`/`failed`; it reads 0 on a
      // correct run, so it is not a metric of the result line
      println(resultLine(correct, attempted, failed, rows.filter(_._1 != "failed_frac")))
      if (correct) 0 else 1
    }
  }

  /** Untraced reps for the overhead baseline, then one traced run, the
    * isolated layer calls and the kernel timings.
    */
  private def traced(spark: SparkSession, probe: Probe, gc: GcWatch, fx: Fixture,
                     truth: Map[String, Truth], args: Args): Int = {
    val sc = spark.sparkContext
    val base = timedReps(spark, probe, gc, fx, truth, args.seconds / 3.0, minReps = 3)
    val untracedRunS = Stats.median(base.map(_.runS))

    val runId = s"traced-${fx.workload.name}-s${fx.seed}"
    val spans = new Spans(runId)
    val root = spans.open(0, "perfbench.traced")
    val tracer = new Probe(traced = true)
    sc.addSparkListener(tracer)
    fx.restore()
    System.gc()
    tracer.fence(sc)
    tracer.resetTrace()
    val runSpan = spans.open(root, "checkpoint.run")
    val t0 = System.nanoTime()
    val taken = Checkpoint.run(spark, fx.pages, fx.docs, fx.manifest, fx.metrics, runId, RunTs)
    val runS = (System.nanoTime() - t0) / 1e9
    spans.close(runSpan)
    tracer.fence(sc)
    val steps = Layers.attribute(tracer.snapshot, fx, runS, Cores, spans, runSpan)
    val (verdict, _) = Gate.check(spark, fx, truth, runId, taken)
    val stepSum = steps.collect { case (k, v) if k.startsWith("step.") => v }.sum
    val problems = verdict.problems ++
      (if (math.abs(stepSum - runS) > 1e-9 || steps("step.driver.s") < -0.01)
        Seq(f"step times sum to $stepSum%.4f s, traced run_s is $runS%.4f s") else Nil)
    say(f"traced run: run_s=$runS%.4f, steps sum to $stepSum%.4f s; untraced median run_s=$untracedRunS%.4f")

    fx.restore()
    val layerSpan = spans.open(root, "layers")
    val layers = Layers.isolated(spark, tracer, fx, spans, layerSpan, reps = 3)
    spans.close(layerSpan)
    val kernelSpan = spans.open(root, "kernels")
    val docs = Layers.payloads(spark, fx)
    val kernels = Layers.kernels(docs, budgetNs = 1000L * 1000 * 1000, spans, kernelSpan)
    spans.close(kernelSpan)
    spans.close(root)
    val traceFile = args.root.resolve("perfbench").resolve("out")
      .resolve(s"trace-${fx.workload.name}-s${fx.seed}.jsonl")
    spans.write(traceFile)
    say(s"${spans.all.size} spans written to ${args.root.relativize(traceFile)}")

    val m = steps ++ layers ++ kernels + ("trace.overhead" -> (runS / untracedRunS - 1))
    val rows = m.toSeq.sortBy(_._1).map { case (n, v) => (n, v, layerUnit(n)) }
    printTable(rows, Map("kernel.failed" -> s"over ${docs.size} payloads"))
    problems.foreach(p => say(s"gate: $p"))
    val correct = problems.isEmpty && base.forall(_.verdict.ok)
    val attempted = base.map(_.verdict.attempted).sum + verdict.attempted
    val failed = base.map(_.verdict.failed).sum + verdict.failed
    println(resultLine(correct, attempted, failed, rows))
    if (correct) 0 else 1
  }

  /** Shows the gate is not vacuous: it passes a real run, then fails the
    * same run against a scratch copy of the truth with one url's text
    * altered.
    */
  private def gateSelftest(spark: SparkSession, work: Path): Int = {
    val w = Workload("gate_selftest", rows = 300, pdfOnly = false, resume = false)
    val fx = Fixture.build(spark, w, seed = 1L, work.resolve("gate_selftest"))
    fx.restore()
    val taken = Checkpoint.run(spark, fx.pages, fx.docs, fx.manifest, fx.metrics, "selftest", RunTs)
    val (clean, _) = Gate.check(spark, fx, Gate.loadTruth(spark, fx.truth), "selftest", taken)
    say(s"gate on the real truth: ${if (clean.ok) "pass" else clean.problems.mkString("; ")}")

    val truth = spark.read.parquet(fx.truth)
    val victim = truth.agg(min(col("url"))).head().getString(0)
    val altered = work.resolve("gate_selftest").resolve("truth_altered").toString
    truth.withColumn("text",
      when(col("url") === victim, concat(col("text"), lit(" (altered)"))).otherwise(col("text")))
      .write.parquet(altered)
    val (bad, _) = Gate.check(spark, fx, Gate.loadTruth(spark, altered), "selftest", taken)
    say(s"gate with the truth text of $victim altered: " +
      (if (bad.ok) "pass" else bad.problems.mkString("FAIL: ", "; ", "")))
    val caught = clean.ok && !bad.ok && bad.matchRate < 1.0
    say(if (caught) "gate selftest passed: the altered truth was rejected"
        else "gate selftest FAILED")
    if (caught) 0 else 1
  }
}
