package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * [--work DIR]`. Prints a context line, then the result line
  * `{"correct","attempted","failed","metrics"}`. Any failed output check
  * throws, so no result line is printed and the exit code is 1. */
object Main {

  val Workloads = Seq("ingest_dup", "query_pass")
  /** Engine bootstraps per untraced pipeline run; setup_s is their median.
    * Each costs ~5 s on 4 cores, a tenth of the run, so two keep runs short. */
  val SetupReps = 2
  val MinCalls = 1
  /** Timed query passes per run at least: with one sample per query the
    * pass time spread 0.17 over five seeds on 4 cores. */
  val MinPasses = 2

  private val t0 = System.nanoTime()
  /** Progress to standard error, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1f s] $msg")

  final class CheckFailed(msg: String) extends Exception(msg)
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** Heap pools' peak usage since the last reset, in MB. */
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Spark storage memory held by cached blocks, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--layers"))) { print(Layers.json); return }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", ".bench_build/work")
    val cores = Runtime.getRuntime.availableProcessors()

    val calibration = mutable.LinkedHashMap[String, Double]()
    def calibrate(at: String): Unit = {
      calibration(s"${at}_s") = graft.Bench.calibrate()
      calibration(s"${at}_mc_s") = graft.Bench.calibrateParallel(threads = cores)
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions",
        if (workload == "query_pass") cores.toString else Pipeline.Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val (metrics, attempted, failed, context) =
        if (workload == "query_pass")
          runQueries(spark, seed, seconds, trace, work, calibrate)
        else runPipeline(spark, seed, seconds, trace, work, calibrate)
      val names = if (trace) Layers.all.map(m => m.name -> m.unit) else EndToEnd
      val extra = metrics.keySet -- names.map(_._1)
      check(extra.isEmpty, s"metrics missing from the declared list: $extra")
      def num(x: Double) = if (x.isNaN || x.isInfinite) "0" else x.toString
      val ctx = (context ++ calibration.map { case (k, v) => s"calibration.$k" -> v })
        .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      val runRecord = s"""{"workload": "$workload", "seed": $seed, "trace": ${if (trace) 1 else 0}, "context": {$ctx}}"""
      Files.write(s"$work/runs/$workload-seed$seed-trace${if (trace) 1 else 0}.json", runRecord + "\n")
      println(runRecord)
      val ms = names.map { case (n, u) =>
        s""""$n": {"value": ${num(metrics.getOrElse(n, 0.0))}, "unit": "$u"}""" }
      println(s"""{"correct": true, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
    } finally spark.stop()
  }

  /** End-to-end metrics and their units, as BENCHMARK.json lists them. */
  val EndToEnd = Seq("items_per_s" -> "1/s", "call_p50_s" -> "s", "setup_s" -> "s")

  type Out = (Map[String, Double], Long, Long, Map[String, Double])

  def runPipeline(spark: SparkSession, seed: Long, seconds: Double,
                  trace: Boolean, work: String, calibrate: String => Unit): Out = {
    val p = new Pipeline(spark, seed, work)
    val pages = p.pages
    val offered = pages.count()
    log(s"inputs ready: $offered pages")
    calibrate("before")
    log("calibrated")

    // set-up, repeated (traced runs report no setup_s, so once); the last
    // bootstrap serves the run
    val setups = (0 until (if (trace) 1 else SetupReps)).map { i =>
      if (i > 0) p.bootOnce.release()
      val t0 = System.nanoTime()
      p.setBoot(p.boot())
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $i: $s%.2f s")
      s
    }
    val b = p.bootOnce
    val ctx = mutable.LinkedHashMap[String, Double]("pages" -> offered.toDouble)

    def call(i: Int): (Double, Double, Double, String) = {
      val store = p.freshStore(s"call$i")
      val cached0 = Main.cachedMb(spark)
      System.gc()
      resetPeaks()
      val t0 = System.nanoTime()
      graft.kg.KgPipeline.runAndCommitSnapshot(spark, pages, b.dims, b.client, store, b.cfg)
      val secs = (System.nanoTime() - t0) / 1e9
      val peak = peakHeapMb()
      log(f"call $i: $secs%.2f s")
      (secs, peak, settledCachedMb(spark) - cached0, store)
    }

    val calls = mutable.ArrayBuffer[(Double, Double, Double, String)]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run adds a warm untraced call, the base of the tracing overhead
    val minCalls = if (trace) MinCalls + 1 else MinCalls
    while (calls.size < minCalls || System.nanoTime() < deadline) calls += call(calls.size)
    calibrate("after")

    log("checking outputs")
    // a traced run compares its traced call and staged pass with this digest
    val digests =
      if (trace || calls.size > 1) calls.map(c => Stats.digest(p.triplesOf(c._4))) else Nil
    check(digests.distinct.size <= 1, s"committed triples differ across calls: $digests")
    val (prec, rec) = p.fixturePR(calls.head._4)
    check(prec >= 0.95 && rec >= 0.95, f"fixture P/R $prec%.3f/$rec%.3f below 0.95")
    ctx("fixture_precision") = prec; ctx("fixture_recall") = rec
    ctx ++= p.checkTruth(calls.head._4)
    val failedPages = calls.map(c => p.failedPages(c._4)).sum
    val failRatio = failedPages.toDouble / (offered * calls.size)

    val secs = calls.map(_._1).toSeq
    ctx ++= workloadProps(p, offered)
    ctx("calls") = calls.size
    ctx("fail_ratio") = failRatio
    ctx("leaked_cache_mb") = Stats.median(calls.map(_._3).toSeq)
    ctx("peak_heap_mb") = Stats.median(calls.map(_._2).toSeq)
    ctx("setup_runs") = setups.size
    secs.zipWithIndex.foreach { case (s, i) => ctx(s"call$i.s") = s }

    val metrics: Map[String, Double] =
      if (!trace) Map(
        "items_per_s" -> offered / Stats.median(secs),
        "call_p50_s" -> Stats.median(secs),
        "setup_s" -> Stats.median(setups))
      else {
        val spans = new Spans
        val probe = new TaskProbe
        spark.sparkContext.addSparkListener(probe)
        // part 1: the same call with the listener attached
        val store = p.freshStore("traced")
        val w0 = System.currentTimeMillis()
        val (_, tracedS) = spans(spark, "KgPipeline.runAndCommitSnapshot") {
          graft.kg.KgPipeline.runAndCommitSnapshot(spark, pages, b.dims, b.client, store, b.cfg)
        }
        val w1 = System.currentTimeMillis()
        TaskProbe.drain(spark)
        val whole = Map(
          "KgPipeline.jobs" -> probe.jobsIn(w0, w1).toDouble,
          "KgPipeline.tasks" -> probe.tasksIn(w0, w1).size.toDouble,
          "KgPipeline.driver_idle_s" -> probe.idleMs(w0, w1) / 1000.0,
          "KgPipeline.trace_overhead" -> tracedS / secs.last,
          "KgPipeline.leaked_cache_mb" -> ctx("leaked_cache_mb"),
          "KgPipeline.fail_ratio" -> failRatio)
        check(Stats.digest(p.triplesOf(store)) == digests.head, "traced call digest differs")
        // part 2: the staged pass
        val staged = p.freshStore("staged")
        val layers = p.staged(b, staged, probe, spans)
        check(Stats.digest(p.triplesOf(staged)) == digests.head,
          "staged trace drifted from KgPipeline.run: committed triples differ")
        spark.sparkContext.removeSparkListener(probe)
        Files.write(s"$work/runs/ingest_dup-seed$seed.spans.jsonl", spans.jsonLines.mkString("\n") + "\n")
        whole ++ layers
      }
    b.release()
    (metrics, offered * calls.size, failedPages, ctx.toMap)
  }

  /** Storage memory once pending asynchronous unpersists have landed. */
  private def settledCachedMb(spark: SparkSession): Double = {
    var last = cachedMb(spark)
    var tries = 0
    while (tries < 20) {
      Thread.sleep(50)
      val now = cachedMb(spark)
      if (now == last) tries = 20 else { last = now; tries += 1 }
    }
    last
  }

  /** Measured properties of the generated input. */
  private def workloadProps(p: Pipeline, offered: Long): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val html = p.pages.agg(avg(length(col("html")))).collect().head.getDouble(0)
    val spec = p.dup
    Map("page_count" -> offered.toDouble, "mean_html_bytes" -> html,
      "duplicate_share" -> spec.dupShare, "hot_bucket_pages" -> spec.hotBucket,
      "variant_share" -> spec.variantShare)
  }

  def runQueries(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                 work: String, calibrate: String => Unit): Out = {
    val qp = new QueryPass(spark, seed, work)
    qp.ensureTables()
    val names = qp.Slice
    log("tables ready")
    calibrate("before")
    log("calibrated")
    val failed = mutable.Set[String]()
    def timed(n: String, out: Option[String] = None): Double =
      try qp.run(n, out) catch { case e: Exception => failed += n; 0.0 }
    // set-up: the warm-up pass, which also writes each result for the
    // oracle check that run.py makes
    val checkDir = s"$work/check/query_pass"
    Files.rm(checkDir)
    val t0 = System.nanoTime()
    names.foreach(n => timed(n, Some(checkDir)))
    val setup = (System.nanoTime() - t0) / 1e9
    log(f"warm-up pass: $setup%.2f s")
    resetPeaks()
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    var passes = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes < MinPasses || System.nanoTime() < deadline) {
      names.foreach { n =>
        // a collection before each timed query keeps earlier queries'
        // garbage out of its time: without it the pass time spread 0.26
        // over ten seeds, with it 0.08
        System.gc()
        times.getOrElseUpdate(n, mutable.ArrayBuffer()) += timed(n)
      }
      passes += 1
      log(s"timed pass $passes done")
    }
    val peak = peakHeapMb()
    calibrate("after")
    check(failed.isEmpty, s"queries threw: ${failed.mkString(", ")}")
    qp.writeOracle(names, checkDir)

    val med = names.map(n => Stats.median(times(n).toSeq))
    val pass = med.sum
    val ctx = Map("queries" -> names.size.toDouble, "passes" -> passes.toDouble,
      "query_pass_s" -> pass, "query_p85_s" -> Stats.percentile(med, 85),
      "peak_heap_mb" -> peak) ++
      names.zip(med).map { case (n, s) => s"query.$n.s" -> s }
    val metrics =
      if (!trace) Map("items_per_s" -> names.size / pass, "call_p50_s" -> Stats.median(med),
        "setup_s" -> setup)
      else {
        val probe = new TaskProbe
        spark.sparkContext.addSparkListener(probe)
        val spans = new Spans
        val m = qp.traced(names, probe, spans)
        spark.sparkContext.removeSparkListener(probe)
        Files.write(s"$work/runs/query_pass-seed$seed.spans.jsonl", spans.jsonLines.mkString("\n") + "\n")
        m
      }
    (metrics, (names.size * passes).toLong, failed.size.toLong, ctx)
  }
}
