package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run: set up a pool of inputs generated from the seed, run untimed
  * warm-up passes, then timed passes in a closed loop (one caller, one pass at a
  * time) until `--seconds` of timed work are done. Pass i runs on input i mod the
  * pool size, the timed passes starting again at input 0, so the median pass covers
  * several inputs and the warm-up inputs are run twice. Every pass is checked
  * outside its timed region.
  *
  * Prints one JSON line as the last line of stdout: the end-to-end metrics, or with
  * `--trace 1` the per-layer metrics. Spans go to `--spans` when given.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --dir <scratch dir> [--spans <file>]
  */
object Main {
  val Cores = 4
  val Inputs = 4
  val MinTimedPasses = 2
  val Stages = Seq("coarsen", "initial", "refine", "jet", "pairfm", "polish", "balance", "final_metrics")

  final case class PassRecord(input: Int, timed: Boolean, traced: Boolean, span: Span,
      outcome: Option[Outcome], failedCalls: Int, stagedBytes: Long, pinned: Int)

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // a stray non-daemon thread must not keep a finished run alive
    sys.exit(code)
  }

  def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.byName(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val dir = Paths.get(args("dir")).toAbsolutePath
    val ckptDir = Paths.get(sys.env("GRAFT_CKPT_DIR"))
    graft.util.Log.enabled = false

    val tracer = new Tracer(layers = traced)
    val t0 = tracer.now
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new JobLedger(tracer, keepTaskIntervals = traced)
    spark.sparkContext.addSparkListener(ledger)
    val sessionNs = tracer.now - t0
    System.err.println(f"session started in ${sessionNs / 1e9}%.3f s")

    val inputs = (0 until Inputs).map(i => dir.resolve(s"input-$i").toString)
    val generateNs = inputs.indices.map { i =>
      val s = tracer.now
      workload.generate(spark, Workloads.inputSeed(seed, i), inputs(i))
      tracer.now - s
    }
    System.err.println(s"input generated in ${generateNs.map(_ / 1e9).mkString(", ")} s")

    val passes = mutable.ArrayBuffer.empty[PassRecord]
    def runPass(input: Int, timed: Boolean, traceLayers: Boolean): PassRecord = {
      tracer.layers = traceLayers
      val i = passes.length
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
      val diskBefore = du(ckptDir)
      val (outcome, span) = tracer.pass(s"${workload.name}:$i") {
        try Some(workload.run(spark, inputs(input), tracer))
        catch { case e: Exception => System.err.println(s"pass $i threw: $e"); None }
      }
      // keep the checks' jobs out of the pass's millisecond
      Thread.sleep(2)
      val staged = du(ckptDir) - diskBefore
      val checkStart = tracer.now
      val failedCalls = outcome match {
        case None => workload.calls
        case Some(o) =>
          val fails = try o.check() catch { case e: Exception => Seq(s"check: threw $e") }
          fails.foreach(f => System.err.println(s"pass $i check failed: $f"))
          o.release()
          fails.map(_.takeWhile(_ != ':')).distinct.size.min(workload.calls)
      }
      val rec = PassRecord(input, timed, traceLayers, span, outcome, failedCalls, staged,
        spark.sparkContext.getPersistentRDDs.size - pinnedBefore)
      passes += rec
      System.err.println(f"pass $i%d input $input%d ${if (timed) "timed" else "warm-up"}%s " +
        f"${if (traceLayers) "traced" else "untraced"}%s ${span.duration / 1e9}%.3f s, " +
        f"checked in ${(tracer.now - checkStart) / 1e9}%.3f s")
      Thread.sleep(2)
      rec
    }

    // untimed passes pay for class loading, JIT and Spark's code generation, which
    // take about as long again as a later pass; every run is a fresh JVM
    (0 until workload.warmupPasses).foreach(i => runPass(i % Inputs, timed = false, traceLayers = traced))
    val warmupNs = passes.map(_.span.duration).sum
    // one set-up is a session start, one input and the warm-up; the median input counts
    val setupNs = sessionNs + med(generateNs.map(_.toDouble)).toLong + warmupNs

    // the traced run alternates traced and untraced passes, for the tracing overhead
    var timedNs = 0L
    var j = 0
    while (timedNs < seconds * 1e9 || j < MinTimedPasses + (if (traced) 1 else 0)) {
      timedNs += runPass(j % Inputs, timed = true, traceLayers = traced && j % 2 == 0).span.duration
      j += 1
    }
    ledger.drain()

    val timedPasses = passes.filter(_.timed).toSeq
    // the algorithm seed is fixed, so every pass on one input must return the same blocks
    val quality = passes.groupBy(_.input).map { case (i, ps) =>
      i -> ps.flatMap(_.outcome.map(o => (o.partitionCut, o.imbalance, o.communityCut))).distinct
    }
    val cutDrift = quality.count(_._2.size > 1)
    quality.filter(_._2.size > 1).foreach { case (i, q) =>
      System.err.println(s"cuts and imbalance differ across the passes on input $i: $q")
    }
    val attempted = passes.length * workload.calls
    val failed = passes.map(_.failedCalls).sum + cutDrift

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(timedPasses, ledger, setupNs)
      else perLayer(passes.toSeq, tracer, ledger)

    passes.groupBy(_.input).toSeq.sortBy(_._1).foreach { case (i, ps) =>
      ps.flatMap(_.outcome).headOption.foreach(o =>
        System.err.println(s"input $i: ${o.inputSize._1} nodes, ${o.inputSize._2} half-edges"))
    }
    args.get("spans").foreach(p => writeSpans(Paths.get(p), tracer.spans))
    spark.stop()

    val body = metrics.map { case (name, v, unit) => s""""$name": {"value": ${num(v)}, "unit": "$unit"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  private val Mb = 1e6

  def endToEnd(timed: Seq[PassRecord], ledger: JobLedger, setupNs: Long): Seq[(String, Double, String)] = {
    val charged = Spans.charge(timed.map(_.span), ledger.all)
    def perPass(f: PassRecord => Double) = med(timed.map(f))
    Seq(
      ("wall_s", perPass(_.span.duration / 1e9), "s"),
      ("setup_s", setupNs / 1e9, "s"),
      ("shuffle_write_mb",
        perPass(p => charged.getOrElse(p.span.id, Nil).map(_.shuffleWriteBytes).sum / Mb), "MB"),
      ("staged_disk_mb", perPass(_.stagedBytes / Mb), "MB"))
  }

  val LayerSpans = Seq("extract", "ops.pagerank", "ops.cc", "ops.lp", "ops.triangles", "partition")

  def perLayer(all: Seq[PassRecord], tracer: Tracer, ledger: JobLedger): Seq[(String, Double, String)] = {
    val spans = tracer.spans
    val layerSpans = spans.filter(_.name != "pass")
    val charged = Spans.charge(layerSpans, ledger.all)
    val timed = all.filter(p => p.timed && p.traced)
    def spanOf(p: PassRecord, name: String) = layerSpans.find(s => s.traceId == p.span.traceId && s.name == name)

    val perSpan = LayerSpans.flatMap { name =>
      val inst = timed.flatMap(spanOf(_, name))
      def counter(f: (Span, Seq[JobStats]) => Double) = med(inst.map(s => f(s, charged.getOrElse(s.id, Nil))))
      def sumJobs(f: JobStats => Long, scale: Double) = counter((_, js) => js.map(f).sum / scale)
      Seq(
        (s"$name.wall_s", med(inst.map(_.duration / 1e9)), "s"),
        (s"$name.self_s", med(inst.map(s => Spans.selfTime(s, spans) / 1e9)), "s"),
        (s"$name.jobs", counter((_, js) => js.size.toDouble), "count"),
        (s"$name.tasks", sumJobs(_.tasks, 1), "count"),
        (s"$name.failed_tasks", sumJobs(_.failedTasks, 1), "count"),
        (s"$name.task_run_s", sumJobs(_.runNs, 1e9), "s"),
        (s"$name.gc_s", sumJobs(_.gcNs, 1e9), "s"),
        (s"$name.fetch_wait_s", sumJobs(_.fetchWaitNs, 1e9), "s"),
        (s"$name.sched_delay_s", sumJobs(_.schedDelayNs, 1e9), "s"),
        (s"$name.shuffle_write_mb", sumJobs(_.shuffleWriteBytes, Mb), "MB"),
        (s"$name.spill_mb", sumJobs(_.spillBytes, Mb), "MB"),
        (s"$name.peak_exec_mem_mb", counter((_, js) => (0L +: js.map(_.peakExecMem)).max / Mb), "MB"),
        (s"$name.driver_only_s", counter((s, js) =>
          (s.duration - Spans.unionLength(js.flatMap(_.taskIntervals).toSeq, s.start, s.end)) / 1e9), "s"),
        (s"$name.first_pass_s", all.headOption.flatMap(spanOf(_, name)).map(_.duration / 1e9).getOrElse(0.0), "s"))
    }

    val outcomes = timed.flatMap(_.outcome)
    val stages = Stages.map(st =>
      (s"partition.$st.wall_s", med(outcomes.map(_.stageTimes.getOrElse(st, 0.0))), "s"))
    val prRates = for (p <- timed; o <- p.outcome; s <- spanOf(p, "ops.pagerank"))
      yield o.inputSize._2.toDouble * Workloads.PageRankIterations / (s.duration / 1e9)
    val untracedWall = med(all.filter(p => p.timed && !p.traced).map(_.span.duration / 1e9))
    val passWall = med(timed.map(_.span.duration / 1e9))
    perSpan ++ stages ++ Seq(
      ("partition.edge_cut", med(outcomes.map(_.partitionCut.toDouble)), "count"),
      ("partition.imbalance", med(outcomes.map(_.imbalance)), "ratio"),
      ("partition.levels", med(outcomes.map(_.levels.toDouble)), "count"),
      ("partition.supersteps", med(outcomes.map(_.supersteps.toDouble)), "count"),
      ("ops.lp.edge_cut", med(outcomes.map(_.communityCut.toDouble)), "count"),
      ("ops.pagerank.edges_per_s", med(prRates), "1/s"),
      ("pass.wall_s", passWall, "s"),
      ("pass.self_s", med(timed.map(p => Spans.selfTime(p.span, spans) / 1e9)), "s"),
      ("pinned_rdds_after", med(all.filter(_.timed).map(_.pinned.toDouble)), "count"),
      ("warmup_passes", all.count(!_.timed).toDouble, "count"),
      ("timed_passes", all.count(_.timed).toDouble, "count"),
      ("trace_overhead_s", passWall - untracedWall, "s"))
  }

  /** Median, 0 for no samples. */
  def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Bytes of the regular files under `p` (0 when it does not exist). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def num(v: Double): String = BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"trace": "${s.traceId}", "id": ${s.id}, "parent": ${s.parent.getOrElse("null")}, """ +
        s""""name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}}""")
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
