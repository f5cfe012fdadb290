package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.perfbench.BusDrain

import graft.{SparkEntry, Tables}
import graft.functions.TokenizerStats

/** One benchmark run inside one JVM: set up, time passes over the
  * workload's pipelines, optionally trace them and probe the layers,
  * dump one execution of every pipeline for the oracle check, and write
  * the figures as JSON. `run.py` builds this, makes the inputs and does
  * the oracle comparison.
  *
  * Arguments (all required, `--name value`): workload, input (dir with
  * events.parquet and/or documents.parquet), probe (dir of the probe
  * inputs, traced runs only; "-" otherwise), seconds, trace (0|1), work
  * (scratch dir for dumps and output), seed, gen-seconds (median input
  * generation time, part of setup_s).
  */
object Main {
  /** A named pipeline metric and the SparkEntry builder it times. */
  final case class Pipeline(metric: String, query: String)
  final case class Workload(table: String, pipelines: Seq[Pipeline]) {
    def queries: Seq[String] = pipelines.map(_.query)
  }

  val workloads: Map[String, Workload] = Map(
    "featurize_long" -> Workload("events", Seq(
      Pipeline("featurize_s", "ts_pipeline_full"),
      Pipeline("train_matrix_s", "ts_train_matrix"))),
    "curation" -> Workload("documents", Seq(
      Pipeline("containment_s", "dedup_containment"))))

  private def opt(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Timed passes per run, at least; each of a traced run's two kinds. */
  val MinPasses = 3
  /** Untimed passes between set-up and the timed passes, at least. */
  val WarmPasses = 4

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s since JVM start: $name")

  def main(args: Array[String]): Unit = {
    val wlName = opt(args, "workload")
    val wl = workloads.getOrElse(wlName, sys.error(s"unknown workload $wlName"))
    val input = opt(args, "input")
    val probe = opt(args, "probe")
    val seconds = opt(args, "seconds").toDouble
    val traced = opt(args, "trace") == "1"
    val work = opt(args, "work")
    val seed = opt(args, "seed").toLong
    val genSeconds = opt(args, "gen-seconds").toDouble
    val cores = Runtime.getRuntime.availableProcessors()

    phase("main")
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    val sc = spark.sparkContext
    val counters = new SparkCounters(full = traced)
    sc.addSparkListener(counters)
    val sessionS = secs(tSession)

    // load: read the input table through graft's table access; repeated,
    // and the median taken, like the input generation
    var rows = 0L
    val loadS = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      rows = (if (wl.table == "events") Tables.events(spark, input) else Tables.documents(spark, input)).count()
      secs(t0)
    })

    val errors = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var failed = 0
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      errors(what) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | ")}"
        .take(300)
      System.err.println(s"[perfbench] $what failed: ${errors(what)}")
    }

    /** One untraced execution: builder + noop write, then clearCache.
      * Returns its wall seconds, or NaN when it threw.
      */
    def execute(q: String, group: String): Double = {
      attempted += 1
      counters.current = group
      sc.setJobGroup(group, q, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val dt =
        try { noop(SparkEntry.queries(q)(spark, input)); secs(t0) }
        catch { case e: Throwable => fail(q, e); Double.NaN }
      spark.catalog.clearCache()
      sc.clearJobGroup()
      dt
    }

    phase("loaded")
    // The warm execution of each pipeline (JIT, codegen, file index) is
    // also its correctness dump: the first execution writes the result as
    // parquet for the oracle check. It is untimed and counts in setup_s.
    val dumpDir = s"$work/dump"
    val tWarm = System.nanoTime()
    val dumped = wl.queries.flatMap { q =>
      attempted += 1
      counters.current = s"warm:$q"
      sc.setJobGroup(s"warm:$q", q, interruptOnCancel = false)
      try {
        SparkEntry.queries(q)(spark, input).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$q")
        Some(q)
      } catch { case e: Throwable => fail(s"dump $q", e); None }
      finally { spark.catalog.clearCache(); sc.clearJobGroup() }
    }
    val warmS = secs(tWarm)
    val setupS = genSeconds + sessionS + loadS + warmS
    val oracle = SparkEntry.oracleSqlFor(input)
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"),
      Json.obj(dumped.map(q => q -> Json.str(oracle(q)))))
    Files.writeString(Paths.get(s"$work/dumped"), "")
    phase("set up")

    // Untimed warm passes: the driver-side code (Catalyst, scheduling,
    // codegen) keeps getting faster for a few executions after the first.
    // run.py checks the dump against the oracles meanwhile; warm passes go
    // on until it is done, so the check never overlaps a timed pass.
    val checked = Paths.get(s"$work/oracle_done")
    val tWarmPasses = System.nanoTime()
    var warmPasses = 0
    while (warmPasses < WarmPasses || !Files.exists(checked)) {
      require(secs(tWarmPasses) < 150, "the oracle check did not finish")
      wl.queries.foreach(q => execute(q, s"warm$warmPasses:$q"))
      warmPasses += 1
    }
    phase(s"$warmPasses warm passes and the oracle check done")

    // traced-run machinery; listeners are registered only in traced runs
    val spans = new Spans(s"$wlName-seed$seed")
    val plans = new PlanCollector
    val streams = new StreamProgress
    if (traced) {
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    }
    final case class Traced(seconds: Double, planS: Double, c: GroupCounters, pm: PlanMetrics, idleS: Double)

    /** One traced execution: spans around the builder call, executedPlan
      * and the action; listener counters and plan metrics of everything
      * it ran.
      */
    def traceExecute(q: String, group: String, action: DataFrame => Unit)(build: => DataFrame): Traced = {
      attempted += 1
      counters.current = group
      sc.setJobGroup(group, q, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val startUs = spans.nowUs
      var inGraftUs = (0L, 0L)
      val dt =
        try {
          spans(q, "pipeline") {
            val a = spans.nowUs
            val df = spans("builder", "graft.build")(build)
            spans("executedPlan", "graft.plan")(df.queryExecution.executedPlan)
            inGraftUs = (a, spans.nowUs)
            spans("write", "spark.write")(action(df))
          }
          secs(t0)
        } catch { case e: Throwable => fail(q, e); Double.NaN }
      val endUs = spans.nowUs
      spark.catalog.clearCache()
      sc.clearJobGroup()
      BusDrain(sc)
      val c = counters.take(group)
      spans.addJobs(c.jobSpans.toSeq)
      // graft's own share of builder + executedPlan: without the Spark
      // jobs that driver loops run inside the builder
      val (g0, g1) = inGraftUs
      val jobsInGraftUs = c.jobSpans.map { case (_, _, s, e) => math.max(0L, math.min(e, g1) - math.max(s, g0)) }.sum
      val planS = math.max(0L, (g1 - g0) - jobsInGraftUs) / 1e6
      Traced(dt, planS, c, PlanMetrics.of(plans.take()), idleSeconds(c.taskIntervals.toSeq, startUs / 1000, endUs / 1000))
    }

    // Timed passes: each runs every pipeline once, until `seconds` are
    // used and at least MinPasses ran. A traced run alternates untraced
    // and traced passes, each kind first every other time, so both see
    // the same JIT and cache state.
    val untraced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Traced]]
    val peaks = mutable.ArrayBuffer.empty[Double]
    def untracedPass(p: Int): Unit = {
      BusDrain(sc); counters.resetPeak()
      untraced += wl.queries.map(q => q -> execute(q, s"pass$p:$q")).toMap
      BusDrain(sc); peaks += counters.peakTaskMem / 1048576.0
    }
    // JVM-wide collection time of the traced passes: in local mode the
    // driver and the executors share the JVM, and a pause stops both
    val gcMs = mutable.ArrayBuffer.empty[Long]
    def jvmGcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def tracedPass(p: Int): Unit = {
      val gc0 = jvmGcMs()
      tracedPasses += spans(s"pass $p", "pass") {
        wl.queries.map(q => q -> traceExecute(q, s"traced$p:$q", noop)(SparkEntry.queries(q)(spark, input))).toMap
      }
      gcMs += jvmGcMs() - gc0
    }
    val tPasses = System.nanoTime()
    while (untraced.size < MinPasses || secs(tPasses) < seconds) {
      val p = untraced.size
      if (!traced) untracedPass(p)
      else if (p % 2 == 0) { untracedPass(p); tracedPass(p) }
      else { tracedPass(p); untracedPass(p) }
    }
    phase("timed passes done")
    val passS = Stats.median(untraced.toSeq.map(_.values.sum))
    val pipelineMedians = wl.pipelines.map { p =>
      p.metric -> Stats.median(untraced.toSeq.map(_(p.query)))
    }
    val e2e = Seq(
      "setup_s" -> setupS,
      "rows_per_s" -> rows / passS,
      "peak_task_mem_mb" -> Stats.median(peaks.toSeq))

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    var countsRepeat = true
    def countsAgree(what: String, counts: Seq[Any]): Unit = if (counts.distinct.size > 1) {
      countsRepeat = false
      System.err.println(s"[perfbench] $what counts differ between repeats: $counts")
    }
    if (traced) {
      val tp = tracedPasses.toVector
      def med(f: Traced => Double) = Stats.median(tp.map(_.values.map(f).sum))
      countsAgree("job/stage/task", tp.map { p =>
        val cs = p.values.map(_.c)
        (cs.map(_.jobs).sum, cs.map(_.stages).sum, cs.map(_.tasks).sum)
      })

      // layer probes, on the probe inputs (the same for every workload)
      perLayer ++= Kernels.run(seed, reps = 5)
      val bpe = (1 to 3).map { i =>
        val t = traceExecute("bpeTrain", s"probe.bpe$i", noop)(
          TokenizerStats.bpeTrain(Tables.documents(spark, probe), "text", 8))
        (t.seconds, t.c.jobs)
      }
      countsAgree("bpeTrain job", bpe.map(_._2))
      val dedup = (1 to 2).map { i =>
        var kept = 0L
        val t = traceExecute("dedup_containment", s"probe.dedup$i", df => kept = df.collect().length.toLong)(
          SparkEntry.queries("dedup_containment")(spark, probe))
        (t.pm.candidatePairs, kept)
      }
      countsAgree("containment pair", dedup)
      val stream = (1 to 2).map { i =>
        streams.take()
        traceExecute("stream_taylor", s"probe.stream$i", noop)(SparkEntry.queries("stream_taylor")(spark, probe))
        streams.take()
      }
      countsAgree("streaming batch", stream.map(_.size))
      val (pairs, kept) = dedup.head
      val batches = stream.last

      val first = tp.head.values.toSeq
      perLayer ++= Seq(
        "graft.plan_s" -> med(_.planS),
        "spark.jobs" -> first.map(_.c.jobs).sum.toDouble,
        "spark.stages" -> first.map(_.c.stages).sum.toDouble,
        "spark.tasks" -> first.map(_.c.tasks).sum.toDouble,
        "spark.task_failures" -> first.map(_.c.taskFailures).sum.toDouble,
        "spark.task_s" -> med(_.c.taskMs / 1e3),
        "spark.task_cpu_s" -> med(_.c.taskCpuNs / 1e9),
        "spark.gc_s" -> gcMs.sum / 1e3 / gcMs.size,
        "spark.shuffle_write_bytes" -> med(_.c.shuffleWriteBytes.toDouble),
        "spark.shuffle_read_bytes" -> med(_.c.shuffleReadBytes.toDouble),
        "spark.spill_bytes" -> med(_.c.spillBytes.toDouble),
        "spark.peak_task_mem_bytes" -> Stats.median(tp.map(_.values.map(_.c.peakTaskMem.toDouble).max)),
        "spark.driver_idle_s" -> med(_.idleS),
        "dedup.candidate_pairs" -> pairs.toDouble,
        "dedup.pairs_kept" -> kept.toDouble,
        "dedup.pair_yield" -> (if (pairs > 0) kept.toDouble / pairs else 0.0),
        "functions.bpe_train_s" -> Stats.median(bpe.map(_._1)),
        "functions.bpe_jobs" -> bpe.head._2.toDouble,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.batch_s.p50" -> Stats.median(batches.map(_.seconds)),
        "streaming.state_rows" -> batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
        "streaming.state_mem_bytes" -> batches.lastOption.map(_.stateMemBytes.toDouble).getOrElse(0.0),
        "sources.scan_bytes" -> med(_.pm.scanBytes.toDouble),
        "sources.scan_s" -> med(_.pm.scanMs / 1e3),
        "bench.trace_overhead_frac" -> (1.0 - passS / Stats.median(tp.map(_.values.map(_.seconds).sum))))
    }

    val out = Json.obj(Seq(
      "workload" -> Json.str(wlName),
      "rows" -> rows.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "e2e" -> Json.nums(e2e),
      "pipelines" -> Json.nums(pipelineMedians),
      "per_layer" -> Json.nums(perLayer.toSeq),
      "counts_repeat" -> countsRepeat.toString,
      "passes" -> untraced.size.toString,
      "pass_s" -> untraced.map(p => Json.num(p.values.sum)).mkString("[", ", ", "]"),
      "setup_parts_s" -> Json.nums(Seq("generate" -> genSeconds, "session" -> sessionS, "load" -> loadS, "warm" -> warmS))))
    Files.writeString(Paths.get(s"$work/jvm_result.json"), out)
    if (traced) Files.writeString(Paths.get(s"$work/trace.json"), spans.toJson)
    phase("stopping")
    spark.stop()
    phase("stopped")
  }

  /** Wall time of [startMs, endMs] during which no task of the
    * execution was running.
    */
  def idleSeconds(tasks: Seq[(Long, Long)], startMs: Long, endMs: Long): Double = {
    var busy = 0L
    var cur = startMs
    tasks.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > cur) { busy += e - math.max(s, cur); cur = e }
      }
    math.max(0L, (endMs - startMs) - busy) / 1e3
  }
}
