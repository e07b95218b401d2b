package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds the classpath and starts it.
  *
  *   --mode run      one run of `--workload` (default)
  *   --mode goldens  record every workload's checksums into `--out`
  *   --mode oracle   dump the oracled queries' outputs into `--out`, in
  *                   the layout `tools/check_oracle.py` reads
  *   --mode querytimes  median latency of each query on the tables in
  *                   `--inputs` (outputs not checked), to compare the
  *                   generated inputs with another copy of the fixture
  *
  * A run prints `metric <name> <value> <unit>` lines and ends with one
  * `PERFBENCH_RESULT <json>` line.
  */
object Main {
  val SetupReps = 3
  /** Untraced makespans kept per workload and source tree. */
  val MakespanRecords = 20

  /** Every per-layer metric a traced run reports (BENCHMARK.json). */
  val perLayer: Seq[(String, String)] = Seq(
    "pipeline.build_s" -> "s", "pipeline.noop_s" -> "s", "pipeline.incr_s" -> "s",
    "pipeline.sync_s" -> "s", "pipeline.stale_check_s" -> "s", "pipeline.graph_s" -> "s",
    "pipeline.jobs_ran.build" -> "count", "pipeline.jobs_skipped.build" -> "count",
    "pipeline.jobs_ran.noop" -> "count", "pipeline.jobs_skipped.noop" -> "count",
    "pipeline.jobs_ran.incr" -> "count", "pipeline.jobs_skipped.incr" -> "count",
    "pipeline.rebuild_useful_frac" -> "ratio", "pipeline.job_exec_p50_s" -> "s",
    "pipeline.concurrency" -> "jobs", "pipeline.target_files" -> "count",
    "pipeline.target_mb" -> "MB",
    "sources.bytes_read" -> "bytes", "sources.rows_read" -> "count", "sources.scan_s" -> "s",
    "plans.analysis_s" -> "s", "plans.optimizer_s" -> "s", "plans.planning_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.sched_delay_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.task_failures" -> "count",
    "operators.dedup.minhash_s" -> "s", "operators.dedup.jaccard_s" -> "s",
    "operators.dedup.components_s" -> "s", "operators.dedup.simhash_s" -> "s",
    "operators.dedup.cand_per_pair" -> "ratio",
    "operators.similarity.exact_topk_s" -> "s", "operators.similarity.ivf_topk_s" -> "s",
    "operators.similarity.pq_topk_s" -> "s", "operators.similarity.lsh_topk_s" -> "s",
    "operators.similarity.knn_graph_s" -> "s", "operators.similarity.beam_s" -> "s",
    "operators.similarity.recall_at_10" -> "ratio",
    "operators.similarity.scored_per_query" -> "count",
    "util.artifact_builds" -> "count", "util.artifact_mb" -> "MB", "util.artifact_build_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "jvm.heap_peak_mb" -> "MB", "jvm.gc_s" -> "s",
    "self.workload_s" -> "s", "self.op_s" -> "s", "self.pipeline_job_s" -> "s",
    "self.spark_job_s" -> "s", "self.spark_stage_s" -> "s",
    "trace.makespan_untraced_s" -> "s", "trace.makespan_traced_s" -> "s",
    "trace.overhead_s" -> "s", "trace.spans" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val env = Env(Paths.get(opts("work")).toAbsolutePath, opts("gen"),
      Runtime.getRuntime.availableProcessors())
    Files.createDirectories(env.work)
    opts.getOrElse("mode", "run") match {
      case "run" => run(env, opts)
      case "goldens" => goldens(env, Paths.get(opts("out")))
      case "oracle" => oracle(env, Paths.get(opts("goldens")), Paths.get(opts("out")))
      case "querytimes" => queryTimes(env, opts("inputs"), opts.getOrElse("reps", "3").toInt)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Generate the inputs, then start a session `reps` times (each start
    * stops the previous session). Returns the last session, the inputs,
    * input generation + median session start, and a detail line.
    */
  private def setUp(env: Env, reps: Int): (SparkSession, String, Double, String) = {
    val t0 = System.nanoTime()
    val dir = Setup.generateInputs(env, "inputs")
    val genS = seconds(t0)
    var spark: SparkSession = null
    val starts = (1 to reps).map { _ =>
      val t = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Setup.session(env)
      seconds(t)
    }
    val detail = f"setup inputs $genS%.3f session_starts ${starts.map(r => f"$r%.3f").mkString(" ")}"
    (spark, dir, genS + Stats.median(starts), detail)
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def rngFor(seed: Long, pass: Int) = new Random(seed * 1000003L + pass)

  private def metricLine(name: String, v: Double, unit: String): Unit =
    println(f"metric $name%-36s ${Json.num(v)}%s $unit")

  private def run(env: Env, opts: Map[String, String]): Unit = {
    val w = Workload.named(opts("workload"))
    val seed = opts("seed").toLong
    val budget = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val goldenMap = Goldens.load(Paths.get(opts("goldens")))
    require(goldenMap.nonEmpty, s"no goldens at ${opts("goldens")}")
    val load0 = loadAvg()
    val rec = new Recorder(new Tracer(s"${w.name}-seed$seed-${ProcessHandle.current().pid()}"))

    val (spark, dir, startS, startDetail) = setUp(env, SetupReps)
    if (traced) rec.register(spark)
    val ctx = new Ctx(spark, dir, env, rec, goldenMap, traced)
    val tw = System.nanoTime()
    w.warmup(ctx, rngFor(seed, 0))
    val warmS = seconds(tw)
    val setupS = startS + warmS
    val setupDetail = f"$startDetail warmup $warmS%.3f"

    // Every figure is taken from the first measured pass. The engine keeps
    // getting faster over its first few executions of a query (JIT), so a
    // statistic over however many passes fit would move with the host's
    // speed; further passes, while the budget lasts, only check outputs.
    val passes = collection.mutable.ArrayBuffer[PassResult]()
    val layer = collection.mutable.LinkedHashMap[String, Double]()
    val gc0 = Recorder.jvmGcMs()
    if (traced) { Recorder.resetHeapPeak(); rec.enabled = true }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val tmp0 = Setup.scratchBytes(tmp)._2
    val t0 = System.nanoTime()
    def runPass(n: Int): PassResult =
      if (!traced) w.pass(ctx, n, rngFor(seed, n), 0L)
      else rec.span(spark, "workload", w.name, 0L) { id => w.pass(ctx, n, rngFor(seed, n), id) }
    val timed = runPass(1)
    passes += timed
    // the disk the pass leaves: what it added to the engine scratch dir
    // (first-touch artifacts aside) plus its own targets and checkpoints
    val (artifactBytes, tmp1) = Setup.scratchBytes(tmp)
    val scratch = artifactBytes + (tmp1 - tmp0) + timed.leftBytes
    if (traced) {
      rec.drain(spark)
      rec.enabled = false
      layer ++= tracedLayer(ctx, timed, Recorder.jvmGcMs() - gc0)
    }
    while (seconds(t0) < budget) passes += runPass(passes.size + 1)

    val makespan = timed.makespan
    // untraced makespans of the same source tree are kept in a record, so
    // a traced run can report its overhead against them
    val record = Paths.get(opts("makespans"))
    val untraced = if (!Files.exists(record)) Nil
      else new String(Files.readAllBytes(record), "UTF-8").split("\n").filter(_.nonEmpty).map(_.toDouble).toSeq
    if (traced) {
      val untracedS = if (untraced.isEmpty) 0.0 else Stats.median(untraced)
      layer ++= Map(
        "trace.makespan_untraced_s" -> untracedS,
        "trace.makespan_traced_s" -> makespan,
        "trace.overhead_s" -> (if (untraced.isEmpty) 0.0 else makespan - untracedS))
      layer ++= w.probes(ctx, rngFor(seed, 0))
      if (untraced.isEmpty) println("trace overhead unknown: no untraced run of this workload and source tree")
    } else Files.write(record, (untraced :+ makespan).takeRight(MakespanRecords).map(v => s"$v\n").mkString
      .getBytes("UTF-8"))

    val ops = passes.flatMap(_.ops)
    val failed = ops.filterNot(_.ok)
    // the median and the tail over every op run of the pass
    val runs = timed.latencies.map(_._2)
    val tail = Stats.tail(runs)
    val load1 = loadAvg()

    println(s"workload ${w.name} seed $seed trace ${if (traced) 1 else 0} passes ${passes.size}")
    println(s"pass_seconds ${passes.map(p => f"${p.seconds}%.3f").mkString(" ")}")
    if (timed.rounds.nonEmpty)
      println(s"round_seconds ${timed.rounds.map(r => f"$r%.3f").mkString(" ")} (first pass; makespan_s is their median)")
    println(s"env nproc ${env.cpus} master local[${env.cpus}] shuffle_partitions " +
      s"${spark.conf.get("spark.sql.shuffle.partitions")} heap_max_mb " +
      s"${Runtime.getRuntime.maxMemory / (1 << 20)} loadavg_before $load0 loadavg_after $load1")
    println(setupDetail)
    timed.ops.foreach(o => println(f"op ${o.name}%-36s ${o.seconds}%.3f ${if (o.ok) "ok" else "FAILED " + o.error}"))
    val e2e = collection.mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "makespan_s" -> (makespan, "s"),
      "op_p50_s" -> (Stats.median(runs), "s"),
      "op_tail_s" -> (tail.map(_.value).getOrElse(runs.max), "s"),
      "scratch_mb" -> (scratch / 1e6, "MB"))
    val extra = collection.mutable.LinkedHashMap[String, (Double, String)](
      "ops_failed_frac" -> (failed.size.toDouble / ops.size, "ratio"))
    timed.summary.toSeq.sortBy(_._1).foreach { case (k, v) => extra(k) = v }
    (e2e ++ extra).foreach { case (k, (v, u)) => metricLine(k, v, u) }
    println(tail match {
      case Some(t) => f"op_tail_s is p${t.percentile}%.1f of n=${t.n} op latencies of the first pass; op_p50_s is their median"
      case None => s"op_tail_s is the max of n=${runs.size} op latencies of the first pass (fewer than 20); op_p50_s is their median"
    })

    val metrics = if (!traced) e2e.toSeq
      else {
        val spans = env.work.resolve(s"spans-${w.name}-seed$seed.jsonl")
        rec.tracer.write(spans)
        println(s"spans ${rec.tracer.all.size} written to $spans")
        layer.foreach { case (k, v) => if (!perLayer.exists(_._1 == k)) println(s"unlisted layer metric $k") }
        perLayer.map { case (k, u) =>
          val v = layer.getOrElse(k, 0.0)
          metricLine(k, v, u)
          k -> (v, u)
        }
      }
    val json = Json.obj(Seq(
      "correct" -> failed.isEmpty.toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.size.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(s"PERFBENCH_RESULT $json")
    spark.stop()
  }

  /** Per-layer numbers of the traced pass, from the recorder and spans. */
  private def tracedLayer(ctx: Ctx, pass: PassResult, gcMs: Long): Map[String, Double] = {
    val r = ctx.rec
    val nOps = math.max(1, pass.latencies.size).toDouble
    val wall = pass.seconds
    val spans = r.tracer.all
    val self = SelfTime.byKind(spans)
    def mb(b: Long) = b / 1e6
    val batch = r.streamBatchMs.values().asScala.map(_.toDouble).toSeq
    val (stRows, stBytes) = r.streamState
    pass.layer ++ Map(
      "sources.bytes_read" -> r.inputBytes.get.toDouble,
      "sources.rows_read" -> r.inputRecords.get.toDouble,
      "plans.analysis_s" -> r.analysisMs.get / 1e3,
      "plans.optimizer_s" -> r.optimizerMs.get / 1e3,
      "plans.planning_s" -> r.planningMs.get / 1e3,
      "spark.jobs_per_op" -> r.jobs.get / nOps,
      "spark.stages_per_op" -> r.stages.get / nOps,
      "spark.tasks_per_op" -> r.tasks.get / nOps,
      "spark.task_s" -> r.taskRunMs.get / 1e3,
      "spark.task_cpu_s" -> r.taskCpuNs.get / 1e9,
      "spark.busy_frac" -> r.taskRunMs.get / 1e3 / (wall * ctx.env.cpus),
      "spark.sched_delay_s" -> r.schedDelayMs.get / 1e3,
      "spark.shuffle_write_mb" -> mb(r.shuffleWrite.get),
      "spark.shuffle_read_mb" -> mb(r.shuffleRead.get),
      "spark.spill_mb" -> mb(r.spillBytes.get),
      "spark.gc_s" -> r.taskGcMs.get / 1e3,
      "spark.task_failures" -> r.taskFailures.get.toDouble,
      "util.artifact_builds" -> r.artifactBuilds.get.toDouble,
      "util.artifact_mb" -> mb(Setup.scratchBytes(Paths.get(System.getProperty("java.io.tmpdir")))._1),
      "util.artifact_build_s" -> r.artifactBuildMs.get / 1e3,
      "streaming.batches" -> r.streamBatches.get.toDouble,
      "streaming.batch_p50_s" -> (if (batch.isEmpty) 0.0 else Stats.median(batch) / 1e3),
      "streaming.commit_s" -> r.streamCommitMs.get / 1e3,
      "streaming.state_rows" -> stRows.toDouble,
      "streaming.state_mb" -> mb(stBytes),
      "jvm.heap_peak_mb" -> Recorder.heapPeakBytes() / 1e6,
      "jvm.gc_s" -> gcMs / 1e3,
      "self.workload_s" -> self.getOrElse("workload", 0L) / 1e6,
      "self.op_s" -> self.getOrElse("op", 0L) / 1e6,
      "self.pipeline_job_s" -> self.getOrElse("pipeline.job", 0L) / 1e6,
      "self.spark_job_s" -> self.getOrElse("spark.job", 0L) / 1e6,
      "self.spark_stage_s" -> self.getOrElse("spark.stage", 0L) / 1e6,
      "trace.spans" -> spans.size.toDouble)
  }

  /** Record the checksums every workload checks, from one session. */
  private def goldens(env: Env, out: Path): Unit = {
    val (spark, dir, _, _) = setUp(env, 1)
    val got = new java.util.concurrent.ConcurrentHashMap[String, Checksum.Result]()
    val ctx = new Ctx(spark, dir, env, new Recorder(new Tracer("goldens")), Map.empty,
      traced = false, record = Some(got.asScala))
    Workload.all.foreach(_.pass(ctx, 1, new Random(1), 0L))
    Goldens.write(out, got.asScala.toMap)
    println(s"wrote ${got.size} goldens to $out")
    spark.stop()
  }

  /** Dump each oracled query of the query workloads, after checking its
    * output against the golden, for `tools/check_oracle.py`.
    */
  private def oracle(env: Env, goldenPath: Path, out: Path): Unit = {
    val (spark, dir, _, _) = setUp(env, 1)
    val g = Goldens.load(goldenPath)
    val oracled = graft.SparkEntry.oracleSql
    val names = QueryWorkload.analyticMix.queries.filter(oracled.contains)
    Setup.deleteRecursively(out)
    Files.createDirectories(out)
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.coalesce(1).write.parquet(out.resolve(n).toString)
      val back = Checksum.of(spark.read.parquet(out.resolve(n).toString))
      println(s"golden ${if (g.get(n).contains(back)) "match" else "MISMATCH"} $n")
      spark.catalog.clearCache()
    }
    Files.write(out.resolve("oracle_sql.json"), Json.obj(names.map(n => n -> Json.str(oracled(n))))
      .getBytes("UTF-8"))
    println(s"inputs $dir")
    spark.stop()
  }

  /** Each query of the query workloads on the tables in `inputs`: one
    * warm-up run, then the median of `reps` runs, `clearCache()` between.
    */
  private def queryTimes(env: Env, inputs: String, reps: Int): Unit = {
    val spark = Setup.session(env)
    QueryWorkload.analyticMix.queries.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      val times = (0 to reps).map { _ =>
        val t = System.nanoTime()
        Checksum.of(fn(spark, inputs))
        spark.catalog.clearCache()
        seconds(t)
      }.tail
      println(f"querytime $q%-28s ${Stats.median(times)}%.3f s (median of $reps after one warm-up)")
    }
    spark.stop()
  }
}
