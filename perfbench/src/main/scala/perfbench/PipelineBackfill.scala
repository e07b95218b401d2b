package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline._
import graft.util.Det

/** The framework's own use case ("make for data"): a backfill of a
  * time-expanded job graph.
  *
  * The 30 days of `events` are split into one ingest directory per
  * 5-day bucket. Job templates expand over the buckets with
  * `TimeExpansion` (clean -> rollup -> enrich with the customer
  * dimension) and one fan-in job summarizes every enriched bucket:
  * 3 x 6 + 1 jobs, run by `PipelineRunner.runParallel`.
  * One pass is:
  *
  *  1. build: cold build of the whole graph, requested as the ancestors
  *     of the summary target;
  *  2. noop: the same request again, with every target fresh;
  *  3. sync0: `Incremental.sync` of the ingest tree to a file sink;
  *  4. cycles: a seeded part file lands in a seeded bucket, the graph
  *     is rebuilt, then the sync catches up.
  *
  * Checks: the cold-build targets against the goldens; exact ran and
  * skipped sets (the build runs everything, the re-run nothing, each
  * landing that bucket's chain plus the fan-in); each sync reads exactly
  * the landed rows; and at the end the summary against a direct
  * recomputation from the ingest tree.
  */
object PipelineBackfill extends Workload {
  val name = "pipeline_backfill"
  val Buckets = 6
  val BucketDays = 5
  val Cycles = 4
  private val firstDay = java.time.LocalDate.of(2024, 1, 1)

  def buckets(n: Int): Seq[String] = (0 until n).map(i => firstDay.plusDays(BucketDays * i).toString)

  private def cleaned(in: DataFrame, keep: Column*): DataFrame =
    in.filter(col("event_type") =!= "bot" && col("value") >= 0)
      .select((keep ++ Seq(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_timestamp(col("ts").cast(TimestampType)).as("sec"))): _*)

  private def rolled(in: DataFrame, keys: Column*): DataFrame =
    in.groupBy((keys ++ Seq(col("user_id"), col("event_type"))): _*)
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("total"))

  private def summarized(enriched: DataFrame): DataFrame =
    enriched.groupBy("segment", "event_type")
      .agg(sum("n").as("n"), Det.dsum(col("total")).as("total"))

  val templates: Seq[TimedJobTemplate] = Seq(
    TimedJobTemplate("clean", "clean/%dt", Seq("ingest/dt=%dt"))(
      (_, in, dt) => cleaned(in(s"ingest/dt=$dt"))),
    TimedJobTemplate("rollup", "rollup/%dt", Seq("clean/%dt"))(
      (_, in, dt) => rolled(in(s"clean/$dt"))),
    TimedJobTemplate("enrich", "enrich/%dt", Seq("rollup/%dt", "dim/customer"))(
      (_, in, dt) => in(s"rollup/$dt").join(in("dim/customer"), Seq("user_id"), "left")
        .withColumn("dt", lit(dt))))

  def jobs(n: Int): Seq[PipelineJob] = {
    val bs = buckets(n)
    TimeExpansion.expandAll(templates, bs) :+
      PipelineJob("summary", "summary", bs.map(b => s"enrich/$b"))(
        (_, in) => summarized(in.values.reduce(_ unionByName _)))
  }

  /** Runner whose graph and staleness calls are timed from outside:
    * the overrides wrap the public methods `runParallel` calls.
    */
  private final class TimedRunner(spark: SparkSession, root: String)
      extends PipelineRunner(spark, root) {
    val staleNs, graphNs = new java.util.concurrent.atomic.AtomicLong
    private def t[T](acc: java.util.concurrent.atomic.AtomicLong)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally acc.addAndGet(System.nanoTime() - t0)
    }
    override def isStale(job: PipelineJob, now: Long): Boolean = t(staleNs)(super.isStale(job, now))
    override def topoSort(jobs: Seq[PipelineJob]): Seq[PipelineJob] = t(graphNs)(super.topoSort(jobs))
    override def ancestorsOf(jobs: Seq[PipelineJob], target: String): Seq[PipelineJob] =
      t(graphNs)(super.ancestorsOf(jobs, target))
    override def descendantsOf(jobs: Seq[PipelineJob], targets: Set[String]): Set[String] =
      t(graphNs)(super.descendantsOf(jobs, targets))
  }

  /** Per pass: when each job's transformation was entered (µs), and the
    * span id that tags its Spark jobs.
    */
  private final class JobClock {
    val started = new ConcurrentHashMap[String, (Long, Long)]()
    def reset(): Unit = started.clear()
  }

  /** Wrap a job so its start is recorded and its Spark jobs carry its
    * own span tag. Its end is the commit time of the `_GRAFT_DEPS`
    * marker the runner writes last, read back from the file system.
    */
  private def instrument(ctx: Ctx, clock: JobClock, j: PipelineJob): PipelineJob =
    PipelineJob(j.name, j.target, j.deps, j.cacheTimeMs) { (s, in) =>
      val id = ctx.rec.tracer.nextId()
      ctx.rec.goLive(id)
      s.sparkContext.setLocalProperty("perfbench.span", id.toString)
      clock.started.put(j.name, (Clock.nowUs(), id))
      j.run(s, in)
    }

  private def markerUs(root: String, j: PipelineJob): Long = {
    val t = Files.getLastModifiedTime(java.nio.file.Paths.get(root, j.target, "_GRAFT_DEPS")).toInstant
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  }

  /** Split `events` into one committed ingest dir per day, and write the
    * customer dimension. Input preparation: not part of the measured phase.
    */
  private def prepare(ctx: Ctx, root: String, n: Int): Long = {
    val s = ctx.spark
    val day = datediff(col("ts").cast(DateType), lit(firstDay.toString).cast(DateType))
    val ev = graft.sources.Events.load(s, ctx.dir).drop("sec")
      .withColumn("dt", date_format(date_add(lit(firstDay.toString).cast(DateType),
        (floor(day / BucketDays) * BucketDays).cast(IntegerType)), "yyyy-MM-dd"))
      .filter(col("dt") <= buckets(n).last)
    ev.repartition(col("dt")).write.partitionBy("dt").parquet(s"$root/ingest")
    buckets(n).foreach(b => Files.createFile(java.nio.file.Paths.get(root, "ingest", s"dt=$b", "_SUCCESS")))
    graft.sources.Tables.load(s, ctx.dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"),
        col("c_nationkey").as("nation"))
      .coalesce(1).write.parquet(s"$root/dim/customer")
    s.read.parquet(s"$root/ingest").count()
  }

  /** Seeded rows for one landing; a third of the landings carry only
    * `bot` events, which the clean step drops, so their rebuilds change
    * no output (the waste `rebuild_useful_frac` measures).
    */
  private def landing(ctx: Ctx, root: String, rng: Random, nBuckets: Int, pass: Int,
      cycle: Int): (String, DataFrame, Long) = {
    val b = buckets(nBuckets)(rng.nextInt(nBuckets))
    val n = 100 + rng.nextInt(200)
    val rejected = rng.nextInt(3) == 0
    val types = Seq("click", "error", "purchase", "signup", "view")
    val rows = (0 until n).map { i =>
      Row(1000000000L + pass * 100000L + cycle * 1000L + i,
        f"${java.time.LocalDate.parse(b).plusDays(rng.nextInt(BucketDays))} " +
          f"${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d",
        rng.nextInt(1500).toLong,
        if (rejected) "bot" else types(rng.nextInt(types.size)),
        rng.nextInt(50000) / 100.0,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    val raw = StructType(Seq(StructField("event_id", LongType), StructField("ts", StringType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val target = ctx.spark.read.parquet(s"$root/ingest/dt=$b").schema
    val df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), raw)
      .select(target.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
    (b, df, n.toLong)
  }

  private def syncSchema(ctx: Ctx, root: String): StructType =
    ctx.spark.read.parquet(s"$root/ingest").schema

  private def sync(ctx: Ctx, root: String, schema: StructType): Unit =
    graft.pipeline.Incremental.sync(ctx.spark, s"$root/ingest", schema,
      s"$root/synced", s"$root/_sync_checkpoint")(
      _.withColumn("value_cents", (col("value") * 100).cast(LongType)))

  private def syncedRows(ctx: Ctx, root: String): Long =
    ctx.spark.read.parquet(s"$root/synced").count()

  private def sumOf(ctx: Ctx, root: String, kind: String): Checksum.Result =
    Checksum.of(ctx.spark.read.parquet(s"$root/$kind/*"))

  /** The fan-in target against a direct recomputation from the ingest
    * tree: a missed or wrong rebuild of any bucket changes the summary.
    */
  private def verifyFinal(ctx: Ctx, root: String): Unit = {
    val s = ctx.spark
    val ingest = s.read.parquet(s"$root/ingest").withColumn("dt", col("dt").cast(StringType))
    val dim = s.read.parquet(s"$root/dim/customer")
    val expected = summarized(rolled(cleaned(ingest, col("dt")), col("dt"))
      .join(dim, Seq("user_id"), "left"))
    val got = Checksum.of(s.read.parquet(s"$root/summary"))
    val want = Checksum.of(expected)
    Ops.check(got == want, s"summary target $got != recomputed $want")
  }

  /** A build and sync of the whole graph, in its own root: the measured
    * cold build is then the graph's second run in the JVM, not its first,
    * so it does not carry the JIT's first compile of these code paths.
    */
  def warmup(ctx: Ctx, rng: Random): Unit = {
    val root = ctx.env.work.resolve("pipeline").resolve("warmup").toString
    prepare(ctx, root, Buckets)
    val runner = new PipelineRunner(ctx.spark, root)
    runner.runParallel(runner.ancestorsOf(jobs(Buckets), "summary"), parallelism)
    sync(ctx, root, syncSchema(ctx, root))
  }

  private def parallelism: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def pass(ctx: Ctx, pass: Int, rng: Random, parent: Long): PassResult = {
    val s = ctx.spark
    val rec = ctx.rec
    val rootPath = ctx.env.work.resolve("pipeline").resolve(s"pass$pass")
    Setup.deleteRecursively(rootPath)
    val root = rootPath.toString
    val baseRows = ctx.unrecorded(prepare(ctx, root, Buckets))
    val schema = ctx.unrecorded(syncSchema(ctx, root))
    val timed = if (ctx.traced) Some(new TimedRunner(s, root)) else None
    val runner = timed.getOrElse(new PipelineRunner(s, root))
    val clock = new JobClock
    val plain = jobs(Buckets)
    val js = plain.map(instrument(ctx, clock, _))
    val byName = js.map(j => j.name -> j).toMap
    val ops = collection.mutable.ArrayBuffer[OpResult]()
    val jobSpans = collection.mutable.ArrayBuffer[Span]()
    val phase = collection.mutable.Map[String, collection.mutable.ArrayBuffer[Double]]()
    val ranCount = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val skippedCount = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var useful, rebuilt = 0L

    // one pipeline request, timed as an op; each executed job gets a span
    // from its start to its marker commit
    def request(opName: String, kind: String)(check: PipelineResult => Unit): Unit = {
      clock.reset()
      var res: PipelineResult = null
      var opId = 0L
      val r = rec.span(s, "op", opName, parent) { id =>
        opId = id
        rec.currentOp = id
        Ops.run(opName) { res = runner.runParallel(runner.ancestorsOf(js, "summary"), parallelism) }
      }
      if (res != null) {
        ranCount(kind) += res.ran.size
        skippedCount(kind) += res.skipped.size
        res.ran.foreach { n =>
          val (startUs, id) = clock.started.get(n)
          jobSpans += Span(id, opId, "pipeline.job", n, startUs, markerUs(root, byName(n)))
        }
      }
      val checked = if (!r.ok) r else {
        val err = try { ctx.unrecorded(check(res)); "" } catch {
          case e: Exception => e.getMessage
        }
        if (err.isEmpty) r else r.copy(ok = false, error = err)
      }
      ops += checked
      phase.getOrElseUpdate(kind, collection.mutable.ArrayBuffer()) += r.seconds
    }

    def syncOp(opName: String, expectRows: Long): Unit = {
      val before = if (expectRows >= 0) ctx.unrecorded(syncedRows(ctx, root)) else 0L
      val r = rec.span(s, "op", opName, parent) { id =>
        rec.currentOp = id
        Ops.run(opName) {
          sync(ctx, root, schema)
        }
      }
      val checked = if (!r.ok) r else {
        val got = ctx.unrecorded(syncedRows(ctx, root)) - before
        val want = if (expectRows >= 0) expectRows else baseRows
        if (got == want) r else r.copy(ok = false, error = s"sync read $got rows, expected $want")
      }
      ops += checked
      phase.getOrElseUpdate(if (opName == "sync0") "sync0" else "sync",
        collection.mutable.ArrayBuffer()) += r.seconds
    }

    val all = js.map(_.name).toSet
    request("build", "build") { res =>
      Ops.check(res.ran.toSet == all && res.skipped.isEmpty,
        s"cold build ran ${res.ran.size}/${all.size} jobs")
      Seq("clean", "rollup", "enrich").foreach(k => ctx.verify(s"pipeline.$k", sumOf(ctx, root, k)))
      ctx.verify("pipeline.summary", Checksum.of(s.read.parquet(s"$root/summary")))
    }
    request("noop", "noop") { res =>
      Ops.check(res.ran.isEmpty && res.skipped.toSet == all,
        s"all-fresh re-run ran ${res.ran.mkString(",")}")
    }
    syncOp("sync0", -1L)
    for (c <- 1 to Cycles) {
      val (b, df, n) = ctx.unrecorded(landing(ctx, root, rng, Buckets, pass, c))
      val expect = runner.descendantsOf(plain, Set(s"clean/$b"))
      val kinds = Seq("clean", "rollup", "enrich")
      def targetSums(): Seq[Checksum.Result] = ctx.unrecorded(
        kinds.map(k => Checksum.of(s.read.parquet(s"$root/$k/$b"))) :+
          Checksum.of(s.read.parquet(s"$root/summary")))
      val before = if (ctx.traced) targetSums() else Nil
      val land = rec.span(s, "op", s"land$c", parent) { id =>
        rec.currentOp = id
        Ops.run(s"land$c")(df.coalesce(1).write.mode("append").parquet(s"$root/ingest/dt=$b"))
      }
      ops += land
      phase.getOrElseUpdate("land", collection.mutable.ArrayBuffer()) += land.seconds
      request(s"rebuild$c", "incr") { res =>
        val want = plain.filter(j => expect(j.target)).map(_.name).toSet
        Ops.check(res.ran.toSet == want && res.skipped.toSet == all -- want,
          s"landing in $b ran ${res.ran.sorted.mkString(",")}, expected ${want.toSeq.sorted.mkString(",")}")
      }
      if (ctx.traced) {
        val after = targetSums()
        rebuilt += after.size
        useful += before.zip(after).count { case (x, y) => x != y }
      }
      syncOp(s"sync$c", n)
    }
    ops += ctx.unrecorded(Ops.run("verify_final")(if (ctx.record.isEmpty) verifyFinal(ctx, root)))
    if (rec.enabled) jobSpans.foreach(rec.tracer.add)
    jobSpans.foreach(sp => rec.retire(sp.id))

    val measured = ops.filterNot(_.name == "verify_final").map(_.seconds).sum
    // the requests a user waits for: the build, the re-run, the first
    // sync, and each landing cycle (land + rebuild + sync)
    val secondsOf = ops.map(o => o.name -> o.seconds).toMap
    val latencies = Seq("build", "noop", "sync0").map(n => n -> secondsOf(n)) ++
      (1 to Cycles).map(c => s"cycle$c" -> Seq(s"land$c", s"rebuild$c", s"sync$c").map(secondsOf).sum)
    def med(k: String) = phase.get(k).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
    val summary = Map(
      "build_s" -> (med("build"), "s"),
      "noop_s" -> (med("noop"), "s"),
      "incr_s" -> (med("incr"), "s"),
      "sync_s" -> (med("sync"), "s"))
    val layer = collection.mutable.Map[String, Double]()
    summary.foreach { case (k, (v, _)) => layer(s"pipeline.$k") = v }
    if (ctx.traced) {
      timed.foreach { t =>
        layer("pipeline.stale_check_s") = t.staleNs.get / 1e9
        layer("pipeline.graph_s") = t.graphNs.get / 1e9
      }
      Seq("build", "noop", "incr").foreach { k =>
        layer(s"pipeline.jobs_ran.$k") = ranCount(k).toDouble
        layer(s"pipeline.jobs_skipped.$k") = skippedCount(k).toDouble
      }
      layer("pipeline.rebuild_useful_frac") = useful.toDouble / math.max(1L, rebuilt)
      ctx.rec.drain(s)
      val execMs = jobSpans.flatMap(sp => Option(rec.sparkMsBySpan.get(sp.id)).map(_.sum()))
      if (execMs.nonEmpty) layer("pipeline.job_exec_p50_s") = Stats.median(execMs.toSeq) / 1000
      val buildOp = ops.find(_.name == "build").get
      val buildJobUs = jobSpans.take(all.size).map(_.durationUs).sum
      layer("pipeline.concurrency") = buildJobUs / 1e6 / math.max(1e-9, buildOp.seconds)
      val targets = Seq("clean", "rollup", "enrich", "summary").map(rootPath.resolve)
      layer("pipeline.target_files") = targets.map(countFiles).sum.toDouble
      layer("pipeline.target_mb") = targets.map(Setup.sizeOf).sum / 1e6
    }
    val inputs = Seq("ingest", "dim").map(k => Setup.sizeOf(rootPath.resolve(k))).sum
    PassResult(measured, ops.toSeq, latencies, layer.toMap, summary,
      Setup.sizeOf(rootPath) - inputs)
  }

  private def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val st = Files.walk(p); try st.filter(Files.isRegularFile(_)).count() finally st.close() }

}
