package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark driver. Modes:
  *
  *  - `run --workload W --seed N --seconds S --trace 0|1`: one measured run;
  *    prints the run context, then one result line `{"correct", "attempted",
  *    "failed", "metrics"}` as the last line of stdout;
  *  - `golden --workload W --seeds a,b,..`: prints the expected fingerprints;
  *  - `selftest`: the benchmark's own checks (see [[SelfTest]]).
  *
  * `perfbench/run.py` builds the classes and calls this; see perfbench/README.md.
  */
object Main {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def parse(args: Array[String]): (String, Opts) = {
    val mode = args.headOption.getOrElse("run")
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    (mode, Opts(kv))
  }

  val Workloads: Seq[String] = Seq("crawl_saturate", "dedup_joins")
  /** Interval of the warm-up pass's live-heap samples. */
  val HeapSampleMs = 1000L

  def session(work: Path, nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val (mode, o) = parse(args)
    val root = Paths.get(o.get("root").getOrElse(".")).toAbsolutePath.normalize
    mode match {
      case "golden" => golden(root, o)
      case "selftest" =>
        val work = Paths.get(o("work"))
        val spark = session(work, o("nproc").toInt)
        val code = SelfTest.run(makeCtx(root, o, 1L, spark, work), queryData(root))
        spark.stop()
        sys.exit(code)
      case "run" => sys.exit(run(root, o))
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def makeCtx(root: Path, o: Opts, seed: Long, spark: SparkSession, work: Path): Ctx =
    new Ctx(spark, work, seed, o("nproc").toInt, new Tracer(s"${o("workload")}-$seed"),
      CallSites.fromCheckout(root), new Golden(root.resolve("perfbench/golden")))

  /** The query tables: the repository's seed-42 sf 0.01 tables (TESTDATA.md). */
  def queryData(root: Path): String = root.resolve("perfbench/data/sf0.01").toString

  def workload(name: String, ctx: Ctx, root: Path): Workload = name match {
    case "crawl_saturate" => new CrawlWorkload(name, CrawlShape.Saturate, ctx)
    case "dedup_joins" => new QueryWorkload(name, queryData(root), ctx)
    case w => sys.error(s"unknown workload $w (known: ${Workloads.mkString(", ")})")
  }

  /** Expected fingerprints for the golden files (crawls: from the
    * sequential oracle; queries: from the engine on the committed tables).
    */
  def golden(root: Path, o: Opts): Unit = {
    val work = Paths.get(o("work"))
    val spark = session(work, o("nproc").toInt)
    val seeds = o("seeds").split(",").map(_.trim.toLong).toSeq
    val name = o("workload")
    seeds.foreach { seed =>
      val ctx = makeCtx(root, o, seed, spark, work)
      workload(name, ctx, root) match {
        case c: CrawlWorkload =>
          c.oracle().fields.foreach { case (k, v) => println(s"""  "seed.$seed.$k": "$v",""") }
        case q: QueryWorkload =>
          q.prints().foreach { case (k, v) => println(s"""  "$k": "$v",""") }
      }
    }
    spark.stop()
  }

  def run(root: Path, o: Opts): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.get("trace").contains("1")
    val work = Paths.get(o("work"))
    Workload.deleteTree(work.toString)
    Files.createDirectories(work)
    val spark = session(work, o("nproc").toInt)
    val ctx = makeCtx(root, o, seed, spark, work)
    val wl = workload(name, ctx, root)
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    var attempted = 0
    var failed = 0
    def count(r: PassResult): PassResult = { attempted += r.attempted; failed += r.failed; r }

    // set-up: inputs prepared three times (median taken), then one cold
    // warm-up pass, which also fingerprints outputs and samples the live
    // heap with a full GC every HeapSampleMs (the GC pauses are not timed)
    val prepareReps = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); wl.prepare(); (System.nanoTime() - t0) / 1e9
    }
    val (warm, heap) = HeapWatch.during(HeapSampleMs)(count(wl.warm()))
    val warmS = warm.wallS - heap.pauseS
    val setupS = bootS + Stats.median(prepareReps) + warmS

    // timed passes; a traced run alternates untraced and traced passes
    val listener = new JobListener(ctx.sites)
    val plain = ArrayBuffer.empty[PassResult]
    val withTrace = ArrayBuffer.empty[(PassResult, Map[String, Double])]
    val tracedJobs = ArrayBuffer.empty[JobRec]
    val sampler = new graft.tools.NoiseSampler()
    var elapsed = 0.0
    var i = 0
    while (elapsed < seconds || plain.isEmpty || (traced && withTrace.isEmpty)) {
      val tracedPass = traced && i % 2 == 1
      if (!tracedPass) plain += count(wl.pass())
      else {
        listener.clear()
        spark.sparkContext.addSparkListener(listener)
        ctx.tracer.enabled = true
        val spanFrom = ctx.tracer.all.size
        val r = count(ctx.tracer.span("pass", name)(wl.pass()))
        ctx.tracer.enabled = false
        val jobs = awaitJobs(listener)
        spark.sparkContext.removeSparkListener(listener)
        tracedJobs ++= jobs
        val figures = Metrics.passLayers(r, jobs, ctx.tracer, spanFrom)
        figures.get("crawl.attributed_exec_frac").filter(_ < Metrics.MinAttributedExec).foreach { f =>
          failed += 1
          System.err.println(f"[perfbench] job listener attributed ${f * 100}%.1f%% of crawl " +
            f"executor time, below ${Metrics.MinAttributedExec * 100}%.0f%%")
        }
        withTrace += ((r, figures))
      }
      elapsed += (if (tracedPass) withTrace.last._1.wallS else plain.last.wallS)
      i += 1
    }
    val noise = sampler.stop()

    val probes = if (traced) {
      ctx.tracer.enabled = true
      val p = wl.layerProbes()
      ctx.tracer.enabled = false
      attempted += p.attempted; failed += p.failed
      p.metrics
    } else Map.empty[String, Double]
    failed += wl.verify()
    wl.cleanup()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Metrics.endToEnd(plain.toSeq, setupS, heap.p75Mb, attempted, failed)
      else Metrics.layers(plain.toSeq, withTrace.toSeq, probes, attempted, failed,
        ctx.tracer.all.size)

    if (traced) {
      val dir = root.resolve(".bench_build/perfbench/traces")
      ctx.tracer.writeJsonl(dir.resolve(s"$name-$seed.spans.jsonl"))
      Files.writeString(dir.resolve(s"$name-$seed.jobs.jsonl"), tracedJobs.map(j => Json.obj(Seq(
        "job" -> j.jobId.toString, "step" -> Json.str(j.step), "site" -> Json.str(j.site),
        "wall_s" -> Json.num((j.endNs - j.startNs) / 1e9), "exec_s" -> Json.num(j.execRunMs / 1e3),
        "tasks" -> j.tasks.toString))).mkString("", "\n", "\n"))
    }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    println("context " + Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "nproc" -> o("nproc"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "jvm_flags" -> Json.str(scala.jdk.CollectionConverters.ListHasAsScala(rt.getInputArguments).asScala
        .filterNot(_.startsWith("--add-opens")).mkString(" ")),
      "git_rev" -> Json.str(o.get("git-rev").getOrElse("unknown")),
      "source_hash" -> Json.str(o.get("source-hash").getOrElse("unknown")),
      "boot_s" -> Json.num(bootS),
      "prepare_reps_s" -> prepareReps.map(Json.num).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "passes" -> plain.size.toString, "traced_passes" -> withTrace.size.toString,
      "pass_wall_s" -> plain.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "op_samples" -> plain.map(_.ops.size).sum.toString,
      "heap_samples" -> heap.samples.toString, "heap_gc_pause_s" -> Json.num(heap.pauseS),
      "noise" -> noise.json(noise.flaggedVsIdle(graft.tools.NoiseSampler.CleanHostFloor)))))
    println("result " + Json.obj(Seq(
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    spark.stop()
    Workload.deleteTree(work.toString)
    if (failed == 0) 0 else 3
  }

  /** Waits until the listener has seen every job it saw start end. */
  def awaitJobs(l: JobListener): Vector[JobRec] = {
    val deadline = System.nanoTime() + 10000000000L
    var jobs = l.snapshot()
    while (jobs.exists(_.endNs < 0) && System.nanoTime() < deadline) {
      Thread.sleep(20); jobs = l.snapshot()
    }
    Thread.sleep(100) // trailing task-end events of the last job
    l.snapshot()
  }
}
