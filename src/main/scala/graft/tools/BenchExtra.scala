package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The profiling entry point at sf0.1 and Bench scale (separate from the
  * frozen driver Bench). Every target runs `--reps` times:
  *  - a SparkEntry query name, or `all` (the default): timed with the
  *    noop sink (computes every column of every row, discards the result —
  *    no sink cost, no count-only column pruning), or with `count()` under
  *    `--count`; `--plans DIR` writes each query's `.explain("formatted")`
  *    to DIR/<name>.txt (the committed plan evidence, plans/r07/);
  *  - `crawl`: Bench's crawl (SPARK_GRAFT_BENCH_SEEDS seeds, default
  *    6250 × cpus, 2 rounds), printing urls/s and the Crawler's
  *    `stageSeconds`.
  *
  * Besides its `[benchextra]` text lines, every rep prints one JSON object
  * on a line of its own: [[crawlRepJson]] / [[queryRepJson]].
  *
  * Usage:
  *   sbt "runMain graft.tools.BenchExtra [q29_... q46_... | all | crawl] [--count] [--plans DIR] [--reps N]"
  *
  * Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS (local[N]).
  */
object BenchExtra {
  private val Crawl = "crawl"

  final case class Args(targets: Seq[String], plansDir: Option[String] = None,
      reps: Int = 1, count: Boolean = false)

  /** `--plans` and `--reps` take a value, `--count` does not; every other
    * argument is a target. `all`, or no target, stands for every query.
    */
  def parse(args: Seq[String]): Args = {
    val queries = graft.SparkEntry.queries.keys.toSeq.sorted
    @annotation.tailrec
    def go(rest: List[String], acc: Args): Args = rest match {
      case "--plans" :: dir :: t => go(t, acc.copy(plansDir = Some(dir)))
      case "--reps" :: n :: t => go(t, acc.copy(reps = n.toInt))
      case "--count" :: t => go(t, acc.copy(count = true))
      case f :: _ if f.startsWith("--") => throw new IllegalArgumentException(s"bad flag: $f")
      case "all" :: t => go(t, acc.copy(targets = acc.targets ++ queries))
      case name :: t =>
        require(name == Crawl || queries.contains(name), s"unknown target: $name")
        go(t, acc.copy(targets = acc.targets :+ name))
      case Nil => acc
    }
    val a = go(args.toList, Args(Vector.empty))
    if (a.targets.isEmpty) a.copy(targets = queries) else a
  }

  /** Sum of each query's fastest rep, and the queries left out of it
    * because a rep failed (None).
    */
  def minOfRepsTotal(times: Seq[(String, Seq[Option[Double]])]): (Double, Seq[String]) = {
    val (failed, ok) = times.partition(_._2.exists(_.isEmpty))
    (ok.map(_._2.flatten.min).sum, failed.map(_._1))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def jsonObject(fields: (String, Any)*): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** One crawl rep as a JSON line: URLs scheduled, wall seconds, urls/s and
    * the Crawler's `stageSeconds` as a {label: seconds} object.
    */
  def crawlRepJson(rep: Int, urls: Long, seconds: Double, stages: Seq[(String, Double)]): String =
    mapper.writeValueAsString(jsonObject("target" -> Crawl, "rep" -> rep, "urls" -> urls,
      "seconds" -> seconds, "urls_per_s" -> urls / seconds,
      "stage_s" -> jsonObject(stages: _*)))

  /** One query rep as a JSON line; `seconds` is null when the rep failed. */
  def queryRepJson(name: String, rep: Int, seconds: Option[Double]): String =
    mapper.writeValueAsString(jsonObject("target" -> name, "rep" -> rep,
      "seconds" -> seconds.map(Double.box).orNull))

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = ToolSession(cpus)

    if (args.targets.exists(_ != Crawl)) {
      // session warm-up, mirroring Bench (JIT + codegen + parquet footers)
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      for (indexed <- Seq("q33_lsh_topk", "q44_ivf_topk"))
        try graft.SparkEntry.queries(indexed)(spark, sfDir).count()
        catch { case NonFatal(_) => () }
    }

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Option[Double]]]
    args.targets.foreach {
      case Crawl => crawl(spark, cpus, args.reps)
      case name =>
        val times = timeQuery(spark, sfDir, name, args)
        out(name) = times
        println(s"[benchextra] $name: ${times.map(_.fold("FAILED")(t => f"$t%.3f")).mkString(", ")} s")
        times.zipWithIndex.foreach { case (t, i) => println(queryRepJson(name, i + 1, t)) }
    }
    if (out.nonEmpty) {
      val (total, failed) = minOfRepsTotal(out.toSeq)
      println(f"[benchextra] total(min-of-reps): $total%.2f s over ${out.size - failed.size} queries" +
        (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(" ")}"))
    }
    spark.stop()
  }

  private def timeQuery(spark: SparkSession, sfDir: String, name: String,
      args: Args): Seq[Option[Double]] = {
    val fn = graft.SparkEntry.queries(name)
    args.plansDir.foreach { dir =>
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve(s"$name.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    def run(df: DataFrame): Unit =
      if (args.count) { df.count(); () }
      else df.write.format("noop").mode("overwrite").save()
    (1 to args.reps).map { _ =>
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"benchextra:$name")
      val ok = graft.ops.Guard.withQueryTag(name) {
        try { run(fn(spark, sfDir)); true } catch { case NonFatal(e) =>
          System.err.println(s"[benchextra] $name FAILED: ${e.getMessage}"); false }
      }
      spark.sparkContext.setJobDescription(null)
      Option.when(ok)((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Bench's crawl (same seeds and config), once per rep. */
  private def crawl(spark: SparkSession, cpus: Int, reps: Int): Unit = {
    import spark.implicits._
    val nSeeds = sys.env.get("SPARK_GRAFT_BENCH_SEEDS").map(_.toLong).getOrElse(6250L * cpus)
    val seeds = spark.range(nSeeds)
      .map(i => graft.fixtures.Fixtures.benchSeed(i, postRange = 200000, nHosts = 1024))
    val cfg = graft.core.CrawlConfig(maxRounds = 2, seenPartitions = cpus,
      saltFactor = 32, bloomExpectedPerPartition = 2000000L,
      eagerCheckpointFree = true) // single JVM, 2 rounds: eager free is safe
    (1 to reps).foreach { rep =>
      val store = java.nio.file.Files.createTempDirectory("graft-benchextra").toString
      val crawler = new graft.pipeline.Crawler(spark, cfg, store)
      val t0 = System.nanoTime()
      crawler.run(seeds)
      val sec = (System.nanoTime() - t0) / 1e9
      ToolSession.deleteTree(store)
      val urls = crawler.totalScheduled
      println(f"[benchextra] crawl rep $rep: $urls urls in $sec%.2f s = ${urls / sec}%.0f urls/s")
      crawler.stageSeconds.foreach { case (label, s) =>
        println(f"[benchextra] crawl rep $rep $label: $s%.2f s") }
      println(crawlRepJson(rep, urls, sec, crawler.stageSeconds))
    }
  }
}
