package perfbench

/** The benchmark's own checks (`python3 perfbench/selftest.py`):
  *
  *  1. output fingerprints are deterministic: the timed crawl
  *     (`CrawlShape.Saturate`) twice gives the same crawl fingerprint, equal
  *     to the sequential oracle's, and the same query twice gives the same
  *     result hash;
  *  2. percentiles are reported with their sample counts;
  *  3. the job listener attributes at least 90% of that crawl's executor
  *     time to crawler steps (the rest is `crawl.other_s`); a traced
  *     crawl_saturate run makes the same check on every traced pass.
  */
object SelfTest {

  def run(ctx: Ctx, dataDir: String): Int = {
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def check(name: String)(body: => (Boolean, String)): Unit = {
      val (ok, detail) = try body catch { case e: Throwable => (false, e.toString) }
      results += ((name, ok, detail))
      println(s"${if (ok) "PASS" else "FAIL"} $name: $detail")
    }

    val crawl = new CrawlWorkload("crawl_saturate", CrawlShape.Saturate, ctx)
    crawl.prepare()
    val listener = new JobListener(ctx.sites)
    val prints = (0 until 2).map { i =>
      if (i == 1) { ctx.spark.sparkContext.addSparkListener(listener); ctx.tracer.enabled = true }
      val from = ctx.tracer.all.size
      val r = ctx.tracer.span("pass", "selftest")(crawl.pass())
      val figures = if (i == 1) {
        ctx.tracer.enabled = false
        val jobs = Main.awaitJobs(listener)
        ctx.spark.sparkContext.removeSparkListener(listener)
        Metrics.passLayers(r, jobs, ctx.tracer, from)
      } else Map.empty[String, Double]
      (crawl.lastPrint.get, figures)
    }
    check("crawl fingerprint deterministic across two crawls") {
      (prints(0)._1 == prints(1)._1, prints(0)._1.fields.map(_._2.take(12)).mkString(" "))
    }
    check("crawl fingerprint equals the sequential oracle") {
      val o = crawl.oracle(); (o == prints(0)._1, o.fields.map(_._2.take(12)).mkString(" "))
    }
    check("listener attributes >= 90% of crawl executor time") {
      val f = prints(1)._2.getOrElse("crawl.attributed_exec_frac", 0.0)
      (f >= Metrics.MinAttributedExec, f"attributed ${f * 100}%.1f%%")
    }
    crawl.cleanup()

    for (q <- Seq("q30_simhash_pairs", "q50_dup_clusters")) check(s"$q result hash deterministic") {
      val op = QueryWorkload.sparkEntryOp(q, dataDir)
      val a = op.print(); val b = op.print()
      (a == b, a.take(12))
    }

    check("percentiles carry sample counts") {
      val p = Stats.pct((1 to 10).map(_.toDouble), 0.5)
      val p90 = Stats.pct((1 to 101).map(_.toDouble), 0.9)
      val fig = Metrics.layers(
        plain = Seq(PassResult(1.0, 1, Seq("a" -> 1.0), 1, 0)),
        traced = Seq((PassResult(1.0, 1, Seq("a" -> 1.0, "b" -> 3.0, "c" -> 2.0), 3, 0), Map.empty)),
        probes = Map.empty, attempted = 4, failed = 0, spans = 0).map(x => x._1 -> x._2).toMap
      (p == Stats.Pct(5.5, 10) && p90 == Stats.Pct(91.0, 101) && fig("op_samples") == 3.0,
        s"p50 of 1..10 = $p, p90 of 1..101 = $p90, op_samples = ${fig("op_samples")}")
    }

    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed}/${results.size} passed")
    if (failed == 0) 0 else 1
  }
}
