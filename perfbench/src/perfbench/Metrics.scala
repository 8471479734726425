package perfbench

/** Metric names, units and how each is computed. */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "work_per_s" -> "1/s",          // URLs scheduled per second, or operations per second
    "op_s_p50" -> "s",              // median latency of one operation (crawl: one round)
    "heap_live_p75_mb" -> "MB",     // upper quartile of live old-gen samples (see HeapWatch)
    "ok_frac" -> "fraction",        // 1 - failed / attempted
    "setup_s" -> "s")               // JVM start to warm and ready

  /** Crawler steps, as resolved by [[CallSites]], and the layer each belongs to. */
  val CrawlSteps: Seq[(String, String)] = Seq(
    "fetch_parse" -> "fetch_parse", "sequencer" -> "pipeline", "bloom_build" -> "frontier",
    "collapse" -> "pipeline", "commit" -> "snapshot", "next_candidates" -> "pipeline")

  /** Least share of crawl executor time the job listener must attribute to
    * crawler steps; a traced crawl pass below it fails the run.
    */
  val MinAttributedExec = 0.9

  val Layers: Seq[String] = Seq("pipeline", "frontier", "fetch_parse", "snapshot", "ops",
    "analysis", "query", "SparkEntry")

  /** Every timed operation name of the query workloads. */
  def queryOps: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted ++ Serving.OpNames

  val GuardLabels: Seq[String] = Seq("lshCandidatePairs", "ngramJaccardPairs", "simhashDupPairs",
    "simhashDupPairs128", "embeddingDupPairs", "bucketedNeighbors")

  def perLayer: Seq[(String, String)] =
    CrawlSteps.map(s => s"crawl.${s._1}_s" -> "s") ++ Seq(
      "crawl.other_s" -> "s", "crawl.tail_round_s" -> "s", "crawl.jobs_per_round" -> "count",
      "crawl.attributed_exec_frac" -> "fraction",
      "fetch.pages_per_s" -> "1/s", "parse.pages_per_s" -> "1/s",
      "frontier.probe_s" -> "s", "frontier.new_frac" -> "fraction",
      "frontier.fpp_realized" -> "fraction",
      "snapshot.files_written" -> "count", "snapshot.bytes_written" -> "bytes",
      "snapshot.bytes_per_url" -> "bytes") ++
      queryOps.map(q => s"query.${q}_s" -> "s") ++ Seq(
      "op_s_p90" -> "s", "op_samples" -> "count") ++
      GuardLabels.map(l => s"guard.drop_frac.$l" -> "fraction") ++ Seq(
      "spark.executor_run_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.max_task_s" -> "s", "spark.jobs" -> "count") ++
      Layers.map(l => s"self_s.$l" -> "s") ++ Seq(
      "trace.overhead_frac" -> "fraction", "trace.spans" -> "count", "failed_frac" -> "fraction")

  def endToEnd(passes: Seq[PassResult], setupS: Double, heapMb: Double,
      attempted: Int, failed: Int): Seq[(String, Double, String)] = {
    val v = Map(
      "work_per_s" -> Stats.median(passes.map(p => p.units / p.wallS)),
      "op_s_p50" -> Stats.pct(passes.flatMap(_.ops.map(_._2)), 0.5).value,
      "heap_live_p75_mb" -> heapMb,
      "ok_frac" -> (1.0 - failed.toDouble / math.max(1, attempted)),
      "setup_s" -> setupS)
    EndToEnd.map { case (n, u) => (n, v(n), u) }
  }

  /** Layer figures of one traced pass: Spark jobs by crawler step, job spans
    * hung under the benchmark span that was open when each job started, and
    * self time per layer.
    */
  def passLayers(r: PassResult, jobs: Vector[JobRec], tracer: Tracer, spanFrom: Int): Map[String, Double] = {
    val spans = tracer.all.drop(spanFrom)
    val window = spans.find(s => s.layer == "pipeline" && s.name == "crawl")
      .orElse(spans.find(_.layer == "pass")).map(s => (s.startNs, s.endNs))
      .getOrElse((Long.MinValue, Long.MaxValue))
    val in = jobs.filter(j => j.startNs >= window._1 && j.startNs <= window._2)
    val stepS = CrawlSteps.map { case (step, _) =>
      step -> Stats.unionLength(in.filter(_.step == step).map(j => (j.startNs, j.endNs))) / 1e9
    }.toMap
    val isCrawl = spans.exists(_.name == "runRound")
    val rounds = r.layer.getOrElse("crawl.rounds", 0.0)
    val exec = in.map(_.execRunMs).sum.toDouble
    val attributedExec = in.filter(j => stepS.contains(j.step)).map(_.execRunMs).sum.toDouble

    // job spans: children of the innermost benchmark span open at job
    // start; concurrent jobs of one layer under one parent merge into one
    // span, so a layer's self time is wall time, not summed job time
    val stepLayer = CrawlSteps.toMap
    in.flatMap { j =>
      val layer = stepLayer.get(j.step).orElse(
        if (j.step.startsWith("graft.")) Some(j.step.stripPrefix("graft.").stripSuffix("$")) else None)
      val parent = spans.filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
        .sortBy(-_.startNs).headOption
      for (l <- layer if Layers.contains(l); p <- parent)
        yield (p, l, (j.startNs, math.min(math.max(j.endNs, j.startNs), p.endNs)))
    }.groupBy(x => (x._1.id, x._2)).foreach { case ((pid, l), xs) =>
      Stats.merge(xs.map(_._3)).foreach { case (a, b) => tracer.add(pid, l, l, a, b) }
    }
    val self = tracer.selfSeconds(tracer.all.drop(spanFrom))

    val crawlFigures =
      if (!isCrawl) Map.empty[String, Double]
      else CrawlSteps.map { case (s, _) => s"crawl.${s}_s" -> stepS(s) }.toMap ++ Map(
        "crawl.other_s" -> (r.wallS - stepS.values.sum),
        "crawl.jobs_per_round" -> (if (rounds > 0) in.size / rounds else 0.0),
        "crawl.attributed_exec_frac" -> (if (exec > 0) attributedExec / exec else 0.0))
    r.layer ++ crawlFigures ++ Map(
      "spark.executor_run_s" -> exec / 1e3,
      "spark.shuffle_write_mb" -> in.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.spill_mb" -> in.map(_.spillBytes).sum / 1e6,
      "spark.max_task_s" -> (if (in.isEmpty) 0.0 else in.map(_.maxTaskMs).max / 1e3),
      "spark.jobs" -> in.size.toDouble) ++
      Layers.map(l => s"self_s.$l" -> self.getOrElse(l, 0.0)) ++
      (if (isCrawl) Nil else r.ops.map { case (op, s) => s"query.${op}_s" -> s })
  }

  /** Per-layer metrics of a traced run: the median over traced passes of
    * each pass figure, plus the single-layer probes. Layers the workload
    * does not run read 0.
    */
  def layers(plain: Seq[PassResult], traced: Seq[(PassResult, Map[String, Double])],
      probes: Map[String, Double], attempted: Int, failed: Int, spans: Int): Seq[(String, Double, String)] = {
    val keys = traced.flatMap(_._2.keys).distinct
    val med = keys.map(k => k -> Stats.median(traced.flatMap(_._2.get(k)))).toMap
    val opLat = traced.flatMap(_._1.ops.map(_._2))
    val p90 = Stats.pct(opLat, 0.9)
    val overhead = Stats.median(traced.map(_._1.wallS)) / Stats.median(plain.map(_.wallS)) - 1.0
    val v = med ++ probes ++ Map(
      "op_s_p90" -> p90.value, "op_samples" -> p90.n.toDouble,
      "trace.overhead_frac" -> overhead, "trace.spans" -> spans.toDouble,
      "failed_frac" -> failed.toDouble / math.max(1, attempted))
    val all = perLayer
    all.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }
}
