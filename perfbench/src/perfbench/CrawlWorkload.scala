package perfbench

import graft.core.{CrawlConfig, SeedRecord, UrlCanon}
import graft.fetch.{HostClock, SyntheticFetcher}
import graft.fixtures.Fixtures
import graft.frontier.DistBloomBank
import graft.oracle.SequentialOracle
import graft.parse.PageParser
import graft.pipeline.{Candidate, Crawler}
import graft.snapshot.SnapshotStore
import org.apache.spark.sql.Dataset

/** A crawl workload: `seeds` bench-frontier seeds (`Fixtures.benchSeed`, the
  * fixture seed is the run's `--seed`) crawled for `rounds` rounds with the
  * snapshot commit on. One pass is one complete crawl into a fresh store.
  */
final case class CrawlShape(seeds: Int, postRange: Int, hosts: Int, rounds: Int,
    collapseEvery: Int, saltFactor: Int)

object CrawlShape {
  /** Seen-heavy: the seeds sit on the same per-host 4,000-URL page space
    * that outlinks stay on (one long-tail host plus the two hot hosts), so
    * round 0 fetches and commits the 8x-body pages and round 1's candidates
    * are mostly already seen: the bloom probe, the exact anti-join and the
    * seen-chain collapse with its bank rebuild (`collapseEvery = 1`) all run.
    */
  val Saturate = CrawlShape(seeds = 4000, postRange = 1000, hosts = 1, rounds = 2,
    collapseEvery = 1, saltFactor = 32)
}

/** Order-sensitive crawl fingerprint. */
final case class CrawlPrint(crawlLog: String, seen: String, status: String, urls: Long) {
  def fields: Seq[(String, String)] =
    Seq("crawl_log" -> crawlLog, "seen" -> seen, "status" -> status, "urls" -> urls.toString)
}

object CrawlPrint {
  def of(log: Seq[(Int, Long, String, String)], seen: Seq[(Long, String)]): CrawlPrint = {
    val l = log.sortBy(x => (x._1, x._2))
    val status = l.groupBy(_._4).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(";")
    CrawlPrint(
      Fingerprint.sha(l.iterator.map { case (r, s, u, st) => s"$r\t$s\t$u\t$st" }),
      Fingerprint.sha(seen.sortBy(_._1).iterator.map(_._2)), status, l.size.toLong)
  }
}

final class CrawlWorkload(val name: String, shape: CrawlShape, ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark

  val config: CrawlConfig = CrawlConfig(maxRounds = shape.rounds, seenPartitions = ctx.nproc,
    saltFactor = shape.saltFactor, bloomExpectedPerPartition = 2000000L,
    collapseEvery = shape.collapseEvery, persistRounds = true, eagerCheckpointFree = true)

  private def seedRecord(i: Long): SeedRecord =
    Fixtures.benchSeed(i, postRange = shape.postRange, nHosts = shape.hosts, seed = ctx.seed)

  private var seeds: Dataset[SeedRecord] = _
  private val prints = scala.collection.mutable.ArrayBuffer.empty[CrawlPrint]
  private var lastStore: Option[String] = None
  def lastPrint: Option[CrawlPrint] = prints.lastOption

  def prepare(): Unit = {
    val sr = shape; val s = ctx.seed
    seeds = spark.range(shape.seeds.toLong)
      .map(i => Fixtures.benchSeed(i, postRange = sr.postRange, nHosts = sr.hosts, seed = s))
  }

  def pass(): PassResult = {
    val store = ctx.freshDir("store")
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long)] // wall, scheduled, candidates
    var failed = 0
    val crawler = tr.span("pipeline", "crawl") {
      val c = new Crawler(spark, config, store)
      var cands: Dataset[Candidate] = tr.span("pipeline", "seedCandidates") { c.seedCandidates(seeds) }
      var nCands = shape.seeds.toLong
      var round = 0
      var have = true
      try while (round < shape.rounds && have) {
        val r0 = System.nanoTime()
        val before = c.totalScheduled
        val (next, n) = tr.span("pipeline", s"runRound") { c.runRound(round, cands) }
        rounds += (((System.nanoTime() - r0) / 1e9, c.totalScheduled - before, nCands))
        cands = next; nCands = n; have = n > 0; round += 1
      } catch { case e: Throwable =>
        failed = 1
        System.err.println(s"[perfbench] crawl failed: $e")
      }
      c
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (failed == 0) prints += fingerprint(store)
    val (files, bytes) = Workload.treeSize(store)
    lastStore.foreach(Workload.deleteTree)
    lastStore = Some(store)
    val urls = crawler.totalScheduled
    val tail = rounds.filter(_._2 < 0.01 * urls).map(_._1)
    PassResult(wall, urls, rounds.zipWithIndex.map { case (r, i) => s"round$i" -> r._1 }.toSeq,
      attempted = 1, failed = failed,
      layer = Map(
        "snapshot.files_written" -> files.toDouble,
        "snapshot.bytes_written" -> bytes.toDouble,
        "snapshot.bytes_per_url" -> (if (urls > 0) bytes.toDouble / urls else 0.0),
        "frontier.new_frac" -> rounds.map(_._2).sum.toDouble / math.max(1L, rounds.map(_._3).sum),
        "crawl.tail_round_s" -> (if (tail.isEmpty) 0.0 else Stats.median(tail.toSeq)),
        "crawl.rounds" -> rounds.size.toDouble))
  }

  /** Fingerprint of a committed store: crawl_log (round, seq, canonUrl,
    * status) in crawl order, the seen set in schedule order, status counts.
    */
  def fingerprint(storeDir: String): CrawlPrint = {
    val store = new SnapshotStore(storeDir)
    val log = store.read(spark, "crawl_log").map(_.select("round", "seq", "canonUrl", "status")
      .as[(Int, Long, String, String)].collect().toSeq).getOrElse(Seq.empty)
    val seen = store.read(spark, "seen").map(_.select("seq", "canonUrl")
      .as[(Long, String)].collect().toSeq).getOrElse(Seq.empty)
    CrawlPrint.of(log, seen)
  }

  /** The expected fingerprint, from the committed golden file when it holds
    * this seed, else from the sequential oracle (same fixture seeds, same
    * config; the oracle has no salt lanes, which only pace fetches and do
    * not change what is scheduled or its status on these fixtures).
    */
  def expected(): CrawlPrint = {
    val g = ctx.golden.get(name)
    val k = s"seed.${ctx.seed}."
    if (g.contains(k + "crawl_log"))
      CrawlPrint(g(k + "crawl_log"), g(k + "seen"), g(k + "status"), g(k + "urls").toLong)
    else oracle()
  }

  def oracle(): CrawlPrint = {
    val res = SequentialOracle.run((0L until shape.seeds.toLong).map(seedRecord), config)
    CrawlPrint.of(res.crawlLog.map(e => (e.round, e.seq, e.canonUrl, e.status)),
      res.seen.zipWithIndex.map { case (u, i) => (i.toLong, u) })
  }

  def verify(): Int = {
    val want = expected()
    val bad = prints.count(_ != want)
    if (bad > 0) System.err.println(s"[perfbench] $name: $bad crawl(s) differ from the expected " +
      s"fingerprint ${want.fields} — first got ${prints.find(_ != want).map(_.fields)}")
    bad
  }

  /** Single-layer probes: parse and fetch on one thread over this seed's
    * pages; the bloom bank of the last crawl probed with held-out URLs that
    * were never crawled (realised false-positive rate); the analysis call and
    * the Dashboard endpoints over the last crawl's snapshot.
    */
  def layerProbes(): Probes = {
    val urls = (0L until 400L).map(i => UrlCanon.canonicalize(seedRecord(i).url))
    val (fetchRate, parseRate) = CrawlWorkload.fetchParseRates(urls)
    val store = lastStore.get
    val bank = {
      val st = new SnapshotStore(store)
      st.latestRound().flatMap(r => DistBloomBank.load(spark, st.bloomPath(r)))
    }
    val frontier = bank.map { b =>
      val held = spark.range(50000L).map(i => s"https://holdout${i % 97}.example.invalid/board/0/post/$i")
        .toDF("canon")
      val t0 = System.nanoTime()
      val flagged = ctx.tracer.span("frontier", "probe") {
        DistBloomBank.probe(held, "canon", b, "maybe").filter($"maybe").count()
      }
      Map("frontier.probe_s" -> (System.nanoTime() - t0) / 1e9,
        "frontier.fpp_realized" -> flagged / 50000.0)
    }.getOrElse(Map.empty)
    val serving = new Serving(ctx, store).probe()
    serving.copy(metrics = serving.metrics ++ frontier ++
      Map("fetch.pages_per_s" -> fetchRate, "parse.pages_per_s" -> parseRate))
  }

  override def cleanup(): Unit = lastStore.foreach(Workload.deleteTree)
}

object CrawlWorkload {
  /** (fetch pages/s, parse pages/s) on one thread: `HostClock.fetchOne` with
    * the synthetic fetcher (which renders the fixture page), then
    * `PageParser.parse` over the fetched pages. Median of three rounds.
    */
  def fetchParseRates(urls: Seq[String]): (Double, Double) = {
    val reps = (0 until 3).map { _ =>
      val clock = new HostClock(1.0, 3)
      val f0 = System.nanoTime()
      val pages = urls.map(u => u -> clock.fetchOne(SyntheticFetcher, u))
      val fetchS = (System.nanoTime() - f0) / 1e9
      val ok = pages.collect { case (u, ("fetched", _, html)) => (u, html) }
      val p0 = System.nanoTime()
      var parsed = 0
      ok.foreach { case (u, html) => if (PageParser.parse(html, u).isDefined) parsed += 1 }
      val parseS = (System.nanoTime() - p0) / 1e9
      (urls.size / fetchS, ok.size / parseS)
    }
    (Stats.median(reps.map(_._1)), Stats.median(reps.map(_._2)))
  }
}
