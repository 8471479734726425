package perfbench

import graft.SparkEntry
import graft.analysis.GameAnalyzer
import graft.fixtures.Fixtures
import graft.ops.Guard
import graft.query.{Dashboard, PostFilters}
import graft.snapshot.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One timed operation: `run` executes it through a noop sink (or, for the
  * analysis call, to completion); `print` recomputes its result and
  * fingerprints it.
  */
final case class Op(name: String, layer: String, run: () => Unit, print: () => String)

object QueryWorkload {
  /** The dedup/similarity bucket self-join family. */
  val DedupJoins: Seq[String] = Seq("q29_ngram_jaccard_pairs", "q30_simhash_pairs",
    "q34_bucketed_neighbors", "q36_minhash_lsh_pairs", "q41_simhash_engine_pairs",
    "q46_ngram_jaccard_engine", "q48_simhash128_pairs", "q50_dup_clusters")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def print(df: DataFrame): String = { val (h, n) = Fingerprint.ofResult(df); s"$h:$n" }

  def sparkEntryOp(q: String, dataDir: String): Op = {
    val fn = SparkEntry.queries(q)
    val spark = org.apache.spark.sql.SparkSession.active
    Op(q, "SparkEntry",
      () => Guard.withQueryTag(q) { noop(fn(spark, dataDir)) },
      () => Guard.withQueryTag(q) { print(fn(spark, dataDir)) })
  }
}

/** The dedup_joins workload: the SparkEntry dedup queries over the tables in
  * `dataDir`, each through a noop sink, in an order the seed picks.
  * A traced run also runs every other SparkEntry query once as a probe.
  */
final class QueryWorkload(val name: String, dataDir: String, ctx: Ctx) extends Workload {
  import QueryWorkload._
  private val runs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private val printed = scala.collection.mutable.Map.empty[String, String]

  val ops: Seq[Op] =
    new scala.util.Random(ctx.seed).shuffle(DedupJoins.map(q => sparkEntryOp(q, dataDir)))

  def prepare(): Unit = ()

  private def loop(body: Op => Unit): PassResult = {
    var failed = 0
    val t0 = System.nanoTime()
    val lat = ops.map { op =>
      val s = System.nanoTime()
      try ctx.tracer.span(op.layer, op.name)(body(op))
      catch { case e: Throwable =>
        failed += 1; System.err.println(s"[perfbench] ${op.name} failed: $e")
      }
      val d = (System.nanoTime() - s) / 1e9
      runs(op.name) += 1
      op.name -> d
    }
    PassResult((System.nanoTime() - t0) / 1e9, ops.size.toLong, lat, ops.size, failed)
  }

  def pass(): PassResult = loop(_.run())

  /** The warm-up pass collects and fingerprints every result. */
  override def warm(): PassResult = loop(op => printed(op.name) = op.print())

  def verify(): Int = {
    val g = ctx.golden.get(name)
    printed.toSeq.map { case (op, got) =>
      val want = g.getOrElse(op, "missing")
      if (got == want) 0
      else {
        System.err.println(s"[perfbench] $op: fingerprint $got, expected $want")
        math.max(1, runs(op))
      }
    }.sum
  }

  /** Every other SparkEntry query, fingerprinted once (checked against the
    * golden file) and then timed once through the noop sink.
    */
  def layerProbes(): Probes = {
    val others = SparkEntry.queries.keys.toSeq.sorted.filterNot(DedupJoins.contains)
      .map(q => sparkEntryOp(q, dataDir))
    val timed = others.map { op =>
      try {
        val p = op.print()
        val t0 = System.nanoTime()
        ctx.tracer.span(op.layer, op.name)(op.run())
        val s = (System.nanoTime() - t0) / 1e9
        printed(op.name) = p; runs(op.name) += 2
        Some(s"query.${op.name}_s" -> s)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: $e"); None
      }
    }
    Guard.awaitLedgerQuiescent(quietMs = 300, deadlineMs = 5000)
    val guard = Guard.drainDropLedgerDetailed().groupBy(_.label)
      .map { case (l, rs) => s"guard.drop_frac.$l" -> rs.map(_.fraction).max }
    // fingerprint mismatches of these queries are counted by verify()
    Probes(timed.flatten.toMap ++ guard, attempted = 2 * others.size, failed = timed.count(_.isEmpty))
  }

  /** Expected fingerprints of every SparkEntry query, for the golden file. */
  def prints(): Seq[(String, String)] =
    SparkEntry.queries.keys.toSeq.sorted.map(q => q -> sparkEntryOp(q, dataDir).print())
}

/** The analysis call and the Dashboard endpoints over a committed crawl
  * snapshot; the seed picks the endpoint parameters. Run as a layer probe
  * of the crawl workload, on the store its last crawl committed.
  */
object Serving {
  val OpNames: Seq[String] = Seq("analysis_analyze", "dashboard_games", "dashboard_stats",
    "dashboard_post_by_url", "dashboard_negative_posts", "dashboard_paginate", "dashboard_filtered")
}

final class Serving(ctx: Ctx, storeDir: String) {
  private val spark = ctx.spark
  val variant: Int = Math.floorMod(ctx.seed, 4L).toInt

  private def view(): DataFrame = ctx.tracer.span("snapshot", "read") {
    Dashboard.postsView(new SnapshotStore(storeDir).read(spark, "docs").get)
  }

  private lazy val docIds: IndexedSeq[String] =
    new SnapshotStore(storeDir).read(spark, "docs").get.select("doc_id").collect()
      .map(_.getString(0)).sorted.toIndexedSeq
  private lazy val now: java.sql.Timestamp =
    new SnapshotStore(storeDir).read(spark, "docs").get.agg(max("created_at")).head().getTimestamp(0)
  private val gameId = Fixtures.Keywords(variant % Fixtures.Keywords.length)

  private val filters: PostFilters = variant match {
    case 0 => PostFilters(gameIds = Seq("lostark"), minViews = Some(1000))
    case 1 => PostFilters(sites = Seq("steam.example.org", "metacritic.example.org"),
      sentimentLabel = Some("positive"))
    case 2 => PostFilters(startDate = Some(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")),
      endDate = Some(java.sql.Timestamp.valueOf("2024-08-31 23:59:59")), minComments = Some(2))
    case _ => PostFilters(bugOnly = true, sentimentRange = Some((-1.0, 0.2)))
  }

  private val cols = Seq("seq", "doc_id", "keyword", "site", "view_count", "comment_count",
    "sentiment_score", "is_bug").map(col)

  val ops: Seq[(String, String, () => Unit)] = Seq(
    ("analysis_analyze", "analysis", () => { GameAnalyzer.analyze(spark, view(), gameId, now); () }),
    ("dashboard_games", "query", () => QueryWorkload.noop(Dashboard.games(view()))),
    ("dashboard_stats", "query", () => {
      val (_, bySite, byDate) = Dashboard.stats(view())
      QueryWorkload.noop(bySite); QueryWorkload.noop(byDate)
    }),
    ("dashboard_post_by_url", "query", () =>
      QueryWorkload.noop(Dashboard.postByUrl(view(), docIds((variant * 37) % docIds.size)).select(cols: _*))),
    ("dashboard_negative_posts", "query", () =>
      QueryWorkload.noop(Dashboard.negativePosts(view(), Seq(-0.3, -0.1, -0.5, 0.0)(variant)).select(cols: _*))),
    ("dashboard_paginate", "query", () =>
      QueryWorkload.noop(Dashboard.paginatePosts(view(),
        Seq("view_count", "comment_count", "sentiment", "created_at")(variant),
        desc = variant % 2 == 0, offset = 10 * variant + 5, limit = 20).select(cols: _*))),
    ("dashboard_filtered", "query", () =>
      QueryWorkload.noop(Dashboard.applyFilters(view(), filters).select(cols: _*))))
  require(ops.map(_._1) == Serving.OpNames)

  /** Each operation twice; the second, warm run is the one reported. */
  def probe(): Probes = {
    val res = ops.map { case (n, layer, f) =>
      try {
        f()
        val t0 = System.nanoTime()
        ctx.tracer.span(layer, n)(f())
        Some(s"query.${n}_s" -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => System.err.println(s"[perfbench] $n failed: $e"); None }
    }
    Probes(res.flatten.toMap, attempted = 2 * ops.size, failed = res.count(_.isEmpty))
  }
}
