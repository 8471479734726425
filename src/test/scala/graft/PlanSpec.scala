package graft

import org.apache.spark.sql.functions._

/** Physical-plan quality gates: filters and projections must reach the
  * parquet scan (PushedFilters / ReadSchema pruning), small dimension joins
  * must broadcast, top-k must plan as TakeOrderedAndProject — the plans a
  * 100 TB deployment needs, asserted at test scale.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown + column pruning reach the parquet scan") {
    val plan = executed(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .filter($"l_quantity" > 30.0)
        .select($"l_orderkey", $"l_quantity"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("point lookup pushes the equality filter (q40 shape)") {
    // sf0.01: other suites cache sf0.001/documents, which would satisfy
    // this scan from InMemoryRelation and hide the parquet pushdown
    val plan = executed(SparkEntry.queries("q40_point_lookup")(spark, "/root/testdata/sf0.01"))
    assert(plan.contains("EqualTo(doc_id,42)"), plan)
  }

  test("small dimension join broadcasts (no sort-merge shuffle)") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val n = spark.read.parquet(s"$sf/nation.parquet")
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val plan = executed(
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy($"n_name").count())
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = executed(SparkEntry.queries("q02_top_orders")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q07 hot-decile plans as TakeOrderedAndProject (no global window)") {
    val plan = executed(SparkEntry.queries("q07_hot_decile_orders")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q47 decile threshold: a pushed filter, no TakeOrdered of n/10 rows, no sort") {
    // sf0.01: sf0.001 orders may be cached by other suites (InMemoryRelation
    // would hide the parquet pushdown)
    val big = "/root/testdata/sf0.01"
    val orders = spark.read.parquet(s"$big/orders.parquet")
      .select($"o_orderkey", $"o_totalprice")
    val plan = executed(
      ops.Quantiles.topFraction(orders, "o_totalprice", 0.1, relativeError = 0.001))
    assert(!plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("GreaterThanOrEqual(o_totalprice"), plan) // pushed to the scan
  }

  test("q14 page-3 slice: TakeOrdered feeds the window (no full-table sort)") {
    val plan = executed(SparkEntry.queries("q14_orders_page3")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("anti-join plans as a (broadcast) hash join, q04 shape") {
    val plan = executed(SparkEntry.queries("q04_customers_without_orders")(spark, sf))
    assert(plan.contains("LeftAnti"), plan)
  }

  test("q33 ANN probe prunes index partitions (PartitionFilters, not a row filter)") {
    val dim = 64
    val path = tempDir("graft-annplan") + "/emb"
    ops.Similarity.writeIndex(
      spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"), path, dim)
    val q = (0 until dim).map(i => math.sin(i + 1.0))
    val probed = ops.Similarity.indexTopK(spark, path, q, 10, dim)
    val plan = executed(probed)
    // the bucket predicate must resolve at the SOURCE (directory pruning);
    // a post-scan Filter on bucket would mean the whole table is read
    assert(plan.contains("PartitionFilters: [bucket"), plan)
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("bucket#") || scanLine.contains("bucket IN"), scanLine)
    // count the files actually read: must be ≤ the 9 probed buckets' worth,
    // strictly fewer than the full index
    val allBuckets = new java.io.File(path).listFiles().count(_.getName.startsWith("bucket="))
    val probeSet = ops.Similarity.probeBuckets(q, dim).toSet
    assert(probeSet.size < allBuckets,
      s"test vacuous: probe ${probeSet.size} vs $allBuckets buckets")
    assert(probed.count() > 0)
  }

  test("q44 IVF probe prunes cell partitions at the source") {
    val dim = 64
    val path = tempDir("graft-ivfplan") + "/emb"
    ops.Similarity.writeIvfIndex(
      spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"), path, dim)
    val q = (0 until dim).map(i => math.cos(i + 1.0))
    val plan = executed(ops.Similarity.ivfTopK(spark, path, q, 10, dim))
    assert(plan.contains("PartitionFilters: [cell"), plan)
    val nCells = new java.io.File(path).listFiles().count(_.getName.startsWith("cell="))
    assert(ops.Similarity.ivfProbeCells(q, dim, 16, 4, 42L).size < nCells)
  }

  test("span extraction stays whole-stage codegen (no UDF in the path)") {
    val docs = (0 until 30).flatMap { i =>
      val canon = core.UrlCanon.canonicalize(
        fixtures.Fixtures.cleanUrl(fixtures.Fixtures.Hosts(i % 12), i % 4, i))
      parse.PageParser.parse(fixtures.Fixtures.html(canon), canon)
        .map(p => (canon, p.spans))
    }
    val df = spark.createDataset(docs).toDF("doc_id", "spans")
    val plan = executed(df.select(analysis.Sentiment.bodyCol.as("body")))
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"), plan)
  }

  test("dedup family: exchanges and guard drops per operator after an action") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    object H extends AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    // private copies of the two input tables: other suites cache the shared
    // sf0.001 paths, and a cached scan changes which exchanges get reused
    val dir = java.nio.file.Paths.get(tempDir("graft-dedupplan"))
    Seq("documents.parquet", "embeddings.parquet").foreach { t =>
      val src = java.nio.file.Paths.get(s"$sf/$t")
      scala.util.Using.resource(java.nio.file.Files.walk(src)) {
        _.iterator().asScala.foreach(f => java.nio.file.Files.copy(f,
          dir.resolve(t).resolve(src.relativize(f).toString)))
      }
    }
    // the registry configs of the dedup battery, plus the one family member
    // no query runs (embeddingDupPairs, defaults)
    val emb = () => ops.Dedup.embeddingDupPairs(
      spark.read.parquet(s"$dir/embeddings.parquet"), dim = 64)
    val cases = Seq("q29_ngram_jaccard_pairs", "q30_simhash_pairs", "q34_bucketed_neighbors",
        "q36_minhash_lsh_pairs", "q41_simhash_engine_pairs", "q46_ngram_jaccard_engine",
        "q48_simhash128_pairs").map(q => q -> (() => SparkEntry.queries(q)(spark, dir.toString))) :+
      ("embeddingDupPairs" -> emb)
    // (ShuffleExchangeExec, ReusedExchangeExec, guards as (label, total,
    // dropped)). q46 guards after its pinned repartition, so the pair
    // expansion always runs on that exchange (its second side reused);
    // guarding before it let AQE drop the pin whenever the guard join
    // turned into a broadcast join first, giving (5, 2) or (6, 1) by
    // stage-completion order.
    val want = Map[String, (Int, Int, Seq[(String, Long, Long)])](
      "q29_ngram_jaccard_pairs" -> (4, 1, Nil),
      "q30_simhash_pairs" -> (5, 1, Nil),
      "q34_bucketed_neighbors" -> (6, 2, Seq(("bucketedNeighbors", 500L, 0L))),
      "q36_minhash_lsh_pairs" -> (8, 2, Seq(("lshCandidatePairs", 2000L, 0L))),
      "q41_simhash_engine_pairs" -> (4, 2, Seq(("simhashDupPairs", 2000L, 0L))),
      "q46_ngram_jaccard_engine" -> (6, 2, Seq(("ngramJaccardPairs", 26477L, 4630L))),
      "q48_simhash128_pairs" -> (4, 2, Seq(("simhashDupPairs128", 2000L, 0L))),
      "embeddingDupPairs" -> (4, 2, Seq(("embeddingDupPairs", 500L, 0L))))
    ops.Guard.drainDropLedgerDetailed() // clear anything earlier tests left behind
    val got = cases.map { case (name, build) =>
      val tag = s"planshape_$name"
      val df = ops.Guard.withQueryTag(tag)(build())
      df.collect()
      ops.Guard.awaitLedgerQuiescent(quietMs = 1000)
      val guards = ops.Guard.drainDropLedgerDetailed().filter(_.queryTag == tag)
        .map(r => (r.label, r.totalRows, r.droppedRows)).sorted
      val plan = df.queryExecution.executedPlan
      name -> ((H.collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.size,
        H.collectWithSubqueries(plan) { case e: ReusedExchangeExec => e }.size, guards))
    }.toMap
    assert(got == want, got.toSeq.sortBy(_._1).mkString("\n"))
  }
}
