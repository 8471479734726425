package graft.tools

import graft.core.CrawlConfig
import graft.fixtures.Fixtures
import graft.oracle.SequentialOracle
import graft.pipeline.Crawler

/** End-to-end driveable surface for the crawl engine: run N seeds through
  * the full pipeline (canon → relevance → robots → dedup → politeness →
  * fetch+parse → snapshot commit), then cross-check the committed tables
  * against the sequential oracle and print a summary line.
  *
  * Usage: runMain graft.tools.CrawlDemo [nSeeds] [rounds] [outDir] [cores]
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val nSeeds = args.lift(0).map(_.toInt).getOrElse(500)
    val rounds = args.lift(1).map(_.toInt).getOrElse(2)
    val outDir = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val cores = args.lift(3).map(_.toInt).getOrElse(8)

    val spark = ToolSession(cores)
    import spark.implicits._

    val config = CrawlConfig(maxRounds = rounds, seenPartitions = 16,
      bloomExpectedPerPartition = 1000000L)
    val seeds = Fixtures.seeds(nSeeds)

    val t0 = System.nanoTime()
    new Crawler(spark, config, outDir).run(spark.createDataset(seeds))
    val wallSec = (System.nanoTime() - t0) / 1e9

    val store = new graft.snapshot.SnapshotStore(outDir)
    val log = store.read(spark, "crawl_log").get.cache()
    val total = log.count()
    val fetched = log.filter($"status" === "fetched").count()
    val docs = store.read(spark, "docs").get.count()

    val oracle = SequentialOracle.run(seeds, config)
    val parity = oracle.crawlLog.size == total &&
      oracle.crawlLog.count(_.status == "fetched") == fetched &&
      oracle.docs.size == docs

    println(s"""{"seeds":$nSeeds,"rounds":$rounds,"scheduled":$total,"fetched":$fetched,""" +
      s""""docs":$docs,"wall_sec":$wallSec,"urls_per_sec":${total / wallSec},""" +
      s""""oracle_parity_counts":$parity,"store":"$outDir"}""")
    spark.stop()
  }
}
