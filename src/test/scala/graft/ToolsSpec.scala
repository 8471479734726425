package graft

import graft.tools.BenchExtra
import org.scalatest.funsuite.AnyFunSuite

/** Driver-free checks of the tool mains' argument handling and of the
  * configuration surface the main code reads.
  */
class ToolsSpec extends AnyFunSuite {
  private val allQueries = SparkEntry.queries.keys.toSeq.sorted

  test("BenchExtra args: flags before or after names, valued flags, all") {
    val q = "q29_ngram_jaccard_pairs"
    assert(BenchExtra.parse(Seq("--count", q)) == BenchExtra.Args(Seq(q), count = true))
    assert(BenchExtra.parse(Seq(q, "--count")) == BenchExtra.Args(Seq(q), count = true))
    assert(BenchExtra.parse(Seq("--plans", "/p", q)) ==
      BenchExtra.Args(Seq(q), plansDir = Some("/p")))
    assert(BenchExtra.parse(Seq(q, "--reps", "3", "crawl")) ==
      BenchExtra.Args(Seq(q, "crawl"), reps = 3))
    assert(BenchExtra.parse(Seq("all", "--reps", "2")) == BenchExtra.Args(allQueries, reps = 2))
    assert(BenchExtra.parse(Seq("--count")).targets == allQueries)
    assert(BenchExtra.parse(Seq("crawl")).targets == Seq("crawl"))
    intercept[IllegalArgumentException](BenchExtra.parse(Seq("q99_nope")))
    intercept[IllegalArgumentException](BenchExtra.parse(Seq(q, "--plans")))
  }

  test("BenchExtra total: a query with a failed rep is reported, not summed") {
    val (total, failed) = BenchExtra.minOfRepsTotal(Seq(
      "a" -> Seq(Some(2.0), Some(1.0)), "b" -> Seq(Some(0.5), None), "c" -> Seq(Some(3.0))))
    assert(total == 4.0)
    assert(failed == Seq("b"))
  }

  test("BenchExtra JSON lines: crawl rep with its stage map, query rep null when failed") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val crawl = mapper.readTree(BenchExtra.crawlRepJson(2, 1000L, 4.0,
      Seq("r0 sequencer" -> 0.5, "r0 commit-tables" -> 1.25)))
    assert(crawl.get("target").asText == "crawl" && crawl.get("rep").asInt == 2)
    assert(crawl.get("urls").asLong == 1000L && crawl.get("seconds").asDouble == 4.0)
    assert(crawl.get("urls_per_s").asDouble == 250.0)
    val stages = crawl.get("stage_s")
    assert(stages.size == 2 && stages.get("r0 sequencer").asDouble == 0.5 &&
      stages.get("r0 commit-tables").asDouble == 1.25)
    val ok = mapper.readTree(BenchExtra.queryRepJson("q29_ngram_jaccard_pairs", 1, Some(1.5)))
    assert(ok.get("target").asText == "q29_ngram_jaccard_pairs" && ok.get("rep").asInt == 1)
    assert(ok.get("seconds").asDouble == 1.5)
    val failed = mapper.readTree(BenchExtra.queryRepJson("q\"x", 3, None))
    assert(failed.get("target").asText == "q\"x" && failed.get("seconds").isNull)
  }

  test("main code reads exactly the known env variables and system properties") {
    import scala.jdk.CollectionConverters._
    val Read = """(?:sys\.(?:env|props)|System\.(?:getenv|getProperty))\b[^"\n]*"([^"]+)"""".r
    val Use = """sys\.(?:env|props)|System\.(?:getenv|getProperty)""".r
    val lines = scala.util.Using.resource(java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main/scala"))) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    }.flatMap(p => java.nio.file.Files.readAllLines(p).asScala)
    val names = lines.flatMap { l =>
      val named = Read.findAllMatchIn(l).map(_.group(1)).toSeq
      assert(named.size == Use.findAllMatchIn(l).size, s"read without a literal name: $l")
      named
    }
    assert(names.toSet == Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_BENCH_SEEDS", "SPARK_LOCAL_DIRS", "graft.guard.telemetry"))
  }
}
