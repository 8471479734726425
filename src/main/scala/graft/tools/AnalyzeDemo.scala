package graft.tools

import graft.analysis.GameAnalyzer
import graft.snapshot.SnapshotStore

/** End-to-end drive of the analysis layer: read a committed crawl store,
  * run the full GameAnalyzer pipeline (sentiment → keywords → clustering →
  * issues → hot/bugs → alerts) and print a one-line JSON summary.
  *
  * Usage: runMain graft.tools.AnalyzeDemo <storeDir> [gameId]
  */
object AnalyzeDemo {
  def main(args: Array[String]): Unit = {
    val storeDir = args(0)
    val gameId = args.lift(1).getOrElse("lostark")
    val spark = ToolSession(8)

    val docs = new SnapshotStore(storeDir).read(spark, "docs")
      .getOrElse(sys.error(s"no committed docs in $storeDir"))
    val maxDate = docs.agg(org.apache.spark.sql.functions.max("created_at"))
      .head().getTimestamp(0)

    val a = GameAnalyzer.analyze(spark, docs, gameId, maxDate)
    val dist = a.sentiment_distribution.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"game_id":"${a.game_id}","posts":${a.total_posts},"comments":${a.total_comments},""" +
      s""""sentiment_avg":${a.sentiment_avg},"distribution":$dist,"issues":${a.issues.size},""" +
      s""""hot_issues":${a.hot_issues.size},"bug_issues":${a.bug_issues.size},""" +
      s""""alerts":${a.alerts.size},"urgent":${a.alerts.count(_.is_urgent)},""" +
      s""""top_issue":"${a.issues.headOption.map(_.title).getOrElse("")}"}""")
    spark.stop()
  }
}
