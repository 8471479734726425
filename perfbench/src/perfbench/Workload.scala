package perfbench

import org.apache.spark.sql.SparkSession

/** What one pass over a workload's operations produced. */
final case class PassResult(
    wallS: Double,           // timed wall of the pass
    units: Long,             // work units: URLs scheduled, or operations run
    ops: Seq[(String, Double)], // per-operation latency (crawl: per round)
    attempted: Int,
    failed: Int,
    layer: Map[String, Double] = Map.empty) // per-pass layer figures (crawl funnel etc.)

/** Per-layer figures of a traced run's probes, with the operations they ran. */
final case class Probes(metrics: Map[String, Double], attempted: Int, failed: Int)

/** Shared context of one benchmark process. */
final class Ctx(
    val spark: SparkSession,
    val work: java.nio.file.Path,   // this run's scratch dir inside the checkout
    val seed: Long,
    val nproc: Int,
    val tracer: Tracer,
    val sites: CallSites,
    val golden: Golden) {
  private var k = 0
  def freshDir(prefix: String): String = synchronized {
    k += 1
    val d = work.resolve(s"$prefix-$k"); java.nio.file.Files.createDirectories(d.getParent); d.toString
  }
}

trait Workload {
  def name: String
  /** Builds this workload's inputs (untimed part of one set-up). */
  def prepare(): Unit
  /** One pass over the workload's operations. */
  def pass(): PassResult
  /** The first, cold pass of a run; it also records output fingerprints. */
  def warm(): PassResult = pass()
  /** Checks every output fingerprint recorded during the run against the
    * expected one; returns how many operation runs must count as failed.
    */
  def verify(): Int
  /** Figures only a traced run reports (probes of single layers). */
  def layerProbes(): Probes
  def cleanup(): Unit = ()
}

object Workload {
  def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s.close()
    }
  }

  /** (files, bytes) under a directory. */
  def treeSize(p: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        val fs = s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toVector
        (fs.size.toLong, fs.map(java.nio.file.Files.size).sum)
      } finally s.close()
    }
  }
}

/** Committed output fingerprints, one flat JSON file per workload. */
final class Golden(dir: java.nio.file.Path) {
  private val cache = scala.collection.mutable.Map.empty[String, Map[String, String]]
  def get(workload: String): Map[String, String] = synchronized {
    cache.getOrElseUpdate(workload, {
      val f = dir.resolve(s"$workload.json")
      if (java.nio.file.Files.exists(f)) Json.readFlat(java.nio.file.Files.readString(f)) else Map.empty
    })
  }
}
