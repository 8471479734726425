package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session policy of the tool mains (Bench and Verify keep their
  * own, frozen copies): local[cores], AQE on, UTC, no UI, WARN logging.
  */
object ToolSession {
  def apply(cores: Int): SparkSession = apply(cores, shufflePartitions = cores)

  def apply(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill on tmpfs by default: on a single-disk host the
      // concurrent writers' kernel overhead dwarfs compute (observed 70%
      // system time at high parallelism); a cluster spreads this across
      // executor-local disks
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Delete a tool run's snapshot store (it shares the filesystem with the
    * runs that follow it).
    */
  def deleteTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) {
      _.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
