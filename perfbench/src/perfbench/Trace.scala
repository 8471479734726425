package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One recorded span: a call into a layer, or a Spark job attributed to one. */
final case class SpanRec(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, runId: String)

/** In-memory span recorder. Spans are written by the benchmark around each
  * call it makes into the engine, kept in memory, and written out once when
  * the run ends. Disabled, `span` is a plain call.
  */
final class Tracer(val runId: String) {
  @volatile var enabled: Boolean = false
  private val spans = ArrayBuffer.empty[SpanRec]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized { spans += SpanRec(id, parent, layer, name, t0, t1, runId) }
      }
    }

  /** Adds a finished span (used for listener-derived job spans). */
  def add(parent: Int, layer: String, name: String, t0: Long, t1: Long): Unit = synchronized {
    nextId += 1
    spans += SpanRec(nextId, parent, layer, name, t0, t1, runId)
  }

  def all: Vector[SpanRec] = synchronized { spans.toVector }

  /** Self time per layer: each span's duration minus the part of it covered
    * by its children (children of one span are merged as intervals, so
    * concurrent children are not double-subtracted).
    */
  def selfSeconds(recs: Vector[SpanRec]): Map[String, Double] = {
    val kids = recs.groupBy(_.parent)
    recs.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Vector.empty).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.layer -> math.max(0L, (s.endNs - s.startNs) - covered) / 1e9
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":"${s.runId}"}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** A Spark job as seen by [[JobListener]]. `step` is the engine step that
  * launched it, resolved from the job's call site.
  */
final case class JobRec(jobId: Int, step: String, site: String, startNs: Long, var endNs: Long,
    var execRunMs: Long, var shuffleWriteBytes: Long, var spillBytes: Long, var maxTaskMs: Long,
    var tasks: Int)

/** Attributes every Spark job to the engine step and graft method that
  * launched it, from the job's call site (the long form carries the user
  * frames). Crawler steps are resolved by [[CallSites]]; any other job is
  * labelled by the first graft class on its stack.
  */
final class JobListener(sites: CallSites) extends SparkListener {
  private val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val execSite = scala.collection.concurrent.TrieMap.empty[Long, String]

  // SQL jobs are often submitted from Spark's own thread pools (adaptive
  // execution), so their stage call site shows no user frame; the SQL
  // execution start event carries the call site of the thread that ran the
  // action.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val details = exec.flatMap(execSite.get)
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    val (step, site) = sites.classify(details)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, step, site, Clock.toNanos(e.time), -1L, 0L, 0L, 0L, 0L, 0))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(j => j.synchronized { j.endNs = Clock.toNanos(e.time) })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.synchronized {
        j.execRunMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
        j.tasks += 1
      }
    }
  }

  def snapshot(): Vector[JobRec] = jobs.values.toVector.sortBy(_.jobId)
  def clear(): Unit = { jobs.clear(); stageJob.clear(); execSite.clear() }
}

/** Maps wall-clock millis (listener events) onto the nanoTime axis spans use. */
object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNanos(epochMs: Long): Long = epochMs * 1000000L + offsetNs
}

/** Resolves a job's call site to a crawler step.
  *
  * The Crawler marks its steps with `timed(s"r$round <label>") { ... }`;
  * a job launched from inside one of those blocks takes that label. Jobs
  * launched elsewhere are placed by the graft method on their stack: the
  * snapshot commit and bank save are the commit, Sequencer and the bloom
  * probe (which the sequencer's first pass materialises) the sequencer, the
  * bank build and merge the bloom build. Anything else is named by its first
  * graft package and counts as unattributed (`crawl.other_s`).
  */
final class CallSites(crawlerSource: Seq[String]) {
  private val TimedRe = """timed\(s"r\$round ([a-z-]+)"\)""".r
  val blocks: Seq[(Int, Int, String)] = {
    val out = ArrayBuffer.empty[(Int, Int, String)]
    crawlerSource.zipWithIndex.foreach { case (line, i) =>
      TimedRe.findFirstMatchIn(line).foreach { m =>
        // the block ends where its braces balance again
        var depth = 0; var j = i; var opened = false; var end = -1
        while (end < 0 && j < crawlerSource.length) {
          crawlerSource(j).foreach { c =>
            if (c == '{') { depth += 1; opened = true }
            else if (c == '}') { depth -= 1; if (opened && depth == 0 && end < 0) end = j }
          }
          j += 1
        }
        out += ((i + 1, if (end < 0) i + 1 else end + 1, m.group(1)))
      }
    }
    out.toSeq
  }

  private val StepOf = Map(
    "sequencer" -> "sequencer", "host-state" -> "fetch_parse", "bloom-build" -> "bloom_build",
    "commit-tables" -> "commit", "seen-collapse" -> "collapse", "bank-rebuild" -> "collapse",
    "next-candidates" -> "next_candidates")

  private val ByMethod: Seq[(String, String)] = Seq(
    "graft.snapshot.SnapshotStore.$anonfun$commit" -> "commit",
    "graft.snapshot.SnapshotStore.commit" -> "commit",
    "graft.frontier.DistBloomBank$.save" -> "commit",
    "graft.pipeline.Sequencer$" -> "sequencer",
    "graft.frontier.DistBloomBank$.probe" -> "sequencer",
    "graft.frontier.DistBloomBank$.buildRound" -> "bloom_build",
    "graft.frontier.DistBloomBank$.merge" -> "bloom_build")

  private val FrameRe = """^\s*(?:at\s+)?([\w.$]+)\(([\w.]+):(\d+)\)""".r

  def classify(details: String): (String, String) = {
    val frames = details.split("\n").toSeq.flatMap(l => FrameRe.findFirstMatchIn(l)
      .map(m => (m.group(1), m.group(2), m.group(3).toInt)))
    val graftFrames = frames.filter(_._1.startsWith("graft."))
    val site = graftFrames.headOption.map { case (m, f, l) => s"$m($f:$l)" }.getOrElse("")
    val inBlock = graftFrames.filter(_._2 == "Crawler.scala").flatMap { case (_, _, line) =>
      blocks.find { case (a, b, _) => line >= a && line <= b }.map(b => StepOf.getOrElse(b._3, b._3))
    }.headOption
    val byMethod = graftFrames.iterator.flatMap(f =>
      ByMethod.find(m => f._1.startsWith(m._1)).map(_._2)).nextOption()
    val step = inBlock.orElse(byMethod).getOrElse {
      graftFrames.headOption.map(_._1.split('.').take(2).mkString(".")).getOrElse("other")
    }
    (step, site)
  }
}

object CallSites {
  def fromCheckout(root: java.nio.file.Path): CallSites = {
    val p = root.resolve("src/main/scala/graft/pipeline/Crawler.scala")
    import scala.jdk.CollectionConverters._
    new CallSites(if (java.nio.file.Files.exists(p)) java.nio.file.Files.readAllLines(p).asScala.toSeq
      else Seq.empty)
  }
}
