package graft.tools

import org.apache.spark.sql.SparkSession

/** A/B cost measurement for the default-on guard telemetry: run the full
  * SparkEntry battery with `-Dgraft.guard.telemetry` alternating on/off
  * inside ONE JVM (interleaved pairs, min per mode — the same defense
  * against host noise as ScalingBench). The delta of the minima bounds
  * what the CollectMetrics nodes + QueryExecutionListener cost a real
  * battery; expectation is ~0 (the observe aggregation rides an existing
  * tiny intermediate, the listener only reads already-materialized rows).
  *
  * Usage: runMain graft.tools.GuardAbBench [pairs] [cores]
  */
object GuardAbBench {
  def main(args: Array[String]): Unit = {
    val pairs = args.lift(0).map(_.toInt).getOrElse(2)
    val cpus = args.lift(1).map(_.toInt).getOrElse(32)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession(cpus)

    // warm-up: JIT, codegen caches, parquet footers, the stored ANN
    // indexes (all identical to graft.Bench's untimed prep)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    for (indexed <- Seq("q33_lsh_topk", "q44_ivf_topk"))
      try graft.SparkEntry.queries(indexed)(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[guard-ab] prebuild $indexed: $e") }
    // one throwaway battery so first-run page provisioning lands on
    // neither mode
    runBattery(spark, sfDir)

    def mode(on: Boolean): String = if (on) "on" else "off"
    val times = scala.collection.mutable.Map("on" -> Vector.empty[Double],
      "off" -> Vector.empty[Double])
    val flags = scala.collection.mutable.Map("on" -> Vector.empty[Boolean],
      "off" -> Vector.empty[Boolean])
    for (p <- 0 until pairs; on <- Seq(true, false)) {
      if (on) sys.props -= "graft.guard.telemetry"
      else sys.props("graft.guard.telemetry") = "off"
      val sampler = new NoiseSampler()
      val t0 = System.nanoTime()
      runBattery(spark, sfDir)
      val sec = (System.nanoTime() - t0) / 1e9
      val noise = sampler.stop()
      val flagged = noise.flaggedVsIdle(NoiseSampler.CleanHostFloor,
        medianFrac = 0.80, p25Frac = 0.50)
      times(mode(on)) :+= sec
      flags(mode(on)) :+= flagged
      println(f"[guard-ab] pair $p mode=${mode(on)} battery=$sec%.2fs " +
        s"flagged=$flagged inrun=${noise.json(flagged)}")
    }
    sys.props -= "graft.guard.telemetry" // leave the JVM default-on
    val minOn = times("on").min
    val minOff = times("off").min
    def arr(xs: Vector[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    println(f"""{"metric":"guard_telemetry_overhead","battery_min_on_sec":$minOn%.2f,""" +
      f""""battery_min_off_sec":$minOff%.2f,"delta_sec":${minOn - minOff}%.2f,""" +
      f""""delta_frac":${(minOn - minOff) / minOff}%.4f,""" +
      s""""on_secs":${arr(times("on"))},"off_secs":${arr(times("off"))},""" +
      s""""on_flagged":${flags("on").mkString("[", ",", "]")},""" +
      s""""off_flagged":${flags("off").mkString("[", ",", "]")},""" +
      s""""pairs":$pairs,"sf":"$sfDir","cores":$cpus}""")
    spark.stop()
  }

  private def runBattery(spark: SparkSession, sfDir: String): Unit =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      graft.ops.Guard.withQueryTag(name) {
        try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      }
    }
}
