package graft

import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.{DataFrame, Observation}

/** Dev harness: runs named gates on an arbitrary data dir under
  * [[Bench]]'s session and per-query sizing, so its readings explain the
  * bench. Every gate line prints the initialPartitionNum it ran with.
  *
  * Usage: runMain graft.Harness <mode> <sfDir> ...
  *   - `probe <sfDir> <gate1> [gate2 ...]`: one observed noop pass per
  *     gate; prints wall time, row count and the worst stage skew. Unlike
  *     Bench it does not swallow failures, so it is the sanity check for
  *     a new data dir before trusting Bench numbers on it.
  *   - `plans <sfDir> <outDir> <suffix> <gate1> [gate2 ...]`: writes each
  *     gate's formatted physical plan to `<outDir>/<gate>_<suffix>.txt`,
  *     the before/after plan evidence an optimization commits. The gate
  *     function runs (index-build setup included) but its frame is only
  *     explained, never materialized.
  *   - `profile <sfDir> <gate> [warmups=1]`: after the warm-up passes,
  *     one pass with the job timeline and per-stage task time, bytes and
  *     rows (see [[StageListener.report]]).
  *
  * SPARK_GRAFT_CHECKPOINT_DIR upgrades every Scale.cut in the gates from
  * localCheckpoint to a RELIABLE checkpoint (the cluster deployment's
  * configuration) — the g1/g2 checkpoint-cost A/B runs the same gate
  * with and without it.
  */
object Harness {

  private val usage =
    "usage: Harness probe <sfDir> <gate>... | " +
      "plans <sfDir> <outDir> <suffix> <gate>... | " +
      "profile <sfDir> <gate> [warmups]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val (mode, dir) = (args(0), args(1))
    require(Set("probe", "plans", "profile")(mode), usage)
    val cpus = Session.cpus(32)
    val spark = Session.bench("graft-harness", cpus)
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    val initialFor = Session.sizing(dir, cpus)
    // Bench's sizing for `name`, then the gate's frame
    def gate(name: String): (DataFrame, String) = {
      val n = initialFor(name)
      spark.conf.set(Session.InitialPartitionNum, n.toString)
      (SparkEntry.queries(name)(spark, dir), s"initialPartitionNum=$n")
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val stats = new StageListener

    mode match {
      case "probe" =>
        spark.sparkContext.addSparkListener(stats)
        args.drop(2).zipWithIndex.foreach { case (name, i) =>
          stats.reset()
          // ONE materialization: the row count rides the noop pass as an
          // observed metric, so gates with setup side effects (temp index
          // builds, recall-floor requires) run their setup exactly once.
          val obs = Observation(s"probe_${name}_$i")
          val t0 = System.nanoTime()
          val (df, sized) = gate(name)
          noop(df.observe(obs, count(lit(1)).as("rows")))
          val wall = (System.nanoTime() - t0) / 1e9
          val sk = stats.worst()
            .map { case (mx, med, r) =>
              f" max_task=${mx / 1000.0}%.2f s median=${med / 1000.0}%.2f s " +
                f"ratio=$r%.2f" }
            .getOrElse(" (no >=8-task stage reached 200 ms)")
          val rows = obs.get("rows").asInstanceOf[Long]
          println(f"[probe] $name $sized wall=$wall%.2f s rows=$rows$sk")
        }

      case "plans" =>
        require(args.length >= 5, usage)
        val outDir = java.nio.file.Paths.get(args(2))
        java.nio.file.Files.createDirectories(outDir)
        args.drop(4).foreach { name =>
          val (df, sized) = gate(name)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val file = s"${name}_${args(3)}.txt"
          java.nio.file.Files.write(outDir.resolve(file),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plans] $name $sized wrote $file (${plan.length} chars)")
        }

      case "profile" =>
        val name = args(2)
        val warmups = if (args.length > 3) args(3).toInt else 1
        (1 to warmups).foreach(_ => noop(gate(name)._1))
        spark.sparkContext.addSparkListener(stats)
        val t0 = System.nanoTime()
        val (df, sized) = gate(name)
        noop(df)
        val wall = (System.nanoTime() - t0) / 1e9
        // give the async listener bus a moment to drain before reading
        Thread.sleep(1500)
        println(f"[profile] $name $sized wall=$wall%.2f s")
        stats.report()
    }
    spark.stop()
  }
}
