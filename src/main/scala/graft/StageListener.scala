package graft

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Per-job and per-stage task statistics since the last [[reset]], read
  * by [[Bench]]'s SPARK_GRAFT_TASKSTATS skew line and by [[Harness]]'s
  * probe and profile modes. One class so a threshold or metric tweak
  * reaches every measurement protocol at once. */
private[graft] final class StageListener extends SparkListener {
  import StageListener.Stage

  private val stages = TrieMap.empty[Int, Stage]
  private val submitted = TrieMap.empty[Int, Long]
  private val jobs = TrieMap.empty[Int, (Long, Long, String)] // id -> (t0, t1, site)

  def reset(): Unit = { stages.clear(); submitted.clear(); jobs.clear() }

  private def stage(id: Int, name: => String): Stage =
    stages.getOrElseUpdate(id, new Stage(name))

  private def stage(info: StageInfo): Stage =
    stage(info.stageId, info.name.linesIterator.next())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.short"))
        .orElse(Option(p.getProperty("spark.job.description")))
        .orElse(Option(p.getProperty("spark.sql.execution.root.id"))
          .map("sqlRoot " + _)))
      .getOrElse("?") + " | stages=" + e.stageInfos.map(si =>
        si.name.linesIterator.next().take(40)).mkString(";").take(120)
    jobs(e.jobId) = (System.nanoTime(), 0L, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { case (t0, _, s) =>
      jobs(e.jobId) = (t0, System.nanoTime(), s) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    submitted(e.stageInfo.stageId) = System.nanoTime()
    stage(e.stageInfo)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo)
    submitted.get(e.stageInfo.stageId).foreach(t0 =>
      s.synchronized { s.wallMs += (System.nanoTime() - t0) / 1000000L })
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.successful) {
      val s = stage(e.stageId, "?")
      s.synchronized {
        s.durations += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.deserMs += m.executorDeserializeTime
          s.gcMs += m.jvmGCTime
          s.runMs += m.executorRunTime
          s.inBytes += m.inputMetrics.bytesRead
          s.inRows += m.inputMetrics.recordsRead
          s.srBytes += m.shuffleReadMetrics.totalBytesRead
          s.swBytes += m.shuffleWriteMetrics.bytesWritten
          s.outRows += m.shuffleWriteMetrics.recordsWritten
          s.spill += m.diskBytesSpilled
        }
      }
    }

  /** (maxTaskMs, medianTaskMs, ratio) of the most skewed ≥8-task stage
    * whose longest task took ≥200 ms. A ratio near 1 means balanced
    * partitions; >>1 is the straggler signature a Zipfian key produces
    * when a plan co-locates a hot key. */
  def worst(): Option[(Long, Long, Double)] =
    stages.values.toSeq
      .map(s => s.synchronized(s.durations.toSeq).sorted)
      .filter(ds => ds.size >= 8 && ds.last >= 200)
      .map { ds =>
        val med = math.max(ds(ds.size / 2), 1L)
        (ds.last, med, ds.last.toDouble / med)
      }
      .sortBy(-_._3).headOption

  /** Job timeline with inter-job gaps (driver planning, eager setup),
    * then the 30 stages with the most task time: the "which operator is
    * the money going to" view the Spark UI would give, as text. */
  def report(): Unit = {
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    val tot = stages.values.map(_.taskMs).sum
    val done = jobs.values.filter(_._2 > 0)
    val jobWall = done.map(j => (j._2 - j._1) / 1e9).sum
    println(f"[profile] total task time ${tot / 1000.0}%.2f s across " +
      s"${stages.size} stages, ${jobs.size} jobs " +
      f"(summed job wall $jobWall%.2f s)")
    val ordered = jobs.toSeq.sortBy(_._1)
    ordered.headOption.foreach { case (_, (f0, _, _)) =>
      var prevEnd = f0
      ordered.foreach { case (id, (t0, t1, site)) =>
        val gap = (t0 - prevEnd) / 1e9
        val w = if (t1 > 0) (t1 - t0) / 1e9 else -1.0
        println(f"[job $id%3d] gap=$gap%6.3fs wall=$w%6.3fs  $site%s")
        if (t1 > 0) prevEnd = math.max(prevEnd, t1)
      }
    }
    stages.toSeq.sortBy(-_._2.taskMs).take(30).foreach { case (id, s) =>
      println(f"[stage $id%4d] task=${s.taskMs / 1000.0}%7.2fs " +
        f"(deser=${s.deserMs / 1000.0}%.2f gc=${s.gcMs / 1000.0}%.2f " +
        f"run=${s.runMs / 1000.0}%.2f) " +
        f"wall=${s.wallMs / 1000.0}%6.2fs n=${s.durations.size}%4d " +
        f"maxTask=${s.maxTaskMs / 1000.0}%5.2fs in=${mb(s.inBytes)}%8sMB/" +
        f"${s.inRows}%d rows sr=${mb(s.srBytes)}%8sMB " +
        f"sw=${mb(s.swBytes)}%8sMB/${s.outRows}%d rows " +
        f"spill=${mb(s.spill)}%s MB  ${s.name.take(90)}")
    }
  }
}

private object StageListener {
  final class Stage(val name: String) {
    val durations = ArrayBuffer.empty[Long]
    var wallMs, deserMs, gcMs, runMs = 0L
    var inBytes, inRows, srBytes, swBytes, outRows, spill = 0L
    def taskMs: Long = durations.sum
    def maxTaskMs: Long = if (durations.isEmpty) 0L else durations.max
  }
}
