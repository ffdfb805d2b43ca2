package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level totals of one measured window, read off Spark's own task
  * metrics. Times are seconds, sizes bytes.
  */
final case class SparkWindow(
    jobs: Int,
    stages: Int,
    tasks: Int,
    inputBytes: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    outputBytes: Long,
    taskRunS: Double,
    taskCpuS: Double,
    taskDeserS: Double,
    gcS: Double,
    /** Task durations (s) of the stage with the most task run time. */
    kernelStageTasks: Seq[Double],
    /** (call site, wall seconds) of every job in the window. */
    jobWalls: Seq[(String, Double)])

/** SparkListener the benchmark registers; `window` brackets one measured
  * piece of work and returns what Spark did for it.
  */
final class SparkMetrics(sc: SparkContext) extends SparkListener {
  import SparkMetrics.TaskRec

  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val jobWalls = mutable.ArrayBuffer.empty[(String, Double)]
  private var jobs = 0
  private var stages = 0

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    // The result stage is named after the job's call site ("parquet at X.scala:N").
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStart(e.jobId) = (site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (site, t0) => jobWalls += ((site, (e.time - t0) / 1e3)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val rec = TaskRec(e.stageId, e.taskInfo.duration / 1e3, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.executorDeserializeTime / 1e3, m.jvmGCTime / 1e3,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.outputMetrics.bytesWritten)
    synchronized { tasks += rec }
  }

  private def reset(): Unit = synchronized {
    tasks.clear(); jobWalls.clear(); jobs = 0; stages = 0
  }

  /** Runs `body` and returns what Spark recorded while it ran. */
  def window[T](body: => T): (T, SparkWindow) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    reset()
    val out = body
    org.apache.spark.PerfbenchBus.drain(sc)
    (out, snapshot())
  }

  private def snapshot(): SparkWindow = synchronized {
    val ts = tasks.toSeq
    val kernel =
      if (ts.isEmpty) Nil
      else ts.groupBy(_.stage).values.maxBy(_.map(_.runS).sum).map(_.durS)
    SparkWindow(jobs, stages, ts.length, ts.map(_.in).sum, ts.map(_.shW).sum,
      ts.map(_.shR).sum, ts.map(_.out).sum, ts.map(_.runS).sum, ts.map(_.cpuS).sum,
      ts.map(_.deserS).sum, ts.map(_.gcS).sum, kernel, jobWalls.toSeq)
  }
}

object SparkMetrics {
  private final case class TaskRec(stage: Int, durS: Double, runS: Double, cpuS: Double,
                                   deserS: Double, gcS: Double, in: Long, shW: Long,
                                   shR: Long, out: Long)
}
