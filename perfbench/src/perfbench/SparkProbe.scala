package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters of the Spark jobs run while it is attached: jobs,
  * tasks, input tasks, task run and GC time, shuffle bytes and per-stage
  * task durations. Only the traced run attaches it. Counts accumulate
  * over every attached span.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var inputTasks = 0L
  private var runMs = 0L
  private var gcMs = 0L
  private var shuffleBytes = 0L
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      if (m.inputMetrics.bytesRead > 0) inputTasks += 1
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .+= (m.executorRunTime)
    }
  }

  /** Counters so far, once every posted event is delivered. */
  def snapshot(): SparkProbe.Counts = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      // max / median task run time per stage, weighted by the stage's run
      // time, over the stages that ran more than one task
      val multi = stageTasks.values.filter(_.length > 1).map(_.toSeq)
      val weight = multi.map(_.sum.toDouble).sum
      val skew =
        if (weight <= 0) 0.0
        else multi.map { ts =>
          val med = math.max(1.0, Stats.median(ts.map(_.toDouble)))
          ts.max / med * ts.sum
        }.sum / weight
      SparkProbe.Counts(jobs, tasks, inputTasks, runMs, gcMs, shuffleBytes, skew)
    }
  }

  def attach(): this.type = { spark.sparkContext.addSparkListener(this); this }
  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }
}

object SparkProbe {
  final case class Counts(jobs: Long, tasks: Long, inputTasks: Long, runMs: Long,
      gcMs: Long, shuffleBytes: Long, taskSkew: Double) {
    /** The `spark.*` per-layer metrics over `ops` operations in `wallMs`. */
    def metrics(ops: Int, wallMs: Double, cores: Int): Seq[(String, Double, String)] = Seq(
      ("spark.jobs", jobs.toDouble / ops, "count/op"),
      ("spark.tasks", tasks.toDouble / ops, "count/op"),
      ("spark.input_tasks", inputTasks.toDouble / ops, "count/op"),
      ("spark.core_util", runMs / (wallMs * cores), "ratio"),
      ("spark.gc_share", if (runMs > 0) gcMs.toDouble / runMs else 0.0, "ratio"),
      ("spark.task_skew", taskSkew, "ratio"),
      ("spark.shuffle_mb", shuffleBytes / 1048576.0 / ops, "MB/op"))
  }
}
