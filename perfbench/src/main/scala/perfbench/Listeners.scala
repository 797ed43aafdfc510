package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Reads Spark's public listener buses from outside the engine: the
  * `spark.*` job, stage and task counters, and the `microbatch.*`
  * numbers from each streaming progress event. Jobs, stages and micro-
  * batches also become spans (see [[addSpans]]). */
final class SparkLayers extends SparkListener {
  val jobs, stages, tasks, emptyTasks = new AtomicLong
  val taskRun, taskCpu, schedDelay, gc, shuffleW, shuffleR, spill, output = new DoubleAdder
  /** nanoTime minus epoch time, to place listener timestamps on the span clock */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNs(epochMs: Long): Long = epochMs * 1000000L + clockOffsetNs

  /** A job's key is its streaming batch (`batch-<id>`) or its job group. */
  private final case class Job(key: String, start: Long, var end: Long = -1L)
  private final case class Stage(jobId: Int, name: String, start: Long, end: Long)
  private val jobRecs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageRecs = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val key = prop("streaming.sql.batchId").map("batch-" + _)
      .orElse(prop("spark.jobGroup.id")).getOrElse("")
    jobRecs.put(e.jobId, Job(key, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobRecs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val si = e.stageInfo
    for (s <- si.submissionTime; f <- si.completionTime)
      stageRecs.add(Stage(Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1),
        si.name.takeWhile(_ != ' ').take(40), s, f))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRun.add(m.executorRunTime / 1e3)
      taskCpu.add(m.executorCpuTime / 1e9)
      gc.add(m.jvmGCTime / 1e3)
      shuffleW.add(m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      shuffleR.add(m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      spill.add((m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      output.add(m.outputMetrics.bytesWritten / 1048576.0)
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) emptyTasks.incrementAndGet()
      // scheduler delay as Spark's UI defines it: wall time of the task
      // not spent running, deserializing or serializing its result
      val ti = e.taskInfo
      val other = (ti.finishTime - ti.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      schedDelay.add(math.max(0L, other) / 1e3)
    }
  }

  /** Counter readings; [[metrics]] reports the change between two. */
  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble, "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble, "spark.task_run_s" -> taskRun.sum,
    "spark.task_cpu_s" -> taskCpu.sum, "spark.sched_delay_s" -> schedDelay.sum,
    "spark.gc_s" -> gc.sum, "spark.shuffle_write_mb" -> shuffleW.sum,
    "spark.shuffle_read_mb" -> shuffleR.sum, "spark.spill_mb" -> spill.sum,
    "spark.output_mb" -> output.sum, "empty_tasks" -> emptyTasks.get.toDouble)

  def metrics(from: Map[String, Double], to: Map[String, Double]): Map[String, Double] = {
    val d = to.map { case (k, v) => k -> (v - from(k)) }
    (d - "empty_tasks") + ("spark.empty_task_ratio" -> d("empty_tasks") / math.max(1.0, d("spark.tasks")))
  }

  /** Adds the job and stage spans to `tracer`; a job's parent is the
    * span `parentOf(key, startNs)` returns for its key (0 when none). */
  def addSpans(tracer: Tracer, parentOf: (String, Long) => Long): Unit = {
    val jobSpan = jobRecs.asScala.toSeq.collect { case (id, j) if j.end >= 0 =>
      val sid = tracer.nextId()
      tracer.add(tracer.Span(sid, parentOf(j.key, toNs(j.start)), "spark.job", j.key,
        toNs(j.start), toNs(j.end)))
      id.intValue -> sid
    }.toMap
    stageRecs.asScala.foreach { s =>
      tracer.add(tracer.Span(tracer.nextId(), jobSpan.getOrElse(s.jobId, 0L), "spark.stage", s.name,
        toNs(s.start), toNs(s.end)))
    }
  }
}

/** The `microbatch.*` numbers, from each streaming progress event. */
final class MicroBatches(layers: SparkLayers) extends StreamingQueryListener {
  final case class Batch(id: Long, startNs: Long, rows: Long, triggerMs: Double, addBatchMs: Double,
                         planningMs: Double, walMs: Double)
  private val q = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    q.add(Batch(p.batchId, layers.toNs(java.time.Instant.parse(p.timestamp).toEpochMilli),
      p.numInputRows, ms("triggerExecution"), ms("addBatch"), ms("queryPlanning"), ms("walCommit")))
    ()
  }

  /** Rebuilds one span per micro-batch from its progress timestamp and
    * duration; returns batch id → span id for parenting its jobs. */
  def addSpans(tracer: Tracer): Map[Long, Long] =
    q.asScala.map { b =>
      val sid = tracer.nextId()
      tracer.add(tracer.Span(sid, 0L, "microbatch", s"batch-${b.id}", b.startNs,
        b.startNs + (b.triggerMs * 1e6).toLong, b.id))
      b.id -> sid
    }.toMap

  /** Metrics over the batches that started inside [fromNs, toNs]. */
  def metrics(fromNs: Long, toNs: Long): Map[String, Double] = {
    val bs = q.asScala.toSeq.filter(b => b.startNs >= fromNs && b.startNs <= toNs)
    val trig = bs.map(_.triggerMs)
    Map(
      "microbatch.count" -> bs.size.toDouble,
      "microbatch.rows_p50" -> Stats.median(bs.map(_.rows.toDouble)),
      "microbatch.trigger_ms_p50" -> Stats.median(trig),
      // 10–50 batches in a run: too few for a p99 with 10 samples beyond it
      "microbatch.trigger_ms_max" -> trig.maxOption.getOrElse(0.0),
      "microbatch.add_batch_ms_p50" -> Stats.median(bs.map(_.addBatchMs)),
      "microbatch.planning_ms_sum" -> bs.map(_.planningMs).sum,
      "microbatch.wal_commit_ms_sum" -> bs.map(_.walMs).sum,
      "microbatch.busy_ratio" -> trig.sum * 1e6 / math.max(1L, toNs - fromNs),
      "microbatch.empty_ratio" -> bs.count(_.rows == 0).toDouble / math.max(1, bs.size))
  }
}
