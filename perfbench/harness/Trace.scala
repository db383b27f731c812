package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job as the benchmark saw it, with the task metrics of the
  * stages that ran for it (stages skipped because their output was reused
  * contribute nothing). */
final class JobRecord(val id: Int, val group: String, val submitMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def durationMs: Long = if (endMs < 0) 0L else endMs - submitMs
}

/** Benchmark-owned listener: records every job under the job group the
  * harness set on the calling thread (`SparkContext.setJobGroup`), so each
  * timed call's jobs are found by key rather than by time window. Events
  * arrive on Spark's listener-bus thread; [[Tracer.barrier]] waits until
  * everything posted before it has been delivered. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageToJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new JobRecord(e.jobId, group.getOrElse(""), e.time)
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jobId <- stageToJob.get(info.stageId); j <- jobs.get(jobId)) {
      j.stages += 1
      j.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  def all: Seq[JobRecord] = synchronized(jobs.values.toVector)
  def inGroup(group: String): Seq[JobRecord] = all.filter(_.group == group)
}

/** In-memory spans with parent links, written out when the run ends. Spans
  * of one operation share its `op` id. Times are wall-clock milliseconds so
  * they line up with the listener's job submission times. */
final class Spans {
  final class Span(val id: Int, val parent: Int, val op: String, val name: String,
                   val startMs: Double, var endMs: Double) {
    def durationMs: Double = endMs - startMs
  }

  private val spans = mutable.ArrayBuffer[Span]()

  /** Wall-clock ms with sub-ms resolution (epoch-anchored nanoTime). */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Record a span whose interval is already known; returns its id. */
  def add(parent: Int, op: String, name: String, startMs: Double, endMs: Double): Int =
    synchronized {
      val id = spans.size + 1
      spans += new Span(id, parent, op, name, startMs, endMs)
      id
    }

  /** Run `f` inside a new span; `f` receives the span id for its children. */
  def span[T](parent: Int, op: String, name: String)(f: Int => T): T = {
    val id = add(parent, op, name, nowMs(), Double.NaN)
    try f(id) finally synchronized(spans(id - 1).endMs = nowMs())
  }

  def all: Seq[Span] = synchronized(spans.toVector)
  def children(id: Int): Seq[Span] = all.filter(_.parent == id)

  /** Duration minus the part covered by direct children (children of one
    * span never overlap here: every traced call is sequential). */
  def selfMs(s: Span): Double = s.durationMs - children(s.id).map(_.durationMs).sum

  def toJson: String = Json.arr(all.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> Json.str(s.op), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "self_ms" -> Json.num(selfMs(s))))
  })
}

/** The traced run's instruments: the job recorder (attached only while
  * tracing), the spans, and job-group scoping for timed calls. */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  private val sc = spark.sparkContext
  val recorder = new JobRecorder
  val spans = new Spans
  private var attached = false
  private var barriers = 0

  def attach(): Unit = if (!attached) { sc.addSparkListener(recorder); attached = true }

  def detach(): Unit = if (attached) { barrier(); sc.removeSparkListener(recorder); attached = false }

  /** Run `f` with every Spark job it submits from this thread tagged `group`. */
  def inGroup[T](group: String)(f: => T): T = {
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
  }

  /** Block until the recorder has seen every event posted so far: run one
    * marker job and wait for its end event (the bus delivers in order). */
  def barrier(): Unit = if (attached) {
    barriers += 1
    val g = s"bench/barrier-$barriers"
    inGroup(g)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!recorder.inGroup(g).exists(_.endMs >= 0) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }
}
