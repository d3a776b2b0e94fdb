package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** One JSON object with the fields in the given order. */
  def obj(fields: (String, Any)*): String =
    mapper.writeValueAsString(scala.collection.immutable.ListMap(fields: _*))
}

/** Records what the benchmark measures, in memory, as JSON lines:
  * spans opened around each call into the engine, and the Spark events
  * (jobs, stages, block updates, SQL plans, stream progress) that
  * `fold.py` attributes to those spans after the run.
  *
  * Each span is its own Spark job group. Jobs also carry the span id in
  * the `perfbench.group` local property, which a stream's execution
  * thread inherits from the thread that started the stream (stream
  * execution overwrites the job group itself), so a job is attributed
  * by the group it was launched under, never by when its events
  * arrived. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val events = new ConcurrentLinkedQueue[String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val openJobs = new ConcurrentHashMap[String, AtomicInteger]()
  private val spans = new AtomicInteger(0)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1000.0

  val GroupKey = "perfbench.group"

  /** Seconds since the epoch, on the monotonic clock. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  def emit(fields: (String, Any)*): Unit = events.add(Json.obj(fields: _*))

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = prop(e.properties, GroupKey)
      jobGroup.put(e.jobId, g)
      openJobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet()
      emit("e" -> "job", "job" -> e.jobId, "group" -> g,
        "exec" -> prop(e.properties, "spark.sql.execution.id"),
        "t" -> now(), "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = Option(jobGroup.remove(e.jobId)).getOrElse("")
      emit("e" -> "job_end", "job" -> e.jobId, "t" -> now(),
        "ok" -> (e.jobResult == JobSucceeded))
      Option(openJobs.get(g)).foreach(_.decrementAndGet())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val tm = i.taskMetrics
      if (tm != null)
        emit("e" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "task_s" -> tm.executorRunTime / 1000.0,
          "shuffle_write" -> tm.shuffleWriteMetrics.bytesWritten,
          "shuffle_read" -> tm.shuffleReadMetrics.totalBytesRead,
          "input" -> tm.inputMetrics.bytesRead)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.ExecutedPlan.of(end).foreach { plan =>
          emit("e" -> "plan", "exec" -> end.executionId.toString,
            "doc_scans" -> Recorder.documentScans(plan))
        }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      emit("e" -> "block", "id" -> b.blockId.name, "t" -> now(), "bytes" -> bytes)
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
      emit("e" -> "stream_batch", "run" -> p.runId.toString, "batch" -> p.batchId,
        "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0,
        "rows" -> p.numInputRows, "ran" -> p.durationMs.containsKey("addBatch"),
        "add_batch_s" -> d("addBatch"), "wal_commit_s" -> d("walCommit"),
        "query_planning_s" -> d("queryPlanning"), "trigger_s" -> d("triggerExecution"))
    }
  })

  /** Runs `body` as a span of `layer`, under its own job group, nested
    * in whatever span the calling thread is in. */
  def span[A](layer: String, name: String, attrs: (String, Any)*)(body: => A): A = {
    val id = "s" + spans.incrementAndGet()
    val keys = Seq(GroupKey, "spark.jobGroup.id", "spark.job.description")
    val saved = keys.map(sc.getLocalProperty)
    val parent = Option(saved.head).getOrElse("")
    sc.setJobGroup(id, s"$layer $name", interruptOnCancel = false)
    sc.setLocalProperty(GroupKey, id)
    val t0 = now()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      emit(Seq[(String, Any)]("e" -> "span", "id" -> id, "parent" -> parent,
        "layer" -> layer, "name" -> name, "t0" -> t0, "t1" -> now(), "ok" -> ok) ++ attrs: _*)
      keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Delivers every pending listener event, then waits until no job
    * started under any group is still running, so a span's counters are
    * complete before they are read. Returns false on timeout. */
  def settle(timeoutS: Double = 60.0): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      org.apache.spark.BusDrain(sc)
      quiet = openJobs.values().stream().allMatch(_.get() <= 0)
      if (!quiet) Thread.sleep(5)
    }
    if (!quiet) emit("e" -> "warning", "what" -> "jobs still running at settle")
    quiet
  }

  def write(path: String): Unit = {
    settle()
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try events.forEach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

object Recorder {

  /** FileScans over a `documents` table in a final physical plan,
    * descending into adaptive stages and subqueries. A reused exchange
    * is not a scan. */
  def documentScans(p: SparkPlan): Int = {
    val own = p match {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName.startsWith("documents")) => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => documentScans(a.executedPlan)
      case q: QueryStageExec => documentScans(q.plan)
      case _ => 0
    }
    own + inner + p.children.map(documentScans).sum + p.subqueries.map(documentScans).sum
  }
}
