package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds. `parent` is -1 when
  * the parent is found later by interval containment (Spark jobs and
  * micro-batches arrive on listener threads that do not know which harness
  * span caused them).
  */
final case class Span(id: Long, parent: Long, qid: String, layer: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any])

/** In-memory span recorder for the traced passes. The harness opens the
  * pass / query / construct / exec spans around its own calls; Spark's
  * public listener APIs supply the job, stage, write-planning and
  * micro-batch spans. Nothing is written until the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  // jobId -> (span id, start ms, qid, stage count) until the job ends
  private val openJobs = new ConcurrentHashMap[Int, (Long, Long, String, Int)]()
  // stageId -> span id of the first job that includes the stage
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  // qid -> (planning phases, exchange count) of the write's own QueryExecution
  private val writePlans = new ConcurrentHashMap[String, (Long, Long, Long)]()

  def newId(): Long = nextId.getAndIncrement()

  def record(s: Span): Unit = spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val qid = Option(e.properties).map(_.getProperty(QidKey)).orNull
      val id = newId()
      openJobs.put(e.jobId, (id, e.time, qid, e.stageIds.size))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (id, start, qid, stages) =>
        record(Span(id, -1L, qid, "job", s"job ${e.jobId}", start * 1000, e.time * 1000,
          Map("stages" -> stages)))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      for (start <- i.submissionTime; end <- i.completionTime if m != null) {
        val parent = Option(stageJob.get(i.stageId)).map(_.longValue).getOrElse(-1L)
        record(Span(newId(), parent, null, "stage",
          s"stage ${i.stageId}.${i.attemptNumber()}", start * 1000, end * 1000, Map(
            "tasks" -> i.numTasks,
            "run_ms" -> m.executorRunTime,
            "cpu_ns" -> m.executorCpuTime,
            "gc_ms" -> m.jvmGCTime,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
            "input_bytes" -> m.inputMetrics.bytesRead,
            "input_rows" -> m.inputMetrics.recordsRead)))
      }
    }
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical match {
        case w: OverwriteByExpression if w.writeOptions.contains(QidKey) =>
          val phases = qe.tracker.phases
          val starts = phases.values.map(_.startTimeMs)
          val ends = phases.values.map(_.endTimeMs)
          if (starts.nonEmpty)
            writePlans.put(w.writeOptions(QidKey),
              (starts.min, ends.max, exchanges(qe.executedPlan).toLong))
        case _ => ()
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trigger = d.getOrElse("triggerExecution", 0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators.toSeq
      record(Span(newId(), -1L, null, "microbatch", s"${p.name} batch ${p.batchId}",
        start * 1000, (start + trigger) * 1000, d.toMap ++ Map(
          "stream" -> Option(p.name).getOrElse(""),
          "run_id" -> p.runId.toString,
          "input_rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum)))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(writeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(writeListener)
    spark.streams.removeListener(streamListener)
  }

  /** The planning interval and exchange count of the noop write tagged
    * `qid`. Listener events are delivered asynchronously, so this waits for
    * the write's event (outside any timed interval).
    */
  def awaitWritePlan(qid: String, timeoutMs: Long = 10000): Option[(Long, Long, Long)] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var r = Option(writePlans.remove(qid))
    while (r.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(1)
      r = Option(writePlans.remove(qid))
    }
    r
  }
}

object Tracer {
  /** Local property and write option that tag Spark work with its query. */
  val QidKey = "perfbench.qid"

  /** Shuffle and broadcast exchanges in a final (AQE) physical plan,
    * including those inside query stages and subqueries.
    */
  def exchanges(plan: SparkPlan): Int = {
    val here = plan match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      case _ => 0
    }
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => plan.children ++ plan.subqueries
    }
    here + inner.map(exchanges).sum
  }
}
