package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the
  * span that caused this one (0 for a pass), `query` the id shared by
  * every span of one query execution. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      query: String, start: Double, var end: Double)

/** Walks of executed physical plans: adaptive plans are followed into
  * their final plan (or, with `initial`, the plan as first planned,
  * before runtime re-optimization) and query stages, reused exchanges are
  * not entered twice, and codegen wrappers are transparent. */
object PlanWalk {
  def foreach(p: SparkPlan, initial: Boolean = false)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec =>
      foreach(if (initial) a.initialPlan else a.executedPlan, initial)(f)
    case q: QueryStageExec => foreach(q.plan, initial)(f)
    case _: ReusedExchangeExec => ()
    case w: WholeStageCodegenExec => foreach(w.child, initial)(f)
    case i: InputAdapter => foreach(i.child, initial)(f)
    case other =>
      f(other)
      other.children.foreach(foreach(_, initial)(f))
      other.subqueries.foreach(foreach(_, initial)(f))
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = {
    val b = mutable.ArrayBuffer.empty[SparkPlan]
    foreach(p, initial = true)(n => if (n.children.isEmpty) b += n)
    b.toSeq
  }

  /** Planned strategy of every equi-join whose inputs all read
    * materialized frames (checkpointed iterates and adjacency): the
    * round kernel of an iterative loop. The plan is read as first
    * planned, so a runtime demotion of a sort-merge join to a broadcast
    * (small shuffle output) still counts as the sort-merge posture. */
  def roundJoins(p: SparkPlan): Seq[String] = {
    val b = mutable.ArrayBuffer.empty[String]
    foreach(p, initial = true) { n =>
      val kind = n match {
        case _: BroadcastHashJoinExec => "broadcast"
        case _: SortMergeJoinExec => "sort_merge"
        case _: ShuffledHashJoinExec => "shuffled_hash"
        case _ => ""
      }
      if (kind.nonEmpty && n.children.forall(c =>
        leaves(c).forall(_.isInstanceOf[RDDScanExec]))) b += kind
    }
    b.toSeq
  }
}

/** In-memory tracer for the traced passes: a SparkListener (jobs,
  * stages, tasks, storage) and a QueryExecutionListener (every executed
  * plan the session reports). Jobs carry the query id and phase as local
  * properties, so each job span hangs under the harness span that
  * started it. Counters accumulate into the current pass; all state is
  * guarded by the instance lock. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[(Int, Int), Span]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]

  private var pass = mutable.Map.empty[String, Double]
  private val stored = mutable.Map.empty[String, Long]
  private var storedNow = 0L
  private val rddsSeen = mutable.Set.empty[Int]
  @volatile var currentQuery: String = ""
  /** Round-kernel join strategies seen per query name. */
  val roundJoins = mutable.Map.empty[String, mutable.ArrayBuffer[String]]

  private def add(k: String, v: Double): Unit = pass(k) = pass.getOrElse(k, 0.0) + v

  private def newSpan(parent: Long, kind: String, name: String, query: String,
                      start: Double): Span = synchronized {
    val s = Span(nextId, parent, kind, name, query, start, Double.NaN)
    nextId += 1
    spans += s
    s
  }

  def openSpan(parent: Long, kind: String, name: String, query: String): Span =
    newSpan(parent, kind, name, query, Clock.epochMs)

  def closeSpan(s: Span): Unit = synchronized { s.end = Clock.epochMs }

  /** Start a pass: counters reset; stored blocks are tracked from here,
    * so the stored-block peak covers blocks stored during the pass. */
  def beginPass(): Unit = synchronized {
    pass = mutable.Map.empty
    rddsSeen.clear()
    stored.clear()
    storedNow = 0L
  }

  def passCounters: Map[String, Double] = synchronized {
    add("iterates.checkpointed_rdds", rddsSeen.size.toDouble)
    pass.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val parent = scala.util.Try(prop(Main.SpanProp).toLong).getOrElse(0L)
    val s = newSpan(parent, "job", s"job ${e.jobId}", prop(Main.QueryProp), e.time.toDouble)
    jobSpan(e.jobId) = s
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = s)
    add("exec.jobs", 1)
    if (prop(Main.PhaseProp) == "build") add("operators.build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    val t = info.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit(key) = t
    val job = stageJob.get(info.stageId)
    stageSpan(key) = newSpan(job.map(_.id).getOrElse(0L), "stage",
      s"stage ${info.stageId}.${info.attemptNumber()}", job.map(_.query).getOrElse(""),
      t.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    stageSpan.remove(key).foreach(_.end =
      info.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    stageSubmit.remove(key)
    add("exec.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) add("exec.failed_tasks", 1)
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(sub =>
      add("exec.task_wait_s", math.max(0L, e.taskInfo.launchTime - sub) / 1000.0))
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_s", m.executorRunTime / 1000.0)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1000.0)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      storedNow -= stored.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid && size > 0) {
        stored(key) = size
        storedNow += size
        rddsSeen += rdd.rddId
      }
      val mb = storedNow / 1048576.0
      if (mb > pass.getOrElse("iterates.peak_stored_mb", 0.0)) pass("iterates.peak_stored_mb") = mb
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    add("iterates.freed_rdds", 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val plan = qe.executedPlan
      PlanWalk.foreach(plan) { n =>
        add("plans.plan_nodes", 1)
        n match {
          case _: ShuffleExchangeLike => add("plans.exchanges", 1)
          case b: BroadcastExchangeExec =>
            add("plans.exchanges", 1)
            def metric(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
            add("broadcast.bytes", metric("dataSize").toDouble)
            add("broadcast.build_s",
              (metric("collectTime") + metric("buildTime") + metric("broadcastTime")) / 1000.0)
          case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
            add("plans.broadcast_joins", 1)
          case _: SortMergeJoinExec => add("plans.sort_merge_joins", 1)
          case _ =>
        }
      }
      if (funcName != Main.ActionName && currentQuery.nonEmpty)
        roundJoins.getOrElseUpdate(currentQuery, mutable.ArrayBuffer.empty) ++=
          PlanWalk.roundJoins(plan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Spans as JSON lines, each with its self time: the duration minus
    * the part of its interval that its children cover. */
  def writeSpans(path: java.io.File): Unit = synchronized {
    val children = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val end = if (s.end.isNaN) s.start else s.end
      val kids = children.getOrElse(s.id, Nil).filterNot(_.id == s.id)
        .map(k => (math.max(k.start, s.start), math.min(if (k.end.isNaN) k.start else k.end, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var cur = Double.NegativeInfinity
      var curEnd = Double.NegativeInfinity
      kids.foreach { case (a, b) =>
        if (a > curEnd) { if (curEnd > cur) covered += curEnd - cur; cur = a; curEnd = b }
        else curEnd = math.max(curEnd, b)
      }
      if (curEnd > cur) covered += curEnd - cur
      w.println(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "query" -> s.query, "start_ms" -> s.start, "end_ms" -> end,
        "dur_ms" -> (end - s.start), "self_ms" -> (end - s.start - covered))))
    } finally w.close()
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def epochMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
