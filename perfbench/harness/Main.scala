package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.perfbench.Bus

/** The benchmark's JVM side: one closed-loop client over
  * `graft.SparkEntry.queries`. Each query is issued only after the
  * previous one finished; every pass visits the workload's queries in an
  * order drawn from the seed. Untimed warm-up passes precede the timed
  * passes. The raw record (every query execution, every pass, the set-up
  * stages and, in a traced run, the per-layer counters and spans) is
  * written as JSON to `--out`; `perfbench/run.py` turns it into metrics.
  *
  * Arguments: --data DIR --queries A,B,.. --seed N --seconds S
  * --warmup-passes N --trace 0|1 --work DIR --out FILE [--max-passes N]
  */
object Main {
  val QueryProp = "perfbench.query"
  val PhaseProp = "perfbench.phase"
  val SpanProp = "perfbench.span"
  val ActionName = "perfbench.action"
  /** Timed passes a run makes at least, whatever `--seconds` says.
    * `run.py` takes the end-to-end metrics over the first MinPasses
    * untraced passes only, so the sample (and the percentile the tail
    * reports) is the same on every run, however fast the passes are. */
  val MinPasses = 4

  final case class Exec(query: String, pass: Int, seconds: Double, buildS: Double,
                        planS: Double, actionS: Double, digest: String, error: String)

  /** Highest heap in use right after a GC, since the last reset. */
  private object HeapAfterGc extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def reset(): Unit = peak = 0L
    def peakMb: Double = peak / 1048576.0
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }

  /** Heap in use after full GCs. Between GCs Spark's cleaner, which polls
    * every 100 ms, drops the blocks of the RDDs and broadcasts the last GC
    * found unreachable; the GCs repeat until one frees less than 2 MB. */
  private def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = used()
    var rounds = 1
    while (prev - cur >= 2 && rounds < 4) {
      Thread.sleep(150)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Time the JIT compiler threads spent compiling. */
  private def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  private def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** local[cores] session, shuffle partitions = cores, every directory
    * Spark writes to under `work`. */
  def session(work: java.io.File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val queries = opt("queries").split(',').toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val warmupPasses = opt("warmup-passes").toInt
    val traceOn = opt("trace") == "1"
    val work = new java.io.File(opt("work"))
    val maxPasses = opts.get("max-passes").map(_.toInt).getOrElse(Int.MaxValue)
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries not registered in graft.SparkEntry: ${unknown.mkString(",")}")
    HeapAfterGc.install()

    val spark = session(work)
    val sc = spark.sparkContext
    val sessionS = (Clock.epochMs - jvmStartMs) / 1000.0

    // open the corpus: read every table's parquet footer
    val c0 = System.nanoTime()
    val dir = opt("data")
    graft.sources.Tables.names.foreach { t =>
      if (new java.io.File(s"$dir/$t.parquet").exists()) spark.read.parquet(s"$dir/$t.parquet").schema
    }
    val corpusS = (System.nanoTime() - c0) / 1e9

    val cores = sc.defaultParallelism
    val tracer = new Tracer
    val execs = mutable.ArrayBuffer.empty[Exec]
    def order(pass: Int): Seq[String] = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    def runQuery(name: String, pass: Int, passSpan: Option[Span]): Exec = {
      val qid = s"p$pass/$name"
      tracer.currentQuery = name
      sc.setLocalProperty(QueryProp, qid)
      val qSpan = passSpan.map(p => tracer.openSpan(p.id, "query", name, qid))
      def phase[T](ph: String)(body: => T): (T, Double) = {
        val s = qSpan.map(q => tracer.openSpan(q.id, ph, s"$name.$ph", qid))
        sc.setLocalProperty(PhaseProp, ph)
        sc.setLocalProperty(SpanProp, s.map(_.id.toString).orNull)
        try timed(body) finally s.foreach(tracer.closeSpan)
      }
      val t0 = System.nanoTime()
      val e =
        try {
          val (df, buildS) = phase("build")(graft.SparkEntry.queries(name)(spark, dir))
          val qe = df.queryExecution
          val (_, planS) = phase("plan")(qe.executedPlan)
          val (digest, actionS) = phase("action") {
            SQLExecution.withNewExecutionId(qe, Some(ActionName))(Fingerprint.of(qe.toRdd, df.schema))
          }
          Exec(name, pass, (System.nanoTime() - t0) / 1e9, buildS, planS, actionS,
            digest.render, "")
        } catch {
          case t: Throwable =>
            Exec(name, pass, (System.nanoTime() - t0) / 1e9, 0, 0, 0, "",
              s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
        } finally {
          Seq(QueryProp, PhaseProp, SpanProp).foreach(sc.setLocalProperty(_, null))
        }
      qSpan.foreach(tracer.closeSpan)
      if (passSpan.isDefined) Bus.drain(sc)
      e
    }

    // warm-up: untimed passes, numbered up to 0, that take the bulk of the
    // JIT compilation out of the timed passes (their results are still checked)
    val w0 = System.nanoTime()
    for (pass <- 1 - warmupPasses to 0) order(pass).foreach(q => execs += runQuery(q, pass, None))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (Clock.epochMs - jvmStartMs) / 1000.0

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val timedStart = System.nanoTime()
    var pass = 1
    def more: Boolean = {
      val elapsed = (System.nanoTime() - timedStart) / 1e9
      val tracedSeen = passes.exists(_("traced") == true)
      pass <= maxPasses && (pass <= MinPasses || elapsed < seconds || (traceOn && !tracedSeen))
    }
    retainedHeapMb() // start the first timed pass from a collected heap
    while (more) {
      val traced = traceOn && (pass % 4 == 2 || pass % 4 == 3)
      if (traced) {
        Bus.drain(sc)
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        tracer.beginPass()
      }
      val passSpan = if (traced) Some(tracer.openSpan(0, "pass", s"pass $pass", s"p$pass")) else None
      HeapAfterGc.reset()
      val cpu0 = cpuSeconds
      val gc0 = gcSeconds
      val jit0 = jitSeconds
      val p0 = System.nanoTime()
      val ord = order(pass)
      ord.foreach(q => execs += runQuery(q, pass, passSpan))
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "traced" -> traced, "order" -> ord,
        "wall_s" -> (System.nanoTime() - p0) / 1e9, "cpu_s" -> (cpuSeconds - cpu0),
        "driver_gc_s" -> (gcSeconds - gc0), "jit_s" -> (jitSeconds - jit0),
        "peak_heap_mb" -> HeapAfterGc.peakMb)
      passSpan.foreach(tracer.closeSpan)
      if (traced) {
        Bus.drain(sc)
        rec("counters") = tracer.passCounters
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      rec("retained_heap_mb") = retainedHeapMb()
      passes += rec.toMap
      pass += 1
    }

    if (traceOn) tracer.writeSpans(new java.io.File(work, s"spans-seed$seed.jsonl"))
    val record = Json.obj(Seq(
      "cores" -> cores,
      "setup" -> Map("session_s" -> sessionS, "corpus_s" -> corpusS,
        "warmup_s" -> warmupS, "setup_s" -> setupS),
      "executions" -> execs.map(e => Map(
        "query" -> e.query, "pass" -> e.pass, "seconds" -> e.seconds, "build_s" -> e.buildS,
        "plan_s" -> e.planS, "action_s" -> e.actionS, "digest" -> e.digest, "error" -> e.error)),
      "passes" -> passes,
      "round_joins" -> tracer.roundJoins.map { case (k, v) => k -> v.toSeq }.toMap))
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.println(record) finally out.close()
    // Every query has finished and the record is on disk; the caller
    // removes the scratch directories, so skip Spark's orderly shutdown.
    Runtime.getRuntime.halt(0)
  }
}
