package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into an engine layer, made from the benchmark's code.
  * Times are epoch milliseconds. `counters` holds the span's inclusive
  * Spark counters once `Tracer.finish` has run; `attrs` holds counts the
  * benchmark measured around the call (rows offered, files written, ...);
  * `labels` say which query, phase or family the span belongs to.
  */
final class Span(val id: Int, val name: String, val parent: Int, val runId: String, val start: Double) {
  var end: Double = start
  val labels = mutable.LinkedHashMap.empty[String, String]
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val materializeSites = mutable.ArrayBuffer.empty[String]
  /** Call site of every job the span (or a span under it) ran, with counts. */
  val jobSites = mutable.LinkedHashMap.empty[String, Int]
  def seconds: Double = (end - start) / 1000.0
}

/** Outside-in tracer: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener registered by the benchmark, plus spans opened
  * around each call into the engine. Events stay in memory; `finish`
  * attributes them to spans (jobs by job group, falling back to the span
  * open when the job started; tasks through their job; SQL metrics and
  * streaming progress by the span open when they were delivered) and sums
  * them inclusively up the span tree. A span's self time is its duration
  * less the part its child spans cover.
  */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis().toDouble
  def now(): Double = milli0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private final case class Job(id: Int, group: String, site: String, start: Long) {
    var end: Long = start
  }
  private final case class Task(job: Int, launch: Long, finish: Long, runS: Double, gcS: Double,
      waitS: Double, shuffleBytes: Long, spillBytes: Long, inputRows: Long)
  private final case class Plan(at: Double, metrics: Map[String, Double])
  private final case class Progress(at: Double, query: String, batchMs: Double, addBatchMs: Double,
      commitMs: Double, stateRows: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      // the result stage is named after the job's call site ("count at X.scala:12")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
      jobs(e.jobId) = Job(e.jobId, group, site, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      val submitted = stageSubmitted.getOrElse(e.stageId, info.launchTime)
      tasks += Task(
        stageJob.getOrElse(e.stageId, -1), info.launchTime, info.finishTime,
        m.map(_.executorRunTime / 1000.0).getOrElse(0.0),
        m.map(_.jvmGCTime / 1000.0).getOrElse(0.0),
        math.max(0L, info.launchTime - submitted) / 1000.0,
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { plans += Plan(now(), Tracer.planMetrics(qe.executedPlan)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = Option(p.durationMs).map(_.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
          .getOrElse(Map.empty[String, Double])
        progress += Progress(now(), p.id.toString, d.getOrElse("triggerExecution", 0.0),
          d.getOrElse("addBatch", 0.0), d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0),
          p.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Runs `f` inside a span named `name`, under a job group naming the span. */
  def span[A](name: String)(f: Span => A): A = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), runId, now())
    spans += s
    stack.push(s)
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    try f(s)
    finally {
      PerfbenchBus.drain(sc)
      s.end = now()
      stack.pop()
      parent match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def close(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Innermost span whose interval holds time `t`. */
  private def at(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => -s.start).headOption

  private def ownerOfJob(j: Job): Option[Span] =
    if (j.group.startsWith("pb-")) spans.lift(j.group.drop(3).toInt) else at(j.start.toDouble)

  /** Attributes every recorded event to its span, then sums inclusively. */
  def finish(): Unit = Tracer.this.synchronized {
    close()
    val own = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
    def add(s: Span, k: String, v: Double): Unit = {
      val m = own.getOrElseUpdate(s.id, mutable.HashMap.empty)
      m(k) = m.getOrElse(k, 0.0) + v
    }
    val jobOwner = jobs.values.flatMap(j => ownerOfJob(j).map(j.id -> _)).toMap
    for (j <- jobs.values; s <- jobOwner.get(j.id)) {
      add(s, "jobs", 1)
      s.jobSites(j.site) = s.jobSites.getOrElse(j.site, 0) + 1
      if (Tracer.isMaterialize(j.site)) {
        add(s, "materialize.jobs", 1)
        add(s, "materialize.s", (j.end - j.start) / 1000.0)
        s.materializeSites += j.site
      }
    }
    for (t <- tasks; s <- jobOwner.get(t.job)) {
      add(s, "tasks", 1); add(s, "task_s", t.runS); add(s, "gc_s", t.gcS)
      add(s, "sched_wait_s", t.waitS); add(s, "shuffle_bytes", t.shuffleBytes.toDouble)
      add(s, "spill_bytes", t.spillBytes.toDouble); add(s, "input_rows", t.inputRows.toDouble)
    }
    for (p <- plans; s <- at(p.at); (k, v) <- p.metrics) add(s, k, v)
    for (p <- progress; s <- at(p.at)) {
      add(s, "streaming.micro_batches", 1); add(s, "streaming.add_batch_ms", p.addBatchMs)
      add(s, "streaming.commit_ms", p.commitMs)
    }
    // per span: median trigger time and the last reported state size of each stream
    val progressBySpan = progress.groupBy(p => at(p.at).map(_.id).getOrElse(-1))
    val children = spans.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).toSeq.flatMap(c => c +: descendants(c))
    val intervals = tasks.map(t => (t.launch.toDouble, t.finish.toDouble)).sortBy(_._1).toSeq
    for (s <- spans) {
      val tree = s +: descendants(s)
      val sums = mutable.LinkedHashMap.empty[String, Double]
      for (x <- tree; (k, v) <- own.getOrElse(x.id, Map.empty)) sums(k) = sums.getOrElse(k, 0.0) + v
      s.counters ++= sums
      s.counters("uncovered_s") = (s.end - s.start - Tracer.covered(intervals, s.start, s.end)) / 1000.0
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1).toSeq
      s.counters("self_s") = (s.end - s.start - Tracer.covered(kids, s.start, s.end)) / 1000.0
      val prog = tree.flatMap(x => progressBySpan.getOrElse(x.id, Nil))
      if (prog.nonEmpty) {
        s.counters("streaming.batch_p50_ms") = Stats.median(prog.map(_.batchMs))
        s.counters("streaming.state_rows") =
          prog.groupBy(_.query).values.map(_.maxBy(_.at).stateRows.toDouble).sum
      }
      s.materializeSites ++= tree.tail.flatMap(_.materializeSites)
      for (x <- tree.tail; (site, n) <- x.jobSites) s.jobSites(site) = s.jobSites.getOrElse(site, 0) + n
    }
  }
}

object Tracer {
  private val materializeSite = "^(persist|cache|checkpoint|localCheckpoint) at .*".r

  def isMaterialize(callSite: String): Boolean = materializeSite.matches(callSite)

  /** Length of the part of [lo, hi] covered by the sorted intervals. */
  def covered(sorted: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    for ((a, b) <- sorted if b > lo && a < hi) {
      val from = math.max(a, reach)
      val to = math.min(b, hi)
      if (to > from) { total += to - from; reach = to }
    }
    total
  }

  /** The executed plan, with adaptive and reused stages unwrapped once. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Operator-layer SQL metrics of one executed plan, in seconds and bytes. */
  def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val out = mutable.HashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    for (n <- nodes(plan); (name, m) <- n.metrics) {
      val raw = math.max(0L, m.value).toDouble
      val secs = m.metricType match {
        case "timing" => raw / 1e3
        case "nsTiming" => raw / 1e9
        case _ => raw
      }
      name match {
        case "scanTime" => add("op.scan_s", secs)
        case "shuffleWriteTime" => add("op.shuffle_write_s", secs)
        case "shuffleBytesWritten" => add("op.shuffle_bytes", raw)
        case "aggTime" => add("op.agg_s", secs)
        case "buildTime" => add("op.join_build_s", secs)
        case "sortTime" => add("op.sort_s", secs)
        case "spillSize" => add("op.spill_bytes", raw)
        case _ =>
      }
    }
    out.toMap
  }
}
