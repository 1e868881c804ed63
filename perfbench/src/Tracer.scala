package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval; `parent` is 0 at the root. Times are epoch ns. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String, val start: Long) {
  @volatile var end: Long = -1L
  def dur: Long = if (end < 0) 0L else end - start
}

/** Task totals of one stage attempt. */
final class StageStats(val stageId: Int) {
  var tasks = 0
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var sortMs = 0L
}

/** Streaming progress of one micro-batch, attributed to the op running. */
final case class Batch(at: Long, triggerMs: Long, addBatchMs: Long, planningMs: Long,
    walMs: Long, getBatchMs: Long, commitMs: Long, stateRows: Long, stateMem: Long, query: String)

/** Spans from workload to op, to build/exec, to job and stage, plus
  * micro-batches, all kept in memory and written out at the end. Fed by
  * Spark's public listener interfaces: the driver thread tags its jobs with
  * the open span through a local property, so jobs started from any thread
  * a span spawned (streaming query threads inherit local properties) land
  * under that span.
  */
final class Tracer private (spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer.Prop

  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentHashMap[Int, Span]()
  @volatile private var current = 0
  @volatile private var currentOp = 0
  private val lastEventNs = new AtomicLong(System.nanoTime())
  private val liveJobs = new AtomicInteger(0)

  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobCkpt = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Span]()
  private val stageStats = new ConcurrentHashMap[(Int, Int), StageStats]()
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Batch)]()
  private val gcAt = new ConcurrentHashMap[Int, (Long, Long)]()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def add(parent: Int, kind: String, name: String, start: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, start)
    spans.put(s.id, s)
    s
  }

  def spanCount: Int = spans.size

  def open(kind: String, name: String): Span = {
    val s = add(current, kind, name, nowNs)
    if (kind == "op") currentOp = s.id
    if (kind == "workload") gcAt.put(s.id, (gcMs, 0L))
    current = s.id
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.end = nowNs
    if (gcAt.containsKey(s.id)) gcAt.put(s.id, (gcAt.get(s.id)._1, gcMs))
    current = s.parent
    sc.setLocalProperty(Prop, if (s.parent == 0) null else s.parent.toString)
  }

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  /** Start or stop receiving Spark's events; spans and totals are kept. */
  def register(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def unregister(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  /** Wait until every job has ended and the listener bus has been quiet
    * for a moment, so late events are counted.
    */
  def drain(): Unit = {
    val limit = System.nanoTime() + 5000000000L
    while (System.nanoTime() < limit &&
      (liveJobs.get() > 0 || System.nanoTime() - lastEventNs.get() < 300000000L)) Thread.sleep(20)
  }

  // ------------------------------------------------------------ SparkListener

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    liveJobs.incrementAndGet()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
    val s = add(parent, "job", s"job ${e.jobId}", e.time * 1000000L)
    jobSpan.put(e.jobId, s)
    // A ckpt job's call site (the stage `details`) holds graft's ckpt frame.
    jobCkpt.put(e.jobId, e.stageInfos.exists(_.details.contains("graft.package$.ckpt")))
    e.stageIds.foreach(id => stageJob.put(id, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    liveJobs.decrementAndGet()
    Option(jobSpan.get(e.jobId)).foreach(_.end = e.time * 1000000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    touch()
    val i = e.stageInfo
    val parent = Option(jobSpan.get(stageJob.getOrDefault(i.stageId, -1))).map(_.id).getOrElse(0)
    val start = i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000000L
    stageSpan.put((i.stageId, i.attemptNumber()), add(parent, "stage", s"stage ${i.stageId}", start))
    stageStats.putIfAbsent((i.stageId, i.attemptNumber()), new StageStats(i.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val st = stageStats.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageStats(e.stageId))
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    Option(stageSpan.get((i.stageId, i.attemptNumber()))).foreach { s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis()) * 1000000L
    }
    val sortMs = i.accumulables.values.filter(_.name.contains("sort time"))
      .flatMap(_.value).map(v => v.toString.toLong).filter(_ > 0).sum
    val st = stageStats.computeIfAbsent((i.stageId, i.attemptNumber()), _ => new StageStats(i.stageId))
    st.synchronized { st.sortMs += sortMs }
  }

  // --------------------------------------------------- QueryExecutionListener

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    touch()
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    planning.add((nowNs, ms))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  // --------------------------------------------------- StreamingQueryListener

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      batches.add(currentOp -> Batch(nowNs, d("triggerExecution"), d("addBatch"), d("queryPlanning"),
        d("walCommit"), d("getBatch") + d("latestOffset"), ops.map(_.commitTimeMs).sum,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, String.valueOf(p.id)))
    }
  }

  // ---------------------------------------------------------------- metrics

  private def children: Map[Int, Seq[Span]] = spans.values.asScala.toSeq.groupBy(_.parent)

  private def under(root: Int): Seq[Span] = {
    val kids = children
    val out = ArrayBuffer[Span]()
    var frontier = kids.getOrElse(root, Nil)
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
    }
    out.toSeq
  }

  private def jobsUnder(root: Int): Seq[Int] = {
    val ids = under(root).filter(_.kind == "job").map(_.id).toSet
    jobSpan.asScala.collect { case (job, s) if ids(s.id) => job }.toSeq
  }

  def stagesUnder(root: Int): Seq[StageStats] = {
    val jobs = jobsUnder(root).toSet
    stageStats.asScala.collect { case ((sid, _), st) if jobs(stageJob.getOrDefault(sid, -1)) => st }.toSeq
  }

  /** Length of the union of the intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  def metrics(wl: Span, cores: Int): Map[String, Double] = {
    val all = under(wl.id)
    val opIds = all.filter(_.kind == "op").map(_.id).toSet
    val wallS = wl.dur / 1e9
    val jobs = jobsUnder(wl.id)
    val stages = stagesUnder(wl.id)
    val stageIv = stageSpan.asScala.collect {
      case ((sid, _), s) if jobs.contains(stageJob.getOrDefault(sid, -1)) && s.end > 0 => (s.start, s.end)
    }.toSeq
    val ckptJobs = jobs.filter(j => jobCkpt.getOrDefault(j, false))
    val kinds = all.map(s => s.id -> s.kind).toMap
    val buildJobs = all.filter(s => s.kind == "job" && kinds.get(s.parent).contains("build"))
    val taskS = stages.map(_.runMs).sum / 1e3
    val b = batches.asScala.collect { case (op, x) if opIds(op) => x }.toSeq
    val lastPerQuery = b.groupBy(_.query).values.map(_.maxBy(_.at)).toSeq
    val (gc0, gc1) = Option(gcAt.get(wl.id)).getOrElse((0L, 0L))
    val plan = planning.asScala.filter { case (t, _) => t >= wl.start && t <= wl.end + 1000000000L }
    Map(
      "queries.build_s" -> all.filter(_.kind == "build").map(_.dur).sum / 1e9,
      "queries.exec_s" -> all.filter(_.kind == "exec").map(_.dur).sum / 1e9,
      "queries.plan_s" -> plan.map(_._2).sum / 1e3,
      "queries.build_jobs" -> buildJobs.size.toDouble,
      "ckpt.jobs" -> ckptJobs.size.toDouble,
      "ckpt.job_s" -> ckptJobs.map(j => jobSpan.get(j).dur).sum / 1e9,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "exec.single_task_stages" -> stages.count(_.tasks == 1).toDouble,
      "exec.task_s" -> taskS,
      "exec.core_busy_frac" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "exec.driver_gap_s" -> (wl.dur - covered(stageIv, wl.start, wl.end)) / 1e9,
      "exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "exec.gc_s" -> (gc1 - gc0) / 1e3,
      "streaming.batches" -> b.size.toDouble,
      "streaming.trigger_s" -> b.map(_.triggerMs).sum / 1e3,
      "streaming.state_commit_s" -> b.map(_.commitMs).sum / 1e3,
      "streaming.add_batch_s" -> b.map(_.addBatchMs).sum / 1e3,
      "streaming.query_planning_s" -> b.map(_.planningMs).sum / 1e3,
      "streaming.wal_s" -> b.map(_.walMs).sum / 1e3,
      "streaming.get_batch_s" -> b.map(_.getBatchMs).sum / 1e3,
      "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "streaming.state_mem_bytes" -> lastPerQuery.map(_.stateMem).sum.toDouble,
      "trace.wall_s" -> wallS)
  }

  /** Every span with its parent, length and self time (length minus the
    * part its children cover), plus the micro-batches, as JSON.
    */
  def writeSpans(path: Path): Unit = {
    val kids = children
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val rows = spans.values.asScala.toSeq.sortBy(_.id).map { s =>
      val iv = kids.getOrElse(s.id, Nil).filter(_.end > 0).map(c => (c.start, c.end))
      val self = s.dur - covered(iv, s.start, s.end)
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${esc(s.name)}",""" +
        f""""start_ms":${s.start / 1e6}%.3f,"dur_ms":${s.dur / 1e6}%.3f,"self_ms":${self / 1e6}%.3f}"""
    }
    val bs = batches.asScala.toSeq.map { case (op, x) =>
      s"""{"op":$op,"query":"${x.query}","trigger_ms":${x.triggerMs},"add_batch_ms":${x.addBatchMs},""" +
        s""""state_commit_ms":${x.commitMs},"state_rows":${x.stateRows}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path,
      rows.mkString("{\"spans\":[\n", ",\n", "\n],") + bs.mkString("\"batches\":[\n", ",\n", "\n]}\n"))
  }
}

object Tracer {
  val Prop = "graftbench.span"

  def create(spark: SparkSession): Tracer = new Tracer(spark)

  /** Run `body` inside a span of `kind` when tracing. */
  def phase[T](tr: Option[Tracer], kind: String, name: String)(body: => T): T = tr match {
    case None => body
    case Some(t) =>
      val s = t.open(kind, name)
      try body finally t.close(s)
  }
}
