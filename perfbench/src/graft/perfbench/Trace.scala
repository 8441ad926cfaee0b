package graft.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds (fractional for
  * the benchmark's own spans, whole for Spark's).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Listener-based collector for the traced run. Spans nest
  * pass → op → {build, action} → [micro-batch →] job → stage. The
  * benchmark records pass/op/phase spans on its own thread and tags
  * every job it submits through a local property; Spark's listener
  * events are kept raw in memory and assembled into spans and per-pass
  * metrics only when the run ends.
  *
  * Only public listener APIs are used: `SparkListener`,
  * `QueryExecutionListener` and `StreamingQueryListener`. They are
  * attached for traced passes only.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Long, Double)] // (span id, start)
  @volatile private var currentPhase = -1L
  @volatile private var lastEventNs = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  // raw listener records, filled on the listener-bus thread
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val queryPhase = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val cacheSamples = new ConcurrentLinkedQueue[(Double, Long)]()

  private val sparkListener = new SparkListener {
    private val blocks = mutable.HashMap.empty[String, Long]
    private var cached = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(PhaseKey))).foreach { ph =>
        jobs.add(JobRec(e.jobId, ph.toLong, e.time, e.stageIds,
          p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))),
          p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch(); jobEnds.put(e.jobId, e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.add(StageRec(i.stageId, s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val m = Option(e.taskMetrics)
      tasks.add(TaskRec(e.stageId, e.taskInfo.successful, m.map { t =>
        Array[Double](
          t.executorRunTime / 1e3, t.executorCpuTime / 1e9, t.jvmGCTime / 1e3,
          t.executorDeserializeTime / 1e3,
          t.inputMetrics.bytesRead, t.inputMetrics.recordsRead,
          t.shuffleWriteMetrics.bytesWritten, t.shuffleWriteMetrics.recordsWritten,
          t.shuffleWriteMetrics.writeTime / 1e9, t.shuffleReadMetrics.totalBytesRead,
          t.shuffleReadMetrics.fetchWaitTime / 1e3, t.memoryBytesSpilled,
          t.diskBytesSpilled, t.outputMetrics.bytesWritten, t.outputMetrics.recordsWritten)
      }.getOrElse(new Array[Double](TaskFields.size))))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      touch()
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) synchronized {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cached += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
        cacheSamples.add((System.currentTimeMillis().toDouble, cached))
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      touch()
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      val nodes = planNodes(qe.executedPlan)
      def n(f: SparkPlan => Boolean) = nodes.count(f).toDouble
      execs.add(ExecRec(at.toDouble, Array(ms("analysis"), ms("optimization"), ms("planning"),
        n(_.isInstanceOf[ShuffleExchangeLike]), n(_.isInstanceOf[SortExec]),
        n(_.isInstanceOf[SortMergeJoinExec]), n(_.isInstanceOf[BroadcastHashJoinExec]),
        n(_.isInstanceOf[InMemoryTableScanExec]))))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      // delivered synchronously on the thread that starts the query
      touch(); queryPhase.put(e.runId.toString, currentPhase)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      val so = p.stateOperators
      batches.add(BatchRec(p.runId.toString, p.id.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli.toDouble, d("triggerExecution"),
        p.numInputRows, d("addBatch"), d("queryPlanning"), d("walCommit"),
        so.map(_.numRowsTotal).sum, so.map(_.commitTimeMs).sum, so.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
  }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach once the listener bus has been quiet for half a second, so
    * events of the traced pass still in flight are not lost.
    */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 20e9.toLong
    while (System.nanoTime() - lastEventNs < 500e6.toLong && System.nanoTime() < deadline)
      Thread.sleep(50)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `f` inside a span of `kind` under the innermost open span. A
    * `build` or `action` span also tags the jobs submitted meanwhile.
    */
  def span[T](kind: String, name: String)(f: => T): T = {
    nextId += 1
    val id = nextId
    val parent = open.headOption.map(_._1).getOrElse(0L)
    open.push((id, nowMs))
    val isPhase = kind == "build" || kind == "action"
    if (isPhase) { currentPhase = id; sc.setLocalProperty(PhaseKey, id.toString) }
    try f
    finally {
      val (_, start) = open.pop()
      spans += Span(id, parent, kind, name, start, nowMs)
      if (isPhase) { currentPhase = -1L; sc.setLocalProperty(PhaseKey, null) }
    }
  }

  /** Assembles every recorded span, with Spark's jobs, stages and
    * micro-batches nested under the phase that caused them, each child
    * clipped to its parent's interval.
    */
  def allSpans(): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val out = mutable.ArrayBuffer.empty[Span] ++= spans
    def add(parent: Span, kind: String, name: String, s: Double, e: Double): Option[Span] = {
      val (cs, ce) = (s max parent.start, e min parent.end)
      if (ce <= cs) None
      else { nextId += 1; val sp = Span(nextId, parent.id, kind, name, cs, ce); out += sp; Some(sp) }
    }
    val batchSpans = mutable.HashMap.empty[(Long, String, String), Span]
    batches.asScala.foreach { b =>
      for (ph <- Option(queryPhase.get(b.runId)).flatMap(p => byId.get(p.longValue));
           sp <- add(ph, "batch", s"batch ${b.batchId}", b.start, b.start + b.triggerMs))
        batchSpans((ph.id, b.queryId, b.batchId.toString)) = sp
    }
    val jobSpans = mutable.HashMap.empty[Int, Span]
    jobs.asScala.foreach { j =>
      for (ph <- byId.get(j.phase); end <- Option(jobEnds.get(j.jobId))) {
        val parent = (for (q <- j.queryId; b <- j.batchId; sp <- batchSpans.get((ph.id, q, b)))
          yield sp).getOrElse(ph)
        add(parent, "job", s"job ${j.jobId}", j.start.toDouble, end.doubleValue)
          .foreach(jobSpans(j.jobId) = _)
      }
    }
    val stageJob = jobs.asScala.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    stages.asScala.foreach { s =>
      for (j <- stageJob.get(s.stageId); js <- jobSpans.get(j))
        add(js, "stage", s"stage ${s.stageId}", s.start.toDouble, s.end.toDouble)
    }
    out.toSeq
  }

  /** Per-pass layer metrics, averaged over the traced passes. */
  def metrics(all: Seq[Span]): Map[String, Double] = {
    val passes = all.filter(_.kind == "pass")
    val kids = all.groupBy(_.parent)
    def sub(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(sub)
    val phaseToPass = mutable.HashMap.empty[Long, Long]
    val jobPass = mutable.HashMap.empty[Int, Long]
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var residual = 0.0
    for (p <- passes; op <- kids.getOrElse(p.id, Nil)) {
      val tree = sub(op)
      tree.filter(s => s.kind == "build" || s.kind == "action").foreach(s => phaseToPass(s.id) = p.id)
      val self = selfTimes(tree)
      residual = residual max math.abs(self.values.sum - op.dur)
      tree.foreach(s => acc(s"self.${s.kind}_s") += self(s.id) / 1e3)
      val jobsIn = tree.filter(_.kind == "job")
      acc("driver.gap_s") += (op.dur - unionLen(jobsIn.map(j => (j.start, j.end)))) / 1e3
      acc("entry.build_s") += tree.filter(_.kind == "build").map(_.dur).sum / 1e3
      acc("entry.action_s") += tree.filter(_.kind == "action").map(_.dur).sum / 1e3
    }
    val buildIds = all.filter(_.kind == "build").map(_.id).toSet
    jobs.asScala.foreach { j =>
      phaseToPass.get(j.phase).foreach { p =>
        jobPass(j.jobId) = p
        acc("scheduler.jobs") += 1
        if (buildIds(j.phase)) acc("entry.eager_jobs") += 1
      }
    }
    val stagePass = jobs.asScala.flatMap(j => jobPass.get(j.jobId).map(p => j.stageIds.map(_ -> p)))
      .flatten.toMap
    stages.asScala.foreach(s => if (stagePass.contains(s.stageId)) acc("scheduler.stages") += 1)
    var ok = 0.0
    tasks.asScala.foreach { t =>
      if (stagePass.contains(t.stageId)) {
        acc("scheduler.tasks") += 1
        if (t.ok) ok += 1
        TaskFields.zip(t.m).foreach { case (k, v) => acc(k) += v }
      }
    }
    val passIv = passes.map(p => (p.start, p.end))
    def inPass(t: Double) = passIv.exists { case (s, e) => t >= s && t <= e }
    execs.asScala.filter(e => inPass(e.at)).foreach { e =>
      acc("catalyst.executions") += 1
      ExecFields.zip(e.m).foreach { case (k, v) => acc(k) += v }
    }
    val tracedPhases = phaseToPass.keySet
    val bs = batches.asScala.filter(b =>
      Option(queryPhase.get(b.runId)).exists(p => tracedPhases(p.longValue))).toSeq
    acc("streaming.queries") += queryPhase.asScala.count { case (_, p) => tracedPhases(p.longValue) }
    acc("streaming.batches") += bs.size
    bs.foreach { b =>
      acc("streaming.trigger_ms") += b.triggerMs
      acc("streaming.add_batch_ms") += b.addBatchMs
      acc("streaming.planning_ms") += b.planningMs
      acc("streaming.wal_commit_ms") += b.walMs
      acc("streaming.state_commit_ms") += b.stateCommitMs
    }
    // state size: the last batch of each query run
    bs.groupBy(_.runId).values.map(_.maxBy(_.batchId)).foreach { b =>
      acc("streaming.state_rows") += b.stateRows
      acc("streaming.state_mb") += b.stateBytes / MiB
    }
    // start of the query's phase to the end of its first batch
    val byId = all.map(s => s.id -> s).toMap
    val firsts = bs.groupBy(_.runId).values.map(_.minBy(_.batchId)).toSeq
    val startToFirst = firsts.flatMap(b => Option(queryPhase.get(b.runId))
      .flatMap(p => byId.get(p.longValue)).map(ph => b.start + b.triggerMs - ph.start))
    val n = passes.size.max(1).toDouble
    val perPass = acc.map { case (k, v) => k -> v / n }.toMap
    val wall = passes.map(_.dur).sum / 1e3
    val stagesN = acc("scheduler.stages")
    val tasksN = acc("scheduler.tasks")
    val peak = cacheSamples.asScala.filter(c => inPass(c._1)).map(_._2).maxOption.getOrElse(0L)
    (TaskFields ++ ExecFields ++ StreamFields ++ SelfFields).map(_ -> 0.0).toMap ++ perPass ++ Map(
      "scheduler.tasks_per_stage" -> (if (stagesN > 0) tasksN / stagesN else 0.0),
      "scheduler.task_success_share" -> (if (tasksN > 0) ok / tasksN else 1.0),
      "driver.idle_share" -> (if (wall > 0) 1 - acc("executor.run_s") / (wall * cores) else 0.0),
      "streaming.data_batch_share" ->
        (if (bs.nonEmpty) bs.count(_.inputRows > 0).toDouble / bs.size else 0.0),
      "streaming.start_to_first_batch_ms" -> median(startToFirst),
      "streaming.batch_p50_ms" -> median(bs.map(_.triggerMs)),
      "cache.storage_mb_peak" -> peak / MiB,
      "trace.self_residual_ms" -> residual)
  }

  /** Writes one JSON object per span. */
  def writeSpans(all: Seq[Span], path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        f""""name":"${s.name}","start_ms":${s.start}%.3f,"dur_ms":${s.dur}%.3f}""")
    } finally w.close()
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  val MiB = 1024.0 * 1024.0

  val TaskFields = Seq("executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.deser_s",
    "input.bytes_read", "input.records_read", "shuffle.write_bytes",
    "shuffle.records_written", "shuffle.write_s", "shuffle.read_bytes",
    "shuffle.fetch_wait_s", "spill.memory_bytes", "spill.disk_bytes",
    "output.bytes_written", "output.records_written")
  val ExecFields = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.exchanges", "catalyst.sorts", "catalyst.smj",
    "catalyst.bhj", "catalyst.cached_scans")
  val StreamFields = Seq("streaming.queries", "streaming.batches", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.planning_ms", "streaming.wal_commit_ms",
    "streaming.state_rows", "streaming.state_commit_ms", "streaming.state_mb")
  val SelfFields = Seq("op", "build", "action", "batch", "job", "stage").map(k => s"self.${k}_s") ++
    Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "entry.eager_jobs",
      "catalyst.executions", "driver.gap_s", "entry.build_s", "entry.action_s")

  final case class JobRec(jobId: Int, phase: Long, start: Long, stageIds: Seq[Int],
      queryId: Option[String], batchId: Option[String])
  final case class StageRec(stageId: Int, start: Long, end: Long)
  final case class TaskRec(stageId: Int, ok: Boolean, m: Array[Double])
  final case class ExecRec(at: Double, m: Array[Double])
  final case class BatchRec(runId: String, queryId: String, batchId: Long, start: Double,
      triggerMs: Double, inputRows: Long, addBatchMs: Double, planningMs: Double,
      walMs: Double, stateRows: Long, stateCommitMs: Double, stateBytes: Long)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = ce max e
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Self time: each instant of the tree's root interval is credited to
    * the deepest span open at that instant (the latest-started one among
    * equally deep siblings), so a span's self time is its duration minus
    * the part its children cover, and the tree's self times sum exactly
    * to the root's duration even where sibling jobs overlap.
    */
  def selfTimes(tree: Seq[Span]): Map[Long, Double] = {
    val parentOf = tree.map(s => s.id -> s.parent).toMap
    def depth(s: Span): Int = {
      var d = 0; var p = s.parent
      while (parentOf.contains(p)) { d += 1; p = parentOf(p) }
      d
    }
    val ranked = tree.map(s => (s, depth(s))).sortBy { case (s, d) => (-d, -s.start) }
    val cuts = tree.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.HashMap.empty[Long, Double] ++ tree.map(_.id -> 0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        ranked.find { case (s, _) => s.start <= mid && mid < s.end }
          .foreach { case (s, _) => self(s.id) += b - a }
      case _ =>
    }
    self.toMap
  }

  /** Every node of a physical plan, looking through adaptive plans,
    * query stages and subqueries.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
