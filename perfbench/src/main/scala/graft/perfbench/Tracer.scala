package graft.perfbench

import graft.lake.{LakeMeta, Names}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's instruments, all from outside the program: a
  * SparkListener (jobs, tasks, shuffle and spill bytes), a
  * QueryExecutionListener (QueryPlanningTracker phase times, the MV
  * rewrite rule's time, the lake scan node's SQL metrics) and a
  * StreamingQueryListener (micro-batch durations), plus lake probes
  * taken between ops: new main-history snapshots per table
  * (`LakeMeta.mainAncestors`), metadata bytes from a listing of each
  * table's `metadata/` directory, and live files
  * (`LakeMeta.liveFileCount`).
  *
  * Every listener event lands in memory; after the timed window each
  * is attributed to the op whose wall-clock window holds its start, so
  * jobs submitted from program-owned threads (its thread pools, the
  * stream execution thread) belong to the op that caused them. One op
  * span is the parent of its plan-phase, job and micro-batch spans; the
  * spans are written out at the end of the run. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._

  @volatile private var on = false
  private val callbackNs = new java.util.concurrent.atomic.AtomicLong()
  private def timedCallback(f: => Unit): Unit = if (on) {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback {
      val j = new Job(e.jobId, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCallback {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      timedCallback(plans.add(plan(qe)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      timedCallback(plans.add(plan(qe)))
  }

  private def plan(qe: QueryExecution): Plan = {
    val phases = qe.tracker.phases.toSeq
      .filter { case (p, _) => PlanPhases(p) }
      .map { case (p, s) => (p, s.startTimeMs, s.endTimeMs) }
    val mvNs = qe.tracker.rules.collect {
      case (r, s) if r.contains("MvRewriteRule") => s.totalTimeNs
    }.sum
    val scans = mutable.ArrayBuffer[Map[String, Long]]()
    try foreach(qe.executedPlan) { (p: SparkPlan) =>
      if (p.metrics.contains("plannedDataFiles"))
        scans += ScanMetrics.map(m => m -> p.metrics.get(m).map(_.value).getOrElse(0L)).toMap
    } catch { case scala.util.control.NonFatal(_) => () }
    Plan(phases, mvNs, scans.toSeq)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timedCallback {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
            d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L)))
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  // ---- lake probes, taken between ops ----
  private var tables: () => Seq[String] = () => Nil
  private val locations = mutable.HashMap[String, String]()
  private def location(t: String) =
    locations.getOrElseUpdate(t, LakeMeta.of(spark, Names.parts(spark, t)).location)
  private def lakeState(): Map[String, (Int, Long)] = tables().map { t =>
    t -> (LakeMeta.mainAncestors(spark, Names.parts(spark, t)).size,
      Env.dirBytes(location(t) + "/metadata"))
  }.toMap
  private var before: Map[String, (Int, Long)] = Map.empty
  private val probes = mutable.ArrayBuffer[Probe]()
  private var probeNs = 0L

  def start(ts: () => Seq[String]): Unit = { tables = ts; on = true }
  def stop(): Unit = {
    // the listener bus delivers asynchronously: wait until every job
    // that started has ended and the event counts stop moving
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    while (System.currentTimeMillis() < deadline &&
        (jobs.values.asScala.exists(_.endMs < 0) || last != plans.size + batches.size)) {
      last = plans.size + batches.size
      Thread.sleep(100)
    }
    on = false
  }

  def beforeOp(): Unit = if (on) {
    val t0 = System.nanoTime()
    before = lakeState()
    probeNs += System.nanoTime() - t0
  }

  def afterOp(o: Op): Unit = if (on) {
    val t0 = System.nanoTime()
    val after = lakeState()
    val newSnaps = after.map { case (t, (n, _)) => t -> (n - before.get(t).map(_._1).getOrElse(n)) }
    val rewrote = newSnaps.exists { case (t, k) =>
      k > 0 && LakeMeta.mainAncestors(spark, Names.parts(spark, t)).take(k)
        .exists(_.operation == "replace")
    }
    probes += Probe(o, newSnaps.values.sum,
      after.map { case (t, (_, b)) => b - before.get(t).map(_._2).getOrElse(b) }.sum,
      after.values.map(_._1).sum, rewrote)
    probeNs += System.nanoTime() - t0
  }

  /** Per-layer numbers over the timed ops: per-op means (listener
    * clocks tick in whole milliseconds, so a median of them would repeat
    * exactly from run to run), shares as ratios of totals. */
  def layerMetrics(gcMs: Double): Seq[(String, Double, String)] = {
    val calls = probes.toSeq
    val ps = plans.asScala.toSeq
    val js = jobs.values.asScala.toSeq.filter(_.endMs >= 0)
    val bs = batches.asScala.toSeq
    def in(o: Op, t: Long) = t >= o.startMs && t <= o.endMs
    val per = calls.map { c =>
      val o = c.op
      val myPlans = ps.filter(p => p.phases.nonEmpty && in(o, p.startMs))
      val myJobs = js.filter(j => in(o, j.startMs))
      val myBatches = bs.filter(b => in(o, b.startMs))
      val planIv = myPlans.flatMap(_.phases.map { case (_, a, b) => (a, b) })
      val jobIv = myJobs.map(j => (j.startMs, math.min(j.endMs, o.endMs)))
      val planMs = Intervals.length(planIv).toDouble
      val jobMs = Intervals.length(jobIv).toDouble
      val busy = Intervals.length(planIv ++ jobIv).toDouble
      OpTrace(c, myPlans, myJobs, myBatches, planMs, jobMs, math.max(0.0, o.ms - busy))
    }
    spans = per
    val n = math.max(1, per.size).toDouble
    val wall = per.map(_.probe.op.ms).sum
    val scans = per.flatMap(_.plans.flatMap(_.scans))
    def scanSum(m: String) = scans.map(_(m)).sum.toDouble
    val planned = scanSum("plannedDataFiles"); val skipped = scanSum("skippedDataFiles")
    val commits = per.map(_.probe.commits).sum
    val commitOps = per.filter(t => t.probe.commits > 0 && t.probe.op.cls == "heavy")
    val commitMedian = Stats.median(commitOps.map(_.probe.op.ms))
    // slope within each statement kind, pooled, so the seeded order of
    // cheap and dear statements across the window does not read as growth
    val byKind = commitOps.groupBy(_.probe.op.kind).values.toSeq.map(_.map(t =>
      (t.probe.snapshots.toDouble, t.probe.op.ms)))
    val growth = if (commitOps.size < 2) 0.0 else
      Stats.pooledSlope(byKind) * 100 / commitMedian
    val streamed = per.filter(_.batches.nonEmpty)
    val streamWall = streamed.map(_.probe.op.ms).sum
    val mdJson = tables().map { t =>
      Option(Env.file(location(t) + "/metadata").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName).lastOption
        .map(_.length).getOrElse(0L)
    }
    def ratio(a: Double, b: Double) = if (b <= 0) 0.0 else a / b
    Seq(
      ("spark.plan_ms", Stats.mean(per.map(_.planMs)), "ms"),
      ("spark.plan_share", ratio(per.map(_.planMs).sum, wall), "ratio"),
      ("spark.jobs_per_op", per.map(_.jobs.size).sum / n, "count"),
      ("spark.tasks_per_op", per.map(_.jobs.map(_.tasks).sum).sum / n, "count"),
      ("spark.job_ms", Stats.mean(per.map(_.jobMs)), "ms"),
      ("spark.gap_ms", Stats.mean(per.map(_.gapMs)), "ms"),
      ("spark.shuffle_write_bytes", per.map(_.jobs.map(_.shuffleWrite).sum).sum / n, "bytes"),
      ("spark.spill_bytes", per.map(_.jobs.map(_.spill).sum).sum / n, "bytes"),
      ("lake.commits_per_op", commits / n, "count"),
      ("lake.metadata_bytes_per_commit",
        ratio(per.map(_.probe.metadataBytes).sum.toDouble, commits), "bytes"),
      ("lake.metadata_json_bytes_last", mdJson.sum.toDouble, "bytes"),
      ("lake.commit_growth_per_100_snapshots", growth, "ratio"),
      ("lake.compaction_share",
        ratio(per.filter(_.probe.rewrote).map(_.probe.op.ms).sum, wall), "ratio"),
      ("lake.live_files", tables().map(t =>
        LakeMeta.liveFileCount(spark, Names.parts(spark, t))).sum.toDouble, "count"),
      ("lake.planned_files_per_scan", ratio(planned, scans.size), "count"),
      ("lake.skipped_files_per_scan", ratio(skipped, scans.size), "count"),
      ("lake.skip_ratio", ratio(skipped, planned + skipped), "ratio"),
      ("lake.planned_bytes_per_scan", ratio(scanSum("plannedBytes"), scans.size), "bytes"),
      ("lake.masked_files_per_scan", ratio(scanSum("maskedDataFiles"), scans.size), "count"),
      ("mv.rule_ms", Stats.mean(per.map(_.plans.map(_.mvNs).sum / 1e6)), "ms"),
      ("streaming.batches_per_op", per.map(_.batches.size).sum / n, "count"),
      ("streaming.add_batch_share",
        ratio(streamed.map(_.batches.map(_.addBatchMs).sum).sum.toDouble, streamWall), "ratio"),
      ("streaming.overhead_share", ratio(streamed.map(_.batches.map(b =>
        b.triggerMs - b.addBatchMs).sum).sum.toDouble, streamWall), "ratio"),
      ("jvm.gc_ms", gcMs / n, "ms"),
      ("trace.callback_ms_per_op", callbackNs.get / 1e6 / n, "ms"),
      ("trace.probe_ms_per_op", probeNs / 1e6 / n, "ms"))
  }

  private var spans: Seq[OpTrace] = Nil

  /** One JSON line per span; child spans name their op span as parent. */
  def writeSpans(path: String): Unit =
    Env.write(path, spans.zipWithIndex.flatMap { case (t, i) =>
      val o = t.probe.op
      def span(kind: String, name: String, s: Long, e: Long, extra: (String, Any)*) =
        Json(Map("id" -> s"$i.$kind.$name.$s", "parent" -> i.toString, "kind" -> kind,
          "name" -> name, "start_ms" -> s, "end_ms" -> e) ++ extra)
      Json(Map("id" -> i.toString, "kind" -> "op", "name" -> o.kind, "class" -> o.cls,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ms" -> o.ms, "ok" -> o.ok,
        "commits" -> t.probe.commits, "metadata_bytes" -> t.probe.metadataBytes,
        "snapshots" -> t.probe.snapshots, "plan_ms" -> t.planMs, "job_ms" -> t.jobMs,
        "gap_ms" -> t.gapMs)) +:
        (t.plans.flatMap(_.phases.map { case (ph, s, e) => span("plan", ph, s, e) }) ++
          t.jobs.map(j => span("job", j.id.toString, j.startMs, j.endMs,
            "tasks" -> j.tasks, "shuffle_write_bytes" -> j.shuffleWrite)) ++
          t.batches.map(b => span("batch", "micro_batch", b.startMs, b.startMs + b.triggerMs,
            "add_batch_ms" -> b.addBatchMs)))
    })
}

object Tracer {
  val PlanPhases = Set("analysis", "optimization", "planning")
  val ScanMetrics = Seq("plannedDataFiles", "skippedDataFiles", "plannedBytes", "maskedDataFiles")

  final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs = -1L
    var tasks = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  final case class Plan(phases: Seq[(String, Long, Long)], mvNs: Long,
      scans: Seq[Map[String, Long]]) {
    def startMs: Long = phases.map(_._2).min
  }
  final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long)
  final case class Probe(op: Op, commits: Int, metadataBytes: Long, snapshots: Int,
      rewrote: Boolean)
  final case class OpTrace(probe: Probe, plans: Seq[Plan], jobs: Seq[Job],
      batches: Seq[Batch], planMs: Double, jobMs: Double, gapMs: Double)
}

object Intervals {
  /** Length of the union of closed intervals. */
  def length(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
