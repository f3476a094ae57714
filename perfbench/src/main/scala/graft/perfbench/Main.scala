package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed call into the system. `cls` puts it in one of the two
  * classes every workload reports a latency for: `heavy` (the writes:
  * DML statements, ingest epochs) and `light` (the reads); `other` ops
  * (compaction, MV refresh) count as attempted and feed only the
  * per-layer numbers. Wall-clock bounds are epoch milliseconds, the
  * clock Spark's listener events carry, so traced events can be
  * attributed to the op whose window holds them. */
final case class Op(kind: String, cls: String, startMs: Long, endMs: Long,
    ms: Double, ok: Boolean)

/** What a workload gives the timing loop. `setup` builds the state the
  * loop runs against and is timed; it runs `Main.SetupReps` times and
  * every state but the last is dropped with `dropSetup`. `step` is one
  * closed-loop iteration. The timed window is a fixed amount of work,
  * the same on every host and for every `--seconds`: it ends when
  * `windowDone` holds (whole rounds, whole maintenance cycles). */
trait Workload {
  def setup(): Unit
  def dropSetup(): Unit
  def warmup(): Unit
  def step(): Unit
  def windowDone: Boolean
  /** Output checks after the timed window, including that the window
    * holds the whole work it was sized to; failures go to `ctx.check`. */
  def finish(): Unit
  /** The window's realized sizes, for the run record. */
  def sizes: Map[String, Any]
  /** Bytes of the workload's lake tables, taken at the end of the window. */
  def storedBytes: Long
  /** Lake tables whose commits the traced run attributes to ops. */
  def tables: Seq[String]
  /** The end-to-end latency of the heavy and the light op class. */
  def heavyMs(ops: Seq[Op]): Double
  def lightMs(ops: Seq[Op]): Double
  /** Workload-specific per-layer numbers (traced run only); keys of
    * `Workload.LayerKeys` a workload does not exercise read 0. */
  def layerMetrics: Map[String, Double] = Map.empty
}

object Workload {
  /** Per-layer metrics a workload reports itself, with their units. */
  val LayerKeys = Seq("lake.snapshots_reached" -> "count", "mv.hit_ratio" -> "ratio",
    "queries.maintain_epochs" -> "count", "queries.index_files_max" -> "count")

  /** Latency of a fixed op mix: each kind's median, weighted by the
    * kind's share of the ops. The window holds the same mix on every
    * run, so the seeded order does not move it, and one slow statement
    * moves only its kind's median. */
  def mixMedian(ops: Seq[Op], cls: String): Double = {
    val byKind = ops.filter(o => o.cls == cls && o.ok).groupBy(_.kind).values.toSeq
    val n = byKind.map(_.size).sum
    if (n == 0) 0.0 else byKind.map(os => os.size * Stats.median(os.map(_.ms))).sum / n
  }
}

final class Ctx(val spark: SparkSession, val seed: Long, val dataDir: String,
    val tracer: Option[Tracer]) {
  val rng = new scala.util.Random(seed)
  val ops = ArrayBuffer[Op]()
  var timing = false
  var recordAll = false
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer[String]()

  /** Run `body` as one op; a throw counts as a failed op, not a lost
    * one, and its message is kept for the run record. */
  def op[T](kind: String, cls: String)(body: => T): Option[T] = {
    tracer.foreach(_.beforeOp())
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        if (errors.size < 20) errors += s"$kind: ${e.toString.take(400)}"
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val o = Op(kind, cls, w0, System.currentTimeMillis(), ms, r.isDefined)
    if (recordAll && !timing) ops += o
    if (timing) {
      ops += o
      attempted += 1
      if (r.isEmpty) failed += 1
      tracer.foreach(_.afterOp(o))
    } else if (r.isEmpty)
      throw new IllegalStateException(s"untimed op $kind failed: ${errors.last}")
    r
  }

  var mismatches = 0L

  /** An output check. A failed check makes the run incorrect. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    mismatches += 1
    if (errors.size < 40) errors += s"check: $what"
  }

  def sql(q: String) = spark.sql(q)
}

object Main {
  /** Set-ups per run. The first runs on a cold JVM: it is recorded and
    * left out, and `setup_s` is the median of the warm ones. */
  val SetupReps = 2
  /** A window that has not ended after this long is cut, and the run
    * fails its window check: the run must end within its time limit. */
  val WindowCapS = 100.0

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload dml_churn|llm_ingest " +
      "--seed N --seconds S --trace 0|1 --cores N --out DIR --tmp DIR")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => usage(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def arg(k: String) = args.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    // the window is fixed work, not fixed time; --seconds is recorded
    // next to the window's measured length
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val nproc = Runtime.getRuntime.availableProcessors()
    if (cores < 1 || cores > nproc)
      usage(s"--cores $cores must be in [1, nproc=$nproc]")
    val tmp = arg("tmp")
    val out = arg("out")
    val envStart = Env.stamp(seed, cores, nproc)
    val ticks0 = Env.cpuTicks
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val b0 = System.nanoTime()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.lake.LakeExtensions)
      .withExtensions(new graft.mv.MvExtensions)
      .withExtensions(new graft.readonly.ReadOnlyExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$tmp/hadoop")
      .config("spark.sql.catalog.bench", classOf[graft.lake.LakeCatalog].getName)
      .config("spark.sql.catalog.bench.warehouse", s"$tmp/lake")
      .config(graft.lake.Names.ConfKey, "bench.db")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
    val sessionS = (System.nanoTime() - b0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, s"$tmp/data", tracer)
    var code = 0
    try {
      val t0 = System.nanoTime()
      val w: Workload = workload match {
        case "dml_churn" => new DmlChurn(ctx)
        case "llm_ingest" => new LlmIngest(ctx)
        case other => usage(s"unknown workload $other")
      }
      val genS = (System.nanoTime() - t0) / 1e9
      val setupS = (0 until SetupReps).map { r =>
        if (r > 0) w.dropSetup()
        val s0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - s0) / 1e9
      }
      val w0 = System.nanoTime()
      ctx.recordAll = true
      w.warmup()
      val warmSeries = ctx.ops.map(o => f"${o.kind}:${o.ms}%.0f").toSeq
      ctx.ops.clear()
      ctx.recordAll = false
      val warmS = (System.nanoTime() - w0) / 1e9
      tracer.foreach(_.start(() => w.tables))
      val gc0 = Env.gcMs
      ctx.timing = true
      val l0 = System.nanoTime()
      def elapsed = (System.nanoTime() - l0) / 1e9
      while (!w.windowDone && elapsed < WindowCapS) w.step()
      val loopS = elapsed
      ctx.timing = false
      ctx.check(w.windowDone, f"window cut after $loopS%.0f s")
      val storedMb = w.storedBytes / 1048576.0
      val gcMs = Env.gcMs - gc0
      tracer.foreach(_.stop())
      val heapMb = Env.liveHeapMb()
      val c0 = System.nanoTime()
      w.finish()
      val checkS = (System.nanoTime() - c0) / 1e9

      val ops = ctx.ops.toSeq
      val heavy = ops.filter(o => o.cls == "heavy" && o.ok).map(_.ms)
      val light = ops.filter(o => o.cls == "light" && o.ok).map(_.ms)
      ctx.check(heavy.nonEmpty && light.nonEmpty,
        s"timed window saw ${heavy.size} heavy and ${light.size} light ops")
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", Stats.median(setupS.drop(1)), "s"),
          ("heavy_ms", w.heavyMs(ops), "ms"),
          ("light_ms", w.lightMs(ops), "ms"),
          ("heap_live_mb", heapMb, "MB"),
          ("stored_mb", storedMb, "MB"))
        else {
          // the end-to-end estimators over the traced window: set
          // against an untraced run's numbers they give the tracing
          // overhead
          val own = w.layerMetrics
          tracer.get.layerMetrics(gcMs) ++ Workload.LayerKeys.map { case (k, u) =>
            (k, own.getOrElse(k, 0.0), u) } ++ Seq(
            ("trace.heavy_ms", w.heavyMs(ops), "ms"),
            ("trace.light_ms", w.lightMs(ops), "ms"),
            ("trace.heavy_n", heavy.size.toDouble, "count"),
            ("trace.light_n", light.size.toDouble, "count"))
        }

      val envEnd = Env.stamp(seed, cores, nproc)
      val ticks1 = Env.cpuTicks
      val stealShare = (ticks1._2 - ticks0._2).toDouble / math.max(1L, ticks1._1 - ticks0._1)
      val record = Map(
        "workload" -> workload, "trace" -> trace, "seconds_arg" -> seconds,
        "env_start" -> envStart, "env_end" -> envEnd,
        "cpu_steal_share" -> stealShare,
        "window" -> w.sizes,
        "phases_s" -> Map("jvm" -> jvmS, "session" -> sessionS, "datagen" -> genS,
          "setup" -> setupS, "warmup" -> warmS, "timed" -> loopS, "checks" -> checkS),
        "ops" -> ops.groupBy(_.kind).map { case (k, os) => k -> Map(
          "n" -> os.size, "failed" -> os.count(!_.ok),
          "p50_ms" -> Stats.median(os.map(_.ms)),
          "p90_ms" -> Stats.quantile(os.map(_.ms), 0.9))
        },
        "warmup_series" -> warmSeries,
        "series" -> ops.map(o => f"${o.kind}:${o.ms}%.0f"),
        "jvm_gc_ms" -> gcMs,
        "errors" -> ctx.errors.toSeq,
        "metrics" -> metrics.map { case (k, v, _) => k -> Json.num(v) }.toMap)
      val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
      Env.write(s"$out/run-$tag.json", Seq(Json(record)))
      tracer.foreach(_.writeSpans(s"$out/spans-$tag.jsonl"))
      val correct = ctx.mismatches == 0
      if (!correct) {
        ctx.errors.foreach(e => System.err.println(s"perfbench: $e"))
        code = 1
      }
      println(Json(Map(
        "correct" -> correct,
        "attempted" -> ctx.attempted,
        "failed" -> ctx.failed,
        "metrics" -> metrics.map { case (k, v, u) =>
          k -> Map("value" -> Json.num(v), "unit" -> u)
        }.toMap)))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
        code = 1
    } finally spark.stop()
    sys.exit(code)
  }
}
