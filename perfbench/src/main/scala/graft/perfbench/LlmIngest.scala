package graft.perfbench

import graft.lake.{LakeMeta, Names}
import graft.queries.{TextOps, VectorOps}
import graft.streaming.IngestStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** llm_ingest: the dedup group index is built on a seeded half of the
  * documents and the IVF index on the even vectors; each epoch then
  * delivers the next 1 % slice of documents to
  * `IngestStreams.dedupIngest` (maintenance trigger on) and the
  * slice's odd vectors to `IngestStreams.ivfIngest`, each timed from
  * `addData` to `processAllAvailable`, and probes the batch's labels
  * and ANN neighbours. The dedup maintenance runs every second epoch,
  * and the timed window is `Cycles` whole maintenance cycles: twice as
  * many epochs, holding one maintenance epoch per cycle. At the end the
  * streamed labels must equal a one-shot `buildGroupIndex` over the
  * same documents and the streamed IVF must probe like its batch twin. */
final class LlmIngest(ctx: Ctx) extends Workload {
  import LlmIngest._
  private val spark = ctx.spark
  import spark.implicits._

  Data.write(Data.documents(spark, ctx.seed, Docs), ctx.dataDir, "documents")
  Data.write(Data.embeddings(spark, ctx.seed, Vectors), ctx.dataDir, "embeddings")
  private val docs = spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
    .select(col("doc_id"), col("text"))
  private val vecs = spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** Seeded slice order: the first half of the residues mod 100 is the
    * build base, the rest arrive one residue per epoch. Vector epochs
    * take the odd residues in a seeded order. */
  private val residues = ctx.rng.shuffle((0 until 100).toVector)
  private val base = residues.take(50)
  private val slices = residues.drop(50)
  private val vecSlices = ctx.rng.shuffle((1 until 100 by 2).toVector)
  private val docRows: Map[Int, Seq[(Long, String)]] = docs.collect()
    .map(r => (r.getLong(0), r.getString(1))).toSeq.groupBy(r => (r._1 % 100).toInt)
  private val vecRows: Map[Int, Seq[(Long, Seq[Float])]] = vecs.collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.groupBy(r => (r._1 % 100).toInt)

  private var idx: TextOps.GroupIndex = _
  private var ivf: String = _
  private var evens: DataFrame = _
  private var dq: StreamingQuery = _
  private var vq: StreamingQuery = _
  private var docMem: MemoryStream[(Long, String)] = _
  private var vecMem: MemoryStream[(Long, Seq[Float])] = _
  private var epoch = 0
  private var windowStart = 0
  private var maintainEpochs = 0
  private var filesMax = 0L

  private def idxTables = Seq(idx.post, idx.df, idx.size, idx.labels)
  def tables: Seq[String] = idxTables :+ ivf
  private def maxIdxFiles: Long =
    idxTables.map(t => LakeMeta.liveFileCount(spark, Names.parts(spark, t))).max
  private def location(t: String) = LakeMeta.of(spark, Names.parts(spark, t)).location

  def setup(): Unit = {
    idx = TextOps.buildGroupIndex(spark, docs.filter(
      (col("doc_id") % 100).isin(base: _*)))
    val (t, w) = VectorOps.buildEvenIvf(spark, ctx.dataDir)
    ivf = t; evens = w
    epoch = 0; maintainEpochs = 0
  }

  /** The first set-up's IVF index, a build of the same even vectors,
    * kept as the batch twin the streamed IVF is checked against. */
  private var twin: (String, DataFrame) = _

  def dropSetup(): Unit = {
    if (twin == null) twin = (ivf, evens) else drop(ivf)
    idxTables.foreach(drop)
  }
  private def drop(t: String) = ctx.sql(s"DROP TABLE IF EXISTS ${Names.q(spark, t)} PURGE")

  /** Starts both ingest streams on the last set-up's indexes, each with
    * its maintenance trigger a fixed number of files above the build. */
  private def startStreams(): Unit = {
    docMem = MemoryStream[(Long, String)](spark)
    vecMem = MemoryStream[(Long, Seq[Float])](spark)
    dq = IngestStreams.dedupIngest(docMem.toDF().toDF("doc_id", "text"), idx,
      s"${ctx.dataDir}/ckpt-dedup",
      maintainFileThreshold = (maxIdxFiles + DedupFileHeadroom).toInt)
    vq = IngestStreams.ivfIngest(vecMem.toDF().toDF("vec_id", "embedding"), ivf,
      s"${ctx.dataDir}/ckpt-ivf",
      maintainFileThreshold = (LakeMeta.liveFileCount(spark, Names.parts(spark, ivf)) +
        IvfFileHeadroom).toInt)
  }

  def step(): Unit = {
    val r = slices(epoch)
    val vr = vecSlices(epoch)
    epoch += 1
    val before = maxIdxFiles
    val batch = docRows.getOrElse(r, Nil)
    ctx.op("dedup_epoch", "heavy") { docMem.addData(batch); dq.processAllAvailable() }
    val after = maxIdxFiles
    if (ctx.timing && after < before) maintainEpochs += 1
    if (ctx.timing) filesMax = math.max(filesMax, math.max(before, after))
    val vbatch = vecRows.getOrElse(vr, Nil)
    ctx.op("ivf_epoch", "heavy") { vecMem.addData(vbatch); vq.processAllAvailable() }
    val ids = batch.map(_._1)
    val qv = vbatch(ctx.rng.nextInt(vbatch.size))._1
    ctx.op("probe", "light") {
      val labels = spark.table(Names.q(spark, idx.labels))
        .where(col("doc_id").isin(ids: _*)).select("doc_id", "group_id").collect()
      val ann = VectorOps.probeStoredIvf(spark, ivf,
        VectorOps.storedWithSims(spark, ivf, vecs.where(col("vec_id") === qv)), qv)
        .collect()
      (labels, ann)
    }.foreach { case (labels, ann) =>
      ctx.check(labels.length == ids.size &&
        labels.forall(l => l.getLong(1) <= l.getLong(0)),
        s"epoch $epoch: ${labels.length} labels for ${ids.size} docs")
      val sims = ann.map(_.getDouble(2))
      ctx.check(ann.length == 5 && sims.sameElements(sims.sortBy(-_)),
        s"epoch $epoch: ANN probe of $qv gave ${ann.toSeq}")
    }
  }

  def warmup(): Unit = {
    startStreams()
    while (epoch < WarmupEpochs) step()
    windowStart = epoch
  }

  private def exhausted: Boolean = epoch >= slices.size
  def windowDone: Boolean = epoch - windowStart >= 2 * Cycles || exhausted

  def sizes: Map[String, Any] = Map("documents" -> Docs, "vectors" -> Vectors,
    "base_documents" -> base.map(docRows.getOrElse(_, Nil).size).sum,
    "warmup_epochs" -> windowStart, "epochs" -> (epoch - windowStart),
    "maintenance_cycles" -> maintainEpochs,
    "documents_delivered" -> slices.take(epoch).map(docRows.getOrElse(_, Nil).size).sum)

  def storedBytes: Long = tables.map(t => Env.dirBytes(location(t))).sum

  /** Ingest time per epoch (dedup plus IVF) over the window's whole
    * maintenance cycles: the per-epoch cost a long-lived stream pays,
    * maintenance included. A median would land between the plain and
    * the maintenance epochs, and the IVF compaction cadence is the
    * data's, so only the cycle mean is steady. */
  def heavyMs(ops: Seq[Op]): Double =
    ops.filter(o => o.cls == "heavy" && o.ok).map(_.ms).sum /
      math.max(1, ops.count(_.kind == "dedup_epoch"))
  /** Mean probe of the batch's labels and ANN neighbours. */
  def lightMs(ops: Seq[Op]): Double =
    Stats.mean(ops.filter(o => o.cls == "light" && o.ok).map(_.ms))

  def finish(): Unit = {
    ctx.check(epoch - windowStart == 2 * Cycles && maintainEpochs == Cycles,
      s"window ran ${epoch - windowStart} epochs with $maintainEpochs maintenance epochs, " +
      s"not $Cycles whole cycles of two epochs")
    dq.stop(); vq.stop()
    val delivered = base ++ slices.take(epoch)
    val streamed = spark.table(Names.q(spark, idx.labels)).select("doc_id", "group_id")
      .as[(Long, Long)].collect().toMap
    val oneShot = TextOps.buildGroupIndex(spark,
      docs.filter((col("doc_id") % 100).isin(delivered: _*)))
    val truth = spark.table(Names.q(spark, oneShot.labels)).select("doc_id", "group_id")
      .as[(Long, Long)].collect().toMap
    ctx.check(streamed == truth, s"streamed labels (${streamed.size} docs, " +
      s"${streamed.values.toSet.size} groups) differ from the one-shot build " +
      s"(${truth.size} docs, ${truth.values.toSet.size} groups)")
    ctx.check(truth.size > truth.values.toSet.size, "the corpus has no near-duplicate groups")

    val (refT, refW) = twin
    VectorOps.ingestVectorBatch(spark, refT,
      vecs.where((col("vec_id") % 100).isin(vecSlices.take(epoch): _*)))
    for (q <- Seq(0L, 2L * ctx.rng.nextInt(Vectors / 2))) {
      val got = VectorOps.probeStoredIvf(spark, ivf, evens, q).collect().toSeq
      val want = VectorOps.probeStoredIvf(spark, refT, refW, q).collect().toSeq
      ctx.check(got == want, s"streamed IVF probe of $q differs from the batch twin:" +
        s"\n$got\nvs\n$want")
    }
  }

  override def layerMetrics: Map[String, Double] = Map(
    "queries.maintain_epochs" -> maintainEpochs.toDouble,
    "queries.index_files_max" -> filesMax.toDouble)
}

object LlmIngest {
  /** The sf0.1 test data's sizes. */
  val Docs = 5000
  val Vectors = 2000
  val WarmupEpochs = 1
  /** Whole maintenance cycles in the timed window. */
  val Cycles = 1
  /** Files the index tables may grow past the build before the in-loop
    * maintenance runs: both twins then maintain every second epoch, so
    * a short window holds whole cycles. */
  val DedupFileHeadroom = 40
  val IvfFileHeadroom = 16
}
