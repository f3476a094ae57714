package graft.perfbench

import graft.lake.LakeMeta

import scala.collection.mutable

/** dml_churn: one lake table loaded from `orders`, bucketed on the key
  * so a keyed statement rewrites a few files, with one materialized
  * view over it; then a closed loop of rounds. A round refreshes the MV,
  * runs the small INSERT / MERGE / UPDATE / DELETE statements of
  * `RoundDml` in that order with the reads of `RoundReads` (point reads
  * by key, `VERSION AS OF` reads of a seeded early snapshot, aggregates
  * the MV rewrite answers) dealt between them in seeded order, and ends
  * with `rewrite_data_files`. Snapshots are never expired: warm-up grows the
  * history with half a round and one-row appends to `WarmupSnapshots`,
  * and the timed window runs `Rounds` whole rounds, taking the history
  * to `EndSnapshots`, beyond the program's 64-entry metadata and
  * manifest caches.
  *
  * Every read and the final table are checked against a model of the
  * table kept here; an MV read must equal the model as of the last
  * refresh when the rewrite answered it, and the live model otherwise. */
final class DmlChurn(ctx: Ctx) extends Workload {
  import DmlChurn._
  private val spark = ctx.spark
  private val rng = ctx.rng

  Data.write(Data.orders(spark, ctx.seed, Scale), ctx.dataDir, "orders")
  spark.read.parquet(s"${ctx.dataDir}/orders.parquet").createOrReplaceTempView("src_orders")

  /** key -> (custkey, status, price in cents, priority) */
  private type Row = (Long, String, Long, String)
  /** The loaded rows, and the bucket of each key through the lake's own
    * `bucket` partition transform, so a keyed statement can be sent to a
    * fixed number of distinct buckets (files to rewrite) on every seed. */
  private val (initial, bucketOf) = {
    val rs = spark.table("src_orders")
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "cast(round(o_totalprice * 100) as bigint)", "o_orderpriority",
        s"bench.db.bucket($Buckets, o_orderkey)")
      .collect()
    val rows: Map[Long, Row] = rs.map(r => r.getLong(0) ->
      (r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))).toMap
    (rows, rs.map(r => r.getLong(0) -> r.getLong(5)).toMap)
  }

  private var rep = -1
  private def table = s"orders_$rep"
  private def q = s"bench.db.$table"
  private def mv = s"mv_orders_$rep"
  private def parts = Seq("bench", "db", table)
  private val model = mutable.HashMap[Long, Row]()
  private val live = mutable.ArrayBuffer[Long]()
  private val livePos = mutable.HashMap[Long, Int]()
  /** snapshot id -> (rows, sum of keys, sum of price cents) */
  private val history = mutable.ArrayBuffer[(Long, (Long, Long, Long))]()
  /** Time-travel reads target one of the first `travelPool` snapshots:
    * the history before the appends, so each read scans a similar file
    * count however far back the seed reaches. */
  private var travelPool = Int.MaxValue
  /** status -> (rows, price cents) as of the last MV refresh */
  private var refreshed: Map[String, (Long, Long)] = Map.empty
  private var nextKey = 0L
  private var roundsDone = 0
  private var windowStart = 0
  private var mvReads = 0L
  private var mvAnswered = 0L

  def setup(): Unit = {
    rep += 1
    ctx.sql(s"CREATE TABLE $q USING lake PARTITIONED BY (bucket($Buckets, " +
      "o_orderkey)) AS SELECT * FROM src_orders")
    ctx.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT o_orderstatus, o_orderpriority, " +
      s"count(*) AS n, sum(o_totalprice) AS total FROM $q " +
      "GROUP BY o_orderstatus, o_orderpriority")
    model.clear(); model ++= initial
    live.clear(); livePos.clear()
    initial.keys.toSeq.sorted.foreach(addLive)
    nextKey = initial.keys.max + 1
    history.clear(); travelPool = Int.MaxValue; roundsDone = 0
    refreshed = byStatus
    recordSnapshot()
  }

  def dropSetup(): Unit = {
    ctx.sql(s"DROP MATERIALIZED VIEW IF EXISTS $mv")
    ctx.sql(s"DROP TABLE IF EXISTS $q PURGE")
  }

  def tables: Seq[String] = Seq(table)
  private def location: String = LakeMeta.of(spark, parts).location

  private def addLive(k: Long): Unit = { livePos(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = livePos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; livePos(last) = i }
  }
  private def anyLive(): Long = live(rng.nextInt(live.size))
  /** `n` live loaded keys, each in a different bucket. */
  private def keysInBuckets(n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashMap[Long, Long]()
    while (picked.size < n) {
      val k = anyLive()
      bucketOf.get(k).foreach(b => if (!picked.contains(b)) picked(b) = k)
    }
    picked.values.toSeq
  }

  private def aggregate: (Long, Long, Long) =
    (model.size.toLong, model.keysIterator.sum, model.valuesIterator.map(_._3).sum)
  private def byStatus: Map[String, (Long, Long)] =
    model.values.groupBy(_._2).map { case (st, rs) => st -> (rs.size.toLong, rs.map(_._3).sum) }

  private def recordSnapshot(): Unit = {
    val id = LakeMeta.of(spark, parts).currentSnapshotId("main").get
    if (history.isEmpty || history.last._1 != id) history += id -> aggregate
  }

  private def cents(c: Long) = f"${c / 100}%d.${c % 100}%02d"

  /** A DML op: the model follows only when the statement succeeded; a
    * failed statement re-reads the table so later checks stay exact. */
  private def dml(kind: String, stmt: String)(apply: => Unit): Unit =
    ctx.op(kind, "heavy")(ctx.sql(stmt)) match {
      case Some(_) => apply; recordSnapshot()
      case None => resync()
    }

  private def resync(): Unit = {
    model.clear(); model ++= readTable()
    live.clear(); livePos.clear(); model.keys.toSeq.sorted.foreach(addLive)
    recordSnapshot()
  }

  private def readTable(): Map[Long, Row] =
    ctx.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, " +
      s"cast(round(o_totalprice * 100) as bigint), o_orderpriority FROM $q")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))).toMap

  private var deck: List[String] = Nil

  /** The DML in its fixed order, so that the snapshots list the same file
    * layouts on every seed, with the reads dealt between the statements
    * at seeded places in seeded order. */
  private def deal(dml: Seq[String], reads: Seq[(String, Int)]): List[String] = {
    var rs = rng.shuffle(reads.flatMap { case (k, n) => Seq.fill(n)(k) })
    var ds = dml
    rng.shuffle(Seq.fill(ds.size)(true) ++ Seq.fill(rs.size)(false)).map { isDml =>
      if (isDml) { val k = ds.head; ds = ds.tail; k }
      else { val k = rs.head; rs = rs.tail; k }
    }.toList
  }

  def step(): Unit = {
    if (deck.isEmpty) {
      ctx.op("mv_refresh", "other")(ctx.sql(s"REFRESH MATERIALIZED VIEW $mv"))
        .foreach(_ => refreshed = byStatus)
      deck = deal(RoundDml, RoundReads) :+ "compact"
    }
    val kind = deck.head
    deck = deck.tail
    runOp(kind)
    if (deck.isEmpty) roundsDone += 1
  }

  private def runOp(kind: String): Unit =
    kind match {
      case "compact" =>
        ctx.op(kind, "other")(ctx.sql(
          s"CALL bench.system.rewrite_data_files(table => 'db.$table')").collect())
        recordSnapshot()
      case "insert" | "append" =>
        val rows = Seq.fill(if (kind == "insert") 5 else 1) {
          val k = nextKey; nextKey += 1
          k -> (rng.nextInt(15000).toLong, "O", 90000L + rng.nextInt(5000000), "3-MEDIUM")
        }
        dml(kind, s"INSERT INTO $q VALUES " + rows.map { case (k, (c, st, p, pr)) =>
          s"($k, $c, '$st', ${cents(p)}, TIMESTAMP '1998-08-01 00:00:00', '$pr')"
        }.mkString(", ")) { rows.foreach { case (k, v) => model(k) = v; addLive(k) } }
      case "merge" =>
        val old = keysInBuckets(3)
        val fresh = nextKey; nextKey += 1
        val prices = (old :+ fresh).map(k => k -> (90000L + rng.nextInt(5000000)))
        dml(kind, s"MERGE INTO $q t USING (SELECT * FROM VALUES " +
          prices.map { case (k, p) => s"($k, ${cents(p)})" }.mkString(", ") +
          " AS s(k, p)) s ON t.o_orderkey = s.k " +
          "WHEN MATCHED THEN UPDATE SET o_totalprice = s.p " +
          "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, " +
          "o_totalprice, o_orderdate, o_orderpriority) VALUES (s.k, 0, 'O', s.p, " +
          "TIMESTAMP '1998-08-02 00:00:00', '5-LOW')") {
          prices.foreach { case (k, p) =>
            model.get(k) match {
              case Some((c, st, _, pr)) => model(k) = (c, st, p, pr)
              case None => model(k) = (0L, "O", p, "5-LOW"); addLive(k)
            }
          }
        }
      case "update" =>
        val keys = keysInBuckets(3)
        dml(kind, s"UPDATE $q SET o_orderpriority = '1-URGENT', " +
          s"o_totalprice = o_totalprice + 1.0 WHERE o_orderkey IN (${keys.mkString(", ")})") {
          keys.foreach { k =>
            val (c, st, p, _) = model(k); model(k) = (c, st, p + 100, "1-URGENT")
          }
        }
      case "delete" =>
        val keys = keysInBuckets(2)
        dml(kind, s"DELETE FROM $q WHERE o_orderkey IN (${keys.mkString(", ")})") {
          keys.foreach { k => model.remove(k); removeLive(k) }
        }
      case "point_read" =>
        // a deleted or never-written key must read back empty
        val k = if (rng.nextInt(10) == 0) rng.nextLong(nextKey + 100) else anyLive()
        ctx.op(kind, "light")(readPoint(k)).foreach { got =>
          ctx.check(got == model.get(k), s"point read of $k: $got vs ${model.get(k)}")
        }
      case "time_travel_read" =>
        val (id, want) = history(rng.nextInt(math.min(history.size, travelPool)))
        ctx.op(kind, "light")(ctx.sql(
          s"SELECT count(*), coalesce(sum(o_orderkey), 0), " +
          s"coalesce(sum(cast(round(o_totalprice * 100) as bigint)), 0) " +
          s"FROM $q VERSION AS OF $id").collect()).foreach { rs =>
          val got = (rs(0).getLong(0), rs(0).getLong(1), rs(0).getLong(2))
          ctx.check(got == want, s"snapshot $id reads $got, model $want")
        }
      case "mv_read" =>
        ctx.op(kind, "light") {
          val df = ctx.sql(s"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total " +
            s"FROM $q GROUP BY o_orderstatus")
          (df.collect(), df.queryExecution.optimizedPlan.toString
            .contains(graft.mv.MvCommands.backingName(mv)))
        }.foreach { case (rs, answered) =>
          mvReads += 1
          if (answered) mvAnswered += 1
          val got = rs.map(r => r.getString(0) ->
            (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
          val want = if (answered) refreshed else byStatus
          ctx.check(got == want, s"MV read (rewritten=$answered): $got vs $want")
        }
    }

  private def readPoint(k: Long): Option[Row] = {
    val rs = ctx.sql(s"SELECT o_custkey, o_orderstatus, " +
      s"cast(round(o_totalprice * 100) as bigint), o_orderpriority FROM $q " +
      s"WHERE o_orderkey = $k").collect()
    if (rs.length > 1) throw new IllegalStateException(s"key $k has ${rs.length} rows")
    rs.headOption.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
  }

  /** Half a round warms every statement kind; one-row appends then grow
    * the history to `WarmupSnapshots`, and a compaction folds their
    * small files, so the timed rounds start from a compacted table.
    * Time-travel reads keep to the history before the appends. */
  def warmup(): Unit = {
    deal(RoundDml.take(RoundDml.size / 2),
      RoundReads.map { case (k, n) => (k, (n + 1) / 2) }).foreach(runOp)
    travelPool = history.size
    while (history.size < WarmupSnapshots - 1) runOp("append")
    runOp("compact")
    windowStart = history.size
  }

  def windowDone: Boolean = roundsDone >= Rounds

  def sizes: Map[String, Any] = Map("rows_loaded" -> initial.size, "rounds" -> roundsDone,
    "snapshots_start" -> windowStart, "snapshots_end" -> history.size,
    "rows_end" -> model.size)

  /** The table directory at the end of the window. */
  def storedBytes: Long = Env.dirBytes(location)

  /** DML statement latency over the window's whole rounds, as the
    * round's mix of per-kind medians. */
  def heavyMs(ops: Seq[Op]): Double = Workload.mixMedian(ops, "heavy")
  /** Read latency over the same rounds, likewise. */
  def lightMs(ops: Seq[Op]): Double = Workload.mixMedian(ops, "light")

  def finish(): Unit = {
    val got = readTable()
    ctx.check(got.size == model.size, s"final table has ${got.size} rows, model ${model.size}")
    val bad = model.iterator.filter { case (k, v) => !got.get(k).contains(v) }.take(3).toSeq
    ctx.check(bad.isEmpty, s"final table differs from the model at $bad")
    ctx.check(roundsDone == Rounds, s"window ran $roundsDone of $Rounds rounds")
    ctx.check(history.size > CacheEntries,
      s"history reached ${history.size} snapshots, not past the $CacheEntries-entry caches")
  }

  override def layerMetrics: Map[String, Double] = Map(
    "lake.snapshots_reached" -> history.size.toDouble,
    "mv.hit_ratio" -> (if (mvReads == 0) 0.0 else mvAnswered.toDouble / mvReads))
}

object DmlChurn {
  val Scale = 0.02
  val Buckets = 16
  /** The DML statements of one round, in order; its first half holds
    * one of each kind. */
  val RoundDml = Seq("insert", "update", "insert", "merge", "insert", "delete",
    "insert", "update", "insert", "merge", "insert", "delete")
  /** The reads of one round, each kind with its count. */
  val RoundReads = Seq("point_read" -> 4, "time_travel_read" -> 2, "mv_read" -> 2)
  /** Whole rounds in the timed window. */
  val Rounds = 2
  /** Snapshots one round commits: its statements and the compaction. */
  val RoundCommits = RoundDml.size + 1
  /** The program's metadata and manifest caches hold this many entries. */
  val CacheEntries = 64
  /** The window ends at `EndSnapshots`, past the caches. */
  val EndSnapshots = 66
  val WarmupSnapshots = EndSnapshots - Rounds * RoundCommits
}
