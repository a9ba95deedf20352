package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Warehouse
import graft.functions.{ChCompat, Dictionaries}
import graft.mv.{BitmapUvMetric, CountMetric, MaterializedView, StateTable, SumMetric}

/** One writer sending action_001 insert blocks through a materialized view,
  * closed loop. Each block is enriched with the user's gender by dictGet,
  * lands exactly once in a dwm state table and cascades to a dws table;
  * then one read-after-write runs. Every 5th block compacts, every 7th
  * replays an already-committed block id, and TTL drops old days as the
  * event clock rolls over midnight.
  */
final class MvIngest(spark: SparkSession, seed: Long, tracer: Tracer) extends Workload {
  import MvIngest._

  private var users = IndexedSeq.empty[Gen.User]
  private var dwm: StateTable = _
  private var dws: StateTable = _
  private var mv: MaterializedView = _
  /** Committed rows and input bytes per event day, minus expired days. */
  private val dayRows = scala.collection.mutable.Map.empty[LocalDate, Long]
  private val dayBytes = scala.collection.mutable.Map.empty[LocalDate, Long]
  private val committed = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var today: LocalDate = Gen.Day0
  private var filesWritten = Seq.empty[Double]
  private var compactBytes = Seq.empty[Double]
  private var replayFailures = 0

  private def metrics = Seq(BitmapUvMetric("show_bm", col("uid")), SumMetric("show_cnt", col("show_cnt")),
    SumMetric("click_cnt", col("click_cnt")), SumMetric("show_time", col("show_time")), CountMetric("cnt"))

  /** Block `b`'s rows: its events start 6 hours after block b-1's. */
  private def blockRows(b: Long): IndexedSeq[Row] =
    Gen.actions(seed, b, BlockRows, users, startSec(b), SpanS, LateShare, LateS)

  private def startSec(b: Long): Long = Gen.Day0.toEpochDay * 86400L + b * BlockStepS

  private def dayOf(sec: Long): LocalDate = LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, Gen.actionSchema)

  def setup(d: String): Unit = {
    users = Gen.users(seed)
    Gen.usersDF(spark, users).write.parquet(s"$d/user_dim")
    tracer.span("functions.dict_register") {
      ChCompat.register(spark)
      Dictionaries.register(spark, "dim.dict_user_dim", spark.read.parquet(s"$d/user_dim").drop("day"), "uid")
    }
    dayRows.clear(); dayBytes.clear(); committed.clear(); today = Gen.Day0
    filesWritten = Nil; compactBytes = Nil; replayFailures = 0
    tracer.span("mv.prebuild") {
      dwm = new StateTable(spark, s"$d/dwm", Seq("day", "hour", "platform", "ver", "gender"), "day", metrics)
      dws = new StateTable(spark, s"$d/dws", Seq("day", "platform", "gender"), "day", metrics)
      mv = new MaterializedView("mv_action_001",
        batch => Warehouse.withTimeDefaults(batch, "second")
          .withColumn("gender", call_function("dictGet", lit("dim.dict_user_dim"), lit("gender"), col("uid"))),
        dwm, cascades = Seq(dws))
      (0 until PrebuildBlocks).foreach(b => ingest(b.toLong, blockRows(b.toLong)))
    }
  }

  /** Sends block `b` through the view and books its rows. */
  private def ingest(b: Long, rows: IndexedSeq[Row]): Unit = {
    def files = Harness.dataFiles(dwm.path).size + Harness.dataFiles(dws.path).size
    val before = if (tracer.active) files else 0
    val fresh = tracer.span("mv.process_batch")(mv.processBatchExactlyOnce(frame(rows), b))
    require(fresh, s"block $b was not fresh")
    if (tracer.active)
      filesWritten :+= (files - before).toDouble
    committed += b
    rows.foreach { r =>
      val day = dayOf(r.getTimestamp(0).getTime / 1000L)
      dayRows(day) = dayRows.getOrElse(day, 0L) + 1
      dayBytes(day) = dayBytes.getOrElse(day, 0L) + Gen.actionBytes(r)
    }
  }

  def warmupOps: Int = 2

  def op(i: Int): Outcome = {
    val b = PrebuildBlocks + i.toLong
    val rows = blockRows(b)
    val (_, ms) = Harness.timedMs {
      ingest(b, rows)
      if (b % CompactEvery == CompactEvery - 1) {
        def files = Harness.snapshot(dwm.path) ++ Harness.snapshot(dws.path).map { case (k, v) => ("s" + k, v) }
        val before = if (tracer.active) files else Map.empty[String, Long]
        tracer.span("mv.compact") { dwm.compact(); dws.compact() }
        if (tracer.active)
          compactBytes :+= files.filter { case (k, _) => !before.contains(k) }.values.sum.toDouble
      }
      val day = dayOf(startSec(b))
      if (day.isAfter(today)) {
        today = day
        tracer.span("mv.expire") { dwm.expire(TtlDays, day); dws.expire(TtlDays, day) }
        dayRows.keys.filter(_.plusDays(TtlDays.toLong).isBefore(day)).toSeq.foreach { k =>
          dayRows.remove(k); dayBytes.remove(k)
        }
      }
    }
    // read-after-write: the block's day, merged on read, must count every row
    val day = dayOf(startSec(b))
    val got = tracer.span("mv.fresh_read") {
      dwm.finalized(Seq("day", "platform")).where(col("day") === lit(java.sql.Date.valueOf(day)))
        .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    }
    var ok = got == dayRows.getOrElse(day, 0L)
    if (b % ReplayEvery == ReplayEvery - 1) ok &= replay(b - 2)
    Outcome("batch", ms, BlockRows.toLong, ok)
  }

  /** Re-sends a committed block id: must be refused and leave both tables' bytes alone. */
  private def replay(b: Long): Boolean = {
    val before = (Harness.snapshot(dwm.path), Harness.snapshot(dws.path))
    val fresh = tracer.span("mv.replay")(mv.processBatchExactlyOnce(frame(blockRows(b)), b))
    val same = (Harness.snapshot(dwm.path), Harness.snapshot(dws.path)) == before
    if (fresh || !same) replayFailures += 1
    !fresh && same
  }

  /** The final merge-on-read answer against a raw aggregation of every
    * committed block still inside the TTL window.
    */
  def finish(): Seq[String] = {
    val horizon = today.minusDays(TtlDays.toLong)
    dwm.expire(TtlDays, today); dws.expire(TtlDays, today)
    dwm.compact(); dws.compact()
    val sinceSec = horizon.toEpochDay * 86400L
    val raw = frame(committed.filter(b => startSec(b) + SpanS > sinceSec).flatMap(blockRows).toSeq)
      .where(to_date(col("second")) >= lit(java.sql.Date.valueOf(horizon)))
    val want = Harness.canon(raw.groupBy(to_date(col("second")).as("day"), col("platform"))
      .agg(countDistinct("uid"), sum("show_cnt"), sum("click_cnt"), sum("show_time"), count(lit(1))))
    def got(t: StateTable) = Harness.canon(t.finalized(Seq("day", "platform"))
      .select("day", "platform", "show_bm", "show_cnt", "click_cnt", "show_time", "cnt"))
    Seq(
      Option.when(got(dwm) != want)("dwm finalized differs from the raw aggregation"),
      Option.when(got(dws) != want)("dws finalized differs from the raw aggregation"),
      Option.when(replayFailures > 0)(s"$replayFailures replays were not refused cleanly")).flatten
  }

  def storedBytes: Long = Harness.bytesUnder(dwm.path) + Harness.bytesUnder(dws.path)

  def inputBytes: Long = dayBytes.values.sum

  def layerMetrics(t: Tracer): Map[String, Metric] = {
    val last = committed.takeRight(5).flatMap(b => blockRows(b))
    val in = Warehouse.withTimeDefaults(frame(last.toSeq), "second").cache()
    val n = in.count()
    def pass(df: DataFrame) = Metric(Harness.nsPerRow(df, n), "ns/row")
    val m = Map(
      "functions.dictget_ns_per_row" ->
        pass(in.select(call_function("dictGet", lit("dim.dict_user_dim"), lit("gender"), col("uid")))),
      "functions.bitmap_state_ns_per_row" ->
        pass(in.groupBy("day", "hour", "platform", "ver").agg(expr("groupBitmapState(uid)"))))
    in.unpersist()
    val parts = Harness.dataFiles(dwm.path).groupBy(_.getParentFile).values
    val retained = dayRows.values.sum
    m ++ Map(
      "mv.files_per_partition" -> Metric(parts.map(_.size).sum.toDouble / math.max(1, parts.size), "count"),
      "mv.files_written_per_batch" -> Metric(Harness.median(filesWritten), "count"),
      "mv.compact_bytes_rewritten" -> Metric(Harness.median(compactBytes), "bytes"),
      "mv.state_rows_per_input_row" ->
        Metric(dwm.read().count().toDouble / math.max(1L, retained), "ratio"))
  }
}

object MvIngest {
  val BlockRows = 20000
  /** Blocks start 6 hours apart and span 3; 5% of rows are up to 20 hours
    * late, so early blocks of a day carry rows of the day before.
    */
  val BlockStepS = 6 * 3600L
  val SpanS = 3 * 3600
  val LateShare = 0.05
  val LateS = 20 * 3600
  /** TTL keeps today and yesterday: late rows never reach a dropped day. */
  val TtlDays = 1
  val PrebuildBlocks = 1
  val CompactEvery = 5
  val ReplayEvery = 7
}
