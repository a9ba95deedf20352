package perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, ChSql}
import graft.functions.{ChCompat, Dictionaries}
import graft.mv.{BitmapUvMetric, CountMetric, MaterializedView, StateTable, SumMetric}
import graft.operators.Sessionize

/** One analyst issuing a weighted mix of ClickHouse-dialect dashboard
  * queries, closed loop: `ChSql` translates, `spark.sql` plans and runs.
  * The data are 30 days of action_001 rows, the user and item dimensions
  * (views and dictionaries) and one prebuilt, compacted state table.
  */
final class DashboardRead(spark: SparkSession, seed: Long, tracer: Tracer, cpus: Int)
    extends Workload {
  import DashboardRead._

  private var dir = ""
  private var inBytes = 0L
  /** First answer per (template, parameter set), and the ops that gave it. */
  private val answers = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Seq[String]]

  private def dictGender(uid: org.apache.spark.sql.Column) =
    call_function("dictGet", lit("dim.dict_user_dim"), lit("gender"), uid)

  def setup(d: String): Unit = {
    dir = d
    Gen.usersDF(spark, Gen.users(seed)).write.parquet(s"$d/user_dim")
    Gen.itemsDF(spark, seed).write.parquet(s"$d/item_dim")
    Gen.events(spark, seed, spark.read.parquet(s"$d/user_dim"), Days, PerDay, cpus)
      .write.partitionBy("day").parquet(s"$d/action_001")
    val ev = spark.read.parquet(s"$d/action_001")
    Gen.checkActions(ev)
    inBytes = ev.agg(sum(lit(56L) + octet_length(col("platform")) + octet_length(col("ip")) +
      octet_length(col("isp")) + octet_length(col("ver")))).head().getLong(0)
    tracer.span("engine.catalog_register") {
      Catalog.databases.foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))
      Catalog.registerParquet(spark, "ods.action_001_local", s"$d/action_001")
      Catalog.registerParquet(spark, "dim.user_dim", s"$d/user_dim")
      Catalog.registerParquet(spark, "dim.item_dim", s"$d/item_dim")
    }
    tracer.span("functions.dict_register") {
      ChCompat.register(spark)
      Dictionaries.register(spark, "dim.dict_user_dim", spark.table("dim.user_dim").drop("day"), "uid")
      Dictionaries.register(spark, "dim.dict_item_dim", spark.table("dim.item_dim").drop("day"),
        "item_id")
    }
    // the state table is filled the way the reference fills it: the whole
    // log sent once through a materialized view (dictGet enrichment, an
    // exactly-once dwm append cascading to dws), then compacted
    tracer.span("mv.prebuild") {
      def table(name: String, keys: Seq[String]) = new StateTable(spark, s"$d/$name", keys, "day",
        Seq(BitmapUvMetric("show_bm", col("uid")), SumMetric("show_cnt", col("show_cnt")),
          SumMetric("click_cnt", col("click_cnt")), CountMetric("cnt")))
      val dwm = table("dwm", Seq("day", "hour", "platform", "ver", "gender"))
      val mv = new MaterializedView("mv_action_001",
        _.withColumn("gender", dictGender(col("uid"))), dwm,
        cascades = Seq(table("dws", Seq("day", "platform", "gender"))))
      tracer.span("mv.process_batch")(mv.processBatchExactlyOnce(spark.table("ods.action_001_local"), 0L))
      tracer.span("mv.compact")(dwm.compact())
      Catalog.registerParquet(spark, "dwm.mainpage_stat", dwm.path)
    }
    answers.clear()
  }

  def warmupOps: Int = Slots.size

  /** Op `i`'s template and parameter set. The warm-up runs every slot once;
    * then each round runs every slot once with each parameter set, in an
    * order shuffled per round from the seed, so every round does the same
    * work.
    */
  private def schedule(i: Int): (String, Int) =
    if (i < warmupOps) (Slots(i), 0)
    else {
      val j = i - warmupOps
      val order = Gen.rng(seed, 20, (j / Round).toLong)
      val ops = (0 until Round).toArray
      for (k <- ops.length - 1 to 1 by -1) {
        val m = order.nextInt(k + 1); val t = ops(k); ops(k) = ops(m); ops(m) = t
      }
      val op = ops(j % Round)
      (Slots(op % Slots.size), op / Slots.size)
    }

  /** Parameter set `k` of a template's pool: first day, day count, platform.
    * Only the first day comes from the seed; range length and platform are
    * fixed per set, so every seed does the same amount of work.
    */
  private def params(tpl: String, k: Int): (String, String, Int, String) = {
    val len = Seq(3, 7)(k)
    val d0 = Gen.rng(seed, 22, Pool(tpl).toLong, k.toLong).nextInt(Days - len + 1)
    val p = Seq("ios", "android")(k)
    (Gen.Day0.plusDays(d0.toLong).toString, Gen.Day0.plusDays((d0 + len - 1).toLong).toString, len, p)
  }

  private def sql(tpl: String, d0: String, d1: String, p: String): String = {
    val range = s"day BETWEEN toDate('$d0') AND toDate('$d1')"
    val gender = "dictGet('dim.dict_user_dim', 'gender', uid)"
    tpl match {
      case "uv_pv_raw" =>
        s"""SELECT day, platform, uniqExact(uid) AS uv, sum(show_cnt) AS pv, count(*) AS n
           |FROM ods.action_001_local WHERE $range
           |GROUP BY day, platform ORDER BY day, platform""".stripMargin
      case "uv_pv_state" =>
        s"""SELECT day, platform, groupBitmapMerge(show_bm) AS uv, sum(show_cnt) AS pv, sum(cnt) AS n
           |FROM dwm.mainpage_stat WHERE $range
           |GROUP BY day, platform ORDER BY day, platform""".stripMargin
      case "dict_uv" =>
        s"""SELECT $gender AS gender, uniqExact(uid) AS uv, count(*) AS n
           |FROM ods.action_001_local WHERE day = toDate('$d0') AND platform = '$p'
           |GROUP BY gender ORDER BY gender""".stripMargin
      case "join_uv" =>
        s"""SELECT u.gender AS gender, uniqExact(a.uid) AS uv, count(*) AS n
           |FROM ods.action_001_local AS a LEFT JOIN dim.user_dim AS u ON a.uid = u.uid
           |WHERE a.day = toDate('$d0') AND a.platform = '$p'
           |GROUP BY u.gender ORDER BY gender""".stripMargin
      case "bitmap_funnel" =>
        s"""SELECT gender, bitmapCardinality(shown) AS shown_uv, bitmapCardinality(clicked) AS click_uv,
           |       bitmapAndCardinality(clicked, longview) AS click_long_uv
           |FROM (SELECT $gender AS gender, groupBitmapState(uid) AS shown,
           |             groupBitmapStateIf(uid, click_cnt > 0) AS clicked,
           |             groupBitmapStateIf(uid, show_time > 20000) AS longview
           |      FROM ods.action_001_local WHERE $range GROUP BY gender)
           |ORDER BY gender""".stripMargin
      case "wide_union" =>
        s"""SELECT day, gender, max(shows) AS shows, max(clicks) AS clicks, max(click_rows) AS click_rows
           |FROM (SELECT day, $gender AS gender, sum(show_cnt) AS shows, 0 AS clicks, 0 AS click_rows
           |      FROM ods.action_001_local WHERE $range GROUP BY day, gender
           |      UNION ALL
           |      SELECT day, $gender AS gender, 0 AS shows, sum(click_cnt) AS clicks, count(*) AS click_rows
           |      FROM ods.action_001_local WHERE $range AND click_cnt > 0 GROUP BY day, gender)
           |GROUP BY day, gender ORDER BY day, gender""".stripMargin
      case "hourly_rollup" =>
        s"""SELECT toStartOfHour(second) AS h, platform, count(*) AS n, sum(click_cnt) AS clicks,
           |       sum(show_time) AS show_time
           |FROM ods.action_001_local WHERE $range
           |GROUP BY h, platform ORDER BY h, platform""".stripMargin
      case "sessions" =>
        s"""SELECT uid, second FROM ods.action_001_local WHERE $range AND platform = '$p'"""
    }
  }

  private def run(tpl: String, q: String): Seq[String] = {
    val text = tracer.span("engine.translate")(ChSql(q))
    val df = tracer.span("engine.analyze")(spark.sql(text))
    if (tpl == "sessions")
      tracer.span("operators.sessionize") {
        Harness.canon(Sessionize.sessionStats(df, "uid", "second", SessionGapS)
          .agg(count(lit(1)), sum(col("n_events")), max(col("n_events"))))
      }
    else {
      tracer.span("engine.plan")(df.queryExecution.executedPlan)
      tracer.span("engine.execute")(Harness.canon(df))
    }
  }

  override def kind(i: Int): String = schedule(i)._1

  override def cycle: Int = Round

  def op(i: Int): Outcome = {
    val (tpl, k) = schedule(i)
    val (d0, d1, len, p) = params(tpl, k)
    val (got, ms) = Harness.timedMs(tracer.span(s"engine.tpl.$tpl")(run(tpl, sql(tpl, d0, d1, p))))
    val ok = answers.get(tpl -> k) match {
      case Some(prev) => prev == got
      case None => answers(tpl -> k) = got; true
    }
    val rows = PerDay.toLong * (if (Set("dict_uv", "join_uv")(tpl)) 1 else len)
    Outcome(tpl, ms, rows, ok)
  }

  /** The answer plain Spark built-ins give over the same parquet. */
  private def expected(tpl: String, k: Int): Seq[String] = {
    val (d0, d1, _, p) = params(tpl, k)
    val ev = spark.read.parquet(s"$dir/action_001")
    val inRange = ev.where(col("day").between(lit(d0).cast("date"), lit(d1).cast("date")))
    val gender = spark.read.parquet(s"$dir/user_dim").select("uid", "gender")
    tpl match {
      case "uv_pv_raw" | "uv_pv_state" =>
        Harness.canon(inRange.groupBy("day", "platform")
          .agg(countDistinct("uid"), sum("show_cnt"), count(lit(1))))
      case "dict_uv" | "join_uv" =>
        Harness.canon(ev.where(col("day") === lit(d0).cast("date") && col("platform") === p)
          .join(gender, Seq("uid"), "left").groupBy("gender").agg(countDistinct("uid"), count(lit(1))))
      case "bitmap_funnel" =>
        val perUser = inRange.join(gender, "uid").groupBy("gender", "uid")
          .agg(max(col("click_cnt") > 0).as("c"), max(col("show_time") > 20000).as("l"))
        Harness.canon(perUser.groupBy("gender").agg(count(lit(1)),
          sum(when(col("c"), 1L).otherwise(0L)), sum(when(col("c") && col("l"), 1L).otherwise(0L))))
      case "wide_union" =>
        Harness.canon(inRange.join(gender, "uid").groupBy("day", "gender").agg(sum("show_cnt"),
          sum("click_cnt"), sum(when(col("click_cnt") > 0, 1L).otherwise(0L))))
      case "hourly_rollup" =>
        Harness.canon(inRange.groupBy(date_trunc("HOUR", col("second")), col("platform"))
          .agg(count(lit(1)), sum("click_cnt"), sum("show_time")))
      case "sessions" =>
        val byUser = inRange.where(col("platform") === p).select("uid", "second").collect()
          .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).groupBy(_._1)
        val sizes = byUser.values.toSeq.flatMap { evs =>
          val ts = evs.map(_._2).sorted
          val out = scala.collection.mutable.ArrayBuffer(1L)
          ts.sliding(2).foreach {
            case Array(a, b) if b - a > SessionGapS * 1000L => out += 1L
            case Array(_, _) => out(out.size - 1) += 1
            case _ =>
          }
          out
        }
        Seq(s"${sizes.size}|${sizes.sum}|${sizes.max}")
    }
  }

  def finish(): Seq[String] = {
    // the reference answers are independent queries: run them side by side
    val pool = Executors.newFixedThreadPool(cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val vsPlain =
      try Await.result(Future.traverse(answers.toSeq) { case ((tpl, k), got) =>
        Future(Option.when(got != expected(tpl, k))(s"$tpl[$k] differs from plain Spark"))
      }, 120.seconds).flatten
      finally pool.shutdown()
    val pairs = Seq("uv_pv_state" -> "uv_pv_raw", "dict_uv" -> "join_uv").flatMap { case (a, b) =>
      (0 until PoolSize).collect {
        case k if answers.contains(a -> k) && answers.contains(b -> k) &&
            answers(a -> k) != answers(b -> k) => s"$a[$k] differs from $b[$k]"
      }
    }
    vsPlain ++ pairs
  }

  def storedBytes: Long =
    Seq("action_001", "dwm", "dws", "user_dim", "item_dim").map(t => Harness.bytesUnder(s"$dir/$t")).sum

  def inputBytes: Long = inBytes

  def layerMetrics(t: Tracer): Map[String, Metric] = {
    val ev = spark.read.parquet(s"$dir/action_001").cache()
    val n = ev.count()
    def pass(df: DataFrame) = Metric(Harness.nsPerRow(df, n), "ns/row")
    val m = Map(
      "functions.dictget_ns_per_row" -> pass(ev.select(dictGender(col("uid")))),
      "functions.bitmap_state_ns_per_row" ->
        pass(ev.groupBy("day", "platform").agg(expr("groupBitmapState(uid)"))),
      "functions.uniq_exact_ns_per_row" ->
        pass(ev.groupBy("day", "platform").agg(expr("uniqExact(uid)"))))
    ev.unpersist()
    val parts = Harness.dataFiles(s"$dir/dwm").groupBy(_.getParentFile).values
    m + ("mv.files_per_partition" ->
      Metric(parts.map(_.size).sum.toDouble / math.max(1, parts.size), "count"))
  }
}

object DashboardRead {
  val Days = 30
  val PerDay = 4000
  val PoolSize = 2
  val SessionGapS = 1800L
  /** The weighted mix: 13 slots. */
  val Slots: Seq[String] = Seq(
    "uv_pv_raw", "uv_pv_raw", "uv_pv_state", "uv_pv_state", "uv_pv_state",
    "dict_uv", "dict_uv", "join_uv", "bitmap_funnel", "wide_union",
    "hourly_rollup", "hourly_rollup", "sessions")
  /** Templates that must answer alike share a parameter pool. */
  val Pool: Map[String, Int] = Map("uv_pv_raw" -> 0, "uv_pv_state" -> 0, "dict_uv" -> 1,
    "join_uv" -> 1, "bitmap_funnel" -> 2, "wide_union" -> 3, "hourly_rollup" -> 4, "sessions" -> 5)
  val Templates: Seq[String] = Slots.distinct
  val Round: Int = Slots.size * PoolSize
}
