package perfbench

import java.sql.Timestamp
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded inputs in the reference's shapes (FIXTURES §1-3): the user and
  * item dimensions and the action_001 impression/click stream, plus a text
  * corpus for the dedup workload. The same seed gives the same inputs; the
  * library under test only ever sees the generated rows.
  */
object Gen {

  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  val AndroidBase = 100000000L
  val IosBase = 200000000L
  val NAndroid = 10000
  val NIos = 5000
  val NUsers: Int = NAndroid + NIos
  val NItems = 100
  val ItemBase = 100000L

  private val versions = (0 until 15).map(i => s"1.${1 + i / 4}.${221 + i * 51}")
  private val isps = Seq("cmcc", "ctcc", "cucc")
  private val provinces = (1 to 20).map(i => f"p$i%02d")

  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L + 1))

  def platformOf(uid: Long): String = if (uid < IosBase) "android" else "ios"

  final case class User(uid: Long, platform: String, province: String, isp: String,
      ver: String, ip: String, gender: String, age: Short)

  def users(seed: Long): IndexedSeq[User] = {
    val r = rng(seed, 1)
    (0 until NUsers).map { i =>
      val uid = if (i < NAndroid) AndroidBase + i else IosBase + (i - NAndroid)
      val g = r.nextInt(11)
      User(uid, platformOf(uid), provinces(r.nextInt(provinces.size)), isps(r.nextInt(3)),
        versions(r.nextInt(versions.size)),
        s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}",
        if (g < 5) "male" else if (g < 10) "female" else "unknown",
        (10 + r.nextInt(50)).toShort)
    }
  }

  def usersDF(spark: SparkSession, us: Seq[User]): DataFrame =
    spark.createDataFrame(us.map(u => Row(java.sql.Date.valueOf(Day0), u.uid, u.platform,
      u.province, u.isp, u.ver, u.ip, u.gender, u.age)).asJava,
      StructType(Seq(StructField("day", DateType), StructField("uid", LongType),
        StructField("platform", StringType), StructField("province", StringType),
        StructField("isp", StringType), StructField("app_version", StringType),
        StructField("ip", StringType), StructField("gender", StringType),
        StructField("age", ShortType))))

  def itemsDF(spark: SparkSession, seed: Long): DataFrame = {
    val r = rng(seed, 2)
    spark.createDataFrame((0 until NItems).map { i =>
      val id = ItemBase + i
      Row(java.sql.Date.valueOf(Day0), id, id % 100, 1L + r.nextInt(9999))
    }.asJava, StructType(Seq(StructField("day", DateType), StructField("item_id", LongType),
      StructField("type_id", LongType), StructField("price", LongType))))
  }

  val actionSchema: StructType = StructType(Seq(
    StructField("second", TimestampType), StructField("platform", StringType),
    StructField("ip", StringType), StructField("isp", StringType),
    StructField("uid", LongType), StructField("ver", StringType),
    StructField("item_id", LongType), StructField("show_cnt", LongType),
    StructField("click_cnt", LongType), StructField("show_time", LongType)))

  /** Uncompressed size of one action row: 8 bytes per number or time, the
    * UTF-8 length of each string. The base of `stored_bytes_per_input_byte`.
    */
  def actionBytes(r: Row): Long =
    8L * 7 + Seq(1, 2, 3, 5).map(i => r.getString(i).getBytes("UTF-8").length.toLong).sum

  /** One insert block of action_001 rows (`make_user_action_001.py`): event
    * times uniform in [start, start + span), a `lateShare` of rows up to
    * `lateSec` earlier, so blocks carry late rows across a day boundary.
    */
  def actions(seed: Long, block: Long, n: Int, us: IndexedSeq[User], startSec: Long,
      spanSec: Int, lateShare: Double, lateSec: Int): IndexedSeq[Row] = {
    val r = rng(seed, 3, block)
    (0 until n).map { _ =>
      val u = us(r.nextInt(us.size))
      val t = if (r.nextDouble() < lateShare) startSec - 1 - r.nextInt(lateSec)
              else startSec + r.nextInt(spanSec)
      val show = 1L + r.nextInt(100)
      val click = if (show >= 80 || u.uid % 13 == 0) r.nextLong(show + 1) else 0L
      require(click <= show && u.platform == platformOf(u.uid), "generator invariant")
      Row(new Timestamp(t * 1000L), u.platform, u.ip, u.isp, u.uid, u.ver,
        ItemBase + r.nextInt(NItems), show, click, 1000L + r.nextInt(29001))
    }
  }

  /** `days` days of action_001 rows, `perDay` a day, built in parallel from
    * seeded hashes and joined to the user dimension for the copied columns.
    */
  def events(spark: SparkSession, seed: Long, userDim: DataFrame, days: Int, perDay: Int,
      slices: Int): DataFrame = {
    def h(k: Int) = xxhash64(lit(seed), col("id"), lit(k))
    def u(k: Int, n: Int) = pmod(h(k), lit(n.toLong))
    val ui = u(1, NUsers)
    val show = lit(1L) + u(4, 100)
    spark.range(0, days.toLong * perDay, 1, slices)
      .select(
        timestamp_seconds(lit(Day0.toEpochDay * 86400L) + (col("id") / perDay).cast("long") * 86400L +
          u(2, 86400)).as("second"),
        when(ui < NAndroid, lit(AndroidBase) + ui).otherwise(lit(IosBase) + ui - NAndroid).as("uid"),
        (lit(ItemBase) + u(3, NItems)).as("item_id"),
        show.as("show_cnt"),
        h(5).as("h5"),
        (lit(1000L) + u(6, 29001)).as("show_time"))
      .withColumn("click_cnt",
        when(col("show_cnt") >= 80 || pmod(col("uid"), lit(13L)) === 0,
          pmod(col("h5"), col("show_cnt") + 1)).otherwise(lit(0L)))
      .join(broadcast(userDim.select(col("uid"), col("platform"), col("ip"), col("isp"), col("app_version").as("ver"))), "uid")
      .select(to_date(col("second")).as("day"), date_trunc("HOUR", col("second")).as("hour"),
        col("second"), col("platform"), col("ip"), col("isp"), col("uid"), col("ver"),
        col("item_id"), col("show_cnt"), col("click_cnt"), col("show_time"))
  }

  /** FIXTURES §6 generator invariants over written action rows. */
  def checkActions(df: DataFrame): Unit = {
    val r = df.agg(
      sum(when(col("click_cnt") > col("show_cnt"), 1).otherwise(0)),
      sum(when(col("platform") =!= when(col("uid") < IosBase, "android").otherwise("ios"), 1)
        .otherwise(0)),
      count(lit(1))).head()
    require(r.getLong(0) == 0, s"generator: ${r.getLong(0)} rows with click_cnt > show_cnt")
    require(r.getLong(1) == 0, s"generator: ${r.getLong(1)} rows whose platform is not the uid's")
    require(r.getLong(2) > 0, "generator: no rows")
  }

  // ---- corpus -------------------------------------------------------------

  object Kind { val Unique = 0; val NearDup = 1; val Replica = 2; val LowQuality = 3 }

  final case class Doc(id: Long, text: String, kind: Int, group: Long)

  private val stopwords = Array("the", "and", "of", "to", "in", "is", "that", "it", "was", "for")

  /** 40 words: every 5th an English stopword, the rest random 8-hex-digit
    * words, so the text passes the language and quality gates.
    */
  private def words(r: SplittableRandom, n: Int, from: Int = 0): Array[String] =
    Array.tabulate(n)(j => if ((from + j) % 5 == 4) stopwords(r.nextInt(stopwords.length))
                           else f"${r.nextInt()}%08x")

  private def base(seed: Long, group: Long): Array[String] = words(rng(seed, 7, group), 40)

  /** A near-dup of a group base: the first 36 words shared, 4 its own (as
    * in `BenchScale.docs`).
    */
  private def variant(b: Array[String], r: SplittableRandom): String =
    (b.take(36) ++ words(r, 4, 36)).mkString(" ")

  val HistoryGroups = 400

  /** The history the index is prebuilt from: 4 near-dups of each of the
    * history groups plus as many unique docs.
    */
  def history(seed: Long): IndexedSeq[Doc] = {
    val r = rng(seed, 8)
    val nd = (0 until HistoryGroups).flatMap { g =>
      val b = base(seed, g)
      (0 until 4).map(_ => Doc(0, variant(b, r), Kind.NearDup, g.toLong))
    }
    val uniq = (0 until HistoryGroups * 4).map(_ => Doc(0, words(r, 40).mkString(" "), Kind.Unique, -1))
    shuffle(nd ++ uniq, r).zipWithIndex.map { case (d, i) => d.copy(id = i.toLong) }
  }

  /** One ingest batch of `n` docs: 10% low quality (3 words, no stopwords),
    * about 25% exact replicas in whole groups of 8-32, 40% near-dups in groups of 4 (a
    * quarter of the groups near-dups of history groups), the rest unique.
    */
  def batch(seed: Long, b: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 9, b)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until n / 10).foreach(_ => out += Doc(0, words(r, 3, 0).map(_ + "x").mkString(" "),
      Kind.LowQuality, -1))
    var g = 0L
    while (out.size < n / 10 + n / 4) {
      val copies = 8 + r.nextInt(25)
      val text = words(r, 40).mkString(" ")
      val group = b * 1000 + g
      (0 until copies).foreach(_ => out += Doc(0, text, Kind.Replica, group))
      g += 1
    }
    (0 until (n * 4 / 10) / 4).foreach { k =>
      val (group, bs) =
        if (k % 4 == 0) { val hg = r.nextInt(HistoryGroups).toLong; (hg, base(seed, hg)) }
        else { val ng = 1000000L + b * 1000 + k; (ng, base(seed, ng)) }
      (0 until 4).foreach(_ => out += Doc(0, variant(bs, r), Kind.NearDup, group))
    }
    while (out.size < n) out += Doc(0, words(r, 40).mkString(" "), Kind.Unique, -1)
    shuffle(out.toIndexedSeq, r).zipWithIndex.map { case (d, i) => d.copy(id = (b + 1) * 100000L + i) }
  }

  private def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  def docsDF(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.text)).asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  def docBytes(d: Doc): Long = 8L + d.text.getBytes("UTF-8").length

  private implicit class AsJava[T](xs: Seq[T]) {
    def asJava: java.util.List[T] = scala.jdk.CollectionConverters.SeqHasAsJava(xs).asJava
  }
}
