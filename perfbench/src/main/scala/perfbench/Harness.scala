package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of the timed loop. `kind` names what ran (a query
  * template, or "batch"); `checked` is false when its result was wrong.
  */
final case class Outcome(kind: String, ms: Double, rows: Long, checked: Boolean)

/** A named figure with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** A benchmark workload. The harness calls [[setup]] several times (each
  * into a fresh directory; the last one stays live), then [[op]] for the
  * warm-up and the timed loop, then [[finish]].
  */
trait Workload {
  def setup(dir: String): Unit
  def warmupOps: Int
  /** What operation `i` will run, before it runs (a query template, or "batch"). */
  def kind(i: Int): String = "batch"
  /** Operations per round of the mix; the timed loop stops on a round's end,
    * so every run measures the same mix.
    */
  def cycle: Int = 1
  def op(i: Int): Outcome
  /** End-of-run correctness checks; each returned string is one failure. */
  def finish(): Seq[String]
  /** Bytes on disk of everything the workload stored, and of its input. */
  def storedBytes: Long
  def inputBytes: Long
  /** The workload's per-layer counts and kernel passes (traced run only). */
  def layerMetrics(t: Tracer): Map[String, Metric]
}

object Harness {

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Median (mean of the middle two on an even count); NaN on no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Regular files under `path` (hidden and underscore names included). */
  def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val root = new File(path)
    if (root.exists()) walk(root) else Nil
  }

  /** Data files (no checksums, markers or metadata) under `path`. */
  def dataFiles(path: String): Seq[File] =
    files(path).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  def bytesUnder(path: String): Long = dataFiles(path).map(_.length).sum

  /** A stable snapshot of a table directory: relative path -> size. */
  def snapshot(path: String): Map[String, Long] =
    files(path).map(f => f.getPath.stripPrefix(path) -> f.length).toMap

  /** Drops the blocks of a locally checkpointed frame whose consumers all ran. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case _ => ()
  }

  /** Rows of `df` as sorted strings: an order-free, exact result form. */
  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).sorted.toSeq

  /** Time for one projection-only pass of `df`, per input row: median of
    * three passes over a cached input of `rows` rows.
    */
  def nsPerRow(df: DataFrame, rows: Long): Double =
    median((0 until 3).map { _ =>
      timedMs(df.write.format("noop").mode("overwrite").save())._2
    }) * 1e6 / math.max(1L, rows)

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
