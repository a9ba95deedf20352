package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Cluster, Dedup, NearDupIndex}
import graft.text.TextFunctions

/** A curation pipeline ingesting document batches, closed loop: a text
  * clean step (language and quality gates), near-dup dedup against an
  * index prebuilt from history, then the near-dup pair graph of the batch
  * and its connected components.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, tracer: Tracer) extends Workload {
  import CorpusDedup._
  import Gen.Kind

  private var dir = ""
  private var index: NearDupIndex = _
  private val prebuiltKept = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var offeredBytes = 0L
  private var offered = 0L
  private var kept = 0L
  private var passed = 0L
  private var shuffleRecordsPerDoc = Seq.empty[Double]
  private var batches = 0

  def setup(d: String): Unit = {
    dir = d
    val hist = Gen.history(seed)
    index = new NearDupIndex(spark, s"$d/index")
    val n = tracer.span("dedup.index_prebuild") {
      index.dedupAndAppend(Gen.docsDF(spark, hist), "text", "doc_id", Threshold).count()
    }
    prebuiltKept += n
    offeredBytes = hist.map(Gen.docBytes).sum
    offered = 0; kept = 0; passed = 0; shuffleRecordsPerDoc = Nil
  }

  /** The clean step: English, quality score at least 0.8. Materialized, so
    * the dedup step reads the cleaned batch once.
    */
  private def clean(docs: DataFrame): DataFrame =
    docs.where(TextFunctions.langId(col("text")) === "en" &&
      TextFunctions.qualityScore(col("text")) >= 0.8).localCheckpoint(eager = true)

  def warmupOps: Int = 1

  /** A run measures whole sets of three batches, so the median is always
    * taken over the same number of them.
    */
  override def cycle: Int = 3

  def op(i: Int): Outcome = {
    val docs = Gen.batch(seed, i.toLong, BatchDocs)
    batches = i + 1
    val (res, ms) = Harness.timedMs {
      val cleaned = tracer.span("text.clean")(clean(Gen.docsDF(spark, docs)))
      val survivors = tracer.span("dedup.dedup_and_append") {
        index.dedupAndAppend(cleaned, "text", "doc_id", Threshold).select("doc_id").collect().map(_.getLong(0))
      }
      val pairs = tracer.span("dedup.near_dups") {
        Dedup.minhashNearDups(cleaned, "text", "doc_id", threshold = Threshold).localCheckpoint(eager = true)
      }
      val comps = tracer.span("dedup.components") {
        Cluster.connectedComponents(pairs, "id_a", "id_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      (cleaned, pairs, survivors.toSet, comps)
    }
    val (cleaned, pairs, survivors, comps) = res
    // read-after-write: the index must now hold every doc kept so far
    val indexed = tracer.span("dedup.fresh_read")(index.indexedIds.count())
    val nClean = cleaned.count()
    Harness.release(cleaned)
    Harness.release(pairs)
    if (tracer.active) {
      val s = tracer.named("dedup.dedup_and_append").last.stats
      shuffleRecordsPerDoc :+= s.shuffleWriteRecords.toDouble / math.max(1L, nClean)
    }
    offered += docs.size; passed += nClean; kept += survivors.size
    offeredBytes += docs.map(Gen.docBytes).sum
    val problems = check(docs, survivors, comps) ++
      Option.when(indexed != prebuiltKept.last + kept)(
        s"index holds $indexed docs, expected ${prebuiltKept.last + kept}")
    problems.foreach(p => System.err.println(s"perfbench: batch $i: $p"))
    Outcome("batch", ms, docs.size.toLong, problems.isEmpty)
  }

  /** Every exact-replica group keeps exactly one doc and is one component;
    * no low-quality doc survives the clean step.
    */
  private def check(docs: Seq[Gen.Doc], survivors: Set[Long], comps: Map[Long, Long]): Seq[String] = {
    val replicas = docs.filter(_.kind == Kind.Replica).groupBy(_.group).toSeq.sortBy(_._1)
    replicas.flatMap { case (group, g) =>
      val keptN = g.count(d => survivors(d.id))
      val labels = g.map(d => comps.get(d.id)).distinct
      Option.when(keptN != 1)(s"replica group $group kept $keptN of ${g.size}") ++
        Option.when(labels.size != 1 || labels.head.isEmpty)(s"replica group $group spans components $labels")
    } ++ Option.when(docs.exists(d => d.kind == Kind.LowQuality && survivors(d.id)))(
      "a low-quality doc survived")
  }

  def finish(): Seq[String] =
    Option.when(prebuiltKept.distinct.size != 1)(
      s"index prebuild kept ${prebuiltKept.mkString(", ")} docs from the same seed").toSeq

  def storedBytes: Long = Harness.bytesUnder(s"$dir/index")

  def inputBytes: Long = offeredBytes

  def layerMetrics(t: Tracer): Map[String, Metric] = {
    // the kernels' input: the last five batches offered
    val in = Gen.docsDF(spark, (math.max(0, batches - 5) until batches)
      .flatMap(b => Gen.batch(seed, b.toLong, BatchDocs))).cache()
    val n = in.count()
    def pass(df: DataFrame) = Metric(Harness.nsPerRow(df, n), "ns/row")
    val m = Map(
      "functions.minhash_ns_per_row" -> pass(Dedup.minhashSignatures(in, "text", "doc_id", 64)),
      "text.tokens_ns_per_row" -> pass(in.select(TextFunctions.tokens(col("text")))),
      "text.quality_ns_per_row" -> pass(in.select(TextFunctions.qualityScore(col("text")))),
      "text.langid_ns_per_row" -> pass(in.select(TextFunctions.langId(col("text")))))
    in.unpersist()
    m ++ Map(
      "text.pass_ratio" -> Metric(passed.toDouble / math.max(1L, offered), "ratio"),
      "dedup.kept_ratio" -> Metric(kept.toDouble / math.max(1L, passed), "ratio"),
      "dedup.shuffle_records_per_doc" -> Metric(Harness.median(shuffleRecordsPerDoc), "count"),
      "dedup.index_files" -> Metric(Harness.dataFiles(s"$dir/index").size.toDouble, "count"))
  }
}

object CorpusDedup {
  val BatchDocs = 1000
  val Threshold = 0.5
}
