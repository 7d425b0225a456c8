package graft.perfbench

import graft.ext.{ClusterIndex, Clusters, Decontaminate, Dedup, DedupIndex, Retrieval, SearchIndex}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** `ingest_serve`: an LLM data pipeline that serves BM25 queries while it
  * ingests. Each op is one [[SearchIndex.topK]] query; after every
  * `QueriesPerBatch` queries one micro-batch of a corpus with planted
  * near-duplicate families is flagged against a held-out eval set, folded
  * into the [[DedupIndex]], its pairs folded into the [[ClusterIndex]], and
  * the batch folded into the [[SearchIndex]]. Every `CompactEvery`-th
  * batch then compacts all three indexes, so queries and folds run against
  * a base plus up to `CompactEvery` - 1 deltas as well as against a freshly
  * compacted base.
  */
final class IngestServe(spark: SparkSession, dir: String, seed: Long,
    tracer: Tracer) extends Workload(spark, dir, seed, tracer) {
  import IngestServe._

  private val corpus =
    new Gen.Corpus(seed, Gen.corpusParams(seed), EvalDocs)
  private val queries = new Gen.Queries(seed, corpus.params.vocab, Skew)
  private val indexDir = s"$dir/state"
  private lazy val evalFrame = docsFrame(corpus.eval)
  private val all = mutable.ArrayBuffer.empty[Gen.Doc]
  private var asked = 0
  private var sinceBatch = 0
  private var batches = 0
  private var flagged = Fingerprint.Zero
  private var ingested = 0L

  /** An answered query: its terms, the corpus size it saw, its answer. */
  private final case class Answer(id: Int, terms: Seq[String], docs: Int,
      fp: Fingerprint)
  private val answers = mutable.ArrayBuffer.empty[Answer]

  def sizes: Seq[(String, Any)] = Seq(
    "base_docs" -> BaseDocs, "batch_docs" -> BatchDocs,
    "queries_per_batch" -> QueriesPerBatch,
    "compact_every_batches" -> CompactEvery, "eval_docs" -> EvalDocs,
    "vocab" -> corpus.params.vocab,
    "doc_tokens" -> s"${corpus.params.minLen}-${corpus.params.maxLen}",
    "dup_share" -> corpus.params.dupShare,
    "contam_share" -> corpus.params.contamShare, "k" -> K,
    "terms_per_query" -> "1-3", "term_skew" -> Skew)

  def cycle: Int = QueriesPerBatch

  /** One query and one ingest batch; that batch does not compact, so the
    * timed queries read a base plus one delta and the first timed batch
    * folds onto it before compacting.
    */
  def warmup(): Unit = { op(); ingest() }

  def setup(): Unit = {
    val base = corpus.next(BaseDocs)
    all ++= base
    val df = docsFrame(base)
    DedupIndex.build(spark, df, indexDir, Name, "doc_id", "text")
    ClusterIndex.build(spark, DedupIndex.pairsWithin(spark, indexDir, Name),
      indexDir, Name)
    SearchIndex.build(spark, df, indexDir, Name, "doc_id", "text")
  }

  private def queryFrame(id: Int, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    terms.map(t => (id.toLong, t)).toDF("query_id", "term")
  }

  def op(): Int = {
    val terms = queries.next()
    val fp = tracer.span("ext.SearchIndex.topK") {
      tracer.materialize(SearchIndex.topK(spark, queryFrame(asked, terms),
        indexDir, Name, "doc_id", K))
    }
    answers += Answer(asked, terms, all.size, fp)
    asked += 1
    sinceBatch += 1
    1
  }

  override def background(): Unit =
    if (sinceBatch == QueriesPerBatch) ingest()

  private def ingest(): Unit = {
    val batch = corpus.next(BatchDocs)
    val df = docsFrame(batch)
    flagged += tracer.span("ext.Decontaminate.flagContaminated") {
      tracer.materialize(
        Decontaminate.flagContaminated(df, evalFrame, "doc_id", "text"))
    }
    // the fold's pairs are lazy: their verify runs in ClusterIndex.fold
    val pairs = tracer.span("ext.DedupIndex.fold") {
      DedupIndex.fold(spark, df, indexDir, Name, "doc_id", "text")
    }
    tracer.span("ext.ClusterIndex.fold") {
      tracer.materialize(ClusterIndex.fold(spark, pairs, indexDir, Name))
    }
    tracer.span("ext.SearchIndex.fold") {
      SearchIndex.fold(spark, df, indexDir, Name, "doc_id", "text")
    }
    batches += 1
    if (batches % CompactEvery == 0) {
      tracer.span("ext.DedupIndex.compact") {
        DedupIndex.compact(spark, indexDir, Name)
      }
      tracer.span("ext.ClusterIndex.compact") {
        ClusterIndex.compact(spark, indexDir, Name)
      }
      tracer.span("ext.SearchIndex.compact") {
        SearchIndex.compact(spark, indexDir, Name)
      }
    }
    all ++= batch
    sinceBatch = 0
    ingested += docBytes(batch)
  }

  def ingestedBytes: Long = ingested
  def generatedBytes: Long = docBytes(all.toSeq) + docBytes(corpus.eval)
  def stateDirs: Seq[String] = Seq(indexDir)

  /** Maintained labels, per-batch flags and sampled answers against the
    * one-shot operators over the documents each saw. The sample is the last
    * answer at each corpus size, plus one query asked now of the final
    * index.
    */
  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def labels(df: DataFrame) =
      df.select("node", "cluster_id").collect().map(r => r.toSeq).toSet
    val want = labels(Clusters.connectedComponents(
      Dedup.minhashNearDupPairs(docsFrame(all.toSeq), "doc_id", "text")
        .select(col("id_a").as("src"), col("id_b").as("dst"))))
    val got = labels(ClusterIndex.labels(spark, indexDir, Name))
    if (want != got)
      errs += s"cluster labels: ${(want -- got).size} of ${want.size} " +
        s"one-shot labels missing, ${(got -- want).size} extra"

    val oneShot = tracer.materialize(Decontaminate.flagContaminated(
      docsFrame(all.drop(BaseDocs).toSeq), evalFrame, "doc_id", "text"))
    if (oneShot != flagged)
      errs += s"contamination flags: batches $flagged, one-shot $oneShot"

    val terms = queries.next()
    val last = Answer(asked, terms, all.size, tracer.materialize(
      SearchIndex.topK(spark, queryFrame(asked, terms), indexDir, Name,
        "doc_id", K)))
    val sampled = (answers :+ last).groupBy(_.docs).values.map(_.last)
    errs ++= sampled.toSeq.sortBy(_.id).flatMap { a =>
      val want = tracer.materialize(Retrieval.bm25TopK(
        docsFrame(all.take(a.docs).toSeq), queryFrame(a.id, a.terms),
        "doc_id", "text", K))
      if (want == a.fp) None
      else Some(s"query ${a.id} ${a.terms.mkString(" ")}: index ${a.fp}, " +
        s"one-shot $want")
    }
    errs.toSeq
  }
}

object IngestServe {
  val Name = "corpus"
  val BaseDocs = 500
  val BatchDocs = 100
  val EvalDocs = 50
  val QueriesPerBatch = 5
  val CompactEvery = 2
  val K = 10
  val Skew = 1.1
}
