package graft

import graft.ext.{Retrieval, SearchIndex}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ext.SearchIndex]]: persisted BM25 index — maintained topK ≡
  * the one-shot operator over the accumulated corpus bit-for-bit (the
  * per-batch statistics are additive and the scoring core is shared),
  * fold slicing invariant, idempotent generations, compaction
  * invariance, retention + time-travel. Oracle twin: q331.
  */
class SearchIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val fam = i % 5
      (i, s"alpha w$fam body${i % 3} " +
        (0 until (i % 4).toInt).map(j => s"beta$j").mkString(" "))
    }.toDF("doc_id", "text")

  private val queries =
    Seq((1, "alpha"), (1, "w2"), (2, "beta0"), (2, "body1"), (3, "w4"))

  private def top(df: DataFrame): Seq[(Int, Int, Long, Long)] =
    df.select("query_id", "rank", "doc_id", "score_micro")
      .as[(Int, Int, Long, Long)].collect.toSeq.sorted

  test("maintained topK is bit-identical to the one-shot over the corpus") {
    val dir = tmpDir("sidx_eq")
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text")
    val qt = queries.toDF("query_id", "term")
    val maintained = top(SearchIndex.topK(
      spark, qt, dir, "s", "doc_id", k = 5))
    val oneShot = top(Retrieval.bm25TopK(
      a.unionByName(b), qt, "doc_id", "text", k = 5))
    assert(maintained == oneShot && maintained.nonEmpty)
    // fold slicing invariance: three smaller folds, same answer
    val dir2 = tmpDir("sidx_eq3")
    SearchIndex.build(spark, a, dir2, "s", "doc_id", "text")
    SearchIndex.fold(spark, b.filter($"doc_id" < 25L), dir2, "s",
      "doc_id", "text")
    SearchIndex.fold(spark, b.filter($"doc_id" >= 25L && $"doc_id" < 30L),
      dir2, "s", "doc_id", "text")
    SearchIndex.fold(spark, b.filter($"doc_id" >= 30L), dir2, "s",
      "doc_id", "text")
    assert(top(SearchIndex.topK(spark, qt, dir2, "s", "doc_id", k = 5))
      == oneShot)
  }

  test("a committed fold generation replays as a no-op") {
    val dir = tmpDir("sidx_idem")
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text",
      generation = Some(9L))
    // at-least-once retry: a double-insert would double every fresh
    // doc's term frequencies AND the collection stats
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text",
      generation = Some(9L))
    val qt = queries.toDF("query_id", "term")
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)) ==
      top(Retrieval.bm25TopK(a.unionByName(b), qt, "doc_id", "text", k = 5)))
    intercept[IllegalArgumentException] {
      SearchIndex.fold(spark, docs(40L to 41L), dir, "s", "doc_id",
        "text", generation = Some(3L))
    }
  }

  test("compact re-sums statistics without changing answers; retention + time travel") {
    val dir = tmpDir("sidx_compact")
    val a = docs(0L until 20L)
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(20L until 35L), dir, "s", "doc_id", "text")
    val qt = queries.toDF("query_id", "term")
    val before = top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
    SearchIndex.compact(spark, dir, "s")
    assert(SearchIndex.versions(spark, dir, "s") == Seq(1, 2))
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
      == before)
    // one totals row and one df row per term after the rewrite (totals
    // live in the unified __what-partitioned sign table since r10)
    assert(spark.read
      .parquet(s"$dir/s.searchindex/v2/sign/__what=totals").count() == 1)
    // time-travel: rebuild v3 from only slice `a` — v2 still answers the
    // accumulated state, the new current answers the small one
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5,
      atVersion = Some(2))) == before)
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)) ==
      top(Retrieval.bm25TopK(a, qt, "doc_id", "text", k = 5)))
    intercept[IllegalArgumentException] {
      SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5,
        atVersion = Some(1))
    }
  }

  test("a fold of zero-token docs leaves later queries and compaction working") {
    val dir = tmpDir("sidx_empty")
    val a = docs(0L until 20L)
    // every doc tokenizes to nothing: the batch writes a totals row only
    val blank = Seq((50L, ""), (51L, "  ")).toDF("doc_id", "text")
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, blank, dir, "s", "doc_id", "text")
    val qt = queries.toDF("query_id", "term")
    val oneShot = top(Retrieval.bm25TopK(
      a.unionByName(blank), qt, "doc_id", "text", k = 5))
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
      == oneShot && oneShot.nonEmpty)
    SearchIndex.compact(spark, dir, "s")
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
      == oneShot)
    // an all-blank base: only folds contribute postings
    val dir2 = tmpDir("sidx_empty_base")
    SearchIndex.build(spark, blank, dir2, "s", "doc_id", "text")
    SearchIndex.fold(spark, a, dir2, "s", "doc_id", "text")
    assert(top(SearchIndex.topK(spark, qt, dir2, "s", "doc_id", k = 5))
      == oneShot)
  }

  test("a term repeated within a query scores as in the one-shot") {
    val dir = tmpDir("sidx_qtf")
    val a = docs(0L until 20L)
    val b = docs(20L until 35L)
    SearchIndex.build(spark, a, dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, b, dir, "s", "doc_id", "text")
    val qt = Seq((1, "alpha"), (1, "alpha"), (1, "beta0"), (2, "w3"),
      (2, "w3"), (2, "w3"), (2, "alpha")).toDF("query_id", "term")
    val oneShot = top(Retrieval.bm25TopK(
      a.unionByName(b), qt, "doc_id", "text", k = 5))
    assert(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5))
      == oneShot && oneShot.nonEmpty)
  }

  /** `body`'s result and the descriptions of the jobs it submitted. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // properties is null for jobs submitted without local properties
        descs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    org.apache.spark.graftbench.BusFlush.flush(spark)
    spark.sparkContext.addSparkListener(l)
    val out =
      try { val r = body; org.apache.spark.graftbench.BusFlush.flush(spark); r }
      finally spark.sparkContext.removeSparkListener(l)
    (out, descs.toArray(Array.empty[String]).toSeq)
  }

  test("topK runs at most 3 jobs, one of them the labelled stats scan") {
    val qt = queries.toDF("query_id", "term")
    Seq(0, 1, 3).foreach { folds =>
      val dir = tmpDir(s"sidx_jobs$folds")
      SearchIndex.build(spark, docs(0L until 20L), dir, "s", "doc_id", "text")
      (0 until folds).foreach { f =>
        SearchIndex.fold(spark, docs((20L + 5 * f) until (25L + 5 * f)), dir,
          "s", "doc_id", "text")
      }
      val sc = spark.sparkContext
      sc.setJobDescription("caller")
      val (got, jobs) =
        try jobsOf(top(SearchIndex.topK(spark, qt, dir, "s", "doc_id", k = 5)))
        finally {
          // the stats scan's label is scoped: the caller's is restored
          assert(sc.getLocalProperty("spark.job.description") == "caller")
          sc.setJobDescription(null)
        }
      assert(got.nonEmpty)
      assert(jobs.size <= 3, s"$folds folds: ${jobs.mkString(", ")}")
      assert(jobs.count(_ == "SearchIndex.topK.stats") == 1,
        s"$folds folds: ${jobs.mkString(", ")}")
    }
  }

  test("compact leaves no persisted or checkpointed RDD behind") {
    val dir = tmpDir("sidx_leak")
    SearchIndex.build(spark, docs(0L until 20L), dir, "s", "doc_id", "text")
    SearchIndex.fold(spark, docs(20L until 35L), dir, "s", "doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SearchIndex.compact(spark, dir, "s")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }
}
