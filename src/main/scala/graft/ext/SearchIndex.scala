package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted, incrementally-maintained BM25 search index — the artifact
  * form of [[Retrieval.bm25TopK]]: a query-time scorer should join
  * prepared postings, not re-tokenize 100 TB per query, and a daily
  * ingest should extend those postings delta-sized. Same commit
  * discipline as the sibling artifacts ([[graft.io.VersionPointer]]:
  * create-only manifest PUTs, marker-gated fold deltas, retention window
  * + time-travel, idempotent caller-supplied fold generations).
  *
  * EXACT maintenance — no frozen-statistics compromise: every BM25
  * collection statistic is ADDITIVE over disjoint document batches
  * (fold ids are new, the family contract), so per-batch partials sum to
  * the whole-corpus values bit-for-bit:
  *  - `v<N>/sign` — the three artifacts as one `__what`-partitioned
  *    table (r10: a batch commits in ONE write action; readers address
  *    the partition subdirs directly so each artifact scans only its
  *    own files):
  *    `__what=postings` (term, doc_id, c, dl): per-doc term frequencies
  *    with the document length DENORMALIZED onto every posting (the
  *    norms-in-postings layout real engines use) — scoring needs dl only
  *    for matched postings, so queries never touch a corpus-sized
  *    lengths table; `__what=termdf` (term, df): per-BATCH document
  *    frequencies — readers SUM them per term; `__what=totals` one row
  *    per batch (n_docs, total_len) — readers sum both.
  * [[topK]] therefore answers IDENTICALLY to a one-shot
  * [[Retrieval.bm25TopK]] over the accumulated corpus — not just
  * approximately: every term contribution runs through the shared
  * [[Retrieval.bm25Micro]] formula, so the double expression sequence
  * (idf, length normalization, micro-unit rounding) is the same code
  * (q331 adjudicates against the from-scratch SQL replay).
  *
  * Scale shape: a query joins its (few) terms against the postings —
  * per-term fanout is that term's df, the inverted-index property. The
  * collection statistics are resolved on the DRIVER by one scan that
  * keeps only the query terms' termdf rows and the totals rows: at most
  * (distinct query terms + 1) × (1 + committed folds) rows, never
  * corpus-sized. They reach the scoring stage as literals, so a query
  * runs one stats job plus one exchange on `query_id` (shared by the
  * per-doc sum and the rank cut), with no broadcasts. Fold IO is
  * delta-sized (sign only the fresh batch; nothing stored is read or
  * rewritten).
  */
object SearchIndex {

  private def layoutDir(dir: String, name: String): String =
    s"$dir/$name.searchindex"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  def currentVersion(
      spark: SparkSession, dir: String, name: String): Option[Int] =
    graft.io.VersionPointer.current(spark, layoutDir(dir, name))

  /** Committed versions still inside the retention window. */
  def versions(
      spark: SparkSession, dir: String, name: String): Seq[Int] = {
    val cur = currentVersion(spark, dir, name)
    graft.io.VersionPointer.versionDirs(spark, layoutDir(dir, name))
      .filter(v => cur.exists(v <= _))
  }

  private def sub(dir: String, name: String, v: Int, s: String): String =
    s"${layoutDir(dir, name)}/v$v/$s"
  private def foldsDir(dir: String, name: String, v: Int): String =
    s"${layoutDir(dir, name)}/v$v/_folds"
  private def deltaPath(dir: String, name: String, v: Int, g: Long): String =
    s"${layoutDir(dir, name)}/v$v/deltas/g$g"

  private val FoldMarkerRe = """g(\d+)\.ok""".r

  // r10: memoized per-version artifact schemas — see DedupIndex.readStored
  // (schema-inferring reads each pay a footer job). The three artifacts
  // share one file schema per version; build and compact record it when
  // they write a base, so a query never pays the footer job in the
  // writing session.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, StructType]()

  private def schemaKey(dir: String, name: String, v: Int): String =
    s"${layoutDir(dir, name)}/v$v/sign"

  /** Every batch writes a totals row, so the base's totals dir exists. */
  private def signSchema(
      spark: SparkSession, dir: String, name: String, v: Int): StructType =
    schemaCache.computeIfAbsent(schemaKey(dir, name, v),
      k => spark.read.parquet(s"$k/__what=totals").schema)

  private def committedFolds(
      spark: SparkSession, dir: String, name: String, v: Int): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(foldsDir(dir, name, v))
    val f = fs(spark, p.toString)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.flatMap(_.getPath.getName match {
      case FoldMarkerRe(g) => Some(g.toLong)
      case _ => None
    }).sorted
  }

  private def requireVersion(
      spark: SparkSession, dir: String, name: String): Int =
    currentVersion(spark, dir, name).getOrElse(
      throw new IllegalArgumentException(
        s"search index '$name' at $dir does not exist — build() it first"))

  /** One batch's three artifacts, normalized to internal column names —
    * the SAME tokenization as [[Retrieval.bm25TopK]] ([[Dedup.tokens]]),
    * empty-token docs excluded from every table (the in-memory path's
    * `size > 0` filter). The document length rides denormalized on every
    * posting row (a batch-sized one-time join at sign time buys a
    * lengths-table-free query plan forever).
    */
  private def sign(
      docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // persisted (r9): the tokenizer pass feeds the postings, termdf and
    // totals legs, which are materialized by SEPARATE write actions —
    // without the cache it re-tokenizes per write. The 4th element is
    // the cache handle: callers unpersist once their writes have run
    // (r10, advisor).
    val tk = docs
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("dl", size(col("toks")).cast("long"))
      .persist()
    val tc = tk.select(col("doc_id"), col("dl"),
      explode(col("toks")).as("term"))
    val postings = tc.groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("c"))
      .select("term", "doc_id", "c", "dl")
    val termdf = tc.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val totals = tk.agg(count(lit(1)).as("n_docs"),
      coalesce(sum("dl"), lit(0L)).as("total_len"))
    (postings, termdf, totals, tk)
  }

  /** The three artifacts as ONE `__what`-partitioned frame — r10: a
    * batch commits in a single write action (one job + one commit
    * instead of three).
    */
  private def signedUnion(
      postings: DataFrame, termdf: DataFrame,
      totals: DataFrame): DataFrame = {
    val nl = lit(null).cast("long")
    postings.select(lit("postings").as("__what"), col("term"),
        col("doc_id"), col("c"), col("dl"), nl.as("df"),
        nl.as("n_docs"), nl.as("total_len"))
      .unionByName(termdf.select(lit("termdf").as("__what"), col("term"),
        nl.as("doc_id"), nl.as("c"), nl.as("dl"), col("df"),
        nl.as("n_docs"), nl.as("total_len")))
      .unionByName(totals.coalesce(1).select(lit("totals").as("__what"),
        lit(null).cast("string").as("term"), nl.as("doc_id"), nl.as("c"),
        nl.as("dl"), nl.as("df"), col("n_docs"), col("total_len")))
  }

  private val whatCols = Map(
    "postings" -> Seq("term", "doc_id", "c", "dl"),
    "termdf" -> Seq("term", "df"),
    "totals" -> Seq("n_docs", "total_len"))

  /** Writes one batch; returns its file schema (parquet reads every
    * column back nullable).
    */
  private def writeBatch(
      postings: DataFrame, termdf: DataFrame,
      totals: DataFrame, root: String, mode: String): StructType = {
    val u = signedUnion(postings, termdf, totals)
    u.write.partitionBy("__what").mode(mode).parquet(s"$root/sign")
    StructType(u.schema.filter(_.name != "__what")
      .map(_.copy(nullable = true)))
  }

  /** Sign + index `corpus` as version 1 (or N+1 — a rebuild), then apply
    * the retention window.
    */
  def build(
      spark: SparkSession, corpus: DataFrame, dir: String, name: String,
      idCol: String, textCol: String, retainVersions: Int = 2): Unit = {
    val v = currentVersion(spark, dir, name).getOrElse(0) + 1
    graft.io.VersionPointer.dropDir(spark, s"${layoutDir(dir, name)}/v$v")
    val (p, t, s, tkCache) = sign(corpus, idCol, textCol)
    val sch =
      try writeBatch(p, t, s, s"${layoutDir(dir, name)}/v$v", "errorifexists")
      finally tkCache.unpersist()
    schemaCache.put(schemaKey(dir, name, v), sch)
    graft.io.VersionPointer.commit(spark, layoutDir(dir, name), v)
    graft.io.VersionPointer.retain(
      spark, layoutDir(dir, name), v, retainVersions)
  }

  /** Fold an ingest batch: sign ONLY `fresh` (ids must be new — the
    * append-only family contract that makes every statistic additive),
    * write its three delta tables, commit with one marker PUT.
    * `generation` is the caller's batch identity: a committed
    * generation is a pure no-op on retry.
    */
  def fold(
      spark: SparkSession, fresh: DataFrame, dir: String, name: String,
      idCol: String, textCol: String,
      generation: Option[Long] = None): Unit = {
    val v = requireVersion(spark, dir, name)
    val committed = committedFolds(spark, dir, name, v)
    val g = generation.getOrElse(committed.lastOption.getOrElse(0L) + 1L)
    if (committed.contains(g)) return // committed replay: pure no-op
    require(committed.forall(_ < g),
      s"fold generation $g is below already-committed generations " +
        s"${committed.filter(_ > g).mkString(", ")} — out-of-order " +
        "batch identities would make the replay no-op ambiguous")
    val (p, t, s, tkCache) = sign(fresh, idCol, textCol)
    try writeBatch(p, t, s, deltaPath(dir, name, v, g), "overwrite")
    finally tkCache.unpersist()
    val marker = new org.apache.hadoop.fs.Path(
      s"${foldsDir(dir, name, v)}/g$g.ok")
    val f = fs(spark, marker.toString)
    val out = f.create(marker, false)
    try out.write("ok".getBytes("UTF-8")) finally out.close()
    ()
  }

  /** The existing `__what=<what>` dirs of the base and the committed
    * deltas of version `v`. A batch with no rows for an artifact (a fold
    * of zero-token docs has no postings or termdf) writes no dir for it.
    */
  private def committedDirs(
      spark: SparkSession, dir: String, name: String, v: Int,
      whats: Set[String]): Seq[String] = {
    val roots = s"${layoutDir(dir, name)}/v$v/sign" +:
      committedFolds(spark, dir, name, v)
        .map(g => s"${deltaPath(dir, name, v, g)}/sign")
    val f = fs(spark, roots.head)
    val names = whats.map(w => s"__what=$w")
    roots.flatMap(r => f.listStatus(new org.apache.hadoop.fs.Path(r))
      .map(_.getPath.getName).filter(names).map(n => s"$r/$n"))
  }

  /** All committed rows of one artifact (base + committed deltas). */
  private def readCommitted(
      spark: SparkSession, dir: String, name: String, v: Int,
      what: String): DataFrame = {
    val cols = whatCols(what)
    val sch = signSchema(spark, dir, name, v)
    val paths = committedDirs(spark, dir, name, v, Set(what))
    val rows =
      if (paths.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), sch)
      else spark.read.schema(sch).parquet(paths: _*)
    rows.select(cols.head, cols.tail: _*)
  }

  /** The columns the statistics scan reads; their types are fixed by
    * [[sign]], so the scan needs no schema inference.
    */
  private val statsSchema = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("n_docs", LongType), StructField("total_len", LongType)))

  /** Collection statistics for `terms`: per-term df, document count and
    * total length, summed over the base and the committed deltas as
    * driver Longs (exact, like the SQL sums they replace). One scan job
    * over the termdf and totals dirs, returning at most
    * (terms + 1) × (1 + committed folds) rows.
    */
  private def termStats(
      spark: SparkSession, dir: String, name: String, v: Int,
      terms: Seq[String]): (Map[String, Long], Long, Long) = {
    val rows = graft.conf.JobPhase(spark, "SearchIndex.topK.stats") {
      spark.read.schema(statsSchema)
        .parquet(committedDirs(spark, dir, name, v,
          Set("termdf", "totals")): _*)
        .filter(col("term").isin(terms: _*) || col("term").isNull)
        .collect()
    }
    val (totals, dfs) = rows.partition(_.isNullAt(0))
    (dfs.groupMapReduce(_.getString(0))(_.getLong(1))(_ + _),
      totals.map(_.getLong(2)).sum, totals.map(_.getLong(3)).sum)
  }

  /** A `string -> valueType` map literal: driver-resolved, query-sized
    * data inlined into the plan, so no broadcast job ships it.
    */
  private def mapLit(entries: Seq[(String, Column)], valueType: DataType) =
    map_from_arrays(
      array(entries.map(e => lit(e._1)): _*).cast(ArrayType(StringType)),
      array(entries.map(_._2): _*).cast(ArrayType(valueType)))

  /** BM25 top-`k` per query against the maintained index — the
    * [[Retrieval.bm25TopK]] output contract
    * (query_id, rank, <idCol>, score_micro), computed from summed
    * per-batch statistics through the SHARED scoring formula, so the
    * answer is bit-identical to the one-shot operator over the
    * accumulated corpus. A term repeated within a query counts its
    * multiplicity into the term frequency, as in the one-shot.
    * `atVersion` time-travels to a retained historical version.
    *
    * The query terms are collected to the driver (a local frame collects
    * without a job). Three jobs in all: the statistics scan, then the
    * caller's action runs the postings scan into one exchange on
    * `query_id` and the per-doc sum and rank cut after it.
    */
  def topK(
      spark: SparkSession, queryTerms: DataFrame, dir: String,
      name: String, idCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, atVersion: Option[Int] = None): DataFrame = {
    val v = graft.io.VersionPointer.resolveRead(spark,
      layoutDir(dir, name), atVersion, s"search index '$name' at $dir")
    // term -> query_id -> the term's multiplicity in that query
    val asked = queryTerms.select(col("query_id"), col("term"))
      .collect().toSeq.filterNot(_.isNullAt(1))
      .groupBy(_.getString(1))
      .map { case (t, rs) => t -> rs.groupMapReduce(_.get(0))(_ => 1L)(_ + _) }
    val terms = asked.keys.toSeq.sorted
    val (df, nDocs, total) = termStats(spark, dir, name, v, terms)
    val askedBy = ArrayType(StructType(Seq(
      StructField("query_id", queryTerms.schema("query_id").dataType),
      StructField("qtf", LongType))))
    val byTerm = mapLit(asked.toSeq.map { case (t, qs) =>
      t -> array(qs.toSeq.map { case (q, n) => struct(lit(q), lit(n)) }: _*)
    }, askedBy)
    val dfOf = mapLit(df.toSeq.map { case (t, d) => t -> lit(d) }, LongType)
    // postings carry dl: no lengths join. The exchange on query_id alone
    // serves both the per-doc sum and the rank cut's window.
    val scores = readCommitted(spark, dir, name, v, "postings")
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("c"), col("dl"),
        explode(element_at(byTerm, col("term"))).as("q"))
      .select(col("q.query_id").as("query_id"), col("doc_id").as(idCol),
        Retrieval.bm25Micro(col("c") * col("q.qtf"), col("dl"),
          element_at(dfOf, col("term")), lit(nDocs), lit(total), k1, b)
          .as("cmicro"))
      .repartition(col("query_id"))
      .groupBy("query_id", idCol)
      .agg(sum("cmicro").as("score_micro"))
    Retrieval.bm25RankCut(scores, idCol, k)
  }

  /** Rewrite the accumulated artifacts into one base at version N+1
    * (postings row moves; termdf re-summed per term; totals re-summed
    * to one row), pointer promote, retention window.
    */
  def compact(
      spark: SparkSession, dir: String, name: String,
      retainVersions: Int = 2): Unit = {
    val v = requireVersion(spark, dir, name)
    val p = readCommitted(spark, dir, name, v, "postings").localCheckpoint()
    val t = readCommitted(spark, dir, name, v, "termdf")
      .groupBy("term").agg(sum("df").as("df")).localCheckpoint()
    val s = readCommitted(spark, dir, name, v, "totals")
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("total_len"), lit(0L)).as("total_len"))
      .localCheckpoint()
    graft.io.VersionPointer.dropDir(
      spark, s"${layoutDir(dir, name)}/v${v + 1}")
    val sch =
      try writeBatch(p, t, s, s"${layoutDir(dir, name)}/v${v + 1}",
        "errorifexists")
      finally Seq(p, t, s).foreach(Checkpoints.release)
    schemaCache.put(schemaKey(dir, name, v + 1), sch)
    graft.io.VersionPointer.commit(spark, layoutDir(dir, name), v + 1)
    graft.io.VersionPointer.retain(
      spark, layoutDir(dir, name), v + 1, retainVersions)
  }
}
