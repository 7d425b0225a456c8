package graft.perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every input a workload hands to graft comes
  * from here and depends on nothing but the seed: the same seed gives the
  * same inputs on any machine, in any number of consumed items.
  *
  * Each generator is a stream: callers pull the next sync, batch or query
  * on demand, so a faster run simply consumes a longer prefix of the same
  * sequence.
  */
object Gen {

  /** Independent random stream `stream` of `seed`. */
  def rng(seed: Long, stream: Int): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L)

  /** Ranks `0 until n` with P(r) ∝ 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def prob(r: Int): Double = cdf(r) - (if (r == 0) 0.0 else cdf(r - 1))
    def sample(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** The vocabulary word of rank `r` (rank 0 is the most frequent). */
  def word(r: Int): String = s"w$r"

  // ---------------------------------------------------------------- etl_sync

  final case class Customer(id: Long, name: String, balance: Double,
      active: Boolean, updatedAt: Long, city: String, zip: Int, code: String)
  final case class Order(id: Long, customerId: Long, total: Double,
      createdAt: Long)
  final case class Event(id: Long, ts: Long, kind: String, score: Double,
      source: String, n: Long)

  /** One Singer sync: every stream's records, at most one per key. */
  final case class Sync(index: Int, customers: Vector[Customer],
      orders: Vector[Order], events: Vector[Event]) {
    def records: Int = customers.size + orders.size + events.size
  }

  /** Tenant shape. `updateShare` is the share of an incremental sync's
    * records that rewrite an existing key; the rest insert new keys.
    */
  final case class EtlParams(baseRows: Int, syncRows: Int,
      updateShare: Double)

  def etlParams(seed: Long, baseRows: Int, syncRows: Int): EtlParams =
    EtlParams(baseRows, syncRows, 0.6 + 0.3 * rng(seed, 0).nextDouble())

  /** The tenant's sync sequence: sync 0 is the full load of `baseRows`
    * keys per stream, every later sync carries `syncRows` records per
    * stream.
    */
  final class EtlTenant(seed: Long, val params: EtlParams) {
    private val rnd = rng(seed, 1)
    private val nextId = Array(1L, 1L, 1L)
    private var index = 0
    private val Epoch = 1704067200L // 2024-01-01T00:00:00Z

    /** Keys for one stream: distinct within the sync, each an update of
      * an existing key with probability `updateShare`, else a new key.
      */
    private def keys(stream: Int, n: Int, full: Boolean): Vector[Long] = {
      val seen = mutable.HashSet.empty[Long]
      Vector.fill(n) {
        val existing = nextId(stream) - 1
        if (!full && existing > seen.size &&
          rnd.nextDouble() < params.updateShare) {
          var k = 1L + (rnd.nextDouble() * existing).toLong
          while (seen.contains(k)) k = 1L + (rnd.nextDouble() * existing).toLong
          seen += k; k
        } else {
          val k = nextId(stream); nextId(stream) += 1; seen += k; k
        }
      }
    }

    private def cents(max: Int): Double = rnd.nextInt(max * 100) / 100.0

    def next(): Sync = {
      val full = index == 0
      val n = if (full) params.baseRows else params.syncRows
      val t = Epoch + index * 86400L
      val cs = keys(0, n, full).map { id =>
        Customer(id, s"name${rnd.nextInt(100000)}", cents(10000),
          rnd.nextBoolean(), t + rnd.nextInt(86400),
          s"city${rnd.nextInt(50)}", 10000 + rnd.nextInt(90000),
          // a union-typed column: integers and strings mixed
          if (rnd.nextBoolean()) rnd.nextInt(1000).toString
          else s"c${rnd.nextInt(1000)}")
      }
      val os = keys(1, n, full).map { id =>
        Order(id, 1L + rnd.nextInt(math.max(1, (nextId(0) - 1).toInt)),
          cents(500), t + rnd.nextInt(86400))
      }
      val es = keys(2, n, full).map { id =>
        Event(id, t + rnd.nextInt(86400),
          Seq("click", "view", "buy")(rnd.nextInt(3)), cents(100),
          Seq("web", "ios", "android")(rnd.nextInt(3)), rnd.nextInt(1000).toLong)
      }
      index += 1
      Sync(index - 1, cs, os, es)
    }
  }

  // ------------------------------------------------------------ ingest_serve

  /** A generated document. `parent` is the earlier document it is a token
    * edit of; `evalSource` the eval document a span of it was copied from.
    */
  final case class Doc(id: Long, text: String, parent: Option[Long],
      evalSource: Option[Long])

  /** Corpus shape: `dupShare` of documents are planted near duplicates of
    * earlier ones, `contamShare` carry a span copied from an eval document.
    */
  final case class CorpusParams(vocab: Int, minLen: Int, maxLen: Int,
      dupShare: Double, contamShare: Double)

  def corpusParams(seed: Long): CorpusParams =
    CorpusParams(vocab = 5000, minLen = 40, maxLen = 80,
      dupShare = 0.15 + 0.1 * rng(seed, 2).nextDouble(), contamShare = 0.05)

  /** Eval-set span length: at k = 5 it shares 11 grams with its source. */
  val ContamSpan = 15

  /** Documents in id order. The eval set (ids below 0) is drawn first from
    * its own stream, so it is the same however many documents are pulled.
    */
  final class Corpus(seed: Long, val params: CorpusParams, nEval: Int) {
    private val zipf = new Zipf(params.vocab, 1.0)
    private def tokens(rnd: Random): Array[String] =
      Array.fill(params.minLen + rnd.nextInt(params.maxLen - params.minLen + 1))(
        word(zipf.sample(rnd)))

    val eval: Vector[Doc] = {
      val r = rng(seed, 3)
      Vector.tabulate(nEval)(i =>
        Doc(-1L - i, tokens(r).mkString(" "), None, None))
    }

    private val rnd = rng(seed, 4)
    private val docs = mutable.ArrayBuffer.empty[Array[String]]

    def next(n: Int): Vector[Doc] = Vector.fill(n) {
      val id = docs.size.toLong
      var parent = Option.empty[Long]
      val toks =
        if (docs.nonEmpty && rnd.nextDouble() < params.dupShare) {
          val p = rnd.nextInt(docs.size)
          parent = Some(p.toLong)
          val t = docs(p).clone()
          (1 to 1 + rnd.nextInt(2)).foreach { _ =>
            t(rnd.nextInt(t.length)) = word(zipf.sample(rnd))
          }
          t
        } else tokens(rnd)
      var source = Option.empty[Long]
      val out =
        if (eval.nonEmpty && rnd.nextDouble() < params.contamShare) {
          val e = eval(rnd.nextInt(eval.size))
          source = Some(e.id)
          val et = e.text.split(' ')
          val from = rnd.nextInt(et.length - ContamSpan + 1)
          val at = rnd.nextInt(toks.length + 1)
          toks.take(at) ++ et.slice(from, from + ContamSpan) ++ toks.drop(at)
        } else toks
      docs += toks
      Doc(id, out.mkString(" "), parent, source)
    }
  }

  /** Search queries: 1–3 distinct terms, Zipf-skewed (exponent `skew`)
    * over the corpus vocabulary's frequency ranks.
    */
  final class Queries(seed: Long, vocab: Int, skew: Double) {
    private val rnd = rng(seed, 5)
    val zipf = new Zipf(vocab, skew)
    def next(): Seq[String] = {
      val n = 1 + rnd.nextInt(3)
      val terms = mutable.LinkedHashSet.empty[String]
      while (terms.size < n) terms += word(zipf.sample(rnd))
      terms.toSeq
    }
  }
}
