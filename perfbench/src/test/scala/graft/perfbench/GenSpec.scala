package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

class GenSpec extends AnyFunSuite {

  private def syncs(seed: Long, n: Int): Seq[Gen.Sync] = {
    val t = new Gen.EtlTenant(seed, Gen.etlParams(seed, 2000, 500))
    Seq.fill(n)(t.next())
  }

  private def corpus(seed: Long) =
    new Gen.Corpus(seed, Gen.corpusParams(seed), 50)

  private def queries(seed: Long, n: Int): Seq[Seq[String]] = {
    val q = new Gen.Queries(seed, 5000, 1.1)
    Seq.fill(n)(q.next())
  }

  test("the same seed gives identical inputs") {
    assert(syncs(7, 4) == syncs(7, 4))
    val (a, b) = (corpus(7), corpus(7))
    assert(a.eval == b.eval)
    assert(a.next(400) == b.next(400))
    assert(queries(7, 200) == queries(7, 200))
  }

  test("pulling in different batch sizes gives the same sequence") {
    val (a, b) = (corpus(3), corpus(3))
    assert(a.next(300) == b.next(100) ++ b.next(150) ++ b.next(50))
  }

  test("a different seed gives different inputs") {
    assert(syncs(7, 2) != syncs(8, 2))
    assert(corpus(7).next(50) != corpus(8).next(50))
    assert(corpus(7).eval != corpus(8).eval)
    assert(queries(7, 50) != queries(8, 50))
  }

  test("syncs hold the seed's update share, with keys unique per sync") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val p = Gen.etlParams(seed, 2000, 500)
      val seen = Array.fill(3)(mutable.HashSet.empty[Long])
      var updates, records = 0
      syncs(seed, 30).foreach { s =>
        val streams = Seq(s.customers.map(_.id), s.orders.map(_.id),
          s.events.map(_.id))
        streams.zipWithIndex.foreach { case (ids, i) =>
          assert(ids.distinct.size == ids.size)
          if (s.index == 0) assert(ids.size == p.baseRows && !ids.exists(seen(i)))
          else {
            assert(ids.size == p.syncRows)
            updates += ids.count(seen(i))
            records += ids.size
          }
          seen(i) ++= ids
        }
      }
      val share = updates.toDouble / records
      assert(math.abs(share - p.updateShare) < 0.02,
        s"seed $seed: update share $share, stated ${p.updateShare}")
    }
  }

  test("the corpus holds its planted duplicate and contamination shares") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val c = corpus(seed)
      val docs = c.next(4000)
      val dupShare = docs.count(_.parent.nonEmpty).toDouble / docs.size
      val contamShare = docs.count(_.evalSource.nonEmpty).toDouble / docs.size
      assert(math.abs(dupShare - c.params.dupShare) < 0.02,
        s"seed $seed: duplicate share $dupShare, stated ${c.params.dupShare}")
      assert(math.abs(contamShare - c.params.contamShare) < 0.015,
        s"seed $seed: contamination share $contamShare, stated " +
          s"${c.params.contamShare}")
      // a planted duplicate is a token edit of an earlier document
      docs.filter(d => d.evalSource.isEmpty &&
          d.parent.exists(p => docs(p.toInt).evalSource.isEmpty))
        .take(200).foreach { d =>
        val parent = docs(d.parent.get.toInt)
        val (x, y) = (d.text.split(' '), parent.text.split(' '))
        assert(parent.id < d.id && x.length == y.length)
        assert(x.zip(y).count { case (u, v) => u != v } <= 2)
      }
      // a contaminated document carries a verbatim span of its eval source
      docs.filter(_.evalSource.nonEmpty).take(50).foreach { d =>
        val eval = c.eval.find(e => d.evalSource.contains(e.id)).get
          .text.split(' ')
        assert(eval.sliding(Gen.ContamSpan).exists(w =>
          d.text.contains(w.mkString(" "))))
      }
    }
  }

  test("query terms follow the stated Zipf skew") {
    val q = new Gen.Queries(5, 5000, 1.1)
    val n = 40000
    val counts = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    val rnd = Gen.rng(5, 9)
    (1 to n).foreach(_ => counts(q.zipf.sample(rnd)) += 1)
    (0 until 5).foreach { r =>
      val p = q.zipf.prob(r)
      val sd = math.sqrt(p * (1 - p) / n)
      assert(math.abs(counts(r).toDouble / n - p) < 4 * sd,
        s"rank $r: ${counts(r).toDouble / n}, pmf $p")
    }
    val qs = queries(5, 5000)
    assert(qs.forall(t => t.size >= 1 && t.size <= 3 && t.distinct == t))
    val terms = qs.flatten.groupBy(identity).map { case (t, ts) => t -> ts.size }
    // frequency falls with rank: rank 0 beats rank 9 by the skew's order
    val ratio = terms(Gen.word(0)).toDouble / terms(Gen.word(9))
    assert(ratio > 5 && ratio < 25, s"rank 0 / rank 9 frequency $ratio")
  }
}
