package graft.query

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The final-selection rule every evaluation path shares — the reference
  * selectBestResults comparator plus its greedy per-domain cap — checked on
  * random candidate sets against a brute-force restatement written here from
  * the rule's definition, not from the engine's code:
  *   - order: priority-term hit first, then score ascending under
  *     java.lang.Double.compare (so -0.0 < 0.0 and NaN sorts last), then
  *     ranking ascending, then urlId ascending;
  *   - cap: a candidate survives iff fewer than `limitByDomain` candidates of
  *     its own domain precede it in that order. */
class SelectionSpec extends AnyFunSuite {

  // ---- brute force ----------------------------------------------------------
  private def precedes(a: Candidate, b: Candidate): Boolean =
    if (a.hasPrio != b.hasPrio) a.hasPrio
    else if (java.lang.Double.compare(a.score, b.score) != 0)
      java.lang.Double.compare(a.score, b.score) < 0
    else if (a.ranking != b.ranking) a.ranking < b.ranking
    else a.urlId < b.urlId

  /** Survivors of the per-domain cap, in comparator order. */
  private def survivors(cs: Seq[Candidate], limitByDomain: Int): Seq[Candidate] =
    cs.filter(c => cs.count(o => o.domainId == c.domainId && precedes(o, c)) < limitByDomain)
      .sortWith(precedes)

  private def bruteThreshold(cs: Seq[Candidate], limitTotal: Int, limitByDomain: Int,
                             seed: Double): Double = {
    val top = survivors(cs, limitByDomain).take(limitTotal)
    val own =
      if (limitTotal <= 0) Double.NegativeInfinity
      else if (top.size < limitTotal) Double.PositiveInfinity
      else if (top.last.hasPrio) Double.NegativeInfinity
      else top.last.score
    math.min(own, seed)
  }

  // ---- generators -----------------------------------------------------------
  private val score: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-2.0, 10.0),
    4 -> Gen.oneOf(1.0, 2.5, 5.0), // ties on score
    1 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  /** Candidates with unique urlIds (doc ids are unique in the engine). */
  private val candidates: Gen[Seq[Candidate]] = {
    val fields = for {
      domain <- Gen.choose(0, 5)
      ranking <- Gen.choose(0, 3)
      prio <- Gen.frequency(5 -> false, 1 -> true)
      s <- score
    } yield (id: Int) => Candidate(id, domain, ranking, prio, s)
    for {
      n <- Gen.choose(0, 120)
      ids <- Gen.pick(n, 0 until 1000)
      fs <- Gen.listOfN(n, fields)
    } yield ids.toSeq.zip(fs).map { case (id, f) => f(id) }
  }

  /** Same candidates (by reference) in the same order. */
  private def sameSeq(a: Seq[Candidate], b: Seq[Candidate]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => x eq y }

  private val limits: Gen[(Int, Int)] =
    Gen.zip(Gen.choose(0, 12), Gen.frequency(4 -> Gen.choose(1, 4), 1 -> Gen.oneOf(0, Int.MaxValue)))

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(300)
      .withInitialSeed(Seed(20261017L)), p)
    assert(r.passed, r.status.toString)
  }

  /** Double equality that tells NaN, -0.0 and 0.0 apart like the comparator. */
  private def same(a: Double, b: Double): Boolean = java.lang.Double.compare(a, b) == 0

  test("Selection.emit keeps exactly the per-domain-capped candidates in reference order") {
    check(Prop.forAll(candidates, limits) { case (cs, (limitTotal, limitByDomain)) =>
      val sel = new QueryKernel.Selection(limitTotal, limitByDomain)
      cs.foreach(sel.add)
      sameSeq(sel.emit().toSeq, survivors(cs, limitByDomain))
    })
  }

  test("Selection.nonPrioThreshold is the limitTotal-th capped member, min the seed") {
    val seeds = Gen.oneOf(Gen.const(Double.PositiveInfinity), Gen.choose(-1.0, 8.0))
    check(Prop.forAll(candidates, limits, seeds) { case (cs, (limitTotal, limitByDomain), seed) =>
      val sel = new QueryKernel.Selection(limitTotal, limitByDomain, seed)
      val (first, second) = cs.splitAt(cs.size / 2)
      first.foreach(sel.add)
      // read mid-way too: the cached threshold must refresh after later adds
      val mid = sel.nonPrioThreshold
      second.foreach(sel.add)
      same(mid, bruteThreshold(first, limitTotal, limitByDomain, seed)) &&
        same(sel.nonPrioThreshold, bruteThreshold(cs, limitTotal, limitByDomain, seed))
    })
  }

  test("selectBest returns the top limitTotal survivors with in-result domain counts") {
    check(Prop.forAll(candidates, limits) { case (cs, (limitTotal, limitByDomain)) =>
      val spec = QuerySpec(Nil, limitByDomain = limitByDomain, limitTotal = limitTotal)
      val top = survivors(cs, limitByDomain).take(limitTotal)
      val want = top.map(c => SearchResult(c.urlId, c.domainId, c.ranking, c.hasPrio,
        c.score, top.count(_.domainId == c.domainId).toLong))
      val got = QueryEngine.selectBest(cs.toArray, spec)
      got.size == want.size && got.zip(want).forall { case (g, w) =>
        g.copy(score = 0.0) == w.copy(score = 0.0) && same(g.score, w.score)
      }
    })
  }

  test("selection survives buffer compaction (thousands of candidates)") {
    val cs = (0 until 5000).map(i =>
      Candidate(i, i % 7, i % 3, i % 97 == 0, ((i * 7919L) % 1000) / 100.0))
    val sel = new QueryKernel.Selection(10, 2)
    cs.foreach(sel.add)
    assert(sel.scored === 5000L)
    val sorted = cs.sortWith(precedes)
    val want = sorted.filter(c => sorted.takeWhile(_ ne c).count(_.domainId == c.domainId) < 2)
    assert(sameSeq(sel.emit().toSeq, want))
    assert(same(sel.nonPrioThreshold, bruteThreshold(cs, 10, 2, Double.PositiveInfinity)))
  }
}
