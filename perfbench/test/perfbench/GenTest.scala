package perfbench

/** Tests of the seeded input generator: `python3 perfbench/run.py --selftest`.
  * Every input must derive from the seed alone: the same seed gives the same
  * corpus, query stream, waves and suite tables; another seed gives others. */
object GenTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case t: Throwable => System.err.println(t); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  /** Everything a run draws from the generator, as one comparable value. */
  private def inputs(seed: Long) = {
    val g = new Gen(seed)
    (g.base,
      (0L until 64L).map(g.doc),
      g.queries(salt = 1, docs = 32768, n = 96),
      (8192L until 8192L + 64L).map(g.doc),
      (0L until 64L).map(g.opsDocument),
      (0L until 64L).map(g.opsEvent(_, 20000)))
  }

  def main(args: Array[String]): Unit = {
    check("same seed gives the same inputs")(inputs(7) == inputs(7))
    Seq(8L, -7L, 1L << 40).foreach { s =>
      check(s"seed $s gives other inputs than seed 7") {
        val (a, b) = (inputs(7), inputs(s))
        a._1 != b._1 && a._2 != b._2 && a._3 != b._3 && a._4 != b._4 && a._5 != b._5 && a._6 != b._6
      }
    }
    check("query salts give independent streams") {
      val g = new Gen(7)
      g.queries(1, 32768, 64) != g.queries(2, 32768, 64)
    }
    check("each 32 consecutive queries hold every reference shape once") {
      def shapeOf(q: String): String = q
        .replaceAll("tok\\d{3}", "T").replaceAll("rl_\\d+_\\d", "R").replaceAll("f\\d+", "F")
        .replaceAll("(lang|ext):\\w+", "$1:L")
      val shapes = Gen.Shapes.map(_.replaceAll("\\{[hu]\\}", "T").replaceAll("\\{r\\}", "R")
        .replaceAll("\\{[fF]\\}", "F").replaceAll("\\{lang\\}", "L")).sorted
      new Gen(11).queries(3, 32768, 96).grouped(32).forall(_.map(shapeOf).sorted == shapes)
    }
    check("query terms exist in the corpus window") {
      val g = new Gen(5)
      val docs = 4096L
      val repos = (0L until docs).map(g.repoOf).toSet
      g.queries(1, docs, 320).flatMap(_.split("[ \"?-]+")).forall { t =>
        if (t.startsWith("rl_")) repos(t.split('_')(1).toInt)
        else if (t.matches("f\\d+")) { val f = t.drop(1).toLong; f <= 64 || (f >= g.base && f < g.base + docs) }
        else true
      }
    }
    check("waves continue the window with new files") {
      val g = new Gen(9)
      val base = (0L until 2048L).map(g.doc).map(d => (d.repo, d.path)).toSet
      (2048L until 2048L + 256L).map(g.doc).forall(d => !base((d.repo, d.path)))
    }
    check("suite events rise in time") {
      val ts = (0L until 2000L).map(new Gen(3).opsEvent(_, 2000)._2)
      ts.zip(ts.tail).forall { case (a, b) => a < b }
    }
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
