package perfbench

import graft.build.CorpusDoc
import graft.fixtures.Fixtures

/** Every input the benchmark feeds the library, derived from the seed alone.
  *
  * The corpus is a window of the library's own deterministic generator
  * (`Fixtures.genDoc`): the seed picks where the window starts, so repo
  * names, repo-local terms and factor markers all move with it. Queries,
  * delta waves and the operator-suite tables are drawn from a SplitMix64
  * stream keyed by the seed and a per-input salt. */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  /** Files per repo, fixed so the repo-local term vocabulary has the same
    * shape for every seed. */
  val filesPerRepo: Int = 256

  /** First global file ordinal of the corpus window: a whole repo boundary
    * between repo 64 and repo 4159. */
  val base: Long = (64L + java.lang.Long.remainderUnsigned(mix(seed ^ 0xC0FFEEL), 4096L)) * filesPerRepo

  /** Corpus file `i` of the window (i counts from 0). Waves continue the
    * same window past the base corpus, so their files are new documents. */
  def doc(i: Long): CorpusDoc = Fixtures.genDoc(base + i, Int.MaxValue, filesPerRepo)

  def repoOf(i: Long): Int = ((base + i) / filesPerRepo).toInt

  /** A stream of (shape index, query) over a corpus of `docs` files: it
    * visits the 32 reference shapes in a fresh seeded order every 32
    * queries, so any 32 consecutive queries hold each shape once. */
  def queryStream(salt: Long, docs: Long): Iterator[(Int, String)] = {
    val rng = new Rng(seed, salt)
    Iterator.continually {
      val order = (0 until Shapes.length).toArray
      rng.shuffle(order)
      order.iterator.map(s => s -> instantiate(Shapes(s), rng, docs))
    }.flatten
  }

  def queries(salt: Long, docs: Long, n: Int): Vector[String] =
    queryStream(salt, docs).take(n).map(_._2).toVector

  private def instantiate(shape: String, rng: Rng, docs: Long): String = {
    val used = scala.collection.mutable.Set.empty[String]
    def fresh(draw: => String): String = {
      var t = draw; var tries = 0
      while (used(t) && tries < 64) { t = draw; tries += 1 }
      used += t; t
    }
    val out = new StringBuilder
    var i = 0
    while (i < shape.length) {
      if (shape(i) == '{') {
        val j = shape.indexOf('}', i)
        out ++= (shape.substring(i + 1, j) match {
          case "h" => fresh("tok%03d".format(rng.zipf()))
          case "u" => fresh("tok%03d".format(rng.nextInt(Fixtures.HeadVocab)))
          case "r" => fresh(s"rl_${repoOf(rng.nextLong(docs))}_${rng.nextInt(8)}")
          case "f" => fresh(s"f${2 + rng.nextInt(63)}")
          case "F" => fresh(s"f${base + docs / 2 + rng.nextLong(docs / 2)}")
          case "lang" => Fixtures.Langs(rng.nextInt(Fixtures.Langs.length))
        })
        i = j + 1
      } else { out += shape(i); i += 1 }
    }
    out.toString
  }

  /** Operator-suite `documents` rows: (doc_id, text, lang, source, n_chars),
    * the column layout the suite's slots read. */
  def opsDocument(id: Long): (Long, String, String, String, Long) = {
    val rng = new Rng(seed, 0x0D0C0000L + id)
    val n = 8 + rng.nextInt(57)
    val text = Iterator.fill(n)(Words(rng.nextInt(Words.length))).mkString(" ")
    val lang = if (rng.nextInt(5) < 2) "en" else OtherLangs(rng.nextInt(OtherLangs.length))
    (id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  /** Operator-suite `events` rows: (event_id, ts micros, user_id,
    * event_type, value, props). Timestamps rise with the id across 30 days. */
  def opsEvent(id: Long, total: Long): (Long, Long, Long, String, Double, String) = {
    val rng = new Rng(seed, 0xE7E70000L + id)
    val span = 30L * 86400L * 1000000L
    val ts = Epoch2024Micros + (span / total) * id + rng.nextLong(span / total)
    val value = math.rint(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100
    (id, ts, rng.nextLong(1500), EventTypes(rng.nextInt(EventTypes.length)), value,
      s"""{"k": ${rng.nextInt(100)}}""")
  }
}

object Gen {
  /** The 32 reference query shapes (the RankIdentitySpec set with its terms
    * replaced by draws): `{h}` a Zipf-drawn head term, `{u}` a uniform head
    * term, `{r}` a repo-local term of the window, `{f}` a common factor
    * marker, `{F}` a factor marker held by one document, `{lang}` a language. */
  val Shapes: Vector[String] = Vector(
    "{h}", "{h}", "{u}", "{u}",
    "{r}", "{r}", "{f}", "{F}",
    "{h} {h}", "{h} {u}", "{u} {r}", "{f} {h}",
    "{h} {h} {h}", "{u} {u} {u}", "{r} {h} {h}",
    "{h} -{h}", "{h} -{r}", "{f} -{u}",
    "{h} ?{r}", "{h} ?{F}", "?{r} {h}",
    "\"alpha beta gamma\"", "\"alpha beta\" {h}", "\"header module\"",
    "lang:{lang} {h}", "ext:{lang} {h}", "lang:{lang} {r}",
    "{h} q<9", "{h} rank>100", "{h} rank<100", "{h} q>2 rank>50",
    "{u} {u}")

  val Words: Array[String] = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "hello")
  val OtherLangs: Array[String] = Array("zh", "es", "fr", "de")
  val EventTypes: Array[String] = Array("signup", "purchase", "view", "click", "error")
  val Epoch2024Micros: Long = 1704067200L * 1000000L

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** SplitMix64 keyed by (seed, salt). */
  final class Rng(seed: Long, salt: Long) {
    private var s = mix(seed * 0x632BE59BD9B4E019L + salt)
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextLong(bound: Long): Long = java.lang.Long.remainderUnsigned(nextLong(), bound)
    def nextInt(bound: Int): Int = nextLong(bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def shuffle(a: Array[Int]): Unit = {
      var i = a.length - 1
      while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    }
    /** A head-term rank drawn with the corpus's own Zipf exponent. */
    def zipf(): Int = {
      val u = nextDouble()
      val i = java.util.Arrays.binarySearch(ZipfCdf, u)
      math.min(Fixtures.HeadVocab - 1, if (i >= 0) i else -i - 1)
    }
  }

  private lazy val ZipfCdf: Array[Double] = {
    val w = (1 to Fixtures.HeadVocab).map(r => 1.0 / math.pow(r, Fixtures.ZipfS)).toArray
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
}
