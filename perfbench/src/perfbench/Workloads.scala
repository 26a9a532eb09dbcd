package perfbench

import graft.SparkEntry
import graft.build.{CorpusDoc, IndexBuilder}
import graft.core.Hashes
import graft.query.{QueryEngine, QueryParser, QuerySpec, SearchResult}
import graft.streaming.StreamingIngest
import graft.tables.Snapshots
import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `build`: one full `buildFromCorpus` of a seeded corpus per timed operation. */
final class BuildWorkload(r: Run) {
  val docs = 8192L

  def run(): Unit = {
    val spark = r.spark
    val corpus = r.dir("build/corpus")
    val setup = (0 until 5).map { _ =>
      val t0 = r.now(); Corpus.write(r, 0, docs, corpus); r.secsSince(t0)
    }
    // an untimed build first: JIT and first-use planning
    IndexBuilder.buildFromCorpus(spark, spark.read.parquet(corpus), r.dir("build/warm"), "snap-1", Conf.index)
    Stats.rm(Paths.get(r.dir("build/warm")))
    val sample = spark.read.parquet(corpus).as(Encoders.product[CorpusDoc]).limit(64).collect()
      .map(d => (d.repo, d.path) -> Hashes.sha256Hex(d.content)).toMap
    r.log("build set up")

    var k = 0
    def root(i: Int) = r.dir(s"build/idx-$i")
    def measure(seconds: Double): (Seq[Double], Seq[Snapshots.Manifest]) = {
      val t0 = r.now()
      val walls = mutable.ArrayBuffer.empty[Double]
      val manifests = mutable.ArrayBuffer.empty[Snapshots.Manifest]
      val first = k
      // at least four builds, two in each half of a traced run
      while (k - first < (if (r.o.trace) 2 else 4) || r.secsSince(t0) < seconds) {
        k += 1
        r.attempt(s"build $k") {
          val tb = r.now()
          val m = r.tracer.span("build.buildFromCorpus") {
            IndexBuilder.buildFromCorpus(spark, spark.read.parquet(corpus), root(k), "snap-1", Conf.index)
          }
          val wall = r.secsSince(tb)
          // every doc indexed, and a sample of their content hashes intact
          val got = spark.read.parquet(s"${Snapshots.stagingDir(root(k), "snap-1")}/documents")
            .select("repo", "path", "content_sha256").collect()
            .flatMap(x => sample.get((x.getString(0), x.getString(1))).map(_ == x.getString(2)))
          ((m, wall), m.docCount == docs && got.length == sample.size && got.forall(identity))
        }.foreach { case (m, wall) => walls += wall * 1e3; manifests += m }
        r.log(s"build $k")
        if (k > 1) Stats.rm(Paths.get(root(k - 1)))
      }
      (walls.toSeq, manifests.toSeq)
    }
    val ((plain, _), traced) = r.phases(measure)
    val docsPerS = docs / (Stats.median(plain) / 1e3)
    val bytes = r.tableLayers(root(k), "snap-1", docs)
    r.named("build_docs_per_s", docsPerS, "docs/s", plain.size)
    r.named("index_bytes_per_doc", bytes.toDouble / docs, "B/doc", 1)
    r.endToEnd(setup, plain, docsPerS)
    traced.foreach { case (tb, tm) =>
      // per-stage time from the lineage rows of the traced builds' manifests
      def rows(m: Snapshots.Manifest, stage: String) = m.lineage.filter(_.stage == stage).map(_.wallClockMs / 1e3)
      Seq("journal" -> "journal", "postings" -> "postings", "postings_prio" -> "postings_prio",
        "term_stats" -> "term_stats", "fwd" -> "fwd", "stages_barrier" -> "barrier").foreach { case (stage, key) =>
        r.layer(s"build.${key}_s.sum") = (Stats.median(tm.map(rows(_, stage).sum)), "s")
        r.layer(s"build.${key}_s.max") = (Stats.median(tm.map(rows(_, stage).maxOption.getOrElse(0.0))), "s")
      }
      r.layer("build.postings_skew") = (Stats.median(tm.map { m =>
        val p = rows(m, "postings"); if (p.isEmpty) 0.0 else p.max / (p.sum / p.size)
      }), "ratio")
      r.tokenizeRate()
      r.decodeRate(root(k), "snap-1")
      r.finishLayers(tb.size, plain, tb)
      // the operator suite is too slow to gate as a workload of its own,
      // so its layer is measured here, after the build's own counters
      new OpsWorkload(r).traceLayer()
    }
  }
}

/** `serve`: two seeded rounds of the 32 reference shapes by one client, the
  * first round on three tiers, then `nproc` closed-loop clients. */
final class ServeWorkload(r: Run) {
  val docs = 8192L
  val budget = 8192L

  final case class Phase(tierMs: Map[String, Seq[Double]], parseMs: Seq[Double],
                         results: Map[String, Seq[Int]], qps: Double, clientQueries: Int)

  def run(): Unit = {
    val spark = r.spark
    val root = r.dir("serve/idx")
    val tBuild = r.now()
    IndexBuilder.buildFromCorpus(spark, Corpus.generate(r, docs), root, "snap-1", Conf.index)
    r.named("index_build_s", r.secsSince(tBuild), "s", 1)
    val warm = r.gen.queries(salt = 99, docs, 32).map(q => QueryParser.parse(q))
    // set-up: a fresh cached handle loads its driver caches on first use
    val setup = (0 until 5).map { _ =>
      val t0 = r.now()
      QueryEngine.search(spark, QueryEngine.open(root, spark), warm.head)
      r.secsSince(t0)
    }
    val exactH = QueryEngine.open(root, spark)
    val uncachedH = QueryEngine.openUncached(root, spark)
    def tier(t: String, spec: QuerySpec): Seq[SearchResult] = t match {
      case "exact" => QueryEngine.search(spark, exactH, spec)
      case "budgeted" => QueryEngine.search(spark, exactH, spec.copy(fetchBudget = budget))
      case "uncached" => QueryEngine.search(spark, uncachedH, spec)
    }
    // warm-up: JIT of the query paths
    r.parallel(warm.flatMap(s => Seq("exact" -> s, "budgeted" -> s)) ++ warm.take(4).map("uncached" -> _)) {
      case (t, s) => tier(t, s)
    }
    r.log("serve set up")

    def measure(seconds: Double): Phase = {
      // the same queries in every phase, so traced and untraced compare
      val stream = r.gen.queryStream(salt = 1, docs)
      val t0 = r.now()
      val tierMs = Layout.Tiers.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
      val results = Layout.Tiers.map(_ -> mutable.ArrayBuffer.empty[Int]).toMap
      val parseMs = mutable.ArrayBuffer.empty[Double]
      val answered = mutable.ArrayBuffer.empty[(QuerySpec, Seq[SearchResult])]
      val budgeted = mutable.ArrayBuffer.empty[(QuerySpec, Seq[SearchResult])]
      // round 1 runs every shape on exact and budgeted, and every fourth
      // shape also uncached (the slow tier); round 2 runs every shape on exact
      for (round <- 1 to 2; (shape, q) <- Seq.fill(Gen.Shapes.size)(stream.next())) {
        val tiers = if (round == 2) Seq("exact") else if (shape % 4 == 0) Layout.Tiers else Layout.Tiers.take(2)
        r.attempt(s"serve '$q'") {
          r.tracer.span("harness.request") {
            val tp = r.now()
            val spec = r.tracer.span("query.parse")(QueryParser.parse(q))
            val p = r.secsSince(tp) * 1e3
            val out = tiers.map { t =>
              val tt = r.now()
              val res = r.tracer.span(s"query.search.$t")(tier(t, spec))
              t -> (res, r.secsSince(tt) * 1e3)
            }.toMap
            ((spec, out, p), out.get("uncached").forall(_._1 == out("exact")._1))
          }
        }.foreach { case (spec, out, p) =>
          out.foreach { case (t, (res, ms)) => tierMs(t) += ms; results(t) += res.size }
          parseMs += p
          answered += spec -> out("exact")._1
          out.get("budgeted").foreach(b => budgeted += spec -> b._1)
        }
      }
      // the budgeted tier trades recall for time but must be deterministic
      budgeted.take(8).foreach { case (spec, b) =>
        r.attempt("budgeted repeat")(((), tier("budgeted", spec) == b))
      }
      r.log("single-client rounds done")
      val (qps, n) = clients(answered.toSeq, math.max(5.0, seconds - r.secsSince(t0)), tier)
      Phase(tierMs.map { case (k, v) => k -> v.toSeq }, parseMs.toSeq,
        results.map { case (k, v) => k -> v.toSeq }, qps, n)
    }

    val (p, traced) = r.phases(measure)
    Layout.Tiers.foreach { t =>
      r.named(s"${t}_p50_ms", Stats.median(p.tierMs(t)), "ms", p.tierMs(t).size)
      r.named(s"${t}_p95_ms", Stats.percentile(p.tierMs(t), 0.95), "ms", p.tierMs(t).size)
    }
    r.named(s"exact_qps_c${r.cores}", p.qps, "1/s", p.clientQueries)
    r.endToEnd(setup, p.tierMs("exact"), p.qps)
    traced.foreach { tp =>
      r.layer("query.parse_ms") = (Stats.median(tp.parseMs), "ms")
      r.layer("query.cache_load_s") = (Stats.median(setup), "s")
      val spans = r.tracer.all
      val byId = r.tracer.countersById()
      Layout.Tiers.foreach { t =>
        val cs = spans.filter(_.name == s"query.search.$t").map(s => s -> byId.getOrElse(s.id, new Counters))
        val n = math.max(1, cs.size).toDouble
        r.layer(s"query.jobs_per_query.$t") = (cs.map(_._2.jobs).sum / n, "count")
        r.layer(s"query.tasks_per_query.$t") = (cs.map(_._2.tasks).sum / n, "count")
        r.layer(s"query.shuffle_kb_per_query.$t") = (cs.map(_._2.shuffleWriteBytes).sum / 1e3 / n, "kB")
        r.layer(s"query.driver_ms_per_query.$t") = (Stats.median(cs.map { case (s, c) =>
          s.ms - c.inJobsMs(s.startMs, s.startMs + s.ms.toLong) }), "ms")
        r.layer(s"query.results_per_query.$t") = (tp.results(t).sum / math.max(1, tp.results(t).size).toDouble, "count")
      }
      r.tokenizeRate()
      r.decodeRate(root, "snap-1")
      r.tableLayers(root, "snap-1", docs)
      r.finishLayers(tp.tierMs.values.map(_.size).sum + tp.clientQueries, p.tierMs("exact"), tp.tierMs("exact"))
      // the write path is too slow to gate as a workload of its own, so its
      // layers are measured here, after the serve's own counters
      new IngestWorkload(r).traceLayer()
    }
  }

  /** `nproc` closed-loop clients on the exact tier for `seconds`, each
    * replaying the answered queries from its own offset; every answer is
    * checked against the single-client one. Returns (queries/s, queries). */
  private def clients(answered: Seq[(QuerySpec, Seq[SearchResult])], seconds: Double,
                      tier: (String, QuerySpec) => Seq[SearchResult]): (Double, Int) = {
    val done, bad = new AtomicLong()
    val errors = new ConcurrentLinkedQueue[String]()
    val t0 = r.now()
    val threads = (0 until r.cores).map { c =>
      new Thread(() => {
        var i = c * answered.size / r.cores
        while (r.secsSince(t0) < seconds) {
          val (spec, exact) = answered(i % answered.size)
          try {
            if (r.tracer.span("query.search.client")(tier("exact", spec)) == exact) done.incrementAndGet()
            else { bad.incrementAndGet(); errors.add("client query: output mismatch") }
          } catch { case t: Throwable => bad.incrementAndGet(); errors.add(s"client query: $t") }
          i += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = r.secsSince(t0)
    r.synchronized { r.attempted += done.get + bad.get }
    errors.asScala.foreach(r.fail)
    (done.get / wall, done.get.toInt)
  }
}

object OpsWorkload {
  /** The operator-suite slots timed, in order. */
  val Slots: Seq[String] = Seq("w1_url_canonical", "w2_domain_profile", "w5_link_extract", "j6_pagerank",
    "j13_hits", "d5_dedup_components", "d3_simhash", "a5_tfidf", "t8_pii_scrub")
}

/** `ops_suite` (run by hand; in BENCHMARK.json its layer is measured by the
  * traced `build` run): a fixed subset of `SparkEntry.queries` over seeded
  * `documents`/`events` tables, each slot's whole output materialized. */
final class OpsWorkload(r: Run) {
  import OpsWorkload.Slots
  val documents = 2000L
  val events = 20000L
  val dir: String = r.dir("ops/data")

  /** Execute the slot's physical plan to its last row, as a no-op sink
    * does (every output column, the trailing sort included), and return the
    * row count with an order-independent hash of the rows. Doubles are
    * rounded to 9 decimals first: shuffle order may move their last bits. */
  def fullOutput(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val exprs: Seq[Expression] = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val ref = BoundReference(i, f.dataType, f.nullable)
      f.dataType match {
        case DoubleType | FloatType => Round(ref, Literal(9))
        case _ => ref
      }
    }
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("perfbench full output")) {
      qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(exprs)
        var n = 0L; var h = 0L
        rows.foreach { row =>
          val u = proj(row)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
    }
  }

  /** Write the seeded tables; returns the seconds it took. */
  def writeTables(): Double = {
    val spark = r.spark
    import spark.implicits._
    val (g, nDocs, nEvents) = (r.gen, documents, events)
    val t0 = r.now()
    spark.range(0, nDocs, 1, 4).map(i => g.opsDocument(i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(0, nEvents, 1, 4).map(i => g.opsEvent(i, nEvents))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    r.secsSince(t0)
  }

  def slot(s: String): (Long, Long) = fullOutput(SparkEntry.queries(s)(r.spark, dir))

  /** The untimed warm pass, slots in parallel: JIT and first-use planning,
    * and the digests every later pass must reproduce. */
  def warmPass(): Map[String, (Long, Long)] = Slots.zip(r.parallel(Slots)(slot)).toMap

  /** One checked pass over the slots in order: seconds per slot that
    * matched the warm pass. */
  def pass(warm: Map[String, (Long, Long)]): Seq[(String, Double)] =
    r.tracer.span("harness.pass") {
      Slots.flatMap { s =>
        r.attempt(s) {
          val t = r.now()
          val d = r.tracer.span(s"ops.$s")(slot(s))
          (r.secsSince(t), d == warm(s))
        }.map(s -> _)
      }
    }

  /** `ops.<slot>.{s,jobs,shuffle_mb,spill_mb}` from the traced passes. */
  def slotLayers(slotS: Map[String, Seq[Double]]): Unit = {
    val spans = r.tracer.all
    val byId = r.tracer.countersById()
    Slots.foreach { s =>
      val cs = spans.filter(_.name == s"ops.$s").map(x => byId.getOrElse(x.id, new Counters))
      val n = math.max(1, cs.size).toDouble
      r.layer(s"ops.$s.s") = (Stats.median(slotS(s)), "s")
      r.layer(s"ops.$s.jobs") = (cs.map(_.jobs).sum / n, "count")
      r.layer(s"ops.$s.shuffle_mb") = (cs.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB")
      r.layer(s"ops.$s.spill_mb") = (cs.map(_.spillBytes).sum / 1e6 / n, "MB")
    }
  }

  /** The ops layer inside another workload's traced run: tables, a warm
    * pass, then one traced pass; `self.ops_ms` is that pass's self time. */
  def traceLayer(): Unit = {
    writeTables()
    val warm = warmPass()
    r.tracer.enable()
    val times = pass(warm)
    r.tracer.disable()
    slotLayers(times.map { case (s, x) => s -> Seq(x) }.toMap)
    val ops = r.tracer.all.filter(_.layer == "ops")
    r.layer("self.ops_ms") = (r.tracer.selfMsByLayer(ops).getOrElse("ops", 0.0), "ms")
    r.log("ops layer traced")
  }

  def run(): Unit = {
    val setup = (0 until 3).map(_ => writeTables())
    val tw = r.now()
    val warm = warmPass()
    r.named("warm_pass_s", r.secsSince(tw), "s", 1)
    r.log("ops set up")

    final case class Phase(passMs: Seq[Double], slotS: Map[String, Seq[Double]])
    def measure(seconds: Double): Phase = {
      val passes = mutable.ArrayBuffer.empty[Double]
      val slotS = Slots.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
      val t0 = r.now()
      var n = 0
      while (n == 0 || r.secsSince(t0) < seconds) {
        n += 1
        val times = pass(warm)
        times.foreach { case (s, x) => slotS(s) += x }
        if (times.size == Slots.size) passes += times.map(_._2).sum * 1e3
        r.log(s"ops pass $n")
      }
      Phase(passes.toSeq, slotS.map { case (k, v) => k -> v.toSeq })
    }
    val (p, traced) = r.phases(measure)
    r.named("ops_suite_s", Stats.median(p.passMs) / 1e3, "s", p.passMs.size)
    Slots.foreach(s => r.named(s"$s.s", Stats.median(p.slotS(s)), "s", p.slotS(s).size))
    r.endToEnd(setup, p.passMs, Slots.size / (Stats.median(p.passMs) / 1e3))
    traced.foreach { tp =>
      slotLayers(tp.slotS)
      r.tokenizeRate()
      r.finishLayers(tp.passMs.size, p.passMs, tp.passMs)
    }
  }
}

/** `ingest_live` (run by hand; in BENCHMARK.json its layers are measured by
  * the traced `serve` run): waves of new corpus files published as staged
  * deltas and queried through the live view, then an incremental compact. */
final class IngestWorkload(r: Run) {
  val baseDocs = 512L
  val waveDocs = 256L
  val queriesPerWave = 6

  final case class Phase(publishS: Seq[Double], streamS: Seq[Double], stageS: Seq[Double],
                         deltaLineageS: Seq[Double], liveMs: Seq[Double], compactS: Double)

  private def corpus(i: Int) = r.dir(s"ingest/corpus-$i")
  private def root(i: Int) = r.dir(s"ingest/idx-$i")

  /** A streaming-ingested, compacted base in fresh directories; returns the
    * seconds it took. */
  private def setUp(i: Int): Double = {
    val t0 = r.now()
    Corpus.write(r, 0, baseDocs, corpus(i), files = 2)
    StreamingIngest.ingestAvailable(r.spark, corpus(i), root(i))
    StreamingIngest.compact(r.spark, root(i), "snap-0", Conf.index)
    r.secsSince(t0)
  }

  /** The waves over base `i`: each phase publishes at least two and then
    * compacts them into the next snapshot. */
  private final class Live(i: Int) {
    val spark = r.spark
    val qs = r.gen.queries(salt = 3, baseDocs, queriesPerWave).map(q => QueryParser.parse(q))
    var wave = 0
    var snap = 0

    def docs: Long = baseDocs + wave * waveDocs

    def measure(seconds: Double): Phase = {
      val publish, stream, stage, lineage, live = mutable.ArrayBuffer.empty[Double]
      val base = QueryEngine.openSnapshot(root(i), s"snap-$snap", spark)
      var lastLive: Seq[Seq[SearchResult]] = Nil
      val tp = r.now()
      val first = wave
      while (wave - first < 2 || r.secsSince(tp) < seconds * 0.6) {
        Corpus.write(r, baseDocs + wave * waveDocs, waveDocs, corpus(i), mode = "append", files = 1)
        wave += 1
        val deltaId = s"delta-$wave"
        r.attempt(s"publish wave $wave") {
          val ta = r.now()
          r.tracer.span("ingest.ingestAvailable")(StreamingIngest.ingestAvailable(spark, corpus(i), root(i)))
          val sa = r.secsSince(ta)
          val tb = r.now()
          val m = r.tracer.span("ingest.stageDelta")(StreamingIngest.stageDelta(spark, root(i), deltaId, Conf.index))
          ((sa, r.secsSince(tb), m), m.isDefined)
        }.foreach { case (sa, sb, m) =>
          stream += sa; stage += sb; publish += sa + sb
          lineage += m.get.lineage.map(_.wallClockMs).sum / 1e3
          // each staged delta holds every document the base lacks
          val parts = Seq(base, QueryEngine.openSnapshot(root(i), deltaId, spark))
          lastLive = qs.zipWithIndex.flatMap { case (q, n) =>
            r.attempt(s"live query $n") {
              val t = r.now()
              val out = r.tracer.span("query.searchParts")(QueryEngine.searchParts(spark, parts, q))
              ((out, r.secsSince(t) * 1e3), true)
            }.map { case (out, ms) => live += ms; out }
          }
        }
        r.log(s"wave $wave")
      }
      snap += 1
      val tc = r.now()
      r.tracer.span("merge.compactIncremental")(
        StreamingIngest.compactIncremental(spark, root(i), s"snap-$snap", Conf.index))
      val compactS = r.secsSince(tc)
      // the live view must answer exactly what the compacted snapshot answers
      val compacted = QueryEngine.open(root(i), spark)
      r.attempt("live view == compacted")(((),
        compacted.manifest.snapshotId == s"snap-$snap" && lastLive.size == qs.size &&
          qs.zip(lastLive).forall { case (q, l) => QueryEngine.search(spark, compacted, q) == l }))
      r.log("compacted")
      Phase(publish.toSeq, stream.toSeq, stage.toSeq, lineage.toSeq, live.toSeq, compactS)
    }
  }

  /** `ingest.*`, `merge.compact_s` and `live.*` from a traced phase. */
  private def layers(tp: Phase): Unit = {
    r.layer("ingest.stream_s") = (Stats.median(tp.streamS), "s")
    r.layer("ingest.stage_delta_s") = (Stats.median(tp.stageS), "s")
    r.layer("ingest.delta_lineage_s") = (Stats.median(tp.deltaLineageS), "s")
    r.layer("merge.compact_s") = (tp.compactS, "s")
    val byId = r.tracer.countersById()
    val cs = r.tracer.all.filter(_.name == "query.searchParts").map(s => s -> byId.getOrElse(s.id, new Counters))
    r.layer("live.parts") = (2.0, "count")
    r.layer("live.jobs_per_query") = (Stats.median(cs.map(_._2.jobs.toDouble)), "count")
    r.layer("live.driver_ms_per_query") = (Stats.median(cs.map { case (s, c) =>
      s.ms - c.inJobsMs(s.startMs, s.startMs + s.ms.toLong) }), "ms")
  }

  /** The write path inside another workload's traced run: a base, then one
    * traced phase of two waves and the incremental compact; `self.ingest_ms`
    * and `self.merge_ms` are that phase's self times. */
  def traceLayer(): Unit = {
    setUp(1)
    val live = new Live(1)
    r.tracer.enable()
    val tp = live.measure(0)
    r.tracer.disable()
    layers(tp)
    val self = r.tracer.selfMsByLayer(r.tracer.all.filter(s => s.layer == "ingest" || s.layer == "merge"))
    Seq("ingest", "merge").foreach(l => r.layer(s"self.${l}_ms") = (self.getOrElse(l, 0.0), "ms"))
    r.log("write path traced")
  }

  def run(): Unit = {
    // set-up three times into fresh directories (the first also pays
    // first-use planning); the waves run on the last base
    val setup = (1 to 3).map(setUp)
    r.log("ingest set up")
    val live = new Live(3)
    val (p, traced) = r.phases(live.measure)
    r.named("delta_publish_s", Stats.median(p.publishS), "s", p.publishS.size)
    r.named("live_p50_ms", Stats.median(p.liveMs), "ms", p.liveMs.size)
    r.named("compact_s", p.compactS, "s", 1)
    // files made queryable and then compacted, per second of write-path time
    val writeFilesPerS = p.publishS.size * waveDocs / (p.publishS.sum + p.compactS)
    r.named("write_files_per_s", writeFilesPerS, "1/s", p.publishS.size)
    r.endToEnd(setup, p.liveMs, writeFilesPerS)
    traced.foreach { tp =>
      layers(tp)
      r.tokenizeRate()
      r.decodeRate(root(3), s"snap-${live.snap}")
      r.tableLayers(root(3), s"snap-${live.snap}", live.docs)
      r.finishLayers(tp.liveMs.size, p.liveMs, tp.liveMs)
    }
  }
}
