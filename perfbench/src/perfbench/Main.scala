package perfbench

import graft.analysis.Tokenizer
import graft.build.IndexConf
import graft.core.PostingCodec
import graft.query.QueryEngine
import graft.tables.Snapshots
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--trace-out <file>]`. Prints a record line and then the
  * result line (README.md). */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, traceOut: Option[Path])

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, m.get("trace-out").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(o.work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, o, cores)
    val ok = try {
      o.workload match {
        case "build" => new BuildWorkload(run).run()
        case "serve" => new ServeWorkload(run).run()
        case "ops_suite" => new OpsWorkload(run).run()
        case "ingest_live" => new IngestWorkload(run).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      true
    } catch {
      case t: Throwable =>
        System.err.println(s"perfbench: ${o.workload} aborted")
        t.printStackTrace()
        false
    }
    if (!ok) { spark.stop(); sys.exit(1) }
    o.traceOut.foreach(run.tracer.write)
    println(run.recordJson())
    println(run.resultJson())
    System.out.flush()
    // the caller deletes the work directory: skip the seconds Spark's
    // shutdown spends cleaning it
    Runtime.getRuntime.halt(0)
  }
}

/** State shared by the workloads: the session, the tracer, the metrics. */
final class Run(val spark: SparkSession, val o: Main.Opts, val cores: Int) {
  val gen = new Gen(o.seed)
  val tracer = new Tracer(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** The workload's own metrics (README.md): name → (value, unit, samples). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def dir(name: String): String = o.work.resolve(name).toString

  def now(): Long = System.nanoTime()
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = now()
  /** Progress on stderr, with seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"perfbench: ${secsSince(started)}%7.2fs $msg")

  /** Run one checked operation: a throw or a false check counts as failed
    * and yields None, so a failure is never recorded as a time. */
  def attempt[A](what: String)(op: => (A, Boolean)): Option[A] = {
    synchronized { attempted += 1 }
    try {
      val (a, ok) = op
      if (ok) Some(a) else { fail(s"$what: output mismatch"); None }
    } catch { case t: Throwable => fail(s"$what: $t"); None }
  }

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  /** `measure(seconds)` with tracing off; with --trace 1, a traced half and
    * then an untraced half. Returns (untraced, traced). Traced goes first so
    * that JIT warm-up left over from set-up can only inflate the reported
    * tracing overhead, never hide it. */
  def phases[P](measure: Double => P): (P, Option[P]) =
    if (!o.trace) (measure(o.seconds), None)
    else {
      tracer.enable()
      val traced = measure(o.seconds / 2)
      tracer.disable()
      (measure(o.seconds / 2), Some(traced))
    }

  /** Run `f` over `items` on `cores` threads (untimed warm-up work). */
  def parallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try items.map(a => pool.submit(() => f(a))).map(_.get())
    finally pool.shutdown()
  }

  def named(name: String, value: Double, unit: String, samples: Int): Unit =
    named(name) = (value, unit, samples)

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  def endToEnd(setupS: Seq[Double], opMs: Seq[Double], throughput: Double): Unit = {
    named("setup_s", Stats.median(setupS), "s", setupS.size)
    e2e("setup_s") = (Stats.median(setupS), "s")
    e2e("op_p50_ms") = (Stats.median(opMs), "ms")
    e2e("throughput_per_s") = (throughput, "1/s")
    e2e("peak_rss_mb") = (Stats.peakRssMb(), "MB")
  }

  /** Spark counters of the traced phase per timed operation, self time per
    * layer, and the tracing overhead (traced minus untraced median op time).
    * Layers the workload did not touch report 0. */
  def finishLayers(ops: Int, untracedOpMs: Seq[Double], tracedOpMs: Seq[Double]): Unit = {
    val c = tracer.totals
    val n = math.max(1, ops).toDouble
    layer("spark.jobs") = (c.jobs / n, "count")
    layer("spark.tasks") = (c.tasks / n, "count")
    layer("spark.executor_busy_s") = (c.busyMs / 1e3 / n, "s")
    layer("spark.scheduler_delay_s") = (c.schedDelayMs / 1e3 / n, "s")
    layer("spark.shuffle_write_mb") = (c.shuffleWriteBytes / 1e6 / n, "MB")
    layer("spark.spill_mb") = (c.spillBytes / 1e6 / n, "MB")
    layer("spark.gc_s") = (c.gcMs / 1e3 / n, "s")
    tracer.selfMsByLayer(tracer.all).foreach { case (l, ms) => layer(s"self.${l}_ms") = (ms / n, "ms") }
    val u = Stats.median(untracedOpMs)
    layer("trace.overhead_pct") = ((Stats.median(tracedOpMs) / u - 1) * 100, "%")
    val listed = Layout.perLayer.map { case (k, unit) => k -> layer.getOrElse(k, (0.0, unit)) }
    layer.clear(); layer ++= listed
  }

  /** Single-thread `Tokenizer.analyze` rate over seeded corpus files. */
  def tokenizeRate(): Unit = {
    val docs = (0L until 2000L).map(i => gen.doc(i * 7))
    def pass(): Unit = docs.foreach(d => Tokenizer.analyze(d.repo, d.path, d.lang, d.content))
    pass() // JIT
    val t0 = now(); var n = 0L
    while (secsSince(t0) < 0.5) { pass(); n += docs.size }
    layer("analysis.tokenize_docs_per_s") = (n / secsSince(t0), "1/s")
  }

  /** `PostingCodec.decode` rate over posting blocks read from a snapshot. */
  def decodeRate(root: String, snapshotId: String): Unit = {
    val dir = Snapshots.stagingDir(root, snapshotId)
    val blobs = spark.read.parquet(s"$dir/postings").select("blob").limit(4096)
      .collect().map(_.getAs[Array[Byte]](0))
    blobs.foreach(PostingCodec.decode)
    val t0 = now(); var n = 0L
    while (secsSince(t0) < 0.5) blobs.foreach(b => n += PostingCodec.decode(b).length)
    layer("core.decode_postings_per_s") = (n / secsSince(t0), "1/s")
  }

  /** Bytes per doc and files of a snapshot's tables, and the time to open
    * it. Returns the snapshot's total bytes. */
  def tableLayers(root: String, snapshotId: String, docs: Long): Long = {
    val d = Snapshots.stagingDir(root, snapshotId)
    val files = Layout.Tables.map { t =>
      val (b, f) = Stats.du(d.resolve(t))
      layer(s"tables.bytes.$t") = (b / docs.toDouble, "B/doc")
      f
    }.sum
    layer("tables.files") = (files.toDouble, "count")
    val t0 = now()
    QueryEngine.open(root, spark)
    layer("tables.open_ms") = (secsSince(t0) * 1e3, "ms")
    Stats.du(d)._1
  }

  def recordJson(): String = {
    val env = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "seconds" -> Json.num(o.seconds), "trace" -> (if (o.trace) "1" else "0"),
      "nproc" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
      "spark" -> Json.str(spark.version),
      "work_fs" -> Json.str(Stats.fsType(o.work)))
    val failedFrac = if (attempted == 0) 0.0 else failed.toDouble / attempted
    val ms = (("failed_frac", (failedFrac, "ratio", attempted.toInt)) +: named.toSeq).map {
      case (k, (v, u, n)) => k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)},"samples":$n}"""
    }
    Json.obj(Seq("record" -> Json.obj(Seq(
      "env" -> Json.obj(env),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(ms)))))
  }

  def resultJson(): String = {
    val ms = (if (o.trace) layer else e2e).toSeq.map { case (k, (v, u)) =>
      k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    Json.obj(Seq("correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString, "metrics" -> Json.obj(ms)))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val r = p * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  /** (bytes, data files) under a directory, markers and checksums aside. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
          .filterNot(f => f.getFileName.toString.startsWith(".") || f.getFileName.toString.startsWith("_"))
        (fs.map(Files.size).sum, fs.length.toLong)
      } finally s.close()
    }

  /** Filesystem type of the mount holding `p` (tmpfs or a disk's). */
  def fsType(p: Path): String = {
    val src = scala.io.Source.fromFile("/proc/mounts")
    val mounts = try src.getLines().map(_.split(' ')).toVector finally src.close()
    val abs = p.toRealPath().toString
    mounts.filter(m => abs == m(1) || abs.startsWith(m(1).stripSuffix("/") + "/"))
      .maxByOption(_(1).length).map(_(2)).getOrElse("unknown")
  }

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
  }
}

/** The index configuration every workload builds with. */
object Conf {
  val index: IndexConf = IndexConf(numBuckets = 8, docRangeShift = 12, buildPrioTier = true)
}

/** `n` seeded corpus files (window ordinals from `from`), generated or
  * materialized as parquet. */
object Corpus {
  def generate(r: Run, n: Long, from: Long = 0, files: Int = 8): DataFrame = {
    import r.spark.implicits._
    val g = r.gen
    r.spark.range(from, from + n, 1, files).map(i => g.doc(i)).toDF()
  }

  def write(r: Run, from: Long, n: Long, path: String, mode: String = "overwrite", files: Int = 8): Unit =
    generate(r, n, from, files).write.mode(mode).parquet(path)
}

/** The per-layer metrics of BENCHMARK.json, in order. A traced run reports
  * every one, a layer the workload does not exercise as 0. */
object Layout {
  val Tables: Seq[String] = Seq("postings", "postings_prio", "fwd", "term_stats", "documents", "journal")
  val Tiers: Seq[String] = Seq("exact", "budgeted", "uncached")

  val perLayer: Seq[(String, String)] =
    Seq("analysis.tokenize_docs_per_s" -> "1/s", "core.decode_postings_per_s" -> "1/s") ++
      Seq("journal", "postings", "postings_prio", "term_stats", "fwd", "barrier")
        .flatMap(s => Seq(s"build.${s}_s.sum" -> "s", s"build.${s}_s.max" -> "s")) ++
      Seq("build.postings_skew" -> "ratio") ++
      Tables.map(t => s"tables.bytes.$t" -> "B/doc") ++
      Seq("tables.files" -> "count", "tables.open_ms" -> "ms") ++
      Seq("query.parse_ms" -> "ms", "query.cache_load_s" -> "s") ++
      Tiers.flatMap(t => Seq(
        s"query.jobs_per_query.$t" -> "count", s"query.tasks_per_query.$t" -> "count",
        s"query.shuffle_kb_per_query.$t" -> "kB", s"query.driver_ms_per_query.$t" -> "ms",
        s"query.results_per_query.$t" -> "count")) ++
      Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_busy_s" -> "s",
        "spark.scheduler_delay_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
        "spark.gc_s" -> "s") ++
      Seq("harness", "build", "query", "ingest", "merge", "ops").map(l => s"self.${l}_ms" -> "ms") ++
      Seq("trace.overhead_pct" -> "%") ++
      Seq("ingest.stream_s" -> "s", "ingest.stage_delta_s" -> "s", "ingest.delta_lineage_s" -> "s",
        "merge.compact_s" -> "s", "live.parts" -> "count", "live.jobs_per_query" -> "count",
        "live.driver_ms_per_query" -> "ms") ++
      OpsWorkload.Slots.flatMap(s => Seq(s"ops.$s.s" -> "s", s"ops.$s.jobs" -> "count",
        s"ops.$s.shuffle_mb" -> "MB", s"ops.$s.spill_mb" -> "MB"))
}
