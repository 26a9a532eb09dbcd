package graft

import graft.build.{IndexBuilder, IndexConf}
import graft.core.Hashes
import graft.fixtures.Fixtures
import graft.query._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Evaluation paths the shared serving rules must hold on that the other
  * specs do not reach: the progressive loop's spill into the distributed
  * kernel, `near:` resolved once for a live multi-snapshot view, and a
  * corrupt duplicate posting block failing closed. */
class QueryPathsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-query-paths")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  /** Shuffle records written by the jobs `f` runs. */
  private def shuffleRecordsDuring[A](f: => A): (A, Long) = {
    val written = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          written.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      Thread.sleep(400) // the listener bus drains asynchronously
      (a, written.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("progressive loop past its fetch cap spills to the distributed kernel, same results") {
    val root = freshRoot("spill")
    // docRangeShift 4: 16-doc ranges, so a head term spans many ranges
    IndexBuilder.buildFromCorpus(spark, Fixtures.tinyCorpus(spark).toDF(), root, "snap-1",
      IndexConf(numBuckets = 8, docRangeShift = 4))
    val idx = QueryEngine.open(root, spark)
    Seq("tok000", "tok000 tok001", "tok000 -tok001").foreach { q =>
      val base = QueryParser.parse(q)
      val default = QueryEngine.search(spark, idx, base)
      val distributed = QueryEngine.search(spark, idx, base.copy(localEvalMaxPostings = 0L))
      // localEvalMaxPostings 1 ⇒ fetch cap 64 postings; unpruned, the loop
      // cannot converge early, so the remaining ranges spill
      val (spilled, shuffled) = shuffleRecordsDuring(QueryEngine.search(spark, idx,
        base.copy(localEvalMaxPostings = 1L, pruning = false)))
      assert(default.nonEmpty, s"'$q' has no results")
      assert(shuffled > 0L, s"'$q': no shuffle ran, the spill path was not taken")
      assert(spilled === default, s"spill vs default for '$q'")
      assert(distributed === default, s"distributed vs default for '$q'")
    }
  }

  test("near: over a live view resolves once against the part that has neighbors") {
    // factors fixture as in NearSpec: domain = 32 - id%32, rank = domain;
    // neighborhood of domain5 = {4, 5, 6, 15, 27}. Base and delta take
    // alternating 32-id blocks, so both hold every domain.
    val journal = Fixtures.factorsJournal(spark).withColumn("rank", col("domain_id"))
    val links = {
      import spark.implicits._
      (1 to 32).flatMap(d => Seq(
        (s"domain$d", s"domain${(d % 32) + 1}"),
        (s"domain$d", s"domain${((d + 9) % 32) + 1}"))).toDF("src_repo", "dst_repo")
    }
    val root = freshRoot("livenear")
    val conf = IndexConf(numBuckets = 4, docRangeShift = 4)
    IndexBuilder.buildFromJournal(spark, journal.where((col("url_id") / 32).cast("int") % 2 === 0),
      root, "base", conf)
    IndexBuilder.writeDomainNeighbors(spark, root, "base", links)
    IndexBuilder.buildFromJournal(spark, journal.where((col("url_id") / 32).cast("int") % 2 === 1),
      root, "delta", conf, commitSnapshot = false)
    val base = QueryEngine.openSnapshot(root, "base", spark)
    val delta = QueryEngine.openSnapshot(root, "delta", spark)
    assert(base.domainNeighbors.isDefined && delta.domainNeighbors.isEmpty)

    val wide = QuerySpec(Seq(Subquery(include = Seq("2", "3"))),
      limitByDomain = Int.MaxValue, limitTotal = Int.MaxValue)
    val neighborhood = Seq(4, 5, 6, 15, 27)
    // the delta comes first: resolution must find the base's table anyway
    val parts = Seq(delta, base)
    val near = QueryEngine.searchParts(spark, parts, wide.copy(nearRepo = Some("domain5")))
    val explicit = QueryEngine.searchParts(spark, parts, wide.copy(domains = neighborhood))
    assert(near.nonEmpty)
    assert(near.map(_.domain_id).toSet.subsetOf(neighborhood.toSet))
    assert(near.exists(r => r.url_id % 64 >= 32), "no result from the delta part")
    assert(near === explicit)
    assert(QueryEngine.searchParts(spark, parts, wide.copy(nearRepo = Some("domain99"))).isEmpty)
  }

  test("a duplicate (term, range) posting block fails closed with the term and range named") {
    val root = freshRoot("dupblock")
    IndexBuilder.buildFromJournal(spark, Fixtures.factorsJournal(spark), root, "snap-1",
      IndexConf(numBuckets = 4, docRangeShift = 4))
    val postingsDir = s"$root/snapshots/snap-1/postings"
    val h = Hashes.termHash("2")
    val blocks = spark.read.parquet(postingsDir).where(col("term_hash") === h)
    // materialize before appending: the write must not read its own output
    val dup = spark.createDataFrame(blocks.collectAsList(), blocks.schema)
    dup.write.mode("append").partitionBy("bucket").parquet(postingsDir)

    val spec = QuerySpec(Seq(Subquery(include = Seq("2", "3"))))
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).toSeq
    Seq(spec, spec.copy(localEvalMaxPostings = 0L)).foreach { s =>
      val e = intercept[Exception](QueryEngine.search(spark, QueryEngine.open(root, spark), s))
      assert(messages(e).exists(m => m.contains("duplicate posting block") &&
        m.contains(s"term_hash $h") && m.contains("doc_range")), messages(e).mkString("\n"))
    }
  }
}
