package graft

import graft.tables.Snapshots
import graft.tables.Snapshots.{LineageRow, Manifest}
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot manifest codec: `parseManifest` exactly inverts
  * `manifestJson` for any ids and stage names, and malformed or incomplete
  * manifests fail closed with the offending field named. */
class ManifestCodecSpec extends AnyFunSuite {

  /** Strings heavy in the characters a JSON writer must escape or a naive
    * reader trips on, mixed with arbitrary unicode. */
  private val nasty: Gen[String] = Gen.oneOf(
    Arbitrary.arbitrary[String],
    Gen.listOf(Gen.oneOf('"', '\\', '{', '}', '[', ']', ':', ',', '\n', '\r', '\t',
      '\u0000', '\u001f', ' ', 'a', 'u', '0', 'é', ' ')).map(_.mkString),
    Gen.oneOf("\\\"", "\\u0041", "\"}", "a\\", "{\"stage\":\"x\"}"))

  private val lineageRow: Gen[LineageRow] = for {
    stage <- nasty
    pid <- Arbitrary.arbitrary[Int]
    lo <- Arbitrary.arbitrary[Long]
    hi <- Arbitrary.arbitrary[Long]
    docs <- Arbitrary.arbitrary[Long]
    bytes <- Arbitrary.arbitrary[Long]
    ms <- Arbitrary.arbitrary[Long]
  } yield LineageRow(stage, pid, lo, hi, docs, bytes, ms)

  private val manifest: Gen[Manifest] = for {
    id <- nasty
    docCount <- Arbitrary.arbitrary[Long]
    buckets <- Arbitrary.arbitrary[Int]
    shift <- Arbitrary.arbitrary[Int]
    stages <- Gen.listOf(nasty)
    lineage <- Gen.listOf(lineageRow)
    stemming <- Arbitrary.arbitrary[Boolean]
    ngrams <- Arbitrary.arbitrary[Boolean]
  } yield Manifest(id, docCount, buckets, shift, stages, lineage, stemming, ngrams)

  test("parseManifest(manifestJson(m)) == m for arbitrary ids and stage names") {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(Seed(57L)),
      Prop.forAll(manifest)(m => Snapshots.parseManifest(Snapshots.manifestJson(m)) == m))
    assert(r.passed, r.status.toString)
  }

  private val sample = Manifest("snap-\"1\"", 1024L, 8, 6, Seq("journal", "a}b"),
    Seq(LineageRow("post\\ings", 0, -5L, 5L, 10L, 20L, 30L)), stemming = true)

  test("a manifest round-trips through the snapshot directory on disk") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "manifest").toString
    val m = sample.copy(snapshotId = "snap-1")
    Snapshots.writeManifest(root, m)
    assert(Snapshots.stagedManifest(root, "snap-1") === Some(m))
  }

  test("a missing required field fails with the field named") {
    val json = Snapshots.manifestJson(sample)
    for (f <- Seq("snapshotId", "docCount", "numBuckets", "docRangeShift", "stagesDone",
                  "lineage", "wallClockMs")) {
      val broken = json.replace(s""""$f":""", s""""x$f":""")
      val e = intercept[IllegalArgumentException](Snapshots.parseManifest(broken))
      assert(e.getMessage.contains(s"'$f'"), e.getMessage)
    }
    // the format flags are optional: older manifests lack them
    val old = json.replace(""","stemming":1,"ngrams":0""", "")
    assert(Snapshots.parseManifest(old) === sample.copy(stemming = false))
  }

  test("malformed manifests fail closed") {
    val json = Snapshots.manifestJson(sample)
    Seq(json.dropRight(1), json + "x", json.replace("\\\"", "\\q"),
        json.replace("1024", "\"1024\""), "", "[]").foreach { bad =>
      intercept[IllegalArgumentException](Snapshots.parseManifest(bad))
    }
  }
}
