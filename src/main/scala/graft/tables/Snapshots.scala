package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot layer: Parquet data dirs + JSON manifest with an
  * atomically-swapped current-snapshot pointer.
  *
  * Mirrors the reference's NEXT_PART/LIVE_PART file swap under write lock
  * (/root/reference/code/services-core/index-service/.../IndexServicesFactory.java:189-209,
  * SearchIndex.switchIndex:64-85): a new index is built off to the side and
  * becomes visible in one atomic pointer move, so readers never observe a
  * half-built index and a killed build resumes from the last committed
  * snapshot. No Iceberg runtime jar ships in this environment, so the
  * manifest format is our own minimal JSON.
  */
object Snapshots {

  final val PointerFile = "_current_snapshot"

  final case class Manifest(
      snapshotId: String,
      docCount: Long,
      numBuckets: Int,
      docRangeShift: Int,
      stagesDone: Seq[String],
      lineage: Seq[LineageRow],
      stemming: Boolean = false,
      ngrams: Boolean = false)

  /** Per-partition build ledger row (north rule: partitionId, termRange,
    * docCount, postingBytes, wallClock). */
  final case class LineageRow(
      stage: String,
      partitionId: Int,
      termRangeLo: Long,
      termRangeHi: Long,
      docCount: Long,
      postingBytes: Long,
      wallClockMs: Long)

  // -- tiny hand-rolled JSON (no deps beyond Spark's jars) -------------------
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  def manifestJson(m: Manifest): String = {
    val rows = m.lineage.map { r =>
      s"""{"stage":"${esc(r.stage)}","partitionId":${r.partitionId},"termRangeLo":${r.termRangeLo},"termRangeHi":${r.termRangeHi},"docCount":${r.docCount},"postingBytes":${r.postingBytes},"wallClockMs":${r.wallClockMs}}"""
    }.mkString("[", ",", "]")
    val stages = m.stagesDone.map(s => "\"" + esc(s) + "\"").mkString("[", ",", "]")
    s"""{"snapshotId":"${esc(m.snapshotId)}","docCount":${m.docCount},"numBuckets":${m.numBuckets},"docRangeShift":${m.docRangeShift},"stemming":${if (m.stemming) 1 else 0},"ngrams":${if (m.ngrams) 1 else 0},"stagesDone":$stages,"lineage":$rows}"""
  }

  /** Inverse of [[manifestJson]]. Fails closed: malformed JSON, a string
    * escape [[esc]] never writes, or a missing required field throws an
    * IllegalArgumentException naming the problem (`stemming`/`ngrams` are
    * optional — manifests written before those flags default to off). */
  def parseManifest(json: String): Manifest = {
    val top = obj(new JsonReader(json).document(), "manifest")
    val rows = arr(top, "lineage").map { v =>
      val r = obj(v, "lineage row")
      LineageRow(str(r, "stage"), num(r, "partitionId").toInt, num(r, "termRangeLo"),
        num(r, "termRangeHi"), num(r, "docCount"), num(r, "postingBytes"),
        num(r, "wallClockMs"))
    }
    Manifest(str(top, "snapshotId"), num(top, "docCount"), num(top, "numBuckets").toInt,
      num(top, "docRangeShift").toInt,
      arr(top, "stagesDone").map {
        case s: String => s
        case v => throw new IllegalArgumentException(s"manifest: stagesDone holds non-string $v")
      },
      rows,
      stemming = top.get("stemming").exists(_ == 1L),
      ngrams = top.get("ngrams").exists(_ == 1L))
  }

  private def field(o: Map[String, Any], name: String): Any =
    o.getOrElse(name, throw new IllegalArgumentException(s"manifest: missing field '$name'"))
  private def typed[A](o: Map[String, Any], name: String, kind: String)(
      pf: PartialFunction[Any, A]): A =
    pf.applyOrElse(field(o, name), (v: Any) =>
      throw new IllegalArgumentException(s"manifest: field '$name' is not $kind: $v"))
  private def str(o: Map[String, Any], name: String): String =
    typed(o, name, "a string") { case s: String => s }
  private def num(o: Map[String, Any], name: String): Long =
    typed(o, name, "an integer") { case n: Long => n }
  private def arr(o: Map[String, Any], name: String): Seq[Any] =
    typed(o, name, "an array") { case a: Seq[Any] @unchecked => a }
  private def obj(v: Any, what: String): Map[String, Any] = v match {
    case m: Map[String, Any] @unchecked => m
    case _ => throw new IllegalArgumentException(s"manifest: $what is not an object: $v")
  }

  /** The JSON subset [[manifestJson]] writes: objects, arrays, integers and
    * strings with exactly the escapes of [[esc]] (quote, backslash, `n`, and
    * `u` + four hex digits). Objects read as Map, arrays as Seq, integers as
    * Long. */
  private final class JsonReader(s: String) {
    private var i = 0
    private def fail(msg: String) =
      throw new IllegalArgumentException(s"manifest: $msg at offset $i")
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s(i) != c) fail(s"expected '$c'")
      i += 1
    }
    private def peek: Char = { ws(); if (i < s.length) s(i) else fail("unexpected end") }
    private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

    def document(): Any = {
      val v = value()
      ws()
      if (i != s.length) fail("trailing data")
      v
    }

    private def value(): Any = peek match {
      case '{' => members(); case '[' => elements(); case '"' => string()
      case c if c == '-' || isDigit(c) => integer()
      case c => fail(s"unexpected '$c'")
    }

    private def sequence[A](open: Char, close: Char)(item: => A): Seq[A] = {
      expect(open)
      val out = Seq.newBuilder[A]
      if (peek == close) i += 1
      else {
        out += item
        while (peek == ',') { i += 1; out += item }
        expect(close)
      }
      out.result()
    }
    private def members(): Map[String, Any] =
      sequence('{', '}') { val k = string(); expect(':'); k -> value() }.toMap
    private def elements(): Seq[Any] = sequence('[', ']')(value())

    private def integer(): Long = {
      ws()
      val start = i
      if (i < s.length && s(i) == '-') i += 1
      while (i < s.length && isDigit(s(i))) i += 1
      s.substring(start, i).toLongOption.getOrElse(fail("bad integer"))
    }

    private def string(): String = {
      expect('"')
      val b = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) != '\\') { b += s(i); i += 1 }
        else if (i + 1 >= s.length) fail("unterminated escape")
        else {
          s(i + 1) match {
            case '"'  => b += '"'; i += 2
            case '\\' => b += '\\'; i += 2
            case 'n'  => b += '\n'; i += 2
            case 'u' if i + 6 <= s.length =>
              val hex = s.substring(i + 2, i + 6)
              if (!hex.forall(c => Character.digit(c, 16) >= 0)) fail(s"bad escape \\u$hex")
              b += Integer.parseInt(hex, 16).toChar; i += 6
            case c => fail(s"unsupported escape \\$c")
          }
        }
      }
      if (i >= s.length) fail("unterminated string")
      i += 1
      b.result()
    }
  }

  // -- snapshot lifecycle ----------------------------------------------------

  /** Directory where a new snapshot is staged before commit. */
  def stagingDir(root: String, snapshotId: String): Path =
    Paths.get(root, "snapshots", snapshotId)

  def writeManifest(root: String, m: Manifest): Unit = {
    val dir = stagingDir(root, m.snapshotId)
    Files.createDirectories(dir)
    Files.write(dir.resolve("manifest.json"),
      manifestJson(m).getBytes(StandardCharsets.UTF_8))
  }

  /** Atomic publish: write pointer to tmp then move with ATOMIC_MOVE —
    * the distributed analog of the reference's Files.move(REPLACE_EXISTING)
    * swap (SearchIndex.java:64-85). */
  def commit(root: String, snapshotId: String): Unit = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val tmp = rootP.resolve(PointerFile + ".tmp")
    Files.write(tmp, snapshotId.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, rootP.resolve(PointerFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, rootP.resolve(PointerFile), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def currentSnapshotId(root: String): Option[String] = {
    val p = Paths.get(root, PointerFile)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  def currentManifest(root: String): Option[Manifest] =
    currentSnapshotId(root).flatMap { id =>
      val p = stagingDir(root, id).resolve("manifest.json")
      if (Files.exists(p)) Some(parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
      else None
    }

  /** Staged (possibly uncommitted) manifest for resume: newest staging dir
    * with a manifest, whether or not the pointer was swapped. */
  def stagedManifest(root: String, snapshotId: String): Option[Manifest] = {
    val p = stagingDir(root, snapshotId).resolve("manifest.json")
    if (Files.exists(p)) Some(parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    else None
  }

  /** Expire old snapshots, keeping the newest `keep` plus whatever the
    * current pointer references (readers holding older handles must reopen —
    * same contract as the reference's file swap, which deletes the previous
    * index outright). Returns the ids removed. */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  def expireSnapshots(root: String, keep: Int): Seq[String] = {
    val snapsDir = Paths.get(root, "snapshots")
    if (!Files.isDirectory(snapsDir)) return Nil
    val current = currentSnapshotId(root)
    // "newest" by directory mtime, not name: caller-chosen ids like
    // snap-9/snap-10 sort lexicographically in the wrong order
    val all = listDir(snapsDir)(_.filter(Files.isDirectory(_))
      .map(p => (p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
      .toSeq).sortBy { case (id, mtime) => (mtime, id) }.map(_._1)
    val doomed = all.dropRight(keep).filterNot(current.contains)
    doomed.foreach { id =>
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) listDir(p)(_.toSeq).foreach(rm)
        Files.deleteIfExists(p)
      }
      rm(stagingDir(root, id))
    }
    doomed
  }

  /** All committed-or-staged snapshots under `root`, oldest first by staging
    * mtime (Iceberg's snapshot log analog; the ids feed
    * `QueryEngine.openSnapshot` for time-travel reads and [[rollback]]). */
  def listSnapshots(root: String): Seq[Manifest] = {
    val snapsDir = Paths.get(root, "snapshots")
    if (!Files.isDirectory(snapsDir)) return Nil
    listDir(snapsDir)(_.filter(Files.isDirectory(_))
      .map(p => (p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
      .toSeq).sortBy { case (id, mtime) => (mtime, id) }
      .flatMap { case (id, _) => stagedManifest(root, id) }
  }

  /** Roll the current pointer back (or forward) to a retained snapshot —
    * the same atomic pointer swap as [[commit]], refused if the target's
    * manifest is missing (expired or never staged). Readers opened on the
    * previous current keep working: data files are immutable and only
    * [[expireSnapshots]] deletes them. */
  def rollback(root: String, snapshotId: String): Manifest = {
    val m = stagedManifest(root, snapshotId).getOrElse(throw new IllegalStateException(
      s"snapshot $snapshotId has no manifest under $root (expired or never staged)"))
    commit(root, snapshotId)
    m
  }

  /** Stage-completion marker: cheap resumability ledger per stage. */
  def markStageDone(root: String, snapshotId: String, stage: String): Unit = {
    val dir = stagingDir(root, snapshotId)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"_DONE_$stage"), Array.emptyByteArray)
  }
  def isStageDone(root: String, snapshotId: String, stage: String): Boolean =
    Files.exists(stagingDir(root, snapshotId).resolve(s"_DONE_$stage"))
}
