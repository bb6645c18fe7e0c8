package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SourceStamp

/** The staleness-stamp memo must be exactly as fresh as re-running the
  * probe: cached only while the dir's (name, size, mtime) census is
  * byte-for-byte unchanged, recomputed on ANY add/delete/rewrite, and
  * never cached for absent/non-walkable dirs. */
class SourceStampSpec extends AnyFunSuite {

  private def write(dir: String, name: String, content: String): Unit = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8)): Unit
  }

  test("memo hits while the dir is unchanged, recomputes on any mutation") {
    SourceStamp.clear()
    val dir = Files.createTempDirectory("stamp").toString
    write(dir, "part-0.parquet", "aaaa")
    write(dir, "sub/part-1.parquet", "bbbb")

    var runs = 0
    def probe(): Long = SourceStamp.memoLong(dir, "t") { runs += 1; 42L }

    assert(probe() === 42L); assert(runs === 1)
    assert(probe() === 42L); assert(runs === 1) // hit: no recompute

    // add a file → recompute
    write(dir, "part-2.parquet", "cc")
    assert(probe() === 42L); assert(runs === 2)

    // rewrite with a DIFFERENT SIZE (size is in the census even when the
    // filesystem's mtime granularity would hide a fast rewrite)
    write(dir, "part-2.parquet", "ccdd")
    assert(probe() === 42L); assert(runs === 3)

    // delete → recompute
    Files.delete(Paths.get(dir, "part-2.parquet"))
    assert(probe() === 42L); assert(runs === 4)

    // touch mtime only (content/size identical) → recompute (conservative)
    Files.setLastModifiedTime(Paths.get(dir, "part-0.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(probe() === 42L); assert(runs === 5)
  }

  test("distinct keys over one dir memoize independently") {
    SourceStamp.clear()
    val dir = Files.createTempDirectory("stamp2").toString
    write(dir, "f.parquet", "x")
    var a = 0; var b = 0
    assert(SourceStamp.memoLong(dir, "ka") { a += 1; 1L } === 1L)
    assert(SourceStamp.memoLong(dir, "kb") { b += 1; 2L } === 2L)
    assert(SourceStamp.memoLong(dir, "ka") { a += 1; 1L } === 1L)
    assert(SourceStamp.memoLong(dir, "kb") { b += 1; 2L } === 2L)
    assert(a === 1 && b === 1)
  }

  test("absent dirs are never memoized — the probe always runs") {
    SourceStamp.clear()
    val ghost = Files.createTempDirectory("stamp3").toString + "/nope"
    var runs = 0
    def probe(): Long = SourceStamp.memoLong(ghost, "t") { runs += 1; 7L }
    assert(probe() === 7L); assert(probe() === 7L)
    assert(runs === 2, "an absent dir must not pin a stale value")
    // the dir appearing later is a signature change by construction
    write(ghost, "f.parquet", "now exists")
    assert(probe() === 7L); assert(runs === 3)
    assert(probe() === 7L); assert(runs === 3, "existing dir memoizes")
  }

  test("a regular FILE signs too: memo hits while unchanged, recomputes on rewrite") {
    // the driver's sf tables are single parquet files — r18 extends the
    // signature to them so the schema/count memos engage on source tables
    SourceStamp.clear()
    val dir = Files.createTempDirectory("stampfile").toString
    write(dir, "table.parquet", "aaaa")
    val file = s"$dir/table.parquet"
    var runs = 0
    def probe(): Long = SourceStamp.memoLong(file, "t") { runs += 1; 9L }
    assert(probe() === 9L); assert(runs === 1)
    assert(probe() === 9L); assert(runs === 1, "unchanged file memoizes")
    // size change → recompute
    write(dir, "table.parquet", "aaaabb")
    assert(probe() === 9L); assert(runs === 2)
    // mtime-only change → recompute (conservative)
    Files.setLastModifiedTime(Paths.get(file),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 7000))
    assert(probe() === 9L); assert(runs === 3)
  }

  test("a same-size rewrite with a new mtime recomputes; one that also keeps the mtime is the named miss") {
    // memo's contract: a source file is unchanged while its (size,
    // mtime-ms) pair is. New content of the same length written at a new
    // mtime changes the pair, so the memo recomputes.
    import java.nio.file.attribute.FileTime
    SourceStamp.clear()
    val dir = Files.createTempDirectory("stampsame").toString
    val file = s"$dir/table.parquet"
    write(dir, "table.parquet", "aaaa")
    Files.setLastModifiedTime(Paths.get(file), FileTime.fromMillis(1_700_000_000_000L))
    var runs = 0
    def probe(): Long = SourceStamp.memoLong(file, "t") { runs += 1; runs.toLong }
    def dirProbe(): Long = SourceStamp.memoLong(dir, "t") { runs += 1; runs.toLong }
    assert(probe() === 1L && dirProbe() === 2L)
    write(dir, "table.parquet", "bbbb")
    Files.setLastModifiedTime(Paths.get(file), FileTime.fromMillis(1_700_000_001_000L))
    assert(probe() === 3L, "same size, new mtime: the file's memo recomputes")
    assert(dirProbe() === 4L, "same size, new mtime: the dir's memo recomputes")
    // the assumption named at SourceStamp.memo: a rewrite that keeps both
    // the size and the millisecond mtime is indistinguishable
    write(dir, "table.parquet", "cccc")
    Files.setLastModifiedTime(Paths.get(file), FileTime.fromMillis(1_700_000_001_000L))
    assert(probe() === 3L && dirProbe() === 4L)
  }

  test("generic memo: reference values hit while unchanged, recompute on mutation") {
    SourceStamp.clear()
    val dir = Files.createTempDirectory("stampref").toString
    write(dir, "stats.parquet", "v1")
    var runs = 0
    def probe(): Map[Long, Long] =
      SourceStamp.memo(dir, "bucketMap") { runs += 1; Map(0L -> runs.toLong) }
    assert(probe() === Map(0L -> 1L)); assert(runs === 1)
    assert(probe() === Map(0L -> 1L)); assert(runs === 1) // hit: same ref value
    write(dir, "stats.parquet", "v2-bigger") // size change → recompute
    assert(probe() === Map(0L -> 2L)); assert(runs === 2)
    // Long and reference memos are independent namespaces for one dir+key
    assert(SourceStamp.memoLong(dir, "bucketMap")(7L) === 7L)
    assert(probe() === Map(0L -> 2L)); assert(runs === 2)
  }

  test("memo retention is bounded under index-generation churn (r15 VERDICT)") {
    // A long-lived engine session churns index generations: each build
    // memoizes (bucket map / centroid / row count) for a fresh dir, then
    // the dir is deleted or rebuilt. The memo map must not retain an entry per
    // dead generation for the JVM's lifetime — dead-dir entries are
    // evicted and the total is LRU-capped at MaxEntries.
    SourceStamp.clear()
    val live = Files.createTempDirectory("stamp-live").toString
    write(live, "f.parquet", "live")
    var liveRuns = 0
    def liveProbe(): Seq[Int] =
      SourceStamp.memo(live, "centroids") { liveRuns += 1; Seq(1, 2, 3) }
    assert(liveProbe() === Seq(1, 2, 3)); assert(liveRuns === 1)

    val generations = SourceStamp.MaxEntries * 3
    (1 to generations).foreach { g =>
      val dir = Files.createTempDirectory(s"stamp-gen$g")
      write(dir.toString, "idx.parquet", s"generation $g")
      SourceStamp.memo(dir.toString, "centroids")(Array.fill(1024)(g)): Unit
      SourceStamp.memoLong(dir.toString, "rows")(g.toLong): Unit
      Files.delete(dir.resolve("idx.parquet"))
      Files.delete(dir)
    }
    assert(SourceStamp.retainedEntries <= SourceStamp.MaxEntries,
      s"memo retained ${SourceStamp.retainedEntries} entries after $generations dead generations")
    // the live dir's entry survives the churn (dead dirs evict first;
    // post-sweep the map is under the cap, so LRU never reaches it)
    assert(liveProbe() === Seq(1, 2, 3))
    assert(liveRuns === 1, "live-dir entry must survive dead-generation churn")
  }

  test("signature encoding is injective on adversarial filenames (ADVICE r14)") {
    // ':' and '|' are legal filename bytes, so the old delimited concat
    // "$rel:$sz:$mt|" collided these two DIFFERENT dir states:
    //   state A: files "a" (1 byte, mtime 2ms) and "b" (3 bytes, mtime 4ms)
    //   state B: one file literally named "a:1:2|b" (3 bytes, mtime 4ms)
    // — both fed the digest "a:1:2|b:3:4|". The length-prefixed encoding
    // must keep them distinct (a collision here is a silent stale cache).
    import java.nio.file.attribute.FileTime
    def touch(dir: String, name: String, bytes: Int, mtimeMs: Long): Unit = {
      val p = Paths.get(dir, name)
      Files.write(p, Array.fill(bytes)('x'.toByte))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs)): Unit
    }
    val dirA = Files.createTempDirectory("stampA").toString
    touch(dirA, "a", 1, 2L)
    touch(dirA, "b", 3, 4L)
    val dirB = Files.createTempDirectory("stampB").toString
    touch(dirB, "a:1:2|b", 3, 4L)
    val (sigA, sigB) = (SourceStamp.signature(dirA), SourceStamp.signature(dirB))
    assert(sigA.isDefined && sigB.isDefined)
    assert(sigA !== sigB, "two different dir states must never share a signature")
  }
}
