package graft

import java.io.File

import graft.sources.FslSource
import graft.sources.FslSource.{WChunk, WFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S3 FSL hashfile binary trace source: writer→parser round trips for
  * every format version (1-7), fixed-chunking size derivation incl. the
  * tail clamp, zero-chunk files, corrupt-header failure, and the
  * distributed replay aggregate against a corpus recompute. */
class FslSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "fsl-source-spec")

  private def fp(seed: Int, n: Int = 16): Array[Byte] =
    Array.tabulate[Byte](n)(i => ((seed * 31 + i * 7) & 0xff).toByte)

  private def hexOf(a: Array[Byte]): String = a.map(b => f"${b & 0xff}%02x").mkString

  private def tmpFile(name: String): File = {
    val d = java.nio.file.Files.createTempDirectory("graft-fsl-spec").toFile
    new File(d, name)
  }

  test("v7 variable: writer → parser round trip, u32 sizes + cratio") {
    val f = tmpFile("a.hf")
    val files = Seq(
      WFile("f1", 5000L, Seq(WChunk(fp(1), 4096L, 12), WChunk(fp(2), 904L, 0))),
      WFile("f2", 77L, Seq(WChunk(fp(1), 77L, 255))))
    FslSource.writeHashfile(f, 7, FslSource.Variable, 0, 1, 128, files.iterator)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val m = FslSource.parseMeta(bytes)
    assert(m.version === 7 && m.files === 2 && m.chunks === 3 &&
      m.chnkMethod === FslSource.Variable && m.hashBits === 128)
    val rows = FslSource.parse("a", bytes).toList
    assert(rows.map(r => (r.file_path, r.chunk_idx, r.fp, r.size, r.cratio)) === List(
      ("f1", 0L, hexOf(fp(1)), 4096L, 12),
      ("f1", 1L, hexOf(fp(2)), 904L, 0),
      ("f2", 0L, hexOf(fp(1)), 77L, 255)))
    assert(rows.map(_.file_seq) === List(0L, 0L, 1L))
    assert(rows.map(_.file_size) === List(5000L, 5000L, 77L))
  }

  test("v5 fixed: chunk sizes derived from params, tail-on and tail-off clamp") {
    // libhashfile.c:899-914 — last chunk = file_size - (n-1)*cs, clamped
    // to cs when the scan ran tail-off (recorded size would exceed cs)
    val f = tmpFile("fixed.hf")
    val files = Seq(
      WFile("tail-on", 250L, Seq(WChunk(fp(1)), WChunk(fp(2)), WChunk(fp(3))).map(c => c.copy(size = 0L))),
      WFile("tail-off", 350L, Seq(WChunk(fp(4)), WChunk(fp(5)), WChunk(fp(6))).map(c => c.copy(size = 0L))))
    FslSource.writeHashfile(f, 5, FslSource.Fixed, 100L, 6, 128, files.iterator)
    val rows = FslSource.parse("fixed", java.nio.file.Files.readAllBytes(f.toPath)).toList
    assert(rows.filter(_.file_path == "tail-on").map(_.size) === List(100L, 100L, 50L))
    assert(rows.filter(_.file_path == "tail-off").map(_.size) === List(100L, 100L, 100L))
    assert(rows.forall(_.cratio === 0)) // v5 has no cratio byte
  }

  test("v6 variable: u64 chunk sizes + cratio byte") {
    val f = tmpFile("v6.hf")
    val big = (1L << 33) + 5 // exceeds u32 to prove the 64-bit path
    FslSource.writeHashfile(f, 6, FslSource.Variable, 0, 2, 256,
      Iterator(WFile("huge", big + 10, Seq(WChunk(fp(9, 32), big, 7), WChunk(fp(8, 32), 10L, 9)))))
    val rows = FslSource.parse("v6", java.nio.file.Files.readAllBytes(f.toPath)).toList
    assert(rows.map(r => (r.size, r.cratio)) === List((big, 7), (10L, 9)))
    assert(rows.head.fp === hexOf(fp(9, 32)))
  }

  test("v1/v2 variable: sizes unrecorded, reported 0; v1 fixed-width path") {
    for (v <- Seq(1, 2)) {
      val f = tmpFile(s"v$v.hf")
      FslSource.writeHashfile(f, v, FslSource.Variable, 0, 1, 128,
        Iterator(WFile("old-style", 123L, Seq(WChunk(fp(1), 60L, 0), WChunk(fp(2), 63L, 0)))))
      val rows = FslSource.parse(s"v$v", java.nio.file.Files.readAllBytes(f.toPath)).toList
      assert(rows.map(_.size) === List(0L, 0L), s"v$v sizes")
      assert(rows.map(_.file_path).distinct === List("old-style"), s"v$v path")
    }
  }

  test("v3/v4: longer headers parse; v3-v5 variable records u64 sizes") {
    for (v <- Seq(3, 4, 5)) {
      val f = tmpFile(s"v$v.hf")
      FslSource.writeHashfile(f, v, FslSource.Variable, 0, 1, 160,
        Iterator(WFile("x", 100L, Seq(WChunk(fp(3, 20), 100L, 0)))))
      val rows = FslSource.parse(s"v$v", java.nio.file.Files.readAllBytes(f.toPath)).toList
      assert(rows === List(FslSource.FslChunk(s"v$v", 0L, "x", 100L, 0L, hexOf(fp(3, 20)), 100L, 0)))
    }
  }

  test("zero-chunk files mid-stream are skipped but keep file_seq honest") {
    val f = tmpFile("zero.hf")
    FslSource.writeHashfile(f, 7, FslSource.Variable, 0, 1, 128,
      Iterator(WFile("empty", 0L, Nil), WFile("full", 9L, Seq(WChunk(fp(4), 9L, 0)))))
    val rows = FslSource.parse("zero", java.nio.file.Files.readAllBytes(f.toPath)).toList
    assert(rows.map(r => (r.file_path, r.file_seq)) === List(("full", 1L)))
  }

  test("v4+ headers need exactly the bytes they read: zero-chunk last file, one 6-byte record") {
    // the v4+ file header is 88 (v4) / 96 (v5+) bytes; a trace whose
    // last file ends right after it (zero chunks), or after one 48-bit
    // fixed-chunking record, is valid and must round-trip
    val cases = Seq(
      ("zero-last", 5, FslSource.Variable, 0L, 128,
        Seq(WFile("full", 9L, Seq(WChunk(fp(4), 9L, 0))), WFile("e", 0L, Nil))),
      ("one-48bit", 5, FslSource.Fixed, 4096L, 48,
        Seq(WFile("x", 100L, Seq(WChunk(fp(5, 6)))))),
      ("v4-zero-last", 4, FslSource.Variable, 0L, 128, Seq(WFile("e", 0L, Nil))))
    for ((name, v, method, cs, bits, files) <- cases) {
      val f = tmpFile(s"$name.hf")
      FslSource.writeHashfile(f, v, method, cs, 1, bits, files.iterator)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val rows = FslSource.parse(name, bytes).toList
      assert(rows.map(r => (r.file_path, r.fp)) ===
        files.flatMap(w => w.chunks.map(c => (w.path, hexOf(c.fp)))).toList, name)
      // one byte short still fails with the named extent check
      val ex = intercept[IllegalArgumentException](
        FslSource.parse(name, bytes.dropRight(1)).toList)
      assert(ex.getMessage.contains("truncated/corrupt record"), ex.getMessage)
    }
  }

  test("corrupt magic and unsupported version fail loudly") {
    val f = tmpFile("bad.hf")
    FslSource.writeHashfile(f, 7, FslSource.Variable, 0, 1, 128,
      Iterator(WFile("x", 1L, Seq(WChunk(fp(1), 1L, 0)))))
    val good = java.nio.file.Files.readAllBytes(f.toPath)
    val badMagic = good.clone(); badMagic(0) = 0x00
    assertThrows[IllegalArgumentException](FslSource.parse("b", badMagic).toList)
    val badVer = good.clone(); badVer(4) = 9
    assertThrows[IllegalArgumentException](FslSource.parse("b", badVer).toList)
  }

  test("distributed read over a multi-trace dir equals the local parse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fsl-multi").toFile
    val perTrace = (0 until 3).map { t =>
      val files = (0 until 4).map(i =>
        WFile(s"f$t-$i", 100L + i, Seq(WChunk(fp(t * 10 + i), 100L + i, i))))
      FslSource.writeHashfile(new File(dir, s"trace$t.hf"), 7,
        FslSource.Variable, 0, 1, 128, files.iterator)
      s"trace$t" -> files
    }.toMap
    val got = FslSource.read(spark, dir.getPath + "/*.hf")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(5), r.getLong(6))).toSet
    val want = perTrace.flatMap { case (t, files) =>
      files.flatMap(f => f.chunks.map(c => (t, f.path, hexOf(c.fp), c.size)))
    }.toSet
    assert(got === want)
  }

  test("fslReplay: per-source aggregate equals a direct corpus recompute") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 450, "en", "srcA", 450L),  // 3 chunks: 200/200/50
      (2L, "b" * 200, "en", "srcA", 200L),  // 1 chunk
      (3L, "a" * 450, "en", "srcB", 450L),  // cross-stream dup of doc 1
      (4L, "", "en", "srcB", 0L),           // empty: no chunks, no file
      (5L, "c" * 201, "en", "srcB", 201L)   // 2 chunks: 200/1
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-fsl-replay").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val got = FslSource.fslReplay(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // srcA: docs 1,2 -> 4 chunks; fps: md5(a*200) x2 (dup within doc 1? no:
    // slices a*200, a*200, a*50 -> md5(a*200) twice + md5(a*50)), doc2 b*200
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    val srcAUnique = Set(m("a" * 200), m("a" * 50), m("b" * 200)).size
    val srcBUnique = Set(m("a" * 200), m("a" * 50), m("c" * 200), m("c" * 1)).size
    assert(got === Set(
      ("srcA", 4L, 2L, srcAUnique.toLong, 650L),
      ("srcB", 5L, 2L, srcBUnique.toLong, 651L)))

    // trace-driven backup over the same hashfiles: global (cross-
    // stream) first-occurrence dedup — srcA stores a*200 once (its own
    // second slice is already a dup), srcB's doc 3 is entirely dedup'd
    // against srcA, and only its c-doc slices are stored
    val backup = FslSource.fslBackup(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(backup === Set(
      ("srcA", 4L, 650L, 450L, 3L),
      ("srcB", 5L, 651L, 201L, 2L)))
  }
}
