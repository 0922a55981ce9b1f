package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** FSL hashfile trace source (S3) — a from-scratch reader/writer for
  * the Stony Brook FSL hashfile format, the binary trace grammar the
  * reference consumes through its bundled libhashfile
  * (reference: src/fsl/libhashfile.h:22-137 documents the layout,
  * src/fsl/libhashfile.c:120-180 the header probe,
  * src/fsl/libhashfile.c:863-945 the per-chunk record read,
  * src/fsl/read_fsl_trace.c:50-163 the replay loop).
  *
  * Layout (all integers little-endian, packed):
  * {{{
  * header      v1/v2: magic u32, version u32, files u64, path_root[4096],
  *                    chunks u64, chnk_method u32, params[44],
  *                    hsh_method u32, hash_size u32           (4176 B)
  *             v3/v4: + sysid[4096], start_time u64, end_time u64 (8288 B)
  *             v5-v7: + bytes u64                                (8296 B)
  * file header v1:    path[4096], file_size u64, chunks u64
  *             v2/v3: file_size u64, chunks u64, pathlen u32, path[pathlen]
  *             v4:    file_size u64, uid u32, gid u32, perm u64, atime u64,
  *                    mtime u64, ctime u64, hardlinks u64, deviceid u64,
  *                    inodenum u64, chunks u64, pathlen u32,
  *                    target_pathlen u32, path, target_path
  *             v5-v7: same + blocks u64 after file_size
  * chunk       [size u64 if v3-v6 variable | size u32 if v7 variable]
  *             hash[hash_size/8]
  *             [cratio u8 if v6+]
  *             (fixed chunking: size derived from params; v1/v2 variable:
  *              size unrecorded, reported 0 — libhashfile.c:915-921)
  * }}}
  *
  * Spark recast: a hashfile is stateful byte-by-byte (file headers scope
  * the chunk records that follow), so each trace parses LINEARLY in one
  * task via the `binaryFile` source, while traces parallelize across
  * files — the same one-reader-per-stream model as [[TraceSource]].
  * Traces are chunk METADATA (~20-30 B/chunk), so whole-file parse tasks
  * are the right granularity even for 100 TB corpora; the parsed output
  * is a distributed table from the first shuffle on.
  */
object FslSource {

  val Magic = 0xDEADDEADL

  // enum chnking_method / hshing_method (libhashfile.h:159-176)
  val Fixed = 1
  val Variable = 2

  final case class HashfileMeta(version: Int, files: Long, chunks: Long,
                                chnkMethod: Int, fixedChunkSize: Long,
                                hshMethod: Int, hashBits: Int)

  /** One chunk record: (trace, file_seq, file_path, file_size,
    * chunk_idx, fp hex, size, cratio). */
  final case class FslChunk(trace_name: String, file_seq: Long, file_path: String,
                            file_size: Long, chunk_idx: Long, fp: String,
                            size: Long, cratio: Int)

  private val HeaderV12 = 4176
  private val HeaderV34 = 8288
  private val HeaderV5p = 8296

  /** Parse every hashfile matching `path` (glob ok) into one row per
    * chunk. `trace_name` is the file's basename without ".hf".
    *
    * Size limit: the `binaryFile` source materializes each trace as one
    * `Array[Byte]`, so a single hashfile is capped at 2 GB (JVM array
    * limit — Spark enforces it at scan time with a clear error). Real
    * public FSL traces can exceed this; at ~25 B/chunk that cap is
    * ~80M chunks PER TRACE FILE, and the published fslhomes snapshots
    * ship as many per-user/per-day files well under it. An oversized
    * trace needs a streaming RandomAccessFile parse path behind the
    * same row schema — deliberately not built here (no such fixture
    * can exist in this sandbox); the cap fails loudly, not wrongly. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (f, bytes) =>
        val base = f.substring(f.lastIndexOf('/') + 1).stripSuffix(".hf")
        parse(base, bytes)
      }
      .toDF()
  }

  /** Header-only probe (hashfile_open's version/method dispatch).
    * On-disk fields are UNTRUSTED (the CLI accepts arbitrary public
    * trace files): every count/length is bound-checked here or in
    * [[parse]] so a corrupt file fails with a descriptive require, not
    * a BufferUnderflow/NegativeArraySize deep inside a Spark task. */
  def parseMeta(bytes: Array[Byte]): HashfileMeta = {
    require(bytes.length >= HeaderV12, s"hashfile too short: ${bytes.length} B")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = b.getInt(0) & 0xffffffffL
    require(magic == Magic, f"bad hashfile magic 0x$magic%08x")
    val version = b.getInt(4)
    require(version >= 1 && version <= 7, s"unsupported hashfile version $version")
    val chnkMethod = b.getInt(4120)
    require(chnkMethod == Fixed || chnkMethod == Variable,
      s"unknown chunking method $chnkMethod")
    val files = b.getLong(8)
    val chunks = b.getLong(4112)
    require(files >= 0 && chunks >= 0,
      s"negative header counts: files=$files chunks=$chunks")
    val hashBits = b.getInt(4172)
    require(hashBits > 0 && hashBits % 8 == 0 && hashBits <= 4096,
      s"hash_size $hashBits bits is not a positive multiple of 8 (<= 4096)")
    // every chunk record is at least hash_size/8 bytes, so the header's
    // chunk count is bounded by the file's actual size
    require(chunks <= bytes.length.toLong / (hashBits / 8).max(1) + 1,
      s"header claims $chunks chunks but the file is only ${bytes.length} B")
    val m = HashfileMeta(version, files, chunks, chnkMethod,
      b.getInt(4124) & 0xffffffffL, b.getInt(4168), hashBits)
    require(chnkMethod != Fixed || m.fixedChunkSize > 0,
      s"fixed chunking with chunk size ${m.fixedChunkSize}")
    m
  }

  /** One trace's stateful parse — read_fsl_trace.c's replay loop minus
    * the SyncQueue: every file header, then its `chunks` records.
    * Corrupt/adversarial records fail with a require naming `trace`. */
  private[graft] def parse(trace: String, bytes: Array[Byte]): Iterator[FslChunk] =
    try parseChecked(trace, bytes)
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"hashfile '$trace': ${e.getMessage}", e)
    }

  private def parseChecked(trace: String, bytes: Array[Byte]): Iterator[FslChunk] = {
    val m = parseMeta(bytes)
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val hashBytes = m.hashBits / 8
    // untrusted-extent guard: a read past the buffer is a corrupt file
    def need(n: Long, what: String): Unit =
      require(n >= 0 && n <= b.remaining(),
        s"truncated/corrupt record: $what needs $n B, ${b.remaining()} left")
    b.position(m.version match {
      case 1 | 2 => HeaderV12
      case 3 | 4 => HeaderV34
      case _     => HeaderV5p
    })

    // exact per-record byte count (size field + hash + cratio) so one
    // extent check per file covers the whole record block
    val recBytes: Long =
      (if (m.chnkMethod == Variable && m.version >= 7) 4
       else if (m.chnkMethod == Variable && m.version >= 3) 8
       else 0) + hashBytes + (if (m.version >= 6) 1 else 0)
    val out = Iterator.newBuilder[FslChunk]
    var fileSeq = 0L
    while (fileSeq < m.files) {
      // --- file header (per-version layout) ---
      var path: String = null
      var fileSize = 0L
      var nChunks = 0L
      m.version match {
        case 1 =>
          need(4096 + 16, s"v1 file header (file $fileSeq)")
          val raw = new Array[Byte](4096); b.get(raw)
          val nul = raw.indexOf(0.toByte)
          path = new String(raw, 0, if (nul < 0) raw.length else nul, "UTF-8")
          fileSize = b.getLong(); nChunks = b.getLong()
        case 2 | 3 =>
          need(20, s"v${m.version} file header (file $fileSeq)")
          fileSize = b.getLong(); nChunks = b.getLong()
          val pathLen = b.getInt()
          require(pathLen >= 0 && pathLen <= 4096,
            s"path length $pathLen out of [0, 4096] (file $fileSeq)")
          need(pathLen, s"path (file $fileSeq)")
          val raw = new Array[Byte](pathLen); b.get(raw)
          path = new String(raw, "UTF-8")
        case v =>
          need(if (v >= 5) 96 else 88, s"v$v file header (file $fileSeq)")
          fileSize = b.getLong()
          if (v >= 5) b.getLong() // blocks
          b.getInt(); b.getInt()  // uid, gid
          b.position(b.position() + 8 * 6) // perm..deviceid
          b.getLong()             // inodenum
          nChunks = b.getLong()
          val pathLen = b.getInt(); val targetLen = b.getInt()
          require(pathLen >= 0 && pathLen <= 4096,
            s"path length $pathLen out of [0, 4096] (file $fileSeq)")
          require(targetLen >= 0 && targetLen <= 4096,
            s"target path length $targetLen out of [0, 4096] (file $fileSeq)")
          need(pathLen.toLong + targetLen, s"paths (file $fileSeq)")
          val raw = new Array[Byte](pathLen); b.get(raw)
          path = new String(raw, "UTF-8")
          b.position(b.position() + targetLen)
      }
      require(nChunks >= 0 && nChunks <= b.remaining() / recBytes.max(1L) + 1,
        s"chunk count $nChunks out of range (file $fileSeq)")
      need(nChunks * recBytes, s"$nChunks chunk records (file $fileSeq)")
      // --- chunk records (libhashfile.c:863-945's size/hash/cratio order) ---
      var i = 0L
      while (i < nChunks) {
        val size: Long =
          if (m.chnkMethod == Variable) {
            if (m.version >= 7) b.getInt() & 0xffffffffL
            else if (m.version >= 3) b.getLong()
            else 0L // v1/v2 traces do not record variable chunk sizes
          } else if (i == nChunks - 1) {
            // fixed chunking, last chunk: tail size, clamped when the
            // scan was run tail-off (libhashfile.c:899-914)
            val tail = fileSize - (nChunks - 1) * m.fixedChunkSize
            math.min(tail, m.fixedChunkSize)
          } else m.fixedChunkSize
        val h = new Array[Byte](hashBytes); b.get(h)
        val cratio = if (m.version >= 6) b.get() & 0xff else 0
        out += FslChunk(trace, fileSeq, path, fileSize, i, hex(h), size, cratio)
        i += 1
      }
      fileSeq += 1
    }
    out.result()
  }

  // char-table hex, allocation-free per byte (the P10 codec discipline
  // — a per-byte format call would dominate a 10^9-chunk trace parse)
  private val HexChars = "0123456789abcdef".toCharArray
  private def hex(a: Array[Byte]): String = {
    val out = new Array[Char](a.length * 2)
    var i = 0
    while (i < a.length) {
      val b = a(i) & 0xff
      out(2 * i) = HexChars(b >>> 4)
      out(2 * i + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  // ------------------------------------------------------------------
  // Writer (fixtures + the make-trace sink twin for hashfiles). The C
  // writer patches files/chunks counts into the header on close
  // (libhashfile.c:829-855); we do the same via RandomAccessFile.
  // ------------------------------------------------------------------

  final case class WChunk(fp: Array[Byte], size: Long = 0L, cratio: Int = 0)
  final case class WFile(path: String, fileSize: Long, chunks: Seq[WChunk])

  /** Serialize one hashfile. `version` 1-7; `chnkMethod` Fixed/Variable;
    * `hashBits` must be a multiple of 8 and match every fp's length. */
  def writeHashfile(out: File, version: Int, chnkMethod: Int, fixedChunkSize: Long,
                    hshMethod: Int, hashBits: Int, files: Iterator[WFile],
                    pathRoot: String = "graft://fsl"): (Long, Long) = {
    require(version >= 1 && version <= 7, s"version $version")
    val headerLen = version match {
      case 1 | 2 => HeaderV12
      case 3 | 4 => HeaderV34
      case _     => HeaderV5p
    }
    val raf = new RandomAccessFile(out, "rw")
    try {
      raf.setLength(0)
      val hdr = ByteBuffer.allocate(headerLen).order(ByteOrder.LITTLE_ENDIAN)
      hdr.putInt(0, Magic.toInt)
      hdr.putInt(4, version)
      val root = pathRoot.getBytes("UTF-8")
      System.arraycopy(root, 0, hdr.array(), 16, math.min(root.length, 4095))
      hdr.putInt(4120, chnkMethod)
      if (chnkMethod == Fixed) hdr.putInt(4124, fixedChunkSize.toInt)
      else {
        hdr.putInt(4124, 3)         // var_chnking_algo RABIN
        hdr.putInt(4128, 48)        // window_size
        hdr.putInt(4160, 256)       // min_csize
        hdr.putInt(4164, 65536)     // max_csize
      }
      hdr.putInt(4168, hshMethod)
      hdr.putInt(4172, hashBits)
      if (version >= 3) {
        val sysid = "graft".getBytes("UTF-8")
        System.arraycopy(sysid, 0, hdr.array(), 4176, sysid.length)
      }
      raf.write(hdr.array())

      var nFiles = 0L
      var nChunks = 0L
      var nBytes = 0L
      val buf = new ByteArrayOutputStream(1 << 16)
      files.foreach { f =>
        buf.reset()
        val d = new DataOutputStream(buf)
        val p = f.path.getBytes("UTF-8")
        version match {
          case 1 =>
            val fixed = new Array[Byte](4096)
            System.arraycopy(p, 0, fixed, 0, math.min(p.length, 4095))
            d.write(fixed); putLongLE(d, f.fileSize); putLongLE(d, f.chunks.size.toLong)
          case 2 | 3 =>
            putLongLE(d, f.fileSize); putLongLE(d, f.chunks.size.toLong)
            putIntLE(d, p.length); d.write(p)
          case v =>
            putLongLE(d, f.fileSize)
            if (v >= 5) putLongLE(d, (f.fileSize + 511) / 512) // blocks
            putIntLE(d, 0); putIntLE(d, 0)                     // uid, gid
            var k = 0
            while (k < 6) { putLongLE(d, 0L); k += 1 }         // perm..deviceid
            putLongLE(d, 0L)                                   // inodenum
            putLongLE(d, f.chunks.size.toLong)
            putIntLE(d, p.length); putIntLE(d, 0)              // pathlen, target
            d.write(p)
        }
        f.chunks.foreach { c =>
          require(c.fp.length == hashBits / 8,
            s"fp ${c.fp.length}B != hash_size ${hashBits / 8}B")
          if (chnkMethod == Variable) {
            if (version >= 7) {
              // the v7 record stores sizes as u32 — an oversized chunk
              // must fail at write time, not silently truncate into a
              // structurally-valid file whose sizes disagree with the
              // header byte count
              require(c.size >= 0 && c.size <= 0xffffffffL,
                s"chunk size ${c.size} does not fit the v7 u32 size field")
              putIntLE(d, c.size.toInt)
            } else if (version >= 3) putLongLE(d, c.size)
            nBytes += c.size
          }
          d.write(c.fp)
          if (version >= 6) d.write(c.cratio & 0xff)
        }
        // fixed-chunking records carry no sizes (derived from params at
        // parse time, WChunk.size stays 0), so the header's data-volume
        // field comes from the file size instead
        if (chnkMethod == Fixed) nBytes += f.fileSize
        raf.write(buf.toByteArray)
        nFiles += 1
        nChunks += f.chunks.size
      }
      // patch the counts the C writer back-fills on close
      val patch = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      def patchLong(off: Long, v: Long): Unit = {
        patch.clear(); patch.putLong(v)
        raf.seek(off); raf.write(patch.array())
      }
      patchLong(8, nFiles)
      patchLong(4112, nChunks)
      if (version >= 5) patchLong(8288, nBytes)
      (nFiles, nChunks)
    } finally raf.close()
  }

  private def putIntLE(d: DataOutputStream, v: Int): Unit = {
    d.write(v & 0xff); d.write((v >>> 8) & 0xff)
    d.write((v >>> 16) & 0xff); d.write((v >>> 24) & 0xff)
  }
  private def putLongLE(d: DataOutputStream, v: Long): Unit = {
    putIntLE(d, v.toInt); putIntLE(d, (v >>> 32).toInt)
  }

  /** Chunk-metadata rows for the documents table at a fixed 200-char
    * stride: the deterministic corpus↔hashfile mapping the driver query
    * and its DuckDB oracle both derive independently. Built with SQL
    * expressions only (code-point substring + md5 over UTF-8) so DuckDB
    * reproduces the fingerprints bit-for-bit. */
  private[graft] def docChunks(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("text"),
        explode(sequence(lit(0),
          ceil(length(col("text")) / lit(200.0)).cast("int") - 1, lit(1))).as("i"))
      .select(col("source"), col("doc_id"), col("i"),
        md5(encode(expr("substring(text, i*200 + 1, 200)"), "UTF-8")).as("fp"),
        octet_length(expr("substring(text, i*200 + 1, 200)")).cast("long").as("sz"))

  /** Write one v7 variable-chunking hashfile per `source` (each doc =
    * one trace file, chunk fps = md5 over 200-char slices), replay it
    * through [[read]], and aggregate per stream — the same end-to-end
    * writer+parser round trip as `q_trace_replay`, over the binary
    * grammar. Hash-oracled: DuckDB rebuilds the identical chunk set
    * from `documents` alone. */
  def fslReplay(spark: SparkSession, dir: String): DataFrame =
    replayDf(spark, dir)
      .groupBy(col("trace_name").as("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct("file_path").as("n_files"),
        countDistinct("fp").as("n_unique"),
        sum("size").as("total_bytes"),
        min("fp").as("min_fp"),
        max("fp").as("max_fp"))

  /** Write the corpus's v7 hashfiles and parse them back: the shared
    * round-trip front half of [[fslReplay]] and [[fslBackup]]. */
  private[graft] def replayDf(spark: SparkSession, dir: String): DataFrame = {
    val tmp = StreamFiles.scratchDir("graft-fsl", dir)
    // expected stream list from the documents table directly — one row
    // per doc, NOT via the exploded chunk plan (pruning removes the md5
    // but not the row-multiplying explode)
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") > 0).select("source").distinct()
      .collect().map(r => r.getString(0) + ".hf").sorted
    StreamFiles.writeChecked(tmp, expected.toSeq, "fslReplay") {
      makeFslTrace(docChunks(spark, dir), tmp.getPath)
    }
    read(spark, tmp.getPath + "/*.hf")
  }

  /** Trace-driven backup over the FSL grammar (the reference's
    * simulation-mode benchmark against public fslhomes traces —
    * src/fsl/read_fsl_trace.c feeding the same dedup pipeline as real
    * reads): the fingerprint stream alone drives a GLOBAL
    * first-occurrence dedup in trace order (one shared index, one
    * row_number window over fp — the single data-scale shuffle a real
    * backup pays for its index probe) and reports destor's per-stream
    * backup counters. Slice-grain fps give the corpus real duplicate
    * chunks, so the dedup decision is exercised, not just carried. */
  def fslBackup(spark: SparkSession, dir: String): DataFrame = {
    val cs = TraceJobs.backupCounters
    TraceJobs.flagFirst(replayDf(spark, dir),
        col("trace_name"), col("file_seq"), col("chunk_idx"))
      .groupBy(col("trace_name").as("source"))
      .agg(cs.head, cs.tail: _*)
  }

  /** Distributed v7 hashfile writer: one stream per source, each stream
    * contiguous in exactly one partition after the repartition, one
    * writer task per stream (TraceSource.makeTrace's layout for the
    * binary grammar). */
  def makeFslTrace(chunks: DataFrame, outDir: String): Unit = {
    new File(outDir).mkdirs()
    chunks.select("source", "doc_id", "i", "fp", "sz")
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id", "i")
      .foreachPartition { (it: Iterator[Row]) =>
        // group the sorted iterator into (source -> files -> chunks)
        // without materializing more than one FILE at a time
        val rows = it.buffered
        while (rows.hasNext) {
          val src = rows.head.getString(0)
          val fileIt = new Iterator[WFile] {
            def hasNext: Boolean = rows.hasNext && rows.head.getString(0) == src
            def next(): WFile = {
              val doc = rows.head.getLong(1)
              val cs = Seq.newBuilder[WChunk]
              var total = 0L
              while (rows.hasNext && rows.head.getString(0) == src &&
                rows.head.getLong(1) == doc) {
                val r = rows.next()
                val sz = r.getLong(4)
                cs += WChunk(hexToBytes(r.getString(3)), sz, 0)
                total += sz
              }
              WFile("doc_" + doc, total, cs.result())
            }
          }
          writeHashfile(new File(outDir, s"$src.hf"), version = 7,
            chnkMethod = Variable, fixedChunkSize = 0,
            hshMethod = 1 /* MD5_HASH */, hashBits = 128, files = fileIt,
            pathRoot = s"graft://$src")
          ()
        }
      }
  }

  private[graft] def hexToBytes(s: String): Array[Byte] = {
    val a = new Array[Byte](s.length / 2)
    var i = 0
    while (i < a.length) {
      a(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    a
  }
}
