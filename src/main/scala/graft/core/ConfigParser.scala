package graft.core

/** Text config grammar → [[DedupConfig]] — the analog of destor's
  * config file layer (reference src/config.c:19-325 parses `key value`
  * lines into the global `destor` struct; destor.config documents the
  * surface). The graft's library API is the case class; this parser is
  * the CLI/ops-facing skin so a deployment can pin a run's knobs in a
  * reviewable file instead of code.
  *
  * Grammar (line-oriented, order-insensitive except `preset`):
  * {{{
  *   # comment (also trailing), blank lines ignored
  *   preset sampled-near-exact   # optional base, must precede overrides
  *   minhash-k 64                # kebab-case key, one value
  *   bands 16
  *   bloom-fpp 0.01
  *   signature-only true
  *   minhash-seed1 0x9747b28c    # longs accept hex
  * }}}
  * Later duplicates win (destor's parser has the same last-wins
  * semantics — the config file is read top to bottom into one struct).
  * All overrides apply in ONE copy, so the case class's cross-knob
  * relations (bands*rowsPerBand == minhashK, the hamming pigeonhole,
  * ...) validate the FINAL state — a file that sets minhash-k and
  * bands consistently parses even though either line alone would be
  * inconsistent with the base.
  */
object ConfigParser {

  /** Known keys, each with a one-copy setter applied at the end. */
  private val keys: Set[String] = Set(
    "shingle-size", "minhash-k", "minhash-seed1", "minhash-seed2",
    "bands", "rows-per-band", "hamming-max",
    "phash-blocks", "phash-combo", "jaccard-min", "psnr-min",
    "substr-gram", "substr-window", "substr-df-cap", "sa-shard-max-chars",
    "bucket-cap", "skew-quantile", "index-value-length", "bloom-fpp",
    "container-bytes", "cfl-usage-threshold", "cfl-require",
    "signature-only")

  private def toLong(v: String, key: String, ln: Int): Long =
    try {
      if (v.startsWith("0x") || v.startsWith("0X"))
        java.lang.Long.parseUnsignedLong(v.substring(2), 16)
      else v.toLong
    } catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"line $ln: $key expects an integer, got '$v'")
    }

  private def toInt(v: String, key: String, ln: Int): Int = {
    val l = toLong(v, key, ln)
    require(l >= Int.MinValue && l <= Int.MaxValue, s"line $ln: $key out of Int range: $v")
    l.toInt
  }

  private def toDouble(v: String, key: String, ln: Int): Double =
    try v.toDouble
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"line $ln: $key expects a number, got '$v'")
    }

  private def toBool(v: String, key: String, ln: Int): Boolean = v.toLowerCase match {
    case "true" | "yes" | "on" | "1" => true
    case "false" | "no" | "off" | "0" => false
    case other =>
      throw new IllegalArgumentException(s"line $ln: $key expects a boolean, got '$other'")
  }

  def parse(text: String): DedupConfig = {
    var base = DedupConfig.default
    var sawOverride = false
    // (key -> (value, lineNo)); later duplicates win
    val kv = scala.collection.mutable.LinkedHashMap.empty[String, (String, Int)]
    for ((raw, i) <- text.linesIterator.zipWithIndex) {
      val ln = i + 1
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case h => raw.substring(0, h).trim
      }
      if (line.nonEmpty) {
        val sp = line.indexWhere(_.isWhitespace)
        require(sp > 0, s"line $ln: expected 'key value', got '$line'")
        val key = line.substring(0, sp)
        val v = line.substring(sp).trim
        if (key == "preset") {
          require(!sawOverride && kv.isEmpty,
            s"line $ln: 'preset' must precede every override")
          base = DedupConfig.presets.getOrElse(v,
            throw new IllegalArgumentException(
              s"line $ln: unknown preset '$v' (know: ${DedupConfig.presets.keys.toSeq.sorted.mkString(", ")})"))
        } else {
          require(keys.contains(key),
            s"line $ln: unknown key '$key' (know: ${keys.toSeq.sorted.mkString(", ")})")
          kv(key) = (v, ln)
          sawOverride = true
        }
      }
    }
    def i(k: String, dflt: Int): Int = kv.get(k).map { case (v, ln) => toInt(v, k, ln) }.getOrElse(dflt)
    def l(k: String, dflt: Long): Long = kv.get(k).map { case (v, ln) => toLong(v, k, ln) }.getOrElse(dflt)
    def d(k: String, dflt: Double): Double = kv.get(k).map { case (v, ln) => toDouble(v, k, ln) }.getOrElse(dflt)
    def b(k: String, dflt: Boolean): Boolean = kv.get(k).map { case (v, ln) => toBool(v, k, ln) }.getOrElse(dflt)
    // one copy: cross-knob requires see only the FINAL state
    base.copy(
      shingleSize = i("shingle-size", base.shingleSize),
      minhashK = i("minhash-k", base.minhashK),
      minhashSeed1 = l("minhash-seed1", base.minhashSeed1),
      minhashSeed2 = l("minhash-seed2", base.minhashSeed2),
      bands = i("bands", base.bands),
      rowsPerBand = i("rows-per-band", base.rowsPerBand),
      hammingMax = i("hamming-max", base.hammingMax),
      phashBlocks = i("phash-blocks", base.phashBlocks),
      phashCombo = i("phash-combo", base.phashCombo),
      jaccardMin = d("jaccard-min", base.jaccardMin),
      psnrMin = d("psnr-min", base.psnrMin),
      substrGram = i("substr-gram", base.substrGram),
      substrWindow = i("substr-window", base.substrWindow),
      substrDfCap = i("substr-df-cap", base.substrDfCap),
      saShardMaxChars = l("sa-shard-max-chars", base.saShardMaxChars),
      bucketCap = i("bucket-cap", base.bucketCap),
      skewQuantile = d("skew-quantile", base.skewQuantile),
      indexValueLength = i("index-value-length", base.indexValueLength),
      bloomFpp = d("bloom-fpp", base.bloomFpp),
      containerBytes = l("container-bytes", base.containerBytes),
      cflUsageThreshold = d("cfl-usage-threshold", base.cflUsageThreshold),
      cflRequire = d("cfl-require", base.cflRequire),
      signatureOnly = b("signature-only", base.signatureOnly))
  }

  def parseFile(path: String): DedupConfig =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  /** Render a config back to the grammar (every key explicit) — the
    * inverse of [[parse]]; stamped next to a run's metrics/lineage so
    * an audit can replay the exact knobs (destor logs its struct the
    * same way at job start, src/destor.c:120-180). */
  def render(cfg: DedupConfig): String = {
    val sb = new StringBuilder
    def put(k: String, v: Any): Unit = { sb ++= k; sb += ' '; sb ++= v.toString; sb += '\n' }
    put("shingle-size", cfg.shingleSize)
    put("minhash-k", cfg.minhashK)
    put("minhash-seed1", "0x" + java.lang.Long.toHexString(cfg.minhashSeed1))
    put("minhash-seed2", "0x" + java.lang.Long.toHexString(cfg.minhashSeed2))
    put("bands", cfg.bands)
    put("rows-per-band", cfg.rowsPerBand)
    put("hamming-max", cfg.hammingMax)
    put("phash-blocks", cfg.phashBlocks)
    put("phash-combo", cfg.phashCombo)
    put("jaccard-min", cfg.jaccardMin)
    put("psnr-min", cfg.psnrMin)
    put("substr-gram", cfg.substrGram)
    put("substr-window", cfg.substrWindow)
    put("substr-df-cap", cfg.substrDfCap)
    put("sa-shard-max-chars", cfg.saShardMaxChars)
    put("bucket-cap", cfg.bucketCap)
    put("skew-quantile", cfg.skewQuantile)
    put("index-value-length", cfg.indexValueLength)
    put("bloom-fpp", cfg.bloomFpp)
    put("container-bytes", cfg.containerBytes)
    put("cfl-usage-threshold", cfg.cflUsageThreshold)
    put("cfl-require", cfg.cflRequire)
    put("signature-only", cfg.signatureOnly)
    sb.result()
  }
}
