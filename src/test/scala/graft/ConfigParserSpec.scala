package graft

import graft.core.{ConfigParser, DedupConfig}
import org.scalatest.funsuite.AnyFunSuite

class ConfigParserSpec extends AnyFunSuite {

  test("empty / comment-only text parses to the default config") {
    assert(ConfigParser.parse("") == DedupConfig.default)
    assert(ConfigParser.parse("# nothing\n\n   # here\n") == DedupConfig.default)
  }

  test("render -> parse round-trips every preset exactly") {
    for ((name, cfg) <- DedupConfig.presets)
      assert(ConfigParser.parse(ConfigParser.render(cfg)) == cfg, s"preset $name")
  }

  test("preset base plus overrides, trailing comments, last-wins duplicates") {
    val cfg = ConfigParser.parse(
      """# pick the sampled design point, then widen the Bloom filter
        |preset sampled-near-exact
        |bloom-fpp 0.10   # trailing comment
        |bucket-cap 16
        |bucket-cap 48
        |signature-only yes
        |minhash-seed1 0xdeadbeef
        |""".stripMargin)
    assert(cfg.minhashK == 64 && cfg.bands == 16) // from the preset
    assert(cfg.bloomFpp == 0.10)
    assert(cfg.bucketCap == 48) // last wins
    assert(cfg.signatureOnly)
    assert(cfg.minhashSeed1 == 0xdeadbeefL)
  }

  test("cross-knob relations validate the FINAL state, not intermediates") {
    // either line alone is inconsistent with the default (20*4=80);
    // together they form a valid 16*4=64 config
    val cfg = ConfigParser.parse("minhash-k 64\nbands 16\n")
    assert(cfg.minhashK == 64 && cfg.bands == 16)
    // and a genuinely inconsistent final state still fails
    val e = intercept[IllegalArgumentException](ConfigParser.parse("bands 7\n"))
    assert(e.getMessage.contains("minhashK"))
  }

  test("errors carry line numbers: unknown key, unknown preset, bad value, late preset") {
    val e1 = intercept[IllegalArgumentException](ConfigParser.parse("bands 20\nnope 3\n"))
    assert(e1.getMessage.contains("line 2") && e1.getMessage.contains("nope"))
    // knobs no stage reads are not keys
    for (dead <- Seq("seed 7", "simhash-bits 32")) {
      val e = intercept[IllegalArgumentException](ConfigParser.parse(dead + "\n"))
      assert(e.getMessage.contains("unknown key"), dead)
    }
    val e2 = intercept[IllegalArgumentException](ConfigParser.parse("preset fancy\n"))
    assert(e2.getMessage.contains("unknown preset"))
    val e3 = intercept[IllegalArgumentException](ConfigParser.parse("minhash-k many\n"))
    assert(e3.getMessage.contains("line 1") && e3.getMessage.contains("integer"))
    val e4 = intercept[IllegalArgumentException](
      ConfigParser.parse("bands 20\npreset default\n"))
    assert(e4.getMessage.contains("precede"))
  }

  test("parseFile reads from disk") {
    val p = java.nio.file.Files.createTempFile("graft-conf", ".conf")
    java.nio.file.Files.writeString(p, "preset exact-physical\nbucket-cap 32\n")
    val cfg = ConfigParser.parseFile(p.toString)
    assert(cfg.bloomFpp == 0.01 && cfg.indexValueLength == 256 && cfg.bucketCap == 32)
    java.nio.file.Files.delete(p)
  }
}
