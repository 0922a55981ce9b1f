package graft

import graft.core.{DedupConfig, ImageRow}
import graft.pipeline.{DedupPipeline, IncrementalDedup}
import graft.signatures.Codec
import graft.synth.{CorpusGen, Oracle}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** P9 zero-chunk analog: degenerate inputs (uniform pixels, blank
  * captions) are flagged and counted, and the pipeline's result on a
  * corpus containing them still matches the brute-force oracle — the
  * hot buckets they generate are bounded by the skew machinery, not by
  * dropping recall. */
class DegenerateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "degen-spec")
  val cfg = DedupConfig.default

  private val W = 24
  private val H = 24

  private def uniformRow(id: Long, value: Int, caption: String): ImageRow = {
    val rgb = Array.fill((W * H * 3))(value.toByte)
    val bytes = Codec.encodePpm(W, H, rgb)
    ImageRow(f"img$id%010d", bytes, W, H, "ppm", caption,
      Codec.phash(W, H, Codec.decode(bytes, "ppm")))
  }

  test("uniform/blank rows are counted and still cluster per the oracle") {
    import spark.implicits._
    // normal corpus + 5 black and 3 white images, all with BLANK captions:
    // per the oracle, blanks are mutual caption-dups (sentinel shingle,
    // jaccard 1.0) — so all 8 must land in ONE cluster despite the
    // black/white pixel difference
    val normal = CorpusGen.genGroup(42L, 0) ++ CorpusGen.genGroup(42L, 1)
    val planted = (0 until 5).map(i => uniformRow(9000 + i, 0, "")) ++
      (0 until 3).map(i => uniformRow(9100 + i, 255, ""))
    val rows = normal ++ planted
    val corpus = spark.createDataset(rows)

    val dir = Files.createTempDirectory("graft-degen").toString
    val inc = new IncrementalDedup(spark, dir, cfg)
    val got = inc.ingest(corpus, "d1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // metric counters (jcr zero-chunk analog) in the ingest's record
    val m = inc.record("d1").get.stages.find(_.stage == "signatures").get.counters
    assert(m("degenerate_pixel_rows") == 8.0)
    assert(m("blank_caption_rows") == 8.0)

    // exact oracle equality on the full corpus (recall AND precision)
    val want = Oracle.clusters(rows.map(_.image_id),
      Oracle.truePairs(rows, cfg))
    assert(got == want)
    // sanity: the 8 planted degenerates form one cluster
    val plantedClusters = planted.map(r => got(r.image_id)).toSet
    assert(plantedClusters.size == 1)
  }

  test("degenerate flag is exact: only uniform-pixel rows carry it") {
    import spark.implicits._
    val normal = CorpusGen.genGroup(42L, 2)
    val planted = Seq(uniformRow(9500, 17, "some caption words here"))
    val sigs = DedupPipeline.signatures(
      spark.createDataset(normal ++ planted), cfg).collect()
    assert(sigs.filter(_.degenerate).map(_.image_id).toSeq == Seq("img0000009500"))
  }
}
