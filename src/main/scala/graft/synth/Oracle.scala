package graft.synth

import graft.core.{DedupConfig, ImageRow}
import graft.signatures.{Codec, Sig}

/** Brute-force O(n^2) ground-truth comparator — the "reference cluster
  * assignments" of the recall>=0.99 gate (BASELINE.json `metric`). Runs
  * driver-side over a collected small corpus, using the SAME
  * `DedupConfig` thresholds as the pipeline (the "same shingle/signature
  * config" requirement). The analog of destor's restore-and-compare
  * validation (reference: src/do_restore.c:113-189 — correctness =
  * byte-identical reconstruction; here = exact pairwise predicates).
  */
object Oracle {

  /** The ground-truth duplicate predicate for a row pair. */
  def isDup(a: ImageRow, b: ImageRow, cfg: DedupConfig): Boolean =
    isDupPre(a, b,
      Sig.shingleHashes(a.caption, cfg.shingleSize),
      Sig.shingleHashes(b.caption, cfg.shingleSize),
      a.caption.toLowerCase, b.caption.toLowerCase, cfg)

  /** [[isDup]] with the per-row caption features precomputed by the
    * caller — the O(n²) sweep then extracts shingles O(n) times instead
    * of O(n²) (the predicate itself is unchanged). */
  def isDupPre(a: ImageRow, b: ImageRow,
      shA: Array[Long], shB: Array[Long],
      caA: String, caB: String, cfg: DedupConfig): Boolean = {
    // exact: identical bytes + caption
    if (java.util.Arrays.equals(a.bytes, b.bytes) && a.caption == b.caption) return true
    // caption near-dup: exact shingle Jaccard
    if (Sig.jaccard(shA, shB) >= cfg.jaccardMin) return true
    // substring containment (normalized, above the winnowing guarantee)
    if (caA.length >= cfg.substrMinChars && caB.contains(caA) && caA != caB) return true
    if (caB.length >= cfg.substrMinChars && caA.contains(caB) && caA != caB) return true
    // pixel near-dup: phash hamming + decoded PSNR
    if (Sig.hamming(a.phash, b.phash) <= cfg.hammingMax) {
      val pa = Codec.decode(a.bytes, a.fmt)
      val pb = Codec.decode(b.bytes, b.fmt)
      if (pa.length == pb.length && Codec.psnr(pa, pb) >= cfg.psnrMin) return true
    }
    false
  }

  /** All true dup pairs (id1 < id2), brute force, with per-row caption
    * features extracted once. */
  def truePairs(rows: Seq[ImageRow], cfg: DedupConfig): Set[(String, String)] = {
    val sorted = rows.sortBy(_.image_id).toArray
    val sh = sorted.map(r => Sig.shingleHashes(r.caption, cfg.shingleSize))
    val ca = sorted.map(_.caption.toLowerCase)
    val out = Set.newBuilder[(String, String)]
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length) {
        if (isDupPre(sorted(i), sorted(j), sh(i), sh(j), ca(i), ca(j), cfg))
          out += ((sorted(i).image_id, sorted(j).image_id))
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Union-find closure → cluster id (min id under `ord`) per id. */
  def clusters[K](ids: Seq[K], pairs: Set[(K, K)])(implicit ord: Ordering[K]): Map[K, K] = {
    val parent = scala.collection.mutable.Map.empty[K, K]
    def find(x: K): K = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    ids.foreach(id => parent.getOrElseUpdate(id, id))
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(id => id -> find(id)).toMap
  }

  /** Pairs implied by a clustering (transitive closure pairs). */
  def clusterPairs(assign: Map[String, String]): Set[(String, String)] =
    assign.groupBy(_._2).values.flatMap { m =>
      val ids = m.keys.toArray.sorted
      for (i <- ids.indices.iterator; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.toSet
}
