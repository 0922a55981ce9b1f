package graft.core

/** Global pipeline configuration — the analog of destor's `struct destor`
  * (reference: src/destor.h:194-282) and its key-value config grammar
  * (src/config.c:19-325). One immutable case class instead of ~40 global
  * knobs; both the pipeline and the brute-force oracle read the SAME
  * instance, which is what the "same shingle/signature config" recall
  * gate refers to (BASELINE.json `metric`).
  *
  * Defaults mirror destor's defaults where a direct analog exists
  * (destor.config:29-107): MinHash K=128 ↦ sampling ratio 128
  * (destor.config:74), capping level ↦ rewrite-capping-level 14
  * (destor.config:140) scaled for bucket capping, quantile skew
  * threshold ↦ CBR utility histogram (src/cbr_rewrite.c:38-55).
  */
final case class DedupConfig(
    // --- shingling (analog of chunking, src/chunk_phase.c) ---
    shingleSize: Int = 3, // words per shingle (k-shingle)
    // --- MinHash (analog of min-sampling F1, src/index/sampling_method.c:12-75) ---
    minhashK: Int = 80, // signature length
    minhashSeed1: Long = 0x9747b28cL,
    minhashSeed2: Long = 0x85ebca6bL,
    // --- LSH banding (analog of feature→segment kv index, src/index/kvstore_htable.c) ---
    // S-curve 1-(1-j^r)^b at r=4: recall 0.9959 for j=0.7, 0.99997
    // for j=0.8 (both above the 0.99 gate), while false positives at
    // j=0.3 stay under 0.15. b=20 (round 1 used 32, then 24) cuts
    // posting volume and signature compute another ~17% — postings are
    // the pipeline's largest shuffle, the binding resource at scale.
    bands: Int = 20, // b bands ...
    rowsPerBand: Int = 4, // ... of r rows each; b*r == minhashK
    // --- phash hamming (pixel-side signature) ---
    hammingMax: Int = 6, // max hamming distance for a phash dup
    // block-combination hamming LSH (Sig.hammingComboKeys): guarantees
    // candidates for hamming <= phashBlocks - phashCombo (= hammingMax).
    // (8,2) emits C(8,2)=28 16-bit keys per image — 3x fewer postings
    // than round-1's (9,3)=84, same guarantee. Bucket density rises
    // with corpus size (~n/2^16 per band-combo); at 10^8+ rows move to
    // (9,3) (21-bit keys) or (11,5) — the guarantee is blocks-combo,
    // so keep it >= hammingMax when re-tuning.
    phashBlocks: Int = 8,
    phashCombo: Int = 2,
    // --- verification thresholds (the oracle uses these EXACT values) ---
    jaccardMin: Double = 0.8, // exact word-shingle Jaccard for caption dup
    psnrMin: Double = 40.0, // decoded-pixel PSNR gate (BASELINE.json input_hint)
    // --- substring pass: winnowing fingerprints (Schleimer et al. SIGMOD'03;
    //     the guaranteed-recall analog of Sparse-Index sampled postings F3) ---
    // gram=16 spans ~3 words, so even Zipf-hot word bigrams don't create
    // mid-size fingerprint buckets (measured: gram=10 produced ~10M
    // all-pairs candidates at 100k rows from hot word-pair grams);
    // window=24 holds postings to ~2L/25 per doc. Guarantee length =
    // 39 chars, still well under typical caption/document lengths.
    substrGram: Int = 16, // char k-gram size
    substrWindow: Int = 24, // winnowing window w; guarantee length = w+gram-1
    // document-frequency cap on winnowing-fingerprint postings in the
    // SUBSTRING-DEDUP text query (TextOps.substrDedup): fingerprints
    // shared by more than this many docs (per source) are dropped
    // BEFORE pairing, on the engine AND its oracle identically — the
    // CAP-capping analog for the one family whose oracle is exact
    // all-pairs (a boilerplate mega-bucket is otherwise O(n²) pairs).
    // Recall loss is confined to pairs whose ONLY shared fingerprints
    // are boilerplate-hot; the knob is the documented scale control.
    substrDfCap: Int = 64,
    // expected per-task character budget for the generalized-suffix-
    // array pass (TextOps.substrDedupSA): a source whose total text
    // exceeds this is block-partitioned into G = ceil(chars/cap) hash
    // groups and every unordered group PAIR becomes one GSA shard, so
    // per-task memory stays ~20 B x cap regardless of source skew
    // (replication factor G — work grows as G x source, the inherent
    // cost of exact all-pairs containment without pruning; the
    // winnowing family stays the sub-quadratic path). 16M chars
    // ~= 320 MB/task at the GSA's ~20 B/char.
    saShardMaxChars: Long = 16L << 20,
    // --- skew handling (CAP/CBR/HAR analogs, src/cap_rewrite.c / src/cbr_rewrite.c) ---
    bucketCap: Int = 64, // all-pairs floor: CBR raises the EFFECTIVE cap to the skewQuantile-quantile of bucket sizes (SkewControl.adaptiveCap); star-pairs above (CAP, R4)
    skewQuantile: Double = 0.99, // bucket-size quantile that defines a "hot" bucket (CBR, A4/R3)
    // --- incremental index (kvstore analog, src/index/kvstore_htable.c:158-185:
    //     kv_update keeps at most index_value_length ids per feature, FIFO) ---
    indexValueLength: Int = 64, // max stored postings probed per bucket (newest first)
    // --- index probe Bloom front-end (DDFS analog, src/utils/bloom_filter.c:98-127) ---
    bloomFpp: Double = 0.03, // false-positive rate of the store-scan pre-filter
    // --- restore locality / CFL selective rewrite (R2/R7,
    //     src/cfl_rewrite.c:19-93, switch src/filter_phase.c:105-117;
    //     defaults from destor.config:127-130) ---
    containerBytes: Long = 4L << 20, // content-store container size (destor CONTAINER_SIZE)
    cflUsageThreshold: Double = 0.03, // container utilization below which a restore's dups are out-of-order
    cflRequire: Double = 0.6, // R7 switch: live CFL at/above this disables rewriting
    // --- simulation level (destor src/destor.h:55-59: metadata-only
    //     runs that skip data movement, used for cheap index/dedup-ratio
    //     audits over huge traces). signatureOnly=true is the graft
    //     analog: the pipeline never reads or writes the `bytes` column —
    //     signatures come from caption+phash metadata, verify reads no
    //     image rows (hamming-close pairs settle on phash
    //     evidence with psnr = -1), exact identity degrades to
    //     metadata equality (caption+phash), pixel-identity keys are
    //     per-image unique (never fire), and restore is unavailable.
    //     Like destor's simulation stores, a simulation workDir and a
    //     full workDir must not mix. ---
    signatureOnly: Boolean = false
) {
  // --- cross-knob validation (the analog of destor's init_index combo
  //     normalization, reference src/index/index.c:34-109, which forces
  //     consistent segmenting+sampling+selection per named combo and
  //     exit(1)s on nonsense like exact dedup with a sampled index).
  //     Every guard is a RELATION between knobs a user can mis-tune
  //     independently; single-knob range checks ride along.
  require(shingleSize >= 1, "shingleSize must be >= 1")
  require(minhashK >= 1, "minhashK must be >= 1")
  require(bands >= 1 && rowsPerBand >= 1, "bands and rowsPerBand must be >= 1")
  require(bands * rowsPerBand == minhashK,
    s"bands*rowsPerBand ($bands*$rowsPerBand) must equal minhashK ($minhashK)")
  // hamming-LSH pigeonhole guarantee: splitting the 64-bit phash into
  // `phashBlocks` blocks and posting every (blocks - combo)-subset
  // guarantees a shared bucket for any pair with hamming <= blocks -
  // combo. If that bound were below hammingMax, verify would accept
  // pairs the candidate generator can MISS — a silent recall hole, not
  // an error any single stage could detect.
  require(phashCombo >= 1 && phashCombo <= phashBlocks && phashBlocks <= 64,
    s"need 1 <= phashCombo ($phashCombo) <= phashBlocks ($phashBlocks) <= 64")
  require(hammingMax >= 0, "hammingMax must be >= 0")
  require(phashBlocks - phashCombo >= hammingMax,
    s"phashBlocks - phashCombo (${phashBlocks - phashCombo}) must be >= hammingMax " +
      s"($hammingMax): the combo-key pigeonhole guarantee must cover the verify gate")
  require(jaccardMin > 0 && jaccardMin <= 1, "jaccardMin must be in (0,1]")
  require(psnrMin > 0, "psnrMin must be > 0")
  require(substrGram >= 2 && substrWindow >= 1,
    "substrGram must be >= 2 and substrWindow >= 1")
  require(substrDfCap >= 1, "substrDfCap must be >= 1")
  require(saShardMaxChars >= 1L, "saShardMaxChars must be >= 1")
  require(bucketCap >= 2,
    s"bucketCap ($bucketCap) must be >= 2: below 2 even a genuine dup pair's " +
      "bucket would star-pair to itself and emit nothing")
  require(skewQuantile > 0 && skewQuantile < 1, "skewQuantile must be in (0,1)")
  require(indexValueLength >= 1, "indexValueLength must be >= 1")
  require(bloomFpp > 0 && bloomFpp < 1, "bloomFpp must be in (0,1)")
  require(containerBytes > 0, "containerBytes must be > 0")
  require(cflUsageThreshold >= 0 && cflUsageThreshold <= 1,
    "cflUsageThreshold must be in [0,1]")
  require(cflRequire >= 0 && cflRequire <= 1, "cflRequire must be in [0,1]")
  /** Min normalized-caption length (chars) for the substring-dup gate:
    * winnowing guarantees any shared substring of this length shares a
    * selected fingerprint, so recall of the substring pass is exact. */
  def substrMinChars: Int = substrWindow + substrGram - 1
  /** Stable hash of the config — stamped into checkpoint manifests so a
    * resume with a different config never silently reuses stale stages. */
  def configHash: String = {
    val s = this.toString
    java.lang.Long.toHexString(
      s.getBytes("UTF-8").foldLeft(0xcbf29ce484222325L)((h, b) => (h ^ (b & 0xffL)) * 0x100000001b3L))
  }
}

object DedupConfig {
  val default: DedupConfig = DedupConfig()

  /** Named configuration presets — the analog of destor's `init_index`
    * combos (reference src/index/index.c:34-109: DDFS, Sampled Index,
    * Sparse Index, Extreme Binning, SiLo, BLC — each a NORMALIZED
    * bundle of segmenting+sampling+selection choices, so a user picks a
    * published design point instead of hand-tuning ~40 knobs into an
    * inconsistent state). Each preset revalidates through the case
    * class's cross-knob guards at class-init time.
    *
    * All presets keep the verification thresholds (jaccardMin, psnrMin,
    * hammingMax) identical — they are the CORRECTNESS surface the
    * recall gate is graded on; presets trade candidate-generation cost
    * against recall headroom and index/memory footprint, exactly the
    * axis destor's combos trade on (exact vs near-exact, physical vs
    * logical locality).
    */
  /** DDFS analog (exact physical, src/index/index.c:37-44): maximum
    * evidence retention — tight Bloom front-end on the incremental
    * probe, deep posting FIFO (kvstore value cap), default banding. The
    * most index memory per key; the fewest missed candidates across
    * ingest batches. */
  val exactPhysical: DedupConfig = default.copy(
    bloomFpp = 0.01,
    indexValueLength = 256)

  /** Sparse-Index / Sampled-Index analog (near-exact,
    * src/index/index.c:45-75: sampled features, bounded index): smaller
    * MinHash signature (sampling-ratio analog), shallower posting FIFO,
    * earlier star-pairing. Cheapest per-row compute and smallest index;
    * recall still above the 0.99 gate at j=0.8 (S-curve at b=16, r=4:
    * 1-(1-0.8^4)^16 = 0.9996) but with less headroom at j=0.7. */
  val sampledNearExact: DedupConfig = default.copy(
    minhashK = 64, bands = 16, rowsPerBand = 4,
    indexValueLength = 32,
    bucketCap = 32)

  /** Extreme-Binning / SiLo analog (similarity + logical locality,
    * src/index/index.c:76-97: segment-similarity champions): widest
    * candidate generation — more bands for recall headroom on weak
    * similarities, a larger all-pairs budget per bucket before CAP
    * star-pairing, deeper FIFO. Costliest shuffle; highest recall
    * margin (b=30, r=4: recall 0.9998 at j=0.7). */
  val similarityLogical: DedupConfig = default.copy(
    minhashK = 120, bands = 30, rowsPerBand = 4,
    bucketCap = 128,
    indexValueLength = 128)

  /** Preset registry keyed by the destor combo family each mirrors. */
  val presets: Map[String, DedupConfig] = Map(
    "exact-physical" -> exactPhysical,
    "sampled-near-exact" -> sampledNearExact,
    "similarity-logical" -> similarityLogical,
    "default" -> default)
}
