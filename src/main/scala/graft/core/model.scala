package graft.core

/** Core row types of the pipeline — the analog of destor's fixed C structs
  * (chunk `src/destor.h:289-295`, segment `src/destor.h:298-304`,
  * chunkPointer `src/recipe/recipestore.h:78-82`), expressed as case
  * classes with Catalyst `Encoder`s so every stage is a typed
  * `Dataset[T]` / `DataFrame` and Tungsten stores rows off-heap.
  */

/** One row of the input `images` table (BASELINE.json `input_hint`). */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String, // "ppm" (raw RGB) | "qnt" (quantized RGB — lossy re-encode)
    caption: String,
    phash: Long
)

/** Per-image signature bundle — the analog of a destor segment's sampled
  * feature set (`src/destor.h:298-304` + `src/index/sampling_method.c`).
  * `bands` holds the b LSH band keys derived from the K-permutation
  * MinHash over caption shingles (F1 min-sampling recast) — the full
  * K-long signature is folded into band keys AT signature time because
  * nothing downstream needs the raw signature (verify recomputes exact
  * shingle Jaccard from captions), and storing b longs instead of K
  * cuts the cached/broadcast signature row ~4x. `simhash` is a 64-bit
  * SimHash over pixel features; `sha` is the exact-dup key (P8 SHA-1
  * fingerprinting, `src/hash_phase.c:8-38`).
  */
final case class SignatureRow(
    image_id: String,
    /** 64-bit internal id = Sig.hash64(image_id) — the ONLY id that the
      * posting/pair hot path shuffles (a string id would roughly double
      * posting-shuffle bytes and pay a UTF8String→String decode per row;
      * at 10^12 rows that is the difference between a radix-sortable
      * 36-byte posting and a 56-byte one). Collisions are SAFE by
      * construction: verify re-joins candidates to signature rows by nid
      * and applies the exact predicates per joined row, so a collision
      * only creates extra exactly-verified candidate rows (plus
      * discarded self-pairs), never a false merge. */
    nid: Long,
    sha: String, // hex sha1 over (len(bytes) ++ bytes ++ caption) — exact-dup identity
    pixsha: String, // hex sha1 over decoded RAW pixels — exact-pixel dup key
    bands: Array[Long], // LSH band keys of the caption MinHash
    simhash: Long,
    phash: Long,
    shingle_count: Int,
    caption: String,
    // P9 zero-chunk analog (reference src/chunk_phase.c:85-90 flags the
    // all-zero chunk): uniform decoded pixels — the degenerate-input
    // class that generates hot phash buckets. Flagged + counted per run
    // (jcr counter analog); bucket emission is unchanged because the
    // oracle's dup predicate still applies to such rows, and the CAP/
    // CBR/HAR skew machinery bounds the buckets they create.
    degenerate: Boolean = false
)

/** One LSH bucket posting: bucket key → image. The analog of destor's
  * feature→segment kv postings (`src/index/kvstore_htable.c`), keyed
  * like them on one value: `key` is the bucket's `PairGen.postingKey`,
  * made once where the posting is emitted. `payload` carries the full
  * 64-bit hash for hamming-LSH bands so the pair generator can reject
  * far pairs AT EMISSION (bucket collisions grow ~n^2/keyspace;
  * filtering before the pair shuffle keeps the candidate stream
  * linear). 0 for bands with no payload semantics.
  */
final case class BucketRow(key: Long, nid: Long, payload: Long = 0L)

/** A verified duplicate pair with its evidence. */
final case class VerifiedPair(
    id1: String,
    id2: String,
    src: String,
    jaccard: Double,
    hamming: Int,
    psnr: Double,
    verdict: String // "exact" | "caption" | "pixel" | "substr"
)

/** Final cluster assignment; `cluster_id` = min `image_id` of the
  * component (deterministic canonical representative — the analog of
  * destor's first-occurrence-wins container id, `src/index/index.c:282-315`).
  */
final case class ClusterRow(image_id: String, cluster_id: String, representative: Boolean)

/** Lineage + metrics of one stage of one ingest (north_rule
  * resumability — the analog of destor's recipe store,
  * `src/recipe/recipestore.h:25-52`, and jcr counters, `src/jcr.h:19-61`):
  * rows written, per-file (= per-partition) row counts, wall time spent
  * in this attempt, whether the stage was resumed from a checkpoint, and
  * the stage's own counters.
  */
final case class StageRecord(
    stage: String,
    resumed: Boolean,
    rows: Long,
    wall_ms: Long,
    file_rows: Seq[Long],
    counters: Map[String, Double] = Map.empty
)

/** One entry of the HAR hot list: a packed posting key whose bucket ran
  * over the cap, and its size. */
final case class HotKey(key: Long, n: Long)

/** The stored record of one committed ingest (destor's `backup.log`
  * row analog, `src/do_backup.c:179-207`): its stage key, one
  * [[StageRecord]] per stage, in execution order, and the ingest's HAR
  * hot list, which the next ingest inherits (destor's per-backup
  * `bvN.sparse`, `src/har_rewrite.c:28-54`). A record without the list
  * counts as an empty one.
  */
final case class IngestRecord(run_id: String, stage_key: String, stages: Seq[StageRecord],
    har_hot: Seq[HotKey] = Seq.empty)
