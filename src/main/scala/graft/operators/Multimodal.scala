package graft.operators

import graft.functions.TextOps
import graft.multimodal.Binary
import graft.{Land, Q, QueryPack, Scratch, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column queries: binary payload plumbing with metadata
  * extraction. The oracled query sticks to pure column ops (byte length /
  * deterministic derived metadata) so DuckDB can reproduce it; the
  * mapPartitions decode path is exercised in MultimodalSpec.
  */
object Multimodal extends QueryPack {

  /** Video near-duplicate pairs (q141): which assets are cuts of the
    * same underlying footage? Each frame of each REAL container decodes
    * ([[Binary.decodeFrameSums]]) to an exact-integer fingerprint
    * (width, height, channel sums) — identical content, identical
    * fingerprint, bit-stable across engines. Per asset the DISTINCT
    * fingerprint set; per fingerprint the (small, clip-group-bounded)
    * sorted asset set, from which pairs are emitted FINGERPRINT-LOCALLY
    * — the q111/q56 bucket-local pair idea; a fingerprint-keyed
    * self-join would square any hot frame. Pair Jaccard over frame sets
    * ≥ threshold. The decode pass is the only touch of media bytes;
    * everything after moves 5-integer fingerprints and bounded pair
    * rows. The bucket stage runs through the text tier's size-capped
    * primitive ([[Dedup.cappedBucketMembers]], VERDICT r12 §next-1):
    * on a real corpus black/solid-color frames are ubiquitous, and one
    * hot fingerprint of b assets is otherwise b²/2 pairs plus one
    * unbounded aggregate row — the exact detonation the text tier's cap
    * fixed (measured 293 s → 6 s on q56's soft bands). A capped-out
    * bucket trades a sliver of recall (pairs whose ONLY shared content
    * is the hot frame — noise by construction) for boundedness; no
    * bucket approaches the default cap at the catalog's corpus sizes. */
  def videoNearDup(assets: org.apache.spark.sql.DataFrame,
                   threshold: Double,
                   maxBucket: Int = 100000): org.apache.spark.sql.DataFrame = {
    // landed once: the distinct print set feeds the per-asset counts
    // AND the bucket-member pass, whose differing column prunings make
    // the subtrees non-identical — without the landing the REAL decode
    // of every frame executes once per consumer (the r16 gate lesson)
    val prints = Land(Binary.decodeFrameSums(assets)
      .select(col("asset_id"), struct(col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b")).as("print"))
      .distinct())
    val counts = prints.groupBy(col("asset_id")).agg(count(lit(1)).as("n"))
    // prints is one row per (asset, print), so the window count the cap
    // filters on IS the bucket's member count
    val sets = Dedup.cappedBucketMembers(prints, Seq("print"),
        col("asset_id"), maxBucket)
      .select(col("print"), sort_array(col("ms")).as("ss"))
    val pairs = sets.select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), y =>
          struct(x.as("asset_a"), y.as("asset_b")))))).as("p"))
      .groupBy(col("p.asset_a").as("asset_a"), col("p.asset_b").as("asset_b"))
      .agg(count(lit(1)).as("shared_frames"))
    pairs
      .join(counts.select(col("asset_id").as("asset_a"), col("n").as("n_a")),
        "asset_a")
      .join(counts.select(col("asset_id").as("asset_b"), col("n").as("n_b")),
        "asset_b")
      .withColumn("raw", col("shared_frames").cast("double") /
        (col("n_a") + col("n_b") - col("shared_frames")))
      .filter(col("raw") >= threshold)
      .select(col("asset_a"), col("asset_b"), col("shared_frames"),
        col("n_a"), col("n_b"), round(col("raw"), 6).as("jaccard"))
  }

  /** Image near-duplicate pairs by perceptual hash (q142): aHash each
    * REAL decoded image ([[Binary.imageAHash]] — 64 bits as two
    * unsigned 32-bit halves), band the hash into 4×16-bit keys, emit
    * candidate pairs BAND-LOCALLY (one sorted asset set per (band,
    * value) bucket — the q65 SimHash recipe on the image side; never a
    * hash self-join), dedup candidates, then confirm by exact Hamming
    * distance ≤ k over the full 64 bits. Only hashes and bounded pair
    * rows move after the decode pass; like every banded-LSH tier the
    * band split bounds recall: a pair is GUARANTEED found when its
    * hamming distance is < 4 (pigeonhole — some 16-bit band is
    * untouched), probabilistic beyond that. More/wider bands are the
    * standard dial, exactly as in the q65 text tier. Band buckets are
    * size-capped ([[Dedup.cappedBucketMembers]] — solid-color images
    * all share aHash 0 and would otherwise square in every band). */
  def imageNearDup(assets: org.apache.spark.sql.DataFrame,
                   maxHamming: Int,
                   maxBucket: Int = 100000): org.apache.spark.sql.DataFrame = {
    // landed once: consumed by the banding pass and BOTH confirm-join
    // sides — without the landing the real image decode runs three
    // times (the r16 gate lesson)
    val hashes = Land(Binary.imageAHash(assets))
    val mask = lit(0xffffL)
    val bands = hashes.select(col("asset_id"), explode(array(
        struct(lit(0).as("bi"), shiftright(col("hash_hi"), 16).bitwiseAND(mask).as("bv")),
        struct(lit(1).as("bi"), col("hash_hi").bitwiseAND(mask).as("bv")),
        struct(lit(2).as("bi"), shiftright(col("hash_lo"), 16).bitwiseAND(mask).as("bv")),
        struct(lit(3).as("bi"), col("hash_lo").bitwiseAND(mask).as("bv")))).as("b"))
      .select(col("asset_id"), col("b.bi").as("bi"), col("b.bv").as("bv"))
    // one row per (asset, band index) by construction → the window count
    // is the bucket's member count, and the cap drops a hot (bi, bv)
    // bucket BEFORE any member list materializes
    val cand = Dedup.cappedBucketMembers(bands, Seq("bi", "bv"),
        col("asset_id"), maxBucket)
      .select(sort_array(col("ms")).as("ss"))
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), y =>
          struct(x.as("asset_a"), y.as("asset_b")))))).as("p"))
      .select(col("p.asset_a").as("asset_a"), col("p.asset_b").as("asset_b"))
      .distinct()
    cand
      .join(hashes.select(col("asset_id").as("asset_a"),
        col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a")), "asset_a")
      .join(hashes.select(col("asset_id").as("asset_b"),
        col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b")), "asset_b")
      .withColumn("hamming", (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
        bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("asset_a"), col("asset_b"), col("hamming"))
  }

  /** Audio near-duplicate pairs (q143): clips of the same recording
    * found through the REAL decode — [[Binary.audioWindowPrints]] turns
    * each mono stream into exact-integer window fingerprints, then the
    * q141 machinery runs unchanged: per-asset DISTINCT fingerprint
    * sets, pairs emitted FINGERPRINT-LOCALLY from one sorted asset set
    * per fingerprint, window-set Jaccard ≥ threshold. Only 2-integer
    * fingerprints and bounded pair rows move after the decode pass;
    * buckets are size-capped like q141's (a silence window is audio's
    * black frame — one hot fingerprint must not square). */
  def audioNearDup(assets: org.apache.spark.sql.DataFrame,
                   threshold: Double,
                   maxBucket: Int = 100000): org.apache.spark.sql.DataFrame = {
    // landed once — same three-consumer shape as videoNearDup's prints
    val prints = Land(Binary.audioWindowPrints(assets)
      .select(col("asset_id"), struct(col("s1"), col("s2")).as("print"))
      .distinct())
    val counts = prints.groupBy(col("asset_id")).agg(count(lit(1)).as("n"))
    val sets = Dedup.cappedBucketMembers(prints, Seq("print"),
        col("asset_id"), maxBucket)
      .select(col("print"), sort_array(col("ms")).as("ss"))
    val pairs = sets.select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), y =>
          struct(x.as("asset_a"), y.as("asset_b")))))).as("p"))
      .groupBy(col("p.asset_a").as("asset_a"), col("p.asset_b").as("asset_b"))
      .agg(count(lit(1)).as("shared_windows"))
    pairs
      .join(counts.select(col("asset_id").as("asset_a"), col("n").as("n_a")),
        "asset_a")
      .join(counts.select(col("asset_id").as("asset_b"), col("n").as("n_b")),
        "asset_b")
      .withColumn("raw", col("shared_windows").cast("double") /
        (col("n_a") + col("n_b") - col("shared_windows")))
      .filter(col("raw") >= threshold)
      .select(col("asset_a"), col("asset_b"), col("shared_windows"),
        col("n_a"), col("n_b"), round(col("raw"), 6).as("jaccard"))
  }

  /** The corpus-side fingerprint registry for incremental media dedup
    * (q144): every distinct frame fingerprint seen so far — 5 integers
    * per distinct frame, the only state the ingest loop carries
    * (16-byte-per-block q100 registry, carried to media). Store it
    * bucketed by print (`TableSink.writeBucketed`) and each batch's
    * knockout reads it in place. */
  def videoPrintRegistry(corpus: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    Binary.decodeFrameSums(corpus)
      .select(struct(col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b")).as("print"))
      .distinct()

  /** Ingest-time video dedup against the REGISTRY (q144): a new batch
    * decodes once, its distinct fingerprints BROADCAST against the
    * streaming registry scan (the q132 shape — the corpus-sized
    * registry is never reshuffled; the join emits at most
    * batch-fingerprint-many rows), and each batch asset's coverage =
    * fraction of its distinct frames already seen. Coverage ≥ dropAt →
    * the asset is a re-crawl/re-upload and is dropped. Per-batch cost
    * ∝ batch — the property every incremental tier in this engine
    * shares (q100 blocks, q126 LSH bands, q132 sign-buckets, q133 BM25
    * stats, q140 PQ codes; this is the media member). */
  def videoDedupIncremental(registry: org.apache.spark.sql.DataFrame,
                            batch: org.apache.spark.sql.DataFrame,
                            dropAt: Double): org.apache.spark.sql.DataFrame = {
    val bp = Binary.decodeFrameSums(batch)
      .select(col("asset_id"), struct(col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b")).as("print"))
      .distinct()
    val seen = registry.join(broadcast(bp), Seq("print"))
      .groupBy(col("asset_id")).agg(count(lit(1)).as("n_seen"))
    bp.groupBy(col("asset_id")).agg(count(lit(1)).as("n_prints"))
      .join(seen, Seq("asset_id"), "left")
      .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
      .withColumn("cov", col("n_seen").cast("double") / col("n_prints"))
      .select(col("asset_id"), col("n_prints"), col("n_seen"),
        round(col("cov"), 6).as("coverage"),
        (col("cov") < dropAt).as("kept"))
  }

  /** Shared by q139 (in-cell seek) and q146 (by-reference ranged seek):
    * both paths must produce EXACTLY the full decode's even-frame
    * subset, replayed from the q134 pixel generator's arithmetic. */
  private val videoSeekOracle: String = """
        WITH a AS (
          SELECT doc_id AS asset_id,
                 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
                 2 + doc_id % 4 AS n
          FROM documents
        ),
        af AS (
          SELECT asset_id, w, h, n, unnest(range(0, n)) AS f FROM a
        ),
        px AS (
          SELECT asset_id, w, h, n, f, unnest(range(0, w * h)) AS p FROM af
          WHERE f % 2 = 0
        ),
        c AS (
          SELECT asset_id, w, h, n, f,
                 (asset_id + 3 * (p % w) + 7 * (p // w) + 11 * f) % 256 AS r,
                 (5 * asset_id + 11 * (p % w) + (p // w) + 3 * f) % 256 AS g,
                 (2 * asset_id + (p % w) + 13 * (p // w) + 17 * f) % 256 AS b
          FROM px
        )
        SELECT asset_id, CAST(f AS INT) AS frame_idx,
               CAST(any_value(n) AS INT) AS n_frames,
               CAST(any_value(w) AS INT) AS width,
               CAST(any_value(h) AS INT) AS height,
               round(CAST(sum(r) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_r,
               round(CAST(sum(g) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_g,
               round(CAST(sum(b) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_b
        FROM c GROUP BY asset_id, f
      """.stripMargin

  def queries: Map[String, Q] = Map(
    "q60_binary_meta" -> Q(
      (s, d) => {
        import s.implicits._
        Binary.assetsFromDocuments(T.documents(s, d))
          .select(
            $"asset_id", $"media_type",
            length($"payload").as("byte_len"))
          .groupBy($"media_type")
          .agg(count(lit(1)).as("n_assets"),
            sum($"byte_len").as("total_bytes"),
            min($"byte_len").as("min_bytes"),
            max($"byte_len").as("max_bytes"))
      },
      Some("""
        WITH assets AS (
          SELECT doc_id AS asset_id, 'image/' || lang AS media_type,
                 octet_length(encode(text)) AS byte_len
          FROM documents
        )
        SELECT media_type, count(*) AS n_assets,
               CAST(sum(byte_len) AS BIGINT) AS total_bytes,
               CAST(min(byte_len) AS INT) AS min_bytes,
               CAST(max(byte_len) AS INT) AS max_bytes
        FROM assets
        GROUP BY media_type
      """.stripMargin),
      doc = "binary payload metadata plumbing (multimodal surface)"),

    // ---- feature extraction: payload → vector → norm (ANN-ready) ----
    "q63_media_features" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.functions.VectorOps
        Binary.extractFeatures(Binary.assetsFromDocuments(T.documents(s, d)), dim = 8)
          .select($"asset_id", $"media_type",
            round(VectorOps.norm($"features"), 6).as("feature_norm"))
      },
      Some("""
        WITH assets AS (
          SELECT doc_id AS asset_id, 'image/' || lang AS media_type,
                 octet_length(encode(text)) AS byte_len
          FROM documents
        )
        SELECT asset_id, media_type,
               round(sqrt(list_sum(list_transform(range(0, 8),
                 i -> pow(CAST((byte_len * (i + 1)) % 97 AS DOUBLE) / 97.0, 2)))), 6)
                 AS feature_norm
        FROM assets
      """.stripMargin),
      doc = "media feature-extraction plumbing feeding VectorOps"),

    // ---- REAL image decode (VERDICT r9 §next-5): genuine 24-bit BMP
    // payloads decoded with the JDK's ImageIO inside the mapPartitions
    // batch seam; decoded dims, per-channel means and an 8-bin luma
    // histogram from the ACTUAL pixels. The oracle recomputes the
    // expected statistics from the pixel generator's integer arithmetic
    // — it never decodes — so a defect anywhere in encode→ImageIO→pixel
    // walk breaks the hash match. ----
    "q124_image_decode" -> Q(
      (s, d) => Binary.decodeImageStats(
        Binary.syntheticBmpAssets(T.documents(s, d))),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id,
                 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
          FROM documents
        ),
        px AS (
          SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM a
        ),
        c AS (
          SELECT asset_id, w, h,
                 (asset_id + 3 * (p % w) + 7 * (p // w)) % 256 AS r,
                 (5 * asset_id + 11 * (p % w) + (p // w)) % 256 AS g,
                 (2 * asset_id + (p % w) + 13 * (p // w)) % 256 AS b
          FROM px
        ),
        l AS (
          SELECT *, (r * 2126 + g * 7152 + b * 722) // 10000 // 32 AS bin
          FROM c
        )
        SELECT asset_id,
               CAST(any_value(w) AS INT) AS width,
               CAST(any_value(h) AS INT) AS height,
               round(CAST(sum(r) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_r,
               round(CAST(sum(g) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_g,
               round(CAST(sum(b) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_b,
               CAST(count(*) FILTER (WHERE bin = 0) AS BIGINT) AS h0,
               CAST(count(*) FILTER (WHERE bin = 1) AS BIGINT) AS h1,
               CAST(count(*) FILTER (WHERE bin = 2) AS BIGINT) AS h2,
               CAST(count(*) FILTER (WHERE bin = 3) AS BIGINT) AS h3,
               CAST(count(*) FILTER (WHERE bin = 4) AS BIGINT) AS h4,
               CAST(count(*) FILTER (WHERE bin = 5) AS BIGINT) AS h5,
               CAST(count(*) FILTER (WHERE bin = 6) AS BIGINT) AS h6,
               CAST(count(*) FILTER (WHERE bin = 7) AS BIGINT) AS h7
        FROM l
        GROUP BY asset_id
      """.stripMargin),
      doc = "REAL BMP decode via ImageIO: pixel means + luma histogram vs generator-arithmetic oracle"),

    // ---- REAL pixel resize (r12): decode → nearest-neighbor resample
    // to a per-asset target geometry → BMP re-encode (the output is
    // itself a valid asset) → re-decode. The resampled pixel at (x, y)
    // is the source pixel at (x·sw/tw, y·sh/th) — exact integer floor
    // division — so the oracle recomputes the RESIZED channel means and
    // even the re-encoded payload length (BMP header + padded rows)
    // from the q124 pixel generator without touching a codec. ----
    "q136_image_resize" -> Q(
      (s, d) => Binary.resizeDecodeStats(
        Binary.syntheticBmpAssets(T.documents(s, d))),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id,
                 16 + doc_id % 16 AS sw, 8 + doc_id % 8 AS sh,
                 4 + doc_id % 5 AS tw, 3 + doc_id % 3 AS th
          FROM documents
        ),
        px AS (
          SELECT asset_id, sw, sh, tw, th, unnest(range(0, tw * th)) AS p
          FROM a
        ),
        c AS (
          SELECT asset_id, tw, th,
                 ((p % tw) * sw) // tw AS sx, ((p // tw) * sh) // th AS sy
          FROM px
        ),
        v AS (
          SELECT asset_id, tw, th,
                 (asset_id + 3 * sx + 7 * sy) % 256 AS r,
                 (5 * asset_id + 11 * sx + sy) % 256 AS g,
                 (2 * asset_id + sx + 13 * sy) % 256 AS b
          FROM c
        )
        SELECT asset_id,
               CAST(any_value(tw) AS INT) AS width,
               CAST(any_value(th) AS INT) AS height,
               CAST(54 + ((3 * any_value(tw) + 3) // 4) * 4 * any_value(th)
                 AS INT) AS byte_len,
               round(CAST(sum(r) AS DOUBLE) / (any_value(tw) * any_value(th)), 6) AS mean_r,
               round(CAST(sum(g) AS DOUBLE) / (any_value(tw) * any_value(th)), 6) AS mean_g,
               round(CAST(sum(b) AS DOUBLE) / (any_value(tw) * any_value(th)), 6) AS mean_b
        FROM v GROUP BY asset_id
      """.stripMargin),
      doc = "REAL pixel resize: decode -> NN resample -> BMP re-encode -> re-decode; resized stats + payload length oracled"),

    // ---- REAL audio decode (VERDICT r10 §next-2): genuine RIFF/WAV
    // 16-bit PCM payloads (mono and stereo) decoded with the JDK's
    // javax.sound.sampled WAV parser inside the mapPartitions batch
    // seam; per-channel peak, zero crossings, energy, RMS and duration
    // from the ACTUAL decoded frames. The oracle recomputes every
    // statistic from the sample generator's integer arithmetic — it
    // never decodes — so a defect anywhere in encode→AudioSystem→frame
    // walk breaks the hash match (the q124 recipe, applied to audio).
    "q129_audio_decode" -> Q(
      (s, d) => Binary.decodeAudioStats(
        Binary.syntheticWavAssets(T.documents(s, d))),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id,
                 800 + doc_id % 400 AS n, 1 + doc_id % 2 AS nch
          FROM documents
        ),
        ac AS (
          SELECT asset_id, n, unnest(range(0, nch)) AS c FROM a
        ),
        s AS (
          SELECT asset_id, c, n, unnest(range(0, n)) AS t FROM ac
        ),
        v AS (
          SELECT asset_id, c, n,  t,
                 ((31 * asset_id + 4093 * t + 7919 * c) % 65536) - 32768 AS amp
          FROM s
        ),
        w AS (
          SELECT asset_id, c, n, amp,
                 lag(amp) OVER (PARTITION BY asset_id, c ORDER BY t) AS prev
          FROM v
        )
        SELECT asset_id,
               CAST(c AS INT) AS channel,
               CAST(any_value(n) AS INT) AS n_frames,
               CAST(max(abs(amp)) AS INT) AS peak_abs,
               CAST(count(*) FILTER (WHERE prev IS NOT NULL
                     AND ((amp >= 0) <> (prev >= 0))) AS BIGINT) AS zero_crossings,
               CAST(sum(amp * amp) AS BIGINT) AS sumsq,
               round(sqrt(CAST(sum(amp * amp) AS DOUBLE) / any_value(n)), 6) AS rms,
               round(CAST(any_value(n) AS DOUBLE) / 8000.0, 6) AS duration_sec
        FROM w GROUP BY asset_id, c
      """.stripMargin),
      doc = "REAL WAV decode via javax.sound.sampled: per-channel PCM stats vs generator-arithmetic oracle"),

    // ---- REAL video decode (VERDICT r11 §next-4, retiring the last
    // FakeCodec stub): genuine RIFF/AVI containers — hdrl/avih/strh/
    // strf headers, movi list of uncompressed 00db DIB frames, idx1
    // frame index — parsed chunk-by-chunk, the index verified against
    // the declared count, every frame rehydrated into a BMP and decoded
    // through ImageIO inside the mapPartitions batch seam. Per-frame
    // channel means from the ACTUAL decoded pixels; the oracle
    // recomputes them from the pixel generator's integer arithmetic —
    // it never decodes — so a defect anywhere in container write →
    // RIFF walk → frame index → BMP rehydrate → ImageIO pixel walk
    // breaks the hash match (the q124/q129 recipe, applied to video).
    "q134_video_decode" -> Q(
      (s, d) => Binary.decodeVideoStats(
        Binary.syntheticAviAssets(T.documents(s, d))),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id,
                 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
                 2 + doc_id % 4 AS n
          FROM documents
        ),
        af AS (
          SELECT asset_id, w, h, n, unnest(range(0, n)) AS f FROM a
        ),
        px AS (
          SELECT asset_id, w, h, n, f, unnest(range(0, w * h)) AS p FROM af
        ),
        c AS (
          SELECT asset_id, w, h, n, f,
                 (asset_id + 3 * (p % w) + 7 * (p // w) + 11 * f) % 256 AS r,
                 (5 * asset_id + 11 * (p % w) + (p // w) + 3 * f) % 256 AS g,
                 (2 * asset_id + (p % w) + 13 * (p // w) + 17 * f) % 256 AS b
          FROM px
        )
        SELECT asset_id, CAST(f AS INT) AS frame_idx,
               CAST(any_value(n) AS INT) AS n_frames,
               CAST(any_value(w) AS INT) AS width,
               CAST(any_value(h) AS INT) AS height,
               round(CAST(sum(r) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_r,
               round(CAST(sum(g) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_g,
               round(CAST(sum(b) AS DOUBLE) / (any_value(w) * any_value(h)), 6) AS mean_b
        FROM c GROUP BY asset_id, f
      """.stripMargin),
      doc = "REAL RIFF/AVI decode: container parse + frame index check + per-frame ImageIO decode vs generator-arithmetic oracle"),

    // ---- REAL selective decode via the container index (r12): the
    // frame-sample op in SEEK form — parseIndex reads headers + idx1
    // only, each sampled frame's bytes are sliced at the index offset
    // and decoded; unsampled frames are never read. The oracle is
    // q134's restricted to even frames — the engine must produce
    // EXACTLY the full decode's sampled subset through the seek path. ----
    "q139_video_frame_seek" -> Q(
      (s, d) => Binary.videoFrameSampleStats(
        Binary.syntheticAviAssets(T.documents(s, d)), every = 2),
      Some(videoSeekOracle),
      doc = "selective video decode: idx1 index-seek, only sampled frames' bytes read + decoded"),

    // ---- BY-REFERENCE selective decode (r13, VERDICT r12 §next-2):
    // the same sampled stats, but the containers live in Hadoop-FS pack
    // files referenced by (uri, offset, length) — never in a DataFrame
    // cell. parseIndexRanged walks headers + idx1 with positioned reads
    // (movi skipped by a seek), then only sampled frames' ranges are
    // fetched, so q139's "cost ∝ sampled frames" holds END-TO-END at
    // the storage layer. Same oracle as q139: the byref path must
    // produce the identical result over the same underlying bytes. ----
    "q146_video_seek_byref" -> Q(
      (s, d) => {
        val dir = Scratch.dir("graft_q146_pack")
        Binary.videoFrameSampleStatsByRef(
          Binary.writeAssetRefs(
            Binary.syntheticAviAssets(T.documents(s, d)), dir),
          every = 2)
      },
      Some(videoSeekOracle),
      doc = "by-reference selective decode: Hadoop-FS pack files, ranged reads of headers + idx1 + sampled frames only"),

    // ---- video near-dup (r12): the multimodal face of the dedup
    // family. REAL decode -> per-frame exact-integer fingerprint ->
    // fingerprint-LOCAL pair generation (the q111 shape: assets sharing
    // a frame reduce to one sorted set per fingerprint; no
    // fingerprint-keyed self-join) -> frame-set Jaccard >= t. The clip
    // corpus plants overlapping cuts of virtual videos, so the oracle
    // replays every fingerprint from generator arithmetic. ----
    "q141_video_neardup" -> Q(
      (s, d) => videoNearDup(
        Binary.syntheticAviClips(T.documents(s, d)), threshold = 0.25),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id, doc_id // 3 AS seed,
                 (doc_id % 3) * 2 AS start, 3 + doc_id % 3 AS n
          FROM documents
        ),
        geo AS (
          SELECT asset_id, seed, start, n,
                 8 + seed % 8 AS w, 4 + seed % 4 AS h
          FROM a
        ),
        af AS (
          SELECT asset_id, seed, w, h,
                 start + unnest(range(0, n)) AS vf
          FROM geo
        ),
        px AS (
          SELECT asset_id, seed, w, h, vf, unnest(range(0, w * h)) AS p
          FROM af
        ),
        fr AS (
          SELECT asset_id, w, h, vf,
                 sum((seed + 3 * (p % w) + 7 * (p // w) + 11 * vf) % 256) AS sr,
                 sum((5 * seed + 11 * (p % w) + (p // w) + 3 * vf) % 256) AS sg,
                 sum((2 * seed + (p % w) + 13 * (p // w) + 17 * vf) % 256) AS sb
          FROM px GROUP BY asset_id, w, h, vf
        ),
        pr AS (SELECT DISTINCT asset_id, w, h, sr, sg, sb FROM fr),
        np AS (SELECT asset_id, count(*) AS n FROM pr GROUP BY asset_id),
        sh AS (
          SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
                 count(*) AS shared_frames
          FROM pr x
          JOIN pr y ON x.w = y.w AND x.h = y.h AND x.sr = y.sr
                   AND x.sg = y.sg AND x.sb = y.sb
                   AND x.asset_id < y.asset_id
          GROUP BY 1, 2
        )
        SELECT asset_a, asset_b,
               CAST(sh.shared_frames AS BIGINT) AS shared_frames,
               CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
               round(CAST(sh.shared_frames AS DOUBLE)
                     / (na.n + nb.n - sh.shared_frames), 6) AS jaccard
        FROM sh
        JOIN np na ON sh.asset_a = na.asset_id
        JOIN np nb ON sh.asset_b = nb.asset_id
        WHERE CAST(sh.shared_frames AS DOUBLE)
              / (na.n + nb.n - sh.shared_frames) >= 0.25
      """.stripMargin),
      doc = "video near-dup: REAL decode -> frame fingerprints -> fingerprint-local pairs -> frame-set Jaccard"),

    // ---- image near-dup by perceptual hash (r12): aHash over REAL
    // decoded pixels, 4x16-bit band candidates, exact hamming confirm.
    // The corpus plants recomposited twins (two tiles swapped — a
    // mean-preserving retouch, so twin hamming <= 2 by construction),
    // and the oracle replays hash bits, banding and hamming from the
    // pixel generator's integer arithmetic. ----
    "q142_image_ahash_neardup" -> Q(
      (s, d) => imageNearDup(
        Binary.syntheticBmpNearDups(T.documents(s, d)), maxHamming = 4),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id, doc_id // 2 AS seed, doc_id % 2 AS v,
                 (doc_id // 2) % 64 AS c1, 63 - ((doc_id // 2) % 64) AS c2
          FROM documents
        ),
        px AS (
          SELECT asset_id, seed, v, c1, c2, p % 16 AS x, p // 16 AS y
          FROM (SELECT *, unnest(range(0, 256)) AS p FROM a)
        ),
        src AS (
          SELECT asset_id, seed, (y // 2) * 8 + (x // 2) AS cell,
                 CASE WHEN v = 1 AND (y // 2) * 8 + (x // 2) = c1
                        THEN (c2 % 8) * 2 + x % 2
                      WHEN v = 1 AND (y // 2) * 8 + (x // 2) = c2
                        THEN (c1 % 8) * 2 + x % 2
                      ELSE x END AS xx,
                 CASE WHEN v = 1 AND (y // 2) * 8 + (x // 2) = c1
                        THEN (c2 // 8) * 2 + y % 2
                      WHEN v = 1 AND (y // 2) * 8 + (x // 2) = c2
                        THEN (c1 // 8) * 2 + y % 2
                      ELSE y END AS yy
          FROM px
        ),
        lum AS (
          SELECT asset_id, cell,
                 (seed + (3 + seed % 5) * xx + (7 + seed % 11) * yy) % 256
               + (5 * seed + (11 + seed % 7) * xx + (1 + seed % 13) * yy) % 256
               + (2 * seed + (1 + seed % 3) * xx + (13 + seed % 17) * yy) % 256
                 AS luma
          FROM src
        ),
        cells AS (SELECT asset_id, cell, sum(luma) AS s FROM lum GROUP BY 1, 2),
        tot AS (SELECT asset_id, sum(s) AS t FROM cells GROUP BY 1),
        bits AS (
          SELECT cells.asset_id, cell,
                 CASE WHEN s * 64 > t THEN 1 ELSE 0 END AS bit
          FROM cells JOIN tot USING (asset_id)
        ),
        hashes AS (
          SELECT asset_id,
                 CAST(sum(CASE WHEN cell >= 32
                   THEN bit * (CAST(1 AS BIGINT) << (cell - 32))
                   ELSE 0 END) AS BIGINT) AS hi,
                 CAST(sum(CASE WHEN cell < 32
                   THEN bit * (CAST(1 AS BIGINT) << cell)
                   ELSE 0 END) AS BIGINT) AS lo
          FROM bits GROUP BY 1
        ),
        bands AS (
          SELECT asset_id, hi, lo, bi,
                 CASE bi WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
                         WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS bv
          FROM hashes CROSS JOIN (SELECT unnest(range(0, 4)) AS bi) b
        ),
        cand AS (
          SELECT DISTINCT x.asset_id AS asset_a, y.asset_id AS asset_b
          FROM bands x JOIN bands y
            ON x.bi = y.bi AND x.bv = y.bv AND x.asset_id < y.asset_id
        )
        SELECT asset_a, asset_b,
               CAST(bit_count(xor(ha.hi, hb.hi))
                  + bit_count(xor(ha.lo, hb.lo)) AS INT) AS hamming
        FROM cand
        JOIN hashes ha ON cand.asset_a = ha.asset_id
        JOIN hashes hb ON cand.asset_b = hb.asset_id
        WHERE bit_count(xor(ha.hi, hb.hi))
            + bit_count(xor(ha.lo, hb.lo)) <= 4
      """.stripMargin),
      doc = "image near-dup: perceptual aHash over real decoded pixels, banded candidates, exact hamming confirm"),

    // ---- audio near-dup (r12): the q141 clip recipe carried to WAV —
    // REAL AudioSystem decode -> exact-integer window fingerprints ->
    // fingerprint-local pairs -> window-set Jaccard. Completes the
    // per-modality near-dup matrix (text q56/q57, embedding q61, image
    // q142, video q141, audio here). ----
    "q143_audio_neardup" -> Q(
      (s, d) => audioNearDup(
        Binary.syntheticWavClips(T.documents(s, d)), threshold = 0.25),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id, doc_id // 3 AS seed,
                 (doc_id % 3) * 2 AS sw, 3 + doc_id % 3 AS nw
          FROM documents
        ),
        w AS (
          SELECT asset_id, seed, sw + unnest(range(0, nw)) AS vw FROM a
        ),
        t AS (
          SELECT asset_id, seed, vw, unnest(range(0, 200)) AS t FROM w
        ),
        smp AS (
          SELECT asset_id, vw,
                 (31 * seed + 7919 * vw + (131 + seed % 97) * t) % 4001
                   - 2000 AS s
          FROM t
        ),
        fr AS (
          SELECT asset_id, vw, sum(s) AS s1, sum(s * s) AS s2
          FROM smp GROUP BY 1, 2
        ),
        pr AS (SELECT DISTINCT asset_id, s1, s2 FROM fr),
        np AS (SELECT asset_id, count(*) AS n FROM pr GROUP BY 1),
        sh AS (
          SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
                 count(*) AS shared_windows
          FROM pr x
          JOIN pr y ON x.s1 = y.s1 AND x.s2 = y.s2
                   AND x.asset_id < y.asset_id
          GROUP BY 1, 2
        )
        SELECT asset_a, asset_b,
               CAST(sh.shared_windows AS BIGINT) AS shared_windows,
               CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
               round(CAST(sh.shared_windows AS DOUBLE)
                     / (na.n + nb.n - sh.shared_windows), 6) AS jaccard
        FROM sh
        JOIN np na ON sh.asset_a = na.asset_id
        JOIN np nb ON sh.asset_b = nb.asset_id
        WHERE CAST(sh.shared_windows AS DOUBLE)
              / (na.n + nb.n - sh.shared_windows) >= 0.25
      """.stripMargin),
      doc = "audio near-dup: REAL WAV decode -> window fingerprints -> fingerprint-local pairs -> window-set Jaccard"),

    // ---- incremental video dedup vs a fingerprint registry (r12):
    // the q100/q132 registry-knockout shape carried to media. The
    // already-ingested corpus (doc_id % 4 != 3) contributes its
    // distinct frame fingerprints; the new batch (doc_id % 4 == 3 —
    // clips of the SAME virtual recordings) decodes once, broadcasts
    // its fingerprints against the streaming registry scan, and each
    // asset's seen-frame coverage routes keep/drop. Closed-form planted
    // coverages by group position: 1/3 kept, 3/4 dropped, 2/5 kept. ----
    "q144_video_dedup_incremental" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        videoDedupIncremental(
          videoPrintRegistry(Binary.syntheticAviClips(
            docs.filter(col("doc_id") % 4 =!= 3))),
          Binary.syntheticAviClips(docs.filter(col("doc_id") % 4 === 3)),
          dropAt = 0.5)
      },
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id, doc_id // 3 AS seed,
                 (doc_id % 3) * 2 AS start, 3 + doc_id % 3 AS n,
                 doc_id % 4 = 3 AS is_batch
          FROM documents
        ),
        geo AS (
          SELECT asset_id, seed, start, n, is_batch,
                 8 + seed % 8 AS w, 4 + seed % 4 AS h
          FROM a
        ),
        af AS (
          SELECT asset_id, seed, w, h, is_batch,
                 start + unnest(range(0, n)) AS vf
          FROM geo
        ),
        px AS (
          SELECT asset_id, seed, w, h, is_batch, vf,
                 unnest(range(0, w * h)) AS p
          FROM af
        ),
        fr AS (
          SELECT asset_id, is_batch, w, h, vf,
                 sum((seed + 3 * (p % w) + 7 * (p // w) + 11 * vf) % 256) AS sr,
                 sum((5 * seed + 11 * (p % w) + (p // w) + 3 * vf) % 256) AS sg,
                 sum((2 * seed + (p % w) + 13 * (p // w) + 17 * vf) % 256) AS sb
          FROM px GROUP BY 1, 2, 3, 4, 5
        ),
        reg AS (
          SELECT DISTINCT w, h, sr, sg, sb FROM fr WHERE NOT is_batch
        ),
        bp AS (
          SELECT DISTINCT asset_id, w, h, sr, sg, sb FROM fr WHERE is_batch
        ),
        np AS (SELECT asset_id, count(*) AS n_prints FROM bp GROUP BY 1),
        sn AS (
          SELECT bp.asset_id, count(*) AS n_seen
          FROM bp JOIN reg USING (w, h, sr, sg, sb)
          GROUP BY 1
        )
        SELECT np.asset_id, CAST(np.n_prints AS BIGINT) AS n_prints,
               CAST(coalesce(sn.n_seen, 0) AS BIGINT) AS n_seen,
               round(CAST(coalesce(sn.n_seen, 0) AS DOUBLE) / np.n_prints, 6)
                 AS coverage,
               CAST(coalesce(sn.n_seen, 0) AS DOUBLE) / np.n_prints < 0.5
                 AS kept
        FROM np LEFT JOIN sn ON np.asset_id = sn.asset_id
      """.stripMargin),
      doc = "incremental video dedup: batch fingerprints broadcast vs streaming registry scan; coverage routes keep/drop"),

    // ---- COMPRESSED frames (r13, VERDICT r12 §next-7): Motion-JPEG
    // AVIs — each 00dc chunk a complete JPEG from the JDK's own writer,
    // chunk sizes varying frame to frame — through the same parse +
    // decode pipeline as q134. Frames are solid gray (the provably
    // lossless JPEG subset at quality 1.0; Binary.Jpeg scaladoc), so
    // the oracle replays every decoded mean from integer arithmetic;
    // a near-lossless gradient bound is pinned in LlmOpsSpec. ----
    "q147_video_mjpeg_decode" -> Q(
      (s, d) => Binary.decodeVideoStats(
        Binary.syntheticMjpegAssets(T.documents(s, d))),
      Some("""
        WITH a AS (
          SELECT doc_id AS asset_id,
                 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
                 2 + doc_id % 4 AS n
          FROM documents
        ),
        af AS (
          SELECT asset_id, w, h, n, unnest(range(0, n)) AS f FROM a
        )
        SELECT asset_id, CAST(f AS INT) AS frame_idx,
               CAST(n AS INT) AS n_frames,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               round(CAST((3 * asset_id + 17 * f) % 256 AS DOUBLE), 6) AS mean_r,
               round(CAST((3 * asset_id + 17 * f) % 256 AS DOUBLE), 6) AS mean_g,
               round(CAST((3 * asset_id + 17 * f) % 256 AS DOUBLE), 6) AS mean_b
        FROM af
      """.stripMargin),
      doc = "REAL Motion-JPEG decode: compressed 00dc frames (whole JPEGs, varying sizes) through the shared AVI parse + frame-decode dispatch"),

    // ---- frame sampling fan-out over REAL container frame counts ----
    "q64_frame_sample" -> Q(
      (s, d) => Binary.frameSample(
        Binary.syntheticAviAssets(T.documents(s, d)), every = 2),
      Some("""
        WITH assets AS (
          SELECT doc_id AS asset_id, 2 + doc_id % 4 AS n_frames
          FROM documents
        )
        SELECT asset_id, CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx
        FROM assets
      """.stripMargin),
      doc = "every-kth frame fan-out per media asset, counts probed from the real AVI header"),

    // ---- cross-modal training-pair assembly (CLIP-style dataset) ----
    // Compose the per-modality curation into the artifact a multimodal
    // trainer actually consumes: (caption, image) pairs where BOTH sides
    // passed their gates. Caption side: integer-exact quality gates
    // (cross-multiplied ratios — no float compare at a keep/drop
    // boundary) + exact dedup keeping the min doc_id per md5(text), the
    // q54 registry key. Image side: REAL ImageIO decode (q124 seam);
    // the exposure gate counts pixels in the EXTREME luma-histogram
    // bins — exact integers, replayed by the oracle from the generator
    // arithmetic, never a codec. 100 TB shape: both gates run BEFORE
    // the join so only survivors shuffle; the dedup window partitions
    // by content hash; the pair join is a plain equi-join on the id
    // both sides are bucketed by at rest (the decode pass is map-only).
    "q151_pair_assembly" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val caps = docs
          .select(col("doc_id"), col("lang"), col("text"),
            size(TextOps.words(col("text"))).as("n_words"),
            TextOps.vocabHits(col("text"), TextAnalysis.stopwords)
              .as("stop_hits"),
            size(TextOps.distinctWords(col("text"))).as("n_distinct"))
          .filter(col("n_words") >= 20 &&
            col("stop_hits") * 20 >= col("n_words") &&
            col("n_distinct") * 2 >= col("n_words") &&
            col("lang").isin("en", "de", "fr", "es"))
        // materialize the dedup hash BELOW the window so the text
        // column prunes out of the window's exchange (partitioning on
        // md5(text) directly forces full text bytes through the
        // shuffle; the output never carries text)
        val canon = caps
          .withColumn("__h", md5(col("text"))).drop("text")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
          .filter(col("rk") === 1)
        val imgs = Binary.decodeImageStats(Binary.syntheticBmpAssets(docs))
          .select(col("asset_id"), col("width"), col("height"),
            (col("h0") + col("h7")).as("extreme_px"))
          .filter(col("extreme_px") * 4 <=
            col("width").cast("long") * col("height"))
        canon.join(imgs, col("doc_id") === col("asset_id"))
          .select(col("doc_id"), col("lang"), col("n_words"),
            col("width"), col("height"), col("extreme_px"))
      },
      Some("""
        WITH cap AS (
          SELECT doc_id, lang, text,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_words,
                 len(list_filter(string_split(text, ' '),
                   w -> list_contains(['the','a','of','and','or'], w)))
                   AS stop_hits,
                 len(list_distinct(string_split(text, ' '))) AS n_distinct
          FROM documents
        ),
        gated AS (
          SELECT * FROM cap
          WHERE n_words >= 20 AND stop_hits * 20 >= n_words
            AND n_distinct * 2 >= n_words
            AND lang IN ('en', 'de', 'fr', 'es')
        ),
        canon AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text)
              ORDER BY doc_id) AS rk
            FROM gated)
          WHERE rk = 1
        ),
        a AS (
          SELECT doc_id AS asset_id,
                 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
          FROM documents
        ),
        px AS (
          SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM a
        ),
        c AS (
          SELECT asset_id, w, h,
                 (asset_id + 3 * (p % w) + 7 * (p // w)) % 256 AS r,
                 (5 * asset_id + 11 * (p % w) + (p // w)) % 256 AS g,
                 (2 * asset_id + (p % w) + 13 * (p // w)) % 256 AS b
          FROM px
        ),
        l AS (
          SELECT *, (r * 2126 + g * 7152 + b * 722) // 10000 // 32 AS bin
          FROM c
        ),
        img AS (
          SELECT asset_id,
                 CAST(any_value(w) AS INT) AS width,
                 CAST(any_value(h) AS INT) AS height,
                 CAST(count(*) FILTER (WHERE bin IN (0, 7)) AS BIGINT)
                   AS extreme_px
          FROM l GROUP BY asset_id
        ),
        goodimg AS (
          SELECT * FROM img
          WHERE extreme_px * 4 <= CAST(width AS BIGINT) * height
        )
        SELECT cn.doc_id, cn.lang, cn.n_words,
               g.width, g.height, g.extreme_px
        FROM canon cn JOIN goodimg g ON cn.doc_id = g.asset_id
      """.stripMargin),
      doc = "cross-modal pair assembly: gated+deduped captions joined " +
        "to exposure-gated REAL-decoded images")
  )
}
