package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.multimodal.Media

/** Multimodal pipeline surface: binary payload columns + stubbed batch
  * decode (see [[graft.multimodal.Media]]). The oracle checks the
  * Spark-side plumbing end-to-end — payload construction, per-partition
  * decode, feature projection, rollup — against DuckDB recomputing the
  * same deterministic fake features from the source text bytes. */
object MultimodalOps {

  /** Feature rollup per (kind, source) after batched decode. The plan
    * never shuffles the binary payload: features are extracted first,
    * then the narrow rows aggregate. */
  private def m01(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    Media.decodeFeatures(media).toDF()
      .groupBy(col("kind"), col("source"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("width")).as("sum_width"),
        sum(col("n_frames")).as("sum_frames"),
        countDistinct(col("checksum")).as("n_distinct"))
  }

  /** Media dedup at thumbnail fidelity — d01's content-hash dedup lifted
    * to binary payloads: resize every payload to a 64-byte thumbnail,
    * checksum the REDUCED payload, group on (kind, checksum), keep
    * groups with >1 member. Reduced-fidelity hashing is the standard
    * coarse near-dup move for media (same instinct as pHash): distinct
    * files sharing a thumbnail are duplicate candidates.
    *
    * ORACLE CONTRACT: at 64 bytes the resize is ALWAYS byte truncation —
    * no PNG re-encode can fit 64 bytes, so resizeImage returns None for
    * every decodable payload too — which is exactly what makes the
    * md5-of-truncated-hex SQL below a valid oracle. Raising the
    * thumbnail budget enough for a real re-encoded image to fit (think
    * m03's 512 bytes and up) would route decodable images through the
    * codec and the SQL oracle could no longer express the checksum. The payload
    * never shuffles — resize + checksum happen in the decode stage, so
    * at 100 TB the dedup shuffle is ~60 bytes/row regardless of media
    * size; per-kind rollup keeps image vs video duplication rates
    * separately visible. */
  private def m06(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    Media.decodeFeatures(Media.resize(media, 64)).toDF()
      .groupBy(col("kind"), col("checksum"))
      .agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_dup_groups"),
        sum(col("n_copies") - 1).as("n_removable"))
  }

  /** Perceptual media near-dup pairs — the pixel-space upgrade of m06:
    * m06 checksums (reduced) BYTES, so a re-encoded or resized copy of
    * the same image escapes it; m07 average-hashes the DECODED pixels
    * ([[Media.perceptualHashes]]: real ImageIO decode, 8×8 box means,
    * 60-bit fingerprint), then finds pairs within hamming distance 4 by
    * the d07 pigeonhole banding — 5 bands × 12 bits, so any pair ≤ 4
    * differing bits shares ≥ 1 clean band and the band equi-join is
    * EXACT, not approximate, for the threshold.
    *
    * Scale shape: the join carries (band, nib, id) only — 8-byte hashes,
    * never payloads; candidates are verified with one bit_count(xor).
    * At 100 TB this is the same id-only-band-join cost model as d03/s11.
    * ORACLE CONTRACT: document payloads are text bytes — none decode as
    * real images, so every row takes the deterministic byte-wrapped BMP
    * path whose pixels a SQL oracle recomputes from the same bytes; the
    * REAL-decode branch (PNG↔BMP invariance, downscale) is spec-covered
    * with constructed image fixtures (MultimodalSpec). */
  private def m07(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    val ph = Media.perceptualHashes(media).toDF()
      .select(col("media_id"), col("phash"))
    hammingPairs60(ph)
  }

  /** Pairs within hamming distance 4 of a 60-bit fingerprint column
    * (`media_id`, `phash`) by d07's pigeonhole banding — 5 bands × 12
    * bits, so any pair ≤ 4 differing bits shares ≥ 1 clean band and the
    * band equi-join is EXACT for the threshold, not approximate. The
    * join carries (band, nib, id, 8-byte hash) only — never payloads. */
  private def hammingPairs60(ph: DataFrame): DataFrame = {
    val banded = ph.select(col("media_id"), col("phash"),
      explode(array((0 until 5).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("phash"), b * 12).bitwiseAND(lit(0xFFFL)).as("nib"))): _*))
        .as("bk"))
      .select(col("media_id"), col("phash"), col("bk.band"), col("bk.nib"))
    banded.select(col("media_id").as("a_id"), col("phash").as("a_ph"),
        col("band"), col("nib"))
      .join(banded.select(col("media_id").as("b_id"), col("phash").as("b_ph"),
        col("band"), col("nib")), Seq("band", "nib"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_ph", "b_ph")
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming",
        bit_count(col("a_ph").bitwiseXOR(col("b_ph"))).cast("long"))
      .filter(col("hamming") <= 4)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Acoustic near-dup pairs — m07's pixel-space move applied to audio:
    * [[Media.audioHashes]] really decodes parseable WAVs via javax.sound
    * (an 8-bit re-encode of a 16-bit clip hashes identically, which m06's
    * byte checksum can never see), hashes the 64-window energy envelope
    * to 60 bits, and the same exact 5×12 pigeonhole banding finds pairs
    * within hamming 4. Restricted to the audio kind — image near-dup is
    * m07's job.
    *
    * ORACLE CONTRACT: document payloads are text bytes — none parse as
    * real WAVs, so every row takes the byte-wrapped real-WAV path whose
    * samples ARE the payload bytes; the SQL below recomputes the window
    * energies straight from those bytes. The REAL-decode branch (16-bit
    * vs 8-bit invariance, bit-depth rescale) is spec-covered with
    * constructed WAV fixtures (MediaSpec). */
  private def m08(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
      .filter(col("kind") === "audio")
    val ph = Media.audioHashes(media).toDF()
      .select(col("media_id"), col("phash"))
    hammingPairs60(ph)
  }

  /** Video copy detection — m07's perceptual move lifted to clips: every
    * 4th frame of each video REALLY decoded and average-hashed
    * ([[Media.frameHashes]] — the m02 demux path feeding the m07 hash),
    * then video pairs where a MAJORITY of common sampled positions match
    * within hamming ≤ 4 (position-aligned, the re-encode/re-container
    * detection shape: a transcoded copy carries the same frames at the
    * same indices). Candidates come from the d07 pigeonhole banding per
    * (frame position, band) — exact for the per-frame threshold, so a
    * majority pair (n_match ≥ 1) is ALWAYS banded; the verify join then
    * scores every common position. Output: (a_id, b_id, n_common,
    * n_match).
    *
    * Scale shape: the band join carries (idx, band, nib, id) only; the
    * verify join touches candidate pairs × their sampled frames (8-byte
    * hashes) — candidates ≪ n² exactly as d03/s11/m07. Payloads never
    * leave the decode partition.
    * ORACLE CONTRACT: document payloads are text bytes — none are GIFs,
    * so every row takes the byte-wrapped arm (frame f pixel p = byte
    * (f·64+p) mod n; luminance = the byte) and the SQL recomputes every
    * frame hash from the bytes; the direct-GIF arm (re-encode
    * invariance, real demux) is spec-covered with constructed
    * animated-GIF fixtures (MediaSpec). */
  private def m09(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    // persisted: the most expensive decode in the suite (GIF wrap +
    // demux + per-frame hash) feeds the band join AND two verify joins
    // on different keys — without materialization each branch re-runs
    // the decode scan (the d05/t19 discipline)
    frameNearDupPairs(graft.Pinned.pin(Media.frameHashes(media, stride = 4).toDF()))
  }

  /** Majority-of-common-frames video pairing over a (media_id,
    * frame_idx, fhash) table — factored out of [[m09]] so specs can
    * drive it with real-codec fixture hashes. */
  private[graft] def frameNearDupPairs(fh: DataFrame): DataFrame = {
    val banded = fh.select(col("media_id"), col("frame_idx"),
      explode(array((0 until 5).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fhash"), b * 12).bitwiseAND(lit(0xFFFL)).as("nib"))): _*))
        .as("bk"))
      .select(col("media_id"), col("frame_idx"), col("bk.band"), col("bk.nib"))
    val cand = banded
      .select(col("media_id").as("a_id"), col("frame_idx"), col("band"),
        col("nib"))
      .join(banded.select(col("media_id").as("b_id"), col("frame_idx"),
        col("band"), col("nib")), Seq("frame_idx", "band", "nib"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    cand
      .join(fh.select(col("media_id").as("a_id"), col("frame_idx"),
        col("fhash").as("a_h")), Seq("a_id"))
      .join(fh.select(col("media_id").as("b_id"), col("frame_idx"),
        col("fhash").as("b_h")), Seq("b_id", "frame_idx"))
      .withColumn("m",
        when(bit_count(col("a_h").bitwiseXOR(col("b_h"))) <= 4, 1L)
          .otherwise(0L))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"), sum(col("m")).as("n_match"))
      .filter(col("n_match") * 2 >= col("n_common"))
  }

  /** Frame-sampling rollup: every 4th frame of each video payload REALLY
    * decoded (ImageIO GIF reader — frame seek + per-frame luminance
    * energy; non-GIF payloads byte-wrap into a real animated GIF first,
    * so both arms run the same codec path), aggregated per source. The
    * frame explosion happens executor-side inside the batched decode
    * (never a Spark explode of payload bytes); only narrow frame rows
    * shuffle.
    * ORACLE CONTRACT: document payloads are text bytes — none are GIFs,
    * so every row takes the byte-wrapped arm whose frame pixels the SQL
    * recomputes from the same bytes; the direct-GIF arm (real demux,
    * palette invariance) is spec-covered with constructed animated-GIF
    * fixtures (MediaSpec). */
  private def m02(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    Media.sampleFrames(media, stride = 4).toDF()
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(col("feat")).as("sum_feat"),
        countDistinct(col("media_id")).as("n_videos"))
  }

  /** Resize (thumbnail) path: payload-in/payload-out transform, then
    * feature extraction on the RESIZED payloads — checks the
    * transform-preserving seam end-to-end (payload bytes cap at 512,
    * checksum recomputed on the truncated bytes). */
  private def m03(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    val resized = Media.resize(media, maxBytes = 512)
    Media.decodeFeatures(resized).toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("resized_bytes"),
        countDistinct(col("checksum")).as("n_distinct"))
  }

  /** Cross-modal join: media features ⋈ the embedding table on shared ids —
    * the "every training sample carries text, media, AND an embedding"
    * shape. Features are extracted BEFORE the join (only narrow rows carry
    * into the shuffle; the binary payload never leaves its scan partition),
    * then both narrow sides shuffle on the id — the standard co-partition
    * join at 100 TB, no broadcast assumption on either side. */
  private def m04(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotQ.register(s)
    val media = Media.mediaFromDocuments(documents(s, d))
    val feats = Media.decodeFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"))
    val embn = embeddings(s, d)
      .withColumn("qv", graft.functions.VectorFns.qvec(col("embedding")))
      .withColumn("n2", graft.functions.VectorFns.norm2q(col("qv")))
      .select(col("vec_id"), col("label"), col("n2"))
    feats.join(embn, col("media_id") === col("vec_id"))
      .groupBy(col("kind"), col("label"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("n2")).as("sum_norm2"))
  }

  /** Payload chunking rollup: every payload sharded into 256-byte chunks
    * executor-side ([[Media.chunkPayloads]]); per kind, chunk counts and
    * reassembly byte totals — verifying the sharding is lossless
    * (sum of chunk bytes = sum of payload bytes). */
  private def m05(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    Media.chunkPayloads(media, chunkBytes = 256).toDF()
      .groupBy(col("kind"))
      .agg(
        countDistinct(col("media_id")).as("n_media"),
        count(lit(1)).as("n_chunks"),
        sum(length(col("chunk"))).as("total_bytes"),
        max(col("chunk_idx")).cast("long").as("max_chunk_idx"))
  }

  /** MJPEG demux census (the non-GIF video codec path, pure JVM): every
    * video payload muxes into a REAL MJPEG-in-AVI container
    * ([[Media.aviFromBytes]] — direct AVIs demux as-is), the RIFF walker
    * extracts the `00dc` frame chunks, and every frame JPEG-decodes.
    * JPEG is lossy, so decoded pixels are NOT oracle-recomputable (the
    * GIF arm's trick); the external gate is therefore a census +
    * certificate: frame count = (n mod 24)+1 (the wrap parameter,
    * container-read back) and a frames_ok boolean the oracle emits as
    * literal TRUE — a demux or decode failure flips it and fails the
    * hash (the q22/q39 bound-certificate design). Per-frame pixel
    * fidelity is spec-gated instead (MediaSpec round-trip fixtures). */
  private def m10(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(documents(s, d))
    Media.mjpegCensus(media).toDF()
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_videos"),
        sum(col("n_frames").cast("long")).as("n_frames"),
        bool_and(col("frames_ok")).as("frames_ok"))
  }

  /** Exactly-verified MJPEG copy report — the d03→d05 discipline on the
    * video axis: banded near-dup candidates over REAL MJPEG frame hashes
    * (demux → per-frame JPEG decode → aHash → per-position band join,
    * [[frameNearDupPairs]]), then EXACT verification by payload checksum
    * equality. Exact copies can never escape the candidate stage (equal
    * payloads ⇒ equal frame hashes ⇒ same bands), so confirmed pairs ==
    * payload-equal pairs — which IS the oracle, expressible without
    * touching lossy JPEG pixels. Near-dup-but-not-equal candidates are
    * the recall surface the verify step filters; they are spec-covered
    * with re-encoded fixtures (MediaSpec), the same split as m09's
    * oracle-vs-spec coverage. Like d01, legitimately EMPTY on a clean
    * corpus — so like d01 it runs over
    * [[graft.Tables.documentsWithProbe]] (the id shift is ≡ 0 mod 3,
    * so the planted copy of doc 2 is still a VIDEO): the oracle
    * comparison proves the demux → frame-hash → band → exact-verify
    * chain actually confirms a payload-equal pair, not just that a
    * clean corpus has none. */
  private def m11(s: SparkSession, d: String): DataFrame = {
    val media = Media.mediaFromDocuments(graft.Tables.documentsWithProbe(s, d))
    val fh = graft.Pinned.pin(Media.mjpegFrameHashes(media, stride = 4).toDF())
    val sums = media.toDF()
      .filter(col("kind") === "video" && length(col("payload")) > 0)
      .select(col("media_id"),
        md5(upper(hex(col("payload"))).cast("binary")).as("ck"),
        length(col("payload")).cast("long").as("n"))
    frameNearDupPairs(fh)
      .join(sums.select(col("media_id").as("a_id"), col("ck").as("a_ck"),
        col("n").as("a_n")), Seq("a_id"))
      .join(sums.select(col("media_id").as("b_id"), col("ck").as("b_ck")),
        Seq("b_id"))
      .filter(col("a_ck") === col("b_ck"))
      .select(col("a_id"), col("b_id"),
        (col("a_n") % 24 + 1).as("n_frames"))
  }

  /** Media delta dedup against a persisted fingerprint index — d24's
    * third-execution-mode discipline on the media axis, served by
    * [[DeltaAxis.serve]] on [[DeltaAxis.Media]]: the base partition
    * distills to (media_id, kind, byte checksum, perceptual aHash60) —
    * ~50 B per asset, payloads never stored — written to parquet and
    * read back; the increment dedups against the artifact. The split
    * filters BEFORE the decode (mapPartitions is opaque to Catalyst, so
    * a post-decode filter would still decode both sides), and
    * `spark.graft.m12.buildIndex=false` serves from a pre-built
    * artifact without decoding the base partition at all
    * (IndexReuseSpec pins it). Verdicts per delta asset: `exact` (same
    * kind + byte checksum; winner = smallest base id), else `near`
    * (m07's 5×12 pigeonhole banding over the perceptual hash — exact
    * for hamming ≤ 4 — winner = smallest base id, its hamming
    * reported), else `unique`. The perceptual arm catches what the
    * checksum cannot: a RE-ENCODE of a base asset arriving in the
    * delta (MediaSpec's invariance fixtures). Payloads never shuffle:
    * fingerprints compute in the decode scan, everything after is
    * narrow. */
  private def m12(s: SparkSession, d: String): DataFrame =
    DeltaAxis.Media.serve(s, documents(s, d))

  /** m12's index row for any media dataset: kind + byte checksum +
    * perceptual aHash60 — ~50 B/asset, payloads never leave the decode
    * scan. */
  private[graft] def m12Fingerprints(
      m: org.apache.spark.sql.Dataset[Media.MediaRecord]): DataFrame =
    Media.decodeFeatures(Media.resize(m, 64)).toDF()
      .select(col("media_id"), col("kind"), col("checksum"))
      .join(Media.perceptualHashes(m).toDF()
        .select(col("media_id"), col("phash")), Seq("media_id"))

  /** m07's 5×12 pigeonhole bands over the perceptual hash, one row per
    * (band, asset), the asset id renamed to `as` — the id-only band keys
    * [[mediaDeltaVerdicts]] and [[intraUniqueFps]] both join on. */
  private def m12Bands(df: DataFrame, as: String): DataFrame = df
    .select(col("media_id").as(as),
      explode(array((0 until 5).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("phash"), b * 12).bitwiseAND(lit(0xFFFL))
            .as("nib"))): _*)).as("bk"))
    .select(col(as), col("bk.band").as("band"), col("bk.nib").as("nib"))

  /** [[graft.queries.TextDedupOps.intraUniqueSigs]]' media twin: dedup
    * a night's admitted uniques against each other before the index
    * fold — keep an asset iff no SMALLER-id unique in the same delta
    * is an exact (kind + checksum) or perceptual (pigeonhole-banded,
    * hamming ≤ 4) duplicate of it. Verdicts unaffected; this dedups
    * the WRITE, so a crawl batch of internal re-encodes contributes
    * one fingerprint. */
  private[graft] def intraUniqueFps(u0: DataFrame): DataFrame = {
    // six references below — pin like intraUniqueSigs, or each one
    // re-executes the verdict-join subtree
    val u = graft.Pinned.pin(u0)
    val exactDrop = u.select(col("media_id"), col("kind"), col("checksum"))
      .join(u.groupBy(col("kind"), col("checksum"))
        .agg(min(col("media_id")).as("keep_id")), Seq("kind", "checksum"))
      .filter(col("media_id") =!= col("keep_id"))
      .select("media_id")
    val nearDrop = m12Bands(u, "media_id")
      .join(m12Bands(u, "base_id"), Seq("band", "nib"))
      .filter(col("base_id") < col("media_id"))
      .select("media_id", "base_id")
      .dropDuplicates("media_id", "base_id")
      .join(u.select(col("media_id"), col("phash").as("d_ph")),
        Seq("media_id"))
      .join(u.select(col("media_id").as("base_id"),
        col("phash").as("b_ph")), Seq("base_id"))
      .filter(bit_count(col("d_ph").bitwiseXOR(col("b_ph"))) <= 4)
      .select("media_id").distinct()
    u.join(exactDrop.unionByName(nearDrop).distinct(),
      Seq("media_id"), "left_anti")
  }

  /** Verdicts for a fingerprinted `delta` frame against a fingerprinted
    * `index` frame — the media axis's read-only verdict core
    * ([[DeltaAxis]]). Both inputs carry (media_id, kind, checksum,
    * phash); `delta` should be pinned by the caller. */
  private[graft] def mediaDeltaVerdicts(index: DataFrame,
      delta: DataFrame): DataFrame = {
    val exact = delta.select(col("media_id"), col("kind"), col("checksum"))
      .join(index.select(col("kind"), col("checksum"),
        col("media_id").as("base_id")), Seq("kind", "checksum"))
      .groupBy(col("media_id"))
      .agg(min(col("base_id")).as("exact_winner"))
    val cand = m12Bands(delta, "media_id")
      .join(m12Bands(index, "base_id"), Seq("band", "nib"))
      .select("media_id", "base_id")
      .dropDuplicates("media_id", "base_id")
    val near = cand
      .join(delta.select(col("media_id"), col("phash").as("d_ph")),
        Seq("media_id"))
      .join(index.select(col("media_id").as("base_id"),
        col("phash").as("b_ph")), Seq("base_id"))
      .withColumn("hamming",
        bit_count(col("d_ph").bitwiseXOR(col("b_ph"))).cast("long"))
      .filter(col("hamming") <= 4)
      .groupBy(col("media_id"))
      .agg(min(struct(col("base_id"), col("hamming"))).as("w"))
      .select(col("media_id"), col("w.base_id").as("near_winner"),
        col("w.hamming").as("near_ham"))
    delta.select(col("media_id"), col("kind"))
      .join(exact, Seq("media_id"), "left")
      .join(near, Seq("media_id"), "left")
      .select(
        col("media_id"), col("kind"),
        when(col("exact_winner").isNotNull, "exact")
          .when(col("near_winner").isNotNull, "near")
          .otherwise("unique").as("verdict"),
        coalesce(col("exact_winner"), col("near_winner"), lit(-1L))
          .as("winner"),
        when(col("exact_winner").isNotNull, 0L)
          .when(col("near_winner").isNotNull, col("near_ham"))
          .otherwise(-1L).as("hamming"))
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "m01_media_features" -> m01 _,
    "m02_frame_sample" -> m02 _,
    "m03_resize_rollup" -> m03 _,
    "m04_crossmodal_join" -> m04 _,
    "m05_chunked_payloads" -> m05 _,
    "m06_media_dedup" -> m06 _,
    "m07_perceptual_neardup" -> m07 _,
    "m08_audio_neardup" -> m08 _,
    "m09_video_neardup" -> m09 _,
    "m10_mjpeg_census" -> m10 _,
    "m11_mjpeg_copies" -> m11 _,
    "m12_media_delta" -> m12 _,
  )

  val oracle: ListMap[String, String] = ListMap(
    // video rows: width 8 (the wrapped GIF's REAL container-read
    // dimension) and frame count (n % 24) + 1 (the wrap parameter,
    // container-read back on the Spark side)
    "m01_media_features" ->
      """SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
        |  source,
        |  COUNT(*) AS n_media,
        |  SUM(octet_length(encode(text)))::BIGINT AS total_bytes,
        |  SUM(CASE WHEN ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'video'
        |       THEN 8 ELSE octet_length(encode(text)) % 640 END)::BIGINT AS sum_width,
        |  SUM(CASE WHEN ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'video'
        |       THEN octet_length(encode(text)) % 24 + 1 ELSE 1 END)::BIGINT AS sum_frames,
        |  COUNT(DISTINCT md5(hex(encode(text)))) AS n_distinct
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // byte-wrapped-GIF frame energies recomputed straight from the text
    // bytes (the m07 contract lifted to frames): frame f, pixel p reads
    // byte (f*64+p) mod n as its gray (r=g=b, so integer luminance = the
    // byte exactly); per-frame feature = Σ over the 64 pixels; frames
    // 0, 4, 8, … of (n % 24) + 1 total
    "m02_frame_sample" ->
      """SELECT source, COUNT(*) AS n_frames, SUM(feat)::BIGINT AS sum_feat,
        |  COUNT(DISTINCT doc_id) AS n_videos
        |FROM (
        |  SELECT doc_id, source,
        |    list_sum(list_transform(range(0, 64), p ->
        |      ('0x' || substr(hx, 2 * ((f * 64 + p) % n) + 1, 2))::BIGINT))
        |      AS feat
        |  FROM (
        |    SELECT doc_id, source, hex(encode(text)) AS hx,
        |      octet_length(encode(text)) AS n,
        |      UNNEST(range(0, octet_length(encode(text)) % 24 + 1, 4)) AS f
        |    -- n > 0: an empty payload has no frames on the Spark side
        |    -- (nothing to decode) and would modulo-by-zero here
        |    FROM documents
        |    WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0))
        |GROUP BY source""".stripMargin,
    "m03_resize_rollup" ->
      """SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
        |  COUNT(*) AS n_media,
        |  SUM(least(octet_length(encode(text)), 512))::BIGINT AS resized_bytes,
        |  COUNT(DISTINCT md5(substr(hex(encode(text)), 1, 1024))) AS n_distinct
        |FROM documents GROUP BY 1""".stripMargin,
    "m06_media_dedup" ->
      """SELECT kind, COUNT(*) AS n_dup_groups,
        |  SUM(n_copies - 1)::BIGINT AS n_removable
        |FROM (
        |  SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
        |    md5(substr(hex(encode(text)), 1, 128)) AS checksum,
        |    COUNT(*) AS n_copies
        |  FROM documents GROUP BY 1, 2)
        |WHERE n_copies > 1 GROUP BY kind""".stripMargin,
    // byte-wrapped-BMP pixels recomputed straight from the text bytes:
    // pixel p reads bytes (3p, 3p+1, 3p+2) mod n as (r, g, b); integer
    // gray (299r+587g+114b)//1000; mean threshold; bits 0..59. The
    // all-pairs form is oracle-side only — Spark prunes via banding,
    // which is EXACT for hamming <= 4 (pigeonhole over 5 bands).
    "m07_perceptual_neardup" ->
      """WITH px AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), p ->
        |      (299 * ('0x' || substr(hx, 2 * ((3*p) % n) + 1, 2))::BIGINT
        |       + 587 * ('0x' || substr(hx, 2 * ((3*p+1) % n) + 1, 2))::BIGINT
        |       + 114 * ('0x' || substr(hx, 2 * ((3*p+2) % n) + 1, 2))::BIGINT)
        |      // 1000) AS gray
        |  FROM px),
        |ph AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0, 60), p ->
        |      CASE WHEN gray[(p+1)::INT] > (list_sum(gray) // 64)
        |           THEN (1::BIGINT << p::INT) ELSE 0::BIGINT END))::BIGINT
        |      AS phash
        |  FROM gr)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 4""".stripMargin,
    // byte-wrapped-WAV samples recomputed straight from the text bytes:
    // sample i = byte i (8-bit unsigned PCM), window k = i*64//n, energy
    // = window sum, threshold at total//64, bits 0..59. All-pairs form is
    // oracle-side only — Spark prunes via banding (exact for hamming<=4).
    "m08_audio_neardup" ->
      """WITH px AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |v AS (
        |  SELECT doc_id, (i * 64) // n AS k,
        |    ('0x' || substr(hx, (2 * i + 1)::INT, 2))::BIGINT AS s
        |  FROM (SELECT doc_id, hx, n, UNNEST(range(0, n)) AS i FROM px)),
        |e AS (SELECT doc_id, k, SUM(s)::BIGINT AS e FROM v GROUP BY 1, 2),
        |t AS (SELECT doc_id, SUM(s)::BIGINT AS tot FROM v GROUP BY 1),
        |ph AS (
        |  SELECT p.doc_id,
        |    COALESCE(SUM(CASE WHEN e.e > t.tot // 64
        |      THEN (1::BIGINT << e.k::INT) ELSE 0 END), 0)::BIGINT AS phash
        |  FROM px p
        |  LEFT JOIN t ON t.doc_id = p.doc_id
        |  LEFT JOIN e ON e.doc_id = p.doc_id AND e.k < 60
        |  GROUP BY 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 4""".stripMargin,
    // byte-wrapped-GIF frame hashes recomputed straight from the text
    // bytes (the m02 pixel contract + the m07 hash contract): frame f
    // pixel p = byte (f*64+p) mod n, luminance = the byte (r=g=b), mean
    // threshold, bits 0..59; sampled positions 0,4,… of (n%24)+1 frames.
    // The all-pairs form is oracle-side only — Spark prunes via per-
    // position banding, exact for the majority rule (n_match >= 1).
    "m09_video_neardup" ->
      """WITH px AS (
        |  -- n > 0: empty payloads have no frames (see the m02 guard)
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0),
        |fr AS (
        |  SELECT doc_id, f,
        |    list_transform(range(0, 64), p ->
        |      ('0x' || substr(hx, 2 * ((f * 64 + p) % n) + 1, 2))::BIGINT)
        |      AS gray
        |  FROM (SELECT doc_id, hx, n,
        |          UNNEST(range(0, n % 24 + 1, 4)) AS f FROM px)),
        |ph AS (
        |  SELECT doc_id, f,
        |    list_sum(list_transform(range(0, 60), p ->
        |      CASE WHEN gray[(p+1)::INT] > (list_sum(gray) // 64)
        |           THEN (1::BIGINT << p::INT) ELSE 0::BIGINT END))::BIGINT
        |      AS fhash
        |  FROM fr)
        |SELECT a_id, b_id, n_common, n_match FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    COUNT(*)::BIGINT AS n_common,
        |    SUM(CASE WHEN bit_count(xor(a.fhash, b.fhash)) <= 4
        |        THEN 1 ELSE 0 END)::BIGINT AS n_match
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id AND a.f = b.f
        |  GROUP BY 1, 2)
        |WHERE n_match * 2 >= n_common""".stripMargin,
    // m10: JPEG is lossy so pixels are not oracle-recomputable; the gate
    // is the census (wrap-parameter frame count, container-read back) +
    // the frames_ok certificate the Spark side must earn from real
    // demux+decode (bound-certificate design, as q22/q39)
    "m10_mjpeg_census" ->
      """SELECT source, COUNT(*) AS n_videos,
        |  SUM(octet_length(encode(text)) % 24 + 1)::BIGINT AS n_frames,
        |  TRUE AS frames_ok
        |FROM documents
        |WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0
        |GROUP BY source""".stripMargin,
    // m11: confirmed MJPEG copies == payload-equal video pairs (equal
    // payloads can never escape the banded candidate stage, and the
    // exact-verify join filters everything else)
    "m11_mjpeg_copies" ->
      s"""WITH probe AS (
         |  ${graft.Tables.probeDocsSql}),
         |px AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS n
         |  FROM probe
         |  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  (a.n % 24 + 1)::BIGINT AS n_frames
         |FROM px a JOIN px b ON a.doc_id < b.doc_id AND a.hx = b.hx""".stripMargin,
    "m04_crossmodal_join" ->
      s"""WITH feats AS (
         |  SELECT doc_id AS media_id,
         |    ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
         |    octet_length(encode(text))::BIGINT AS n_bytes
         |  FROM documents),
         |embn AS (
         |  SELECT vec_id, label,
         |    ${graft.functions.VectorFns.sqlDotq("qv", "qv", 64)} AS n2
         |  FROM (SELECT vec_id, label,
         |          ${graft.functions.VectorFns.sqlQvec("embedding")} AS qv
         |        FROM embeddings))
         |SELECT kind, label, COUNT(*) AS n_items,
         |  SUM(n_bytes)::BIGINT AS total_bytes,
         |  SUM(n2)::BIGINT AS sum_norm2
         |FROM feats JOIN embn ON media_id = vec_id
         |GROUP BY 1, 2""".stripMargin,
    "m05_chunked_payloads" ->
      """WITH f AS (
        |  SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
        |    doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |    greatest((octet_length(encode(text)) + 255) // 256, 1)::BIGINT AS nc
        |  FROM documents)
        |SELECT kind, COUNT(DISTINCT doc_id) AS n_media,
        |  SUM(nc)::BIGINT AS n_chunks,
        |  SUM(n_bytes)::BIGINT AS total_bytes,
        |  MAX(nc - 1) AS max_chunk_idx
        |FROM f GROUP BY 1""".stripMargin,
    // SQL twin of m12: m06's byte checksum + m07's perceptual-hash CTEs
    // with d24's hash split and verdict logic; the all-pairs near join
    // is oracle-side only (Spark prunes via the exact-for-hamming<=4
    // 5x12 banding), arg_min == Spark's min-struct winner.
    "m12_media_delta" ->
      s"""WITH px AS (
         |  SELECT doc_id,
         |    ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
         |    hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS n
         |  FROM documents),
         |ck AS (SELECT doc_id, kind, md5(substr(hx, 1, 128)) AS checksum
         |       FROM px),
         |gr AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 64), p ->
         |      (299 * ('0x' || substr(hx, 2 * ((3*p) % n) + 1, 2))::BIGINT
         |       + 587 * ('0x' || substr(hx, 2 * ((3*p+1) % n) + 1, 2))::BIGINT
         |       + 114 * ('0x' || substr(hx, 2 * ((3*p+2) % n) + 1, 2))::BIGINT)
         |      // 1000) AS gray
         |  FROM px),
         |ph AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(0, 60), p ->
         |      CASE WHEN gray[(p+1)::INT] > (list_sum(gray) // 64)
         |           THEN (1::BIGINT << p::INT) ELSE 0::BIGINT END))::BIGINT
         |      AS phash
         |  FROM gr),
         |rec AS (
         |  SELECT c.doc_id, c.kind, c.checksum, p.phash,
         |    (${graft.functions.Portable.sqlHash60("c.doc_id::VARCHAR", 424)}
         |      % 5 = 0) AS is_delta
         |  FROM ck c JOIN ph p USING (doc_id)),
         |base AS (SELECT * FROM rec WHERE NOT is_delta),
         |delta AS (SELECT * FROM rec WHERE is_delta),
         |exact AS (
         |  SELECT d.doc_id, MIN(b.doc_id) AS exact_winner
         |  FROM delta d JOIN base b
         |    ON b.kind = d.kind AND b.checksum = d.checksum
         |  GROUP BY 1),
         |near AS (
         |  SELECT d.doc_id, MIN(b.doc_id) AS near_winner,
         |    arg_min(bit_count(xor(d.phash, b.phash))::BIGINT, b.doc_id)
         |      AS near_ham
         |  FROM delta d JOIN base b
         |    ON bit_count(xor(d.phash, b.phash)) <= 4
         |  GROUP BY 1)
         |SELECT d.doc_id AS media_id, d.kind,
         |  CASE WHEN e.exact_winner IS NOT NULL THEN 'exact'
         |       WHEN nr.near_winner IS NOT NULL THEN 'near'
         |       ELSE 'unique' END AS verdict,
         |  COALESCE(e.exact_winner, nr.near_winner, -1)::BIGINT AS winner,
         |  (CASE WHEN e.exact_winner IS NOT NULL THEN 0
         |        WHEN nr.near_winner IS NOT NULL THEN nr.near_ham
         |        ELSE -1 END)::BIGINT AS hamming
         |FROM delta d
         |LEFT JOIN exact e USING (doc_id)
         |LEFT JOIN near nr USING (doc_id)""".stripMargin,
  )
}
