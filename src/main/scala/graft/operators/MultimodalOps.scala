package graft.operators

import java.awt.image.BufferedImage
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ImageFunctions

/** Multimodal column operators over the crawl's image+caption pairs: image
  * payloads as opaque binary columns with typed metadata, processed in
  * batch-shaped partition passes. Decode, resize and feature extraction are
  * real (javax.imageio); an undecodable payload yields a null, never a
  * failed scan.
  */
object MultimodalOps {

  final case class ImageMeta(w: Int, h: Int, fmt_guess: String, phash: Long)

  val imageMetaUdf = udf { bytes: Array[Byte] =>
    ImageFunctions.decode(bytes).map { img =>
      val fmt =
        if (bytes.length >= 8 && (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P') "png"
        else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') "bmp"
        else if (bytes.length >= 3 && bytes(0) == 'G' && bytes(1) == 'I') "gif"
        else if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8) "jpg"
        else "unknown"
      ImageMeta(img.getWidth, img.getHeight, fmt,
        ImageFunctions.aHash64(ImageFunctions.pixelsOf(img), img.getWidth, img.getHeight))
    }
  }

  /** Real resize: decode → smooth-scaled draw → re-encode png. */
  def resizeImage(bytes: Array[Byte], maxDim: Int): Option[Array[Byte]] =
    ImageFunctions.decode(bytes).map { img =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(img.getWidth, img.getHeight))
      val w = math.max(1, math.round(img.getWidth * scale).toInt)
      val h = math.max(1, math.round(img.getHeight * scale).toInt)
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      ImageFunctions.encode(ImageFunctions.pixelsOf(out), w, h, "png")
    }

  def resizeUdf(maxDim: Int) = udf { bytes: Array[Byte] => resizeImage(bytes, maxDim) }

  /** Image → 64-dim embedding (real, deterministic): mean-centered 8×8
    * block luminances (the CONTINUOUS relaxation of the aHash bit
    * pattern) — bridges image payloads into the ANN/VectorOps path.
    * Continuous values, unlike the ±1 bit vector, make distinct images
    * collide at cosine 1.0 only when their downsampled luminance planes
    * are bit-identical (tiny-store aHash collisions produced spurious
    * exact ties). A perfectly uniform image centers to the zero vector
    * (undefined cosine); it falls back to the raw block grays, which is
    * degenerate-but-defined (all uniform images look alike — they do).
    */
  def imageEmbedding(bytes: Array[Byte]): Option[Array[Float]] =
    ImageFunctions.decode(bytes).map { img =>
      val gray = ImageFunctions.blockGray64(ImageFunctions.pixelsOf(img),
        img.getWidth, img.getHeight)
      val mean = gray.sum / 64.0
      val centered = gray.map(g => (g - mean).toFloat)
      if (centered.exists(_ != 0.0f)) centered else gray.map(_.toFloat)
    }
  val imageEmbeddingUdf = udf(imageEmbedding _)

  /** Batch-shaped multimodal featurization over a store table: metadata +
    * thumbnail + embedding per image row. mapInPandas-equivalent batch shape
    * in Scala: columnar in, one pass, partition-parallel.
    */
  def featurizeImages(spark: SparkSession, storeDf: DataFrame, thumbMaxDim: Int = 16): DataFrame =
    graft.operators.ScanFloor(storeDf)
      .withColumn("meta", imageMetaUdf(col("bytes")))
      .withColumn("thumbnail", resizeUdf(thumbMaxDim)(col("bytes")))
      .withColumn("embedding", imageEmbeddingUdf(col("bytes")))
      .select(col("image_id"), col("meta.*"), col("thumbnail"), col("embedding"))

  /** Image near-duplicate pairs: the image twin of
    * `TextOps.simhashPairsOf`. Each payload decodes to a 64-bit perceptual
    * hash (`ImageFunctions.aHash64` over the decoded pixels — the same C26
    * pHash the store invariants pin), and candidates come from the shared
    * 4×16-bit pigeonhole block join (`TextOps.hammingBlockPairs`): bucket
    * equi-joins only, the pair space never materializes, so the shape
    * survives a 100× corpus the same way SimHash does. aHash is invariant
    * under any uniform (clamp-free) brightness shift — the mean shifts
    * with every block — and under lossless re-encode/container change, so
    * those three near-dup classes land at Hamming 0 exactly.
    *
    * `imagesDf` must carry (`doc_id`: Long, `bytes`: binary); undecodable
    * payloads are dropped (null hash). The decode is the expensive scan
    * (UDF-bounded, partition-parallel); the signature is PlanCache-memoized
    * per (session, cacheKey) like the SimHash/LSH signature caches.
    */
  def imageNearDupPairsOf(spark: SparkSession, imagesDf: DataFrame,
      cacheKey: String, maxHamming: Int = 3): DataFrame = {
    val sig = graft.PlanCache.cached(spark, s"img-phash:$cacheKey")(
      graft.operators.ScanFloor(imagesDf).select(col("doc_id"),
        ImageFunctions.phash64(col("bytes")).as("phash"))
        .filter(col("phash").isNotNull))
    graft.operators.TextOps.hammingBlockPairs(sig, "phash", maxHamming)
  }

  /** Image dedup CLUSTERING: near-dup pairs → connected components →
    * (doc_id, canonical = min id of its group) — the image face of the
    * pairs→groups path `q_dedup_clusters` pins for text. Same scale
    * posture: the pair set is pigeonhole-bounded and each CC round is one
    * join+agg on doc_id.
    */
  def imageDedupClusters(spark: SparkSession, imagesDf: DataFrame,
      cacheKey: String, maxHamming: Int = 3): DataFrame =
    graft.operators.TextOps.connectedComponents(
      imageNearDupPairsOf(spark, imagesDf, cacheKey, maxHamming)
        .select(col("doc_a"), col("doc_b")))

  /** Vision-training preprocessing columns over an image store — the
    * batch-shaping scan a VLM data pipeline runs before packing:
    *  - `n_patches`: ViT patch count, ceil(w/p) × ceil(h/p) — the token
    *    budget an image consumes in a patch-based encoder;
    *  - `aspect_q4`: aspect ratio quantized to quarter steps
    *    (round(4·w/h), integer arithmetic) — the bucketing key that lets
    *    same-shape images batch together without padding waste;
    *  - `keep`: the quality gate — both dimensions ≥ `minDim` and aspect
    *    within 2:1 either way (the standard extreme-aspect filter).
    * Dimensions come from the REAL decode (not trusted metadata); all
    * derived columns are integer arithmetic, so the expectation is
    * closed-form over the stored dimensions. One UDF-bounded decode scan,
    * shuffle-free.
    */
  def visionPrep(spark: SparkSession, storeDf: DataFrame, patchPx: Int = 14,
      minDim: Int = 16): DataFrame =
    storeDf
      .withColumn("meta", imageMetaUdf(col("bytes")))
      .select(col("image_id"),
        col("meta.w").cast("long").as("w"), col("meta.h").cast("long").as("h"))
      .select(col("image_id"), col("w"), col("h"),
        (floor((col("w") + lit(patchPx - 1)) / lit(patchPx)) *
          floor((col("h") + lit(patchPx - 1)) / lit(patchPx)))
          .cast("long").as("n_patches"),
        floor((lit(8) * col("w") + col("h")) / (lit(2) * col("h")))
          .cast("long").as("aspect_q4"),
        (least(col("w"), col("h")) >= minDim &&
          col("w") <= lit(2) * col("h") && col("h") <= lit(2) * col("w"))
          .as("keep"))

  /** Letters per thousand characters of a cleaned caption; an empty caption
    * scores 0 instead of dividing by zero (ANSI mode fails the whole scan).
    */
  def alphaPermille(caption: Column): Column =
    when(length(caption) > 0, floor(length(regexp_replace(caption, "[^A-Za-z]", "")) *
      lit(1000.0) / length(caption)).cast("long")).otherwise(lit(0L))

  /** Training-ready IMAGE+CAPTION pair gate — the capstone filter of the
    * pair table (the engine's input shape: image bytes + caption per
    * row): a pair survives iff the image passes the `visionPrep` quality
    * gate (real-decode dimensions ≥ `minDim`, aspect within 2:1) AND the
    * caption passes the text gate after the REAL C6∘C8 normalize path
    * (≥ `minCaptionTokens` whitespace tokens, alpha ratio ≥
    * `minCaptionAlphaPermille`). Both sides are projections of the SAME
    * row in one scan — no join, no shuffle: exactly how a 100 TB pair
    * table is filtered. Both verdicts are kept as columns (plus the
    * conjunction) so downstream can audit WHY a pair dropped.
    */
  def pairGate(spark: SparkSession, storeDf: DataFrame, patchPx: Int = 14,
      minDim: Int = 16, minCaptionTokens: Int = 3,
      minCaptionAlphaPermille: Int = 780): DataFrame = {
    val cc = trim(graft.functions.TextNormalize.normalizeCaptionUdf(col("caption")))
    graft.operators.ScanFloor(storeDf)
      .withColumn("meta", imageMetaUdf(col("bytes")))
      .select(col("image_id"),
        col("meta.w").cast("long").as("w"), col("meta.h").cast("long").as("h"),
        cc.as("caption_clean"))
      .select(col("image_id"),
        (floor((col("w") + lit(patchPx - 1)) / lit(patchPx)) *
          floor((col("h") + lit(patchPx - 1)) / lit(patchPx)))
          .cast("long").as("n_patches"),
        size(split(col("caption_clean"), "\\s+")).cast("long")
          .as("caption_tokens"),
        alphaPermille(col("caption_clean")).as("caption_alpha_permille"),
        (least(col("w"), col("h")) >= minDim &&
          col("w") <= lit(2) * col("h") && col("h") <= lit(2) * col("w"))
          .as("keep_image"))
      .withColumn("keep_caption",
        col("caption_tokens") >= minCaptionTokens &&
          col("caption_alpha_permille") >= minCaptionAlphaPermille)
      .withColumn("keep", col("keep_image") && col("keep_caption"))
  }
}
