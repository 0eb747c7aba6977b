package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fixtures.SyntheticStore
import graft.functions.ImageFunctions

class MultimodalOpsSpec extends SparkTestBase {
  import spark.implicits._

  lazy val store = SyntheticStore.generate(spark, 40, partitions = 4).cache()

  test("image meta: dims + format sniff + phash over binary column") {
    val meta = MultimodalOps.featurizeImages(spark, store)
    val joined = store.select(col("image_id"), col("w").as("w0"), col("h").as("h0"),
        col("fmt").as("fmt0"), col("phash").as("ph0"))
      .join(meta, "image_id")
    assert(joined.filter(col("w") =!= col("w0") || col("h") =!= col("h0")).count() == 0)
    assert(joined.filter(col("fmt_guess") =!= col("fmt0")).count() == 0)
    assert(joined.filter(col("phash") =!= col("ph0")).count() == 0)
  }

  test("resize: bounded dims, decodable, perceptually close (real decode path)") {
    val r = SyntheticStore.row(5L)
    val small = MultimodalOps.resizeImage(r.bytes, 8).get
    val img = ImageFunctions.decode(small).get
    assert(math.max(img.getWidth, img.getHeight) <= 8)
    // aspect preserved within rounding
    val ratio0 = r.w.toDouble / r.h
    val ratio1 = img.getWidth.toDouble / img.getHeight
    assert(math.abs(ratio0 - ratio1) < 0.5)
  }

  test("image embedding feeds ANN: 64-dim, deterministic, discriminative") {
    val e1 = MultimodalOps.imageEmbedding(SyntheticStore.row(3L).bytes).get
    val e2 = MultimodalOps.imageEmbedding(SyntheticStore.row(3L).bytes).get
    assert(e1.length == 64 && e1.sameElements(e2))
    assert(e1.exists(_ != 0.0f), "degenerate zero embedding")
    // continuous block luminances: distinct images must NOT tie at cos 1.0
    // (the ±1 aHash form collided across the tiny synthetic store)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    for (other <- 1L to 20L if other != 3L) {
      val eo = MultimodalOps.imageEmbedding(SyntheticStore.row(other).bytes).get
      assert(cos(e1, eo) < cos(e1, e1), s"image $other ties with image 3")
    }
  }

  test("re-encode at identity scale preserves pixels → embedding " +
      "(the planted-clone guarantee q_multimodal_ann rests on)") {
    // one id per store format (png/bmp/gif/jpg): decode → identity draw →
    // png re-encode must reproduce the decoded pixels exactly, so the
    // aHash embedding of the re-encoded copy is bit-identical
    for (id <- Seq(1L, 2L, 3L, 4L, 17L, 100L)) {
      val bytes = SyntheticStore.row(id).bytes
      val re = MultimodalOps.resizeImage(bytes, 4096).get
      assert(MultimodalOps.imageEmbedding(re).get.toSeq ==
        MultimodalOps.imageEmbedding(bytes).get.toSeq,
        s"re-encode changed the embedding of id=$id (${SyntheticStore.fmtOf(id)})")
    }
  }

  test("brightness-shifted clone: every pixel differs (PSNR ~30 dB) but " +
      "aHash is exactly invariant — the q_image_neardup TRUE-near-dup class") {
    val P = graft.fixtures.PlantedFixtures
    for (id <- 1L to 19L) {
      val base = P.noiseImages(spark, 20).filter(col("doc_id") === id)
        .select("bytes").as[Array[Byte]].head()
      val shifted = P.brightnessShifted(base)
      assert(!java.util.Arrays.equals(base, shifted))
      val a = ImageFunctions.decode(base).get
      val b = ImageFunctions.decode(shifted).get
      val psnr = ImageFunctions.psnr(ImageFunctions.pixelsOf(a), ImageFunctions.pixelsOf(b))
      assert(psnr > 25 && psnr < 35, s"id=$id: not a perceptual near-dup (psnr=$psnr)")
      assert(ImageFunctions.phashOfBytes(base).get ==
        ImageFunctions.phashOfBytes(shifted).get,
        s"id=$id: uniform shift flipped an aHash bit")
    }
  }

  test("q_image_neardup corpus separation: among pairs anchored at a query " +
      "id, ONLY the 57 planted clone pairs are within Hamming <= 3 — the " +
      "deterministic property the closed-form oracle rests on") {
    val P = graft.fixtures.PlantedFixtures
    // the exact gate corpus, driver-side: store rows are pure functions of
    // id, so row(id) reproduces the /tmp dump bit-for-bit
    val background = (20L to 500L).map(id =>
      id -> SyntheticStore.row(id).phash)
    val noise = (1L to 19L).map { id =>
      val b = ImageFunctions.encode(P.noiseImagePixels(id), 32, 32, "png")
      (id, b, ImageFunctions.phashOfBytes(b).get)
    }
    val clones = noise.flatMap { case (id, b, _) =>
      Seq(
        (id + P.CloneExact, ImageFunctions.phashOfBytes(b).get),
        (id + P.CloneScaled,
          ImageFunctions.phashOfBytes(MultimodalOps.resizeImage(b, 4096).get).get),
        (id + P.CloneShifted,
          ImageFunctions.phashOfBytes(P.brightnessShifted(b)).get))
    }
    val all = (background ++ noise.map(n => (n._1, n._3)) ++ clones).toVector
    assert(all.size == 481 + 19 + 57)
    val within = for {
      (qid, qh) <- all if qid < 20
      (oid, oh) <- all if oid > qid
      if ImageFunctions.hamming(qh, oh) <= 3
    } yield (qid, oid)
    val planted = for {
      q <- 1L to 19L
      off <- Seq(P.CloneExact, P.CloneScaled, P.CloneShifted)
    } yield (q, q + off)
    assert(within.toSet == planted.toSet,
      s"separation violated: ${(within.toSet -- planted.toSet).take(5)} extra, " +
        s"${(planted.toSet -- within.toSet).take(5)} missing")
  }

  test("imageNearDupPairsOf end-to-end: exactly the planted clone pairs, " +
      "all at Hamming 0, over a mixed noise + gradient corpus") {
    val P = graft.fixtures.PlantedFixtures
    val q = P.noiseImages(spark, 20)
    val background = store.select(
      (regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long") + 100L)
        .as("doc_id"),
      col("bytes"))
    val corpus = background.unionByName(q)
      .unionByName(q.select((col("doc_id") + P.CloneExact).as("doc_id"), col("bytes")))
      .unionByName(q.select((col("doc_id") + P.CloneShifted).as("doc_id"),
        P.brightnessShiftedUdf(col("bytes")).as("bytes")))
    val pairs = MultimodalOps.imageNearDupPairsOf(spark, corpus, "spec-img")
      .filter(col("doc_a") < 20).collect()
    val expected = (1L to 19L).flatMap(id =>
      Seq((id, id + P.CloneExact, 0), (id, id + P.CloneShifted, 0))).toSet
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      expected)
  }

  test("visionPrep: ViT patch counts, quarter-step aspect buckets, keep " +
      "gate — integer arithmetic against the stored dimensions") {
    val stored = store.select("image_id", "w", "h").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    val rows = MultimodalOps.visionPrep(spark, store).collect()
    assert(rows.length == stored.size)
    rows.foreach { r =>
      val (w, h) = stored(r.getString(0))
      assert(r.getLong(1) == w && r.getLong(2) == h, "decode dims diverge")
      assert(r.getLong(3) == ((w + 13) / 14).toLong * ((h + 13) / 14),
        s"n_patches wrong for ${w}x$h")
      assert(r.getLong(4) == (8L * w + h) / (2L * h), s"aspect_q4 wrong for ${w}x$h")
      assert(r.getBoolean(5) ==
        (math.min(w, h) >= 16 && w <= 2 * h && h <= 2 * w))
    }
    // the gate fires both ways on this store (8..64 px dims)
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }

  test("pairGate: image gate ∧ caption gate in one scan — all four keep " +
      "quadrants over a hand-built pair table") {
    def img(w: Int, h: Int) =
      ImageFunctions.encode(Array.fill(w * h)(0x336699), w, h, "png")
    val goodCap = "A sturdy printed bracket with anodized aluminum fittings"
    val poorCap = "x1 2 33 44 5 6 77 8 9" // tokens fine, alpha ~0
    val pairs = Seq(
      ("p/both", img(28, 28), goodCap), // keep
      ("p/img-only", img(28, 28), poorCap), // caption fails
      ("p/cap-only", img(8, 8), goodCap), // image fails (minDim)
      ("p/neither", img(64, 8), poorCap)) // both fail (aspect + alpha)
      .toDF("image_id", "bytes", "caption")
    val got = MultimodalOps.pairGate(spark, pairs)
      .select("image_id", "keep_image", "keep_caption", "keep")
      .as[(String, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map(
      "p/both" -> ((true, true, true)),
      "p/img-only" -> ((true, false, false)),
      "p/cap-only" -> ((false, true, false)),
      "p/neither" -> ((false, false, false))))
    // derived columns: 28x28 at patch 14 → 4 patches; caption tokens
    val both = MultimodalOps.pairGate(spark, pairs)
      .filter(col("image_id") === "p/both").collect().head
    assert(both.getLong(1) == 4L) // n_patches
    assert(both.getLong(2) == 8L) // caption_tokens
  }

  test("pairGate: a caption that normalizes to empty scores alpha 0 and " +
      "fails the caption gate instead of aborting the scan") {
    val img = ImageFunctions.encode(Array.fill(28 * 28)(0x336699), 28, 28, "png")
    // Spark's trim strips spaces only, so the blank caption is spaces
    val pairs = Seq(("p/empty", img, ""), ("p/blank", img, "   "),
      ("p/markup", img, "<p> </p>")).toDF("image_id", "bytes", "caption")
    val got = MultimodalOps.pairGate(spark, pairs)
      .select("image_id", "caption_alpha_permille", "keep_image",
        "keep_caption", "keep")
      .as[(String, Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got == Map(
      "p/empty" -> ((0L, true, false, false)),
      "p/blank" -> ((0L, true, false, false)),
      "p/markup" -> ((0L, true, false, false))))
  }
}
