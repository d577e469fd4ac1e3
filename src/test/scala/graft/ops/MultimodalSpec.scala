package graft.ops

import graft.SparkSpec

/** The decode kernel itself: real PNGs in, actual pixel dimensions out
  * (mm01's oracle covers the fallback arithmetic; this spec covers the
  * ImageIO path the oracle can't express). */
class MultimodalSpec extends SparkSpec {

  private def png(w: Int, h: Int, rgba: Boolean = false): Array[Byte] = {
    val t =
      if (rgba) java.awt.image.BufferedImage.TYPE_INT_ARGB
      else java.awt.image.BufferedImage.TYPE_INT_RGB
    val img = new java.awt.image.BufferedImage(w, h, t)
    img.setRGB(0, 0, 0xff00ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("binaryFile ingestion: a directory of PNGs decodes to real dimensions") {
    val dir = tempDir("png_ingest")
    java.nio.file.Files.write(dir.resolve("a.png"), png(33, 21))
    java.nio.file.Files.write(dir.resolve("b.png"), png(48, 12))
    java.nio.file.Files.write(dir.resolve("ignore.txt"), "not an image".getBytes)
    val out = Multimodal.readBinaryDir(spark, dir.toString).collect()
    assert(out.length == 2, "pathGlobFilter must prune the non-png file")
    assert(out.map(m => (m.width, m.height)).toSet == Set((33, 21), (48, 12)))
    assert(out.forall(_.channels == 3))
  }

  test("ImageDecode reads real PNG pixel dimensions inside mapPartitions") {
    import spark.implicits._
    val recs = Seq(
      Multimodal.BinRecord(1L, png(17, 9)),
      Multimodal.BinRecord(2L, png(256, 128, rgba = true)),
      Multimodal.BinRecord(3L, "not an image".getBytes("UTF-8")))
    val out = spark.createDataset(recs)
      .mapPartitions(_.map(Multimodal.ImageDecode(_)))
      .collect().sortBy(_.doc_id)
    assert(out(0).width == 17 && out(0).height == 9 && out(0).channels == 3)
    assert(out(1).width == 256 && out(1).height == 128 && out(1).channels == 4)
    // non-image payload falls back to the deterministic fake
    assert(out(2) == Multimodal.FakeDecode(recs(2)))
    assert(out(2).n_bytes == "not an image".getBytes("UTF-8").length.toLong)
  }

  test("aHash64 is invariant to global brightening and flips on a block edit") {
    def img(w: Int, h: Int, delta: Int, patch: Boolean): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val bx = x * 8 / w; val by = y * 8 / h
        val base = if ((bx + by) % 2 == 0) 50 else 195 // checker at block scale
        val d = delta + (if (patch && bx == 2 && by == 4) 150 else 0) // dark block
        val v = math.min(255, base + d)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    val base = Multimodal.aHash64(img(53, 41, 0, patch = false))
    // +7 everywhere: block means and the global mean shift equally —
    // the cross-multiplied comparison is provably unchanged
    assert(Multimodal.aHash64(img(53, 41, 7, patch = false)) == base)
    // brightening one dark block flips exactly that block's bit
    val edited = Multimodal.aHash64(img(53, 41, 0, patch = true))
    assert(java.lang.Long.bitCount(base ^ edited) == 1,
      s"expected exactly one flipped bit, got ${java.lang.Long.bitCount(base ^ edited)}")
  }

  test("mm06 band-LSH candidates are complete: equals brute-force hamming <= 3") {
    import org.apache.spark.sql.functions._
    val out = Multimodal.queries("mm06_image_near_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same fixture hashes — no banding involved
    val hs = Multimodal.imageHashes(spark,
        new java.io.File(System.getProperty("java.io.tmpdir"), "graft_mm06_pngs_v4").getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(out == brute,
      s"band LSH diverged from brute force: ${out.diff(brute)} / ${brute.diff(out)}")
    assert(brute.size == 3 && brute.exists(_._3 == 1),
      s"fixture should plant exactly 3 near-dup pairs (one at hamming 1): $brute")
  }

  test("AudioDecode reads real PCM WAV headers; non-audio falls back to zeros") {
    val fmt = new javax.sound.sampled.AudioFormat(12000f, 16, 2, true, false)
    val frames = 120
    val pcm = Array.tabulate[Byte](frames * 2 * 2)(i => (i % 100).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = Multimodal.AudioDecode(Multimodal.BinRecord(1L, bos.toByteArray))
    assert(wav.sample_rate == 12000 && wav.channels == 2 &&
      wav.bits == 16 && wav.n_frames == frames.toLong)
    val notAudio = Multimodal.AudioDecode(
      Multimodal.BinRecord(2L, "just text".getBytes("UTF-8")))
    assert(notAudio == Multimodal.AudioMeta(2L, 9L, 0, 0, 0, 0L))
  }

  test("mm07 frame features equal a javax-free recompute from the raw ramp definition") {
    // Independent reference: rebuild each clip's PCM bytes from the
    // fixture's ramp formula (no javax.sound anywhere) and compute the
    // windowed features with plain collections code. This breaks the
    // pinned-golden circularity AND verifies the decode path is a PCM
    // passthrough.
    val configs = Map(8000 -> (0, 1, 800), 16000 -> (1, 2, 1600),
      22050 -> (2, 1, 2205), 44100 -> (3, 2, 4410)) // rate -> (i, ch, frames)
    def expected(i: Int, ch: Int, frames: Int): Set[(Int, Int, Long, Int, Int)] = {
      val bytes = Array.tabulate(frames * ch * 2)(b => ((b * 31 + i * 7) % 251).toByte)
      def sample(t: Int, c: Int): Int =
        (((bytes((t * ch + c) * 2 + 1) & 0xff) << 8) |
          (bytes((t * ch + c) * 2) & 0xff)).toShort.toInt
      (0 until frames by 400).map { f0 =>
        val fe = math.min(f0 + 400, frames)
        val perCh = (0 until ch).map { c =>
          val ss = (f0 until fe).map(t => sample(t, c))
          val zc = ss.sliding(2).count {
            case Seq(a, b) => (a < 0) != (b < 0)
            case _ => false
          }
          (ss.map(s => s.toLong * s).sum, zc, ss.map(math.abs).max)
        }
        (f0 / 400, (fe - f0) * ch,
          perCh.map(_._1).sum, perCh.map(_._2).sum, perCh.map(_._3).max)
      }.toSet
    }
    val meta = Multimodal.queries("mm05_read_audio_dir")(spark, sf)
      .select("doc_id", "sample_rate", "channels", "n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Multimodal.queries("mm07_audio_frames")(spark, sf).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r =>
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5))).toSet)
      .toMap
    assert(got.keySet == meta.keySet, "frame features missing a clip")
    got.foreach { case (docId, rows) =>
      val (i, ch, frames) = configs(meta(docId))
      assert(rows == expected(i, ch, frames), s"clip $i feature mismatch")
    }
  }
}
