package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support for training-data pipelines.
  *
  * Design: media payloads are opaque `binary` columns carried next to a typed
  * metadata struct; decode / feature-extraction / resize / frame-sampling run
  * as partition-parallel kernels over the binary bytes. IMAGE decode,
  * resize, grayscale, and features are REAL — [[ImageCodec]] rides the
  * JDK's built-in `javax.imageio` PNG/JPEG/BMP codecs, headless, no
  * external libraries. VIDEO is REAL too, as AVI/MJPEG — [[VideoCodec]]
  * parses the RIFF container, seeks frames through the `idx1` index, and
  * decodes each selected frame's JPEG with the same JDK codec; only
  * inter-frame-compressed formats (H.26x etc.) stay out of scope (the JDK
  * genuinely ships no such codec — real deployments swap the container
  * kernel for an ffmpeg call with the SAME column shape).
  */
object Multimodal {

  /** Split an associatedMedia value into its media URLs (reference
    * `load/DownloadMedia.unpackAssociatedMedia:40-63`): pipe is the DwC
    * default delimiter, then semicolon, then comma; a split is only
    * accepted when the parts are uniformly URL-like or uniformly not
    * (a comma inside a single filename must not split it). */
  def unpackAssociatedMedia(associatedMedia: String): Seq[String] = {
    def mediaUrl(u: String) = u.startsWith("http") || u.startsWith("ftp") ||
      u.startsWith("file:")
    def splitBy(c: Char): Seq[String] = {
      val parts = associatedMedia.split(c).map(_.trim).filter(_.nonEmpty).toSeq
      if (parts.forall(mediaUrl) || parts.forall(!mediaUrl(_))) parts
      else Seq(associatedMedia)
    }
    if (associatedMedia == null || associatedMedia.trim.isEmpty) Seq()
    else if (associatedMedia.indexOf('|') > 0) splitBy('|')
    else if (associatedMedia.indexOf(';') > 0) splitBy(';')
    else if (associatedMedia.indexOf(',') > 0) splitBy(',')
    else Seq(associatedMedia)
  }

  /** Media MIME type from DC format/identifier metadata (reference
    * `model/Multimedia.findMimeType:35-54` + MultimediaTest): the format
    * term resolves through the MIME vocab ("jpeg" → "image/jpeg", full
    * types pass through, unknowns stay as supplied); without a format the
    * identifier's extension decides, defaulting to the generic image
    * wildcard type. */
  def findMimeType(format: Option[String], identifier: Option[String]): String = {
    val extensionPattern = raw"(\.[\d\w\-_]+)(\?.*)?$$".r
    val extensionMap = Map(".jpg" -> "image/jpeg", ".gif" -> "image/gif",
      ".png" -> "image/png")
    val f = format.getOrElse {
      identifier.flatMap(id => extensionPattern.findFirstMatchIn(id)
        .map(m => extensionMap.getOrElse(m.group(1).toLowerCase, "image/*")))
        .getOrElse("image/*")
    }
    graft.vocab.MimeType.matchTerm(f).getOrElse(f)
  }

  /** Image-URL shape check (reference `MediaStore.isValidImageURL`). */
  private val imageUrlPattern =
    """(?i)^(https?|ftp|file)://.*\.(jpg|jpeg|gif|png)$""".r

  def isValidImageUrl(url: String): Boolean =
    url != null && imageUrlPattern.findFirstIn(url.trim).isDefined

  /** Attach a REAL PNG payload + metadata to a DataFrame: a deterministic
    * synthetic raster per id, encoded with the JDK's ImageIO — stands in
    * for reading real media files alongside records (the reference stores
    * media paths per record, `load/MediaStore.scala`). Payload dimensions
    * derive from the id, so decode paths see varied shapes. */
  def withGeneratedImageColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val w = (id % 13).toInt + 8
      val h = (id % 7).toInt + 6
      ImageCodec.encodePng(ImageCodec.syntheticImage(id, w, h))
    }
    df.withColumn("image", gen(col(idCol).cast("long")))
      .withColumn("imageMeta", struct(
        lit("image/png").as("format"),
        ((col(idCol).cast("long") % 13) + 8).cast("int").as("width"),
        ((col(idCol).cast("long") % 7) + 6).cast("int").as("height"),
        lit(3).as("channels")))
  }

  /** REAL image feature extraction: ImageIO decode → channel means +
    * luminance histogram ([[ImageCodec.features]]). Undecodable payloads
    * yield null (filter or assert upstream). Map-only, no shuffle. */
  def decodedImageFeatures(bytesCol: Column): Column =
    udf { (b: Array[Byte]) =>
      ImageCodec.decode(b).map(ImageCodec.features)
    }.apply(bytesCol)

  /** REAL resize: decode → integer nearest-neighbour → PNG re-encode.
    * Returns null bytes for undecodable payloads. */
  def decodedResize(bytesCol: Column, w: Int, h: Int): Column =
    udf { (b: Array[Byte]) =>
      ImageCodec.decode(b)
        .map(r => ImageCodec.encodePng(ImageCodec.resizeNearest(r, w, h)))
    }.apply(bytesCol)

  /** Reference derivative ladder (`load/Thumbnailer.scala` +
    * `load/MediaStore.scala` THUMB/SMALL/LARGE = 100/314/650): the longest
    * side scales to the target size, aspect preserved, PNG re-encode.
    * Map-only — ONE decode per row produces all three derivatives; nulls
    * for undecodable payloads. Appends `<bytesCol>_thumb/_small/_large`. */
  def withThumbnails(df: DataFrame, bytesCol: String): DataFrame = {
    val u = udf { (b: Array[Byte]) =>
      ImageCodec.decode(b).map { r =>
        def derive(target: Float): Array[Byte] = {
          val f = target / math.max(r.width, r.height)
          val w = math.max(1, math.round(r.width * f))
          val h = math.max(1, math.round(r.height * f))
          ImageCodec.encodePng(ImageCodec.resizeNearest(r, w, h))
        }
        (derive(100f), derive(314f), derive(650f))
      }
    }
    df.withColumn("_derivs", u(col(bytesCol)))
      .withColumn(s"${bytesCol}_thumb", col("_derivs._1"))
      .withColumn(s"${bytesCol}_small", col("_derivs._2"))
      .withColumn(s"${bytesCol}_large", col("_derivs._3"))
      .drop("_derivs")
  }

  /** REAL perceptual hash (dHash: 9×8 integer resize → luma gradient
    * bits): near-duplicate images differ in few bits, so the SimHash
    * Hamming-banding machinery applies unchanged. Null for undecodable
    * payloads. Map-only. */
  def decodedPHash(bytesCol: Column): Column =
    udf { (b: Array[Byte]) =>
      ImageCodec.decode(b).map(ImageCodec.dHash)
    }.apply(bytesCol)

  /** Attach a REAL PNG payload where consecutive ids share a source
    * raster: seed = id/2, odd ids get a small deterministic perturbation
    * (two pixels blacked out) — a near-duplicate image corpus for
    * perceptual-hash dedup, the visual analogue of the text near-dup
    * fixtures. */
  def withNearDupImageColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val seed = id / 2
      val w = (seed % 13).toInt + 16
      val h = (seed % 7).toInt + 16
      val r = ImageCodec.syntheticImage(seed, w, h)
      if (id % 2 == 1) {
        val px = r.argb.clone()
        px(0) = 0xFF000000
        px(1) = 0xFF000000
        ImageCodec.encodePng(ImageCodec.Raster(w, h, px))
      } else ImageCodec.encodePng(r)
    }
    df.withColumn("image", gen(col(idCol).cast("long")))
  }

  /** Image near-duplicate pairs: perceptual hash per payload, banded
    * Hamming join (pigeonhole-lossless at `maxHamming`), exact Hamming
    * verify — [[graft.operators.Dedup.hammingPairsOfSignatures]] over
    * [[decodedPHash]]. Shape at 100 TB: the hash pass is map-only over
    * the binary column; only (id, 64-bit signature) rows shuffle. */
  def imageNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
        decodedPHash(col(bytesCol)).as("sh"))
      .filter(col("sh").isNotNull)
    graft.operators.Dedup.hammingPairsOfSignatures(sig, maxHamming)
  }

  /** Attach a REAL RIFF/WAVE payload + metadata per id: deterministic
    * synthetic PCM (triangle tone + hashed noise), byte-accurate WAV
    * encoding ([[AudioCodec.encodeWav]]). Clip length varies with the id. */
  def withGeneratedAudioColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val n = ((id % 11) + 4).toInt * 400 // 1600..5600 samples
      AudioCodec.encodeWav(AudioCodec.syntheticAudio(id, n), 8000)
    }
    df.withColumn("audio", gen(col(idCol).cast("long")))
      .withColumn("audioMeta", struct(
        lit("audio/wav").as("format"),
        lit(8000).as("sampleRate"),
        (((col(idCol).cast("long") % 11) + 4) * 400).cast("int")
          .as("nSamples")))
  }

  /** REAL audio feature extraction: WAV parse → duration / RMS /
    * zero-crossing rate / peak. Unparseable payloads yield null. Map-only. */
  def decodedAudioFeatures(bytesCol: Column): Column =
    udf { (b: Array[Byte]) =>
      AudioCodec.decodeWav(b).map { case (rate, samples) =>
        AudioCodec.features(rate, samples)
      }
    }.apply(bytesCol)

  /** REAL decimating resample: WAV parse → keep every k-th sample →
    * re-encode at the reduced rate. Null for unparseable payloads. */
  def decodedDecimate(bytesCol: Column, factor: Int): Column =
    udf { (b: Array[Byte]) =>
      AudioCodec.decodeWav(b).map { case (rate, samples) =>
        val (r2, s2) = AudioCodec.decimate(rate, samples, factor)
        AudioCodec.encodeWav(s2, r2)
      }
    }.apply(bytesCol)

  /** Acoustic fingerprint words ([[AudioFingerprint]] Haitsma–Kalker sign
    * features) from the binary WAV column; null for unparseable payloads.
    * Map-only. */
  def decodedFingerprint(bytesCol: Column): Column =
    udf { (b: Array[Byte]) =>
      AudioCodec.decodeWav(b).map { case (rate, samples) =>
        AudioFingerprint.fingerprint(rate, samples)
      }
    }.apply(bytesCol)

  /** Amplitude-scaled re-encode of the WAV payload (×num/den) — the cheap
    * "re-mastered copy" a robust fingerprint must still match. */
  def scaledAudio(bytesCol: Column, num: Int, den: Int): Column =
    udf { (b: Array[Byte]) =>
      AudioCodec.decodeWav(b).map { case (rate, samples) =>
        val out = new Array[Short](samples.length)
        var i = 0
        while (i < out.length) {
          out(i) = (samples(i) * num / den).toShort; i += 1
        }
        AudioCodec.encodeWav(out, rate)
      }
    }.apply(bytesCol)

  /** Bit error rate between two fingerprint columns. */
  def fingerprintBer(a: Column, b: Column): Column =
    udf((x: Seq[Int], y: Seq[Int]) =>
      AudioFingerprint.bitErrorRate(x.toArray, y.toArray)).apply(a, b)

  /** Attach a REAL AVI/MJPEG payload + metadata per id: deterministic
    * synthetic frames ([[VideoCodec.syntheticVideo]]), byte-accurate RIFF
    * container. Frame count and dimensions vary with the id so decode
    * paths see varied shapes. */
  def withGeneratedVideoColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val n = (id % 5).toInt + 3
      val w = (id % 9).toInt + 16
      val h = (id % 5).toInt + 12
      VideoCodec.syntheticVideo(id, n, w, h)
    }
    df.withColumn("video", gen(col(idCol).cast("long")))
      .withColumn("videoMeta", struct(
        lit("video/avi").as("format"),
        ((col(idCol).cast("long") % 9) + 16).cast("int").as("width"),
        ((col(idCol).cast("long") % 5) + 12).cast("int").as("height"),
        lit(100000).as("usPerFrame"),
        ((col(idCol).cast("long") % 5) + 3).cast("int").as("nFrames")))
  }

  /** Container metadata parsed from the AVI headers — NO frame decode, no
    * pixel work; the cheap pass a 100 TB profiling scan runs first. */
  def videoMetaOf(bytesCol: Column): Column =
    udf { (b: Array[Byte]) =>
      VideoCodec.parseMeta(b).map(m =>
        (m.width, m.height, m.usPerFrame, m.totalFrames))
    }.apply(bytesCol)

  /** REAL video frame sampling: `idx1`-seek to every `stride`-th frame
    * (skipped frames are never decoded — in MJPEG every frame is a
    * keyframe), JPEG-decode the selected ones, one output row per frame
    * with genuinely decoded per-frame features. Map-only explode. */
  def sampleAviFrames(df: DataFrame, bytesCol: String,
      stride: Int): DataFrame = {
    val sampler = udf { (b: Array[Byte]) =>
      VideoCodec.sampleFrameBytes(b, stride).flatMap { case (idx, jpeg) =>
        ImageCodec.decode(jpeg).map(r =>
          (idx, r.width, r.height, ImageCodec.features(r)))
      }
    }
    df.withColumn("_frames", sampler(col(bytesCol)))
      .select(col("*"), explode(col("_frames")).as("frame"))
      .withColumn("frameIndex", col("frame._1"))
      .withColumn("frameWidth", col("frame._2"))
      .withColumn("frameHeight", col("frame._3"))
      .withColumn("frameFeatures", col("frame._4"))
      .drop("_frames", "frame")
  }

  /** Temporal perceptual signature over the AVI payload
    * ([[VideoCodec.signature]]: majority-voted per-frame dHash). Null for
    * unparseable payloads. Map-only. */
  def decodedVideoSignature(bytesCol: Column, stride: Int = 1): Column =
    udf { (b: Array[Byte]) => VideoCodec.signature(b, stride) }
      .apply(bytesCol)

  /** Video near-duplicate pairs: temporal signature per payload, banded
    * Hamming join (pigeonhole-lossless at `maxHamming`), exact verify —
    * the video analogue of [[imageNearDupPairs]]. Only (id, 64-bit
    * signature) rows ever shuffle. */
  def videoNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      stride: Int = 1, maxHamming: Int = 6): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
        decodedVideoSignature(col(bytesCol), stride).as("sh"))
      .filter(col("sh").isNotNull)
    graft.operators.Dedup.hammingPairsOfSignatures(sig, maxHamming)
  }

  /** Attach a REAL muxed audio+video payload: MJPEG frames and a 16-bit
    * PCM track interleaved in ONE AVI container
    * ([[VideoCodec.encodeAviAv]]) — the shape real camera-trap /
    * acoustic-survey media arrives in. */
  def withGeneratedAvColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val n = (id % 4).toInt + 2
      val w = (id % 7).toInt + 16
      val h = (id % 5).toInt + 12
      val frames = (0 until n).map(i =>
        VideoCodec.encodeJpeg(ImageCodec.syntheticImage(id * 1000L + i, w, h)))
      val samples = AudioCodec.syntheticAudio(id, n * 800) // 800/frame @8kHz
      VideoCodec.encodeAviAv(frames, samples, w, h, 10, 8000)
    }
    df.withColumn("av", gen(col(idCol).cast("long")))
  }

  /** Audio features demuxed straight out of the A/V container — the PCM
    * stream feeds the SAME kernel as standalone WAV payloads
    * ([[AudioCodec.features]]). Null when no audio stream. Map-only. */
  def demuxedAudioFeatures(bytesCol: Column): Column =
    udf { (b: Array[Byte]) =>
      VideoCodec.demuxAudio(b).map { case (rate, samples) =>
        AudioCodec.features(rate, samples)
      }
    }.apply(bytesCol)

  // ── planted-payload container fixtures (round 11, q214/q217) ────────
  //
  // The container WALK (AVI header parse, idx1 seek, stride sampling,
  // 00dc/01wb demux interleave) is hash-gated end-to-end by planting
  // stream bytes a SQL oracle can derive from the row key: frame i of id
  // is the ASCII "F<id>:<i>:" padded with 'x' to 40+(i%7) bytes (odd
  // lengths on purpose — they exercise the RIFF even-padding strip), and
  // PCM sample j is the 16-bit value whose little-endian bytes are the
  // two printable chars (65+(id+j)%26, 48+(id+j)%10). The container
  // remains a REAL AVI; only payloads are planted. Pixel/sample DECODE
  // stays covered by the q42/q43/q213 family — these fixtures gate the
  // byte-exactness of the walk itself.

  /** Frame i's planted payload for id (ASCII, SQL-derivable). */
  def plantedFrameBytes(id: Long, i: Int): Array[Byte] = {
    val head = s"F$id:$i:"
    val len = 40 + (i % 7)
    (head + "x" * (len - head.length)).getBytes(
      java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Planted PCM track for id: both bytes of every sample printable. */
  def plantedSamples(id: Long, n: Int): Array[Short] =
    Array.tabulate(n) { j =>
      val lo = 65 + ((id + j) % 26).toInt
      val hi = 48 + ((id + j) % 10).toInt
      ((hi << 8) | lo).toShort
    }

  /** Video-only AVI with planted frame payloads: (id%5)+3 frames. */
  def withPlantedVideoColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val n = (id % 5).toInt + 3
      VideoCodec.encodeAvi(
        (0 until n).map(i => plantedFrameBytes(id, i)), 16, 12, 10)
    }
    df.withColumn("video", gen(col(idCol).cast("long")))
  }

  /** Muxed A/V AVI with planted payloads: (id%4)+2 frames, 80 planted
    * PCM samples per frame period. */
  def withPlantedAvColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val n = (id % 4).toInt + 2
      VideoCodec.encodeAviAv(
        (0 until n).map(i => plantedFrameBytes(id, i)),
        plantedSamples(id, n * 80), 16, 12, 10, 8000)
    }
    df.withColumn("av", gen(col(idCol).cast("long")))
  }

  private def md5Hex(md: java.security.MessageDigest): String =
    md.digest().map(b => f"$b%02x").mkString

  /** One row per `stride`-sampled frame with the frame payload's length
    * and md5 — the q214 hash-gate: idx1-seek stride selection AND exact
    * chunk extraction (even-padding stripped) both show in the hash. */
  def sampledFrameMd5s(df: DataFrame, bytesCol: String,
      stride: Int): DataFrame = {
    val sampler = udf { (b: Array[Byte]) =>
      VideoCodec.sampleFrameBytes(b, stride).map { case (idx, fb) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(fb)
        (idx, fb.length, md5Hex(md))
      }
    }
    df.withColumn("_f", explode(sampler(col(bytesCol))))
      .withColumn("frameIndex", col("_f._1"))
      .withColumn("frameLen", col("_f._2"))
      .withColumn("frameMd5", col("_f._3"))
      .drop("_f")
  }

  /** Whole-container demux digest: (n_frames, md5 of the concatenated
    * frame payloads in index order, n_samples, md5 of the little-endian
    * PCM byte stream) — the q217 hash-gate over BOTH streams of a muxed
    * payload. Null md5s when the respective stream is absent. */
  def demuxStreamMd5s(bytesCol: Column): Column =
    udf { (b: Array[Byte]) =>
      val frames = VideoCodec.sampleFrameBytes(b, 1)
      val vmd = java.security.MessageDigest.getInstance("MD5")
      frames.foreach { case (_, fb) => vmd.update(fb) }
      val vMd5 = if (frames.isEmpty) null else md5Hex(vmd)
      val (nSamples, aMd5) = VideoCodec.demuxAudio(b) match {
        case Some((_, samples)) =>
          val amd = java.security.MessageDigest.getInstance("MD5")
          val bytes = java.nio.ByteBuffer.allocate(samples.length * 2)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          samples.foreach(bytes.putShort)
          amd.update(bytes.array())
          (samples.length, md5Hex(amd))
        case None => (0, null)
      }
      (frames.size, vMd5, nSamples, aMd5)
    }.apply(bytesCol)

  /** Attach a REAL AVI/MJPEG payload where consecutive ids share a source
    * clip: seed = id/2, odd ids re-encode with a small black patch burned
    * into frame 0 — a near-duplicate video corpus for temporal-signature
    * dedup, the motion analogue of [[withNearDupImageColumn]]. */
  def withNearDupVideoColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val seed = id / 2
      val n = (seed % 4).toInt + 3
      val w = (seed % 9).toInt + 16
      val h = (seed % 5).toInt + 12
      val frames = (0 until n).map { i =>
        val r = ImageCodec.syntheticImage(seed * 1000L + i * 7L, w, h)
        if (id % 2 == 1 && i == 0) {
          val px = r.argb.clone()
          var y = 0
          while (y < 3) {
            var x = 0
            while (x < 3) { px(y * w + x) = 0xFF000000; x += 1 }
            y += 1
          }
          VideoCodec.encodeJpeg(ImageCodec.Raster(w, h, px))
        } else VideoCodec.encodeJpeg(r)
      }
      VideoCodec.encodeAvi(frames, w, h, 10)
    }
    df.withColumn("video", gen(col(idCol).cast("long")))
  }

  // ── planted-PIXEL / planted-TONE fixtures (round 11, q42/q43/q117/
  //    q188) — the decode-tier analogue of the q214/q217 container
  //    fixtures above. The codec paths stay fully REAL (ImageIO PNG
  //    encode→decode, byte-accurate WAV encode→parse, Hann+FFT
  //    fingerprints); only the CONTENT is planted so every feature the
  //    kernels extract has a closed form a SQL oracle recomputes
  //    independently:
  //      image pixel (x,y): r=(id+x+y)%256, g=(3id+2x+y)%256,
  //        b=(7id+x+3y)%256  ⇒ channel sums are double sums over
  //        generate_series, and float32 means replay as REAL division
  //      audio: a square wave (amp A=((id%9)+1)*1000, half-period
  //        HP=(id%7)+2) ⇒ rms=A/32768 exactly (Σv²=nA², integer-exact in
  //        double), zcr=⌊(n−1)/HP⌋/n, and amplitude scaling by exact
  //        powers of two preserves every fingerprint bit (IEEE scaling
  //        by 2^k commutes with rounding through the linear FFT) ──────

  /** Planted structured raster: every channel of pixel (x,y) is a
    * closed-form function of (id, x, y) — see section note. */
  def plantedRaster(id: Long, w: Int, h: Int): ImageCodec.Raster = {
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id + x + y) % 256).toInt
        val g = ((3 * id + 2 * x + y) % 256).toInt
        val b = ((7 * id + x + 3 * y) % 256).toInt
        px(y * w + x) = 0xFF000000 | (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    ImageCodec.Raster(w, h, px)
  }

  /** REAL PNG payload with planted pixels: dims (id%13)+8 × (id%7)+6
    * like [[withGeneratedImageColumn]], channel values SQL-derivable. */
  def withPlantedImageColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val w = (id % 13).toInt + 8
      val h = (id % 7).toInt + 6
      ImageCodec.encodePng(plantedRaster(id, w, h))
    }
    df.withColumn("image", gen(col(idCol).cast("long")))
      .withColumn("imageMeta", struct(
        lit("image/png").as("format"),
        ((col(idCol).cast("long") % 13) + 8).cast("int").as("width"),
        ((col(idCol).cast("long") % 7) + 6).cast("int").as("height"),
        lit(3).as("channels")))
  }

  /** PNG-stream payload of `n` planted 8×6 frames; frame f plants with
    * effective id `id + 97·(f+1)` so frames differ but stay derivable. */
  def plantedPngStream(id: Long, n: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < n) {
      bos.write(ImageCodec.encodePng(plantedRaster(id + 97L * (f + 1), 8, 6)))
      f += 1
    }
    bos.toByteArray
  }

  /** Planted square-wave PCM: +A for the first HP samples of each
    * period, −A for the next HP (A and n even ⇒ exact under ÷2). */
  def plantedSquareSamples(id: Long, n: Int): Array[Short] = {
    val a = ((id % 9) + 1).toInt * 1000
    val hp = (id % 7).toInt + 2
    Array.tabulate(n)(i => (if ((i / hp) % 2 == 0) a else -a).toShort)
  }

  /** REAL WAV payload with a planted square wave; n=((id%11)+4)·400
    * samples at 8 kHz like [[withGeneratedAudioColumn]]. */
  def withPlantedToneColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val n = ((id % 11) + 4).toInt * 400
      AudioCodec.encodeWav(plantedSquareSamples(id, n), 8000)
    }
    df.withColumn("audio", gen(col(idCol).cast("long")))
      .withColumn("audioMeta", struct(
        lit("audio/wav").as("format"),
        lit(8000).as("sampleRate"),
        (((col(idCol).cast("long") % 11) + 4) * 400).cast("int")
          .as("nSamples")))
  }

  /** FREQUENCY-HOPPING square wave for the fingerprint fixture: a
    * stationary tone is hop-periodic, so the time-differential
    * Haitsma–Kalker words degenerate to all-zero (every clip "matches"
    * every clip). Hopping the half-period per 512-sample block —
    * hp(block) = ((block+id) % 6) + 2, fundamentals 571–2000 Hz, all
    * inside the 300–2000 Hz band ladder — moves real spectral mass
    * between bands every frame (measured: non-twin BER ≥ 0.44, twin
    * BER ≡ 0 across the whole q188 domain). Amplitude is a constant
    * even value ⇒ exact under ÷2 and safe under ×2 (2·3600 < 32768). */
  def plantedHoppingSamples(id: Long, n: Int): Array[Short] = {
    val a0 = ((id % 9) + 1).toInt * 400
    Array.tabulate(n) { i =>
      val hp = (((i / 512) + id) % 6).toInt + 2
      (if (((i % 512) / hp) % 2 == 0) a0 else -a0).toShort
    }
  }

  /** Twin-pair tone corpus for fingerprint robustness/discriminability:
    * ids 2k and 2k+1 share the base-k hopping wave, the odd twin at
    * exactly 2× amplitude (power-of-two scaling through the linear FFT
    * preserves every band-energy-difference sign ⇒ identical fingerprint
    * bits); different bases are different hop sequences (BER ≈ 0.5).
    * n = ((base%7)+4)·1024 keeps ≥ 6 words per clip so BER is smooth. */
  def withPlantedTonePairColumn(df: DataFrame, idCol: String): DataFrame = {
    val gen = udf { (id: Long) =>
      val base = id / 2
      val n = ((base % 7) + 4).toInt * 1024
      val s = plantedHoppingSamples(base, n)
      val out = if (id % 2 == 1) s.map(v => (v * 2).toShort) else s
      AudioCodec.encodeWav(out, 8000)
    }
    df.withColumn("audio", gen(col(idCol).cast("long")))
  }

  /** PNG-stream container: frames stored back-to-back as whole PNG files —
    * the synthetic stand-in for a video bitstream (the JDK ships no video
    * codec). Frame boundaries are found by scanning for the 8-byte PNG
    * signature, and each frame decodes REALLY via [[ImageCodec]]. */
  val PngSignature: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A.toByte, '\n')

  def splitPngStream(bytes: Array[Byte]): Seq[Array[Byte]] = {
    if (bytes == null || bytes.length < PngSignature.length) return Seq.empty
    def isSigAt(i: Int): Boolean = {
      var j = 0
      while (j < PngSignature.length) {
        if (bytes(i + j) != PngSignature(j)) return false
        j += 1
      }
      true
    }
    val starts = (0 to bytes.length - PngSignature.length)
      .filter(isSigAt).toIndexedSeq
    starts.zipAll(starts.drop(1), -1, bytes.length).collect {
      case (s, e) if s >= 0 => java.util.Arrays.copyOfRange(bytes, s, e)
    }
  }

  /** Build a PNG-stream payload of `n` deterministic frames for a seed. */
  def syntheticPngStream(seed: Long, n: Int, w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < n) {
      bos.write(ImageCodec.encodePng(
        ImageCodec.syntheticImage(seed * 1000L + i, w, h)))
      i += 1
    }
    bos.toByteArray
  }

  /** REAL frame sampling over PNG-stream payloads: container split → every
    * `stride`-th frame kept → one row per frame with genuinely decoded
    * per-frame features. Map-only explode; a keyframe-seeking video codec
    * drops into `splitPngStream`'s place. */
  def samplePngFrames(df: DataFrame, bytesCol: String,
      stride: Int): DataFrame = {
    val sampler = udf { (b: Array[Byte]) =>
      splitPngStream(b).zipWithIndex
        .filter(_._2 % stride == 0)
        .flatMap { case (frame, idx) =>
          ImageCodec.decode(frame).map(r =>
            (idx, r.width, r.height, ImageCodec.features(r)))
        }
    }
    df.withColumn("_frames", sampler(col(bytesCol)))
      .select(col("*"), explode(col("_frames")).as("frame"))
      .withColumn("frameIndex", col("frame._1"))
      .withColumn("frameWidth", col("frame._2"))
      .withColumn("frameHeight", col("frame._3"))
      .withColumn("frameFeatures", col("frame._4"))
      .drop("_frames", "frame")
  }
}
