package graft.operators

import graft.operators.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (BASELINE.json north star): image/audio/
  * video travel as opaque `binary` columns plus typed metadata; decode /
  * feature-extraction runs batched per partition at a single well-marked
  * seam.
  *
  * The Spark-side contract is real and tested — schema, batch shape,
  * partitioning, determinism — and so is the decode seam for the
  * formats the JVM can decode natively: `RealDecoder` runs genuine
  * `javax.imageio` (PNG et al.) and `javax.sound.sampled` (WAV PCM)
  * codecs, value-gated end to end by multimodal_decode's oracle over
  * synthesized PNGs. Only video, which has no pure-JVM codec, remains
  * an explicit plug point (libvips/ffmpeg via JNI, or a Python worker
  * over Arrow batches — the Scala analog of a Pandas `mapInPandas`
  * UDF).
  *
  * Scale notes: assets are large blobs — `spark.sql.files.
  * maxPartitionBytes` bounds scan partitions; decode is CPU-bound, so
  * `repartition(n)` before `featurize` controls decode parallelism
  * independently of scan layout; features (small fixed-width vectors)
  * are what shuffles downstream, never the bytes.
  */
object Multimodal {

  // Fixture + pipeline knobs, shared with the generated DuckDB oracles
  // (packs/TextOps interpolates these — the Dedup.Ngram* pattern): a
  // fixture tweak propagates to the SQL through the one constant
  // instead of silently breaking the gate via a stale literal.
  val FixtureWidth = 640
  val FixtureHeight = 480
  val FixtureSampleRate = 16000
  val MsPerChar = 10L
  val FrameSamples = 4
  val ResizeMaxEdge = 256

  final case class MediaMeta(width: Int, height: Int, sampleRate: Int,
      durationMs: Long)

  final case class MediaAsset(asset_id: Long, kind: String,
      bytes: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(asset_id: Long, kind: String,
      n_bytes: Long, fingerprint: Long, embedding: Array[Float])

  /** Decoder seam — one batched call per asset; implementations must be
    * Serializable (shipped to executors). */
  trait MediaDecoder extends Serializable {
    def decode(asset: MediaAsset): MediaFeatures
  }

  /** Deterministic stand-in: features derived from a rolling hash of the
    * bytes. Same plumbing, batch shape and schema as a real codec.
    *
    * The hash is the mod-1e9+7 fold over unsigned bytes (first byte
    * seeds the accumulator — list_reduce semantics), the same shape as
    * the doc_fingerprint oracle, so multimodal_features gets a full
    * cross-engine DuckDB oracle instead of a rows-only check. */
  object FakeDecoder extends MediaDecoder {
    override def decode(a: MediaAsset): MediaFeatures = {
      val n = a.bytes.length
      var h = 0L
      if (n > 0) {
        h = (a.bytes(0) & 0xff).toLong
        var i = 1
        while (i < n) { h = (31 * h + (a.bytes(i) & 0xff)) % 1000000007L; i += 1 }
      }
      val emb = Array.tabulate(8) { d =>
        // spread the hash into 8 deterministic floats in [-1, 1]; the
        // (d+1) factor keeps dimension 0 mixed too (h < 2^30 after the
        // mod, so xor-ing with 0 would pin dim 0 near -1 for every asset)
        (((h ^ ((d + 1) * 0x9e3779b97f4a7c15L)) >>> 11).toDouble /
          (1L << 53).toDouble * 2 - 1).toFloat
      }
      MediaFeatures(a.asset_id, a.kind, a.bytes.length.toLong, h, emb)
    }
  }

  /** Mod-1e9+7 rolling fold, first value seeding the accumulator —
    * list_reduce semantics, the same hash family as [[FakeDecoder]] and
    * doc_fingerprint, so DuckDB can replay it exactly. */
  private[operators] def rollingFold(it: Iterator[Int]): Long = {
    if (!it.hasNext) return 0L
    var h = it.next().toLong
    while (it.hasNext) h = (31 * h + it.next()) % 1000000007L
    h
  }

  /** Real pure-JVM codecs: PNG (and any `javax.imageio`-registered
    * image format) and WAV PCM (`javax.sound.sampled`). Video has no
    * pure-JVM codec — that one branch stays an explicit plug point for
    * an ffmpeg/JNI worker and throws rather than faking.
    *
    * fingerprint = rolling fold over DECODED content (row-major
    * (r,g,b) pixel channels for images; 16-bit PCM samples for audio)
    * — it matches a precomputed expectation only if the decode
    * genuinely inverted the encode, which is what multimodal_decode's
    * DuckDB oracle checks. */
  /** JVM-cached `javax.sound.sampled.spi` providers (r17). Every
    * `AudioSystem` convenience entry point routes EVERY call through
    * `JDK13Services.getProviders` — a `synchronized` static that
    * re-runs the ServiceLoader scan per call — so concurrent decode
    * tasks serialize on one JVM-global lock: the fanned-out 32-task
    * WAV stage measured 3× slower than the same work single-threaded
    * (multimodal_audio_hash 0.49 → 1.42 s warm). The SPI classes are
    * public API and the JDK's provider instances are stateless;
    * resolving them ONCE and invoking the same instances directly is
    * semantically identical (the identical codec classes parse the
    * identical bytes) with zero per-call registry work or locking. */
  private[operators] object WavIo {
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter, FormatConversionProvider}
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioFileFormat, UnsupportedAudioFileException}
    import scala.jdk.CollectionConverters._
    private val readers: List[AudioFileReader] =
      java.util.ServiceLoader.load(classOf[AudioFileReader]).asScala.toList
    private val writers: List[AudioFileWriter] =
      java.util.ServiceLoader.load(classOf[AudioFileWriter]).asScala.toList
    private val converters: List[FormatConversionProvider] =
      java.util.ServiceLoader.load(classOf[FormatConversionProvider]).asScala.toList

    /** Last reader that successfully decoded a stream — tried FIRST on
      * the next call. The JDK's readers are keyed on disjoint container
      * magic / format tags (AIFF, AU, MIDI, RIFF-PCM, RIFF-float,
      * RIFF-extensible), so every stream is accepted by exactly one
      * reader and the probe ORDER cannot change the result — but it
      * does change the cost: probing the registry order pays 3-5
      * thrown `UnsupportedAudioFileException`s per WAV (measured 47 µs
      * vs 8 µs per decode, and the MIDI reader's probe serializes
      * concurrent tasks), while a homogeneous corpus hits the cached
      * reader on the first try every time. */
    private val lastOk =
      new java.util.concurrent.atomic.AtomicReference[AudioFileReader](null)

    /** `AudioSystem.getAudioInputStream(stream)` semantics: the unique
      * provider that recognizes the container wins (format-specific
      * readers throw `UnsupportedAudioFileException` on foreign bytes,
      * so the winner is determined by the bytes, not the order). */
    def read(in: java.io.InputStream): AudioInputStream = {
      val cached = lastOk.get()
      if (cached != null) {
        try return cached.getAudioInputStream(in)
        catch { case _: UnsupportedAudioFileException => () }
      }
      val it = readers.iterator
      while (it.hasNext) {
        val r = it.next()
        if (r ne cached) {
          try {
            val s = r.getAudioInputStream(in)
            lastOk.set(r)
            return s
          } catch { case _: UnsupportedAudioFileException => () }
        }
      }
      throw new UnsupportedAudioFileException(
        "Stream of unsupported format")
    }

    /** `AudioSystem.getAudioInputStream(target, src)` semantics. */
    def convert(target: AudioFormat, src: AudioInputStream): AudioInputStream = {
      val it = converters.iterator
      while (it.hasNext) {
        val c = it.next()
        if (c.isConversionSupported(target, src.getFormat))
          return c.getAudioInputStream(target, src)
      }
      throw new IllegalArgumentException(
        s"Unsupported conversion: $target from ${src.getFormat}")
    }

    /** `AudioSystem.write(src, fileType, out)` semantics. */
    def write(src: AudioInputStream, fileType: AudioFileFormat.Type,
        out: java.io.OutputStream): Int = {
      val it = writers.iterator
      while (it.hasNext) {
        val w = it.next()
        if (w.isFileTypeSupported(fileType, src)) return w.write(src, fileType, out)
      }
      throw new IllegalArgumentException(
        s"could not write audio file: file type not supported: $fileType")
    }
  }

  object RealDecoder extends MediaDecoder {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors

    private[operators] def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "bytes are not a decodable image")
      img
    }

    /** Row-major (r,g,b) channel iterator of a decoded image. */
    private[operators] def channels(img: java.awt.image.BufferedImage): Iterator[Int] =
      for {
        y <- Iterator.range(0, img.getHeight)
        x <- Iterator.range(0, img.getWidth)
        rgb = img.getRGB(x, y)
        c <- Iterator((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      } yield c

    /** Signed 16-bit little-endian mono PCM samples of a decoded WAV.
      * The source stream is canonicalized to that format first — an
      * 8/24-bit, big-endian, or unsigned WAV would otherwise decode
      * without error into silently wrong samples. The JDK converts
      * sample size/sign/endianness; what it cannot convert (e.g. stereo
      * downmix) fails loudly instead of fingerprinting garbage. */
    private[operators] def pcmSamples(bytes: Array[Byte]): Array[Int] = {
      // WavIo, not AudioSystem: identical provider instances, minus the
      // synchronized per-call registry scan that serializes fanned-out
      // decode tasks (see WavIo's scaladoc)
      val src = WavIo.read(new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = src.getFormat
        val target = new javax.sound.sampled.AudioFormat(
          fmt.getSampleRate, 16, 1, true, false) // 16-bit signed LE mono
        val in =
          if (fmt.matches(target)) src
          else try WavIo.convert(target, src)
          catch {
            case e: IllegalArgumentException =>
              throw new UnsupportedOperationException(
                s"cannot canonicalize WAV ($fmt) to 16-bit LE mono — " +
                  "downmix/resample before ingest", e)
          }
        try {
          val raw = in.readAllBytes()
          Array.tabulate(raw.length / 2) { i =>
            ((raw(2 * i) & 0xff) | (raw(2 * i + 1).toInt << 8))
          }
        } finally in.close()
      } finally src.close()
    }

    override def decode(a: MediaAsset): MediaFeatures = a.kind match {
      case "image" =>
        val img = readImage(a.bytes)
        val (w, h) = (img.getWidth, img.getHeight)
        val fp = rollingFold(channels(img))
        // mean r/g/b, overall brightness, and 4 quadrant brightnesses
        val sums = new Array[Long](3)
        val quad = new Array[Long](4)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
            sums(0) += r; sums(1) += g; sums(2) += b
            quad((if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)) += r + g + b
            x += 1
          }
          y += 1
        }
        val n = (w * h).toDouble
        val emb = Array(
          (sums(0) / n / 255.0).toFloat, (sums(1) / n / 255.0).toFloat,
          (sums(2) / n / 255.0).toFloat,
          ((sums(0) + sums(1) + sums(2)) / (3 * n) / 255.0).toFloat,
          (quad(0) / (3 * n) / 255.0 * 4).toFloat, (quad(1) / (3 * n) / 255.0 * 4).toFloat,
          (quad(2) / (3 * n) / 255.0 * 4).toFloat, (quad(3) / (3 * n) / 255.0 * 4).toFloat)
        MediaFeatures(a.asset_id, a.kind, a.bytes.length.toLong, fp, emb)
      case "audio" =>
        val samples = pcmSamples(a.bytes)
        val fp = rollingFold(samples.iterator.map(_ & 0xffff))
        // 8-chunk mean amplitude profile
        val emb = Array.tabulate(8) { c =>
          val lo = samples.length.toLong * c / 8
          val hi = samples.length.toLong * (c + 1) / 8
          if (hi == lo) 0f
          else ((lo until hi).map(i => math.abs(samples(i.toInt).toLong)).sum
            .toDouble / (hi - lo) / 32768.0).toFloat
        }
        MediaFeatures(a.asset_id, a.kind, a.bytes.length.toLong, fp, emb)
      case "video" =>
        // animated GIF is the one video-like container the JVM can
        // decode natively; anything else (mp4/webm/...) still needs the
        // ffmpeg/JNI worker at this seam and fails loudly, never fakes
        val frames =
          try gifFrames(a.bytes)
          catch {
            case e: Exception => throw new UnsupportedOperationException(
              s"video asset ${a.asset_id} is not an animated GIF — " +
                "plug an ffmpeg/JNI decoder at this seam for real containers", e)
          }
        val fp = rollingFold(frames.iterator.flatMap(channels))
        // embedding: mean brightness over 8 even temporal chunks
        val bright = frames.map { f =>
          var s = 0L
          var y = 0
          while (y < f.getHeight) {
            var x = 0
            while (x < f.getWidth) {
              val rgb = f.getRGB(x, y)
              s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          s.toDouble / (3.0 * f.getWidth * f.getHeight) / 255.0
        }
        val emb = Array.tabulate(8) { c =>
          val lo = bright.length * c / 8
          val hi = bright.length * (c + 1) / 8
          if (hi == lo) 0f else (bright.slice(lo, hi).sum / (hi - lo)).toFloat
        }
        MediaFeatures(a.asset_id, a.kind, a.bytes.length.toLong, fp, emb)
      case other =>
        throw new UnsupportedOperationException(
          s"no pure-JVM codec for kind '$other' (asset ${a.asset_id}); " +
            "plug an ffmpeg/JNI decoder at this seam")
    }

    /** All frames of an animated GIF, decoded raw. ImageIO's reader
      * returns each frame UNCOMPOSED — an optimized real-world GIF
      * stores frames 2..n as delta sub-rectangles with disposal, which
      * would fingerprint garbage silently. This decoder therefore
      * REQUIRES full-frame GIFs (every frame the logical screen size,
      * origin 0,0) and fails loudly otherwise — same
      * fail-don't-garble contract as the WAV canonicalization; frame
      * composition is part of the documented ffmpeg/JNI seam. */
    private[operators] def gifFrames(bytes: Array[Byte]): IndexedSeq[java.awt.image.BufferedImage] = {
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      require(readers.hasNext, "no GIF reader registered")
      val reader = readers.next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        require(n > 0, "bytes are not a decodable GIF")
        val frames = (0 until n).map { f =>
          val img = reader.read(f)
          val meta = reader.getImageMetadata(f)
            .getAsTree("javax_imageio_gif_image_1.0")
            .asInstanceOf[org.w3c.dom.Element]
          val desc = meta.getElementsByTagName("ImageDescriptor").item(0)
            .asInstanceOf[org.w3c.dom.Element]
          require(desc.getAttribute("imageLeftPosition") == "0" &&
            desc.getAttribute("imageTopPosition") == "0",
            s"frame $f is a partial delta sub-rectangle — optimized " +
              "GIFs need composed decode (ffmpeg/JNI seam)")
          // A full-frame frame can still hide behind transparency: a
          // transparent pixel shows whatever composition left beneath
          // it (the previous frame per its disposal, or the background
          // for frame 0), so the uncomposed decode would fingerprint
          // pixels no viewer ever sees — the exact silent-garble this
          // guard exists to prevent. Opacity is required of EVERY
          // frame (frame 0 composes over the background). With every
          // frame full-frame, full-size, and opaque, the new frame
          // fully covers the canvas, which makes all disposal methods
          // equivalent — so disposal needs no check at all.
          val gceNodes = meta.getElementsByTagName("GraphicControlExtension")
          if (gceNodes.getLength > 0) {
            val gce = gceNodes.item(0).asInstanceOf[org.w3c.dom.Element]
            require(!gce.getAttribute("transparentColorFlag")
                .equalsIgnoreCase("TRUE"),
              s"frame $f uses transparency composition — optimized " +
                "GIFs need composed decode (ffmpeg/JNI seam)")
          }
          img
        }
        require(frames.forall(f => f.getWidth == frames.head.getWidth &&
          f.getHeight == frames.head.getHeight),
          "frames vary in size — optimized GIFs need composed decode " +
            "(ffmpeg/JNI seam)")
        frames
      } finally { reader.dispose(); iis.close() }
    }
  }

  /** Batched per-partition feature extraction over the decoder seam. */
  def featurize(spark: SparkSession, assets: Dataset[MediaAsset],
      decoder: MediaDecoder = FakeDecoder): Dataset[MediaFeatures] = {
    import spark.implicits._
    assets.mapPartitions(_.map(decoder.decode))
  }

  /** Frame-sample plan for video assets: evenly spaced sample
    * timestamps (ms) across the clip — the Column-level plumbing a real
    * frame extractor consumes (decode happens at the MediaDecoder seam;
    * this keeps WHICH frames to pull declarative and pushdown-friendly). */
  def frameOffsetsMs(durationMs: org.apache.spark.sql.Column,
      frames: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(frames - 1)),
      i => (i * durationMs / frames).cast("long"))

  /** Target-size metadata for a resize stage: preserves aspect ratio
    * against a max edge; pure metadata math, the decoder does the pixels. */
  def resizeMeta(width: org.apache.spark.sql.Column,
      height: org.apache.spark.sql.Column, maxEdge: Int): org.apache.spark.sql.Column = {
    val scale = least(lit(1.0),
      lit(maxEdge.toDouble) / greatest(width, height).cast("double"))
    struct(
      round(width * scale).cast("int").as("target_width"),
      round(height * scale).cast("int").as("target_height"))
  }

  // Synthesized-PNG pixel formula, shared with the multimodal_decode
  // DuckDB oracle (TextOps interpolates these constants): pixel (x,y)
  // of asset `id` has channels
  //   r = (id*31 + x*7  + y*13) % 256
  //   g = (id*17 + x*3  + y*5 ) % 256
  //   b = (id*29 + x*11 + y*3 ) % 256
  // with width = 4 + id % 13, height = 3 + id % 7 — pure integer
  // arithmetic both engines can compute, so the decoded-pixel hash
  // matches ONLY if a genuine PNG decode inverted the encode.
  val PngWBase = 4; val PngWMod = 13
  val PngHBase = 3; val PngHMod = 7
  val PngRMul = (31L, 7L, 13L)
  val PngGMul = (17L, 3L, 5L)
  val PngBMul = (29L, 11L, 3L)

  final case class DecodedImage(asset_id: Long, width: Int, height: Int,
      pixel_hash: Long)

  /** Deterministic synthesized PNG assets (the encode side of the
    * decode gate): real `ImageIO.write` PNG bytes per document id,
    * pixels from the shared formula above. Runs on executors — the
    * encode is part of the distributed plumbing under test. */
  def syntheticPngAssets(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    // Codec work (PNG encode here, the decode in every consumer's
    // mapPartitions seam) is CPU-bound per asset; a small doc table
    // scans as one partition and would serialize it on one core —
    // fan out to cluster parallelism first (scale-guarded, see ScalePolicy).
    ScalePolicy.fanOut(docs.select(col("doc_id")), col("doc_id"))
      .as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (PngWBase + id % PngWMod).toInt
        val h = (PngHBase + id % PngHMod).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = ((id * PngRMul._1 + x * PngRMul._2 + y * PngRMul._3) % 256).toInt
            val g = ((id * PngGMul._1 + x * PngGMul._2 + y * PngGMul._3) % 256).toInt
            val b = ((id * PngBMul._1 + x * PngBMul._2 + y * PngBMul._3) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaAsset(id, "image", bos.toByteArray,
          MediaMeta(w, h, 0, 0L))
      }
    }
  }

  /** Fixed output geometry for [[resizeImages]] — the bounded shape a
    * downstream feature extractor wants regardless of source size. */
  val ResizeOutW = 16; val ResizeOutH = 16

  final case class ResizedImage(asset_id: Long, src_w: Int, src_h: Int,
      out_w: Int, out_h: Int, pixel_hash: Long)

  /** REAL nearest-neighbor resize over genuinely decoded pixels — the
    * pixel half of the resize stage [[resizeMeta]] only plans: output
    * pixel (x, y) samples source (x·srcW/outW, y·srcH/outH) — pure
    * integer floors, the standard nearest-neighbor map, exactly
    * reproducible cross-engine (bilinear would put an IEEE blend per
    * pixel between the engines). The gate fingerprint is
    * [[rollingFold]] over the RESIZED channel stream — the
    * [[decodeImages]] gate shape at the new geometry, so the oracle
    * hash-matches only if the real codec decode AND the sampling map
    * both invert exactly; with out dims = source dims the map is the
    * identity and the fold equals [[decodeImages]]' (spec-pinned).
    *
    * Scale shape: one mapPartitions at the decoder seam; output is
    * 3·outW·outH ints per asset regardless of source size, so the
    * stage BOUNDS per-row cost downstream — exactly why real
    * pipelines resize before featurizing. */
  def resizeImages(spark: SparkSession, assets: Dataset[MediaAsset],
      outW: Int = ResizeOutW, outH: Int = ResizeOutH): Dataset[ResizedImage] = {
    import spark.implicits._
    require(outW >= 1 && outH >= 1, s"output dims must be >= 1: $outW x $outH")
    assets.mapPartitions(_.map { a =>
      val img = RealDecoder.readImage(a.bytes)
      val w = img.getWidth; val h = img.getHeight
      val it = new Iterator[Int] {
        private var i = 0 // 3 channels per output pixel, row-major
        private val n = outW * outH * 3
        override def hasNext: Boolean = i < n
        override def next(): Int = {
          val p = i / 3; val c = i % 3
          val rgb = img.getRGB((p % outW) * w / outW, (p / outW) * h / outH)
          i += 1
          (rgb >> (16 - 8 * c)) & 0xff
        }
      }
      ResizedImage(a.asset_id, w, h, outW, outH, rollingFold(it))
    })
  }

  final case class ImageHash(asset_id: Long, width: Int, height: Int,
      hash_hi: Long, hash_lo: Long)

  /** Perceptual average-hash (aHash) fingerprints over GENUINELY
    * DECODED pixels — the image-dedup primitive (the classic
    * pHash-family member whose arithmetic is exactly reproducible):
    * pool the decoded image onto an 8×8 grid (cell of pixel (x,y) is
    * (y·8/h, x·8/w) — pure integer floors), bit = cell's mean channel
    * mass above the image mean. The mean comparison is CROSS-
    * MULTIPLIED (cellSum·totalCnt > totalSum·cellCnt) so no float
    * average exists anywhere — the oracle recomputes the identical
    * integers from the synthesis formula, and the gate passes only if
    * the real codec decode inverted the encode. 64 bits split into
    * two non-negative 32-bit halves (hash_hi = cells 32-63) so both
    * engines carry them as exact BIGINTs.
    *
    * Scale shape: one mapPartitions over the asset bytes (the decoder
    * seam — same honest boundary as [[decodeImages]]); everything
    * downstream of the hash is ordinary columnar work. */
  /** The shared 8×8 integer-pooling aHash core over any decoded frame
    * — (hash_hi, hash_lo) 32-bit halves; see [[imageAHashes]]. */
  private[operators] def aHashOf(img: java.awt.image.BufferedImage): (Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val cellSum = new Array[Long](64)
    val cellCnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        val c = (y * 8 / h) * 8 + (x * 8 / w)
        cellSum(c) += luma; cellCnt(c) += 1
        x += 1
      }
      y += 1
    }
    val totalSum = cellSum.sum
    val totalCnt = w.toLong * h
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < 64) {
      if (cellSum(i) * totalCnt > totalSum * cellCnt(i)) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo)
  }

  def imageAHashes(spark: SparkSession, assets: Dataset[MediaAsset]): Dataset[ImageHash] = {
    import spark.implicits._
    assets.mapPartitions(_.map { a =>
      val img = RealDecoder.readImage(a.bytes)
      val (hi, lo) = aHashOf(img)
      ImageHash(a.asset_id, img.getWidth, img.getHeight, hi, lo)
    })
  }

  final case class VideoFrameHash(asset_id: Long, frame_idx: Int,
      sampled_frame: Int, hash_hi: Long, hash_lo: Long)

  /** Per-sampled-frame aHash of the video assets through the REAL
    * multi-frame GIF decode — [[decodeVideoFrames]]' frame-sampling
    * plan with the [[aHashOf]] core replacing the rolling fold: the
    * temporal fingerprint video dedup matches on (near-dup videos
    * agree frame-hash by frame-hash). One mapPartitions at the decoder
    * seam; everything downstream is columnar. */
  def videoFrameAHashes(spark: SparkSession, assets: Dataset[MediaAsset],
      samples: Int = FrameSamples): Dataset[VideoFrameHash] = {
    import spark.implicits._
    assets.mapPartitions(_.flatMap { a =>
      val frames = RealDecoder.gifFrames(a.bytes)
      val n = frames.length
      val durationMs = n * GifMsPerFrame
      (0 until samples).map { i =>
        val offset = i * durationMs / samples
        val sf = math.min(n - 1, (offset / GifMsPerFrame).toInt)
        val (hi, lo) = aHashOf(frames(sf))
        VideoFrameHash(a.asset_id, i, sf, hi, lo)
      }
    })
  }

  /** Near-duplicate image pairs by hamming distance over the aHash —
    * the multimodal twin of the simhash text path, same machinery:
    * 4×16-bit bands, bucket join, partial-agg + broadcast-anti bucket
    * cap, exact popcount verification. With maxDist ≤ 3 and 4 bands
    * the banding is EXACT by pigeonhole (≤ 3 differing bits cannot
    * touch all 4 bands), so under the cap the pair set equals the
    * brute-force scan the oracle runs. */
  def imageHammingPairs(hashesIn: DataFrame, maxDist: Int = AHashMaxDist,
      maxBucketSize: Int = AHashMaxBucketSize): DataFrame = {
    // The hash table is consumed FIVE times below (bucket count, both
    // capped candidate sides, both verification sides) and its lineage
    // is the decode seam — without this checkpoint every consumer
    // re-synthesizes and re-DECODES the media bytes (measured: the WAV
    // path ran its 2.7 s decode stage four times concurrently inside
    // one query). The materialized rows are id + two hash longs + dims
    // — the narrow proxy the decode exists to produce; at corpus scale
    // persisting it once is exactly the decide-on-small-rows shape
    // (decode heavy bytes once, shuffle only fingerprints).
    val hashes = hashesIn.seamCheckpoint(false)
    val bands = hashes.select(col("asset_id"), col("hash_hi"), col("hash_lo"),
      explode(array((0 until 4).map { b =>
        val src = if (b < 2) col("hash_lo") else col("hash_hi")
        struct(lit(b).as("band"),
          shiftrightunsigned(src, 16 * (b % 2)).bitwiseAND(lit(0xffffL))
            .as("bv"))
      }: _*)).as("bb"))
      .select(col("asset_id"), col("hash_hi"), col("hash_lo"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val over = bands.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketSize)
      .select(col("band"), col("bv"))
    val capped = bands.join(broadcast(over), Seq("band", "bv"), "left_anti")
    val cand = capped.select(col("band"), col("bv"), col("asset_id").as("asset_a"))
      .join(capped.select(col("band"), col("bv"), col("asset_id").as("asset_b")),
        Seq("band", "bv"))
      .filter(col("asset_a") < col("asset_b"))
      .select(col("asset_a"), col("asset_b")).distinct()
    val a = hashes.select(col("asset_id").as("asset_a"),
      col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a"))
    val b = hashes.select(col("asset_id").as("asset_b"),
      col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b"))
    cand.join(a, "asset_a").join(b, "asset_b")
      .select(col("asset_a"), col("asset_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long")
          .as("dist"))
      .filter(col("dist") <= maxDist)
  }

  val AHashMaxDist = 3
  val AHashMaxBucketSize = 1000

  /** (asset_id, hash_hi, hash_lo, band, bv) banded rows of a hash set
    * — [[imageHammingPairs]]' banding step, shared with
    * [[MediaHashStore.ingest]] so store rows and inline rows cannot
    * drift. The hash rides in every band row (the [[SimhashStore]]
    * trick), so a probe's popcount verification needs no second
    * corpus join. */
  def hashBandRows(hashes: DataFrame): DataFrame =
    hashes.select(col("asset_id"), col("hash_hi"), col("hash_lo"),
      explode(array((0 until 4).map { b =>
        val src = if (b < 2) col("hash_lo") else col("hash_hi")
        struct(lit(b).as("band"),
          shiftrightunsigned(src, 16 * (b % 2)).bitwiseAND(lit(0xffffL))
            .as("bv"))
      }: _*)).as("bb"))
      .select(col("asset_id"), col("hash_hi"), col("hash_lo"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))

  /** Incremental hamming near-dup pairs: a BATCH of hashes against a
    * pre-banded seen corpus (the [[MediaHashStore]] table) — emits
    * every pair TOUCHING the batch ((seen, new) and batch-internal,
    * canonicalized asset_a < asset_b; (seen, seen) never re-pairs).
    * The bucket cap counts over the FULL view (seen ∪ batch) — the
    * same as running the self-dedup over the union, which is what the
    * restriction oracle checks. Seen-side rows carry their hashes, so
    * the verification join touches only the candidate ids. */
  def incrementalHammingPairs(batchHashes: DataFrame, seenBands: DataFrame,
      maxDist: Int = AHashMaxDist,
      maxBucketSize: Int = AHashMaxBucketSize): DataFrame =
    incrementalHammingPairsChk(batchHashes.seamCheckpoint(false),
      seenBands, maxDist, maxBucketSize)

  /** [[incrementalHammingPairs]] over ALREADY-CHECKPOINTED batch
    * hashes — the probe fans the batch side out several ways (bands,
    * full-view union, verification table), and without the checkpoint
    * each consumer re-runs the decode+hash mapPartitions (measured: 7
    * decode seams in one probe plan). Callers that also need the
    * batch ids (the exclude list) checkpoint once and share. */
  private[operators] def incrementalHammingPairsChk(batchHashes: DataFrame,
      seenBands: DataFrame, maxDist: Int,
      maxBucketSize: Int): DataFrame = {
    val cols = Seq("asset_id", "hash_hi", "hash_lo", "band", "bv")
    val batchBands = hashBandRows(batchHashes)
    val full = seenBands.select(cols.map(col): _*)
      .union(batchBands.select(cols.map(col): _*))
    val over = full.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketSize)
      .select(col("band"), col("bv"))
    val b = batchBands.join(broadcast(over), Seq("band", "bv"), "left_anti")
    val f = full.join(broadcast(over), Seq("band", "bv"), "left_anti")
    val cand = b.select(col("band"), col("bv"), col("asset_id").as("qa"))
      .join(f.select(col("band"), col("bv"), col("asset_id").as("ca")),
        Seq("band", "bv"))
      .filter(col("qa") =!= col("ca"))
      .select(least(col("qa"), col("ca")).as("asset_a"),
        greatest(col("qa"), col("ca")).as("asset_b"))
      .distinct()
    val ht = full.select(col("asset_id"), col("hash_hi"), col("hash_lo"))
      .dropDuplicates("asset_id")
    cand
      .join(ht.select(col("asset_id").as("asset_a"),
        col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a")), "asset_a")
      .join(ht.select(col("asset_id").as("asset_b"),
        col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b")), "asset_b")
      .select(col("asset_a"), col("asset_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long")
          .as("dist"))
      .filter(col("dist") <= maxDist)
  }

  // Synthesized-WAV formula, shared with the multimodal_audio_* DuckDB
  // oracles: asset `id` is n = 200 + id % 57 mono 16-bit LE samples at
  // 16 kHz with sample(i) = (id*31 + i²·(7 + id % 11)) % 65536 − 32768.
  // The QUADRATIC phase wraps the 16-bit range many times within the
  // clip at an id-dependent rate, so each asset gets a distinct energy
  // envelope — a linear ramp never wraps inside 256 samples, every
  // |sample| profile is the same monotone triangle, and the hamming
  // query degenerates to the full cross product.
  val AudNBase = 200; val AudNMod = 57
  val AudMul = (31L, 7L) // id multiplier, slope base
  val AudSlopeMod = 11L
  val AudSampleRate = 16000

  /** Deterministic synthesized WAV assets — real `AudioSystem.write`
    * RIFF bytes per document id, samples from the shared formula; the
    * audio analog of [[syntheticPngAssets]]. */
  def syntheticWavAssets(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    // fan out before the codec seam — see syntheticPngAssets
    ScalePolicy.fanOut(docs.select(col("doc_id")), col("doc_id"))
      .as[Long].mapPartitions(_.map { id =>
      val n = (AudNBase + id % AudNMod).toInt
      val raw = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = ((id * AudMul._1 + i.toLong * i * (AudMul._2 + id % AudSlopeMod)) % 65536 - 32768).toInt
        raw(2 * i) = (v & 0xff).toByte
        raw(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        AudSampleRate.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      // WavIo, not AudioSystem.write — same WAVE writer instance, no
      // per-call synchronized provider scan (see WavIo's scaladoc)
      WavIo.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(raw), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      MediaAsset(id, "audio", bos.toByteArray,
        MediaMeta(0, 0, AudSampleRate, n.toLong * 1000 / AudSampleRate))
    })
  }

  final case class AudioHash(asset_id: Long, n_samples: Int,
      hash_hi: Long, hash_lo: Long)

  /** Energy-envelope average-hash over GENUINELY DECODED PCM — the
    * audio twin of [[imageAHashes]]: 64 integer-floor windows over the
    * canonicalized 16-bit samples, bit = window's mean |sample| above
    * the clip mean, cross-multiplied so no float average exists. The
    * decode runs [[RealDecoder.pcmSamples]] (real `javax.sound` WAV
    * parsing + canonicalization), so the gate fails on any decode
    * drift. Pairs ride [[imageHammingPairs]] unchanged — the banding
    * machinery is hash-source-agnostic. */
  def audioAHashes(spark: SparkSession, assets: Dataset[MediaAsset]): Dataset[AudioHash] = {
    import spark.implicits._
    assets.mapPartitions(_.map { a =>
      val s = RealDecoder.pcmSamples(a.bytes)
      val n = s.length
      val winSum = new Array[Long](64)
      val winCnt = new Array[Long](64)
      var i = 0
      while (i < n) {
        val w = i * 64 / n
        winSum(w) += math.abs(s(i)); winCnt(w) += 1
        i += 1
      }
      val totalSum = winSum.sum
      val totalCnt = n.toLong
      var hi = 0L; var lo = 0L
      var b = 0
      while (b < 64) {
        if (winSum(b) * totalCnt > totalSum * winCnt(b)) {
          if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
        }
        b += 1
      }
      AudioHash(a.asset_id, n, hi, lo)
    })
  }

  /** Decode image assets through [[RealDecoder]]'s codec path and emit
    * the decoded dimensions + pixel-channel hash — the query surface
    * multimodal_decode gates against arithmetic the oracle recomputes. */
  def decodeImages(spark: SparkSession, assets: Dataset[MediaAsset]): Dataset[DecodedImage] = {
    import spark.implicits._
    assets.mapPartitions(_.map { a =>
      val img = RealDecoder.readImage(a.bytes)
      DecodedImage(a.asset_id, img.getWidth, img.getHeight,
        rollingFold(RealDecoder.channels(img)))
    })
  }

  // Synthesized-animated-GIF formula, shared with the
  // multimodal_frames_decode DuckDB oracle (TextOps interpolates these
  // constants): frame `f` of asset `id` is a WxH 256-gray indexed image
  // with pixel value
  //   v = (id*7 + x*5 + y*11 + f*17) % 256        (gray: r = g = b = v)
  // where W = 4 + id % 11, H = 3 + id % 5, frames = 2 + id % 4, and
  // each frame lasts 100 ms. Grayscale-indexed on purpose: GIF is
  // palette-based, so an exact 256-entry gray palette round-trips
  // bit-exactly where arbitrary RGB would be quantizer-dependent.
  val GifWBase = 4; val GifWMod = 11
  val GifHBase = 3; val GifHMod = 5
  val GifFBase = 2; val GifFMod = 4
  val GifMsPerFrame = 100L
  val GifPixMul = (7L, 5L, 11L, 17L) // id, x, y, frame multipliers

  final case class DecodedFrame(asset_id: Long, n_frames: Int,
      duration_ms: Long, frame_idx: Int, offset_ms: Long, sampled_frame: Int,
      width: Int, height: Int, pixel_hash: Long)

  private def gifPixel(id: Long, x: Int, y: Int, f: Int): Int =
    ((id * GifPixMul._1 + x * GifPixMul._2 + y * GifPixMul._3 +
      f * GifPixMul._4) % 256).toInt

  /** Multi-frame GIF encode via ImageIO's sequence writer, with a
    * GraphicControlExtension per frame (delay = GifMsPerFrame). */
  private[operators] def encodeGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
    require(writers.hasNext, "no GIF writer registered")
    val writer = writers.next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { img =>
        // new ImageTypeSpecifier(img), NOT createFromRenderedImage: the
        // factory dispatches BufferedImage types to a GENERIC specifier
        // whose indexed palette is the web-safe default, silently
        // quantizing our gray palette; the constructor keeps the
        // image's actual IndexColorModel so the round-trip is exact
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img),
          writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        // the writer interlaces by default, and the JDK codec garbles
        // interlaced images under 5 rows tall (rows past the first
        // pass decode as palette entry 0) — plain scan order is exact
        // at every size
        val desc = root.getElementsByTagName("ImageDescriptor")
        if (desc.getLength > 0)
          desc.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
            .setAttribute("interlaceFlag", "FALSE")
        val gce = {
          val nodes = root.getElementsByTagName("GraphicControlExtension")
          if (nodes.getLength > 0)
            nodes.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          else {
            val n = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
            root.appendChild(n); n
          }
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("transparentColorIndex", "0")
        gce.setAttribute("delayTime", (GifMsPerFrame / 10).toString)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Deterministic synthesized animated-GIF "video" assets for the
    * docs the fixture maps to videos (doc_id % 3 == 2) — real
    * `ImageIO` GIF sequence bytes, frames from the shared formula.
    * Runs on executors; the encode is part of the plumbing under test. */
  def syntheticGifAssets(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    // fan out before the codec seam — see syntheticPngAssets
    ScalePolicy.fanOut(
        docs.filter(col("doc_id") % 3 === 2).select(col("doc_id")),
        col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        val gray = Array.tabulate(256)(_.toByte)
        val icm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
        ids.map { id =>
          val w = (GifWBase + id % GifWMod).toInt
          val h = (GifHBase + id % GifHMod).toInt
          val nf = (GifFBase + id % GifFMod).toInt
          val frames = (0 until nf).map { f =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.getRaster.setSample(x, y, 0, gifPixel(id, x, y, f))
                x += 1
              }
              y += 1
            }
            img
          }
          MediaAsset(id, "video", encodeGif(frames),
            MediaMeta(w, h, 0, nf * GifMsPerFrame))
        }
      }
  }

  /** Decode video (animated-GIF) assets and emit the frames the
    * frame-sample plan selects: `samples` evenly spaced offsets across
    * the clip, each hashed over its genuinely DECODED pixels — the
    * query surface multimodal_frames_decode gates against arithmetic
    * the oracle recomputes. Each asset decodes ONCE and emits all its
    * sample rows (the plan-side alternative — explode frameOffsetsMs
    * first, decode per row — would replicate the blob per sample row
    * and decode it `samples` times); offsets use the same truncating
    * division as [[frameOffsetsMs]], spec-pinned parity. */
  def decodeVideoFrames(spark: SparkSession, assets: Dataset[MediaAsset],
      samples: Int = FrameSamples): Dataset[DecodedFrame] = {
    import spark.implicits._
    assets.mapPartitions(_.flatMap { a =>
      val frames = RealDecoder.gifFrames(a.bytes)
      val n = frames.length
      val durationMs = n * GifMsPerFrame
      (0 until samples).map { i =>
        val offset = i * durationMs / samples
        val sf = math.min(n - 1, (offset / GifMsPerFrame).toInt)
        val img = frames(sf)
        DecodedFrame(a.asset_id, n, durationMs, i, offset, sf,
          img.getWidth, img.getHeight, rollingFold(RealDecoder.channels(img)))
      }
    })
  }

  /** Deterministic media synthesis from the documents table (no binary
    * testdata exists): bytes = utf-8 text, kind cycles by id. */
  def syntheticAssets(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("asset_id"),
        element_at(typedlit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "utf-8").as("bytes"),
        struct(lit(FixtureWidth).as("width"), lit(FixtureHeight).as("height"),
          lit(FixtureSampleRate).as("sampleRate"),
          (length(col("text")) * MsPerChar).cast("long").as("durationMs")).as("meta"))
      .as[MediaAsset]
  }
}
