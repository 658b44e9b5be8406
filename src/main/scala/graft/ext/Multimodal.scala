package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / frame-sample
  * operators.
  *
  * The container has no image/audio codecs, so the *decode* step is a clearly
  * marked deterministic stub ([[stubDecode]]); everything Spark-side — schema,
  * batch shape, partition-parallel extraction, frame-sampling explode — is real
  * and oracle-tested. In production the stub body is replaced by a codec call
  * inside the same `mapPartitions` (one codec init per partition, not per row —
  * the Scala analog of `mapInPandas` batching).
  */
/** The JDK WAVE codec resolved ONCE per JVM through the PUBLIC
  * `javax.sound.sampled.spi` SPI. `AudioSystem.getAudioInputStream` /
  * `AudioSystem.write` consult the provider registry on EVERY call, and
  * that registry lookup (`JDK13Services.getProviders`) holds a global lock
  * and rescans the service loader — round-7 sf1 benching measured it as the
  * per-row bottleneck of the audio operators at 32 threads (decode cost per
  * doc RISING with parallelism). The codec objects themselves are the same
  * ones the facade would pick; only the synchronized lookup is hoisted, so
  * decode stays the real JDK codec. An `object` so the lazy vals initialize
  * once per executor JVM — cluster-safe, nothing serialized. */
private[ext] object WavCodec {
  import javax.sound.sampled.{AudioFileFormat, AudioInputStream, UnsupportedAudioFileException}
  import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}

  lazy val readers: List[AudioFileReader] = {
    val it = java.util.ServiceLoader.load(classOf[AudioFileReader]).iterator()
    val b = List.newBuilder[AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }

  lazy val wavWriter: AudioFileWriter = {
    val it = java.util.ServiceLoader.load(classOf[AudioFileWriter]).iterator()
    var found: AudioFileWriter = null
    while (found == null && it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(AudioFileFormat.Type.WAVE)) found = w
    }
    require(found != null, "no JDK AudioFileWriter supports WAVE")
    found
  }

  /** Provider order with the RIFF/WAVE-capable readers first — an ORDERING
    * heuristic only (same reader set, first-accepting wins, so semantics
    * match the plain provider order; a wave reader the name check misses
    * just stays in probe position). */
  lazy val riffFirst: List[AudioFileReader] = {
    val (wav, rest) = readers.partition(_.getClass.getSimpleName.startsWith("Wave"))
    wav ++ rest
  }

  /** Decode `bytes` with the first provider that accepts the container —
    * identical provider semantics to `AudioSystem.getAudioInputStream`,
    * minus the per-call registry lock. Fails loudly on undecodable input.
    *
    * RIFF payloads dispatch to the WAVE-capable readers first: provider
    * probing works by UnsupportedAudioFileException, and on a WAV clip the
    * three non-WAVE JDK readers each construct one per call — whose
    * `fillInStackTrace` over a ~100-frame executor stack dominated decode
    * 40× at sf1 (measured: 7.0 s → 0.16 s for 50 k clips on local[32]).
    * The magic sniff changes only the TRY ORDER, never the accept set. */
  def stream(bytes: Array[Byte], id: Long): AudioInputStream = {
    val isRiff = bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'
    // fresh stream per attempt (cheap — wraps the same array): a provider
    // that mark()s at a nonzero offset before rejecting would otherwise
    // leave a shared stream truncated for the next reader
    (if (isRiff) riffFirst else readers).foreach { r =>
      try return r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: UnsupportedAudioFileException => () }
    }
    throw new IllegalArgumentException(
      s"doc $id: no JDK AudioFileReader accepts the payload")
  }
}

object Multimodal {

  /** Spread a CPU-bound codec pass across every core. The doc_id feed is a
    * byte-tiny parquet scan that Spark packs into one or two input splits —
    * `maxPartitionBytes` is sized for I/O bandwidth, not for ~100µs-per-row
    * codec work — so without this the encode+decode of the whole media
    * family serialized on ONE core at every SF (measured: q193/q206 ran
    * single-threaded at sf1, 5.4 s, and their growth ratios crept
    * superlinear from single-partition GC churn). A round-robin repartition
    * of 8-byte rows is noise next to the codec work it parallelizes; at
    * 100 TB the same rule holds — partition CPU-bound per-row operators by
    * cores, never by scan bytes. */
  private def spreadToCores(ds: Dataset[Long]): Dataset[Long] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism)

  /** documents → multimodal layout: payload as binary + metadata struct.
    * (The synthetic corpus has no real media, so text bytes stand in for the
    * payload; the column types are what an image table would carry.) */
  def asBinaryTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          col("source").as("origin"),
          col("lang").as("declared_lang"),
          col("n_chars").as("declared_size")).as("meta"))

  /** Metadata/feature extraction over the binary payload — pure expressions,
    * no codec needed: byte length, content hash, leading byte. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    asBinaryTable(spark, dir)
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        md5(col("payload")).as("content_md5"),
        ascii(substring(col("payload").cast("string"), 1, 1)).cast("int").as("first_byte"),
        col("meta.origin").as("origin"))
      .orderBy("doc_id")

  /** Frame sampling: split each payload into fixed-size 64-byte "frames"
    * (the video-keyframe access pattern) — posexplode keeps it distributed and
    * 1 output row per frame. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    asBinaryTable(spark, dir)
      .select(col("doc_id"), col("payload").cast("string").as("s"))
      // empty payloads yield zero frames (matches integer-floor oracle
      // semantics: DuckDB's (0-1)//64 = -1 → empty range, while Spark's
      // CAST(-1/64 AS INT) truncates to 0 → would emit one empty frame)
      .filter(length(col("s")) > 0)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, CAST((length(s) - 1) / 64 AS INT)), " +
          "i -> substring(s, i * 64 + 1, 64))")))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("frame_idx"),
        md5(col("col")).as("frame_md5"),
        length(col("col")).as("frame_len"))
      .orderBy("doc_id", "frame_idx")

  /** Deterministic tiny grayscale PNG per document — the REAL-media fixture
    * for [[decodePngs]]: width = doc_id % 8 + 1, height = doc_id % 5 + 1,
    * pixel(x, y) = (doc_id·31 + 7x + 13y) mod 256, encoded with the
    * JDK-native `javax.imageio` PNG writer inside `mapPartitions` (one
    * encoder context per partition, the codec batch shape). The closed-form
    * pixel law is what lets the DuckDB oracle check the DECODED output
    * arithmetically without itself owning a PNG codec. */
  def pngTable(spark: SparkSession, dir: String,
      docFilter: Column = lit(true)): DataFrame = {
    import spark.implicits._
    spreadToCores(
      Tables.documents(spark, dir).filter(docFilter).select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // no tmp-file spill per image
        it.map { id =>
          val w = (id % 8 + 1).toInt
          val h = (id % 5 + 1).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, ((id * 31 + 7 * x + 13 * y) % 256).toInt)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** REAL image decode (q186) over any (doc_id, payload: binary) frame —
    * `javax.imageio.ImageIO.read` in `mapPartitions`, binary in, fixed-width
    * features out: decoded dimensions plus the exact grayscale pixel sum.
    * This is the production shape [[stubDecode]] stands in for on media the
    * container lacks codecs for; PNG decode is JDK-native, so this path runs
    * the actual codec — a corrupted/truncated payload fails loudly rather
    * than fabricating features. Scale shape: pure partition-parallel
    * projection, no shuffle, one decoder context per partition. */
  def decodePngs(spark: SparkSession, pngs: DataFrame): DataFrame = {
    import spark.implicits._
    pngs.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"doc $id: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          (id, w, h, sum)
        }
      }.toDF("doc_id", "width", "height", "px_sum")
  }

  /** q186: encode → decode roundtrip over the synthetic PNG table. The
    * oracle recomputes width/height/px_sum from the pixel law — a decoder
    * that mis-sized, re-quantized, or reordered pixels hash-mismatches. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame =
    decodePngs(spark, pngTable(spark, dir)).orderBy("doc_id")

  /** REAL decode + nearest-neighbor RESIZE (q205) — the "resize" verb of the
    * multimodal contract, over the real PNG fixture: each image is decoded
    * with the JDK codec, then downsampled 2× by nearest-neighbor — output
    * pixel (x, y) samples source pixel (2x, 2y), out dims ceil(w/2)×ceil(h/2).
    * The resample arithmetic is this engine's own (top-left-sample
    * convention) rather than `Image.getScaledInstance`: AWT's scaler blends
    * with unspecified filters, which no oracle can check; a fixed sampling
    * law keeps the DECODE real and the RESIZE bit-exact — the oracle
    * recomputes the resized pixel sum from the pixel law at (2x, 2y).
    * Partition-parallel projection, one codec context per partition. */
  def resizePngs(spark: SparkSession, pngs: DataFrame): DataFrame = {
    import spark.implicits._
    pngs.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"doc $id: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          val (ow, oh) = ((w + 1) / 2, (h + 1) / 2)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < oh) {
            var x = 0
            while (x < ow) { sum += raster.getSample(2 * x, 2 * y, 0); x += 1 }
            y += 1
          }
          (id, w, h, ow, oh, sum)
        }
      }.toDF("doc_id", "in_w", "in_h", "out_w", "out_h", "px_sum")
  }

  /** q205: encode → decode → resize roundtrip over the synthetic PNG
    * table. */
  def imageResize(spark: SparkSession, dir: String): DataFrame =
    resizePngs(spark, pngTable(spark, dir)).orderBy("doc_id")

  /** Synthetic WAV table: one mono PCM16/8kHz clip per document, generated
    * from the closed-form sample law n = doc_id % 480 + 20,
    * sample(i) = ((doc_id·17 + 11i) mod 2048) − 1024, containerized with the
    * JDK-native `javax.sound.sampled` WAVE writer in `mapPartitions` — the
    * audio twin of [[pngTable]]: the law is what lets the oracle check the
    * DECODED output arithmetically without owning an audio codec. */
  def wavTable(spark: SparkSession, dir: String,
      docFilter: Column = lit(true)): DataFrame = {
    import spark.implicits._
    spreadToCores(
      Tables.documents(spark, dir).filter(docFilter).select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.map { id =>
          val n = (id % 480 + 20).toInt
          val bytes = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = (((id * 17 + 11L * i) % 2048) - 1024).toShort
            bytes(2 * i) = (s & 0xff).toByte
            bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          WavCodec.wavWriter.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** REAL audio decode over any (doc_id, payload: binary) frame of WAV
    * clips — `AudioSystem.getAudioInputStream` parses the RIFF container and
    * yields the PCM frames; features are the exact integer energy (Σ sample²,
    * the RMS numerator), the peak amplitude, and the decoded length/rate.
    * Same contract as [[decodePngs]]: a truncated or non-WAV payload fails
    * loudly, and the whole pass is a partition-parallel projection with one
    * decoder context per partition — no shuffle, no driver involvement. */
  def decodeWavs(spark: SparkSession, wavs: DataFrame): DataFrame = {
    import spark.implicits._
    wavs.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val ais = WavCodec.stream(bytes, id)
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian, s"doc $id: unexpected decoded format $fmt")
          val data = ais.readAllBytes()
          val n = data.length / 2
          var sq = 0L
          var peak = 0L
          var i = 0
          while (i < n) {
            val s = (((data(2 * i + 1) & 0xff) << 8) | (data(2 * i) & 0xff)).toShort.toLong
            sq += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            i += 1
          }
          (id, n.toLong, fmt.getSampleRate.toInt, sq, peak)
        }
      }.toDF("doc_id", "n_samples", "sample_rate", "sq_sum", "peak")
  }

  /** q193: WAV encode → decode roundtrip. The oracle recomputes sample
    * count, energy, and peak from the sample law — a decoder that dropped
    * frames, mis-parsed the header, or flipped endianness hash-mismatches. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame =
    decodeWavs(spark, wavTable(spark, dir)).orderBy("doc_id")

  /** REAL decode + windowed FRAME FEATURES (q206) — the audio
    * "feature-extract" verb: each WAV clip is parsed with the JDK codec,
    * its PCM stream split into fixed 128-sample analysis frames (last frame
    * partial), and each frame reduced to its exact integer energy
    * (Σ sample² — the RMS numerator, the front end of VAD / loudness
    * normalization). One output row per (doc, frame); the oracle recomputes
    * every frame energy from the closed-form sample law, so a decoder that
    * dropped samples or mis-framed the stream hash-mismatches. */
  def audioFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frameSamples = 128
    wavTable(spark, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val ais = WavCodec.stream(bytes, id)
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian, s"doc $id: unexpected decoded format $fmt")
          val data = ais.readAllBytes()
          val n = data.length / 2
          (0 until (n + frameSamples - 1) / frameSamples).map { f =>
            val lo = f * frameSamples
            val hi = math.min(lo + frameSamples, n)
            var sq = 0L
            var i = lo
            while (i < hi) {
              val s = (((data(2 * i + 1) & 0xff) << 8) | (data(2 * i) & 0xff)).toShort.toLong
              sq += s * s
              i += 1
            }
            (id, f, (hi - lo).toLong, sq)
          }
        }
      }.toDF("doc_id", "frame_idx", "n_samples", "energy")
      .orderBy("doc_id", "frame_idx")
  }

  /** Synthetic VIDEO table: a length-prefixed frame container per document
    * ("GVID" magic, int32 frame count, then int32-length-prefixed PNG
    * frames), frames generated from the closed-form law
    * n = doc_id % 6 + 2, frame f sized ((doc_id+f) % 8 + 1) ×
    * ((doc_id+f) % 5 + 1), pixel = (doc_id·31 + f·17 + 7x + 13y) mod 256 —
    * each frame a REAL PNG from the JDK codec. The container is this
    * engine's own trivial format; parsing it + decoding its frames is the
    * video access pattern ([[frameSample]]'s byte-window form upgraded to a
    * real index + codec). */
  def videoTable(spark: SparkSession, dir: String,
      docFilter: Column = lit(true)): DataFrame = {
    import spark.implicits._
    spreadToCores(
      Tables.documents(spark, dir).filter(docFilter).select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val n = (id % 6 + 2).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val out = new java.io.DataOutputStream(bos)
          out.write("GVID".getBytes("US-ASCII"))
          out.writeInt(n)
          var f = 0
          while (f < n) {
            val w = ((id + f) % 8 + 1).toInt
            val h = ((id + f) % 5 + 1).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val raster = img.getRaster
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                raster.setSample(x, y, 0,
                  ((id * 31 + f * 17 + 7 * x + 13 * y) % 256).toInt)
                x += 1
              }
              y += 1
            }
            val fb = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", fb)
            val frame = fb.toByteArray
            out.writeInt(frame.length)
            out.write(frame)
            f += 1
          }
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** REAL video-frame sampling + decode over any (doc_id, payload) frame of
    * GVID containers: parse the frame index, decode every second frame
    * with the JDK PNG codec, and SKIP the bytes of frames the sample does
    * not want — the point of a frame index is that unsampled frames cost a
    * seek, not a decode. Corrupt containers (bad magic, truncated frames)
    * fail loudly. Partition-parallel projection; one codec context per
    * partition; no shuffle. */
  def decodeVideoFrames(spark: SparkSession, vids: DataFrame): DataFrame = {
    import spark.implicits._
    vids.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
          val magic = new Array[Byte](4)
          in.readFully(magic)
          require(new String(magic, "US-ASCII") == "GVID",
            s"doc $id: payload is not a GVID container")
          val n = in.readInt()
          (0 until n).flatMap { f =>
            val len = in.readInt()
            if (f % 2 == 0) {
              val buf = new Array[Byte](len)
              in.readFully(buf)
              val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(buf))
              require(img != null, s"doc $id frame $f: undecodable frame")
              val (w, h) = (img.getWidth, img.getHeight)
              val raster = img.getRaster
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
                y += 1
              }
              Some((id, f, w, h, sum))
            } else {
              // unsampled frame: advance the index, never touch the codec.
              // skipBytes returns 0 at EOF — a truncated container must
              // throw, not spin
              var toSkip = len
              while (toSkip > 0) {
                val skipped = in.skipBytes(toSkip)
                if (skipped <= 0)
                  throw new java.io.EOFException(
                    s"doc $id frame $f: container truncated ($toSkip bytes missing)")
                toSkip -= skipped
              }
              None
            }
          }
        }
      }.toDF("doc_id", "frame_idx", "width", "height", "px_sum")
  }

  /** q202: container encode → frame-sample → decode roundtrip. The oracle
    * recomputes the sampled frames' dimensions and exact pixel sums from
    * the frame law — a parser that mis-read the index, sampled the wrong
    * frames, or decoded off-by-one frame boundaries hash-mismatches. */
  def videoDecode(spark: SparkSession, dir: String): DataFrame =
    decodeVideoFrames(spark, videoTable(spark, dir)).orderBy("doc_id", "frame_idx")

  /** Multimodal TRAINING-RECORD manifest (q217) — the assembly step a
    * VLM/omni data pipeline ends with: per document, the text span plus
    * every available modality's decoded features in ONE row, with
    * per-modality presence flags and the modality count (partial coverage
    * is the norm — most web docs have no audio; a missing modality must
    * surface as has_x = false, not a dropped row, which is why every join
    * is LEFT from the text base). Presence is simulated deterministically
    * (image iff doc_id % 3 ≠ 0, audio iff % 4 ≠ 0, video iff % 5 ≠ 0);
    * features come from the REAL codec paths ([[decodePngs]] /
    * [[decodeWavs]] / [[decodeVideoFrames]]), so the oracle recomputes them
    * from the closed-form laws. Numeric features of absent modalities are
    * coalesced to 0 (the flags carry absence — nullable-int dtype drift
    * across engines is not worth the prettier NULL).
    *
    * Scale shape: three partition-parallel decode projections + one
    * frame-count aggregate, joined on doc_id — co-partitioned equi-joins, no
    * driver involvement, output rows = corpus rows. */
  def multimodalManifest(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
    // presence filters pass INTO the builders: a filter above the typed
    // mapPartitions encoder cannot push below it, so filtering afterwards
    // would pay the codec for payloads that are immediately discarded
    val img = decodePngs(spark, pngTable(spark, dir, col("doc_id") % 3 =!= 0))
      .select(col("doc_id"), col("px_sum").as("img_px"))
    val aud = decodeWavs(spark, wavTable(spark, dir, col("doc_id") % 4 =!= 0))
      .select(col("doc_id"), col("sq_sum").as("audio_e"))
    val vid = decodeVideoFrames(spark, videoTable(spark, dir, col("doc_id") % 5 =!= 0))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("vid_frames"), sum(col("px_sum")).as("vid_px"))
    base
      .join(img, Seq("doc_id"), "left")
      .join(aud, Seq("doc_id"), "left")
      .join(vid, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        col("img_px").isNotNull.as("has_image"),
        coalesce(col("img_px"), lit(0L)).as("img_px_sum"),
        col("audio_e").isNotNull.as("has_audio"),
        coalesce(col("audio_e"), lit(0L)).as("audio_energy"),
        col("vid_frames").isNotNull.as("has_video"),
        coalesce(col("vid_frames"), lit(0L)).as("n_video_frames"),
        coalesce(col("vid_px"), lit(0L)).as("video_px_sum"),
        (col("img_px").isNotNull.cast("int") + col("audio_e").isNotNull.cast("int")
          + col("vid_frames").isNotNull.cast("int")).cast("long").as("n_modalities"))
      .orderBy("doc_id")
  }

  /** Decode stub: where a NON-JDK codec would run (H.264, JPEG-2000, MP3 —
    * this environment ships none). The JDK-native formats all have REAL
    * paths beside it: PNG [[decodePngs]] (q186), WAV/PCM [[decodeWavs]]
    * (q193), and frame-container video [[decodeVideoFrames]] (q202).
    * Deterministic fake decode — "dimensions" derived from the content
    * hash — keeping the mapPartitions batch shape honest (binary in,
    * fixed-width features out).
    * STUB: replace `fakeDims` with the external codec call in production. */
  def stubDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = asBinaryTable(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
    src.mapPartitions { it =>
      // one "codec init" per partition, amortized across the batch
      it.map { case (id, bytes) =>
        val fakeDims = ((bytes.length % 640) + 1, (bytes.take(8).map(_.toInt & 0xff).sum % 480) + 1)
        (id, bytes.length.toLong, fakeDims._1, fakeDims._2)
      }
    }.toDF("doc_id", "byte_len", "width", "height")
      .orderBy("doc_id")
  }
}
