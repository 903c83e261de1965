package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: media as opaque
  * `binary` columns with typed metadata, plus distributed decode /
  * feature-extract / resize / sample operators.
  *
  * Execution shape: decode is genuine per-row imperative work (a
  * codec), so it runs as `mapPartitions` over a typed Dataset — one
  * decoder instantiation per partition, streaming rows through it,
  * which is exactly the Scala analogue of a Pandas-UDF `mapInPandas`
  * batch. Everything before/after the decode stays declarative
  * (column pruning still reaches the parquet scan; the binary column
  * is only read when the decode stage actually consumes it).
  *
  * Partitioning note for 100 TB: media blobs make rows wide — size
  * `spark.sql.files.maxPartitionBytes` so a partition holds O(100)
  * blobs, and repartition by a content-hash key before shuffling
  * features so skewed media sizes don't skew partitions. */
object Multimodal {

  case class ImageRow(media_id: Long, image: Array[Byte])
  case class ImageFeatures(media_id: Long, width: Int, height: Int,
                           mean_r: Double, mean_g: Double, mean_b: Double,
                           thumb: Array[Float])
  case class AudioRow(media_id: Long, audio: Array[Byte])
  case class AudioFeatures(media_id: Long, sample_rate: Int, n_samples: Long,
                           rms: Double, frames: Array[Float])

  /** Deterministic synthetic media table derived from any keyed table
    * (seeded per id): real PNG + WAV bytes, generated distributed —
    * no driver-side materialization, no binary fixtures. */
  def syntheticMedia(keys: DataFrame, idCol: String,
                     imgW: Int = 24, imgH: Int = 16,
                     sampleRate: Int = 8000, nSamples: Int = 1600): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, MediaKernels.makePng(id, imgW, imgH),
          MediaKernels.makeWav(id, sampleRate, nSamples))
      })
      .toDF("media_id", "image", "audio")
  }

  /** Decode + feature-extract images: metadata, channel means, and a
    * k×k grayscale thumbnail feature vector. */
  def imageFeatures(media: DataFrame, k: Int = 4): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("image")).as[ImageRow]
      .mapPartitions(_.map { r =>
        // decode ONCE per row; every feature derives from the same image
        val img = MediaKernels.decodeImage(r.image)
        val (mr, mg, mb) = MediaKernels.channelMeans(img)
        ImageFeatures(r.media_id, img.getWidth, img.getHeight, mr, mg, mb,
          MediaKernels.grayGrid(img, k))
      })
  }

  case class ImageEntropy(media_id: Long, n_distinct_r: Long,
                          entropy_nats: Double)

  /** Decode + red-channel histogram entropy: the per-image intensity
    * diversity probe (flat/blank frames score near 0, noisy fields
    * near ln 256). One decode per row; the bin loop runs in fixed
    * ascending order so the float sum is reproducible. */
  def imageEntropy(media: DataFrame): Dataset[ImageEntropy] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("image")).as[ImageRow]
      .mapPartitions(_.map { r =>
        val h = MediaKernels.redHistogram(MediaKernels.decodeImage(r.image))
        ImageEntropy(r.media_id, h.count(_ > 0).toLong,
          MediaKernels.histEntropyNats(h))
      })
  }

  /** Decode + feature-extract audio: header metadata, RMS amplitude,
    * and k evenly spaced frame samples. */
  def audioFeatures(media: DataFrame, k: Int = 8): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("audio")).as[AudioRow]
      .mapPartitions(_.map { r =>
        // decode ONCE per row: header + PCM payload in a single pass
        val (sr, n) = MediaKernels.audioMeta(r.audio)
        val s = MediaKernels.samples(r.audio)
        AudioFeatures(r.media_id, sr, n, MediaKernels.rms(s),
          MediaKernels.frameSample(s, k))
      })
  }

  case class AudioPitch(media_id: Long, sample_rate: Long,
                        n_samples: Long, freq_hz: Long)

  /** Pitch detection: the dominant frequency of each clip by the
    * quantized-coefficient Goertzel scan over the generator's
    * candidate band (110..989 Hz). Single decode per row, rides the
    * scan like every media kernel here. */
  def audioPitch(media: DataFrame, fLo: Int = 110,
                 fHi: Int = 989): Dataset[AudioPitch] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("audio")).as[AudioRow]
      .mapPartitions(_.map { r =>
        val (sr, n) = MediaKernels.audioMeta(r.audio)
        val s = MediaKernels.samples(r.audio)
        AudioPitch(r.media_id, sr, n,
          MediaKernels.dominantFreq(s, sr, fLo, fHi).toLong)
      })
  }

  case class AudioSilence(media_id: Long, n_samples: Long, n_runs: Long,
                          longest_run: Long, silent_frac: Double)

  /** Simulated transmission dropouts: zero one seeded PCM span per
    * row (offset/length derive from media_id), re-encoded through the
    * same WAV codec. Gives the silence detector a deterministic,
    * non-trivial target on otherwise gap-free synthetic tones. */
  def injectDropouts(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("audio")).as[AudioRow]
      .mapPartitions(_.map { r =>
        val (sr, _) = MediaKernels.audioMeta(r.audio)
        val s = MediaKernels.samples(r.audio)
        val len = (100 + (r.media_id % 200)).toInt min (s.length / 2)
        val off = ((r.media_id * 37) % math.max(s.length - len, 1)).toInt
        java.util.Arrays.fill(s, off, off + len, 0.toShort)
        (r.media_id, MediaKernels.encodeWav(s, sr))
      })
      .toDF("media_id", "audio")
  }

  case class AudioSnr(media_id: Long, e_signal: Long, e_noise: Long,
                      snr_db: Option[Double])

  /** Signal-to-noise of the degraded clip against its clean twin:
    * SNR = 10·log10(Σ clean² / Σ (clean − degraded)²). Both energies
    * are EXACT integer sums of int16 products (≤2³⁰ per sample, ≤2⁴¹
    * per clip), so the only float is the final quantized log —
    * tools/media_oracle.py replays the whole readout. The join is
    * media_id-equi; each side decodes once. */
  def audioSnr(clean: DataFrame, degraded: DataFrame): DataFrame = {
    val spark = clean.sparkSession
    import spark.implicits._
    clean.select(col("media_id"), col("audio").as("a1"))
      .join(degraded.select(col("media_id"), col("audio").as("a2")),
        "media_id")
      .as[(Long, Array[Byte], Array[Byte])]
      .mapPartitions(_.map { case (id, c, n) =>
        val sc = MediaKernels.samples(c)
        val sn = MediaKernels.samples(n)
        var es = 0L
        var en = 0L
        var i = 0
        while (i < sc.length) {
          val v = sc(i).toLong
          val dd = v - sn(i).toLong
          es += v * v
          en += dd * dd
          i += 1
        }
        AudioSnr(id, es, en,
          if (en == 0) None
          else Some(BigDecimal(10.0 * math.log10(es.toDouble / en.toDouble))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }).toDF()
  }

  /** Decode + silence-run detection — the VAD/dropout health check:
    * per clip, the number of ≥`minRun`-sample silent runs, the longest
    * sub-threshold run, and the fraction of samples inside qualifying
    * runs. Single decode per row, rides the scan like the other
    * feature extractors. */
  def audioSilence(media: DataFrame, threshold: Int = 512,
                   minRun: Int = 64): Dataset[AudioSilence] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("audio")).as[AudioRow]
      .mapPartitions(_.map { r =>
        val s = MediaKernels.samples(r.audio)
        val (nRuns, longest, silent) = MediaKernels.silenceStats(s, threshold, minRun)
        AudioSilence(r.media_id, s.length.toLong, nRuns, longest,
          if (s.isEmpty) 0.0 else silent.toDouble / s.length)
      })
  }

  case class VideoRow(media_id: Long, video: Array[Byte])
  case class VideoFeatures(media_id: Long, n_frames: Int, width: Int,
                           height: Int, frame_means: Array[Float])
  case class SceneCuts(media_id: Long, n_frames: Int, n_cuts: Long,
                       first_cut: Int)

  /** Shot-structured synthetic video table: frames repeat within a
    * shot (length varies per media_id) and change at boundaries —
    * scene-cut detection gets a per-row deterministic ground truth. */
  def syntheticShotVideo(keys: DataFrame, idCol: String, nFrames: Int = 12,
                         imgW: Int = 24, imgH: Int = 16): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, MediaKernels.makeShotVideo(id, nFrames,
          shotLen = 2 + (id % 3).toInt, imgW, imgH))))
      .toDF("media_id", "video")
  }

  /** Scene-cut detection — shot-boundary analysis over the video
    * container: per clip, the number of cuts (mean-abs grid diff
    * between consecutive frames above threshold) and the first cut
    * position. Single decode pass per row, rides the scan. */
  def videoSceneCuts(media: DataFrame, threshold: Double = 0.02): Dataset[SceneCuts] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("video")).as[VideoRow]
      .mapPartitions(_.map { r =>
        val cuts = MediaKernels.sceneCuts(r.video, threshold)
        SceneCuts(r.media_id, MediaKernels.videoFrames(r.video).length,
          cuts.length.toLong, if (cuts.isEmpty) -1 else cuts.head)
      })
  }

  /** Deterministic synthetic video table (length-prefixed PNG frames;
    * separate from `syntheticMedia` so image/audio pipelines don't pay
    * nFrames× the encode cost). */
  def syntheticVideo(keys: DataFrame, idCol: String, nFrames: Int = 8,
                     imgW: Int = 24, imgH: Int = 16): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select(col(idCol).cast("long").as("media_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, MediaKernels.makeVideo(id, nFrames, imgW, imgH))))
      .toDF("media_id", "video")
  }

  /** Decode + feature-extract video: frame count, dimensions, and k
    * evenly spaced frames' grayscale means (frame sampling — the video
    * analogue of `audioFeatures`' sample grid). */
  def videoFeatures(media: DataFrame, k: Int = 4): Dataset[VideoFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("video")).as[VideoRow]
      .mapPartitions(_.map { r =>
        val frames = MediaKernels.videoFrames(r.video)
        val first = MediaKernels.decodeImage(frames(0))
        VideoFeatures(r.media_id, frames.length, first.getWidth,
          first.getHeight, MediaKernels.frameSampleVideo(r.video, k))
      })
  }

  /** Image near-dup via thumbnail embeddings: decode once, then reuse
    * the embedding-similarity machinery (brute-force cosine here;
    * `Similarity.lshTopK` is the at-scale path). */
  /** Near-duplicate image variants: every 4th image gains a copy
    * (media_id + 1000000) with 3 seeded pixels perturbed and the
    * result re-encoded through the same PNG codec — the classic
    * "small edit + re-encode" duplicate that byte-level dedup misses
    * and perceptual hashing exists to catch. Deterministic per id. */
  def injectImageVariants(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val variants = media.select(col("media_id"), col("image")).as[ImageRow]
      .filter(_.media_id % 4 == 0)
      .mapPartitions(_.map { r =>
        val img = MediaKernels.decodeImage(r.image)
        var i = 0
        while (i < 3) {
          val x = math.floorMod(r.media_id * 31 + i * 17, img.getWidth.toLong).toInt
          val y = math.floorMod(r.media_id * 13 + i * 7, img.getHeight.toLong).toInt
          img.setRGB(x, y, img.getRGB(x, y) ^ 0x00101010)
          i += 1
        }
        (r.media_id + 1000000L, MediaKernels.encodePng(img))
      }).toDF("media_id", "image")
    media.select(col("media_id"), col("image")).unionAll(variants)
  }

  /** pHash near-dup pairs at scale shape: one decode+DCT pass to a
    * (media_id, 63-bit hash) digest, then BANDED candidate generation
    * — the hash splits into 8 byte-bands and only band-equal pairs
    * are compared (pigeonhole: any pair within Hamming 7 shares at
    * least one intact band), so the exact bit_count verify runs on
    * candidates only, never all pairs. Identical banding shape to the
    * SimHash text path. */
  def imagePhashPairs(media: DataFrame, maxHamming: Int = 7): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media.select(col("media_id"), col("image")).as[ImageRow]
      .mapPartitions(_.map(r => (r.media_id,
        MediaKernels.phash63(MediaKernels.decodeImage(r.image)))))
      .toDF("media_id", "ph")
    val banded = hashes.select(col("media_id"), col("ph"), explode(expr(
        "transform(sequence(0, 7), j -> named_struct('band', j, 'key', shiftright(ph, 8 * j) % 256))"))
        .as("b"))
      .select(col("media_id"), col("ph"),
        col("b.band").as("band"), col("b.key").as("key"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        col("x.ph").as("__pa"), col("y.ph").as("__pb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(__pa ^ __pb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** dHash near-dup pairs — the gradient-fingerprint twin of
    * [[imagePhashPairs]], same banded candidate shape (8 byte-bands,
    * pigeonhole-complete at Hamming ≤ 7). */
  def imageDhashPairs(media: DataFrame, maxHamming: Int = 7): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media.select(col("media_id"), col("image")).as[ImageRow]
      .mapPartitions(_.map(r => (r.media_id,
        MediaKernels.dhash63(MediaKernels.decodeImage(r.image)))))
      .toDF("media_id", "ph")
    val banded = hashes.select(col("media_id"), col("ph"), explode(expr(
        "transform(sequence(0, 7), j -> named_struct('band', j, 'key', shiftright(ph, 8 * j) % 256))"))
        .as("b"))
      .select(col("media_id"), col("ph"),
        col("b.band").as("band"), col("b.key").as("key"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        col("x.ph").as("__pa"), col("y.ph").as("__pb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(__pa ^ __pb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def imageNearDups(media: DataFrame, threshold: Double, k: Int = 4): DataFrame = {
    val spark = media.sparkSession
    val feats = imageFeatures(media, k).toDF()
      .select(col("media_id"), col("thumb").cast("array<double>").as("thumb"))
    val a = feats.select(col("media_id").as("id_a"), col("thumb").as("__va"))
    val b = feats.select(col("media_id").as("id_b"), col("thumb").as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.cosine_sim(spark, col("__va"), col("__vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
