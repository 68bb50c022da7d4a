package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing (SURVEY §2c 36).
  *
  * Media (image/audio/video) travels as an opaque `binary` column with a
  * typed metadata struct beside it. The decode/feature step runs as a
  * batched `mapPartitions` over a typed Dataset — the Scala analogue of
  * a vectorized pandas-UDF stage: one decoder init per partition,
  * streaming batches, no per-row setup. The codec libraries are not in
  * this container, so `StubDecoder` produces a DETERMINISTIC FAKE
  * derived from the bytes; the Spark-side schema, partitioning and
  * batch shape are the real, tested surface.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media: Array[Byte])
  case class MediaMeta(doc_id: Long, n_bytes: Long, fake_width: Long,
      fake_height: Long, content_md5: String)

  /** STUB: stands in for an image decoder. Deterministic function of the
    * payload so tests and oracles are stable. A real deployment swaps
    * this object for one wrapping the codec, keeping the same
    * batch-iterator signature. */
  object StubDecoder {
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaMeta] = {
      // per-partition init would go here (codec contexts, model handles)
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        digest.reset()
        val md5hex = digest.digest(r.media).map("%02x".format(_)).mkString
        MediaMeta(r.doc_id, r.media.length.toLong,
          r.media.length.toLong % 640L, r.media.length.toLong % 480L, md5hex)
      }
    }
  }

  /** Ingest: attach the opaque binary payload (here: UTF-8 text bytes
    * standing in for media) + source metadata. */
  def ingest(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
      .as[MediaRow]
  }

  /** Decode + feature-extract through the batched partition decoder. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ingest(spark, dir)
      .mapPartitions(StubDecoder.decodeBatch _)
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** File-based ingest: media arriving as raw FILES (the usual shape —
    * an object-store prefix of images/audio) enters through the
    * `binaryFile` source and joins the exact same batched decode
    * stages as the table path. doc_id derives deterministically from
    * the file path (xxhash64), so re-ingest is idempotent and the id
    * is stable across clusters. */
  def ingestFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.FormatIO.readBinaryFiles(spark, path, glob)
      .select(xxhash64(col("path")).as("doc_id"), col("content").as("media"))
      .as[MediaRow]
  }

  /** binaryFile directory → decoded metadata, end to end. */
  def mediaMetaFromFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    import spark.implicits._
    ingestFiles(spark, path, glob)
      .mapPartitions(StubDecoder.decodeBatch _)
      .toDF()
      .orderBy(col("doc_id"))
  }

  case class MediaFeature(doc_id: Long, feature: Array[Double])
  case class ResizedMedia(doc_id: Long, width: Int, height: Int,
      pixels: Array[Double])
  case class MediaFrame(doc_id: Long, frame_no: Long, offset: Long,
      frame_md5: String)

  /** STUB resize (stands in for an image resampler): the payload is
    * box-filtered onto a fixed `side`×`side` grid of byte means — the
    * batch shape (fixed output dims regardless of input size) that a
    * real resize kernel has. */
  object StubResizer {
    def resizeBatch(side: Int)(rows: Iterator[MediaRow]): Iterator[ResizedMedia] =
      rows.map { r =>
        val out = new Array[Double](side * side)
        val n = r.media.length
        if (n > 0) {
          val cell = math.max(1, n / (side * side))
          var i = 0
          while (i < n) {
            out(math.min(i / cell, side * side - 1)) += (r.media(i) & 0xff) / 255.0
            i += 1
          }
          var j = 0
          while (j < out.length) { out(j) /= cell; j += 1 }
        }
        ResizedMedia(r.doc_id, side, side, out)
      }
  }

  /** STUB frame sampler (stands in for video keyframe extraction): one
    * frame every `stride` bytes, identified by offset + content digest —
    * the fan-out shape (one row per frame, bounded per doc) of a real
    * sampler. */
  object StubFrameSampler {
    def sampleBatch(stride: Int, maxFrames: Int)(
        rows: Iterator[MediaRow]): Iterator[MediaFrame] = {
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val n = r.media.length
        val count = math.min(maxFrames, math.max(1, n / stride))
        (0 until count).map { f =>
          val off = f * stride
          val end = math.min(n, off + stride)
          digest.reset()
          digest.update(r.media, off, end - off)
          MediaFrame(r.doc_id, f.toLong, off.toLong,
            digest.digest().map("%02x".format(_)).mkString)
        }
      }
    }
  }

  /** Resize stage over the corpus: fixed-grid pixel summaries. */
  def resized(spark: SparkSession, dir: String, side: Int = 8): DataFrame = {
    import spark.implicits._
    ingest(spark, dir).mapPartitions(StubResizer.resizeBatch(side) _).toDF()
  }

  /** Frame-sampling stage: bounded per-doc frame fan-out. */
  def frames(spark: SparkSession, dir: String, stride: Int = 64,
      maxFrames: Int = 8): DataFrame = {
    import spark.implicits._
    ingest(spark, dir)
      .mapPartitions(StubFrameSampler.sampleBatch(stride, maxFrames) _)
      .toDF()
      .orderBy(col("doc_id"), col("frame_no"))
  }

  /** STUB feature extractor (stands in for an image/audio embedding
    * model): 16 deterministic chunk statistics per payload. Same
    * batched-partition shape a real model-inference stage uses (one
    * model handle per partition, vectorized batches). */
  object StubFeaturizer {
    val DIM = 16
    def featurizeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeature] = {
      // real impl: load model once per partition here
      rows.map { r =>
        val f = new Array[Double](DIM)
        val n = r.media.length
        var i = 0
        while (i < n) {
          f(i % DIM) += (r.media(i) & 0xff) / 255.0
          i += 1
        }
        val norm = math.sqrt(f.map(x => x * x).sum)
        MediaFeature(r.doc_id,
          if (norm == 0.0) f else f.map(_ / norm))
      }
    }
  }

  /** End-to-end multimodal similarity: payload → stub features →
    * LSH-bucketed cosine top-k — the same bucket-equi-join shape as the
    * embedding ANN (features are just another vector column; a media
    * corpus never gets an all-pairs stage). */
  def mediaNeighbors(spark: SparkSession, dir: String, k: Int = 3,
      nPlanes: Int = 6, nTables: Int = 4): DataFrame = {
    import spark.implicits._
    import graft.functions.HashExpressions.dotProduct
    import org.apache.spark.sql.expressions.Window
    // materialized once: the feature table feeds the stats pass plus
    // every LSH table branch — without this the decode/featurize stage
    // re-executes per branch
    val raw = ingest(spark, dir)
      .mapPartitions(StubFeaturizer.featurizeBatch _)
      .toDF()
      .localCheckpoint()
    // Non-negative features cluster in one orthant, where hyperplanes
    // through the origin cannot split them (every vector lands in one
    // bucket = accidental all-pairs). Mean-center for BUCKETING only —
    // one broadcast 1-row stats pass — and keep raw features for the
    // cosine scoring.
    val meanVec = raw
      .select(posexplode(col("feature")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(avg(col("x")).as("m"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("mean_vec"))
    val feats = raw.crossJoin(broadcast(meanVec))
      .select(col("doc_id"), col("feature"),
        expr("zip_with(feature, mean_vec, (x, m) -> x - m)").as("centered"))
    val rng = new scala.util.Random(7L)
    val tables = (0 until nTables).map { t =>
      val planes = Seq.fill(nPlanes)(Seq.fill(StubFeaturizer.DIM)(rng.nextGaussian()))
      val bucketCol = planes.zipWithIndex.map { case (p, j) =>
        when(dotProduct(col("centered"), typedlit(p)) > 0.0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      feats.select(col("doc_id"), col("feature"), lit(t).as("table_id"),
        bucketCol.as("bucket"))
    }.reduce(_ unionByName _)
      // materialized ONCE: the a/b bucket self-join below would
      // otherwise re-run all nTables hyperplane-projection branches on
      // each side (2× the featurize + bucketing work)
      .localCheckpoint()
    val a = tables.select(col("doc_id").as("id_a"), col("feature").as("fa"),
      col("table_id"), col("bucket"))
    val b = tables.select(col("doc_id").as("id_b"), col("feature").as("fb"),
      col("table_id"), col("bucket"))
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    a.join(b, Seq("table_id", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), dotProduct(col("fa"), col("fb")).as("c"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("c")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy(col("id_a"), col("rank"))
  }

  case class MediaHash(doc_id: Long, phash: Long)

  /** Decoded raster: row-major grayscale luminance in [0, 1]. */
  case class DecodedImage(doc_id: Long, width: Int, height: Int,
      gray: Array[Double])
  case class ImageFrame(doc_id: Long, frame_no: Long, width: Int,
      height: Int, frame_phash: Long)

  /** REAL image codec — pure-JDK `javax.imageio` (PNG/JPEG/GIF/BMP/
    * TIFF readers ship with Java 17; no container dependency). This is
    * the stage the stubs stand in for: same batched-partition
    * signature, real pixels. Kernels are deterministic — integer
    * ITU-R 601 luma, fixed row-major accumulation order — so decoded
    * features are bit-stable across runs and partitionings. */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file cache in executors

    /** BufferedImage → row-major grayscale [0,1] via integer 601 luma
      * (299r + 587g + 114b) / 1000 — exact for the 0/255 extremes. */
    def toGray(img: java.awt.image.BufferedImage): Array[Double] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val luma = 299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
            114 * (rgb & 0xff)
          out(y * w + x) = luma / 255000.0
          x += 1
        }
        y += 1
      }
      out
    }

    /** Decode one payload; None when no registered reader claims the
      * bytes (magic-header probe — plain text never decodes). */
    def decode(bytes: Array[Byte]): Option[(Int, Int, Array[Double])] =
      try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes)))
        .map(img => (img.getWidth, img.getHeight, toGray(img)))
      catch { case _: java.io.IOException => None }

    /** Batched partition decode — the real twin of
      * [[StubDecoder.decodeBatch]]: undecodable payloads drop (flatMap),
      * decoder state is partition-local. */
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[DecodedImage] =
      rows.flatMap { r =>
        decode(r.media).map { case (w, h, g) => DecodedImage(r.doc_id, w, h, g) }
      }

    /** Area-averaged box resize of a row-major grayscale raster onto a
      * `side`×`side` grid. Integer block boundaries. Accumulation is
      * EXACT: [[toGray]] emits L/255000.0 with integer L, recovered
      * exactly by rounding and summed as Long, so each cell is ONE
      * correctly-rounded division of an exact rational — a k×-scaled
      * block image resizes to bit-identical cell values (the aHash
      * scale-invariance property the spec pins), where a running
      * double sum would drift by an ulp per 64 additions. */
    def grayResize(gray: Array[Double], w: Int, h: Int,
        side: Int): Array[Double] = {
      val out = new Array[Double](side * side)
      var cy = 0
      while (cy < side) {
        val y0 = cy * h / side
        val y1 = math.max(y0 + 1, (cy + 1) * h / side)
        var cx = 0
        while (cx < side) {
          val x0 = cx * w / side
          val x1 = math.max(x0 + 1, (cx + 1) * w / side)
          var s = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              s += Math.round(gray(y * w + x) * 255000.0)
              x += 1
            }
            y += 1
          }
          out(cy * side + cx) =
            s.toDouble / ((y1 - y0).toLong * (x1 - x0) * 255000L).toDouble
          cx += 1
        }
        cy += 1
      }
      out
    }

    /** Average hash over a cell grid: bit i set iff cell i is brighter
      * than the grid mean. Shared by the stub and real paths — the
      * published algorithm is identical, only the pixels differ. */
    def ahash64(cells: Array[Double]): Long = {
      val mean = cells.sum / cells.length
      var h = 0L
      var i = 0
      while (i < cells.length && i < 64) {
        if (cells(i) > mean) h |= (1L << i)
        i += 1
      }
      h
    }

    /** Multi-frame containers (animated GIF, multi-page TIFF) → up to
      * `maxFrames` decoded frames; single-frame formats yield one. */
    def frames(bytes: Array[Byte],
        maxFrames: Int): Seq[(Int, Int, Int, Array[Double])] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      if (iis == null) return Seq.empty
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Seq.empty
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = math.min(reader.getNumImages(true), maxFrames)
            (0 until n).map { i =>
              val img = reader.read(i)
              (i, img.getWidth, img.getHeight, toGray(img))
            }
          } finally reader.dispose()
        }
      } catch { case _: java.io.IOException => Seq.empty }
      finally iis.close()
    }
  }

  /** Average-hash (aHash) perceptual fingerprint: threshold each cell
    * of the [[StubResizer]] 8×8 grid against the grid mean — bit i set
    * iff cell i is brighter than average. The HASH is the real
    * published algorithm ([[ImageCodec.ahash64]], shared with the
    * real-pixel path); only the decode underneath it is the stub. */
  object StubPerceptualHasher {
    def hashBatch(rows: Iterator[MediaRow]): Iterator[MediaHash] =
      StubResizer.resizeBatch(8)(rows).map { rm =>
        MediaHash(rm.doc_id, ImageCodec.ahash64(rm.pixels))
      }
  }

  /** Real decode over any media frame — crafted datasets in specs,
    * `binaryFile` directories in production. */
  def decodeImages(spark: SparkSession,
      rows: Dataset[MediaRow]): Dataset[DecodedImage] = {
    import spark.implicits._
    rows.mapPartitions(ImageCodec.decodeBatch _)
  }

  /** binaryFile directory → REAL decoded metadata: true raster
    * dimensions + content digest, batched exactly like
    * [[mediaMetaFromFiles]] but with pixels under it. Undecodable
    * files drop at the decode stage (count them upstream via the
    * listing if auditing coverage). */
  def imageMetaFromFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    import spark.implicits._
    decodeImages(spark, ingestFiles(spark, path, glob))
      .map { d =>
        val mean = if (d.gray.isEmpty) 0.0 else d.gray.sum / d.gray.length
        (d.doc_id, d.width.toLong, d.height.toLong,
          d.gray.length.toLong, math.rint(mean * 1e6) / 1e6)
      }
      .toDF("doc_id", "width", "height", "n_pixels", "mean_luma")
      .orderBy(col("doc_id"))
  }

  /** Real resize stage: decoded rasters → fixed `side`×`side`
    * area-averaged grids (the real twin of [[resized]]). */
  def imageResized(spark: SparkSession, rows: Dataset[MediaRow],
      side: Int = 8): DataFrame = {
    import spark.implicits._
    decodeImages(spark, rows)
      .map(d => ResizedMedia(d.doc_id, side, side,
        ImageCodec.grayResize(d.gray, d.width, d.height, side)))
      .toDF()
  }

  /** Real frame sampling: multi-frame containers fan out to one row
    * per frame (bounded by `maxFrames`), each carrying its own aHash —
    * the real twin of [[frames]]. */
  def imageFrames(spark: SparkSession, rows: Dataset[MediaRow],
      maxFrames: Int = 8): DataFrame = {
    import spark.implicits._
    rows.mapPartitions { it =>
      it.flatMap { r =>
        ImageCodec.frames(r.media, maxFrames).map { case (i, w, h, gray) =>
          ImageFrame(r.doc_id, i.toLong, w, h,
            ImageCodec.ahash64(ImageCodec.grayResize(gray, w, h, 8)))
        }
      }
    }.toDF().orderBy(col("doc_id"), col("frame_no"))
  }

  /** Real perceptual hash: decode → 8×8 area resize → aHash. */
  def imagePhashOn(spark: SparkSession,
      rows: Dataset[MediaRow]): DataFrame = {
    import spark.implicits._
    decodeImages(spark, rows)
      .map(d => MediaHash(d.doc_id,
        ImageCodec.ahash64(ImageCodec.grayResize(d.gray, d.width, d.height, 8))))
      .toDF()
  }

  /** Real-pixel near-duplicate pairs over an image directory: decode →
    * aHash → the same banded Hamming join as [[mediaPhashDup]]. */
  def imagePhashDupFromFiles(spark: SparkSession, path: String,
      r: Int = 3, glob: Option[String] = None): DataFrame =
    phashDupOn(imagePhashOn(spark, ingestFiles(spark, path, glob)), r)

  /** Payload → 64-bit perceptual hash, one partition-batched pass. */
  def mediaPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ingest(spark, dir)
      .mapPartitions(StubPerceptualHasher.hashBatch _)
      .toDF()
  }

  /** Any (doc_id, text) frame → (doc_id, phash) through the stub
    * hasher — the unit the pHash index append/probe batches feed. */
  def mediaPhashOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("media"))
      .as[MediaRow]
      .mapPartitions(StubPerceptualHasher.hashBatch _)
      .toDF()
  }

  /** Perceptual near-duplicate pairs: Hamming(phash) ≤ r via the
    * multi-index pigeonhole — split the 64-bit hash into 4 bands of
    * 16 bits; any pair within r ≤ 3 differing bits agrees on ≥ 1 band
    * (4 bands can absorb at most 3 errors), so a band equi-join
    * generates candidates with recall 1.0 and `bit_count(xor)` keeps
    * the exact ball. The SimHash text pipeline's shape applied to the
    * media column: linear band shuffle, no all-pairs stage, scales to
    * any corpus the band buckets stay sparse on. */
  def mediaPhashDup(spark: SparkSession, dir: String, r: Int = 3): DataFrame =
    phashDupOn(mediaPhash(spark, dir), r)

  /** The 4×16 pigeonhole bands of a (doc_id, phash) frame — the shared
    * candidate-generation core of [[phashDupOn]] and the persisted
    * index family. `band_key = xxhash64(band_id, band_sig)` is the
    * bucket column the stored layout co-locates on; joins still carry
    * the full (band_id, band_sig) so semantics stay collision-free. */
  private def phashBands(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), col("phash"),
        explode(expr(
          "transform(sequence(0, 3), " +
            "b -> struct(b AS band_id, " +
            "shiftright(phash, b * 16) & 65535 AS band_sig))")).as("band"))
      .select(col("doc_id"), col("phash"),
        col("band.band_id"), col("band.band_sig"),
        xxhash64(col("band.band_id"), col("band.band_sig")).as("band_key"))

  /** Band core shared by the stub and real-pixel phash-dup paths:
    * takes any (doc_id, phash) frame. */
  def phashDupOn(hashes: DataFrame, r: Int): DataFrame = {
    require(r <= 3, s"4x16 banding is pigeonhole-lossless only to r=3, got $r")
    // materialized ONCE: the self-join references the band subtree on
    // both sides, and without a checkpoint the whole decode/hash
    // mapPartitions stage under it executes twice (aliases differ, so
    // ReuseExchange cannot fold the sides)
    val bands = graft.Metrics.phase(hashes.sparkSession, "phash_dup.bands")(
      phashBands(hashes).localCheckpoint())
    bands.select(col("doc_id").as("doc_a"), col("phash").as("ha"),
        col("band_key"), col("band_id"), col("band_sig"))
      .join(bands.select(col("doc_id").as("doc_b"), col("phash").as("hb"),
        col("band_key"), col("band_id"), col("band_sig")),
        Seq("band_key", "band_id", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= r)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------
  // Persisted pHash band index — the EIGHTH index family. Same
  // build/probe/append/delete/purge + epoch-pin contract as
  // [[graft.operators.Dedup.buildMinhashIndex]]: the corpus's band
  // rows live BUCKETED by band_key, so screening an arriving media
  // batch is an equi-join that shuffles only the batch — media
  // near-dup at O(batch) per ingest wave instead of the O(corpus)
  // per-query band regeneration [[phashDupOn]] pays.
  // ---------------------------------------------------------------

  /** Build the persisted pHash band index over the media corpus. */
  def buildPhashIndex(spark: SparkSession, dir: String, name: String,
      nBuckets: Int = 8): Unit =
    buildPhashIndexOn(spark, mediaPhash(spark, dir), name, nBuckets)

  /** Core of [[buildPhashIndex]] over any (doc_id, phash) frame (the
    * real-pixel path feeds [[imagePhashOn]] output here). */
  def buildPhashIndexOn(spark: SparkSession, hashes: DataFrame,
      name: String, nBuckets: Int = 8): Unit = {
    graft.sources.FormatIO.writeBucketed(
      phashBands(hashes).withColumn("epoch", lit(0L)),
      s"${name}_bands", "band_key", nBuckets, sortCol = Some("band_key"))
    graft.sources.FormatIO.initIndex(spark, name, "doc_id")
  }

  /** Probe the persisted pHash index with a batch of (doc_id, phash)
    * rows: near-dup pairs against the indexed corpus at Hamming ≤ r,
    * symmetrized (doc_a < doc_b) and exact — the band equi-join
    * generates candidates with recall 1.0 (4 bands absorb ≤ 3 errors)
    * and `bit_count(xor)` keeps the ball. Probing the index's own
    * corpus reproduces [[phashDupOn]] (spec-checked). Epoch-pinned
    * once; tombstoned docs anti-joined before pair emission. */
  def probePhashIndex(spark: SparkSession, name: String,
      newHashes: DataFrame, r: Int = 3): DataFrame = {
    require(r <= 3, s"4x16 banding is pigeonhole-lossless only to r=3, got $r")
    val pin = graft.sources.FormatIO.committedEpoch(spark, name)
    val probe = phashBands(newHashes)
      .select(col("doc_id"), col("phash").as("ha"),
        col("band_key"), col("band_id"), col("band_sig"))
    val index = graft.sources.FormatIO.liveAt(spark, name, s"${name}_bands", pin)
      .select(col("doc_id").as("idx_doc"), col("phash").as("hb"),
        col("band_key"), col("band_id"), col("band_sig"))
    // no terminal orderBy: library probe, presentation order is the
    // caller's (PlanHygieneSpec discipline)
    probe.join(index, Seq("band_key", "band_id", "band_sig"))
      .filter(col("doc_id") =!= col("idx_doc"))
      .select(least(col("doc_id"), col("idx_doc")).as("doc_a"),
        greatest(col("doc_id"), col("idx_doc")).as("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= r)
  }

  /** DELTA APPEND a batch of (doc_id, phash) rows into the persisted
    * pHash index — O(batch) per wave, bucket placement identical to a
    * rebuild's, published under one epoch commit
    * (`append(batch) ∘ build(corpus)` is probe-equal to
    * `build(corpus ∪ batch)`, parity-spec-proved). Replay-safe by
    * probe construction: a band row duplicated by a stream replay
    * (`Streams.foreachBatchStream`) cannot create a phantom pair —
    * pairs are distinct-ed and Hamming-verified against the full
    * 64-bit hash. */
  def appendToPhashIndex(spark: SparkSession, name: String,
      newHashes: DataFrame): Unit = {
    val e = graft.sources.FormatIO.stageIndexEpoch(spark, name,
      Seq(s"${name}_bands"))
    graft.sources.FormatIO.appendBucketed(spark,
      phashBands(newHashes).withColumn("epoch", lit(e)), s"${name}_bands")
    graft.sources.FormatIO.commitIndexEpoch(spark, name, e)
  }

  /** TOMBSTONE-DELETE media docs from the persisted pHash index — one
    * [[graft.sources.FormatIO.deleteWave]], bytes reclaimed by
    * [[purgePhashTombstones]]. */
  def deleteFromPhashIndex(spark: SparkSession, name: String,
      docIds: DataFrame): Unit =
    graft.sources.FormatIO.deleteWave(spark, name, docIds.select(col("doc_id")))

  /** Physically erase tombstoned docs' band rows (bucket-preserving
    * rewrite, doubles as a compaction). */
  def purgePhashTombstones(spark: SparkSession, name: String)
      : graft.sources.FormatIO.TableCompactStats =
    graft.sources.FormatIO.purgeTombstones(spark, name,
      Seq(s"${name}_bands")).head
}
