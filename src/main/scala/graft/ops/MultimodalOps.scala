package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata, and run decode / feature-extraction as a
  * *batched* per-partition stage — the Scala analogue of an Arrow-batched
  * decode UDF (same shape: executor-side batches of rows in, feature rows
  * out, decode library called once per batch).
  *
  * No real image/audio bytes exist in the testdata, so the registry queries
  * use the document text's UTF-8 bytes as payloads and [[StubDecoder]]
  * derives deterministic fake media features from them. Everything around
  * the decoder — the binary+metadata schema, the typed Dataset, the batched
  * mapPartitions stage, the partitioning — is the real production plumbing,
  * and [[ImageIoDecoder]] PROVES the one-swap claim: the same batch contract
  * backed by `javax.imageio`, exercised with real in-memory PNGs by
  * `ImageIoDecodeSpec` (decode + letterbox resize on actual pixels).
  */
object MultimodalOps {

  /** One media record: opaque payload + typed metadata (the schema a 100 TB
    * media lake would carry next to parquet row groups).
    */
  final case class MediaRecord(doc_id: Long, data: Array[Byte], source: String, n_chars: Long)

  /** Extracted features (all derivable deterministically by the stub). */
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, first_byte: Long,
      width: Long, height: Long, ok: Boolean)

  /** One executed letterbox resize: the q154 plan's geometry plus the
    * checksum of the produced output bytes (content region; the box×box
    * output's remaining bytes are letterbox zeros, contributing nothing).
    */
  final case class ResizedImage(doc_id: Long, width: Long, height: Long,
      out_w: Long, out_h: Long, pad_x: Long, pad_y: Long,
      n_out_bytes: Long, byte_sum: Long)

  /** The decode stub: deterministic fake decode of a payload batch. A real
    * implementation would hand the whole batch to a vectorized decoder; the
    * batch-in/batch-out signature is the contract.
    */
  object StubDecoder extends Serializable {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val n = r.data.length.toLong
        val first = if (n > 0) java.lang.Byte.toUnsignedLong(r.data(0)) else 0L
        MediaFeatures(r.doc_id, n, first, n % 640, (n * 7) % 480, n > 0)
      }

    /** EXECUTE the q154 letterbox plan on the actual payload: for every
      * output pixel of the fitted content region, nearest-neighbor-map back
      * to a source coordinate (sx = x·w DIV out_w — the same integer floor
      * as the plan) and read the REAL payload byte at the stub pixel
      * address (sy·w + sx) mod n. byte_sum is the checksum of all produced
      * output bytes (padding is zeros). A real decoder replaces the byte
      * addressing; the per-batch walk, the geometry, and the checksum
      * contract stay.
      */
    def resizeBatch(batch: Seq[MediaRecord], box: Int): Seq[ResizedImage] =
      batch.flatMap { r =>
        val n = r.data.length
        val width = (n % 640).toLong
        val height = (n.toLong * 7) % 480
        if (width <= 0 || height <= 0) None
        else {
          val m = math.max(width, height)
          val outW = width * box / m
          val outH = height * box / m
          var sum = 0L
          var y = 0
          while (y < outH) {
            val rowBase = (y * height / outH) * width
            var x = 0
            while (x < outW) {
              val sx = x * width / outW
              sum += java.lang.Byte.toUnsignedLong(r.data(((rowBase + sx) % n).toInt))
              x += 1
            }
            y += 1
          }
          Some(ResizedImage(r.doc_id, width, height, outW, outH,
            (box - outW) / 2, (box - outH) / 2, box.toLong * box, sum))
        }
      }
  }

  /** REAL image decoder behind the SAME batch contract as [[StubDecoder]] —
    * `javax.imageio` ships with the JDK (PNG/JPEG/BMP/GIF), so no container
    * codec is needed to prove the plumbing is one-swap from production. The
    * registry queries stay on the stub because the testdata payloads are
    * synthetic text bytes, not images; `ImageIoDecodeSpec` drives THIS
    * decoder with real in-memory PNGs through the same executor-side
    * batched-mapPartitions stage the stub queries use.
    */
  object ImageIoDecoder extends Serializable {
    private def read(data: Array[Byte]): java.awt.image.BufferedImage =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
      catch { case _: Throwable => null } // undecodable payload → ok=false row

    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val n = r.data.length.toLong
        val first = if (n > 0) java.lang.Byte.toUnsignedLong(r.data(0)) else 0L
        val img = read(r.data)
        if (img == null) MediaFeatures(r.doc_id, n, first, 0L, 0L, ok = false)
        else MediaFeatures(r.doc_id, n, first, img.getWidth.toLong, img.getHeight.toLong, ok = true)
      }

    /** Decode + whole-image Σ(R+G+B) checksum — the q316 roundtrip's decode
      * half (undecodable payloads degrade to an ok=false row).
      */
    def decodeSumBatch(batch: Seq[MediaRecord]): Seq[PngRoundtrip] =
      batch.map { r =>
        val img = read(r.data)
        if (img == null) PngRoundtrip(r.doc_id, 0L, 0L, ok = false, 0L)
        else {
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
              x += 1
            }
            y += 1
          }
          PngRoundtrip(r.doc_id, img.getWidth.toLong, img.getHeight.toLong, ok = true, sum)
        }
      }

    /** The q154/q156 letterbox geometry on REAL pixels: nearest-neighbor map
      * each content-region output pixel back to a source pixel (the same
      * integer floor arithmetic as [[StubDecoder.resizeBatch]]) and checksum
      * the produced bytes as Σ(R+G+B) over content pixels (padding is zeros,
      * contributing nothing) — byte-level contract unchanged, byte SOURCE
      * swapped from fake addressing to decoded pixels.
      */
    def resizeBatch(batch: Seq[MediaRecord], box: Int): Seq[ResizedImage] =
      batch.flatMap { r =>
        val img = read(r.data)
        if (img == null) None
        else {
          val width = img.getWidth.toLong
          val height = img.getHeight.toLong
          val m = math.max(width, height)
          val outW = width * box / m
          val outH = height * box / m
          var sum = 0L
          var y = 0
          while (y < outH) {
            val sy = (y * height / outH).toInt
            var x = 0
            while (x < outW) {
              val sx = (x * width / outW).toInt
              val rgb = img.getRGB(sx, sy)
              sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
              x += 1
            }
            y += 1
          }
          Some(ResizedImage(r.doc_id, width, height, outW, outH,
            (box - outW) / 2, (box - outH) / 2, box.toLong * box, sum))
        }
      }
  }

  /** One real-codec roundtrip row (q316): geometry and pixel checksum the
    * decoder RECOVERED from actual PNG bytes.
    */
  final case class PngRoundtrip(doc_id: Long, width: Long, height: Long,
      ok: Boolean, pix_sum: Long)

  /** q316 — the REAL codec inside a verified registry query: each document
    * is rendered executor-side into an actual PNG (geometry and fill color
    * are deterministic functions of `n_chars` / `doc_id`), the bytes go
    * through [[ImageIoDecoder]], and the output is what the DECODER
    * recovered — dimensions and the Σ(R+G+B) pixel checksum. The oracle
    * computes the same values from the construction arithmetic alone, so a
    * decoder that misread size, color depth, or a single pixel value fails
    * the hash. This closes the q44/q156 stub asterisk inside the oracle
    * gate itself (the testdata has no image bytes, so the query makes its
    * own — every byte that reaches the decoder is a real PNG).
    *
    * Scale shape: row-local encode/decode in 32-record batches inside one
    * mapPartitions (no shuffle until the presentation sort); at 100 TB this
    * is exactly the decode-and-featurize pass, with the synthetic render
    * swapped for a payload column read.
    */
  def pngRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
    recs.mapPartitions { it =>
      it.grouped(32).flatMap { batch =>
        val encoded = batch.map { case (d, n) =>
          val w = (n % 64).toInt + 1
          val h = ((n * 7) % 48).toInt + 1
          val rgb = ((((d % 256) << 16) | (((d * 7) % 256) << 8) | ((d * 13) % 256))).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          MediaRecord(d, out.toByteArray, "png", n)
        }
        ImageIoDecoder.decodeSumBatch(encoded)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  val pngRoundtripOracle: String =
    """SELECT doc_id, (n_chars % 64) + 1 AS width, ((n_chars * 7) % 48) + 1 AS height,
      | true AS ok,
      | ((n_chars % 64) + 1) * (((n_chars * 7) % 48) + 1)
      |   * ((doc_id % 256) + ((doc_id * 7) % 256) + ((doc_id * 13) % 256)) AS pix_sum
      |FROM documents ORDER BY doc_id""".stripMargin

  /** documents → binary media records (payload = UTF-8 bytes of `text`). */
  def mediaRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"),
        col("source"), col("n_chars"))
      .as[MediaRecord]
  }

  /** Batched feature extraction: 32-record batches per call inside
    * mapPartitions (amortizes per-call decoder setup exactly like the
    * enrichment engine amortizes API calls). Output is a plain DataFrame —
    * ready for the relational layer.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaRecords(spark, dir)
      .mapPartitions(_.grouped(32).flatMap(b => StubDecoder.decodeBatch(b.toSeq)))
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("first_byte"), col("width"), col("height"))
      .orderBy(col("doc_id"))
  }

  /** Frame sampling: one output row per sampled "frame" — every 4th frame
    * index of a payload whose frame count derives from its byte length
    * (stub: 40 bytes/frame; a real video column would read the container
    * index). The explode is the row-amplification pattern a video pipeline
    * needs — per-frame rows feeding the relational layer — with
    * amplification bounded by the stride. Per-frame feature (stub luma) is
    * deterministic from payload bytes + index.
    */
  def frameSample(spark: SparkSession, dir: String, stride: Int = 4): DataFrame = {
    val nf = expr("octet_length(encode(text, 'UTF-8')) DIV 40") // frames per payload
    Tables.documents(spark, dir)
      .select(col("doc_id"), ascii(substring(col("text"), 1, 1)).cast("long").as("fb"), nf.as("nf"))
      .filter(col("nf") > 0)
      .select(col("doc_id"), col("fb"),
        explode(sequence(lit(0L), col("nf") - 1, lit(stride.toLong))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        ((col("fb") + col("frame_idx") * 31) % 256).as("luma"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Overlapping fixed-window chunking (the ASR / audio-embedding
    * pre-processing shape): window `winBytes` with hop `hopBytes`, last
    * window clipped to the payload end, chunk count = ⌈max(n−win,0)/hop⌉+1
    * (ceil, not unfold's floor: floor DROPS the tail when hop ∤ n−win; the
    * extra clipped chunk guarantees every byte is covered — short payloads
    * yield exactly one clipped chunk). Differs from q69's strided FRAME
    * sampling: windows OVERLAP (hop < win), the amplification a streaming
    * ASR pipeline feeds to per-chunk inference. Per-chunk stub feature
    * derives from the chunk's first byte + clipped length; the corpus is
    * ASCII so byte offsets equal char offsets (a real audio column would
    * slice the binary payload directly).
    */
  def audioChunks(spark: SparkSession, dir: String,
                  winBytes: Long = 200, hopBytes: Long = 80): DataFrame = {
    val doc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr("octet_length(encode(text, 'UTF-8'))").cast("long").as("n_bytes"))
    doc
      .select(col("doc_id"), col("text"), col("n_bytes"),
        explode(sequence(lit(0L),
          expr(s"(greatest(n_bytes - ${winBytes}L, 0L) + ${hopBytes - 1}L) DIV ${hopBytes}L"),
          lit(1L))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * hopBytes).as("start_byte"),
        least(lit(winBytes), col("n_bytes") - col("chunk_idx") * hopBytes).as("chunk_bytes"),
        ((ascii(substring(col("text"), (col("chunk_idx") * hopBytes + 1).cast("int"), lit(1))) * 31 +
          least(lit(winBytes), col("n_bytes") - col("chunk_idx") * hopBytes)) % 256).as("stub_rms"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** 2D patch-grid tiling — the vision analogue of [[audioChunks]]: each
    * "image" (stub dimensions derived from the payload, as in
    * [[StubDecoder]]) becomes its ⌈W/t⌉×⌈H/t⌉ grid of t×t tiles, the layout
    * a ViT-style patch pipeline feeds to per-tile encoding. Edge tiles are
    * CLIPPED, never dropped (q125's tail-covering ceil convention in two
    * dimensions — every pixel belongs to exactly one tile). Row
    * amplification is two chained generates, bounded by the grid size per
    * payload and running inside whole-stage codegen; tile features are
    * per-tile rows ready for the relational layer, and a real decoder slots
    * in behind the same (x0, y0, w, h) contract.
    */
  def imageTiles(spark: SparkSession, dir: String, tile: Int = 32): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("fb"),
        expr("octet_length(encode(text, 'UTF-8'))").cast("long").as("nb"))
      .withColumn("width", col("nb") % 640)
      .withColumn("height", (col("nb") * 7) % 480)
      .filter(col("width") > 0 && col("height") > 0)
    d
      .withColumn("tx", explode(sequence(lit(0L), expr(s"(width + ${tile - 1}L) DIV ${tile}L - 1L"))))
      .withColumn("ty", explode(sequence(lit(0L), expr(s"(height + ${tile - 1}L) DIV ${tile}L - 1L"))))
      .select(col("doc_id"), col("tx"), col("ty"),
        (col("tx") * tile).as("x0"), (col("ty") * tile).as("y0"),
        least(lit(tile.toLong), col("width") - col("tx") * tile).as("w"),
        least(lit(tile.toLong), col("height") - col("ty") * tile).as("h"),
        ((col("fb") + col("tx") * 31 + col("ty") * 17 + col("width") + col("height")) % 256).as("luma"))
      .orderBy(col("doc_id"), col("tx"), col("ty"))
  }

  /** Aspect-preserving letterbox resize planning — the fourth member of the
    * decode / feature-extract / resize / frame-sample quartet: each image
    * (stub dimensions, as everywhere in this family) is fitted into a
    * `box`×`box` square, scaled by min(box/w, box/h) and centered with
    * letterbox padding. All geometry is EXACT integer arithmetic
    * ((d·box) DIV max(w,h), pad = (box−out) DIV 2 — floor semantics match
    * `//` in the twin), so the resize plan hash-matches across engines; the
    * pixel resample itself is the stubbed step (a real decoder consumes
    * exactly these (out_w, out_h, pad_x, pad_y) per the family contract).
    * Pure per-row projection — no shuffle, fully codegen.
    */
  def imageResize(spark: SparkSession, dir: String, box: Int = 224): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("fb"),
        expr("octet_length(encode(text, 'UTF-8'))").cast("long").as("nb"))
      .withColumn("width", col("nb") % 640)
      .withColumn("height", (col("nb") * 7) % 480)
      .filter(col("width") > 0 && col("height") > 0)
      .withColumn("out_w", expr(s"(width * $box) DIV greatest(width, height)"))
      .withColumn("out_h", expr(s"(height * $box) DIV greatest(width, height)"))
      .select(col("doc_id"), col("width"), col("height"),
        col("out_w"), col("out_h"),
        expr(s"($box - out_w) DIV 2").as("pad_x"),
        expr(s"($box - out_h) DIV 2").as("pad_y"),
        ((col("fb") * 31 + col("out_w") * 7 + col("out_h")) % 256).as("stub_checksum"))
      .orderBy(col("doc_id"))

  /** q156 — the EXECUTED letterbox resize ([[StubDecoder.resizeBatch]]):
    * q154's geometry applied to the actual binary column through the q44
    * batched-decode path, emitting per-image output-byte checksums. Same
    * batched mapPartitions stage as [[mediaFeatures]] — no driver hops, row
    * amplification zero (one row in, one row out), the per-record pixel
    * walk is executor-CPU exactly like a real resampler.
    */
  def imageResizeExec(spark: SparkSession, dir: String, box: Int = 224): DataFrame = {
    import spark.implicits._
    mediaRecords(spark, dir)
      .mapPartitions(_.grouped(32).flatMap(b => StubDecoder.resizeBatch(b.toSeq, box)))
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Perceptual-hash (average-hash) near-duplicate detection over the media
    * payloads — the image member of the dedup family (q39 dedups text by
    * word sets; THIS dedups media by content signature): 64 payload samples
    * on a uniform grid, bit i set when sample i is above the 64-sample mean
    * (integer-exact: `64·bᵢ > Σb` avoids the division), Hamming-banded
    * candidate join (four 16-bit bands — only same-band hashes meet, the
    * SimHash/q59 shuffle shape), popcount verify at distance ≤
    * [[PhashMaxHamming]]. Everything is row-local integer arithmetic until
    * the band shuffle, and the band keys are 2-byte ints — at 100 TB the
    * hash computation rides the decode scan and the join moves 10-byte
    * rows. Recall caveat (same as q39/q59): a ≤6-bit difference CAN touch
    * all four bands; the banding is deterministic, so Spark and the twin
    * agree on exactly which pairs are candidates.
    */
  val PhashMaxHamming = 6L

  /** Scene-cut detection over the per-frame fingerprint stream — the video
    * segmentation member of the family (q69 samples frames; THIS finds the
    * boundaries between visually-distinct runs): every frame's fingerprint
    * is the payload byte at the frame's start offset (stub for a real
    * frame-histogram; deterministic from content, unlike q69's ramp
    * feature), a cut is a fingerprint jump > `threshold` vs the PREVIOUS
    * frame (lag window partitioned per doc — embarrassingly parallel
    * across docs, ordered by bounded frame index within), rolled up to
    * per-doc cut count / max jump / first cut. Row amplification is the
    * frame count (payload_bytes/40), then immediately re-aggregated under
    * the same doc key — one shuffle of 3-int rows at 100 TB.
    */
  def sceneCuts(spark: SparkSession, dir: String, frameBytes: Int = 40,
                threshold: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val doc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr(s"octet_length(encode(text, 'UTF-8')) DIV $frameBytes").cast("long").as("nf"))
      .filter(col("nf") > 0)
    val frames = doc
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("nf") - 1)).as("f"))
      .select(col("doc_id"), col("f"),
        ascii(substring(col("text"), (col("f") * frameBytes + 1).cast("int"), lit(1)))
          .cast("long").as("fp"))
    val w = Window.partitionBy("doc_id").orderBy("f")
    frames
      .withColumn("delta", abs(col("fp") - lag(col("fp"), 1).over(w)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("delta") > threshold, 1L).otherwise(0L)).as("n_cuts"),
        coalesce(max(col("delta")), lit(0L)).as("max_jump"),
        min(when(col("delta") > threshold, col("f"))).as("first_cut"))
      .orderBy(col("doc_id"))
  }

  /** The per-payload 64-bit average-hash (doc_id, phash) — exposed so the
    * spec can brute-force the candidate+verify semantics against it. */
  def phashes(spark: SparkSession, dir: String): DataFrame = {
    // 64 grid samples; mean test via 64·b > total (integer-exact), computed
    // by the one-pass codegen kernel [[graft.functions.AvgHash64]]. History:
    // the pure-SQL HOF formulation (separate bs/total withColumns) measured
    // 17 s at sf0.01 because Catalyst's pushed-down isnotnull(join key) +
    // CollapseProject inlined `total` (a 64-substring scan) into every
    // bit-test iteration; singleton-array lambda-binding fixed the blowup
    // (2.2 s), and the compiled kernel removes the remaining 64 interpreted
    // lambda frames per row while staying inside whole-stage codegen
    // (bench: 2.6 s → sub-second at sf0.1). The kernel's semantics are the
    // SQL formulation the DuckDB oracle still checks verbatim.
    Tables.documents(spark, dir)
      .filter(expr("octet_length(encode(text, 'UTF-8')) > 0"))
      .select(col("doc_id"),
        graft.functions.VectorFunctions.avghash64(col("text")).as("phash"))
  }

  /** pHash near-dup pairs: [[Banding.hammingNearDup]] over [[phashes]] at
    * distance ≤ [[PhashMaxHamming]].
    */
  def phashNearDup(spark: SparkSession, dir: String): DataFrame =
    Banding.hammingNearDup(phashes(spark, dir), "phash", PhashMaxHamming)

  // -- DuckDB oracle twins of the registry queries built here (SparkEntry.registry)
  def mediaFeaturesOracle: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte,
      | CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
      | CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin
  def frameSampleOracle: String =
    """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
      | CAST((ascii(substring(text, 1, 1)) + f * 31) % 256 AS BIGINT) AS luma
      |FROM (SELECT doc_id, text, unnest(range(0, octet_length(encode(text)) // 40, 4)) AS f
      |      FROM documents)
      |ORDER BY doc_id, frame_idx""".stripMargin
  def audioChunksOracle: String =
    """SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
      | CAST(k * 80 AS BIGINT) AS start_byte,
      | CAST(least(200, n_bytes - k * 80) AS BIGINT) AS chunk_bytes,
      | CAST((ascii(substring(text, CAST(k * 80 + 1 AS INT), 1)) * 31
      |       + least(200, n_bytes - k * 80)) % 256 AS BIGINT) AS stub_rms
      |FROM (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes,
      |        unnest(range(0, (greatest(n_bytes - 200, 0) + 79) // 80 + 1)) AS k
      |      FROM documents)
      |ORDER BY doc_id, chunk_idx""".stripMargin
  def imageTilesOracle: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS fb,
      |    CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
      |    CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height
      |  FROM documents
      |  WHERE octet_length(encode(text)) % 640 > 0
      |    AND (octet_length(encode(text)) * 7) % 480 > 0),
      |dx AS (SELECT doc_id, fb, width, height,
      |         unnest(range(0, (width + 31) // 32)) AS tx FROM d),
      |dxy AS (SELECT doc_id, fb, width, height, tx,
      |          unnest(range(0, (height + 31) // 32)) AS ty FROM dx)
      |SELECT doc_id, tx, ty,
      | CAST(tx * 32 AS BIGINT) AS x0, CAST(ty * 32 AS BIGINT) AS y0,
      | CAST(least(32, width - tx * 32) AS BIGINT) AS w,
      | CAST(least(32, height - ty * 32) AS BIGINT) AS h,
      | CAST((fb + tx * 31 + ty * 17 + width + height) % 256 AS BIGINT) AS luma
      |FROM dxy ORDER BY doc_id, tx, ty""".stripMargin
  def imageResizeOracle: String =
    """SELECT doc_id,
      | CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
      | CAST((width * 224) // greatest(width, height) AS BIGINT) AS out_w,
      | CAST((height * 224) // greatest(width, height) AS BIGINT) AS out_h,
      | CAST((224 - (width * 224) // greatest(width, height)) // 2 AS BIGINT) AS pad_x,
      | CAST((224 - (height * 224) // greatest(width, height)) // 2 AS BIGINT) AS pad_y,
      | CAST((fb * 31 + ((width * 224) // greatest(width, height)) * 7
      |       + (height * 224) // greatest(width, height)) % 256 AS BIGINT) AS stub_checksum
      |FROM (SELECT doc_id,
      |        CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS fb,
      |        octet_length(encode(text)) % 640 AS width,
      |        (octet_length(encode(text)) * 7) % 480 AS height
      |      FROM documents)
      |WHERE width > 0 AND height > 0 ORDER BY doc_id""".stripMargin
  // replay of the pixel walk over the doc's byte list: y = p DIV out_w,
  // x = p MOD out_w; one list per doc is built once, then indexed per
  // pixel — the twin of the executor-side nearest-neighbor loop
  def imageResizeExecOracle: String =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS nb,
      |    CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
      |    CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height
      |  FROM documents
      |  WHERE octet_length(encode(text)) % 640 > 0
      |    AND (octet_length(encode(text)) * 7) % 480 > 0),
      |g AS (SELECT doc_id, nb, width, height,
      |    (width * 224) // greatest(width, height) AS out_w,
      |    (height * 224) // greatest(width, height) AS out_h,
      |    list_transform(range(1, nb + 1), i -> ascii(substring(text, CAST(i AS INT), 1))) AS bl
      |  FROM d)
      |SELECT doc_id, width, height, out_w, out_h,
      | CAST((224 - out_w) // 2 AS BIGINT) AS pad_x,
      | CAST((224 - out_h) // 2 AS BIGINT) AS pad_y,
      | CAST(224 * 224 AS BIGINT) AS n_out_bytes,
      | CAST(coalesce(list_sum(list_transform(range(out_w * out_h),
      |   p -> bl[CAST(1 + (((p // out_w) * height // out_h) * width
      |                     + (p % out_w) * width // out_w) % nb AS INT)])), 0) AS BIGINT) AS byte_sum
      |FROM g ORDER BY doc_id""".stripMargin
  def phashNearDupOracle: String = {
    val bandJoins = (0 to 3).map { k =>
      s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.phash AS ph_a, b.phash AS ph_b\n" +
        s"  FROM h a JOIN h b ON ((a.phash >> ${k * 16}) & 65535) = ((b.phash >> ${k * 16}) & 65535)\n" +
        s"   AND a.doc_id < b.doc_id"
    }.mkString("\n  UNION\n  ")
    s"""WITH d AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS nb
       |          FROM documents WHERE octet_length(encode(text)) > 0),
       |g AS (SELECT doc_id,
       |        list_transform(range(0, 64),
       |          i -> CAST(ascii(substring(text, CAST((i * nb) // 64 AS INT) + 1, 1)) AS BIGINT)) AS bs
       |      FROM d),
       |h AS (SELECT doc_id,
       |        -- bit 63 is the BIGINT sign bit: DuckDB range-checks 1<<63,
       |        -- so emit the min-long value directly (Spark's shiftleft
       |        -- wraps to the same two's-complement value)
       |        CAST(list_sum(list_transform(range(0, 64),
       |          i -> CASE WHEN bs[CAST(i AS INT) + 1] * 64 > list_sum(bs)
       |               THEN (CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
       |                     ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END)
       |               ELSE 0 END)) AS BIGINT) AS phash
       |      FROM g),
       |cand AS (
       |  $bandJoins)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(ph_a, ph_b)) <= $PhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }
  def sceneCutsOracle: String =
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) // 40 AS nf
      |          FROM documents WHERE octet_length(encode(text)) // 40 > 0),
      |f AS (SELECT doc_id, text, unnest(range(0, nf)) AS f FROM d),
      |fp AS (SELECT doc_id, f,
      |         CAST(ascii(substring(text, CAST(f * 40 + 1 AS INT), 1)) AS BIGINT) AS fp
      |       FROM f),
      |dl AS (SELECT doc_id, f,
      |         abs(fp - lag(fp) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
      |       FROM fp)
      |SELECT doc_id, count(*) AS n_frames,
      |       CAST(sum(CASE WHEN delta > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      |       CAST(coalesce(max(delta), 0) AS BIGINT) AS max_jump,
      |       min(CASE WHEN delta > 64 THEN f END) AS first_cut
      |FROM dl GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
