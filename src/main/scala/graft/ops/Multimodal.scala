package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column handling: media payloads ride through the engine as
  * opaque `binary` columns with typed metadata alongside. Decode /
  * feature-extraction runs per-partition in batches (the Scala analogue
  * of `mapInPandas`): partition-local, no driver involvement, output
  * schema declared up front.
  *
  * IMAGE decode is REAL: the JDK's `javax.imageio` (PNG/JPEG/BMP/GIF)
  * ships in every JRE with no native dependencies — `aHash` hashes the
  * decoded pixels (q224, q249). UNCOMPRESSED AUDIO decode is REAL too:
  * `javax.sound.sampled` also ships in every JRE, so `decodeWavSamples`
  * reads WAV-PCM samples for the q231 fingerprint. Video codecs
  * genuinely do not ship in this container, so video payloads go
  * through `frameSampleStub`, which cuts fixed-size byte windows (q225).
  * Payloads the JDK cannot parse drop out rather than kill the
  * partition.
  */
object Multimodal {

  /** STUB frame sampling for video payloads: every nth "frame" is a
    * fixed-size byte window; real codecs slot in behind the same
    * signature (payload → frames). */
  def frameSampleStub(payload: Array[Byte], frameSize: Int, everyN: Int): Seq[Array[Byte]] = {
    if (frameSize <= 0 || everyN <= 0) Seq.empty
    else payload.grouped(frameSize).zipWithIndex
      .collect { case (frame, i) if i % everyN == 0 => frame }.toSeq
  }

  case class FrameMeta(doc_id: Long, frame_idx: Int, n_bytes: Long, frame_md5: String)

  /** Per-partition frame explosion: one media row → N sampled-frame rows.
    * Output cardinality is data-dependent, so this is an iterator-to-
    * iterator flatMap (no per-task buffering). */
  def sampleFrames(df: DataFrame, frameSize: Int = 256, everyN: Int = 2): Dataset[FrameMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        frameSampleStub(bytes, frameSize, everyN).zipWithIndex.map { case (f, i) =>
          val md = java.security.MessageDigest.getInstance("MD5").digest(f)
          FrameMeta(id, i, f.length.toLong, md.map("%02x".format(_)).mkString)
        }
      })
  }

  // --- Perceptual-hash image dedup ------------------------------------
  //
  // Exact dedup (md5 of the payload) misses the commonest image
  // duplicate of all: THE SAME PIXELS RE-ENCODED (png vs bmp, different
  // compressor settings, stripped metadata). The standard cheap answer
  // is a perceptual hash over the DECODED pixels — aHash: average-pool
  // to an 8×8 grayscale, set bit i when cell i is brighter than the
  // mean — so re-encodes collide exactly and small local edits land
  // within a few bits.
  //
  // Scale shape: hashing is one partition-local decode pass (64 bits
  // per image on the shuffle, never pixels). Pairing uses the q26
  // banding idea with a DETERMINISTIC guarantee instead of a
  // probabilistic one: split the 64 bits into 4 × 16-bit bands and
  // join on (band index, band bits) — by pigeonhole, any pair at
  // Hamming distance ≤ 3 has at least one band with zero differing
  // bits, so recall at the declared radius is EXACT, not estimated.
  // The band join collides only plausible candidates; a codegen'd
  // `bit_count(xor)` verifies the true distance.

  case class ImageHash(doc_id: Long, ahash: Long)

  /** 64-bit average hash of a decodable image; None for payloads
    * ImageIO cannot parse (corrupt objects degrade, never kill the
    * partition). */
  def aHash(payload: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException | _: RuntimeException => null }
    Option(img).map { im =>
      val w = im.getWidth; val h = im.getHeight
      val cells = new Array[Double](64)
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          // integer cell boxes; images narrower than 8px fall back to
          // the nearest pixel so the hash stays total
          val x0 = cx * w / 8; val x1 = math.max(x0 + 1, (cx + 1) * w / 8)
          val y0 = cy * h / 8; val y1 = math.max(y0 + 1, (cy + 1) * h / 8)
          var sum = 0.0; var n = 0; var y = y0
          while (y < y1 && y < h) {
            var x = x0
            while (x < x1 && x < w) {
              val rgb = im.getRGB(x, y)
              sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
                0.114 * (rgb & 0xff)
              n += 1; x += 1
            }
            y += 1
          }
          cells(cy * 8 + cx) = if (n == 0) 0.0 else sum / n
          cx += 1
        }
        cy += 1
      }
      val mean = cells.sum / 64
      var bits = 0L; var i = 0
      while (i < 64) { if (cells(i) > mean) bits |= (1L << i); i += 1 }
      bits
    }
  }

  /** Per-image perceptual hashes: partition-local decode, 8 bytes per
    * image on the wire. Rows whose payload does not decode are absent
    * (they have no pixels to hash; exact dedup still covers them). */
  def imageHashes(df: DataFrame): Dataset[ImageHash] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        aHash(bytes).map(ImageHash(id, _))
      })
  }

  /** Near-duplicate image pairs (d1 < d2, dist) at Hamming distance
    * ≤ `maxDist` over the aHash — EXACT recall for `maxDist ≤ nBands - 1`
    * by the pigeonhole banding above, `bit_count(xor)` verify. The
    * 100 TB plan: band the DISTINCT hash values only, so band-bucket
    * occupancy is bounded by distinct-hash density and the commonest
    * duplicate of all (byte-for-byte re-encodes of the same pixels,
    * which collapse to ONE hash value) stops being quadratic inside
    * the band join. Distance-0 pairs come from a plain equi-self-join
    * on `ahash` (quadratic only in true output size — at larger scale
    * the caller would keep the GROUPS and skip pair expansion, exactly
    * like exact-dedup canonicalization); distance ≥ 1 pairs expand the
    * surviving distinct-hash pairs back through two membership joins. */
  def imageNearDupPairsCollapsed(hashes: DataFrame, maxDist: Int = 3,
                                 nBands: Int = 4): DataFrame = {
    require(maxDist <= nBands - 1,
      s"pigeonhole guarantee needs maxDist <= nBands - 1 ($maxDist vs $nBands)")
    val width = 64 / nBands
    val uniq = hashes.select(col("ahash")).distinct()
    val banded = uniq.select(col("ahash"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("ahash"), b * width)
              .bitwiseAND(lit((1L << width) - 1)).as("bits"))
        }: _*)).as("bk"))
      .select(col("ahash"), col("bk.band").as("band"), col("bk.bits").as("bits"))
    val hashPairs = banded.select(col("band"), col("bits"), col("ahash").as("h1"))
      .join(banded.select(col("band"), col("bits"), col("ahash").as("h2")),
        Seq("band", "bits"))
      .filter(col("h1") < col("h2"))
      .select(col("h1"), col("h2")).distinct()
      .withColumn("dist",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("dist").between(1, maxDist))
    val members = hashes.select(col("ahash"), col("doc_id"))
    val cross = hashPairs
      .join(members.select(col("ahash").as("h1"), col("doc_id").as("da")), Seq("h1"))
      .join(members.select(col("ahash").as("h2"), col("doc_id").as("db")), Seq("h2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("dist"))
    val same = members.select(col("ahash"), col("doc_id").as("d1"))
      .join(members.select(col("ahash"), col("doc_id").as("d2")), Seq("ahash"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(0L).as("dist"))
    cross.union(same)
  }

  // --- Synthetic decodable image corpus (q224) -------------------------
  //
  // The container ships no real media files, but the JDK's ImageIO is a
  // REAL lossless codec pair (PNG + BMP), so the engine can synthesize
  // its own decodable corpus: a deterministic 16×16 grayscale image per
  // document (pixel blocks from splitmix64 of the doc_id), emitted as
  // (a) a PNG, (b) the SAME pixels re-encoded as BMP — the classic
  // perceptual duplicate exact dedup misses, Hamming distance 0 by
  // construction — and, for a subset, (c) a lightly-edited copy (three
  // 2×2 blocks brightened) landing at a small-but-uncontrolled Hamming
  // distance. Everything downstream of the pixels is the REAL path:
  // ImageIO decode, Rec.601 aHash, banded pairing.

  /** Deterministic 16×16 grayscale pixels for a doc: one gray level per
    * 2×2 block (so each aHash cell reads one exact value). */
  private def synthCells(seed: Long): Array[Int] =
    Array.tabulate(64) { i =>
      ((graft.functions.BloomFormat.splitmix64(seed * 64 + i) >>> 40) & 0xff).toInt
    }

  /** Encode 8×8 gray blocks as a 16×16 image via the named ImageIO
    * writer ("png" or "bmp" — both lossless RGB in the JDK). */
  def encodeCells(cells: Array[Int], format: String): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val g = cells((y / 2) * 8 + (x / 2)) & 0xff
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, format, baos)
    baos.toByteArray
  }

  /** (img_id, variant, payload) corpus: per doc a PNG (img_id = 4·doc),
    * the same pixels as BMP (4·doc+1), every 5th doc an edited copy
    * (4·doc+2), every 7th an unrelated image (4·doc+3). Partition-local
    * encode; payloads never leave the stage that hashes them. */
  def imageCorpus(s: SparkSession, dir: String): DataFrame =
    imageCorpusOf(Tables.documents(s, dir).select(col("doc_id")))

  /** The synth core over any (doc_id) frame (the soak feeds replicated
    * ids through here). */
  def imageCorpusOf(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val cells = synthCells(id)
        val base = Seq(
          (id * 4, "png", encodeCells(cells, "png")),
          (id * 4 + 1, "bmp", encodeCells(cells, "bmp")))
        val edited = if (id % 5 == 0) {
          val c2 = cells.clone()
          var j = 0
          while (j < 3) { c2(j * 21 % 64) = math.min(255, c2(j * 21 % 64) + 48); j += 1 }
          Seq((id * 4 + 2, "edit", encodeCells(c2, "png")))
        } else Seq.empty
        val unrelated = if (id % 7 == 0)
          Seq((id * 4 + 3, "other", encodeCells(synthCells(id + 999983L), "png")))
        else Seq.empty
        base ++ edited ++ unrelated
      }).toDF("img_id", "variant", "payload")
  }

  /** q224's persisted aHash sidecar (the q205 "persisted model is data"
    * recipe: pixel decode cannot run in SQL, so the hash table is the
    * oracle's input; everything AFTER the pixels is replayed). */
  val ImageHashPath: String = graft.Sidecars.path("graft_image_ahash.parquet")

  /** q224: perceptual image near-dup ORACLE-GATED — real PNG/BMP decode
    * → aHash (persisted) → hash-collapsed banded pairing at Hamming ≤ 3.
    * The oracle replays the DEFINITIONAL all-pairs Hamming filter from
    * the sidecar, so it proves both the pair semantics AND the
    * pigeonhole recall claim (a banding bug that dropped a ≤ 3 pair
    * would break the hash, not hide behind the approximation). */
  def q224ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    val hashes = imageHashes(
      imageCorpus(s, dir).select(col("img_id").as("doc_id"), col("payload")))
    hashes.toDF().write.mode("overwrite").parquet(ImageHashPath)
    imageNearDupPairsCollapsed(s.read.parquet(ImageHashPath))
      .orderBy(col("d1"), col("d2"))
  }

  /** q225: video frame sampling ORACLE-GATED — the `mapPartitions`
    * frame-explosion dataflow (schema, batching, per-frame md5) proven
    * hash-for-hash: the oracle re-windows the payload bytes in SQL
    * (every 2nd 256-byte window) and md5s each window. */
  def q225FrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(s, dir).filter(col("media_type") === "video"))
      .toDF()
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("n_bytes"), col("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))

  // --- Audio fingerprint near-dup (q231) -------------------------------
  //
  // The audio twin of q224: the JDK's javax.sound.sampled is a REAL
  // WAV-PCM codec pair, so the engine synthesizes decodable audio (a
  // two-sine mixture per doc, 16-bit mono PCM), re-encodes perceptual
  // duplicates (an exactly-half-volume copy — different bytes, same
  // fingerprint by construction since sign(e_{w+1} − e_w) is invariant
  // under uniform scaling of even samples), and fingerprints through
  // the REAL decode path. The fingerprint is the Haitsma–Kalker /
  // Shazam-family energy-delta sign bit: split the clip into 65
  // windows, e_w = Σ s² (exact integer), bit w = [e_{w+1} > e_w] — 64
  // bits, integer-exact end to end, so both the engine and any replay
  // agree bit-for-bit.

  /** Decode a WAV-PCM payload to raw integer samples (sign-corrected,
    * all channels interleaved) via the real javax.sound parser. None
    * for anything it cannot parse — degrade, don't die. */
  def decodeWavSamples(payload: Array[Byte]): Option[Array[Int]] = {
    import javax.sound.sampled.{AudioSystem, AudioFormat}
    try {
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val signed = fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED
        val pcm = signed || fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
        val bits = fmt.getSampleSizeInBits
        if (!pcm || (bits != 8 && bits != 16)) None
        else {
          val bytes = ais.readAllBytes()
          val big = fmt.isBigEndian
          val step = bits / 8
          val out = new Array[Int](bytes.length / step)
          var i = 0; var k = 0
          while (i + step <= bytes.length) {
            out(k) =
              if (bits == 8) {
                if (signed) bytes(i).toInt else (bytes(i) & 0xff) - 128
              } else {
                val lo = if (big) bytes(i + 1) else bytes(i)
                val hi = if (big) bytes(i) else bytes(i + 1)
                val raw = ((hi & 0xff) << 8) | (lo & 0xff)
                if (signed) raw.toShort.toInt else raw - 32768
              }
            i += step; k += 1
          }
          Some(out)
        }
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException |
           _: java.io.IOException | _: RuntimeException => None
    }
  }

  /** 64-bit energy-delta fingerprint over `nWin` windows (exact integer
    * energies; short clips pad missing windows with energy 0). 65
    * windows → 64 delta bits: the full Long must carry signal, or the
    * upper bands of the 4×16 pigeonhole banding would be constant-zero
    * and their band-buckets would degenerate to all-pairs. */
  def audioFingerprint(samples: Array[Int], nWin: Int = 65): Long = {
    val win = math.max(1, samples.length / nWin)
    val e = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      var i = w * win
      val end = math.min(samples.length, (w + 1) * win)
      var sum = 0L
      while (i < end) { sum += samples(i).toLong * samples(i); i += 1 }
      e(w) = sum
      w += 1
    }
    var bits = 0L; var k = 0
    while (k < nWin - 1) { if (e(k + 1) > e(k)) bits |= (1L << k); k += 1 }
    bits
  }

  /** Real WAV encode: raw 16-bit little-endian mono PCM through the
    * JDK's AudioSystem WAVE writer. */
  def encodeWav(samples: Array[Int], sampleRate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = math.max(-32768, math.min(32767, samples(i)))
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Deterministic two-sine clip for a doc (2048 samples @ 8 kHz),
    * quantized to EVEN ints so the half-volume variant divides exactly.
    * StrictMath keeps the synth platform-independent. */
  private def synthSamples(seed: Long): Array[Int] = {
    val h1 = graft.functions.BloomFormat.splitmix64(seed)
    val h2 = graft.functions.BloomFormat.splitmix64(seed + 1)
    val f1 = 200.0 + ((h1 >>> 32) % 1800L).toDouble
    val f2 = 200.0 + ((h2 >>> 32) % 1800L).toDouble
    val a1 = 6000.0 + ((h1 & 0xffff) % 4000L).toDouble
    val a2 = 3000.0 + ((h2 & 0xffff) % 3000L).toDouble
    Array.tabulate(2048) { t =>
      val v = a1 * StrictMath.sin(2.0 * StrictMath.PI * f1 * t / 8000.0) +
        a2 * StrictMath.sin(2.0 * StrictMath.PI * f2 * t / 8000.0)
      2 * StrictMath.round(v / 2.0).toInt
    }
  }

  /** (aud_id, variant, payload) corpus: per doc the base WAV (4·doc),
    * an exactly-half-volume copy (4·doc+1 — different bytes, SAME
    * fingerprint), every 5th doc a phase-shifted copy (4·doc+2, near
    * fingerprint), every 7th an unrelated clip (4·doc+3). */
  def audioCorpus(s: SparkSession, dir: String): DataFrame =
    audioCorpusOf(Tables.documents(s, dir).select(col("doc_id")))

  /** The synth core over any (doc_id) frame. */
  def audioCorpusOf(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val base = synthSamples(id)
        val half = base.map(_ / 2)
        val out = Seq(
          (id * 4, "wav", encodeWav(base)),
          (id * 4 + 1, "halfvol", encodeWav(half)))
        val shifted = if (id % 5 == 0)
          Seq((id * 4 + 2, "shift",
            encodeWav(Array.tabulate(2048)(t => base((t + 7) % 2048)))))
        else Seq.empty
        val unrelated = if (id % 7 == 0)
          Seq((id * 4 + 3, "other", encodeWav(synthSamples(id + 424243L))))
        else Seq.empty
        out ++ shifted ++ unrelated
      }).toDF("aud_id", "variant", "payload")
  }

  /** q231's persisted fingerprint sidecar (pixel/PCM decode is not SQL
    * — the q224 rule). */
  val AudioFpPath: String = graft.Sidecars.path("graft_audio_fp.parquet")

  /** q231: audio perceptual near-dup ORACLE-GATED — real WAV encode →
    * real javax.sound decode → integer energy-delta fingerprint
    * (persisted) → the q224 hash-collapsed pigeonhole-banded pairing
    * at Hamming ≤ 3. Oracle: definitional all-pairs Hamming from the
    * sidecar. */
  def q231AudioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fps = audioCorpus(s, dir).select(col("aud_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        decodeWavSamples(bytes).map(sm => (id, audioFingerprint(sm)))
      }).toDF("doc_id", "ahash")
    fps.write.mode("overwrite").parquet(AudioFpPath)
    imageNearDupPairsCollapsed(s.read.parquet(AudioFpPath))
      .orderBy(col("d1"), col("d2"))
  }

  /** Synthesizes a media table from `documents` (text bytes stand in for
    * an encoded payload) — the container has no real media files. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"))

  /** q30: metadata over the binary column via pure column exprs (the
    * oracle-facing subset — byte length, content hash, head byte). The
    * stubbed decode path is exercised by ScalaTest instead. */
  def q30MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    mediaTable(s, dir)
      .select(
        col("doc_id"), col("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        ascii(col("payload").cast("string")).cast("long").as("head_byte"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- //
  // CROSS-MODAL joint dedup (r13 verdict ask #8): the q224 image path //
  // and the q26 caption path intersected into one decision frame.     //
  // ---------------------------------------------------------------- //

  /** Content-derived image seed per document — the multimodal-corpus
    * synthesis rule: each document carries "its article photo", seeded
    * by the doc's TOP-5 tokens (count desc, token asc tie-break,
    * sorted + space-joined, first 52 md5 bits). A near-duplicate copy
    * that preserves the frequency head re-uploads the SAME photo (the
    * dominant real-world case); an edit that shifts the head gets a
    * different one — so the joint decision below genuinely exercises
    * both the agree and disagree branches. Scale shape: one token
    * count aggregate; the rank window partitions per doc (bounded by
    * doc vocabulary). */
  private[ops] def contentImageSeeds(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Par.widen(docs)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
    cnt.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("n").desc, col("tok"))))
      .filter(col("rn") <= 5)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", sort_array(collect_list(col("tok")))).as("fp"))
      .select(col("doc_id"),
        conv(substring(md5(col("fp")), 1, 13), 16, 10).cast("long").as("seed"))
  }

  /** q249's persisted sidecar: (doc_id, seed, ahash). Unlike q224's,
    * the SEED rides along — the oracle recomputes it from `documents`
    * in SQL and joins on (doc_id, seed), so the content→image rule is
    * gate-checked too; only pixels→aHash is trusted input (the q205
    * persisted-model-is-data boundary, same as q224).
    *
    * COVERAGE (r14): the sidecar holds only LSH candidate-PAIR MEMBERS,
    * not the whole corpus — every consumer (the engine's d1/d2 inner
    * joins and the oracle's) reads pair members only, so the codec pass
    * runs at candidate scale. Do not compare it against a full-coverage
    * sidecar from a pre-r14 round, and a future consumer needing
    * per-doc coverage must re-derive it, not read this. */
  val CrossModalHashPath: String = graft.Sidecars.path("graft_crossmodal_ahash.parquet")

  /** q249: CROSS-MODAL joint dedup — the near-dup decision a
    * multimodal curation stack actually takes: caption (text) LSH
    * pairs are the CANDIDATES (the q26 chain, verified Jaccard ≥ 0.5),
    * and each candidate pair is confirmed or refuted by its images'
    * perceptual distance (REAL ImageIO decode → Rec.601 aHash, the
    * q224 path) — `joint_dup` = images within Hamming ≤ 3. Candidates
    * → confirm is also the 100 TB shape: the image comparison runs
    * per CANDIDATE pair (O(LSH candidates)), never as an all-pairs
    * image join. */
  def q249CrossModalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // Candidates FIRST, images only for their members: every consumer
    // of the image hashes (the confirm joins here, the oracle's inner
    // joins) touches only docs appearing in an LSH pair, so the
    // PNG encode→decode→aHash codec pass — the dominant cost — runs
    // per CANDIDATE MEMBER, not per corpus doc (r14: 5000 codec calls
    // → |pair members|; the scaladoc's candidates→confirm shape now
    // holds for the hashing too, which is also the 100 TB form — a
    // corpus-wide codec pass cannot be the price of a pair decision).
    // The pair frame is pair-scale — pinned once for the member cut
    // and the final joins.
    val pairs = Dedup.minhashLshPairs(docs).localCheckpoint()
    val members = pairs
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val hashes = contentImageSeeds(
        docs.join(members, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("seed")).as[(Long, Long)]
      .mapPartitions(_.map { case (id, seed) =>
        // .get, not getOrElse: a JDK PNG the JDK cannot re-decode is a
        // broken codec path and must fail loudly, not hash to a default
        (id, seed, aHash(encodeCells(synthCells(seed), "png")).get)
      }).toDF("doc_id", "seed", "ahash")
    hashes.write.mode("overwrite").parquet(CrossModalHashPath)
    val h = s.read.parquet(CrossModalHashPath)
    pairs
      .join(h.select(col("doc_id").as("d1"), col("ahash").as("a1")), Seq("d1"))
      .join(h.select(col("doc_id").as("d2"), col("ahash").as("a2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("jaccard"),
        expr("CAST(bit_count(a1 ^ a2) AS BIGINT)").as("img_hamming"))
      .withColumn("joint_dup", col("img_hamming") <= 3)
      .orderBy(col("d1"), col("d2"))
  }
}
