package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.StreamingQueries.eachBatch

/** A media record: opaque bytes + typed metadata, the schema shape a
  * 100 TB multimodal corpus uses (payload as parquet binary, metadata as
  * queryable columns so pruning/filtering never touches the bytes).
  */
case class MediaRecord(doc_id: Long, kind: String, n_bytes: Long, payload: Array[Byte])

/** Decoded features (what an image/audio decoder would emit). */
case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long,
                         width: Int, height: Int, n_frames: Int, checksum: Long)

/** Pluggable decoder seam: a real deployment binds an image/audio decoder
  * here; this container has no media libs, so the default is a
  * DETERMINISTIC FAKE that derives "decoded" dimensions from the payload
  * bytes. The Spark-side plumbing (typed Dataset, mapPartitions batching,
  * partition-local decoder init) is real and tested.
  */
trait MediaDecoder extends Serializable {
  def decode(r: MediaRecord): MediaFeatures
}

/** Stand-in decoder: width/height/frames are pure functions of the payload
  * so results are oracle-checkable. A real decoder replaces exactly this
  * class and nothing else.
  */
object DeterministicFakeDecoder extends MediaDecoder {
  def decode(r: MediaRecord): MediaFeatures = {
    val b0 = if (r.payload.nonEmpty) r.payload(0) & 0xff else 0
    val b1 = if (r.payload.length > 1) r.payload(1) & 0xff else 0
    // rolling checksum, same recurrence as TextAnalysis.fingerprint
    var h = 0L
    var i = 0
    while (i < r.payload.length) { h = (h * 31 + (r.payload(i) & 0xff)) % 1000000007L; i += 1 }
    MediaFeatures(r.doc_id, r.kind, r.n_bytes,
      width = 16 * (1 + b0 % 64), height = 16 * (1 + b1 % 64),
      n_frames = 1 + (r.n_bytes / 64).toInt, checksum = h)
  }
}

/** Multimodal-column plumbing over synthesized binary payloads (the
  * testdata has no real media, so payloads are the UTF-8 document bytes —
  * the plumbing doesn't care what the bytes mean).
  */
object Multimodal {

  /** Ingest a directory of raw media files as binary records via Spark's
    * `binaryFile` source — the real on-ramp for an image/audio corpus
    * (payload bytes + path/size metadata, no decoding at scan time; the
    * `pathGlobFilter` option restricts by extension). Kind is the
    * lowercased file extension, so `photo.JPG` and `photo.jpg` both land
    * in kind `jpg` and downstream `kind === ...` filters see one spelling.
    * NOTE: `pathGlobFilter` itself stays case-sensitive (Hadoop glob
    * semantics) — pass a class glob like `*.{jpg,JPG}` when the corpus
    * mixes cases, or leave the default `*` and filter on `kind`. The
    * decode seam is the same [[MediaDecoder]].
    */
  def fromBinaryFiles(spark: SparkSession, dir: String, glob: String = "*"): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        // a stable id from the file path (no global counter to coordinate)
        expr("CAST(conv(substr(md5(path), 1, 15), 16, 10) AS LONG)").as("doc_id"),
        lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1)).as("kind"),
        col("length").as("n_bytes"),
        col("content").as("payload"))
      .as[MediaRecord]
  }

  /** documents -> typed media records (binary payload + metadata). */
  def mediaRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        (when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video")).as("kind"),
        length(col("text")).cast("long").as("n_bytes"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  /** Decode via mapPartitions: the decoder is resolved once per partition
    * (the pattern that amortizes native-lib init over a whole parquet row
    * group at scale), rows stream through without materializing the
    * partition.
    */
  def decodeFeatures(ds: Dataset[MediaRecord], decoder: MediaDecoder = DeterministicFakeDecoder): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val d = decoder // partition-local handle; real impl would init native libs here
      it.map(d.decode)
    }
  }

  /** End-to-end: records -> mapPartitions decode -> DataFrame, ordered. */
  def features(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(mediaRecords(spark, dir)).toDF().orderBy("doc_id")

  /** Deterministic frame sampling over video records: every 8th frame
    * index, each tagged with a per-frame signature derived from the decoded
    * checksum (stand-in for a real frame-extract; a real decoder would
    * emit frame bytes from exactly this (payload, frame_idx) seam). The
    * explode happens AFTER metadata-only decode — the payload bytes are
    * never duplicated per frame, which is what keeps a 100 TB video corpus
    * from exploding 8x through the shuffle.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(mediaRecords(spark, dir)).toDF()
      .filter(col("kind") === "video")
      .selectExpr("doc_id", "checksum", "explode(sequence(0, n_frames - 1, 8)) AS frame_idx")
      .selectExpr("doc_id", "frame_idx", "(checksum * 31 + frame_idx) % 1000000007 AS frame_sig")
      .orderBy("doc_id", "frame_idx")

  val frameSampleOracle: String =
    """WITH feat AS (
      |  SELECT doc_id,
      |    CAST(1 + length(text) // 64 AS INT) AS n_frames,
      |    CASE WHEN length(text) = 0 THEN 0 ELSE
      |      list_reduce(list_transform(range(1, length(text) + 1),
      |          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      |        (h, c) -> (h * 31 + c) % 1000000007) END AS checksum
      |  FROM documents WHERE doc_id % 3 = 2
      |)
      |SELECT doc_id, frame_idx, (checksum * 31 + frame_idx) % 1000000007 AS frame_sig
      |FROM (SELECT doc_id, checksum, unnest(range(0, n_frames, 8)) AS frame_idx FROM feat)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** EXACT payload dedup over the binary column: identical media bytes
    * collapse to one canonical record (min doc_id), keyed on
    * (kind, n_bytes, checksum) — the media twin of text dedup_exact,
    * computed WITHOUT ever shuffling the payload bytes: the decode seam
    * emits the fixed-width content key per partition, and only
    * (doc_id, key) tuples move through the one hash shuffle. At 100 TB
    * of video that byte-free shuffle is the whole point; a stronger
    * content hash (the real decoder's md5/sha) swaps into exactly the
    * checksum slot.
    */
  def payloadDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("kind", "n_bytes", "checksum")
    decodeFeatures(mediaRecords(spark, dir)).toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("checksum"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .select("doc_id", "kind", "canonical_id", "is_canonical")
      .orderBy("doc_id")
  }

  val payloadDedupOracle: String =
    """WITH feat AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    CASE WHEN length(text) = 0 THEN 0 ELSE
      |      list_reduce(list_transform(range(1, length(text) + 1),
      |          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      |        (h, c) -> (h * 31 + c) % 1000000007) END AS checksum
      |  FROM documents
      |)
      |SELECT doc_id, kind,
      |  min(doc_id) OVER (PARTITION BY kind, n_bytes, checksum) AS canonical_id,
      |  doc_id = min(doc_id) OVER (PARTITION BY kind, n_bytes, checksum) AS is_canonical
      |FROM feat
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Perceptual-hash NEAR-dup (the multimodal twin of SimHash dedup)
  // -------------------------------------------------------------------------

  /** Bit width / band split / Hamming radius of the perceptual hash.
    * 60 bits (the repo-wide md5-prefix convention) in [[PhashBands]] bands
    * of [[PhashBandBits]]; by pigeonhole, two hashes within Hamming
    * distance [[PhashMaxHamming]] = bands - 1 MUST agree on at least one
    * full band, so the banded candidate join is EXACT — not a recall
    * trade like MinHash banding — while never going all-pairs.
    */
  val PhashBands = 4
  val PhashBandBits = 15
  val PhashMaxHamming: Int = PhashBands - 1

  /** The perceptual-hash seam, split from [[MediaDecoder]] so the decode
    * schema stays put: a real deployment binds pHash/aHash (images),
    * chromaprint (audio) or a frame-pooled variant (video) here. The
    * stand-in is a real byte-level SimHash — each overlapping 4-byte gram
    * votes ±1 per bit by its 60-bit md5-prefix hash — which IS a valid
    * perceptual hash for raw byte streams (locality: payloads differing
    * in a few bytes flip few votes), and is exactly replayable in SQL so
    * the near-dup verdicts stay oracle-checkable. md5-per-gram buys the
    * cross-engine agreement; a production hasher would swap in a rolling
    * 64-bit mix at this one seam.
    */
  trait PerceptualHasher extends Serializable {
    def phash(r: MediaRecord): Long
  }

  /** The PRODUCTION hasher for the byte-SimHash seam: the same
    * vote-per-overlapping-4-byte-gram structure as [[ByteSimHashHasher]]
    * (locality lives in the VOTE structure — a few corrupted bytes touch
    * a few grams and shift a few votes — not in the per-gram hash), but
    * the gram hash is a rolling 32-bit byte window finalized by the
    * SplitMix64 mixer (Steele et al., JDK SplittableRandom): O(1) work
    * and ZERO allocation per byte, where the stand-in pays a full
    * MessageDigest reset/update/digest per gram — O(payload) MD5 calls
    * per record, the decode stage's dominant cost at media scale. Not
    * SQL-replayable (DuckDB has no SplitMix64), which is exactly why the
    * md5 stand-in remains the CORRECTNESS default: the oracle queries
    * replay md5; deployments bind this one at the [[PerceptualHasher]]
    * seam. HasherSpec pins the locality contract and that the dedup
    * chain is hasher-generic.
    */
  object RollingMixHasher extends PerceptualHasher {
    private def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def phash(r: MediaRecord): Long = {
      val votes = new Array[Int](60)
      var g = 0L
      var i = 0
      while (i < r.payload.length) {
        g = ((g << 8) | (r.payload(i) & 0xffL)) & 0xffffffffL
        if (i >= 3) {
          val h = mix64(g) >>> 4 // 60 bits, same width as the md5 prefix
          var j = 0
          while (j < 60) { votes(j) += (if (((h >> j) & 1L) == 1L) 1 else -1); j += 1 }
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 60) { if (votes(j) > 0) out |= 1L << j; j += 1 }
      out
    }
  }

  object ByteSimHashHasher extends PerceptualHasher {
    def phash(r: MediaRecord): Long = {
      val votes = new Array[Long](60)
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      while (i + 4 <= r.payload.length) {
        md.reset()
        md.update(r.payload, i, 4)
        val d = md.digest()
        // first 15 hex digits = 60 bits, same convention as hash60
        var h = 0L
        var k = 0
        while (k < 8) { // 7.5 bytes; mask the low nibble of byte 7 out below
          h = (h << 8) | (d(k) & 0xffL); k += 1
        }
        h = h >>> 4 // keep the TOP 15 nibbles of the 16 consumed
        var j = 0
        while (j < 60) { votes(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L); j += 1 }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 60) { if (votes(j) > 0) out |= 1L << j; j += 1 }
      out
    }
  }

  /** records -> (doc_id, kind, phash) via mapPartitions, the same
    * partition-local-init pattern as [[decodeFeatures]]: only the
    * fixed-width hash leaves the decode stage, payload bytes never
    * shuffle.
    */
  def phashes(ds: Dataset[MediaRecord], hasher: PerceptualHasher = ByteSimHashHasher): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val h = hasher
      it.map(r => (r.doc_id, r.kind, h.phash(r)))
    }.toDF("doc_id", "kind", "phash")
  }

  /** PERCEPTUAL NEAR-DUP over media payloads — what [[payloadDedup]]
    * cannot see: re-encoded/lightly-corrupted copies whose bytes differ
    * but whose perceptual signature survives (the image-dedup verb every
    * multimodal training pipeline runs before captioning). A doc keeps
    * unless some LOWER-id same-kind doc sits within Hamming
    * [[PhashMaxHamming]] of its phash; the reported match is the
    * (closest, then smallest-id) such doc.
    *
    * Scale shape: candidates ride a hash EQUI-join on (kind, band,
    * band-sig) — never all-pairs — and the pigeonhole argument above
    * makes that pruning EXACT at this radius. Only (doc_id, kind, phash)
    * tuples move; the best-match fold is a min-of-struct aggregate whose
    * partial collapses per doc before the exchange (band-duplicate
    * candidate pairs fold away in the same aggregate, no distinct pass).
    */
  def phashDedup(spark: SparkSession, dir: String): DataFrame =
    phashDedupWith(spark, dir, ByteSimHashHasher)

  /** [[phashDedup]] with the hasher supplied — the chain is
    * hasher-generic: banding, candidate join, and best-match fold see
    * only 60-bit longs. The default stays [[ByteSimHashHasher]] because
    * its md5 grams are SQL-replayable (the oracle); production binds
    * [[RollingMixHasher]] here.
    */
  def phashDedupWith(spark: SparkSession, dir: String,
      hasher: PerceptualHasher): DataFrame = {
    val ph = phashes(mediaRecords(spark, dir), hasher)
    val mask = (1L << PhashBandBits) - 1
    val bandCols = (0 until PhashBands).map(b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(phash, ${b * PhashBandBits}) & $mask").as("bsig")))
    val bands = ph.select(col("doc_id"), col("kind"), col("phash"),
        explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("kind"), col("phash"),
        col("bd.band").as("band"), col("bd.bsig").as("bsig"))
    val best = bands.as("a").join(bands.as("b"),
        expr("a.kind = b.kind AND a.band = b.band AND a.bsig = b.bsig " +
          "AND a.doc_id > b.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        expr("bit_count(a.phash ^ b.phash)").as("ham"),
        col("b.doc_id").as("cand_id"))
      .filter(col("ham") <= PhashMaxHamming)
      .groupBy("doc_id")
      .agg(min(struct(col("ham"), col("cand_id"))).as("m"))
      .select(col("doc_id"), col("m.cand_id").as("match_id"),
        col("m.ham").cast("long").as("match_ham"))
    ph.select("doc_id", "kind")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("kind"), col("match_id").isNull.as("keep"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("match_ham"), lit(-1L)).as("match_ham"))
      .orderBy("doc_id")
  }

  /** Replays the byte-SimHash (every overlapping 4-char gram votes by its
    * md5-prefix hash — payloads are the UTF-8 text bytes, ASCII here, so
    * substr grams ARE the byte grams) and then judges near-dups by
    * BRUTE-FORCE pairing — the independent formulation: the Spark side
    * must reach the same verdicts through the banded equi-join, which the
    * pigeonhole bound says is lossless at this radius.
    */
  val phashDedupOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    text
       |  FROM documents
       |),
       |grams AS (
       |  -- range() as a scalar list (not a lateral table function — DuckDB
       |  -- rejects column params there); empty for docs under 4 bytes
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(text) - 2, 1)),
       |    i -> CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 4)), 1, 15)) AS BIGINT))) AS h
       |  FROM d
       |),
       |votes AS (
       |  SELECT g.doc_id, j,
       |    sum(CASE WHEN (g.h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM grams g, range(0, 60) q(j)
       |  GROUP BY g.doc_id, j
       |),
       |ph AS (
       |  SELECT d.doc_id, d.kind,
       |    coalesce((SELECT CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
       |              FROM votes v WHERE v.doc_id = d.doc_id), 0) AS phash
       |  FROM d
       |),
       |pairs AS (
       |  SELECT a.doc_id, bit_count(CAST(xor(a.phash, b.phash) AS BIT)) AS ham, b.doc_id AS cand_id
       |  FROM ph a JOIN ph b ON a.kind = b.kind AND a.doc_id > b.doc_id
       |  WHERE bit_count(CAST(xor(a.phash, b.phash) AS BIT)) <= $PhashMaxHamming
       |),
       |best AS (
       |  SELECT doc_id, cand_id AS match_id, CAST(ham AS BIGINT) AS match_ham FROM (
       |    SELECT doc_id, ham, cand_id,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY ham, cand_id) AS rn
       |    FROM pairs
       |  ) WHERE rn = 1
       |)
       |SELECT ph.doc_id, ph.kind, best.match_id IS NULL AS keep,
       |  coalesce(best.match_id, CAST(-1 AS BIGINT)) AS match_id,
       |  coalesce(best.match_ham, CAST(-1 AS BIGINT)) AS match_ham
       |FROM ph LEFT JOIN best ON ph.doc_id = best.doc_id
       |ORDER BY ph.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Continuous multimodal admission (the phash ingest loop)
  // -------------------------------------------------------------------------

  /** (doc_id, kind, phash) -> one row per band: the index layout. The
    * index is bucketed by band signature, so arriving batches join
    * co-located — the multimodal twin of the dedup corpus band table.
    */
  private[graft] def phashBandsOf(ph: DataFrame): DataFrame = {
    val mask = (1L << PhashBandBits) - 1
    val bandCols = (0 until PhashBands).map(b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(phash, ${b * PhashBandBits}) & $mask").as("bsig")))
    ph.select(col("doc_id"), col("kind"), col("phash"),
        explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("kind"), col("phash"),
        col("bd.band").as("band"), col("bd.bsig").as("bsig"))
  }

  /** The 80/20 corpus/arrival split, shared with the text ingest loop so
    * the fixtures line up across modalities.
    */
  private[graft] def corpusMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    mediaRecords(spark, dir).filter(col("doc_id") % 10 < 8).as[MediaRecord]
  }

  /** Persist the corpus phash band index, bucketed by band signature. */
  def persistPhashBands(spark: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit =
    phashBandsOf(phashes(corpusMedia(spark, dir)))
      .write.mode("overwrite").bucketBy(buckets, "bsig").saveAsTable(table)

  /** Per-arrival verdict against the index: suppressed when ANY indexed
    * same-kind entry sits within Hamming [[PhashMaxHamming]] (pigeonhole
    * makes the band pruning exact at this radius); the reported match is
    * the (closest, then smallest-id) indexed entry.
    */
  private[graft] def phashVerdictFor(newPh: DataFrame, indexBands: DataFrame): DataFrame = {
    val cand = phashBandsOf(newPh).as("a")
      .join(indexBands.as("b"),
        expr("a.kind = b.kind AND a.band = b.band AND a.bsig = b.bsig"))
      .select(col("a.doc_id").as("doc_id"),
        expr("bit_count(a.phash ^ b.phash)").as("ham"),
        col("b.doc_id").as("cand_id"))
      .filter(col("ham") <= PhashMaxHamming)
      .groupBy("doc_id")
      .agg(min(struct(col("ham"), col("cand_id"))).as("m"))
      .select(col("doc_id"), col("m.cand_id").as("match_id"),
        col("m.ham").cast("long").as("match_ham"))
    newPh.select("doc_id", "kind")
      .join(cand, Seq("doc_id"), "left")
      .select(col("doc_id"), col("kind"), col("match_id").isNull.as("keep"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("match_ham"), lit(-1L)).as("match_ham"))
      .orderBy("doc_id")
  }

  /** Append the kept arrivals' band rows to the index, preserving the
    * bucket layout (same single-writer maintenance contract as the text
    * loop's admitBands).
    */
  private[graft] def admitPhashBands(newPh: DataFrame, verdicts: DataFrame,
      table: String): Unit = {
    val spark = newPh.sparkSession
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(s"$table is not a bucketed band table"))
    phashBandsOf(newPh)
      .join(verdicts.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .write.mode("append").bucketBy(buckets, "bsig").saveAsTable(table)
  }

  /** CONTINUOUS MULTIMODAL ADMISSION — the self-growing phash loop, the
    * multimodal twin of the text ingest loop (`Dedup
    * .incrementalStreamAdmitting`): each arriving media micro-batch is
    * perceptually hashed MAP-ONLY at the decode seam (payload bytes never
    * leave the stage), judged against the CURRENT index snapshot, handed
    * to `onBatch`, and its keepers admitted — so a later batch's
    * re-encoded copy of an admitted original is suppressed at Hamming 0.
    * Verdicts are judged against corpus + strictly-earlier batches
    * (same-batch peers are not candidates), which keeps the emission
    * deterministic under any intra-batch ordering.
    */
  def phashAdmitStream(newMedia: DataFrame, table: String,
      checkpointLocation: Option[String] = None)(
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newMedia, checkpointLocation) { batch =>
      val spark = batch.sparkSession
      import spark.implicits._
      val ph = phashes(batch.as[MediaRecord]).cache()
      try {
        // replay-safe: an at-least-once re-delivery must not see the
        // batch's own earlier admission (same contract as the text
        // loop's replaySafeCorpus)
        val idx = spark.table(table)
          .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_anti")
        val v = phashVerdictFor(ph, idx).cache()
        try {
          onBatch(v)
          admitPhashBands(ph, v, table)
        } finally { v.unpersist(); () }
      } finally { ph.unpersist(); () }
    }

  /** The gate's arrival stream: every incoming media record (doc_id %
    * 10 >= 8), followed by a RE-SUBMISSION of the same payload under
    * doc_id + offset — the copy that makes the loop non-vacuous (an
    * admitted original must suppress its later copy at Hamming 0). The
    * offset is the max doc id + 1 rounded UP to a multiple of 3, so the
    * copy keeps its original's `kind` (kind = doc_id % 3) and, exceeding
    * the id range, provably lands >= 1 chunk after the original under the
    * 3-chunk range split.
    */
  private[graft] def mmArrivals(spark: SparkSession, dir: String): DataFrame = {
    val inc = mediaRecords(spark, dir).toDF().filter(col("doc_id") % 10 >= 8)
    val mx = Tables.load(spark, dir, "documents").agg(max(col("doc_id"))).head().getLong(0)
    val off = ((mx + 1 + 2) / 3) * 3
    inc.unionByName(inc.withColumn("doc_id", col("doc_id") + lit(off)))
  }

  /** The admission induction unrolled per chunk (same style as the text
    * loop's oracle): chunk k's arrivals are judged — brute-force Hamming
    * pairs, which the banded join provably equals at this radius —
    * against the corpus plus the KEPT arrivals of chunks < k. The copy
    * arithmetic (offset to a multiple of 3, kind preserved) and the
    * 3-chunk range split are replayed exactly.
    */
  val mmAdmitOracle: String = {
    val levels = (0 until 3).map { k =>
      val elig = ("e.is_corp" +:
        (0 until k).map(j => s"e.cand_id IN (SELECT doc_id FROM kept$j)"))
        .mkString("(", " OR ", ")")
      s"""p$k AS (
         |  SELECT e.doc_id, e.ham, e.cand_id FROM cpairs e
         |  JOIN chunked ci ON ci.doc_id = e.doc_id AND ci.chunk = $k
         |  WHERE $elig
         |),
         |b$k AS (
         |  SELECT doc_id, cand_id AS match_id, CAST(ham AS BIGINT) AS match_ham FROM (
         |    SELECT doc_id, ham, cand_id,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY ham, cand_id) AS rn
         |    FROM p$k
         |  ) WHERE rn = 1
         |),
         |v$k AS (
         |  SELECT ch.doc_id, ch.kind, b$k.match_id IS NULL AS keep,
         |    coalesce(b$k.match_id, CAST(-1 AS BIGINT)) AS match_id,
         |    coalesce(b$k.match_ham, CAST(-1 AS BIGINT)) AS match_ham
         |  FROM chunked ch LEFT JOIN b$k ON b$k.doc_id = ch.doc_id
         |  WHERE ch.chunk = $k
         |),
         |kept$k AS (SELECT doc_id FROM v$k WHERE keep)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    text
       |  FROM documents
       |),
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(text) - 2, 1)),
       |    i -> CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 4)), 1, 15)) AS BIGINT))) AS h
       |  FROM d
       |),
       |votes AS (
       |  SELECT g.doc_id, j,
       |    sum(CASE WHEN (g.h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM grams g, range(0, 60) q(j)
       |  GROUP BY g.doc_id, j
       |),
       |ph AS (
       |  SELECT d.doc_id, d.kind,
       |    coalesce((SELECT CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
       |              FROM votes v WHERE v.doc_id = d.doc_id), 0) AS phash
       |  FROM d
       |),
       |voff AS (SELECT ((max(doc_id) + 1 + 2) // 3) * 3 AS o FROM documents),
       |aug AS (
       |  SELECT p.doc_id, p.kind, p.phash FROM ph p WHERE p.doc_id % 10 >= 8
       |  UNION ALL
       |  SELECT p.doc_id + o AS doc_id, p.kind, p.phash
       |  FROM ph p, voff WHERE p.doc_id % 10 >= 8
       |),
       |bnd AS (SELECT min(doc_id) AS t0,
       |               greatest(1, max(doc_id) - min(doc_id) + 1) AS span FROM aug),
       |chunked AS (
       |  SELECT doc_id, kind, phash, CAST((doc_id - t0) * 3 // span AS INT) AS chunk
       |  FROM aug, bnd
       |),
       |cpairs AS (
       |  -- corpus candidates (always eligible) + earlier-arrival candidates
       |  SELECT a.doc_id, bit_count(CAST(xor(a.phash, c.phash) AS BIT)) AS ham,
       |    c.doc_id AS cand_id, TRUE AS is_corp
       |  FROM chunked a JOIN ph c ON c.kind = a.kind AND c.doc_id % 10 < 8
       |  WHERE bit_count(CAST(xor(a.phash, c.phash) AS BIT)) <= $PhashMaxHamming
       |  UNION ALL
       |  SELECT a.doc_id, bit_count(CAST(xor(a.phash, c.phash) AS BIT)) AS ham,
       |    c.doc_id AS cand_id, FALSE AS is_corp
       |  FROM chunked a JOIN chunked c ON c.kind = a.kind AND c.chunk < a.chunk
       |  WHERE bit_count(CAST(xor(a.phash, c.phash) AS BIT)) <= $PhashMaxHamming
       |),
       |$levels
       |SELECT * FROM (
       |  SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
       |) ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Right-to-be-forgotten + compaction for the phash index
  // -------------------------------------------------------------------------

  /** Compaction verb for the phash band table — the same distinct-fold
    * repair the text loop wires in ([[Dedup.compactCorpusBands]]): folds
    * the per-admit small files back to one per bucket AND drops the
    * duplicate band rows an at-least-once redelivery of
    * [[phashAdmitStream]] can leave (verdicts are replay-safe via the
    * batch anti-join; the append residue is repaired here). Same
    * single-writer contract as every bucketed rewrite.
    */
  def compactPhashBands(spark: SparkSession, table: String): (Long, Long) =
    Dedup.compactBucketedTable(spark, table, "bsig")

  /** RIGHT-TO-BE-FORGOTTEN for the phash index — closes the verb across
    * all five persisted index families (BM25, IVF, PQ, dedup bands,
    * phash bands): one atomic bucket-aligned anti-join rewrite through
    * the [[Dedup.rewriteBucketedTable]] fence (no derived stats ⇒ no
    * marker window), idempotent under re-forget. The observable contract
    * is the same ghost-suppression ban as the text index's
    * [[Dedup.forgetCorpusDocs]]: a forgotten media document must stop
    * SUPPRESSING later perceptual copies — its content becomes
    * re-admittable. Keeping the band signatures while deleting the bytes
    * would keep the forgotten media effectively present, which is exactly
    * what a deletion request forbids.
    */
  def forgetPhashDocs(spark: SparkSession, table: String,
      forgetIds: DataFrame): (Long, Long) =
    Dedup.rewriteBucketedTable(spark, table, "bsig")(
      _.join(broadcast(forgetIds.select("doc_id")), Seq("doc_id"), "left_anti"))

  /** Continuous deletion for the phash index: every micro-batch of
    * arriving forget requests is one fenced anti-join rewrite — the
    * multimodal twin of `corpusForgetStream`. Anti-joins compose and
    * re-apply idempotently, so any chunking or redelivery of the deletion
    * stream lands on the batch-forget band table.
    */
  def phashForgetStream(forgetIds: DataFrame,
      table: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(forgetIds) { b => forgetPhashDocs(b.sparkSession, table, b); () }

  /** The incoming 20% split (the arrivals the forget contract is judged
    * on), shared with [[mmArrivals]]' base.
    */
  private[graft] def mmIncoming(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    mediaRecords(spark, dir).filter(col("doc_id") % 10 >= 8).as[MediaRecord]
  }

  /** Incoming arrivals judged against a persisted phash band table. */
  private[graft] def phashVerdictsAgainst(spark: SparkSession, dir: String,
      table: String): DataFrame =
    phashVerdictFor(phashes(mmIncoming(spark, dir)), spark.table(table))

  private[graft] val PhashFgTable = "mm_fg_phash_bands"

  /** `mm_phash_forget`: build the phash band index, forget EXACTLY the
    * corpus docs currently suppressing an arrival (the contested content —
    * the shape a real deletion wave has), and re-judge every arrival.
    * Every previously-suppressed arrival must either become admitted or
    * match a DIFFERENT corpus doc, so the query is non-vacuous wherever
    * the fixture has any cross-split perceptual near-dup (probed: 3 at
    * sf0.001, 2 at sf0.01, 32 at sf0.1). Build + derive + forget run under
    * the build-then-mutate staleness gate; steady-state calls pay only the
    * verdict join. The forget-set derivation and the anti-join rewrite
    * read the same pre-forget generation (the rewrite plans against the
    * canonical table before the swap), so the mutation is well-defined and
    * its retry re-derives an identical set.
    */
  def phashForget(spark: SparkSession, dir: String): DataFrame = {
    graft.core.ModelTables.persistGroupMutatedIfStale(spark, dir,
      "phash-forget:v1")(
      PhashFgTable -> (() => persistPhashBands(spark, dir, PhashFgTable)))(
      () => {
        val v0 = phashVerdictsAgainst(spark, dir, PhashFgTable)
        forgetPhashDocs(spark, PhashFgTable,
          v0.filter(!col("keep")).select(col("match_id").as("doc_id")).distinct())
        ()
      })
    phashVerdictsAgainst(spark, dir, PhashFgTable)
  }

  /** The forget chain unrolled TWICE with brute-force Hamming pairs (the
    * banded join provably equals them at this radius): level 0 derives
    * the standard verdicts, the forget set is the distinct match docs of
    * level 0's suppressions (every matched arrival IS a suppression at
    * this radius), and level 1 re-judges every arrival against the corpus
    * minus that set — the same induction style as the text index's
    * corpusForgetOracle.
    */
  val phashForgetOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    text
       |  FROM documents
       |),
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(text) - 2, 1)),
       |    i -> CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 4)), 1, 15)) AS BIGINT))) AS h
       |  FROM d
       |),
       |votes AS (
       |  SELECT g.doc_id, j,
       |    sum(CASE WHEN (g.h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM grams g, range(0, 60) q(j)
       |  GROUP BY g.doc_id, j
       |),
       |ph AS (
       |  SELECT d.doc_id, d.kind,
       |    coalesce((SELECT CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
       |              FROM votes v WHERE v.doc_id = d.doc_id), 0) AS phash
       |  FROM d
       |),
       |arr AS (SELECT doc_id, kind, phash FROM ph WHERE doc_id % 10 >= 8),
       |corp AS (SELECT doc_id, kind, phash FROM ph WHERE doc_id % 10 < 8),
       |p0 AS (
       |  SELECT a.doc_id, bit_count(CAST(xor(a.phash, c.phash) AS BIT)) AS ham, c.doc_id AS cand_id
       |  FROM arr a JOIN corp c ON a.kind = c.kind
       |  WHERE bit_count(CAST(xor(a.phash, c.phash) AS BIT)) <= $PhashMaxHamming
       |),
       |b0 AS (
       |  SELECT doc_id, cand_id AS match_id FROM (
       |    SELECT doc_id, cand_id,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY ham, cand_id) AS rn
       |    FROM p0
       |  ) WHERE rn = 1
       |),
       |fg AS (SELECT DISTINCT match_id AS doc_id FROM b0),
       |p1 AS (
       |  SELECT a.doc_id, bit_count(CAST(xor(a.phash, c.phash) AS BIT)) AS ham, c.doc_id AS cand_id
       |  FROM arr a JOIN corp c ON a.kind = c.kind
       |  WHERE bit_count(CAST(xor(a.phash, c.phash) AS BIT)) <= $PhashMaxHamming
       |    AND c.doc_id NOT IN (SELECT doc_id FROM fg)
       |),
       |b1 AS (
       |  SELECT doc_id, cand_id AS match_id, CAST(ham AS BIGINT) AS match_ham FROM (
       |    SELECT doc_id, ham, cand_id,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY ham, cand_id) AS rn
       |    FROM p1
       |  ) WHERE rn = 1
       |)
       |SELECT arr.doc_id, arr.kind, b1.match_id IS NULL AS keep,
       |  coalesce(b1.match_id, CAST(-1 AS BIGINT)) AS match_id,
       |  coalesce(b1.match_ham, CAST(-1 AS BIGINT)) AS match_ham
       |FROM arr LEFT JOIN b1 ON arr.doc_id = b1.doc_id
       |ORDER BY arr.doc_id""".stripMargin

  /** The fake decode arithmetic, replayed relationally over the original
    * text (payload bytes are ASCII here, so ascii()/length() line up with
    * the byte math).
    */
  val featuresOracle: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CAST(16 * (1 + CASE WHEN length(text) >= 1 THEN ascii(substr(text, 1, 1)) ELSE 0 END % 64) AS INT) AS width,
      |  CAST(16 * (1 + CASE WHEN length(text) >= 2 THEN ascii(substr(text, 2, 1)) ELSE 0 END % 64) AS INT) AS height,
      |  CAST(1 + length(text) // 64 AS INT) AS n_frames,
      |  CASE WHEN length(text) = 0 THEN 0 ELSE
      |    list_reduce(list_transform(range(1, length(text) + 1),
      |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
      |      (h, c) -> (h * 31 + c) % 1000000007) END AS checksum
      |FROM documents
      |ORDER BY doc_id""".stripMargin
}
