package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: media payloads travel as opaque `BINARY`
  * columns with a typed metadata struct; decode / feature-extraction runs
  * as partition-batched typed transforms (the Scala analog of
  * `mapInPandas` — one iterator per partition, no per-row serialization).
  *
  * The actual media decode is STUBBED (no image/audio codecs in this
  * container): `decodeStub` derives deterministic pseudo-features from the
  * bytes. Everything around it — schema, binary batching, partitioning,
  * the feature-struct shape — is real and tested, so swapping in a true
  * decoder is a one-function change.
  */
object Multimodal extends graft.EntryModule {

  case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(
      doc_id: Long, kind: String, n_bytes: Long, n_frames: Int,
      checksum: String, features: Array[Float])

  /** Wrap a text corpus as a media table: payload = utf-8 bytes, kind from
    * the source column (stand-in for image/audio blobs). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("source").as("kind"),
      col("text").cast("binary").as("payload"))

  /** STUB decode: in a real deployment this calls the media codec; here it
    * derives deterministic features so the plumbing is testable. Runs
    * partition-batched via mapPartitions — the batch shape a real decoder
    * needs (amortized codec init per partition, not per row). */
  def decodeStub(media: DataFrame): DataFrame = {
    val enc = Encoders.product[MediaFeatures]
    media.select(col("doc_id"), col("kind"), col("payload"))
      .as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        // per-partition "codec init" happens once here
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          md.reset()
          val digest = md.digest(r.payload)
          val hex = digest.map("%02x".format(_)).mkString
          val feats = Array.tabulate(4) { i =>
            ((digest(i) & 0xff).toFloat / 255.0f)
          }
          MediaFeatures(
            doc_id = r.doc_id,
            kind = r.kind,
            n_bytes = r.payload.length.toLong,
            n_frames = (r.payload.length / 1024) + 1,
            checksum = hex,
            features = feats)
        }
      }(enc)
      .toDF()
  }

  /** Oracle-checked slice of the stub-decode output: byte counts, frame
    * counts, and checksum are arithmetic on the payload, reproducible in
    * any engine. */
  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    decodeStub(asMedia(Tables.t(s, dir, "documents")))
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("n_frames"),
        col("checksum"))

  val mmFeaturesSql: String =
    """SELECT doc_id, source AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(text)) // 1024 + 1 AS INTEGER) AS n_frames,
      |  md5(text) AS checksum
      |FROM documents""".stripMargin

  /** Frame sampling: chunk each payload into fixed-width frames and keep
    * every k-th — the video/audio frame-sample stage. The chunk/explode/
    * stride plumbing is the real deliverable (a codec swaps in at the
    * frame-decode step); 128-byte frames at fixture scale so the explode
    * actually fans out. Fixture text is pure ASCII (asserted in specs),
    * so char-slices equal byte-slices and the oracle reproduces frames
    * exactly. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), (length(col("text")) / 128).cast("int")))
          .as("frame_idx"))
      .filter(col("frame_idx") % 2 === 0)
      .select(col("doc_id"), col("frame_idx"),
        md5(col("text").substr(col("frame_idx") * 128 + 1, lit(128)).cast("binary"))
          .as("frame_md5"),
        length(col("text").substr(col("frame_idx") * 128 + 1, lit(128)))
          .as("frame_len"))

  val mmFrameSampleSql: String =
    """SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |  md5(substr(text, frame_idx*128+1, 128)) AS frame_md5,
      |  CAST(length(substr(text, frame_idx*128+1, 128)) AS INTEGER) AS frame_len
      |FROM (SELECT doc_id, text,
      |        unnest(range(CAST(length(text) // 128 + 1 AS BIGINT))) AS frame_idx
      |      FROM documents)
      |WHERE frame_idx % 2 = 0""".stripMargin

  /** Resize: deterministic down-sampling of the payload onto a fixed
    * 4-point grid (byte code at position i·n/4) — the image-resize stage
    * with nearest-neighbor sampling standing in for the pixel kernel.
    * The grid is emitted as one scalar column per sample point (p0..p3):
    * the compare harness hashes flat columns, and a fixed-size grid is by
    * definition a fixed-width row, so no array column is needed. */
  def mmResize(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    def p(i: Int) =
      ascii(txt.substr((lit(i) * length(txt) / 4).cast("int") + 1, lit(1)))
        .as(s"p$i")
    Tables.t(s, dir, "documents")
      .select(col("doc_id") +: (0 until 4).map(p): _*)
  }

  val mmResizeSql: String =
    """SELECT doc_id,
      |  unicode(substr(text, CAST(0 * length(text) // 4 AS BIGINT) + 1, 1)) AS p0,
      |  unicode(substr(text, CAST(1 * length(text) // 4 AS BIGINT) + 1, 1)) AS p1,
      |  unicode(substr(text, CAST(2 * length(text) // 4 AS BIGINT) + 1, 1)) AS p2,
      |  unicode(substr(text, CAST(3 * length(text) // 4 AS BIGINT) + 1, 1)) AS p3
      |FROM documents""".stripMargin

  case class MediaSig(doc_id: Long, kind: String, n_bytes: Long, sig: Long)

  /** Perceptual-hash signature over the opaque BINARY payload — the
    * pHash construction (block-level intensity vs global intensity →
    * sign bits) with block byte-means standing in for the DCT a real
    * image pipeline computes after decode: 48 equal byte blocks
    * (boundaries ⌊b·n/48⌋, integer floor), bit b set iff
    * blockSum·n > totalSum·blockLen (cross-multiplied — no division,
    * exact). Runs partition-batched in the SAME typed mapPartitions
    * shape as [[decodeStub]] — a real pHash drops into this function
    * body untouched. Downstream near-dup reuses the established SimHash
    * banding (PipelineSpec pins the banded lookup finding a perturbed
    * twin); block signatures are ALIGNMENT-sensitive by construction —
    * right for fixed-grid media, deliberately not a text near-dup (that
    * is `dedup_simhash`'s job).
    *
    * Oracle contingency: the fixture payload is utf-8 ASCII text
    * (spec-asserted), so the oracle recomputes the byte arithmetic from
    * `unicode(substr(text, i, 1))`; a true image payload would demote
    * this entry to rows-only — the plumbing under test is unchanged. */
  def phashSig(media: DataFrame): DataFrame = {
    val enc = Encoders.product[MediaSig]
    media.select(col("doc_id"), col("kind"), col("payload"))
      .as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.payload
          val n = bytes.length.toLong
          val total = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
          var sig = 0L
          var b = 0
          while (b < 48) {
            val lo = (b * n / 48).toInt
            val hi = ((b + 1) * n / 48).toInt
            var s = 0L
            var i = lo
            while (i < hi) { s += (bytes(i) & 0xff); i += 1 }
            if (s * n > total * (hi - lo)) sig |= (1L << b)
            b += 1
          }
          MediaSig(r.doc_id, r.kind, n, sig)
        }
      }(enc)
      .toDF()
  }

  /** Driver-gate entry: the 48-bit perceptual signature of every payload
    * (exact-integer compare of the full signature on both engines). */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    phashSig(asMedia(Tables.t(s, dir, "documents")
      .filter(length(col("text")) > 0)))

  /** The identical block boundaries, byte sums, and cross-multiplied
    * sign bits from the text stand-in's code points. */
  val mmPhashSql: String =
    """WITH d AS (SELECT doc_id, source AS kind, text, length(text) AS n
      |           FROM documents WHERE length(text) > 0),
      |sums AS (
      |  SELECT doc_id, kind, n,
      |    [coalesce(list_sum([unicode(substr(text, CAST(i AS INTEGER), 1))
      |       FOR i IN range(b*n//48 + 1, ((b+1)*n)//48 + 1)]), 0)
      |     FOR b IN range(0, 48)] AS bs
      |  FROM d)
      |SELECT doc_id, kind, CAST(n AS BIGINT) AS n_bytes,
      |  CAST(coalesce(list_sum(
      |    [CASE WHEN bs[CAST(b AS INTEGER)+1] * n
      |               > list_sum(bs) * (((b+1)*n)//48 - b*n//48)
      |          THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END
      |     FOR b IN range(0, 48)]), 0) AS BIGINT) AS sig
      |FROM sums""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> (mmFeatures _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_resize" -> (mmResize _),
    "mm_phash" -> (mmPhash _))

  val oracle: Map[String, String] = Map(
    "mm_features" -> mmFeaturesSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "mm_resize" -> mmResizeSql,
    "mm_phash" -> mmPhashSql)
}
