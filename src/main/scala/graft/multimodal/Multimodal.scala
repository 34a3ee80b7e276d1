package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata structs.
  *
  * Image DIMENSION decode is REAL: [[ImageHeader]] parses PNG/GIF/JPEG/BMP/
  * TIFF container headers in pure JVM bytes (dimensions never need a codec).
  * Image PIXEL decode is REAL for BMP/PNG/GIF/JPEG/TIFF ([[BmpAHash]],
  * [[PngPixels]], [[GifPixels]], [[TiffPixels]] hand-rolled; [[JpegPixels]]
  * via the JDK's own ImageIO plugin → [[PixelAHash]]); only video frame EXTRACTION
  * remains stubbed: `fakeDecodeMeta` derives
  * deterministic stand-in metadata from the byte stream, clearly marked,
  * and the frame-sampling plan runs on it. Everything around the stub — schema,
  * batch shape, partitioning, column pruning — is the real Spark-side
  * plumbing a production codec UDF slots into. Analog: the reference's
  * per-format decoders + magic-byte sniffing (image-deduper
  * `src/formats/heic.rs:84-110`, `src/fixsuffix.rs:19-62`).
  */
object Multimodal {

  /** Real header decode: binary → struct(format, width, height) or null
    * for unrecognized/corrupt bytes (never throws — S9 recovery contract).
    */
  def imageMeta(blob: Column): Column = {
    import org.apache.spark.sql.graftshim.shim
    shim.toColumn(ImageMeta(shim.toExpression(blob)))
  }

  /** REAL pixel-level perceptual hash for uncompressed BMPs, 8-bit
    * non-interlaced PNGs, GIF first frames, and baseline JPEGs (the
    * reference's aHash kernel, `processing/core.rs:37-104`): binary →
    * 64-bit mean-threshold average hash, null for malformed/unsupported
    * bytes. Compose with `bit_count(a ^ b)` for perceptual Hamming.
    */
  def imageAHash(blob: Column): Column = {
    import org.apache.spark.sql.graftshim.shim
    shim.toColumn(ImageAHash(shim.toExpression(blob)))
  }

  /** Magic-byte content sniffing as pure column expressions — the real
    * thing, not a stub (reference `is_heic_format` / fixsuffix magics).
    * Output: "png" | "jpeg" | "gif" | "tiff" | "riff" | "html" | "bin".
    */
  def sniffFormat(blob: Column): Column = {
    val head = hex(substring(blob, 1, 4))
    // null-in/null-out: without the guard every when() condition is null
    // (not matched) and otherwise("bin") would misclassify a MISSING
    // payload as opaque binary content
    when(blob.isNull, lit(null).cast("string"))
      .when(head.startsWith("89504E47"), "png")
      .when(head.startsWith("FFD8FF"), "jpeg")
      .when(head.startsWith("47494638"), "gif")
      .when(head === "49492A00" || head === "4D4D002A", "tiff")
      .when(head.startsWith("52494646"), "riff")
      .when(head.startsWith("3C68746D") || head.startsWith("3C48544D") ||
        head.startsWith("3C21444F"), "html")
      .otherwise("bin")
  }

  /** STUB decode: deterministic fake metadata from byte length only —
    * replace with a real codec UDF (mapInPandas/mapPartitions batch decode)
    * in production. Kept SQL-expressible so the oracle can check the
    * plumbing end-to-end.
    */
  def fakeDecodeMeta(blob: Column): Column = {
    val len = octet_length(blob).cast("long")
    struct(
      (pmod(len, lit(640L)) + 16L).as("width"),
      (pmod(len * 7L, lit(480L)) + 16L).as("height"),
      // Column `/` is double division — floor for integer frame count
      (floor(len / lit(250L)).cast("long") + 1L).as("n_frames"))
  }

  /** Deterministic frame sampling plan for a (fake-)decoded video blob:
    * one row per sampled frame index — the explode shape a real
    * frame-extraction stage produces. Batch shape: (id, frame_idx).
    */
  def sampleFrames(df: DataFrame, idCol: String, blobCol: String,
                   everyNth: Int): DataFrame = {
    val meta = fakeDecodeMeta(col(blobCol))
    df.select(col(idCol), meta.getField("n_frames").as("n_frames"))
      .withColumn("frame_idx",
        explode(sequence(lit(0L), col("n_frames") - 1, lit(everyNth.toLong))))
      .select(col(idCol), col("frame_idx"))
  }

  /** Full metadata projection for a binary column: real sniffing + byte
    * stats + REAL header dimensions where the format carries them (PNG/
    * GIF/JPEG/BMP), falling back to the stand-in metadata for opaque
    * payloads; n_frames is always the stand-in (video decode is the
    * declared stub).
    */
  def withMeta(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val decoded = imageMeta(col(blobCol))
    val fake = fakeDecodeMeta(col(blobCol))
    df.select(
      col(idCol),
      octet_length(col(blobCol)).cast("long").as("byte_len"),
      coalesce(decoded.getField("format"), sniffFormat(col(blobCol))).as("format"),
      struct(
        coalesce(decoded.getField("width").cast("long"),
          fake.getField("width")).as("width"),
        coalesce(decoded.getField("height").cast("long"),
          fake.getField("height")).as("height"),
        fake.getField("n_frames").as("n_frames")).as("meta"))
  }
}
