package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Real multimodal decode for the training-data pipeline (SURVEY.md §2.12):
  * media payloads are opaque `binary` columns; decode / feature-extract /
  * frame-sample run as typed `mapPartitions` over the payload bytes — the
  * Scala analogue of a Pandas-UDF-over-`mapInPandas` batch (one decoder
  * context per partition, streaming through rows), with zero `udf(` so the
  * surrounding plan stays declarative.
  *
  * The decoder is the JDK's `javax.imageio` (PNG — lossless, zero external
  * jars), so the decode step is REAL compute: `encodePng` produces an
  * actual PNG byte stream and every downstream statistic (width, height,
  * pixel sums) is read back from the DECODED raster, never copied from
  * metadata. Because the synthesized pixels are a deterministic function of
  * the document text, a SQL oracle can predict the decoded statistics
  * arithmetically — a mismatch anywhere in the encode->decode roundtrip
  * fails the hash gate. Reference analogue: the raw-document parse boundary
  * of /root/reference/R/opta_events.R:43-119 (opaque payload in, typed
  * columns out).
  *
  * The multi-frame container ("video") is a seekable index — magic,
  * frame count, per-frame byte offsets — so frame sampling decodes ONLY the
  * sampled frames: at 100 TB the unsampled frames are never even
  * decompressed, which is the property that makes stride-sampling a scan
  *-cost reducer rather than a post-filter.
  */
object MediaCodec extends Serializable {

  // keep the ImageIO stream cache in memory: the default file-backed cache
  // would write a temp file per encode/decode on the executors
  ImageIO.setUseCache(false)

  // one PNG writer per executor thread, reused across frames (guide §4.5:
  // construct heavyweight state once per task, not per row): the registry
  // lookup + writer construction per encodeFrame call is pure overhead —
  // setOutput/reset is the supported reuse protocol and the encoded bytes
  // are identical (same encoder, same defaults)
  private val pngWriter =
    new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter = {
        val it = ImageIO.getImageWritersByFormatName("png")
        require(it.hasNext, "no PNG writer in this JDK")
        it.next()
      }
    }

  // ---------------------------------------------------------- still images

  /** deterministic per-document dimensions (8..16 x 8..16) */
  def width(docId: Long): Int = 8 + (docId % 9).toInt
  def height(docId: Long): Int = 8 + ((docId / 9) % 9).toInt

  /** deterministic grayscale PNG: pixel i = ascii(text[i % len]).
    * Text is printable ASCII (32..126) so every sample fits an 8-bit gray
    * channel exactly and PNG's losslessness makes decode == encode input.
    */
  def encodePng(docId: Long, text: String): Array[Byte] =
    encodeFrame(width(docId), height(docId),
      i => text.charAt(i % text.length).toInt)

  /** one w x h TYPE_BYTE_GRAY frame, PNG-encoded in memory. Pixels move
    * through the raster's BULK setSamples call (one bounds-checked copy per
    * frame instead of one per pixel — the per-sample loop re-resolved the
    * sample model w*h times); the PNG deflate itself is the intended real
    * compute and is untouched.
    */
  def encodeFrame(w: Int, h: Int, px: Int => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val samples = new Array[Int](w * h)
    var i = 0
    while (i < w * h) { samples(i) = px(i) & 0xff; i += 1 }
    img.getRaster.setSamples(0, 0, w, h, 0, samples)
    val bos = new ByteArrayOutputStream()
    val wr = pngWriter.get()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.write(img)
    } finally {
      wr.setOutput(null)
      ios.close()
    }
    bos.toByteArray
  }

  /** decode-derived stats: (width, height, sum of decoded gray samples).
    * Every value comes off the decoded `Raster` — there is no metadata
    * side-channel to copy from.
    */
  def decodeStats(payload: Array[Byte]): (Int, Int, Long) = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    // bulk getSamples: every value still comes off the DECODED raster
    // (no metadata side-channel), one bounds-checked copy per frame
    // instead of one per pixel
    val samples = img.getRaster.getSamples(0, 0, w, h, 0,
      null.asInstanceOf[Array[Int]])
    var sum = 0L
    var i = 0
    while (i < w * h) { sum += samples(i); i += 1 }
    (w, h, sum)
  }

  /** hex of the first 8 payload bytes — for a real PNG this is the fixed
    * signature 89504E470D0A1A0A, so the oracle checks "a real PNG came out"
    */
  def hex8(payload: Array[Byte]): String =
    payload.take(8).map(b => f"${b & 0xff}%02X").mkString

  // ----------------------------------------------- multi-frame container

  val FrameW = 8
  val FrameH = 8
  val FrameStep = 17 // per-frame phase shift into the text byte stream
  private val VideoMagic: Array[Byte] = "GRFV".getBytes("US-ASCII")

  /** container layout: 4-byte magic | 1-byte frame count | n x 4-byte
    * big-endian frame offsets (from payload start) | PNG frames
    */
  def encodeVideo(text: String, nFrames: Int): Array[Byte] = {
    require(nFrames > 0 && nFrames < 256, s"frame count $nFrames out of range")
    val frames = (0 until nFrames).map { f =>
      encodeFrame(FrameW, FrameH,
        i => text.charAt((f * FrameStep + i) % text.length).toInt)
    }
    val headerLen = 4 + 1 + 4 * nFrames
    val bos = new ByteArrayOutputStream()
    bos.write(VideoMagic)
    bos.write(nFrames)
    var off = headerLen
    frames.foreach { fr =>
      bos.write((off >>> 24) & 0xff); bos.write((off >>> 16) & 0xff)
      bos.write((off >>> 8) & 0xff); bos.write(off & 0xff)
      off += fr.length
    }
    frames.foreach(bos.write)
    bos.toByteArray
  }

  /** stride-sample the container: decode ONLY frames 0, stride, 2*stride...
    * (seek via the offset index; unsampled frames are never touched).
    * Returns (total frames, sampled frames, sum of sampled decoded pixels).
    */
  def sampleVideo(video: Array[Byte], stride: Int): (Int, Int, Long) = {
    require(video.length > 5 &&
      java.util.Arrays.equals(video.take(4), VideoMagic),
      "payload is not a GRFV container")
    val n = video(4) & 0xff
    def offset(f: Int): Int = {
      val p = 5 + 4 * f
      ((video(p) & 0xff) << 24) | ((video(p + 1) & 0xff) << 16) |
        ((video(p + 2) & 0xff) << 8) | (video(p + 3) & 0xff)
    }
    val sampled = (0 until n by stride).toSeq
    var checksum = 0L
    sampled.foreach { f =>
      val from = offset(f)
      val until = if (f + 1 < n) offset(f + 1) else video.length
      val (_, _, s) = decodeStats(java.util.Arrays.copyOfRange(video, from, until))
      checksum += s
    }
    (n, sampled.size, checksum)
  }
}
