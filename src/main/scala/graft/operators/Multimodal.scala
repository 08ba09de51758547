package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque binary
  * columns with typed metadata, processed batch-at-a-time per partition.
  *
  * ALL THREE modality decodes are REAL, on in-JDK codecs only: images are
  * PNG/JPEG bytes decoded with `javax.imageio` (width/height/channels/
  * mean-pixel from actual pixels); audio is WAV/PCM through
  * `javax.sound.sampled` (sample rate, channels, sample count, mean
  * |amplitude| from actual PCM frames); video is RIFF/AVI through
  * [[VideoCodec]] — a standards-conformant container walk with raw-DIB
  * (`00db`, lossless) and MJPEG (`00dc`, per-frame `javax.imageio` JPEG)
  * frame decodes, the one video family expressible without an external
  * codec. The Spark-side contract is uniform: schema, partition-parallel
  * `mapPartitions` over a typed Dataset (the Scala analog of Python's
  * `mapInPandas` batch UDF), and batch-shaped output rows. A corrupt or
  * undecodable payload never fails the job: it falls back to the
  * deterministic fake and is flagged `decoded = false`.
  */
object Multimodal {

  /** A media payload row: opaque bytes + typed metadata. */
  case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte])

  /** Extracted feature row. For `decoded = true` image rows,
    * width/height/channels/mean_red are read from real pixels; for
    * `decoded = true` audio rows the same physical columns carry the audio
    * shape — width = sample rate, height = 0, n_frames = samples per
    * channel, mean_red = mean |amplitude| over the PCM frames (one feature
    * schema across modalities, column semantics documented per modality,
    * the usual multimodal-table convention). Otherwise values come from
    * the deterministic fake kernel (channels/mean_red 0). */
  case class MediaFeatures(doc_id: Long, modality: String, byte_len: Int,
                           width: Int, height: Int, n_frames: Int,
                           channels: Int, mean_red: Long, decoded: Boolean,
                           checksum: Long)

  /** Real image codec on the in-JDK `javax.imageio` readers (PNG/JPEG/BMP/
    * GIF). Encode exists so fixtures can be generated deterministically
    * in-cluster; decode is the production kernel. */
  object ImageCodec {
    // a temp-file cache per decode would dominate the per-row cost at
    // scale; decode fully in-memory
    ImageIO.setUseCache(false)

    case class Decoded(width: Int, height: Int, channels: Int, meanRed: Long)

    /** Solid-colour RGB PNG — byte-exact round-trip (PNG is lossless), so
      * decoded features are a pure function of (width, height, rgb). */
    def encodePng(width: Int, height: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val out = new ByteArrayOutputStream(256)
      ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Integer area-average resize + lossless PNG re-encode: target
      * pixel (x, y) is the per-channel integer mean of the source box
      * `[x·w/tw, max(x·w/tw + 1, (x+1)·w/tw)) x [y·h/th, ...)` — the
      * dHash grid rule, so down- AND up-scaling are both defined, a
      * solid-colour source keeps its exact colour, and the result is
      * bit-identical across JVMs (no float resampling kernel). */
    def encodeResizedPng(img: BufferedImage, tw: Int, th: Int)
        : Array[Byte] = {
      val w = img.getWidth
      val h = img.getHeight
      val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < th) {
        val y0 = y * h / th
        val y1 = math.max(y0 + 1, (y + 1) * h / th)
        var x = 0
        while (x < tw) {
          val x0 = x * w / tw
          val x1 = math.max(x0 + 1, (x + 1) * w / tw)
          var sr = 0L; var sg = 0L; var sb = 0L
          var yy = y0
          while (yy < y1) {
            var xx = x0
            while (xx < x1) {
              val p = img.getRGB(xx, yy)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              xx += 1
            }
            yy += 1
          }
          val n = (x1 - x0).toLong * (y1 - y0)
          out.setRGB(x, y, (((sr / n).toInt & 0xff) << 16)
            | (((sg / n).toInt & 0xff) << 8) | ((sb / n).toInt & 0xff))
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream(256)
      ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

    /** The raw `BufferedImage` for a payload; None when the bytes are not
      * a decodable image (corrupt row, wrong modality). */
    def readImage(payload: Array[Byte]): Option[BufferedImage] =
      try Option(ImageIO.read(new ByteArrayInputStream(payload)))
      catch { case _: Exception => None }

    /** Decode any payload `javax.imageio` has a reader for; None when the
      * bytes are not a decodable image (corrupt row, wrong modality). */
    def decode(payload: Array[Byte]): Option[Decoded] =
      try {
        val img = ImageIO.read(new ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          var sumRed = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sumRed += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
            y += 1
          }
          Some(Decoded(w, h, img.getColorModel.getNumComponents,
            sumRed / (w.toLong * h)))
        }
      } catch { case _: Exception => None }
  }

  /** Real audio codec on the in-JDK `javax.sound.sampled` (WAV/AIFF/AU
    * containers; frames converted to signed 16-bit PCM before the feature
    * pass). Encode exists so fixtures can be generated deterministically
    * in-cluster; decode is the production kernel. */
  object AudioCodec {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    case class Decoded(sampleRate: Int, channels: Int, nSamples: Long,
                       meanAbs: Long)

    /** Constant-amplitude signed-16-bit mono PCM WAV — lossless container,
      * so decoded features are a pure function of
      * (sampleRate, amplitude, nSamples). */
    def encodeWav(sampleRate: Int, amplitude: Short,
                  nSamples: Int): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate.toFloat, 16, 1,
        /* signed = */ true, /* bigEndian = */ false)
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        pcm(2 * i) = (amplitude & 0xff).toByte
        pcm(2 * i + 1) = ((amplitude >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
        nSamples.toLong)
      val out = new ByteArrayOutputStream(pcm.length + 64)
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Decode any payload `javax.sound.sampled` has a reader for; None
      * when the bytes are not decodable audio (corrupt row, wrong
      * modality). */
    def decode(payload: Array[Byte]): Option[Decoded] =
      try {
        val ais =
          AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        val target = new AudioFormat(fmt.getSampleRate, 16,
          fmt.getChannels, true, false)
        val pcm = AudioSystem.getAudioInputStream(target, ais)
        val bytes = pcm.readAllBytes()
        val n = bytes.length / 2
        var sum = 0L
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort
          sum += math.abs(s.toInt)
          i += 1
        }
        Some(Decoded(fmt.getSampleRate.toInt, fmt.getChannels,
          n.toLong / fmt.getChannels, if (n == 0) 0L else sum / n))
      } catch { case _: Exception => None }
  }

  /** Real video codec: a minimal RIFF/AVI container parser with two frame
    * codecs the JDK can genuinely handle — uncompressed 24-bit DIB
    * (`00db` chunks, BI_RGB bottom-up BGR rows padded to 4 bytes; lossless,
    * so decoded features are pixel-exact) and MJPEG (`00dc` chunks, each
    * frame an independent JPEG decoded by the in-JDK `javax.imageio` JPEG
    * reader — the one video family that needs no inter-frame codec). The
    * JDK ships no video *codec*, but AVI is a container and MJPEG/raw-DIB
    * frames are images — so decode is real end to end: frame bytes come
    * out of a standards-conformant RIFF walk and pixels out of real frame
    * decodes. Encode exists so fixtures can be generated deterministically
    * in-cluster (mirrors [[ImageCodec.encodePng]] / [[AudioCodec.encodeWav]]).
    */
  object VideoCodec {
    case class Decoded(width: Int, height: Int, nFrames: Int, meanRed: Long)

    private def le32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

    private def putLe32(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }

    private def putFourcc(out: ByteArrayOutputStream, s: String): Unit =
      out.write(s.getBytes("US-ASCII"))

    private def chunk(fourcc: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(body.length + 12)
      putFourcc(out, fourcc); putLe32(out, body.length); out.write(body)
      if (body.length % 2 == 1) out.write(0) // RIFF chunks pad to even
      out.toByteArray
    }

    private def list(listType: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(body.length + 12)
      putFourcc(out, "LIST"); putLe32(out, body.length + 4)
      putFourcc(out, listType); out.write(body)
      out.toByteArray
    }

    /** One solid-colour frame as a bottom-up BGR DIB (BI_RGB, 24bpp, rows
      * padded to 4-byte multiples — the uncompressed-AVI frame layout). */
    private def dibFrame(width: Int, height: Int, rgb: Int): Array[Byte] = {
      val rowBytes = (width * 3 + 3) & ~3
      val body = new Array[Byte](rowBytes * height)
      val r = ((rgb >> 16) & 0xff).toByte
      val g = ((rgb >> 8) & 0xff).toByte
      val b = (rgb & 0xff).toByte
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val o = y * rowBytes + x * 3
          body(o) = b; body(o + 1) = g; body(o + 2) = r
          x += 1
        }
        y += 1
      }
      body
    }

    private def jpegFrame(width: Int, height: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val out = new ByteArrayOutputStream(512)
      ImageIO.write(img, "jpg", out)
      out.toByteArray
    }

    /** A standards-conformant AVI holding `frameColours.length` solid-colour
      * frames: RIFF('AVI ' LIST(hdrl avih LIST(strl strh strf))
      * LIST(movi frame*)). `mjpeg = false` writes lossless raw-DIB `00db`
      * frames (pixel-exact round-trip); `mjpeg = true` writes JPEG `00dc`
      * frames (real MJPEG). */
    def encodeAvi(width: Int, height: Int, frameColours: Array[Int],
                  mjpeg: Boolean = false): Array[Byte] = {
      val n = frameColours.length
      val avih = new ByteArrayOutputStream(56)
      putLe32(avih, 33333)                      // dwMicroSecPerFrame (30fps)
      putLe32(avih, 0); putLe32(avih, 0); putLe32(avih, 0)
      putLe32(avih, n)                          // dwTotalFrames
      putLe32(avih, 0); putLe32(avih, 1)        // dwInitialFrames, dwStreams
      putLe32(avih, 0)
      putLe32(avih, width); putLe32(avih, height)
      (0 until 4).foreach(_ => putLe32(avih, 0)) // dwReserved
      val strh = new ByteArrayOutputStream(56)
      putFourcc(strh, "vids")
      putFourcc(strh, if (mjpeg) "MJPG" else "DIB ")
      putLe32(strh, 0); putLe32(strh, 0); putLe32(strh, 0)
      putLe32(strh, 1); putLe32(strh, 30)       // dwScale, dwRate
      putLe32(strh, 0); putLe32(strh, n)        // dwStart, dwLength
      putLe32(strh, 0); putLe32(strh, -1); putLe32(strh, 0)
      putLe32(strh, 0); putLe32(strh, (height << 16) | width) // rcFrame
      val strf = new ByteArrayOutputStream(40)  // BITMAPINFOHEADER
      putLe32(strf, 40)
      putLe32(strf, width); putLe32(strf, height)
      putLe32(strf, (24 << 16) | 1)             // biPlanes=1, biBitCount=24
      if (mjpeg) putFourcc(strf, "MJPG") else putLe32(strf, 0) // biCompression
      putLe32(strf, 0); putLe32(strf, 0); putLe32(strf, 0)
      putLe32(strf, 0); putLe32(strf, 0)
      val hdrl = list("hdrl", chunk("avih", avih.toByteArray) ++
        list("strl", chunk("strh", strh.toByteArray) ++
          chunk("strf", strf.toByteArray)))
      val movi = list("movi", frameColours.flatMap(c =>
        if (mjpeg) chunk("00dc", jpegFrame(width, height, c))
        else chunk("00db", dibFrame(width, height, c))))
      val body = hdrl ++ movi
      val out = new ByteArrayOutputStream(body.length + 12)
      putFourcc(out, "RIFF"); putLe32(out, body.length + 4)
      putFourcc(out, "AVI "); out.write(body)
      out.toByteArray
    }

    /** A standards-conformant AVI from EXPLICIT per-frame pixel arrays
      * (row-major, top-down RGB ints) — the general sibling of
      * [[encodeAvi]]'s solid-colour frames, used by fixtures that need
      * structured first-frame content (raw-DIB is lossless, so decoded
      * pixels equal encoded pixels exactly). */
    def encodeAviFrames(frames: Array[Array[Int]]): Array[Byte] = {
      val width = 9
      val height = 8
      require(frames.nonEmpty && frames.forall(_.length == width * height))
      val solid = encodeAvi(width, height, Array.fill(frames.length)(0))
      // rebuild with pixel frames: reuse the header by re-encoding movi
      val rowBytes = (width * 3 + 3) & ~3
      def dib(frame: Array[Int]): Array[Byte] = {
        val body = new Array[Byte](rowBytes * height)
        var by = 0
        while (by < height) {
          val iy = height - 1 - by // DIB rows are bottom-up
          var x = 0
          while (x < width) {
            val rgb = frame(iy * width + x)
            val o = by * rowBytes + x * 3
            body(o) = (rgb & 0xff).toByte
            body(o + 1) = ((rgb >> 8) & 0xff).toByte
            body(o + 2) = ((rgb >> 16) & 0xff).toByte
            x += 1
          }
          by += 1
        }
        body
      }
      // locate the solid movi LIST and splice in our frames (frame sizes
      // are identical — same w/h/count — so offsets are unchanged)
      val out = solid.clone()
      var off = 12
      var moviBody = -1
      while (moviBody < 0 && off + 8 <= out.length) {
        val fourcc = new String(out, off, 4, "US-ASCII")
        val size = le32(out, off + 4)
        if (fourcc == "LIST" &&
            new String(out, off + 8, 4, "US-ASCII") == "movi")
          moviBody = off + 12
        else off += 8 + size + (size & 1)
      }
      require(moviBody > 0, "movi LIST not found in own encoding")
      var p = moviBody
      var fi = 0
      while (fi < frames.length) {
        // each frame chunk: '00db' size body
        val size = le32(out, p + 4)
        val body = dib(frames(fi))
        require(size == body.length)
        System.arraycopy(body, 0, out, p + 8, body.length)
        p += 8 + size + (size & 1)
        fi += 1
      }
      out
    }

    /** Decode the FIRST video frame to a BufferedImage (raw-DIB `..db`
      * bottom-up BGR or MJPEG `..dc` via ImageIO) — the input to
      * perceptual hashing, where one frame is the standard key-frame
      * approximation. None when the bytes are not decodable AVI. */
    def firstFrameImage(payload: Array[Byte]): Option[BufferedImage] =
      try {
        if (payload.length < 24 ||
            new String(payload, 0, 4, "US-ASCII") != "RIFF" ||
            new String(payload, 8, 4, "US-ASCII") != "AVI ") None
        else {
          var width = 0
          var height = 0
          var img: BufferedImage = null
          var bad = false
          def walk(off0: Int, end: Int): Unit = {
            var off = off0
            while (!bad && img == null && off + 8 <= end) {
              val fourcc = new String(payload, off, 4, "US-ASCII")
              val size = le32(payload, off + 4)
              if (size < 0 || off + 8 + size > end) { bad = true }
              else {
                if (fourcc == "LIST") walk(off + 12, off + 8 + size)
                else if (fourcc == "avih" && size >= 40) {
                  width = le32(payload, off + 8 + 32)
                  height = le32(payload, off + 8 + 36)
                } else if (fourcc.endsWith("db")) {
                  val rowBytes = (width * 3 + 3) & ~3
                  if (width <= 0 || height <= 0 ||
                      size < rowBytes * height) { bad = true }
                  else {
                    val bi = new BufferedImage(width, height,
                      BufferedImage.TYPE_INT_RGB)
                    var by = 0
                    while (by < height) {
                      val iy = height - 1 - by
                      var x = 0
                      while (x < width) {
                        val o = off + 8 + by * rowBytes + x * 3
                        val rgb = ((payload(o + 2) & 0xff) << 16) |
                          ((payload(o + 1) & 0xff) << 8) |
                          (payload(o) & 0xff)
                        bi.setRGB(x, iy, rgb)
                        x += 1
                      }
                      by += 1
                    }
                    img = bi
                  }
                } else if (fourcc.endsWith("dc")) {
                  val bi = ImageIO.read(
                    new ByteArrayInputStream(payload, off + 8, size))
                  if (bi == null) bad = true else img = bi
                }
                off += 8 + size + (size & 1)
              }
            }
          }
          walk(12, payload.length)
          if (bad || img == null) None else Some(img)
        }
      } catch { case _: Exception => None }

    private def sumRedDib(data: Array[Byte], off: Int, len: Int,
                          width: Int, height: Int): Option[Long] = {
      val rowBytes = (width * 3 + 3) & ~3
      if (len < rowBytes * height) None
      else {
        var sum = 0L
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            sum += data(off + y * rowBytes + x * 3 + 2) & 0xff // BGR -> red
            x += 1
          }
          y += 1
        }
        Some(sum)
      }
    }

    /** Parse an AVI payload and decode every video frame; None when the
      * bytes are not a decodable AVI (corrupt row, wrong modality).
      * Dimensions come from the `avih` header; `00db` frames decode as raw
      * DIB, `00dc` frames through the ImageIO JPEG reader; audio (`..wb`)
      * and index chunks are skipped per the RIFF contract. */
    def decode(payload: Array[Byte]): Option[Decoded] =
      try {
        if (payload.length < 24 ||
            new String(payload, 0, 4, "US-ASCII") != "RIFF" ||
            new String(payload, 8, 4, "US-ASCII") != "AVI ") None
        else {
          var width = 0
          var height = 0
          var nFrames = 0
          var sumRed = 0L
          var ok = true
          // walk LIST bodies recursively; frame chunks live in 'movi'
          def walk(off0: Int, end: Int): Unit = {
            var off = off0
            while (ok && off + 8 <= end) {
              val fourcc = new String(payload, off, 4, "US-ASCII")
              val size = le32(payload, off + 4)
              if (size < 0 || off + 8 + size > end) { ok = false }
              else {
                if (fourcc == "LIST") walk(off + 12, off + 8 + size)
                else if (fourcc == "avih" && size >= 40) {
                  width = le32(payload, off + 8 + 32)
                  height = le32(payload, off + 8 + 36)
                } else if (fourcc.endsWith("db")) {
                  sumRedDib(payload, off + 8, size, width, height) match {
                    case Some(s) => sumRed += s; nFrames += 1
                    case None    => ok = false
                  }
                } else if (fourcc.endsWith("dc")) {
                  val img = ImageIO.read(
                    new ByteArrayInputStream(payload, off + 8, size))
                  if (img == null) ok = false
                  else {
                    var s = 0L
                    var y = 0
                    while (y < img.getHeight) {
                      var x = 0
                      while (x < img.getWidth) {
                        s += (img.getRGB(x, y) >> 16) & 0xff; x += 1
                      }
                      y += 1
                    }
                    sumRed += s; nFrames += 1
                  }
                }
                off += 8 + size + (size & 1) // chunks pad to even
              }
            }
          }
          walk(12, payload.length)
          if (!ok || width <= 0 || height <= 0 || nFrames == 0) None
          else Some(Decoded(width, height, nFrames,
            sumRed / (width.toLong * height * nFrames)))
        }
      } catch { case _: Exception => None }

    /** Per-frame decode for frame sampling: (frame_idx, mean_red) for each
      * video frame, in stream order. None when not a decodable AVI. */
    def decodeFrames(payload: Array[Byte])
        : Option[(Int, Int, Array[Long])] =
      try {
        if (payload.length < 24 ||
            new String(payload, 0, 4, "US-ASCII") != "RIFF" ||
            new String(payload, 8, 4, "US-ASCII") != "AVI ") None
        else {
          var width = 0
          var height = 0
          val reds = scala.collection.mutable.ArrayBuffer.empty[Long]
          var ok = true
          def walk(off0: Int, end: Int): Unit = {
            var off = off0
            while (ok && off + 8 <= end) {
              val fourcc = new String(payload, off, 4, "US-ASCII")
              val size = le32(payload, off + 4)
              if (size < 0 || off + 8 + size > end) { ok = false }
              else {
                if (fourcc == "LIST") walk(off + 12, off + 8 + size)
                else if (fourcc == "avih" && size >= 40) {
                  width = le32(payload, off + 8 + 32)
                  height = le32(payload, off + 8 + 36)
                } else if (fourcc.endsWith("db")) {
                  sumRedDib(payload, off + 8, size, width, height) match {
                    case Some(s) => reds += s / (width.toLong * height)
                    case None    => ok = false
                  }
                } else if (fourcc.endsWith("dc")) {
                  val img = ImageIO.read(
                    new ByteArrayInputStream(payload, off + 8, size))
                  if (img == null) ok = false
                  else {
                    var s = 0L
                    var y = 0
                    while (y < img.getHeight) {
                      var x = 0
                      while (x < img.getWidth) {
                        s += (img.getRGB(x, y) >> 16) & 0xff; x += 1
                      }
                      y += 1
                    }
                    reds += s / (img.getWidth.toLong * img.getHeight)
                  }
                }
                off += 8 + size + (size & 1)
              }
            }
          }
          walk(12, payload.length)
          if (!ok || width <= 0 || height <= 0 || reds.isEmpty) None
          else Some((width, height, reds.toArray))
        }
      } catch { case _: Exception => None }
  }

  /** Deterministic fake kernel for corrupt/undecodable payloads. Derives
    * "dimensions" from payload bytes so tests have stable expectations. */
  object FakeDecoder {
    def decode(payload: Array[Byte], modality: String): (Int, Int, Int) = {
      val n = payload.length
      modality match {
        case "image" => ((n % 640) + 1, (n % 480) + 1, 1)
        case "video" => ((n % 640) + 1, (n % 480) + 1, (n % 30) + 1)
        case "audio" => (0, 0, (n % 16000) + 1)
        case _       => (0, 0, 0)
      }
    }
    def checksum(payload: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
      h
    }
  }

  /** The deterministic fixture image for a document: dimensions and colour
    * are pure functions of doc_id, so an oracle can predict every decoded
    * feature without running the codec. */
  private def pngFor(docId: Long): Array[Byte] = {
    val w = (docId % 64).toInt + 1
    val h = (docId % 48).toInt + 1
    val r = (docId % 256).toInt
    val g = (docId * 7 % 256).toInt
    val b = (docId * 13 % 256).toInt
    ImageCodec.encodePng(w, h, (r << 16) | (g << 8) | b)
  }

  /** The deterministic fixture WAV for a document — like [[pngFor]], every
    * decoded feature is a pure function of doc_id: sample rate 8k/16k,
    * constant amplitude doc_id % 1000 (so mean |amplitude| == amplitude),
    * doc_id % 500 + 50 mono samples. */
  private def wavFor(docId: Long): Array[Byte] =
    AudioCodec.encodeWav(
      sampleRate = 8000 + (docId % 2).toInt * 8000,
      amplitude = (docId % 1000).toShort,
      nSamples = (docId % 500).toInt + 50)

  /** The deterministic fixture AVI for a document — like [[pngFor]] /
    * [[wavFor]], every decoded feature is a pure function of doc_id:
    * (doc_id % 16 + 2) x (doc_id % 12 + 2) raw-DIB video with
    * doc_id % 12 + 1 solid-colour frames, frame f's red channel
    * (doc_id*31 + f*17) % 256 — so an oracle predicts width, height,
    * frame count and the exact mean red without running the codec
    * (raw DIB is lossless). */
  private def aviFor(docId: Long): Array[Byte] = {
    val n = (docId % 12).toInt + 1
    val colours = Array.tabulate(n) { f =>
      val r = ((docId * 31 + f * 17) % 256).toInt
      val g = ((docId * 7 + f) % 256).toInt
      val b = ((docId * 13 + f * 3) % 256).toInt
      (r << 16) | (g << 8) | b
    }
    VideoCodec.encodeAvi((docId % 16).toInt + 2, (docId % 12).toInt + 2,
      colours)
  }

  /** Build a media table from the documents fixture with a modality
    * assigned round-robin. Image rows carry REAL PNG payloads, audio rows
    * REAL WAV payloads, and video rows REAL raw-DIB AVI payloads (all
    * generated in-cluster, deterministic per doc_id). */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    // FanOut: the codec encode below is the expensive per-row kernel; on
    // a single-row-group input it would otherwise run inside a one-task
    // scan stage (no-op at production partitioning)
    FanOut(docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      col("text").cast(BinaryType).as("payload")))
      .as(enc)
      .mapPartitions { rows =>
        rows.map { r =>
          r.modality match {
            case "image" => r.copy(payload = pngFor(r.doc_id))
            case "audio" => r.copy(payload = wavFor(r.doc_id))
            case _       => r.copy(payload = aviFor(r.doc_id))
          }
        }
      }
  }

  /** All-image media table: every document becomes a real PNG payload.
    * The fixture for end-to-end pixel-exact decode checks. */
  def imageMediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    FanOut(docs.select(col("doc_id"), lit("image").as("modality"),
        lit(Array.empty[Byte]).as("payload")))
      .as(enc)
      .mapPartitions(rows => rows.map(r => r.copy(payload = pngFor(r.doc_id))))
  }

  /** Partition-parallel decode/feature-extract: the batch-UDF analog.
    * Image payloads go through the real `javax.imageio` kernel and audio
    * payloads through the real `javax.sound.sampled` kernel; a decode
    * failure (corrupt bytes, unsupported format) falls back to the
    * deterministic fake and is flagged `decoded = false` instead of
    * failing the partition. Per-partition init amortizes across the batch,
    * the same contract as `mapInPandas`. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { rows =>
      rows.map { r =>
        val real: Option[MediaFeatures] = r.modality match {
          case "image" => ImageCodec.decode(r.payload).map(d =>
            MediaFeatures(r.doc_id, r.modality, r.payload.length,
              d.width, d.height, 1, d.channels, d.meanRed, decoded = true,
              FakeDecoder.checksum(r.payload)))
          case "audio" => AudioCodec.decode(r.payload).map(d =>
            MediaFeatures(r.doc_id, r.modality, r.payload.length,
              d.sampleRate, 0, d.nSamples.toInt, d.channels, d.meanAbs,
              decoded = true, FakeDecoder.checksum(r.payload)))
          case "video" => VideoCodec.decode(r.payload).map(d =>
            MediaFeatures(r.doc_id, r.modality, r.payload.length,
              d.width, d.height, d.nFrames, 3, d.meanRed, decoded = true,
              FakeDecoder.checksum(r.payload)))
          case _ => None
        }
        real.getOrElse {
          val (w, h, f) = FakeDecoder.decode(r.payload, r.modality)
          MediaFeatures(r.doc_id, r.modality, r.payload.length, w, h, f,
            0, 0L, decoded = false, FakeDecoder.checksum(r.payload))
        }
      }
    }
  }

  /** 64-bit difference hash (dHash) of a decoded image — the standard
    * perceptual near-dup signature: the image is area-averaged down to a
    * 9x8 grayscale grid and bit j = y*8+x is 1 iff gray[y][x+1] >
    * gray[y][x] (horizontal gradient sign). Output is a 16-hex-char
    * string in the [[graft.functions.HexHamming]]/simhash format — hex
    * char c holds bits 4c..4c+3 (bit 4c as the nibble MSB) — so the
    * whole simhash banded-Hamming candidate machinery applies unchanged.
    * Integer block-average + integer compare: deterministic across JVMs,
    * and invariant to integer upscaling (an 18x16 copy of a 9x8 image
    * hashes identically — the property that makes dHash a NEAR-dup
    * signature, pinned by spec). */
  def dHashHex(img: BufferedImage): String = {
    val w = img.getWidth
    val h = img.getHeight
    val g = Array.ofDim[Long](8, 9)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val x0 = cx * w / 9
        val x1 = math.max((cx + 1) * w / 9, x0 + 1)
        val y0 = cy * h / 8
        val y1 = math.max((cy + 1) * h / 8, y0 + 1)
        var sum = 0L
        var cnt = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            cnt += 1
            x += 1
          }
          y += 1
        }
        g(cy)(cx) = sum / (3L * cnt)
        cx += 1
      }
      cy += 1
    }
    val hex = "0123456789abcdef"
    val out = new java.lang.StringBuilder(16)
    var c = 0
    while (c < 16) {
      var nib = 0
      var t = 0
      while (t < 4) {
        val j = 4 * c + t
        val y = j / 8
        val x = j % 8
        if (g(y)(x + 1) > g(y)(x)) nib |= 8 >> t
        t += 1
      }
      out.append(hex.charAt(nib))
      c += 1
    }
    out.toString
  }

  /** An image-hash row: 16-hex dHash + decode flag (corrupt payloads are
    * flagged, never hashed — the banding step must exclude them). */
  case class ImageHash(doc_id: Long, dhash: String, decoded: Boolean)

  /** Partition-parallel perceptual hashing: real `javax.imageio` decode,
    * then [[dHashHex]] over the pixels. The (doc_id, dhash) output is the
    * image dedup index — 8 bytes of signature per image, the artifact a
    * 100 TB media pipeline persists. */
  def extractImageHashes(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.mapPartitions { rows =>
      rows.map { r =>
        ImageCodec.readImage(r.payload) match {
          case Some(img) => ImageHash(r.doc_id, dHashHex(img), decoded = true)
          case None      => ImageHash(r.doc_id, "", decoded = false)
        }
      }
    }
  }

  /** The 64 dHash bits of the gradient fixture image for a document —
    * pure integer arithmetic on (doc_id, nGroups) (so an oracle predicts
    * every bit without running the codec): group g = id % nGroups picks a
    * base gradient pattern bit_j = (g % (53+j)) % 2 — the modulus varies
    * per bit position, so distinct groups get effectively distinct
    * 64-bit patterns at ANY group count (a fixed-modulus linear formula
    * collapses to <= modulus patterns, which at corpus scale merges
    * groups into giant quadratic-pair clusters) — and (id/nGroups) % 3
    * flips 0, 1 or 2 bits at id-derived positions, so in-group pairs
    * land at Hamming 0..4, straddling the maxHamming=3 gate. nGroups
    * scales with the corpus (~20 docs per group), keeping the pair
    * output LINEAR in corpus size. */
  private[graft] def fixtureDHashBits(docId: Long,
                                      nGroups: Long): Array[Int] = {
    val g = docId % nGroups
    val nf = (docId / nGroups) % 3
    val f1 = (docId * 13) % 64
    val f2 = (docId * 29 + 7) % 64
    (0 until 64).map { j =>
      val base = ((g % (53 + j)) % 2).toInt
      val flip1 = if (nf >= 1 && j == f1) 1 else 0
      val flip2 = if (nf == 2 && j == f2) 1 else 0
      (base + flip1 + flip2) % 2
    }.toArray
  }

  /** The gradient fixture PNG: a 9x8 grayscale ramp whose horizontal
    * steps ENCODE [[fixtureDHashBits]] (start 128, step +-8 per bit), so
    * the real decode + [[dHashHex]] provably recovers the formula bits.
    * Odd ids are written at 18x16 (every pixel 2x2-duplicated) to
    * exercise the downsample path — same hash by construction. */
  private[graft] def gradientPngFor(docId: Long,
                                    nGroups: Long): Array[Byte] = {
    val bits = fixtureDHashBits(docId, nGroups)
    val gray = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < 8) {
      gray(y)(0) = 128
      var x = 0
      while (x < 8) {
        gray(y)(x + 1) = gray(y)(x) + (if (bits(y * 8 + x) == 1) 8 else -8)
        x += 1
      }
      y += 1
    }
    val scale = if (docId % 2 == 1) 2 else 1
    val img = new BufferedImage(9 * scale, 8 * scale,
      BufferedImage.TYPE_INT_RGB)
    var py = 0
    while (py < 8 * scale) {
      var px = 0
      while (px < 9 * scale) {
        val v = gray(py / scale)(px / scale)
        img.setRGB(px, py, (v << 16) | (v << 8) | v)
        px += 1
      }
      py += 1
    }
    val out = new ByteArrayOutputStream(512)
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Image-dedup fixture table: real gradient PNG payloads per document
    * (oracle-predictable dHash), with every doc_id % 100 == 99 row
    * carrying undecodable text bytes — the corrupt rows the hash step
    * must flag and the dedup step must exclude. `nGroups` defaults to
    * ~20 docs per near-dup group (corpus-derived, so cluster sizes — and
    * with them the pair output — stay CONSTANT as the corpus scales
    * instead of growing quadratic pair counts). */
  def dhashMediaFromDocuments(docs: DataFrame,
                              nGroups: Long = 0L): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    val ng = if (nGroups > 0) nGroups else math.max(docs.count() / 20, 1L)
    // FanOut: the PNG encode is the per-row cost; see [[FanOut]]
    FanOut(docs.select(col("doc_id"), lit("image").as("modality"),
        col("text").cast(BinaryType).as("payload")))
      .as(enc)
      .mapPartitions(rows => rows.map { r =>
        if (r.doc_id % 100 == 99) r
        else r.copy(payload = gradientPngFor(r.doc_id, ng))
      })
  }

  /** One sampled video frame's features: stream-order frame index plus
    * the frame's integer mean red (the q43/q118 feature convention). */
  case class FrameSample(doc_id: Long, frame_idx: Int, width: Int,
                         height: Int, red_mean: Long)

  /** REAL thumbnail resize — the brief's missing multimodal verb next to
    * decode / feature-extract / frame-sample: each image payload is
    * decoded (`javax.imageio`), AREA-AVERAGED onto the target grid with
    * integer box sums per channel (the same deterministic integer
    * averaging as [[dHashHex]]'s 9x8 grid — no float resampling, so the
    * result is bit-identical across JVMs), and re-encoded as a lossless
    * PNG. Non-image rows and undecodable payloads pass through
    * untouched, so the operator composes with the corrupt-row flagging
    * downstream (`decoded = false` at the next feature pass). Map-side
    * per-partition work, the `mapInPandas` batch-UDF shape: nothing
    * shuffles, payload bytes shrink to ~targetW x targetH. */
  def resizeImages(media: Dataset[MediaRow], targetW: Int,
                   targetH: Int): Dataset[MediaRow] = {
    require(targetW > 0 && targetH > 0)
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.modality != "image") r
        else ImageCodec.readImage(r.payload) match {
          case Some(img) =>
            r.copy(payload = ImageCodec.encodeResizedPng(img, targetW,
              targetH))
          case None => r
        }
      }
    }
  }

  /** Frame sampling over real video payloads: every `everyK`-th frame
    * (stream order, starting at frame 0) of each decodable AVI, with the
    * frame's integer mean red — the "pick representative frames before
    * the expensive per-frame model" step of a video curation pipeline.
    * Decode is the same standards-conformant RIFF walk as
    * [[VideoCodec.decode]]; undecodable payloads yield no rows (the
    * corrupt-row policy of the hash extractors). Map-side only. */
  def sampleVideoFrames(media: Dataset[MediaRow])
      : Dataset[FrameSample] = {
    val everyK = 2
    require(everyK >= 1)
    implicit val enc = Encoders.product[FrameSample]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.modality != "video") Iterator.empty
        else VideoCodec.decodeFrames(r.payload) match {
          case Some((w, h, reds)) =>
            reds.iterator.zipWithIndex.collect {
              case (red, f) if f % everyK == 0 =>
                FrameSample(r.doc_id, f, w, h, red)
            }
          case None => Iterator.empty
        }
      }
    }
  }

  /** Mean |amplitude| per window over a decoded audio payload, with
    * dHash-style proportional window boundaries (`w·n/N .. (w+1)·n/N`) so
    * any sample count maps onto the fixed grid. REAL decode: the payload
    * goes through `javax.sound.sampled` (any container the JDK reads),
    * is converted to signed 16-bit PCM, and the means come from actual
    * samples. None when the bytes are not decodable audio. */
  def decodeEnvelope(payload: Array[Byte])
      : Option[Array[Long]] = {
    val nWindows = 65
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais =
        AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      val target = new AudioFormat(fmt.getSampleRate, 16,
        fmt.getChannels, true, false)
      // skip the conversion stream when frames are already target-form
      // (16-bit signed LE) — AudioSystem inserts a byte-copying wrapper
      // even for identical formats, and at 100 TB the decode IS the cost
      val pcm = if (fmt.matches(target)) ais
        else AudioSystem.getAudioInputStream(target, ais)
      val bytes = pcm.readAllBytes()
      val n = bytes.length / 2
      if (n < nWindows) None
      else {
        val env = new Array[Long](nWindows)
        var w = 0
        while (w < nWindows) {
          val i0 = (w.toLong * n / nWindows).toInt
          val i1 = math.max(((w + 1).toLong * n / nWindows).toInt, i0 + 1)
          var sum = 0L
          var i = i0
          while (i < i1) {
            val s =
              ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort
            sum += math.abs(s.toInt)
            i += 1
          }
          env(w) = sum / (i1 - i0)
          w += 1
        }
        Some(env)
      }
    } catch { case _: Exception => None }
  }

  /** 64-bit energy-envelope fingerprint as 16 hex chars: bit j set iff
    * window j+1 is louder than window j over a 65-window envelope — the
    * 1-D audio analog of [[dHashHex]] (gradient of the loudness curve,
    * invariant to global gain offsets and container re-encodes). Same
    * signature shape as the image dHash, so the banded-Hamming candidate
    * machinery is shared verbatim. */
  def envHashHex(env: Array[Long]): String = {
    require(env.length == 65, s"need 65 windows, got ${env.length}")
    val hex = "0123456789abcdef"
    val out = new java.lang.StringBuilder(16)
    var c = 0
    while (c < 16) {
      var nib = 0
      var t = 0
      while (t < 4) {
        val j = 4 * c + t
        if (env(j + 1) > env(j)) nib |= 8 >> t
        t += 1
      }
      out.append(hex.charAt(nib))
      c += 1
    }
    out.toString
  }

  /** An audio-hash row: 16-hex envelope hash + decode flag (corrupt
    * payloads are flagged, never hashed — the banding step must exclude
    * them). The audio twin of [[ImageHash]]. */
  case class AudioHash(doc_id: Long, ahash: String, decoded: Boolean)

  /** Partition-parallel audio fingerprinting: real `javax.sound.sampled`
    * decode, 65-window envelope, [[envHashHex]]. The (doc_id, ahash)
    * output is the audio dedup index — 8 bytes of signature per clip. */
  def extractAudioHashes(media: Dataset[MediaRow]): Dataset[AudioHash] = {
    implicit val enc = Encoders.product[AudioHash]
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeEnvelope(r.payload) match {
          case Some(env) => AudioHash(r.doc_id, envHashHex(env),
            decoded = true)
          case None => AudioHash(r.doc_id, "", decoded = false)
        }
      }
    }
  }

  /** 16-bit mono PCM WAV from an explicit per-sample amplitude array —
    * the variable-amplitude sibling of [[AudioCodec.encodeWav]] (lossless
    * container, so the decoded envelope is a pure function of the
    * samples). Writes the canonical 44-byte RIFF/WAVE header directly —
    * fixture generation is per-row work too, and the AudioSystem
    * stream-writer path costs more than the whole decode; the REAL
    * `javax.sound.sampled` decode still validates every byte of it
    * (spec + scalacheck property pin generator/kernel agreement). */
  private[graft] def encodeWavSamples(samples: Array[Short]): Array[Byte] = {
    val sampleRate = 8000
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def fourcc(off: Int, s: String): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    fourcc(0, "RIFF"); le32(4, 36 + dataLen); fourcc(8, "WAVE")
    fourcc(12, "fmt "); le32(16, 16)
    le16(20, 1) // PCM
    le16(22, 1) // mono
    le32(24, sampleRate)
    le32(28, sampleRate * 2) // byte rate
    le16(32, 2) // block align
    le16(34, 16) // bits per sample
    fourcc(36, "data"); le32(40, dataLen)
    var i = 0
    while (i < samples.length) {
      out(44 + 2 * i) = (samples(i) & 0xff).toByte
      out(44 + 2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** The envelope fixture WAV: 65 windows x 40 constant-amplitude samples
    * whose window-to-window steps ENCODE [[fixtureDHashBits]] (start 1000,
    * step +-8 per bit — amplitudes stay in [488, 1512], and a constant
    * window's mean |amplitude| IS the amplitude), so the real decode +
    * [[envHashHex]] provably recovers the formula bits — the audio twin
    * of [[gradientPngFor]], sharing its bit formula so the two modalities
    * share one oracle algebra. */
  private[graft] def envelopeWavFor(docId: Long,
                                    nGroups: Long): Array[Byte] = {
    val bits = fixtureDHashBits(docId, nGroups)
    val perWindow = 40
    val samples = new Array[Short](65 * perWindow)
    var amp = 1000
    var w = 0
    while (w < 65) {
      var i = 0
      while (i < perWindow) {
        samples(w * perWindow + i) = amp.toShort
        i += 1
      }
      if (w < 64) amp += (if (bits(w) == 1) 8 else -8)
      w += 1
    }
    encodeWavSamples(samples)
  }

  /** Audio-dedup fixture table: real envelope WAV payloads per document
    * (oracle-predictable hash), with every doc_id % 100 == 99 row carrying
    * undecodable text bytes — mirrors [[dhashMediaFromDocuments]] exactly,
    * including the corpus-derived ~20-docs-per-group sizing that keeps the
    * pair output linear in corpus size. */
  def ahashMediaFromDocuments(docs: DataFrame,
                              nGroups: Long = 0L): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    val ng = if (nGroups > 0) nGroups else math.max(docs.count() / 20, 1L)
    FanOut(docs.select(col("doc_id"), lit("audio").as("modality"),
        col("text").cast(BinaryType).as("payload")))
      .as(enc)
      .mapPartitions(rows => rows.map { r =>
        if (r.doc_id % 100 == 99) r
        else r.copy(payload = envelopeWavFor(r.doc_id, ng))
      })
  }

  /** A video-hash row: 16-hex first-frame dHash + decode flag — the video
    * twin of [[ImageHash]]/[[AudioHash]]. */
  case class VideoHash(doc_id: Long, vhash: String, decoded: Boolean)

  /** Partition-parallel video fingerprinting: REAL first-frame decode
    * (RIFF walk + raw-DIB/MJPEG pixels via [[VideoCodec.firstFrameImage]])
    * then the SAME [[dHashHex]] kernel as still images — key-frame
    * perceptual hashing, the standard video dedup approximation. The
    * (doc_id, vhash) output is the video dedup index. */
  def extractVideoHashes(media: Dataset[MediaRow]): Dataset[VideoHash] = {
    implicit val enc = Encoders.product[VideoHash]
    media.mapPartitions { rows =>
      rows.map { r =>
        VideoCodec.firstFrameImage(r.payload) match {
          case Some(img) => VideoHash(r.doc_id, dHashHex(img),
            decoded = true)
          case None => VideoHash(r.doc_id, "", decoded = false)
        }
      }
    }
  }

  /** The gradient fixture AVI: frame 0 is the SAME 9x8 grayscale ramp as
    * [[gradientPngFor]] (raw-DIB, lossless — decoded pixels equal encoded
    * pixels), frame 1 a solid frame so the container is a real multi-frame
    * video; [[VideoCodec.firstFrameImage]] + [[dHashHex]] provably
    * recovers [[fixtureDHashBits]], so all three modalities share one
    * oracle algebra. */
  private[graft] def gradientAviFor(docId: Long,
                                    nGroups: Long): Array[Byte] = {
    val bits = fixtureDHashBits(docId, nGroups)
    val gray = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < 8) {
      gray(y)(0) = 128
      var x = 0
      while (x < 8) {
        gray(y)(x + 1) = gray(y)(x) + (if (bits(y * 8 + x) == 1) 8 else -8)
        x += 1
      }
      y += 1
    }
    val frame0 = Array.tabulate(8 * 9) { i =>
      val v = gray(i / 9)(i % 9)
      (v << 16) | (v << 8) | v
    }
    val frame1 = Array.fill(8 * 9)(((docId % 256).toInt << 16) | 0x4040)
    VideoCodec.encodeAviFrames(Array(frame0, frame1))
  }

  /** Video-dedup fixture table: real gradient AVI payloads per document,
    * every doc_id % 100 == 99 row carrying undecodable text bytes —
    * mirrors [[dhashMediaFromDocuments]]/[[ahashMediaFromDocuments]],
    * same corpus-derived ~20-docs-per-group sizing. */
  def vhashMediaFromDocuments(docs: DataFrame,
                              nGroups: Long = 0L): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    val ng = if (nGroups > 0) nGroups else math.max(docs.count() / 20, 1L)
    FanOut(docs.select(col("doc_id"), lit("video").as("modality"),
        col("text").cast(BinaryType).as("payload")))
      .as(enc)
      .mapPartitions(rows => rows.map { r =>
        if (r.doc_id % 100 == 99) r
        else r.copy(payload = gradientAviFor(r.doc_id, ng))
      })
  }

  /** Frame sampling for video payloads: REAL decode (RIFF walk + per-frame
    * DIB/JPEG pixels), one output row per sampled frame carrying the
    * frame's mean red — the 1->N generator shape a video pipeline feeds to
    * a frame-level model. Undecodable payloads emit no frames (flagged
    * upstream by [[extractFeatures]]'s `decoded = false`). */
  def sampleFrames(media: Dataset[MediaRow], everyN: Int): DataFrame = {
    implicit val enc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
        Encoders.scalaLong)
    media.filter(_.modality == "video").mapPartitions { rows =>
      rows.flatMap { r =>
        VideoCodec.decodeFrames(r.payload) match {
          case Some((_, _, reds)) =>
            (0 until reds.length by everyN).map(i => (r.doc_id, i, reds(i)))
          case None => Nil
        }
      }
    }.toDF("doc_id", "frame_idx", "mean_red")
  }
}
