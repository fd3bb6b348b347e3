package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Render

/** S15/S14 raster half: pixel-level assertions on the annotation kernel
  * and the sinks (the relational draw plan is DuckDB-checked by v01).
  */
class RenderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val Gray = 0x808080

  private def basePng(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, Gray)
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Same color derivation as Geometry.colorForId (md5 hex pairs). */
  private def colorOf(id: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (Integer.parseInt(h.substring(0, 2), 16) << 16) |
      (Integer.parseInt(h.substring(2, 4), 16) << 8) |
      Integer.parseInt(h.substring(4, 6), 16)
  }

  private def decode(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new ByteArrayInputStream(bytes))

  private def annotated(drawIds: Boolean) = {
    import spark.implicits._
    // frame 1 has one box; frame 2 has none (pass-through)
    val images = Seq(("s0", 1, basePng(64, 48)), ("s0", 2, basePng(64, 48)))
      .toDF("seq", "frame", "content")
    val boxes = Seq(("s0", 1, 7, 10.0, 30.0, 40.0, 45.0))
      .toDF("seq", "frame", "id", "x1", "y1", "x2", "y2")
    Render.annotateFrames(images, boxes, width = 64, height = 48,
        drawIds = drawIds, thickness = 3)
      .collect().map(r => r.getInt(1) -> r).toMap
  }

  test("annotateFrames: border bands painted, interior untouched, label digits drawn") {
    val out = annotated(drawIds = true)
    assert(out(1).getInt(3) == 1 && out(2).getInt(3) == 0)
    val img = decode(out(1).getAs[Array[Byte]](2))
    val c7 = colorOf(7)
    // 3px bands inside (10,30)-(40,45)
    assert((img.getRGB(10, 30) & 0xffffff) == c7) // corner
    assert((img.getRGB(12, 37) & 0xffffff) == c7) // left band x<13
    assert((img.getRGB(25, 44) & 0xffffff) == c7) // bottom band y>42
    assert((img.getRGB(20, 37) & 0xffffff) == Gray) // interior
    assert((img.getRGB(9, 29) & 0xffffff) == Gray)  // just outside
    // label "7" at (text_x, text_y) = (10, max(30-10, 20)) = (10, 20):
    // glyph row0 is all-on -> (10,20) and (15,21) painted, and the
    // digit-7 hole at row1 col0/col1 -> (10,22) stays gray
    assert((img.getRGB(10, 20) & 0xffffff) == c7)
    assert((img.getRGB(15, 21) & 0xffffff) == c7)
    assert((img.getRGB(10, 22) & 0xffffff) == Gray)
    // untouched frame decodes back to the base raster
    val img2 = decode(out(2).getAs[Array[Byte]](2))
    assert((img2.getRGB(10, 30) & 0xffffff) == Gray)
  }

  test("annotateFrames: drawIds=false leaves the label area untouched; output deterministic") {
    val out = annotated(drawIds = false)
    val img = decode(out(1).getAs[Array[Byte]](2))
    assert((img.getRGB(10, 20) & 0xffffff) == Gray)
    // bit-identical across runs (determinism of paint order + encoder)
    val again = annotated(drawIds = false)
    assert(java.util.Arrays.equals(out(1).getAs[Array[Byte]](2),
      again(1).getAs[Array[Byte]](2)))
  }

  test("annotateFrames: off-canvas box clipped to the edge bands") {
    import spark.implicits._
    val images = Seq(("s0", 1, basePng(32, 32))).toDF("seq", "frame", "content")
    // extends past both edges -> clipped to (20,20)-(31,31)
    val boxes = Seq(("s0", 1, 3, 20.0, 20.0, 99.0, 99.0))
      .toDF("seq", "frame", "id", "x1", "y1", "x2", "y2")
    val out = Render.annotateFrames(images, boxes, 32, 32,
      drawIds = false, thickness = 2).collect().head
    val img = decode(out.getAs[Array[Byte]](2))
    assert((img.getRGB(31, 31) & 0xffffff) == colorOf(3))
    assert((img.getRGB(25, 25) & 0xffffff) == Gray) // clipped interior
  }

  test("annotateFrames: frame smaller than the declared canvas paints clipped, no crash") {
    import spark.implicits._
    // canvas declared 64x48 (mixed-dim sequence), actual frame 32x24
    val images = Seq(("s0", 1, basePng(32, 24))).toDF("seq", "frame", "content")
    val boxes = Seq(("s0", 1, 2, 10.0, 10.0, 50.0, 40.0))
      .toDF("seq", "frame", "id", "x1", "y1", "x2", "y2")
    val out = Render.annotateFrames(images, boxes, 64, 48,
      drawIds = false, thickness = 2).collect().head
    val img = decode(out.getAs[Array[Byte]](2))
    assert(img.getWidth == 32 && img.getHeight == 24)
    assert((img.getRGB(10, 10) & 0xffffff) == colorOf(2)) // visible corner painted
  }

  test("annotateFrames: drawBoxes=false suppresses the border, labels still drawn") {
    import spark.implicits._
    val images = Seq(("s0", 1, basePng(64, 48))).toDF("seq", "frame", "content")
    val boxes = Seq(("s0", 1, 7, 10.0, 30.0, 40.0, 45.0))
      .toDF("seq", "frame", "id", "x1", "y1", "x2", "y2")
    val out = Render.annotateFrames(images, boxes, 64, 48,
      drawIds = true, drawBoxes = false).collect().head
    val img = decode(out.getAs[Array[Byte]](2))
    assert((img.getRGB(10, 30) & 0xffffff) == Gray)      // no border
    assert((img.getRGB(10, 20) & 0xffffff) == colorOf(7)) // label present
  }

  test("exportImages: one zero-padded file per frame, manifest returned") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("render_export").toString
    val frames = Seq(("s0", 1, basePng(16, 16)), ("s1", 12, basePng(16, 16)))
      .toDF("seq", "frame", "content")
    val manifest = Render.exportImages(frames, dir).collect()
    assert(manifest.length == 2 && manifest.forall(_.getLong(1) > 0))
    assert(new java.io.File(s"$dir/s0/000001.png").isFile)
    assert(new java.io.File(s"$dir/s1/000012.png").isFile)
    // written file decodes
    assert(ImageIO.read(new java.io.File(s"$dir/s0/000001.png")).getWidth == 16)
  }

  test("video round-trip: renderVideo GIF decodes back via Multimodal.gifFrames") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("render_roundtrip").toString
    def solidPng(gray: Int): Array[Byte] = {
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
      val baos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // 4 frames, strictly brightening
    val frames = Seq(("s0", 1, solidPng(40)), ("s0", 2, solidPng(100)),
      ("s0", 3, solidPng(160)), ("s0", 4, solidPng(220)))
      .toDF("seq", "frame", "content")
    Render.renderVideo(frames, dir, fps = 5).collect()
    val gif = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/s0.gif"))
    val media = Seq(("s0.gif", gif)).toDF("path", "content")
    val out = graft.sources.Multimodal.gifFrames(media, stride = 2, dim = 4)
      .collect().sortBy(_.frameIdx)
    // stride 2 over 4 frames -> frames 0 and 2
    assert(out.map(_.frameIdx).toSeq == Seq(0, 2))
    // solid frames: all grid cells equal; brightness strictly increases
    out.foreach(f => assert(f.feature.distinct.length == 1))
    assert(out(0).feature(0) < out(1).feature(0))
    // GIF round-trip preserves the solid gray exactly (palette hit)
    assert(math.abs(out(0).feature(0) - 40f / 255f) < 0.02f)
    // non-GIF payload fails loudly
    val bad = Seq(("x.bin", Array[Byte](1, 2, 3, 4))).toDF("path", "content")
    assertThrows[org.apache.spark.SparkException] {
      graft.sources.Multimodal.gifFrames(bad, stride = 1).collect()
    }
  }

  test("renderVideo: mismatched frame dims resize to the first frame's") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("render_mixdims").toString
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val baos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val frames = Seq(("s0", 1, png(24, 18)), ("s0", 2, png(48, 36)))
      .toDF("seq", "frame", "content")
    val n = Render.renderVideo(frames, dir, fps = 5).collect().head.getLong(1)
    assert(n == 2)
    val in = ImageIO.createImageInputStream(new java.io.File(s"$dir/s0.gif"))
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(in)
    // both frames at the FIRST frame's dims
    assert((0 until 2).forall { i =>
      reader.read(i).getWidth == 24 && reader.read(i).getHeight == 18
    })
    reader.dispose(); in.close()
  }

  test("renderVideo: codec chain picks a JVM-available writer; per-seq frame counts round-trip") {
    import spark.implicits._
    assert(Render.pickCodec() == "gif") // stock JDK: no mp4/avi writer
    val dir = SparkTestBase.tempDir("render_video").toString
    val frames = Seq(
      ("s0", 2, basePng(20, 20)), ("s0", 1, basePng(20, 20)),
      ("s0", 3, basePng(20, 20)), ("s1", 1, basePng(20, 20)))
      .toDF("seq", "frame", "content")
    val manifest = Render.renderVideo(frames, dir, fps = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(manifest == Map("s0" -> 3L, "s1" -> 1L))
    // read back: animated gif with 3 frames
    val in = ImageIO.createImageInputStream(new java.io.File(s"$dir/s0.gif"))
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(in)
    assert(reader.getNumImages(true) == 3)
    reader.dispose(); in.close()
  }
}
