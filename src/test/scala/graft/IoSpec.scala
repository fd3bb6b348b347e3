package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mot.MotCsv
import graft.sources.Multimodal

/** Source/sink specs: lenient MOT parsing (S2), frame→ids projection
  * (S3), binaryFile media scan (S10), batched multimodal featurize.
  */
class IoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("S2 lenient read drops malformed lines, keeps first 6 cols") {
    val dir = SparkTestBase.tempDir("mot_lenient").toFile
    val f = new java.io.File(dir, "det.txt")
    Files.writeString(f.toPath,
      """1,1,10.0,20.0,30.0,40.0,0.9,1,-1,-1
        |garbage line without commas
        |2,1,11.0,21.0,31.0,41.0,0.8,1,-1,-1
        |3,notanint,1.0,2.0,3.0,4.0,0.5,1,-1,-1
        |""".stripMargin)
    val df = MotCsv.readLenient(spark, f.getAbsolutePath)
    val rows = df.orderBy("frame").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).toSeq == Seq("000001", "000002"))
    assert(rows.head.getDouble(2) == 10.0)
  }

  test("S2 lenient read accepts 6/7/9-col lines and bad trailing cols (parse_annotations parity)") {
    // The reference parses only the first six fields: short MOT gt
    // layouts (6–9 cols) and unparseable trailing columns all survive;
    // only a failure within the first six fields drops the line.
    val dir = SparkTestBase.tempDir("mot_lenient_short").toFile
    val f = new java.io.File(dir, "gt.txt")
    Files.writeString(f.toPath,
      """1,1,10,20,30,40
        |2,2,11,21,31,41,0.8
        |3,3,12,22,32,42,1,-1,-1
        |4,4,13,23,33,43,notaconf,x,y,z
        |5,5,14,24,34
        |
        |6,6,15,25,35,notaheight,0.9,1,-1,-1
        |""".stripMargin)
    val rows = MotCsv.readLenient(spark, f.getAbsolutePath).orderBy("frame").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("000001", "000002", "000003", "000004"))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(10.0, 11.0, 12.0, 13.0))
  }

  test("S2 lenient read keeps non-numeric and EMPTY frames verbatim (reference fallback)") {
    // parse_annotations never rejects on the frame field: int() failure
    // falls back to the original string (reference
    // src/utils/helpers.py:368-373), so "" and "cam_a" both survive.
    val dir = SparkTestBase.tempDir("mot_lenient_frame").toFile
    val f = new java.io.File(dir, "gt.txt")
    Files.writeString(f.toPath,
      """,1,10,20,30,40
        |cam_a,2,11,21,31,41
        |7,3,12,22,32,42
        |""".stripMargin)
    val rows = MotCsv.readLenient(spark, f.getAbsolutePath).orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("", "cam_a", "000007"))
  }

  test("S1 strict read zero-pads numeric frames") {
    val dir = SparkTestBase.tempDir("mot_strict").toFile
    val f = new java.io.File(dir, "det.txt")
    Files.writeString(f.toPath,
      "7,2,1.0,2.0,3.0,4.0,0.5,1,-1,-1\nframe_x,3,1.0,2.0,3.0,4.0,0.5,1,-1,-1\n")
    val frames = MotCsv.read(spark, f.getAbsolutePath)
      .select("frame").collect().map(_.getString(0)).sorted
    assert(frames.toSeq == Seq("000007", "frame_x"))
  }

  test("S4 write: one file sorted by (id, frame) from a multi-partition input") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("mot_write").toString
    val rows = for (f <- 1 to 12; id <- Seq(3, 1, 2)) yield (f"$f%06d", id, f * 1.0, id * 1.0, 5.0, 5.0, 0.9)
    MotCsv.write(scala.util.Random.shuffle(rows).toDF("frame", "id", "x", "y", "w", "h", "conf")
      .repartition(4), dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1)
    val keys = Files.readAllLines(parts.head.toPath).toArray.toSeq.map(_.toString.split(","))
      .map(c => (c(1).toInt, c(0)))
    assert(keys == rows.map(r => (r._2, r._1)).sorted)
  }

  test("S3 candidates: frame -> sorted id list") {
    val dir = SparkTestBase.tempDir("mot_cand").toFile
    val f = new java.io.File(dir, "det.txt")
    Files.writeString(f.toPath,
      "1,5,1,1,1,1,0.5,1,-1,-1\n1,2,1,1,1,1,0.5,1,-1,-1\n2,9,1,1,1,1,0.5,1,-1,-1\n")
    val c = MotCsv.candidates(MotCsv.read(spark, f.getAbsolutePath))
      .orderBy("frame").collect()
    assert(c(0).getSeq[Int](1) == Seq(2, 5))
    assert(c(1).getSeq[Int](1) == Seq(9))
  }

  test("S10 media directory scan sniffs modality from extension") {
    val dir = SparkTestBase.tempDir("media").toFile
    Files.write(new java.io.File(dir, "a.jpg").toPath, Array[Byte](1, 2, 3))
    Files.write(new java.io.File(dir, "b.wav").toPath, Array[Byte](4, 5))
    Files.write(new java.io.File(dir, "c.mp4").toPath, Array[Byte](6))
    val m = Multimodal.readMediaDir(spark, dir.getAbsolutePath)
      .select("modality").collect().map(_.getString(0)).sorted
    assert(m.toSeq == Seq("audio", "image", "video"))
  }

  test("multimodal featurize: batched stub decode is deterministic") {
    val dir = SparkTestBase.tempDir("media2").toFile
    Files.write(new java.io.File(dir, "a.jpg").toPath, Array.tabulate(100)(_.toByte))
    val media = Multimodal.readMediaDir(spark, dir.getAbsolutePath)
    val f1 = Multimodal.featurize(media, dim = 8).collect().head
    val f2 = Multimodal.featurize(media, dim = 8).collect().head
    assert(f1.feature.toSeq == f2.feature.toSeq)
    assert(f1.feature.length == 8)
  }

  test("real PNG decode: grid-luminance features, not the byte-fold stub") {
    // 8×8 PNG, left half black, right half white → dim=4 (2×2 grid)
    // means: row-major [black, white, black, white]
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val f = Multimodal.decodeOne(png, 4)
    assert(f.length == 4)
    assert(f(0) == 0.0f && f(2) == 0.0f, s"black cells: ${f.toSeq}")
    assert(f(1) == 1.0f && f(3) == 1.0f, s"white cells: ${f.toSeq}")
    // gradient: cell means must ORDER with brightness (real pixels read)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, (x * 32) << 16 | (x * 32) << 8 | (x * 32))
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos2)
    val g = Multimodal.decodeOne(bos2.toByteArray, 4)
    assert(g(0) < g(1) && g(2) < g(3), s"gradient order: ${g.toSeq}")
    // non-image bytes keep the byte-fold path bit-for-bit (k06 fixture)
    val txt = "hello world, not an image".getBytes("UTF-8")
    val stub = Multimodal.decodeOne(txt, 4)
    assert(stub(0) == (((txt(0) & 0xff) * 31 + 0) % 256) / 255.0f)
    // truncated/corrupt PNG header falls back to the stub, no throw
    val corrupt = png.take(10)
    assert(Multimodal.decodeOne(corrupt, 4).length == 4)
  }

  test("real WAV decode: energy-envelope windows from PCM16/PCM8, mono and stereo") {
    import spark.implicits._
    import javax.sound.sampled._
    def wav(fmt: AudioFormat, pcm: Array[Byte]): Array[Byte] = {
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / fmt.getFrameSize)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // mono PCM16 LE: 500 silent frames then 500 at +16384 -> [0,0,.5,.5]
    val mono = Array.ofDim[Byte](1000 * 2)
    for (i <- 500 until 1000) { mono(i * 2) = 0x00; mono(i * 2 + 1) = 0x40 }
    val fmt16 = new AudioFormat(8000f, 16, 1, true, false)
    val df = Seq(("a.wav", wav(fmt16, mono))).toDF("path", "content")
    val f = Multimodal.wavFeatures(df, dim = 4).collect().head
    assert(f.nSamples == 1000 && f.sampleRate == 8000)
    assert(f.feature.toSeq == Seq(0f, 0f, 0.5f, 0.5f), f.feature.toSeq)
    // stereo averages channels: ch0 +8192, ch1 +24576 -> mean 16384 -> 0.5
    val st = Array.ofDim[Byte](100 * 4)
    for (i <- 0 until 100) {
      st(i * 4 + 1) = 0x20 // ch0 = 0x2000
      st(i * 4 + 3) = 0x60 // ch1 = 0x6000
    }
    val fmtSt = new AudioFormat(8000f, 16, 2, true, false)
    val s = Multimodal.wavFeatures(
      Seq(("s.wav", wav(fmtSt, st))).toDF("path", "content"), dim = 2)
      .collect().head
    assert(s.feature.toSeq == Seq(0.5f, 0.5f), s.feature.toSeq)
    // unsigned PCM8: 128+64 everywhere -> 64*256/32768 = 0.5
    val u8 = Array.fill[Byte](64)((128 + 64).toByte)
    val fmt8 = new AudioFormat(8000f, 8, 1, false, false)
    val e = Multimodal.wavFeatures(
      Seq(("e.wav", wav(fmt8, u8))).toDF("path", "content"), dim = 2)
      .collect().head
    assert(e.feature.toSeq == Seq(0.5f, 0.5f), e.feature.toSeq)
    // non-WAV payload fails loudly
    assertThrows[org.apache.spark.SparkException] {
      Multimodal.wavFeatures(
        Seq(("x.bin", Array[Byte](1, 2, 3))).toDF("path", "content"), 2).collect()
    }
  }
}
