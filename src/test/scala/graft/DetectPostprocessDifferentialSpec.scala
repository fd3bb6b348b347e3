package graft

import java.nio.file.Files
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.mot.MotCsv
import graft.operators.{DetBox, DetectFilters, Nms}

/** The relational plan `Pipelines.detectPostprocess` replaced: NMS and
  * nested removal as two grouped passes, then the per-frame ordinals as
  * a `row_number` window over (score desc, id asc). Kept as a test
  * reference only.
  */
object DetectPostprocessReference {
  def detectPostprocess(spark: SparkSession, raw: DataFrame, outFile: String,
                        imgW: Int, imgH: Int, confThreshold: Double,
                        nmsThreshold: Double = 0.5): Unit = {
    import spark.implicits._
    val filtered = DetectFilters.cascade(raw, col("score"),
      col("x1"), col("y1"), col("x2"), col("y2"),
      lit(imgW), lit(imgH), confThreshold, 0.0, 0.0)
    val boxes = filtered.select(col("seq"), col("frame"), col("id"),
      col("x1"), col("y1"), col("x2"), col("y2"), col("score")).as[DetBox]
    val kept = Nms.removeNested(Nms.nms(boxes, nmsThreshold), nmsThreshold)
    val w = Window.partitionBy("seq", "frame").orderBy(col("score").desc, col("id").asc)
    MotCsv.write(
      kept.toDF()
        .withColumn("det_id", row_number().over(w))
        .select(col("frame"), col("det_id").as("id"),
          col("x1").as("x"), col("y1").as("y"),
          (col("x2") - col("x1")).as("w"), (col("y2") - col("y1")).as("h"),
          col("score").as("conf")),
      outFile)
  }
}

/** `Pipelines.detectPostprocess` (one kernel per frame: NMS, nested
  * removal, ordinals) against `DetectPostprocessReference` on generated
  * frames: the det.txt both write must be byte-identical.
  */
class DetectPostprocessDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val schema = StructType(
    Seq("seq", "frame").map(StructField(_, StringType)) ++
    Seq(StructField("id", IntegerType)) ++
    Seq("x1", "y1", "x2", "y2", "score").map(StructField(_, DoubleType)))

  /** One sequence of frames holding tied, NaN, 0.0 and -0.0 scores,
    * zero-area boxes, boxes nested in an earlier box of their frame,
    * near-duplicates and disjoint boxes, under distinct shuffled ids.
    */
  private def generate(frames: Int, seed: Long): Seq[Row] = {
    val rnd = new Random(seed)
    val scores = Array(0.9, 0.7, 0.7, 0.5, 0.3, 0.1, 0.05, 0.0, -0.0, Double.NaN)
    def score(): Double =
      if (rnd.nextInt(4) == 0) rnd.nextDouble() else scores(rnd.nextInt(scores.length))
    (1 to frames).flatMap { f =>
      val n = rnd.nextInt(12)
      val ids = rnd.shuffle((-5 until 40).toList).take(n)
      val boxes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
      ids.map { id =>
        val box = rnd.nextInt(5) match {
          case 0 if boxes.nonEmpty => // nested inside an earlier box
            val (x1, y1, x2, y2) = boxes(rnd.nextInt(boxes.length))
            val (dx, dy) = ((x2 - x1) * 0.2, (y2 - y1) * 0.2)
            (x1 + dx, y1 + dy, x2 - dx, y2 - dy)
          case 1 if boxes.nonEmpty => // a near-duplicate of an earlier box
            val (x1, y1, x2, y2) = boxes(rnd.nextInt(boxes.length))
            val j = rnd.nextInt(4).toDouble
            (x1 + j, y1 - j, x2 + j, y2 - j)
          case 2 => // zero area
            val (x, y) = (rnd.nextInt(300).toDouble, rnd.nextInt(300).toDouble)
            (x, y, if (rnd.nextBoolean()) x else x + 10, y)
          case _ =>
            val (x, y) = (rnd.nextInt(300).toDouble, rnd.nextInt(300).toDouble)
            (x, y, x + 5 + rnd.nextInt(60), y + 5 + rnd.nextInt(60))
        }
        boxes += box
        Row("s", f"$f%06d", id, box._1, box._2, box._3, box._4, score())
      }
    }
  }

  private def detTxt(dir: String): Array[Byte] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).sortBy(_.getName)
      .flatMap(f => Files.readAllBytes(f.toPath))

  for (seed <- Seq(7L, 8L, 9L); conf <- Seq(0.0, 0.1))
    test(s"det.txt is byte-identical to the reference plan's (seed $seed, confThreshold $conf)") {
      val raw = spark.createDataFrame(
        java.util.Arrays.asList(generate(60, seed): _*), schema).repartition(3)
      val dir = SparkTestBase.tempDir("det_diff").toString
      Pipelines.detectPostprocess(spark, raw, s"$dir/kernel", 400, 400, confThreshold = conf)
      DetectPostprocessReference.detectPostprocess(spark, raw, s"$dir/reference", 400, 400, conf)
      val (got, want) = (detTxt(s"$dir/kernel"), detTxt(s"$dir/reference"))
      val lines = new String(want, "UTF-8").split("\n")
      // the reference output exercises the orderings the kernel must match
      assert(lines.length > 100 && lines.exists(_.endsWith(",NaN,1,-1,-1")), lines.length)
      if (conf == 0.0) assert(lines.exists(_.contains(",-0.0,1,-1,-1")))
      assert(java.util.Arrays.equals(got, want),
        s"kernel:\n${new String(got, "UTF-8")}\nreference:\n${new String(want, "UTF-8")}")
    }
}
