package graft.mot

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Geometry

/** MOT-Challenge CSV sources and sinks (SURVEY §2.1 S1–S7).
  *
  * The 10-column layout `frame,id,x,y,w,h,conf,mx,my,mz` mirrors the
  * reference's universal interchange format (reference
  * src/utils/helpers.py:421-439). Frame ids are canonicalized to
  * zero-padded 6-digit strings when numeric (E9, reference
  * src/utils/helpers.py:369-373).
  *
  * Scale posture: schema is declared (never inferred — inference is a
  * full extra pass over 100 TB), reads are splittable line CSV, and the
  * zero-pad projection is a codegen'd expression on the scan.
  */
object MotCsv {

  val schema: StructType = StructType(Seq(
    StructField("frame", StringType),
    StructField("id", IntegerType),
    StructField("x", DoubleType),
    StructField("y", DoubleType),
    StructField("w", DoubleType),
    StructField("h", DoubleType),
    StructField("conf", DoubleType),
    StructField("mx", IntegerType),
    StructField("my", IntegerType),
    StructField("mz", IntegerType)
  ))

  /** S1 — strict full read (load_icebergs_by_frame, reference
    * src/utils/helpers.py:398-443). Ordering is applied at consumption,
    * not here: a global sort on read would be a wasted shuffle.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).csv(path)
      .withColumn("frame", Geometry.framePad(col("frame")))

  /** S2 — lenient read: first 6 columns, malformed lines dropped
    * (parse_annotations, reference src/utils/helpers.py:339-395).
    *
    * The reference accepts any line whose id/bbox fields (2–6) parse —
    * the FRAME field never rejects a line: non-numeric (even empty)
    * frames are kept verbatim (reference src/utils/helpers.py:368-373),
    * so no frame-based drop happens here either. Beyond that,
    * short lines (6–9 cols, the common MOT gt layout), extra trailing
    * fields, and unparseable trailing columns all survive. A schema'd
    * CSV read in DROPMALFORMED mode would reject on token-count
    * mismatch, so we split manually: line → fields, take 1–6,
    * `try_cast` each (null on failure, like the reference's caught
    * ValueError/IndexError), drop rows where any required field is
    * null. `id` is additionally gated on an integer regex because SQL
    * casts accept "7.0" where Python's `int()` raises. Still a
    * splittable line read with codegen'd projections — no extra pass.
    */
  def readLenient(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(split(trim(col("value"), " \t\r"), ",").as("p"))
      .selectExpr(
        "try_element_at(p, 1) AS frame",
        "CASE WHEN trim(try_element_at(p, 2)) RLIKE '^[+-]?[0-9]+$' " +
          "THEN try_cast(trim(try_element_at(p, 2)) AS INT) END AS id",
        "try_cast(trim(try_element_at(p, 3)) AS DOUBLE) AS x",
        "try_cast(trim(try_element_at(p, 4)) AS DOUBLE) AS y",
        "try_cast(trim(try_element_at(p, 5)) AS DOUBLE) AS w",
        "try_cast(trim(try_element_at(p, 6)) AS DOUBLE) AS h")
      .na.drop(Seq("id", "x", "y", "w", "h"))
      .withColumn("frame", Geometry.framePad(trim(col("frame"))))

  /** S3 — frame → id-list projection (extract_candidates, reference
    * src/utils/helpers.py:450-478).
    */
  def candidates(df: DataFrame): DataFrame =
    df.groupBy("frame").agg(sort_array(collect_list("id")).as("ids"))

  /** S4/S5/S6/S7 — MOT CSV write with the reference's `(id, frame)`
    * output sort (sort_file, reference src/utils/helpers.py:293-336 — the
    * actual key is `(int(id), frame)` despite the docstring).
    * `singleFile` matches the reference's single-file layout: the rows
    * are coalesced to one partition and sorted within it, adding no
    * exchange. The one writing task then also runs the narrow work above
    * it, back to the last exchange or the scan, so a caller with a wide
    * or large upstream passes `singleFile = false` and gets a
    * range-partitioned, globally sorted output.
    */
  def write(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = df
      .select(
        col("frame"), col("id"),
        col("x"), col("y"), col("w"), col("h"), col("conf"),
        lit(1).as("mx"), lit(-1).as("my"), lit(-1).as("mz"))
    (if (singleFile) out.coalesce(1).sortWithinPartitions(col("id"), col("frame"))
     else out.orderBy(col("id"), col("frame")))
      .write.mode("overwrite").option("header", "false").csv(path)
  }
}
