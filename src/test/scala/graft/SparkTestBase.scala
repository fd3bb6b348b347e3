package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (forked JVM gets the add-opens flags
  * from build.sbt).
  */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", LocalSession.CodegenCacheEntries.toString)
    .getOrCreate()

  GraftExtensions.register(spark)
}
