package graft

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.FileUtil
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.SparkSession
import graft.sources.ArtifactStore

/** Shared local session for specs (forked JVM gets the add-opens flags
  * from build.sbt).
  */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.warehouse.dir", tempDir("graft_wh").toString)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", LocalSession.CodegenCacheEntries.toString)
    .config(LocalSession.LocalFileSystem)
    .getOrCreate()

  GraftExtensions.register(spark)

  /** A new directory under `java.io.tmpdir`, deleted with everything in
    * it when the JVM exits, together with every artifact store built for
    * a dataset inside it (a copy's stores are under its own dataset
    * hash, which no other dataset's GC touches). The hook runs after
    * Spark's own (Hadoop priority 40), so no session or streaming query
    * still writes there.
    */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    ShutdownHookManager.get().addShutdownHook(() => {
      ArtifactStore.datasetDirsUnder(dir.toFile).foreach(d => FileUtil.fullyDelete(new File(d)))
      FileUtil.fullyDelete(dir.toFile)
    }, 20)
    dir
  }
}
