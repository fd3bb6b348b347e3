package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ArtifactStore
import graft.streaming.Drain

/** `streaming.Drain`'s sink: what a drained stream leaves is the final
  * result, on disk under a directory the artifact store records.
  */
class DrainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("complete mode: a windowed count over two micro-batches drains to the final table once") {
    import spark.implicits._
    val d = SparkTestBase.tempDir("drain_complete").toString
    val hour = 3600L
    // batch 0: hours 0, 0, 1; batch 1: hours 1, 2
    Seq(Seq(0L, 10L, hour), Seq(hour + 10L, 2 * hour)).zipWithIndex.foreach { case (secs, i) =>
      secs.toDF("sec").select(timestamp_seconds(col("sec")).as("et"))
        .coalesce(1).write.parquet(s"$d/in/batch=$i")
    }
    val counts = spark.readStream.schema("et TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(s"$d/in")
      .groupBy(window(col("et"), "1 hour")).count()
    val got = Drain.toSink(counts, "graft_drain_spec", d, Seq("in"), "complete")(identity)
      .select(unix_seconds(col("window.start")), col("count"))
      .as[(Long, Long)].collect().toSeq.sorted
    // an append of each batch's complete table would hold hour 0 twice
    assert(got == Seq((0L, 2L), (hour, 2L), (2 * hour, 1L)), got)
  }

  test("no trigger, or triggers that keep no row: an empty result typed by the per-batch function") {
    val d = SparkTestBase.tempDir("drain_empty").toString
    def drain(glob: String) = Drain.toSink(
      spark.readStream.schema("id LONG").option("pathGlobFilter", glob).parquet(d),
      "graft_drain_spec", d, Seq("in"))(_.filter(col("id") < 0).select((col("id") * 2).as("twice")))
    spark.range(5).coalesce(1).write.parquet(s"$d/in")
    for (glob <- Seq("nothing.parquet", "*.parquet")) {
      val out = drain(glob)
      assert(out.schema.fieldNames.toSeq == Seq("twice"), glob)
      assert(out.collect().isEmpty, glob)
    }
  }

  test("st2 on a dataset copy leaves no temp view and writes its sink under the copy's record") {
    val copy = SparkTestBase.tempDir("drain_st2").toFile
    Files.copy(new File("/root/testdata/sf0.001/events.parquet").toPath,
      new File(copy, "events.parquet").toPath)
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    val rows = SparkEntry.queries("st2_stream_dedup")(spark, copy.toString).collect()
    assert(rows.nonEmpty)
    assert(views == before, s"temp views left: ${views -- before}")
    val sinks = ArtifactStore.datasetDirsUnder(copy).filter(_.contains("/graft_drain_st2/"))
    assert(sinks.size == 1, ArtifactStore.datasetDirsUnder(copy))
    assert(new File(sinks.head).listFiles().exists(_.getName.endsWith(".parquet")))
  }
}
