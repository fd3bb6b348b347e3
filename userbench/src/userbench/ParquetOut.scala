package userbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import graft.operators.TrackerIn

/** Writes generated inputs as single parquet files with the parquet
  * library directly, so staging a request's input runs no Spark job.
  */
object ParquetOut {
  val Dets: MessageType = MessageTypeParser.parseMessageType(
    """message det {
      |  required binary seq (STRING); required binary frame (STRING); required int32 id;
      |  required double x; required double y; required double w; required double h;
      |  required double conf;
      |  required group emb (LIST) { repeated group list { required float element; } }
      |}""".stripMargin)

  val Docs: MessageType = MessageTypeParser.parseMessageType(
    "message doc { required int64 doc_id; required binary text (STRING); }")

  def writeDets(path: String, rows: Seq[TrackerIn], conf: Configuration): Unit =
    write(path, Dets, conf, rows) { (g, r) =>
      g.append("seq", r.seq).append("frame", r.frame).append("id", r.id)
        .append("x", r.x).append("y", r.y).append("w", r.w).append("h", r.h)
        .append("conf", r.conf)
      val list = g.addGroup("emb")
      r.emb.foreach(v => list.addGroup("list").append("element", v))
    }

  def writeDocs(path: String, docs: Seq[(Long, String)], conf: Configuration): Unit =
    write(path, Docs, conf, docs) { (g, d) => g.append("doc_id", d._1).append("text", d._2) }

  private def write[T](path: String, schema: MessageType, conf: Configuration, rows: Seq[T])
                      (fill: (Group, T) => Unit): Unit = {
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema).withConf(conf).build()
    try rows.foreach { r => val g = factory.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }
}
