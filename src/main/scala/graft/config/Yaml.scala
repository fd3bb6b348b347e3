package graft.config

import scala.jdk.CollectionConverters._
import org.snakeyaml.engine.v2.api.LoadSettings
import org.snakeyaml.engine.v2.api.lowlevel.Compose
import org.snakeyaml.engine.v2.common.FlowStyle
import org.snakeyaml.engine.v2.constructor.StandardConstructor
import org.snakeyaml.engine.v2.exceptions.YamlEngineException
import org.snakeyaml.engine.v2.nodes.{MappingNode, Node, SequenceNode}
import org.snakeyaml.engine.v2.schema.CoreSchema

/** Pipeline config loader (SURVEY §2.1 S12; reference `load_config`,
  * src/utils/helpers.py:149-286 loads OmegaConf YAML → dict) over
  * snakeyaml-engine, which Spark ships, with the YAML 1.2 core schema:
  * `null`/`~`, `true`/`True`/`TRUE`, ints, floats (`1e-4`, `.nan`,
  * `.inf`), quoted and plain strings (URLs and `12:30` stay strings),
  * and flow and block collections at any depth.
  *
  * Values are Scala types: `null`, `Boolean`, `Long`, `Double`,
  * `String`, `List[Any]`, `Map[String, Any]` — the shapes OmegaConf's
  * `to_container` yields, so override merging and dataclass dispatch
  * mirror the reference. An integer beyond a Long loads as a Double.
  *
  * Fails with IllegalArgumentException on malformed YAML, on a duplicate
  * key (never last-wins), on a document whose top level is not a
  * mapping, and on a block mapping directly inside a block list
  * (`- key: val`; a flow `- {k: v}` is fine): the reference's configs
  * hold no list of maps, so a mis-indented entry fails at load instead
  * of reaching a typed field as a map.
  *
  * Edge cases: `.nan` and `.inf` load as Doubles, and a mixed-case
  * `tRuE` stays a string, which `Configs.bool` lowercases.
  */
object Yaml {

  private val settings = LoadSettings.builder().setSchema(new CoreSchema()).build()

  def parse(text: String): Map[String, Any] =
    try {
      val doc = new Compose(settings).composeString(text)
      if (!doc.isPresent) Map.empty else {
        checkShape(doc.get)
        toScala(new StandardConstructor(settings).constructSingleDocument(doc)) match {
          case m: Map[String @unchecked, Any @unchecked] => m
          case v => throw new IllegalArgumentException(s"a config's top level must be a mapping, not: $v")
        }
      }
    } catch {
      case e: YamlEngineException => throw new IllegalArgumentException(e.getMessage, e)
    }

  private def checkShape(n: Node): Unit = n match {
    case s: SequenceNode => s.getValue.asScala.foreach {
      case m: MappingNode if m.getFlowStyle == FlowStyle.BLOCK =>
        throw new IllegalArgumentException("block list items must be scalars or flow " +
          s"collections, not nested mappings: ${m.getStartMark.map[String](_.toString).orElse("")}")
      case c => checkShape(c)
    }
    case m: MappingNode => m.getValue.asScala.foreach { t =>
      checkShape(t.getKeyNode); checkShape(t.getValueNode)
    }
    case _ =>
  }

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => String.valueOf(k) -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case i: java.lang.Integer => i.toLong
    case b: java.math.BigInteger => b.doubleValue
    case x => x
  }

  /** Scalar coercion for a single CLI `key=value` override — the same
    * inference chain as the reference (int → float → bool → str,
    * src/utils/helpers.py:120-132). NOT used for YAML values, which
    * have their own literal syntax.
    */
  def inferScalar(v: String): Any = {
    val t = v.trim
    toLong(t).getOrElse(
      toDouble(t).getOrElse(
        t.toLowerCase match {
          case "true" => true
          case "false" => false
          case _ => t
        }))
  }

  private def toLong(s: String): Option[Long] =
    try Some(java.lang.Long.parseLong(s)) catch { case _: NumberFormatException => None }

  private def toDouble(s: String): Option[Double] =
    try {
      // reject Infinity/NaN words and trailing-garbage forms Java allows
      if (s.exists(c => c.isLetter && c != 'e' && c != 'E') && !s.matches("[-+0-9.eE]+")) None
      else Some(java.lang.Double.parseDouble(s))
    } catch { case _: NumberFormatException => None }
}
