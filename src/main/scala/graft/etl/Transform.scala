package graft.etl

import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** The ETL transform spec — same YAML shape as the reference
  * (ref: etl/yaml.go:9-45, demo/invoices.yaml).
  */
final case class TopicPool(topic: String, pool: String)

final case class Rule(
    ruleType: String,            // "stateless" | "denorm"
    where: String,               // predicate (Zed-ish expression, may be "")
    in: String,                  // stateless input topic
    left: String, right: String, // denorm input topics
    joinOn: String,              // "left.path=right.path"
    out: String,                 // output topic
    zed: String)                 // "out := { ... }" record construction

final case class Transform(
    inputs: Seq[TopicPool],
    outputs: Seq[TopicPool],
    rules: Seq[Rule]) {
  /** Primary output (reference-parity single-output view). */
  def output: TopicPool = outputs.head
  /** Out-topic → pool routing; rule out-topics not listed under `outputs`
    * land in the primary pool (reference behavior, where every out topic
    * goes to the single output pool).
    */
  def poolForTopic(topic: String): String =
    outputs.find(_.topic == topic).map(_.pool).getOrElse(output.pool)

  /** SHA-256 (hex) of a canonical rendering of every field: equal for equal
    * transforms whatever `Seq` implementation holds their lists. A persisted
    * ETL cursor is valid only for the transform that routed the rows it
    * covers, so it is stored under this digest.
    */
  lazy val digest: String = {
    def render(x: Any): String = x match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case s: Seq[_] => s.map(render).mkString("[", ",", "]")
      case p: Product => p.productPrefix + p.productIterator.map(render).mkString("(", ",", ")")
      case v => String.valueOf(v)
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(render(this).getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }
}

object Transform {

  def fromYaml(text: String): Transform = {
    val y = new Yaml().load[java.util.Map[String, Object]](text)
    def str(m: java.util.Map[String, Object], k: String): String =
      Option(m.get(k)).map(_.toString).getOrElse("")
    val inputs = y.get("inputs").asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.toSeq.map(m => TopicPool(str(m, "topic"), str(m, "pool")))
    // `output:` (reference-compatible single) and/or `outputs:` (the lifted
    // multi-pool form); the first entry is the primary/default pool
    val single = Option(y.get("output"))
      .map(_.asInstanceOf[java.util.Map[String, Object]])
      .map(m => TopicPool(str(m, "topic"), str(m, "pool"))).toSeq
    val multi = Option(y.get("outputs"))
      .map(_.asInstanceOf[java.util.List[java.util.Map[String, Object]]])
      .map(_.asScala.toSeq.map(m => TopicPool(str(m, "topic"), str(m, "pool"))))
      .getOrElse(Nil)
    val outputs = single ++ multi
    require(outputs.nonEmpty, "transform needs `output:` or `outputs:`")
    val rules = y.get("transforms").asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.toSeq.map { m =>
        Rule(str(m, "type"), str(m, "where"), str(m, "in"),
          str(m, "left"), str(m, "right"), str(m, "join-on"),
          str(m, "out"), str(m, "zed"))
      }
    Transform(inputs, outputs, rules)
  }

  /** Route validation mirroring etl/routes.go:53-73 + build.go:29-57:
    * every rule's topics are declared inputs, and all outputs of any input
    * land in a single pool.
    */
  def validate(t: Transform): Unit = {
    val declared = t.inputs.map(_.topic).toSet
    t.rules.foreach { r =>
      r.ruleType match {
        case "stateless" =>
          require(r.in.nonEmpty, "'in' topic must be specified for stateless ETL")
          require(r.left.isEmpty && r.right.isEmpty,
            "'left' or 'right' topic cannot be specified for stateless ETL")
          require(declared(r.in), s"undeclared input topic: ${r.in}")
        case "denorm" =>
          require(r.left.nonEmpty && r.right.nonEmpty,
            "both 'left' and 'right' topics must be specified for denorm ETL")
          require(r.in.isEmpty, "'in' topic cannot be specified for denorm ETL")
          require(declared(r.left), s"undeclared input topic: ${r.left}")
          require(declared(r.right), s"undeclared input topic: ${r.right}")
        case other => throw new IllegalArgumentException(s"unknown ETL type: $other")
      }
      require(r.out.nonEmpty, "rule missing 'out' topic")
    }
  }
}
