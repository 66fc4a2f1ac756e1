package graft.core

import org.apache.spark.sql.types._

/** The reference's metadata type lattice (reference: src/main.rs:124-142).
  *
  * Sidecar metadata columns carry one of four types; conflicting votes across
  * rows widen via [[MetadataType.merge]]: equal types keep, two lists merge
  * element types recursively, and any other conflict widens to `MString`.
  * All JSON numbers vote `MFloat64` (src/main.rs:215).
  */
sealed trait MetadataType {
  def merge(other: MetadataType): MetadataType = (this, other) match {
    case (MList(l), MList(r))   => MList(l.merge(r))
    case (a, b) if a == b       => a
    case _                      => MString
  }

  def toSpark: DataType = this match {
    case MString    => StringType
    case MBool      => BooleanType
    case MFloat64   => DoubleType
    case MList(inn) => ArrayType(inn.toSpark, containsNull = true)
  }

  /** Name used in the verification surface / HF features footer. */
  def name: String = this match {
    case MString    => "String"
    case MBool      => "Bool"
    case MFloat64   => "Float64"
    case MList(inn) => s"List(${inn.name})"
  }

  /** Hugging Face `features` JSON fragment (reference: src/main.rs:249-259). */
  def featureJson: String = this match {
    case MBool      => """{"dtype":"bool","_type":"Value"}"""
    case MFloat64   => """{"dtype":"float64","_type":"Value"}"""
    case MString    => """{"dtype":"string","_type":"Value"}"""
    case MList(inn) => s"""{"_type":"Sequence","feature":${inn.featureJson}}"""
  }
}
case object MString  extends MetadataType
case object MBool    extends MetadataType
case object MFloat64 extends MetadataType
case class  MList(inner: MetadataType) extends MetadataType

object MetadataType {
  /** Reserved keys never taken from metadata (reference: src/main.rs:245-247). */
  val reservedKeys: Set[String] = Set("duration", "audio", "id")

  /** Per-JSON-value type vote (reference: infer_metadata_type, src/main.rs:212-239).
    * Returns None for JSON null (no vote). Nested objects vote String.
    * Implemented over Jackson nodes since Spark ships Jackson.
    */
  def inferJson(node: com.fasterxml.jackson.databind.JsonNode): Option[MetadataType] = {
    import com.fasterxml.jackson.databind.JsonNode
    node match {
      case n if n.isNull    => None
      case n if n.isBoolean => Some(MBool)
      case n if n.isNumber  => Some(MFloat64)
      case n if n.isTextual => Some(MString)
      case n if n.isArray   =>
        var merged: Option[MetadataType] = None
        val it = n.elements()
        while (it.hasNext) {
          val e: JsonNode = it.next()
          inferJson(e).foreach { t =>
            merged = Some(merged.fold(t)(_.merge(t)))
          }
        }
        Some(MList(merged.getOrElse(MString)))
      case _ => Some(MString) // nested objects and anything else
    }
  }

  /** A Catalyst value of type `t` as JSON, the way the reference's serde_json
    * renders a metadata value (src/main.rs:835-837): a list is an array, and a
    * null, at the top or as a list element, is `null`. */
  def toJson(v: Any, t: MetadataType): com.fasterxml.jackson.databind.JsonNode = {
    val json = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
    (v, t) match {
      case (null, _)               => json.nullNode()
      case (b: Boolean, MBool)     => json.booleanNode(b)
      case (d: Double, MFloat64)   => json.numberNode(d)
      case (a: org.apache.spark.sql.catalyst.util.ArrayData, MList(inner)) =>
        val arr = json.arrayNode()
        val dt = inner.toSpark
        for (i <- 0 until a.numElements()) arr.add(toJson(a.get(i, dt), inner))
        arr
      case (s, _)                  => json.textNode(s.toString)
    }
  }

  /** SQL column-name quoting (reference: sanitize_column_name, src/main.rs:241-243). */
  def sanitizeColumnName(name: String): String = name.replace("\"", "\"\"")
}
