package graft.expr

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.JsonNodeType
import graft.core.FeatureType
import scala.jdk.CollectionConverters._
import JsonValue.{quote => q}

/** JSON serialization of the expression IR — the analog of the reference's
  * mashumaro-codable `Transformation` tree (schemas/transformation.py), which
  * lets contracts live in a registry independent of any process. Every node
  * except [[Raw]] (in-process Column escape hatch, by design not
  * serializable — SURVEY §7.4) round-trips. Parsing and string quoting go
  * through [[JsonValue]].
  */
object ExprJson {

  // ---------- writing ----------

  private def lit(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case i: Int => s"""{"t":"i32","v":$i}"""
    case l: Long => s"""{"t":"i64","v":$l}"""
    case d: Double => s"""{"t":"f64","v":$d}"""
    case f: Float => s"""{"t":"f64","v":${f.toDouble}}"""
    case other => q(other.toString)
  }

  private def obj(kind: String, fields: (String, String)*): String =
    (s""""op":${q(kind)}""" +: fields.map { case (k, v) => s"${q(k)}:$v" })
      .mkString("{", ",", "}")

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def toJson(e: Expr): String = e match {
    case Ref(n) => obj("ref", "name" -> q(n))
    case Lit(v) => obj("lit", "value" -> lit(v))
    case Binary(op, l, r) => obj("binary", "f" -> q(op), "l" -> toJson(l), "r" -> toJson(r))
    case Unary(op, c) => obj("unary", "f" -> q(op), "c" -> toJson(c))
    case DateComponent(p, c) => obj("date_component", "f" -> q(p), "c" -> toJson(c))
    case TimeDifference(a, b) => obj("time_difference", "l" -> toJson(a), "r" -> toJson(b))
    case ToNumerical(c) => obj("to_numerical", "c" -> toJson(c))
    case Contains(c, v) => obj("contains", "c" -> toJson(c), "value" -> q(v))
    case Ordinal(c, order) => obj("ordinal", "c" -> toJson(c), "order" -> arr(order.map(q)))
    case ReplaceStrings(c, ps) => obj("replace_strings", "c" -> toJson(c),
      "pairs" -> arr(ps.map(p => arr(Seq(q(p._1), q(p._2))))))
    case IsIn(c, vs) => obj("is_in", "c" -> toJson(c), "values" -> arr(vs.map(lit)))
    case FillNa(c, v, nan) => obj("fill_na", "c" -> toJson(c), "value" -> lit(v), "nan" -> nan.toString)
    case FillNaColumn(c, o) => obj("fill_na_column", "c" -> toJson(c), "other" -> toJson(o))
    case MapArgMax(m) => obj("map_arg_max", "mapping" -> arr(m.map(p => arr(Seq(q(p._1), lit(p._2))))))
    case AppendStrings(ps, sep) => obj("append_strings", "parts" -> arr(ps.map(toJson)), "sep" -> q(sep))
    case StructFieldAccess(c, f, j) => obj("struct_field", "c" -> toJson(c), "field" -> q(f), "json" -> j.toString)
    case JsonPath(c, p) => obj("json_path", "c" -> toJson(c), "path" -> q(p))
    case IsBetween(c, lo, hi) => obj("is_between", "c" -> toJson(c), "lo" -> toJson(lo), "hi" -> toJson(hi))
    case Cast(c, t) => obj("cast", "c" -> toJson(c), "dtype" -> q(t.name))
    case LogBase(c, b) => obj("log_base", "c" -> toJson(c), "base" -> b.toString)
    case SplitString(c, sep) => obj("split", "c" -> toJson(c), "sep" -> q(sep))
    case FormatString(t, as) => obj("format_string", "template" -> q(t), "args" -> arr(as.map(toJson)))
    case ListDotProduct(a, b) => obj("list_dot_product", "l" -> toJson(a), "r" -> toJson(b))
    case HashColumns(cs) => obj("hash_columns", "cols" -> arr(cs.map(toJson)))
    case ArrayAtIndex(c, i) => obj("array_at_index", "c" -> toJson(c), "i" -> i.toString)
    case ArrayContainsAny(c, vs) => obj("array_contains_any", "c" -> toJson(c), "values" -> arr(vs.map(lit)))
    case Clip(c, lo, hi) => obj("clip", "c" -> toJson(c), "lo" -> lo.toString, "hi" -> hi.toString)
    case MultiExpr(steps, out) => obj("multi", "steps" ->
      arr(steps.map(s => arr(Seq(q(s._1), toJson(s._2))))), "out" -> toJson(out))
    case Raw(_) => throw new IllegalArgumentException(
      "Raw(Column) is an in-process escape hatch and is not serializable")
  }

  // ---------- parsing ----------

  def fromJson(json: String): Expr = build(JsonValue.parseObject(json))

  /** build an Expr from an already-parsed generic JSON object. */
  def fromValue(m: Map[String, Any]): Expr = build(m)

  private def build(m: Map[String, Any]): Expr = {
    def e(k: String): Expr = build(m(k).asInstanceOf[Map[String, Any]])
    def str(k: String): String = m(k).asInstanceOf[String]
    def seqOf(k: String): Seq[Any] = m(k).asInstanceOf[Seq[Any]]
    def exprs(k: String): Seq[Expr] = seqOf(k).map(x => build(x.asInstanceOf[Map[String, Any]]))
    def bool(k: String): Boolean = m(k).asInstanceOf[Boolean]
    def dbl(k: String): Double = m(k).asInstanceOf[Number].doubleValue()
    str("op") match {
      case "ref" => Ref(str("name"))
      case "lit" => Lit(m("value"))
      case "binary" => Binary(str("f"), e("l"), e("r"))
      case "unary" => Unary(str("f"), e("c"))
      case "date_component" => DateComponent(str("f"), e("c"))
      case "time_difference" => TimeDifference(e("l"), e("r"))
      case "to_numerical" => ToNumerical(e("c"))
      case "contains" => Contains(e("c"), str("value"))
      case "ordinal" => Ordinal(e("c"), seqOf("order").map(_.asInstanceOf[String]))
      case "replace_strings" => ReplaceStrings(e("c"),
        seqOf("pairs").map { p => val xs = p.asInstanceOf[Seq[Any]]
          (xs(0).asInstanceOf[String], xs(1).asInstanceOf[String]) })
      case "is_in" => IsIn(e("c"), seqOf("values"))
      case "fill_na" => FillNa(e("c"), m("value"), bool("nan"))
      case "fill_na_column" => FillNaColumn(e("c"), e("other"))
      case "map_arg_max" => MapArgMax(seqOf("mapping").map { p =>
        val xs = p.asInstanceOf[Seq[Any]]; (xs(0).asInstanceOf[String], xs(1)) })
      case "append_strings" => AppendStrings(exprs("parts"), str("sep"))
      case "struct_field" => StructFieldAccess(e("c"), str("field"), bool("json"))
      case "json_path" => JsonPath(e("c"), str("path"))
      case "is_between" => IsBetween(e("c"), e("lo"), e("hi"))
      case "cast" => Cast(e("c"), FeatureType.fromName(str("dtype")))
      case "log_base" => LogBase(e("c"), dbl("base"))
      case "split" => SplitString(e("c"), str("sep"))
      case "format_string" => FormatString(str("template"), exprs("args"))
      case "list_dot_product" => ListDotProduct(e("l"), e("r"))
      case "hash_columns" => HashColumns(exprs("cols"))
      case "array_at_index" => ArrayAtIndex(e("c"), m("i").asInstanceOf[Number].intValue())
      case "array_contains_any" => ArrayContainsAny(e("c"), seqOf("values"))
      case "clip" => Clip(e("c"), dbl("lo"), dbl("hi"))
      case "multi" => MultiExpr(
        seqOf("steps").map { p => val xs = p.asInstanceOf[Seq[Any]]
          (xs(0).asInstanceOf[String], build(xs(1).asInstanceOf[Map[String, Any]])) },
        e("out"))
      case other => throw new IllegalArgumentException(s"unknown expr op: $other")
    }
  }
}

/** The one JSON codec core of graft's writers and readers: Jackson (shipped
  * with Spark) parses, and [[quote]] is the only string quoter. */
object JsonValue {
  // Double.toString writes NaN, Infinity and -Infinity for non-finite
  // literals and bounds; reading them back needs the non-numeric tokens
  private val mapper =
    JsonMapper.builder().enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** Parse a JSON object into the plain values the codecs consume: String,
    * Boolean, null, Long (integers), Double (other numbers), Seq (arrays)
    * and Map (objects). A nested typed-literal object `{"t":"i32|i64|f64",
    * "v":n}` becomes the Int, Long or Double it encodes. */
  def parseObject(json: String): Map[String, Any] = {
    val root = mapper.readTree(json)
    require(root.isObject, s"expected a JSON object: ${json.take(80)}")
    fields(root)
  }

  private def fields(o: JsonNode): Map[String, Any] =
    o.properties.asScala.map(e => e.getKey -> value(e.getValue)).toMap

  private def value(n: JsonNode): Any = n.getNodeType match {
    case JsonNodeType.OBJECT =>
      val m = fields(n)
      def v = m("v").asInstanceOf[Number]
      m.get("t") match {
        case Some("i32") => v.intValue()
        case Some("i64") => v.longValue()
        case Some("f64") => v.doubleValue()
        case _ => m
      }
    case JsonNodeType.ARRAY => n.asScala.map(value).toList
    case JsonNodeType.STRING => n.textValue
    case JsonNodeType.BOOLEAN => n.booleanValue
    case JsonNodeType.NUMBER =>
      if (n.isIntegralNumber && n.canConvertToLong) n.longValue else n.doubleValue
    case _ => null
  }

  /** `s` as a JSON string literal. Backslash, quote and every control
    * character are escaped: a raw tab or CR in a query's SQL or a manifest
    * value would make the file unparseable for any JSON reader. */
  def quote(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
}
