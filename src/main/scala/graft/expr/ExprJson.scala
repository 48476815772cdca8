package graft.expr

import graft.core.FeatureType

/** JSON serialization of the expression IR — the analog of the reference's
  * mashumaro-codable `Transformation` tree (schemas/transformation.py), which
  * lets contracts live in a registry independent of any process. Every node
  * except [[Raw]] (in-process Column escape hatch, by design not
  * serializable — SURVEY §7.4) round-trips.
  *
  * Hand-rolled writer/parser: the build is offline with no JSON library on
  * the classpath; the grammar here is the tiny subset we emit (objects,
  * arrays, strings, numbers, booleans, null).
  */
object ExprJson {

  // ---------- writing ----------

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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

  private[expr] final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = { ws(); require(s.charAt(i) == c, s"expected '$c' at $i in $s"); i += 1 }
    def tryConsume(c: Char): Boolean = { ws(); if (i < s.length && s.charAt(i) == c) { i += 1; true } else false }
    def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'
            case 'n' => sb += '\n'; case 'r' => sb += '\r'; case 't' => sb += '\t'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    def scalar(): Any = {
      ws()
      s.charAt(i) match {
        case '"' => string()
        case '{' => value() // typed literal object
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val start = i
          while (i < s.length && "-+.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
          val n = s.substring(start, i)
          if (n.exists(c => c == '.' || c == 'e' || c == 'E')) n.toDouble else n.toLong
      }
    }
    /** values are strings, typed-literal objects, arrays, numbers, bools, null */
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' =>
          val m = objectFields()
          m.get("t") match { // typed literal
            case Some("i32") => m("v").asInstanceOf[Number].intValue()
            case Some("i64") => m("v").asInstanceOf[Number].longValue()
            case Some("f64") => m("v").asInstanceOf[Number].doubleValue()
            case _ => m
          }
        case '[' =>
          expect('[')
          val buf = Seq.newBuilder[Any]
          if (!tryConsume(']')) {
            buf += value()
            while (tryConsume(',')) buf += value()
            expect(']')
          }
          buf.result()
        case _ => scalar()
      }
    }
    def objectFields(): Map[String, Any] = {
      expect('{')
      val m = Map.newBuilder[String, Any]
      if (!tryConsume('}')) {
        def field(): Unit = { val k = string(); expect(':'); m += k -> value() }
        field()
        while (tryConsume(',')) field()
        expect('}')
      }
      m.result()
    }
  }

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

/** Minimal generic JSON parsing shared by the expression and contract codecs
  * (the build is offline — no JSON library on the classpath). */
object JsonValue {
  def parseObject(json: String): Map[String, Any] = new ExprJson.P(json).objectFields()
}
