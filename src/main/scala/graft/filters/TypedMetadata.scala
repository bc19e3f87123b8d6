package graft.filters

import java.time.{LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Typed-metadata normalization (`core/utils/typed_metadata.py:16-340`):
  * canonicalize declared type names, infer types for unhinted values
  * (ISO-datetime-looking strings included), coerce values per type, and
  * produce the two-map layout (`metadata: Map[String,String]`,
  * `metadata_types: Map[String,String]`) the filter DSL queries against.
  * Coercion failures raise `TypedMetadataError` like the reference.
  */
object TypedMetadata {

  final class TypedMetadataError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new TypedMetadataError(msg)

  /** Normalized values (stringified for map storage; arrays/objects as
    * compact JSON, nulls kept as nulls) + parallel type map. */
  case class Bundle(values: Map[String, String], types: Map[String, String])

  def canonicalize(t: String, field: Option[String] = None): String =
    try MetadataFilter.canonicalType(t)
    catch {
      case _: RuntimeException =>
        val suffix = field.map(f => s" for field '$f'").getOrElse("")
        fail(s"Unsupported metadata type '$t'$suffix.")
    }

  /** `normalize_metadata` (`typed_metadata.py:69-95`). */
  def normalize(metadataJson: String,
                typeHints: Map[String, String] = Map.empty): Bundle = {
    val obj = JsonMethods.parse(metadataJson) match {
      case o: JObject => o
      case other      => fail(s"Metadata must be a JSON object, got $other")
    }
    val out = obj.obj.map { case (key, value) =>
      val (nv, nt) = normalizeValue(value, typeHints.get(key), key)
      (key -> nv, key -> nt)
    }
    Bundle(out.map(_._1).toMap, out.map(_._2).toMap)
  }

  /** `merge_metadata` (`typed_metadata.py:97-122`): normalize updates, then
    * overlay on the existing maps (update wins per key). `externalId`
    * mirrors the reference's `with_external_id` setdefault
    * (`typed_metadata.py:52-57`): stamped as a string field only when the
    * merged maps don't already carry one — an update can never clobber the
    * document's identity key. */
  def merge(existing: Bundle, updatesJson: String,
            updateTypeHints: Map[String, String] = Map.empty,
            externalId: Option[String] = None): Bundle = {
    val u = normalize(updatesJson, updateTypeHints)
    val merged = Bundle(existing.values ++ u.values, existing.types ++ u.types)
    externalId match {
      case Some(id) if !merged.values.contains("external_id") =>
        Bundle(merged.values + ("external_id" -> id),
          merged.types + ("external_id" -> "string"))
      case _ => merged
    }
  }

  private def normalizeValue(v: JValue, declared: Option[String],
                             field: String): (String, String) = v match {
    // true nulls preserved regardless of declared type (`:124-128`)
    case JNull | JNothing => (null, "null")
    case _ =>
      val t = declared.map(canonicalize(_, Some(field))).getOrElse(infer(v))
      (coerce(v, t, field), t)
  }

  /** `_infer_type` (`typed_metadata.py:169-191`). */
  def infer(v: JValue): String = v match {
    case JNull | JNothing => "null"
    case _: JBool         => "boolean"
    case _: JInt | _: JLong | _: JDouble | _: JDecimal => "number"
    case JString(s)       => if (looksLikeIsoDatetime(s)) "datetime" else "string"
    case _: JArray        => "array"
    case _: JObject       => "object"
    case _                => "string"
  }

  /** `_looks_like_iso_datetime` (`typed_metadata.py:144-167`). */
  def looksLikeIsoDatetime(s: String): Boolean =
    s.length >= 19 && s.charAt(4) == '-' && s.charAt(7) == '-' &&
      (s.charAt(10) == 'T' || s.charAt(10) == ' ') &&
      (try { parseDatetime(s.trim); true } catch { case _: Exception => false })

  private def coerce(v: JValue, t: String, field: String): String = t match {
    case "string"   => v match {
      case JString(s) => s
      case other      => scalarRender(other)
    }
    case "number"   => coerceNumber(v, field)
    case "decimal"  => coerceDecimal(v, field)
    case "boolean"  => coerceBoolean(v, field).toString
    case "datetime" => coerceDatetime(v, field)
    case "date"     => coerceDate(v, field)
    case "array"    => v match {
      case a: JArray => JsonMethods.compact(JsonMethods.render(sanitizeNested(a, field)))
      case _         => fail(s"Metadata field '$field' expects an array.")
    }
    case "object"   => v match {
      case o: JObject => JsonMethods.compact(JsonMethods.render(sanitizeNested(o, field)))
      case _          => fail(s"Metadata field '$field' expects an object.")
    }
    case "null"     => null
    case other      => fail(s"Cannot coerce field '$field' to unsupported metadata type '$other'.")
  }

  /** `_coerce_number` (`:222-248`): ints stay integral (underscore
    * separators allowed), everything else parses as double; bool/null/NaN
    * rejected. */
  private def coerceNumber(v: JValue, field: String): String = v match {
    case _: JBool => fail(s"Metadata field '$field' cannot coerce boolean/null to number.")
    case JInt(i)  => i.toString
    case JLong(l) => l.toString
    case JDouble(d) =>
      if (d.isNaN || d.isInfinite) fail(s"Metadata field '$field' cannot store NaN or infinite values.")
      render(d)
    case JDecimal(d) => render(d.toDouble)
    case JString(s) =>
      val text = s.trim
      if (text.isEmpty) fail(s"Metadata field '$field' cannot coerce empty string to number.")
      val plain = text.replace("_", "")
      try {
        if (!plain.contains('.') && plain.forall(c => c.isDigit || c == '+' || c == '-'))
          BigInt(plain).toString
        else {
          val d = plain.toDouble
          // deliberate tightening vs the reference: its string path has no
          // post-parse gate, so float("1e999")/float("inf") would store
          // infinity — a numeric field holding "inf" is unfilterable
          // damage, so overflowing/inf literals are rejected here like the
          // float-input path rejects them
          if (d.isNaN || d.isInfinite)
            fail(s"Metadata field '$field' cannot store NaN or infinite values.")
          render(d)
        }
      } catch { case _: NumberFormatException =>
        fail(s"Metadata field '$field' expects a numeric value.") }
    case _ => fail(s"Metadata field '$field' expects a numeric value.")
  }

  /** `_coerce_decimal` (`:251-265`): plain (non-scientific) rendering with
    * trailing zeros stripped. */
  private def coerceDecimal(v: JValue, field: String): String = {
    val d = v match {
      case JInt(i)     => BigDecimal(i)
      case JLong(l)    => BigDecimal(l)
      case JDouble(x)  => BigDecimal(x.toString)
      case JDecimal(x) => x
      case JString(s)  =>
        try BigDecimal(s.trim)
        catch { case _: NumberFormatException =>
          fail(s"Metadata field '$field' expects a decimal-compatible value.") }
      case _ => fail(s"Metadata field '$field' expects a decimal-compatible value.")
    }
    val text = d.bigDecimal.toPlainString
    val stripped =
      if (text.contains('.')) text.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else text
    if (stripped.isEmpty) "0" else stripped
  }

  /** `_coerce_boolean` (`:268-280`). */
  private def coerceBoolean(v: JValue, field: String): Boolean = v match {
    case JBool(b) => b
    case JString(s) => graft.functions.text.fold(s.trim) match {
      case "true" | "1" | "yes" | "y" | "on"  => true
      case "false" | "0" | "no" | "n" | "off" => false
      case _ => fail(s"Metadata field '$field' expects 'true' or 'false'.")
    }
    case JInt(i)    => i != 0
    case JLong(l)   => l != 0
    case JDouble(d) => d != 0
    case _ => fail(s"Metadata field '$field' expects a boolean value.")
  }

  private val isoLocal = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val isoOffset = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")
  private val offsetOnly = DateTimeFormatter.ofPattern("xxx")

  /** Python `datetime.isoformat()` rendering: microseconds emitted as six
    * digits when nonzero, omitted entirely when zero (sub-microsecond
    * precision truncates like `fromisoformat`). */
  private def formatLocal(dt: LocalDateTime): String = {
    val micros = dt.getNano / 1000
    if (micros == 0) dt.format(isoLocal)
    else f"${dt.format(isoLocal)}.$micros%06d"
  }

  private def formatOffset(odt: OffsetDateTime): String = {
    val micros = odt.getNano / 1000
    if (micros == 0) odt.format(isoOffset)
    else f"${odt.toLocalDateTime.format(isoLocal)}.$micros%06d${odt.format(offsetOnly)}"
  }

  /** `_coerce_datetime`/`_parse_datetime_like` (`:283-330`): ISO output,
    * timezone presence preserved; numbers are UTC epoch seconds. */
  private def coerceDatetime(v: JValue, field: String): String = v match {
    case JInt(i)    => OffsetDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(i.toLong), ZoneOffset.UTC).format(isoOffset)
    case JLong(l)   => OffsetDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(l), ZoneOffset.UTC).format(isoOffset)
    case JDouble(d) => OffsetDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(math.round(d * 1000)), ZoneOffset.UTC).format(isoOffset)
    case JString(s) =>
      val text = s.trim
      if (text.isEmpty) fail(s"Metadata field '$field' expects a datetime value.")
      try parseDatetime(text)
      catch { case _: Exception =>
        fail(s"Metadata field '$field' expects an ISO8601 datetime.") }
    case _ => fail(s"Metadata field '$field' expects a datetime value.")
  }

  private def parseDatetime(raw: String): String = {
    val text = if (raw.endsWith("Z")) raw.dropRight(1) + "+00:00" else raw
    val spaced = if (text.length > 10 && text.charAt(10) == ' ')
      text.updated(10, 'T') else text
    try formatOffset(OffsetDateTime.parse(spaced))
    catch {
      case _: Exception =>
        try formatLocal(LocalDateTime.parse(spaced))
        catch {
          // `datetime.fromisoformat('2024-01-15')` coerces to midnight.
          case _: Exception => LocalDate.parse(spaced).atStartOfDay.format(isoLocal)
        }
    }
  }

  /** `_coerce_date` (`:292-308`). */
  private def coerceDate(v: JValue, field: String): String = v match {
    case JInt(i)    => LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(i.toLong), ZoneOffset.UTC).toString
    case JLong(l)   => LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(l), ZoneOffset.UTC).toString
    case JDouble(d) => LocalDate.ofInstant(
      java.time.Instant.ofEpochMilli(math.round(d * 1000)), ZoneOffset.UTC).toString
    case JString(s) =>
      val text = s.trim
      if (text.isEmpty) fail(s"Metadata field '$field' expects a date value.")
      try LocalDate.parse(text.split("T")(0)).toString
      catch { case _: Exception =>
        fail(s"Metadata field '$field' expects an ISO8601 date.") }
    case _ => fail(s"Metadata field '$field' expects a date value.")
  }

  /** `_sanitize_nested` (`:333-345`): structure-only recursion. The
    * reference converts only datetime/date/Decimal *objects* (which JSON
    * input never produces); nested strings pass through verbatim
    * (`test_array_preservation`). */
  private def sanitizeNested(v: JValue, field: String): JValue = v match {
    case JObject(fields) => JObject(fields.map { case (k, x) => k -> sanitizeNested(x, field) })
    case JArray(xs)      => JArray(xs.map(sanitizeNested(_, field)))
    case other           => other
  }

  private def scalarRender(v: JValue): String = v match {
    case JString(s)  => s
    case JBool(b)    => b.toString
    case JInt(i)     => i.toString
    case JLong(l)    => l.toString
    case JDouble(d)  => render(d)
    case JDecimal(d) => d.toString
    case other       => JsonMethods.compact(JsonMethods.render(other))
  }

  /** Python-`repr(float)`-shaped rendering (the reference's normalized
    * number form): fixed-point for decimal exponents in [-4, 16) — where
    * Java's `Double.toString` would flip to E-notation from 1e7 — and
    * `1e+16`/`1e-05`-style scientific outside it. Keeps stored numeric
    * strings comparable with what a Python writer would have stored. */
  private def render(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (!s.contains('E')) s
    else {
      val bd = new java.math.BigDecimal(s)
      val unscaled = bd.stripTrailingZeros
      val exp = unscaled.precision - unscaled.scale - 1
      if (exp >= -4 && exp < 16) {
        val plain = unscaled.toPlainString
        if (plain.contains('.')) plain else plain + ".0"
      } else {
        val m = unscaled.movePointLeft(exp).toPlainString
        val sign = if (exp < 0) "-" else "+"
        f"${m}e$sign${math.abs(exp)}%02d"
      }
    }
  }
}
