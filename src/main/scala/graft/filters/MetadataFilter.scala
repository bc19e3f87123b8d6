package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.functions.text

/** Mongo-style metadata filter DSL compiled to Catalyst `Column` expressions.
  *
  * Re-expresses the reference's filter compiler
  * (`core/database/metadata_filters.py:59-856`) Spark-first: instead of
  * emitting SQL text, every node compiles to a `Column`, so Catalyst gets a
  * fully declarative predicate tree it can push down to the parquet scan,
  * fold, and reorder. No UDFs anywhere in the predicate path — this is the
  * design rule that keeps filters scan-pushable at 100 TB.
  *
  * Data layout (SURVEY §1.2): metadata values live in
  * `metadata: Map[String,String]` with a parallel
  * `metadata_types: Map[String,String]` holding canonical type names
  * (`core/utils/typed_metadata.py:16-42`). Typed comparisons OR together one
  * clause per candidate type, each gated on the declared type — rows whose
  * declared type can't support the comparison are excluded, not errored
  * (`metadata_filters.py:233-337`).
  */
object MetadataFilter {

  /** Canonical metadata types + aliases (`typed_metadata.py:16-42`). */
  private val typeAliases: Map[String, String] = Map(
    "string" -> "string", "str" -> "string", "text" -> "string",
    "number" -> "number", "int" -> "number", "integer" -> "number",
    "float" -> "number", "double" -> "number",
    "decimal" -> "decimal", "numeric" -> "number",
    "boolean" -> "boolean", "bool" -> "boolean",
    "datetime" -> "datetime", "timestamp" -> "datetime",
    "date" -> "date",
    "array" -> "array", "list" -> "array",
    "object" -> "object", "dict" -> "object", "map" -> "object",
    "null" -> "null")

  /** Canonicalize a declared type name; unknown names error, as in the
    * reference ("Unsupported metadata type",
    * `metadata_filters.py` via `typed_metadata.py:16-42`). */
  def canonicalType(t: String): String =
    typeAliases.getOrElse(text.fold(t),
      sys.error(s"Unsupported metadata type: $t"))

  /** Compilation context.
    * @param meta     the `Map[String,String]` metadata column
    * @param types    the parallel `Map[String,String]` declared-type column
    * @param reserved keys routed to real (top-level) columns instead of the
    *                 metadata map — e.g. `filename`
    *                 (`metadata_filters.py:200-217,612-856`)
    */
  case class Ctx(meta: Column, types: Column, reserved: Map[String, Column] = Map.empty)

  /** Compile a JSON filter document to a boolean Column. */
  def compile(json: String, ctx: Ctx): Column =
    JsonMethods.parse(json) match {
      case o: JObject => compileNode(o, ctx)
      case JNull      => lit(true)
      case other      => sys.error(s"filter root must be an object, got $other")
    }

  def compile(json: String, meta: Column, types: Column): Column =
    compile(json, Ctx(meta, types))

  /** Object node: keys implicitly AND together (`metadata_filters.py:59-110`). */
  private def compileNode(o: JObject, ctx: Ctx): Column = {
    val parts = o.obj.map {
      case ("$and", JArray(xs)) => xs.map(x => compileNode(asObj(x), ctx)).reduceOption(_ && _).getOrElse(lit(true))
      case ("$or", JArray(xs))  => xs.map(x => compileNode(asObj(x), ctx)).reduceOption(_ || _).getOrElse(lit(false))
      // NOT over a possibly-NULL (missing-key) predicate must treat NULL as
      // false-then-negate (PG containment yields false, not NULL).
      case ("$nor", JArray(xs)) => !coalesce(
        xs.map(x => compileNode(asObj(x), ctx)).reduceOption(_ || _).getOrElse(lit(false)), lit(false))
      case ("$not", x)          => !coalesce(compileNode(asObj(x), ctx), lit(false))
      case (op @ ("$and" | "$or" | "$nor"), bad) =>
        sys.error(s"$op expects an array of filter objects, got $bad")
      case (key, value) if key.startsWith("$") =>
        sys.error(s"unsupported top-level operator $key")
      case (key, value)          => compileField(key, value, ctx)
    }
    parts.reduceOption(_ && _).getOrElse(lit(true))
  }

  private def asObj(v: JValue): JObject = v match {
    case o: JObject => o
    case other      => sys.error(s"expected object, got $other")
  }

  private val opKeys = Set("$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in",
    "$nin", "$exists", "$type", "$regex", "$contains", "$options", "$not")

  private def compileField(key: String, value: JValue, ctx: Ctx): Column =
    ctx.reserved.get(key) match {
      case Some(col) => compileColumnField(col, value)
      case None      => compileMetaField(key, value, ctx)
    }

  // ---------------------------------------------------------------- metadata

  private def compileMetaField(key: String, value: JValue, ctx: Ctx): Column = {
    val v = ctx.meta.getItem(key)
    val t = ctx.types.getItem(key)
    value match {
      // any $-key makes this an operator object; unknown operators then get
      // a clear error from compileMetaOp instead of falling into implicit-eq
      case o: JObject if o.obj.exists(f => f._1.startsWith("$")) =>
        val opts = o.obj.collectFirst { case ("$options", JString(s)) => s }.getOrElse("")
        o.obj.collect {
          case (op, rhs) if op != "$options" => compileMetaOp(key, v, t, op, rhs, opts, ctx)
        }.reduceOption(_ && _).getOrElse(lit(true))
      case other => implicitEq(v, t, other)
    }
  }

  /** Implicit equality (`metadata_filters.py:379-421`): scalar matches the
    * stored value, OR — when the stored value is an array — any element. */
  private def implicitEq(v: Column, t: Column, rhs: JValue): Column = rhs match {
    case JNull => v.isNull
    case _ =>
      val s = scalarString(rhs)
      (v === lit(s)) || (t === "array" && arrayHas(v, s))
  }

  /** Array-awareness: stored arrays are JSON-encoded strings; membership =
    * any element of the parsed array equals the scalar (string-compared). */
  private def arrayHas(v: Column, s: String): Column =
    coalesce(array_contains(from_json(v, ArrayType(StringType)), lit(s)), lit(false))

  private def arrayExists(v: Column, pred: Column => Column): Column =
    coalesce(exists(from_json(v, ArrayType(StringType)), pred), lit(false))

  /** JSON scalar rendered the way ingestion stores it in the string map. */
  private def scalarString(v: JValue): String = v match {
    case JString(s)  => s
    case JInt(i)     => i.toString
    case JLong(i)    => i.toString
    case JDouble(d)  => if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case JDecimal(d) => d.toString
    case JBool(b)    => b.toString
    case JNull       => null
    case other       => sys.error(s"unsupported scalar $other")
  }

  private def isNumeric(v: JValue): Boolean = v match {
    case _: JInt | _: JLong | _: JDouble | _: JDecimal => true
    case _ => false
  }

  private val dateRe = "^\\d{4}-\\d{2}-\\d{2}$".r
  private val dateTimeRe = "^\\d{4}-\\d{2}-\\d{2}[T ].*".r

  /** A string operand that parses as a number — the reference accepts
    * numeric STRINGS for numeric/decimal comparisons
    * (`metadata_filters.py:537-560` `_format_numeric_literal`: str →
    * Decimal), e.g. `{"price": {"$lte": "99.99"}}`. */
  private def numericString(s: String): Option[java.math.BigDecimal] =
    try {
      val t = s.trim
      if (t.isEmpty) None else Some(new java.math.BigDecimal(t))
    } catch { case _: NumberFormatException => None }

  private def numericJString(v: JValue): Boolean = v match {
    case JString(s) => numericString(s).isDefined
    case _          => false
  }

  private def dateJString(v: JValue): Boolean = v match {
    case JString(s) => dateRe.findFirstIn(s).isDefined ||
      dateTimeRe.findFirstIn(s).isDefined
    case _ => false
  }

  /** Typed comparison (`metadata_filters.py:233-337`): one clause per
    * candidate type inferred from the literal, each gated on the declared
    * type; clauses OR together. try_cast keeps malformed stored values as
    * NULL (excluded) instead of erroring under ANSI mode. An operand no
    * candidate type accepts — an ORDERING comparison against a plain
    * non-numeric non-date string, a bool, null — errors, as in the
    * reference ("requires a numeric, decimal, ISO8601 date/datetime, or
    * string value", `metadata_filters.py:263-266`; the string clause is
    * $eq/$ne-only, `metadata_filters.py:257-260`). */
  private def typedCmp(v: Column, t: Column, rhs: JValue, cmp: (Column, Column) => Column,
                       includeString: Boolean): Column = {
    val branches = scala.collection.mutable.ListBuffer[Column]()
    def numericBranches(d: Double, bd: java.math.BigDecimal): Unit = {
      branches += (t === "number") && cmp(v.try_cast(DoubleType), lit(d))
      branches += (t === "decimal") && cmp(v.try_cast(DecimalType(38, 18)), lit(bd))
      // Untyped stores still compare numerically (try_cast null-excludes).
      branches += t.isNull && cmp(v.try_cast(DoubleType), lit(d))
    }
    if (isNumeric(rhs)) {
      val d = rhs match {
        case JInt(i) => i.toDouble
        case JLong(i) => i.toDouble
        case JDouble(x) => x
        case JDecimal(x) => x.toDouble
        case _ => 0.0
      }
      numericBranches(d, new java.math.BigDecimal(scalarString(rhs)))
    } else rhs match {
      case JString(s) if dateTimeRe.findFirstIn(s).isDefined =>
        branches += (t === "datetime") && cmp(v.try_cast(TimestampType), lit(s).cast(TimestampType))
      case JString(s) if dateRe.findFirstIn(s).isDefined =>
        branches += (t === "date") && cmp(v.try_cast(DateType), lit(s).cast(DateType))
        branches += (t === "datetime") && cmp(v.try_cast(TimestampType), lit(s).cast(TimestampType))
      case JString(s) if numericString(s).isDefined =>
        val bd = numericString(s).get
        numericBranches(bd.doubleValue, bd)
      case JString(s) if includeString =>
        branches += (t === "string" || t.isNull) && cmp(v, lit(s))
      case other =>
        sys.error("comparison requires a numeric, decimal, ISO8601 " +
          s"date/datetime, or string value, got $other")
    }
    if (includeString) rhs match {
      case JString(s) if dateTimeRe.findFirstIn(s).isDefined || dateRe.findFirstIn(s).isDefined ||
          numericString(s).isDefined =>
        branches += (t === "string") && cmp(v, lit(s))
      case _ => ()
    }
    branches.reduceOption(_ || _).getOrElse(lit(false))
  }

  private def compileMetaOp(key: String, v: Column, t: Column, op: String,
                            rhs: JValue, opts: String, ctx: Ctx): Column = op match {
    case "$eq" => rhs match {
      case JNull => v.isNull
      case r if isNumeric(r) || numericJString(r) || dateJString(r) =>
        typedCmp(v, t, r, _ === _, includeString = true) || implicitEq(v, t, r)
      case r => implicitEq(v, t, r)
    }
    // $ne is null-safe (IS DISTINCT FROM, `metadata_filters.py:138-151`):
    // a missing key IS different from the literal. Numeric operands also
    // negate the TYPED equality, so "2024.0" (number) is not-equal-safe
    // against 2024 the same way $eq matches it.
    case "$ne" => rhs match {
      case JNull => v.isNotNull
      case r if isNumeric(r) || numericJString(r) =>
        !coalesce(implicitEq(v, t, r) ||
          typedCmp(v, t, r, _ === _, includeString = false), lit(false))
      case r     => !coalesce(implicitEq(v, t, r), lit(false))
    }
    case "$gt"  => typedCmp(v, t, rhs, _ > _, includeString = false)
    case "$gte" => typedCmp(v, t, rhs, _ >= _, includeString = false)
    case "$lt"  => typedCmp(v, t, rhs, _ < _, includeString = false)
    case "$lte" => typedCmp(v, t, rhs, _ <= _, includeString = false)
    case "$in" => rhs match {
      case JArray(xs) =>
        xs.map {
          case JNull => v.isNull
          case x     => implicitEq(v, t, x)
        }.reduceOption(_ || _).getOrElse(lit(false))
      case other => sys.error(s"$$in expects array, got $other")
    }
    case "$nin" => rhs match {
      case JArray(xs) =>
        !coalesce(xs.map {
          case JNull => v.isNull
          case x     => implicitEq(v, t, x)
        }.reduceOption(_ || _).getOrElse(lit(false)), lit(false))
      case other => sys.error(s"$$nin expects array, got $other")
    }
    // $exists with bool coercion of "1"/"true"/"yes" (`metadata_filters.py:219-231`).
    case "$exists" =>
      val want = rhs match {
        case JBool(b)   => b
        case JString(s) => Set("1", "true", "yes", "y", "t").contains(text.fold(s))
        case JInt(i)    => i != 0
        case _          => true
      }
      if (want) map_contains_key(ctx.meta, lit(key)) else !map_contains_key(ctx.meta, lit(key))
    case "$type" =>
      val names = rhs match {
        case JString(s) => Seq(canonicalType(s))
        case JArray(xs) => xs.collect { case JString(s) => canonicalType(s) }
        case other      => sys.error(s"$$type expects string/array, got $other")
      }
      t.isin(names: _*)
    // $regex: PG ~ / ~* with only the `i` flag (`metadata_filters.py:423-471`);
    // array-aware (any string element matches).
    case "$regex" =>
      val pat = rhs match { case JString(s) => s; case o => sys.error(s"$$regex expects string, got $o") }
      val p = if (opts.contains("i")) "(?i)" + pat else pat
      (v.rlike(p)) || (t === "array" && arrayExists(v, _.rlike(p)))
    // $contains: case-insensitive substring, array-aware (`metadata_filters.py:473-524`).
    case "$contains" =>
      val s = rhs match { case JString(x) => x; case o => scalarString(o) }
      text.fold(v).contains(text.fold(s)) ||
        (t === "array" && arrayExists(v, e => text.fold(e).contains(text.fold(s))))
    case "$not" =>
      !coalesce(compileMetaField(key, rhs, ctx), lit(false))
    case other => sys.error(s"unsupported operator $other")
  }

  // ------------------------------------------------- reserved-column filters

  /** Text-column filter builder for reserved keys like `filename`
    * (`metadata_filters.py:612-856`): NULL-aware $eq/$ne/$in, $regex,
    * $contains, ranges — on a real column, so it partition-prunes. */
  private def compileColumnField(c: Column, value: JValue): Column = value match {
    case o: JObject if o.obj.exists(f => f._1.startsWith("$")) =>
      val opts = o.obj.collectFirst { case ("$options", JString(s)) => s }.getOrElse("")
      o.obj.collect { case (op, rhs) if op != "$options" => columnOp(c, op, rhs, opts) }
        .reduceOption(_ && _).getOrElse(lit(true))
    case JNull  => c.isNull
    case scalar => c === lit(scalarString(scalar))
  }

  private def columnOp(c: Column, op: String, rhs: JValue, opts: String): Column = op match {
    case "$eq" => rhs match { case JNull => c.isNull; case r => c === lit(scalarString(r)) }
    case "$ne" => rhs match { case JNull => c.isNotNull; case r => !(c <=> lit(scalarString(r))) }
    case "$gt"  => c > lit(scalarString(rhs))
    case "$gte" => c >= lit(scalarString(rhs))
    case "$lt"  => c < lit(scalarString(rhs))
    case "$lte" => c <= lit(scalarString(rhs))
    case "$in" => rhs match {
      case JArray(xs) =>
        val (nulls, vals) = xs.partition(_ == JNull)
        val inPart = if (vals.nonEmpty) c.isin(vals.map(scalarString): _*) else lit(false)
        if (nulls.nonEmpty) inPart || c.isNull else inPart
      case o => sys.error(s"$$in expects array, got $o")
    }
    case "$nin" => rhs match {
      case JArray(xs) =>
        val (nulls, vals) = xs.partition(_ == JNull)
        val inPart = if (vals.nonEmpty) c.isin(vals.map(scalarString): _*) else lit(false)
        !coalesce(if (nulls.nonEmpty) inPart || c.isNull else inPart, lit(false))
      case o => sys.error(s"$$nin expects array, got $o")
    }
    case "$exists" => rhs match {
      case JBool(false) => c.isNull
      case _            => c.isNotNull
    }
    case "$regex" =>
      val pat = rhs match { case JString(s) => s; case o => sys.error(s"$$regex expects string, got $o") }
      c.rlike(if (opts.contains("i")) "(?i)" + pat else pat)
    case "$contains" =>
      text.fold(c).contains(text.fold(scalarString(rhs)))
    case other => sys.error(s"unsupported column operator $other")
  }
}
