package graft.coercions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-alignment coercions, re-expressing the reference's CoercionTree
  * (/root/reference/src/coercions.rs:24-140) over Spark 4 VARIANT.
  *
  * Why VARIANT and not plain `from_json(targetSchema)`: the reference's two
  * non-trivial rules need the *JSON* type of each value, which `from_json`
  * erases —
  *   - C1 ToString (src/coercions.rs:82-86): schema says string, value is an
  *     object/array/number → replace with its compact JSON serialization.
  *   - C2 ToTimestamp (src/coercions.rs:87-93, 125-140): schema says
  *     timestamp; RFC-3339 *strings* become epoch-µs; non-RFC-3339 strings
  *     are left alone (and the row subsequently dead-letters); JSON *numbers*
  *     pass through as already-µs.
  * `parse_json` keeps the original types, then cheap binary sub-access per
  * field (codegen'd, no UDFs on the hot path). Every atomic leaf, the
  * timestamp rule's string and long reads and the struct rule's object
  * test go through [[VariantLeaf]]: one generated read per value that
  * equals `try_variant_get(v, '$', type)` (and `schema_of_variant`'s type
  * prefix) without building Spark's per-value `Literal`/`Cast` trees or
  * rendering a schema string. [[coerce]] walks each
  * message once: every schema path is read once, from its parent path's
  * column, and every use of the field reads that column; the errors join
  * into one string without a lambda, so an array-free schema's whole
  * walk stays inside whole-stage codegen. A consumer that filters on
  * `error` still re-evaluates the walk unless the filter sits above a
  * node the optimizer cannot push it through (ingest's
  * `PipelineStages.split` observation: one walk per message).
  * Transform outputs reach the same pass as VARIANT values set at their
  * target paths (the reference transforms, then coerces: src/lib.rs:827-832),
  * so this is the only module that knows how a value becomes a table type.
  */
object Coercions {

  /** chrono `DateTime::parse_from_rfc3339` acceptance
    * (/root/reference/src/coercions.rs:125-140): date "T" time, optional
    * fraction, mandatory offset (Z or ±hh:mm). Lowercase t/z allowed per
    * RFC 3339. Spark's `cast(string as timestamp)` is laxer (accepts
    * "2021-11-11 22:11:58", bare dates…) so the regex gates the cast.
    */
  val Rfc3339Regex: String =
    "^\\d{4}-\\d{2}-\\d{2}[Tt]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?([Zz]|[+-]\\d{2}:\\d{2})$"

  /** RFC-3339 string → TimestampType (µs precision); null if non-conforming. */
  def rfc3339ToTimestamp(s: Column): Column =
    when(s.rlike(Rfc3339Regex), translate(s, "tz", "TZ").cast(TimestampType))

  /** Result of coercing one field: the typed value plus an optional
    * per-field error (non-null ⇒ the row must dead-letter, mirroring the
    * reference's parquet-write quarantine E4). */
  private final case class Coerced(value: Column, error: Column)

  private def err(path: String, msg: Column): Column =
    concat(lit(path + ": "), msg)

  /** Coerce a VARIANT value `v` (the field at `path`, already extracted) to
    * Delta/Spark type `dt`. `field(v, name, path)` is the VARIANT of a
    * struct's field; a non-null value `set` holds for a path (`a.b.c`)
    * beneath builds a struct the message lacks. */
  private def coerceField(v: Column, dt: DataType, path: String,
                          field: (Column, String, String) => Column,
                          set: Map[String, Column]): Coerced = dt match {
    case StringType =>
      // C1: string passes through; anything else → compact JSON text.
      // A variant read as string renders scalars exactly like serde_json
      // (numbers/booleans as their JSON text) and objects/arrays as compact
      // JSON; it is null only for a null or JSON-null value.
      Coerced(VariantLeaf.as(v, StringType), lit(null).cast(StringType))

    case TimestampType =>
      val asStr = VariantLeaf.as(v, StringType)
      val asLong = VariantLeaf.as(v, LongType)
      val fromStr = rfc3339ToTimestamp(asStr)
      val value = when(v.isNull || is_variant_null(v), lit(null).cast(TimestampType))
        .when(VariantLeaf.isString(v), fromStr)
        .otherwise(timestamp_micros(asLong))
      val error = when(v.isNotNull && !is_variant_null(v) && value.isNull,
        err(path, concat(lit("cannot coerce to timestamp: "), to_json(v))))
      Coerced(value, error)

    case st: StructType =>
      val fields = st.fields.map { f =>
        val p = s"$path.${f.name}"
        f.name -> coerceField(field(v, f.name, p), f.dataType, p, field, set)
      }
      val present = v.isNotNull && !is_variant_null(v)
      // a value set beneath a missing struct builds it (the reference's
      // set_value creates intermediate objects, transforms.rs:323-371)
      val built = set.collect { case (p, r) if p.startsWith(path + ".") => r.isNotNull }
        .foldLeft(present)(_ || _)
      // a scalar/array where the schema wants a struct must DEAD-LETTER:
      // every child get would be null, silently passing a struct of nulls
      // (the array branch below already errors symmetrically)
      val isObject = VariantLeaf.isObject(v)
      val value = when(!built, lit(null).cast(st))
        .otherwise(struct(fields.map { case (n, c) => c.value.as(n) }.toSeq: _*))
      val errors = fields.map(_._2.error)
      val error = when(present && !isObject,
          err(path, concat(lit("cannot coerce to struct: "), to_json(v))))
        .otherwise(when(built, coalesce(errors.toSeq: _*)))
      Coerced(value, error)

    case ArrayType(et, _) =>
      // an element has no column of its own: its fields are read inline
      def element(e: Column) =
        coerceField(e, et, path + "[]", (o, name, _) => fieldOf(o, name), Map.empty)
      val arr = try_variant_get(v, "$", "array<variant>")
      val value = when(v.isNull || is_variant_null(v), lit(null).cast(ArrayType(et)))
        .otherwise(transform(arr, element(_).value))
      val anyErr = exists(arr, element(_).error.isNotNull)
      val error = when(v.isNotNull && !is_variant_null(v) &&
          (arr.isNull || coalesce(anyErr, lit(false))),
        err(path, lit("cannot coerce array element")))
      Coerced(value, error)

    case other =>
      // Integer/long/double/float/boolean…: the reference passes these
      // through untouched and lets the Arrow write fail on mismatch
      // (quarantine E4). The read nulls on mismatch; surface that as a
      // field error to preserve the dead-letter contract.
      val value =
        if (VariantLeaf.reads(other)) VariantLeaf.as(v, other)
        else try_variant_get(v, "$", other.sql)
      val error = when(v.isNotNull && !is_variant_null(v) && value.isNull,
        err(path, concat(lit(s"cannot coerce to ${other.simpleString}: "), to_json(v))))
      Coerced(value, error)
  }

  /** Field `name` of the VARIANT object `v`. */
  private def fieldOf(v: Column, name: String): Column =
    try_variant_get(v, "$." + name, "variant")

  /** Coerce each message of `df` in one walk: VARIANT root `v` → `msg`
    * (typed struct per `schema`) and `error` (string), dropping every
    * column the walk adds. Level by level, each schema path gets one
    * column: the non-null value `set` holds there (transform outputs by
    * target path, SQL-null where a transform yielded null), else the field
    * read once from its parent path's column; every use of a path reads
    * that column. `error` is `failed` (transform failures) then the field
    * errors in schema order, `"; "`-joined with nulls skipped: `""` ⇔ a
    * clean row. No expression here falls back from codegen unless the
    * schema holds an array (its elements are coerced in a lambda). */
  def coerce(df: DataFrame, v: Column, schema: StructType,
             set: Map[String, Column] = Map.empty, failed: Seq[Column] = Nil): DataFrame = {
    // (path, parent path, field), one level of the schema per entry
    val levels = Iterator.iterate(schema.fields.toSeq.map(f => (f.name, None: Option[String], f))) {
      _.flatMap {
        case (p, _, StructField(_, st: StructType, _, _)) =>
          st.fields.toSeq.map(f => (s"$p.${f.name}", Some(p), f))
        case _ => Nil
      }
    }.takeWhile(_.nonEmpty).toSeq
    val names = levels.flatten.map(_._1).zipWithIndex.map { case (p, i) => p -> s"_coerce_$i" }.toMap
    def at(p: String): Column = col(names(p))
    val read = levels.foldLeft(df) { (acc, level) =>
      acc.withColumns(level.map { case (p, parent, f) =>
        names(p) -> coalesce(set.getOrElse(p, lit(null)), fieldOf(parent.fold(v)(at), f.name))
      }.toMap)
    }
    val fields = schema.fields.toSeq.map { f =>
      f.name -> coerceField(at(f.name), f.dataType, f.name, (_, _, p) => at(p), set)
    }
    read.withColumns(Map(
        "msg" -> struct(fields.map { case (n, c) => c.value.as(n) }: _*),
        "error" -> concat_ws("; ", failed ++ fields.map(_._2.error): _*)))
      .drop(names.values.toSeq: _*)
  }
}
