package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compile-time error for an unsupported/invalid transform spec. */
final case class TransformCompileError(message: String) extends RuntimeException(message)

/** The reference's per-message transform engine re-expressed as Catalyst
  * `Column` expressions (whole-stage-codegen friendly; the reference
  * interprets JMESPath per row — /root/reference/src/transforms.rs:405-417).
  *
  * Spec surface (reference `--transform 'target.path: SOURCE'`,
  * /root/reference/src/main.rs:399-425):
  *   - SOURCE = a JMESPath expression over the message, or a Kafka meta
  *     property (`kafka.partition|offset|topic|timestamp|timestamp_type`).
  *   - Supported JMESPath subset: identifier paths `a.b.c` with
  *     non-negative array indexes `a[0].b`, pipes `a.b | c`, backtick JSON
  *     literals, and the reference's custom functions (substr,
  *     epoch_*_to_iso8601, epoch_millis_to_micro) plus built-in `to_number`.
  *     This covers every expression in the reference's docs and tests;
  *     anything else (projections `[*]`, filters `[?…]`, slices, negative
  *     indexes) fails fast at compile time.
  */
object JmesPath {

  sealed trait Seg
  final case class Field(name: String) extends Seg
  final case class Idx(i: Int) extends Seg

  sealed trait Ast
  final case class Path(segs: Seq[Seg]) extends Ast
  final case class Pipe(left: Ast, right: Ast) extends Ast
  final case class NumLit(v: Double) extends Ast
  final case class StrLit(v: String) extends Ast
  final case class Func(name: String, args: Seq[Ast]) extends Ast

  /** Tiny recursive-descent parser for the supported subset. */
  def parse(expr: String): Ast = {
    val s = expr.trim
    val p = new Parser(s)
    val ast = p.parseExpr()
    p.skipWs()
    if (!p.eof) throw TransformCompileError(s"trailing input at ${p.pos} in: $s")
    ast
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def peek: Char = s.charAt(pos)
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1

    def parseExpr(): Ast = {
      var left = parseSimple()
      skipWs()
      // pipe: RHS evaluates with the LHS result as its current value
      while (!eof && peek == '|') {
        pos += 1
        left = Pipe(left, parseSimple())
        skipWs()
      }
      left
    }

    private def parseSimple(): Ast = {
      skipWs()
      if (eof) throw TransformCompileError("empty expression")
      peek match {
        case '`' => parseBacktickLiteral()
        case '\'' => parseRawString()
        case '@' => // current node (the piped-in value)
          pos += 1
          parsePathRest(parseIndexes())
        case c if c.isLetter || c == '_' =>
          val id = parseIdent()
          skipWs()
          if (!eof && peek == '(') parseFunc(id)
          else parsePathRest(Seq(Field(id)) ++ parseIndexes())
        case c => throw TransformCompileError(s"unexpected '$c' at $pos in: $s")
      }
    }

    private def parseIdent(): String = {
      val start = pos
      while (!eof && (peek.isLetterOrDigit || peek == '_')) pos += 1
      if (pos == start) throw TransformCompileError(s"expected identifier at $pos in: $s")
      s.substring(start, pos)
    }

    private def parsePathRest(acc: Seq[Seg]): Ast = {
      skipWs()
      if (!eof && peek == '.') {
        pos += 1; skipWs()
        parsePathRest((acc :+ Field(parseIdent())) ++ parseIndexes())
      } else Path(acc)
    }

    /** Zero or more `[N]` suffixes (non-negative literal indexes only —
      * projections `[*]`, filters `[?…]`, slices `[a:b]` are out of the
      * supported subset and fail here with a clear message). */
    private def parseIndexes(): Seq[Seg] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seg]
      skipWs()
      while (!eof && peek == '[') {
        pos += 1; skipWs()
        val start = pos
        while (!eof && peek.isDigit) pos += 1
        if (pos == start || eof || { skipWs(); eof || peek != ']' })
          throw TransformCompileError(
            s"only non-negative literal indexes are supported in brackets at $start in: $s")
        out += Idx(s.substring(start, pos).trim.toInt)
        skipWs() // at ']'
        pos += 1
        skipWs()
      }
      out.toSeq
    }

    private def parseFunc(name: String): Ast = {
      pos += 1 // '('
      val args = scala.collection.mutable.ArrayBuffer.empty[Ast]
      skipWs()
      if (!eof && peek == ')') { pos += 1; return Func(name, args.toSeq) }
      var done = false
      while (!done) {
        args += parseExpr()
        skipWs()
        if (eof) throw TransformCompileError(s"unterminated call to $name in: $s")
        peek match {
          case ',' => pos += 1
          case ')' => pos += 1; done = true
          case c => throw TransformCompileError(s"unexpected '$c' in args of $name at $pos")
        }
      }
      Func(name, args.toSeq)
    }

    /** JMESPath backtick literal: a JSON value. Numbers and strings only
      * (the subset the reference's functions consume). */
    private def parseBacktickLiteral(): Ast = {
      pos += 1
      val start = pos
      while (!eof && peek != '`') pos += 1
      if (eof) throw TransformCompileError(s"unterminated backtick literal in: $s")
      val body = s.substring(start, pos).trim
      pos += 1
      if (body.startsWith("\"") && body.endsWith("\"") && body.length >= 2)
        StrLit(body.substring(1, body.length - 1))
      else
        try NumLit(body.toDouble)
        catch {
          case _: NumberFormatException =>
            throw TransformCompileError(s"unsupported backtick literal `$body`")
        }
    }

    /** JMESPath raw string 'foo'. */
    private def parseRawString(): Ast = {
      pos += 1
      val start = pos
      while (!eof && peek != '\'') pos += 1
      if (eof) throw TransformCompileError(s"unterminated raw string in: $s")
      val body = s.substring(start, pos)
      pos += 1
      StrLit(body)
    }
  }

  /** Lower an AST to a Column over the decoded message DataFrame (payload
    * fields as top-level / nested struct columns). */
  def toColumn(ast: Ast): Column = ast match {
    case Path(segs) =>
      segs match {
        case Field(head) +: rest => rest.foldLeft(col(head)) {
          case (c, Field(f)) => c.getField(f)
          case (c, Idx(i)) => c.getItem(i)
        }
        case _ => throw TransformCompileError(
          "path must start with an identifier (`@` is only meaningful after a pipe)")
      }
    case Pipe(l, r) => overColumn(r, toColumn(l))
    case NumLit(v) => if (v == v.floor && !v.isInfinite) lit(v.toLong) else lit(v)
    case StrLit(v) => lit(v)
    case Func(name, args) => function(name, args.map(toColumn), args)
  }

  /** Lower the RHS of a pipe relative to an already-lowered base column. */
  private def overColumn(ast: Ast, base: Column): Column = ast match {
    case Path(segs) => segs.foldLeft(base) {
      case (c, Field(f)) => c.getField(f)
      case (c, Idx(i)) => c.getItem(i)
    }
    case Pipe(l, r) => overColumn(r, overColumn(l, base))
    case NumLit(v) => if (v == v.floor && !v.isInfinite) lit(v.toLong) else lit(v)
    case StrLit(v) => lit(v)
    case Func(name, args) => function(name, args.map(overColumn(_, base)), args)
  }

  /** A path's variant-get string: `$.a[0].b` (Spark variant paths use the
    * same bracket syntax as JMESPath for literal indexes). */
  private def variantPath(segs: Seq[Seg]): String =
    "$" + segs.map {
      case Field(f) => "." + f
      case Idx(i) => s"[$i]"
    }.mkString

  /** A transform lowered over the raw message: its value, and `failed`,
    * true when a function got only non-null arguments yet returned null
    * (a bad argument, such as `"abc"` for an epoch: the reference's E3
    * transform failure). */
  final case class Lowered(value: Column, failed: Column = lit(false))

  /** Lower an AST over the *raw* message VARIANT (pre-coercion values, the
    * reference evaluates JMESPath against the undecoded JSON tree). Path
    * results stay VARIANT, a JSON null reading as SQL null like a missing
    * key; function arguments try-cast as each function needs. */
  def lowerOverVariant(ast: Ast, v: Column): Lowered = ast match {
    case Path(segs) =>
      val x = try_variant_get(v, variantPath(segs), "variant")
      Lowered(when(!is_variant_null(x), x))
    case Pipe(l, r) =>
      val left = lowerOverVariant(l, v)
      val right = lowerOverVariant(r, left.value)
      Lowered(right.value, left.failed || right.failed)
    case Func(name, args) =>
      val in = args.map(lowerOverVariant(_, v))
      val out = function(name, in.map(_.value), args)
      // to_number's null for a non-number is JMESPath's answer, not a failure
      val bad = if (name == "to_number") lit(false)
        else in.foldLeft(out.isNull)((b, a) => b && a.value.isNotNull)
      Lowered(out, in.foldLeft(bad)((b, a) => b || a.failed))
    case literal => Lowered(toColumn(literal))
  }

  private def function(name: String, cols: Seq[Column], asts: Seq[Ast]): Column = name match {
    case "substr" =>
      require2(name, cols, 3)
      // Reference semantics: chars().skip(start).take(len)
      // (/root/reference/src/transforms.rs:216-235). Spark substring is
      // 1-based; code-point based like Rust chars().
      substring(cols(0).cast("string"), asts(1) match {
        case NumLit(v) => v.toInt + 1
        case _ => throw TransformCompileError("substr: start must be a literal")
      }, asts(2) match {
        case NumLit(v) => v.toInt
        case _ => throw TransformCompileError("substr: length must be a literal")
      })
    case "epoch_seconds_to_iso8601" =>
      require2(name, cols, 1)
      TimeFormat.iso8601FromEpoch(cols(0).try_cast("long"), "s")
    case "epoch_millis_to_iso8601" =>
      require2(name, cols, 1)
      TimeFormat.iso8601FromEpoch(cols(0).try_cast("long"), "ms")
    case "epoch_micros_to_iso8601" =>
      require2(name, cols, 1)
      TimeFormat.iso8601FromEpoch(cols(0).try_cast("long"), "us")
    case "epoch_millis_to_micro" =>
      require2(name, cols, 1)
      try_multiply(cols(0).try_cast("long"), lit(1000L)).as("micros")
    case "to_number" =>
      require2(name, cols, 1)
      cols(0).try_cast("double")
    case other =>
      throw TransformCompileError(s"unsupported JMESPath function: $other")
  }

  private def require2(name: String, cols: Seq[Column], n: Int): Unit =
    if (cols.length != n)
      throw TransformCompileError(s"$name expects $n args, got ${cols.length}")
}

/** Renders epoch numbers exactly like the reference's
  * `format!("{:?}", DateTime<Utc>)` (chrono Debug ≈ RFC 3339 with
  * 0/3/6/9 fractional digits, trailing-zero groups trimmed) —
  * /root/reference/src/transforms.rs:243-281. Requires session TZ = UTC.
  */
object TimeFormat {
  /** epoch in `unit` (s|ms|us) → ISO-8601 string, chrono-Debug style. */
  def iso8601FromEpoch(v: Column, unit: String): Column = {
    // an out-of-range epoch reads as null, not an overflow error
    val micros = unit match {
      case "s" => try_multiply(v, lit(1000000L))
      case "ms" => try_multiply(v, lit(1000L))
      case "us" => v
    }
    val ts = timestamp_micros(micros)
    val base = date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    // positive fractional part in [0, 1e6): floor-mod semantics match
    // chrono timestamp_nanos for negative epochs too.
    val fracUs = pmod(micros, lit(1000000L))
    val fracMs = try_divide(fracUs, lit(1000L)).cast("long") // exact: fracUs < 1e6
    val frac = when(fracUs === 0L, lit(""))
      .when(pmod(fracUs, lit(1000L)) === 0L,
        concat(lit("."), lpad(fracMs.cast("string"), 3, "0")))
      .otherwise(concat(lit("."), lpad(fracUs.cast("string"), 6, "0")))
    concat(base, frac, lit("Z"))
  }
}

/** Kafka metadata property sources (reference T7,
  * /root/reference/src/transforms.rs:441-476). The ingest pipeline exposes
  * the Kafka source's native columns under these names; `timestamp` is
  * converted ms→µs exactly like the reference.
  */
object KafkaMeta {
  val PartitionCol = "partition"
  val OffsetCol = "offset"
  val TopicCol = "topic"
  val TimestampCol = "timestamp"
  val TimestampTypeCol = "timestampType"

  /** @param timestampColType actual type of the `timestamp` column when
    *        known: Spark's REAL Kafka source exposes it as TimestampType,
    *        where `cast(long)` yields SECONDS — the µs contract
    *        (reference epoch-ms × 1000, src/transforms.rs:467-476) needs
    *        unix_millis there; harnesses that pre-shape it as an epoch-ms
    *        long take the numeric path. */
  def column(prop: String,
             timestampColType: Option[org.apache.spark.sql.types.DataType] = None): Column =
    prop match {
      case "kafka.partition" => col(PartitionCol).cast("int")
      case "kafka.offset" => col(OffsetCol).cast("long")
      case "kafka.topic" => col(TopicCol)
      case "kafka.timestamp" => timestampColType match {
        case Some(org.apache.spark.sql.types.TimestampType) =>
          unix_millis(col(TimestampCol)) * 1000L
        case _ => col(TimestampCol).cast("long") * 1000L
      }
      case "kafka.timestamp_type" => col(TimestampTypeCol).cast("int")
      case other => throw TransformCompileError(s"unknown kafka meta property: $other")
    }

  val all: Set[String] = Set(
    "kafka.partition", "kafka.offset", "kafka.topic",
    "kafka.timestamp", "kafka.timestamp_type")
}

/** Compiled transform set: applies `target.path: SOURCE` specs to a decoded
  * message DataFrame.
  *
  * Null-result-not-set semantics (reference `set_value`,
  * /root/reference/src/transforms.rs:323-371): when the source expression
  * yields null and the target already exists, the existing value is kept
  * (`coalesce(new, old)`); when the target is new, the column holds null —
  * the relational analog of an absent key.
  */
final class Transformer(specs: Seq[(String, String)]) extends Serializable {

  /** (targetPath, kafka-meta property | compiled source column) in spec
    * order. Kafka meta resolves at apply-time: the right expression for
    * `kafka.timestamp` depends on the frame's timestamp column type. */
  val compiled: Seq[(String, Either[String, Column])] = specs.map { case (target, source) =>
    val src = source.trim
    if (KafkaMeta.all.contains(src)) (target, Left(src))
    else (target, Right(JmesPath.toColumn(JmesPath.parse(src))))
  }

  def apply(df: DataFrame): DataFrame =
    compiled.foldLeft(df) { case (acc, (target, e)) =>
      val expr = e.fold(
        prop => KafkaMeta.column(prop,
          acc.schema.fields.find(_.name == KafkaMeta.TimestampCol).map(_.dataType)),
        identity)
      assign(acc, target, expr)
    }

  private def assign(df: DataFrame, target: String, expr: Column): DataFrame = {
    val parts = target.split('.')
    val topExists = df.columns.contains(parts.head)
    if (parts.length == 1) {
      val e = if (topExists) coalesce(expr, col(parts.head)) else expr
      df.withColumn(parts.head, e)
    } else {
      if (!topExists)
        throw TransformCompileError(
          s"nested transform target '$target' requires existing struct column '${parts.head}'")
      val hasLeaf = hasNestedField(df, parts)
      val newVal = if (hasLeaf) {
        // preserve-on-null needs the old leaf when present
        val old = parts.tail.foldLeft(col(parts.head))((c, f) => c.getField(f))
        coalesce(expr, old)
      } else expr
      val topType = df.schema.fields.find(_.name == parts.head).get.dataType
      df.withColumn(parts.head,
        setNested(col(parts.head), topType, parts.tail.toList, newVal, target))
    }
  }

  /** Set `rest` under `base`, CREATING missing intermediate structs (the
    * reference's set_value builds intermediate objects on the way down,
    * transforms.rs:323-371 — withField alone throws on a missing
    * intermediate and leaves a null one null). An existing non-struct
    * intermediate is a spec error. */
  private def setNested(base0: Column, dt: org.apache.spark.sql.types.DataType,
                        rest: List[String], value: Column, target: String): Column = {
    import org.apache.spark.sql.types.StructType
    val st = dt match {
      case st: StructType => st
      case _ => throw TransformCompileError(
        s"transform target '$target': parent of '${rest.head}' is not a struct")
    }
    // a null struct on this row takes its fields when a value lands in it
    val base = when(base0.isNull && value.isNotNull,
      struct(st.fields.map(f => lit(null).cast(f.dataType).as(f.name)).toSeq: _*))
      .otherwise(base0)
    rest match {
      case leaf :: Nil => base.withField(leaf, value)
      case head :: tail =>
        st.fields.find(_.name == head) match {
          case Some(f) if f.dataType.isInstanceOf[StructType] =>
            base.withField(head, setNested(base.getField(head), f.dataType, tail, value, target))
          case Some(_) =>
            throw TransformCompileError(
              s"transform target '$target': '$head' exists but is not a struct")
          case None =>
            // build the missing intermediate chain as fresh structs: one
            // wrap per tail segment gives the struct for `head`
            base.withField(head, tail.foldRight(value) { (seg, inner) =>
              org.apache.spark.sql.functions.struct(inner.as(seg))
            })
        }
      case Nil => value
    }
  }

  private def hasNestedField(df: DataFrame, parts: Array[String]): Boolean = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType, rest: List[String]): Boolean = (dt, rest) match {
      case (_, Nil) => true
      case (st: StructType, h :: t) =>
        st.fields.find(_.name == h).exists(f => walk(f.dataType, t))
      case _ => false
    }
    df.schema.fields.find(_.name == parts.head).exists(f => walk(f.dataType, parts.tail.toList))
  }
}

object Transformer {
  def apply(specs: Seq[(String, String)]): Transformer = new Transformer(specs)
  /** Parse CLI-style `"target: SOURCE"` strings (reference --transform). */
  def fromStrings(specs: Seq[String]): Transformer =
    new Transformer(specs.map { s =>
      val i = s.indexOf(':')
      if (i < 0) throw TransformCompileError(s"transform spec missing ':': $s")
      (s.substring(0, i).trim, s.substring(i + 1).trim)
    })
}
