package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** File-level data skipping from `add.stats` — the read-path payoff of
  * writing per-file min/max/nullCount (reference ST1/ST2): a conjunction
  * of simple column predicates is evaluated against each file's stats
  * (and `partitionValues` for partition columns), and files whose stats
  * PROVE no row can match are skipped before any parquet is opened.
  *
  * Soundness: the comparison semantics FOLLOW THE TABLE SCHEMA — numeric
  * columns compare numerically, string columns lexicographically (exactly
  * what Spark's filter will do); any other type, a missing stat, or a
  * type mismatch keeps the file. [[graft.delta.DeltaTable.scan]]
  * re-applies the exact predicate to surviving rows, so results never
  * depend on pruning.
  *
  * Scale: this is the difference between "read 100 TB and filter" and
  * "open the 3 files whose range overlaps" on time-ordered ingest.
  */
object DataSkipping {

  /** One conjunct: `column op value`, op ∈ {=, <, <=, >, >=, in}. For
    * `in`, `value` is the Seq of candidate values — the partition-dir
    * fan-out shape (a probe opening k bands, a reader opening a set of
    * days) prunes in ONE scan instead of k unioned ones. */
  final case class ColPred(column: String, op: String, value: Any) {
    require(Set("=", "<", "<=", ">", ">=", "in").contains(op), s"unsupported op $op")
    def toColumn: Column = op match {
      case "=" => col(column) === lit(value)
      case "<" => col(column) < lit(value)
      case "<=" => col(column) <= lit(value)
      case ">" => col(column) > lit(value)
      case ">=" => col(column) >= lit(value)
      case "in" => col(column).isin(value.asInstanceOf[Seq[Any]]: _*)
    }
  }

  def exprFor(preds: Seq[ColPred]): Column =
    preds.map(_.toColumn).foldLeft(lit(true))(_ && _)

  /** ColPred-expressible conjuncts of a DML predicate `Column` — the
    * bridge that lets DELETE/UPDATE/MERGE pre-restrict their candidate
    * files through the same `add.stats` index as [[DeltaTable.scan]].
    * Conservative by construction: the predicate analyzes against the
    * table schema (so implicit casts and case resolution land first),
    * then only top-level AND conjuncts of the shape
    * `column (=|<|<=|>|>=|<=>) literal` (either side) with a bare
    * attribute and a foldable value extract; every other conjunct —
    * OR, IN, casts on the COLUMN side, UDF calls — yields nothing, so
    * the caller keeps all files for it. Extraction can only shrink the
    * candidate set of files that PROVABLY contain no match; the
    * row-level restriction still runs on the survivors, so results never
    * depend on it. */
  def fromFilter(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                 predicate: Column): Seq[ColPred] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val cond: Expression = try {
      val dummy = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      dummy.filter(predicate).queryExecution.analyzed.collectFirst {
        case f: LFilter => f.condition
      }.getOrElse(return Nil)
    } catch { case _: Exception => return Nil }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // foldable covers Literal AND the Cast(Literal) type-coercion wraps;
    // a null value extracts nothing (x = NULL matches no row — but the
    // row filter, not pruning, owns that semantics)
    def value(e: Expression): Option[Any] =
      if (!e.foldable) None
      else try Option(e.eval(null))
        .map(CatalystTypeConverters.convertToScala(_, e.dataType))
      catch { case _: Exception => None }
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case o => o
    }
    def extract(l: Expression, r: Expression, op: String): Option[ColPred] =
      (attr(l), value(r)) match {
        case (Some(c), Some(v)) => Some(ColPred(c, op, v))
        case _ => (attr(r), value(l)) match {
          case (Some(c), Some(v)) => Some(ColPred(c, flip(op), v))
          case _ => None
        }
      }
    conjuncts(cond).flatMap {
      // IN-lists with a bare attribute and all-foldable, non-null
      // candidates; any unresolvable element drops the conjunct (the
      // caller keeps all files — conservative)
      case In(e, list) => attr(e).flatMap { c =>
        val vs = list.map(value)
        if (vs.nonEmpty && vs.forall(_.isDefined)) Some(ColPred(c, "in", vs.map(_.get)))
        else None
      }
      case EqualTo(l, r) => extract(l, r, "=")
      // <=> with a non-null value matches exactly the = rows (all-null
      // files have no stats bounds and are kept regardless)
      case EqualNullSafe(l, r) => extract(l, r, "=")
      case LessThan(l, r) => extract(l, r, "<")
      case LessThanOrEqual(l, r) => extract(l, r, "<=")
      case GreaterThan(l, r) => extract(l, r, ">")
      case GreaterThanOrEqual(l, r) => extract(l, r, ">=")
      case _ => None
    }
  }

  /** Files of `snap` that MAY contain a matching row. */
  def prune(snap: Snapshot, preds: Seq[ColPred]): Seq[Actions.AddFile] = {
    // partition columns by logical AND physical name: on a column-mapped
    // table, predicates arrive physically translated and partitionValues
    // key physically — the logical names stay in the set for unmapped
    // tables (identity) and direct callers
    val partCols = (snap.partitionColumns ++ snap.physicalPartitionColumns).toSet
    // types resolve under the LOGICAL name and, on column-mapped tables,
    // the PHYSICAL name too (stats are keyed physically; DeltaTable.scan
    // translates its predicates before calling here)
    val colTypes: Map[String, DataType] =
      snap.schema.map(_.fields.flatMap { f =>
        Seq(f.name -> f.dataType, snap.physicalNames(f.name) -> f.dataType)
      }.toMap).getOrElse(Map.empty)
    snap.files.filter { f =>
      // checkpoint-provided PRE-PARSED stats win (the typed struct a
      // stats_parsed checkpoint carries — zero JSON work); otherwise
      // parse each file's stats JSON once, not once per predicate — and
      // LAZILY, so partition-only predicate sets (the Hive-partitioned
      // probe paths: PassageIndex bands, IVF cells, adjacency buckets)
      // never touch stats JSON at all
      val parsed = f.parsedStats
      lazy val stats =
        if (parsed.isDefined) None else f.stats.map(Actions.mapper.readTree)
      preds.forall(p =>
        mayMatch(f, parsed,
          if (partCols.contains(p.column)) None else stats,
          p, partCols, colTypes.get(p.column)))
    }
  }

  private def mayMatch(f: Actions.AddFile, parsed: Option[Actions.ParsedStats],
                       stats: Option[JsonNode], p: ColPred,
                       partCols: Set[String], colType: Option[DataType]): Boolean = {
    if (partCols.contains(p.column)) {
      f.partitionValues.get(p.column) match {
        case Some(pv) if pv != null => satisfiable(pv, pv, p, colType) // point interval
        case _ => true // null / unknown partition value: keep
      }
    } else parsed match {
      case Some(ps) =>
        (ps.minValues.get(p.column), ps.maxValues.get(p.column)) match {
          case (Some(lo), Some(hi)) => satisfiable(lo, hi, p, colType)
          case _ => true // column not stats'd (or nested): keep
        }
      case None => stats match {
        case Some(node) =>
          val min = Option(node.get("minValues")).flatMap(m => Option(m.get(p.column)))
          val max = Option(node.get("maxValues")).flatMap(m => Option(m.get(p.column)))
          (min, max) match {
            case (Some(lo), Some(hi)) if lo.isValueNode && hi.isValueNode =>
              satisfiable(lo, hi, p, colType)
            case _ => true // column not stats'd (or nested): keep
          }
        case None => true // no stats: keep
      }
    }
  }

  // interval [lo, hi] vs predicate under the column's schema type. Exact
  // comparisons (numeric, string) use strict interval logic; INEXACT ones
  // (timestamps — stats are truncated to milliseconds) relax the strict
  // ops so a bound equal at ms precision never prunes a file whose true
  // sub-ms value would match.
  private def satisfiable(lo: Any, hi: Any, p: ColPred, colType: Option[DataType]): Boolean = {
    // IN: the interval may match iff it may match ANY candidate; an
    // empty list matches no row anywhere — prune everything, exactly
    // what the row filter computes
    if (p.op == "in")
      return p.value.asInstanceOf[Seq[Any]].exists(v =>
        satisfiable(lo, hi, ColPred(p.column, "=", v), colType))
    (cmp(lo, p.value, colType), cmp(hi, p.value, colType)) match {
      case (Some((l, lExact)), Some((h, hExact))) =>
        p.op match {
          case "=" => l <= 0 && h >= 0 // value inside [lo, hi]
          case "<" => if (lExact) l < 0 else l <= 0
          case "<=" => l <= 0
          case ">" => if (hExact) h > 0 else h >= 0
          case ">=" => h >= 0
        }
      case _ => true // unknown type / mismatch: never prune
    }
  }

  /** Three-way compare of a stats bound against the predicate value, with
    * the semantics THE SCHEMA dictates: numeric columns numerically,
    * string columns lexicographically (Spark compares a StringType column
    * lexicographically even when its values look like numbers — a
    * parse-what-you-can comparison would prune files Spark's own filter
    * matches), timestamps chronologically at the stats' millisecond
    * precision. Returns (ordering, exact?): timestamps report exact=false
    * because the bound is floor-truncated to ms. Other types: incomparable
    * → keep. */
  private def cmp(bound: Any, value: Any, colType: Option[DataType]): Option[(Int, Boolean)] = {
    def num(a: Any): Option[BigDecimal] = a match {
      case n: JsonNode if n.isNumber => Some(BigDecimal(n.decimalValue()))
      case _: JsonNode => None
      case n: Number => Some(BigDecimal(n.toString))
      case s: String => try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
      case _ => None
    }
    def str(a: Any): Option[String] = a match {
      case n: JsonNode if n.isTextual => Some(n.asText())
      case _: JsonNode => None
      case s: String => Some(s)
      case _ => None
    }
    def instMs(a: Any): Option[Long] = {
      def parse(s: String): Option[Long] =
        try Some(java.time.Instant.from(ParquetStats.tsFmt.parse(s)).toEpochMilli)
        catch { case _: RuntimeException => None }
      a match {
        case n: JsonNode if n.isTextual => parse(n.asText())
        case s: String => parse(s)
        case t: java.sql.Timestamp => Some(t.getTime) // ms, sub-ms floor
        case i: java.time.Instant => Some(i.toEpochMilli)
        // TIMESTAMP_NTZ bounds from a stats_parsed checkpoint struct
        // surface as LocalDateTime — compare as UTC instants (both sides
        // of the comparison carry the same wall-clock convention)
        case l: java.time.LocalDateTime =>
          Some(l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
        case _ => None
      }
    }
    colType match {
      case Some(_: ByteType | _: ShortType | _: IntegerType | _: LongType |
                _: FloatType | _: DoubleType | _: DecimalType) =>
        (num(bound), num(value)) match {
          case (Some(b), Some(v)) => Some((b.compare(v), true))
          case _ => None
        }
      case Some(StringType) =>
        (str(bound), str(value)) match {
          case (Some(b), Some(v)) => Some((b.compareTo(v), true))
          case _ => None
        }
      case Some(DateType) =>
        // partition values render dates as ISO yyyy-MM-dd; STATS carry
        // either form — this engine's footers emit the epoch-day INTEGER
        // (parquet's physical representation), delta-spark emits ISO text
        def days(a: Any): Option[Long] = {
          def parse(s: String): Option[Long] =
            try Some(java.time.LocalDate.parse(s).toEpochDay)
            catch { case _: java.time.format.DateTimeParseException => None }
          a match {
            case n: JsonNode if n.isNumber => Some(n.asLong())
            case n: JsonNode if n.isTextual => parse(n.asText())
            case s: String => parse(s)
            case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
            case d: java.time.LocalDate => Some(d.toEpochDay)
            case _ => None
          }
        }
        (days(bound), days(value)) match {
          case (Some(b), Some(v)) => Some((java.lang.Long.compare(b, v), true))
          case _ => None
        }
      case Some(TimestampType | TimestampNTZType) =>
        // stats bounds render via ParquetStats.tsFmt (ms floor); partition
        // values use a different format, fail to parse, and keep the file
        (instMs(bound), instMs(value)) match {
          case (Some(b), Some(v)) => Some((java.lang.Long.compare(b, v), false))
          case _ => None
        }
      case _ => None // unknown or non-orderable-by-us type: keep the file
    }
  }
}
