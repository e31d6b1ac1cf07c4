package graft.coercions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.SparkSpec

/** Equivalence gate for the VariantLeaf reads: `VariantLeaf.as(v, t)` must
  * equal `try_variant_get(v, '$', t)`, and the type tests must equal
  * `schema_of_variant`'s type prefix, value for value, for a value of every
  * variant type read as every atomic table type. The reference is Spark's
  * own expression evaluated in-session, not a restatement of its rules.
  * Each case runs with the projection inside whole-stage codegen (a
  * compile failure fails the test instead of falling back) and again
  * interpreted, and once more codegen'd in a non-UTC session time zone.
  * Non-ASCII fixture characters are unicode escapes. */
class VariantLeafSpec extends SparkSpec {

  private val targets = Seq("string", "boolean", "tinyint", "smallint", "int", "bigint",
    "float", "double", "decimal(10,2)", "date", "timestamp", "timestamp_ntz", "binary")

  private def json(s: String) = s"parse_json('$s')"
  private def cast(sql: String) = s"cast($sql as variant)"
  private def str(s: String) = cast(s"'$s'")

  /** SQL expressions yielding a VARIANT of every variant type. */
  private val edges: Seq[String] = Seq(
    json("null"), "cast(null as variant)", json("true"), json("false"),
    cast("cast(127 as tinyint)"), cast("cast(-128 as tinyint)"),
    cast("cast(32767 as smallint)"), cast("cast(-32768 as smallint)"),
    cast("2147483647"), cast("-2147483648"), cast("2147483648L"),
    cast("9223372036854775807L"), cast("-9223372036854775808L"),
    json("0"), json("-1"), json("128"), json("255"), json("256"), json("32768"),
    json("-129"), json("-32769"), json("-2147483649"),
    cast("cast(1.5 as float)"), cast("cast(-0.0 as float)"), cast("cast('NaN' as float)"),
    cast("cast(3.4028235e38 as float)"), cast("cast(1.4e-45 as float)"),
    cast("cast('NaN' as double)"), cast("cast('Infinity' as double)"),
    cast("cast('-Infinity' as double)"), cast("cast(-0.0 as double)"),
    json("1.5e300"), json("12.5e0"), json("1e20"), json("2.9e9"),
    json("1.5"), json("-0.125"), json("123456789012.34"), json("99999999.995"),
    cast("cast(1.23 as decimal(10,2))"), cast("cast(-99999.999 as decimal(8,3))"),
    cast("cast(0 as decimal(1,0))"), cast("cast(127 as decimal(3,0))"),
    cast("cast(12345678901234567890.123456789 as decimal(38,9))"),
    cast("cast(1636668718000000 as decimal(20,0))"),
    str(""), str("café 中文 😀"), str("42"), str("-7"), str(" 12 "),
    str("3.14"), str("1e3"), str("NaN"), str("Infinity"), str("true"), str("false"),
    str("2021-11-11T22:11:58Z"), str("2021-11-11T22:11:58.123456+01:00"),
    str("2021-11-11"), str("2021-11-11 22:11:58"), str("x" * 100),
    cast("date'2021-11-11'"), cast("date'0001-01-01'"),
    cast("timestamp'2021-11-11 22:11:58.123456'"),
    cast("timestamp_ntz'2021-11-11 22:11:58.123456'"),
    cast("X'0102FF'"), cast("X''"),
    json("{}"), json("""{"a": {"b": [1, 2]}, "c": "d"}"""), json("[]"), json("""[1, "a", null]"""))

  /** Seeded JSON scalars across magnitudes and number spellings. */
  private val fuzz: Seq[String] = {
    val r = new scala.util.Random(13)
    (1 to 300).map { _ =>
      r.nextInt(6) match {
        case 0 => json((r.nextLong() >> r.nextInt(64)).toString)
        case 1 => json(f"${r.nextGaussian() * math.pow(10, r.nextInt(30) - 10)}%.6e")
        case 2 => json(BigDecimal(r.nextLong() >> r.nextInt(64), r.nextInt(12)).toString)
        case 3 => str((r.nextLong() >> r.nextInt(64)).toString)
        case 4 => str(Seq("-", "+", "", " ")(r.nextInt(4)) + r.nextInt(1000) + "." + r.nextInt(1000))
        case _ => json(r.nextBoolean().toString)
      }
    }
  }

  /** A scanned frame (id, v): over a local relation the optimizer would
    * evaluate the projections itself before any codegen runs. */
  private def variants(s: SparkSession, exprs: Seq[String]): DataFrame =
    s.sql(exprs.zipWithIndex.map { case (e, i) => s"SELECT $i AS id, $e AS v" }
      .mkString(" UNION ALL ")).localCheckpoint()

  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def referenceVsKernel(s: SparkSession, exprs: Seq[String], codegen: Boolean): Unit = {
    val v = col("v")
    val reads = targets.flatMap { t =>
      Seq(try_variant_get(v, "$", t).as(s"ref $t"),
        VariantLeaf.as(v, DataType.fromDDL(t)).as(s"got $t"))
    }
    val tests = Seq(
      schema_of_variant(v).startsWith("OBJECT").as("ref object"),
      VariantLeaf.isObject(v).as("got object"),
      (schema_of_variant(v) === "STRING").as("ref string"),
      VariantLeaf.isString(v).as("got string"))
    val df = variants(s, exprs).select(col("id") +: (reads ++ tests): _*)
    val plan = df.queryExecution.executedPlan
    val staged = plan.collect { case p: ProjectExec => p }
    val inCodegen = plan.collect { case w: WholeStageCodegenExec =>
      w.collect { case p: ProjectExec => p } }.flatten
    assert(staged.nonEmpty && staged.forall(p => inCodegen.exists(_ eq p)) === codegen,
      plan.treeString)
    val names = df.columns
    df.collect().foreach { r =>
      (1 until names.length by 2).foreach { i =>
        assert(java.util.Objects.deepEquals(r.get(i), r.get(i + 1)),
          s"${names(i + 1)} diverges on ${exprs(r.getInt(0))}: " +
            s"${r.get(i)} (reference) vs ${r.get(i + 1)}")
      }
    }
  }

  private val codegen = session("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.fallback" -> "false")
  private val interpreted = session("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  test("every variant type read as every atomic type, inside whole-stage codegen") {
    referenceVsKernel(codegen, edges, codegen = true)
  }

  test("every variant type read as every atomic type, interpreted") {
    referenceVsKernel(interpreted, edges, codegen = false)
  }

  test("timestamps render in the session time zone") {
    val la = session("spark.sql.codegen.fallback" -> "false",
      "spark.sql.session.timeZone" -> "America/Los_Angeles")
    referenceVsKernel(la, edges, codegen = true)
  }

  test("seeded fuzz over JSON numbers and numeric strings, both paths") {
    referenceVsKernel(codegen, fuzz, codegen = true)
    referenceVsKernel(interpreted, fuzz, codegen = false)
  }
}
