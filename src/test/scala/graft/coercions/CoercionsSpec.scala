package graft.coercions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Port of the reference's coercion matrix
  * (/root/reference/src/coercions.rs:319-453): the 9-message timestamp
  * matrix plus the ToString and recursive struct/array rules. Where the
  * reference leaves a non-coercible value in place and quarantines the row
  * at parquet-write time, this engine nulls the value and raises a field
  * error — same endpoint (the row dead-letters), asserted via `error`.
  */
class CoercionsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("level1_string", StringType),
    StructField("level1_integer", IntegerType),
    StructField("level1_timestamp", TimestampType),
    StructField("level2", StructType(Seq(
      StructField("level2_string", StringType),
      StructField("level2_timestamp", TimestampType)))),
    StructField("array_timestamp", ArrayType(TimestampType)),
    StructField("array_string", ArrayType(StringType)),
    StructField("array_int", ArrayType(IntegerType)),
    StructField("array_struct", ArrayType(StructType(Seq(
      StructField("level2_string", StringType),
      StructField("level2_int", IntegerType),
      StructField("level2_timestamp", TimestampType)))))))

  private def coerce(json: String) =
    Coercions.coerce(Seq(json).toDF("json").withColumn("v", parse_json(col("json"))),
        col("v"), schema)
      .select(col("msg.*"), col("error"))
      .head()

  /** The row's field errors, `"; "`-joined in schema order. */
  private def errsOf(r: org.apache.spark.sql.Row): String =
    r.getAs[String]("error")

  private def tsMicros(r: org.apache.spark.sql.Row, field: String): Long = {
    val ts = r.getAs[java.sql.Timestamp](field)
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
  }

  test("timestamp matrix: i64 epoch micros passes through") {
    val r = coerce("""{"level1_timestamp": 1636668718000000}""")
    assert(tsMicros(r, "level1_timestamp") === 1636668718000000L)
    assert(errsOf(r).isEmpty)
  }

  test("timestamp matrix: RFC3339 Z form coerces") {
    val r = coerce("""{"level1_timestamp": "2021-11-11T22:11:58Z"}""")
    assert(tsMicros(r, "level1_timestamp") === 1636668718000000L)
    assert(errsOf(r).isEmpty)
  }

  test("timestamp matrix: RFC3339 +00:00 form coerces") {
    val r = coerce("""{"level1_timestamp": "2021-11-11T22:11:58+00:00"}""")
    assert(tsMicros(r, "level1_timestamp") === 1636668718000000L)
  }

  test("timestamp matrix: RFC3339 -00:00 form coerces") {
    val r = coerce("""{"level1_timestamp": "2021-11-11T22:11:58-00:00"}""")
    assert(tsMicros(r, "level1_timestamp") === 1636668718000000L)
  }

  test("timestamp matrix: ISO-8601-basic (not RFC3339) dead-letters") {
    val r = coerce("""{"level1_timestamp": "20211111T22115800Z"}""")
    assert(r.isNullAt(r.fieldIndex("level1_timestamp")))
    assert(errsOf(r).contains("level1_timestamp"))
  }

  test("timestamp matrix: java-style datetime dead-letters") {
    val r = coerce("""{"level1_timestamp": "2021-11-11 22:11:58"}""")
    assert(r.isNullAt(r.fieldIndex("level1_timestamp")))
    assert(errsOf(r).nonEmpty)
  }

  test("timestamp matrix: garbage string dead-letters") {
    val r = coerce("""{"level1_timestamp": "This definitely is not a timestamp"}""")
    assert(r.isNullAt(r.fieldIndex("level1_timestamp")))
    assert(errsOf(r).nonEmpty)
  }

  test("timestamp matrix: numeric STRING dead-letters (no lax cast)") {
    val r = coerce("""{"level1_timestamp": "1636668718000000"}""")
    assert(r.isNullAt(r.fieldIndex("level1_timestamp")))
    assert(errsOf(r).nonEmpty)
  }

  test("timestamp matrix: absent field is null without error") {
    val r = coerce("""{"level1_integer": 99}""")
    assert(r.isNullAt(r.fieldIndex("level1_timestamp")))
    assert(r.getAs[Int]("level1_integer") === 99)
    assert(errsOf(r).isEmpty)
  }

  test("ToString: object value becomes compact JSON text") {
    val r = coerce("""{"level1_string": {"a": "a", "b": "b"}}""")
    assert(r.getAs[String]("level1_string") === """{"a":"a","b":"b"}""")
    assert(errsOf(r).isEmpty)
  }

  test("ToString: plain string passes through") {
    val r = coerce("""{"level1_string": "a", "level1_integer": 0}""")
    assert(r.getAs[String]("level1_string") === "a")
  }

  test("recursive coercion: nested struct and arrays (reference message 1)") {
    val r = coerce(
      """{"level2": {"level2_string": {"x":"x","y":"y"}, "level2_timestamp": "2021-11-11T22:11:58Z"},
        | "array_timestamp": ["2021-11-17T01:02:03Z", "2021-11-17T02:03:04Z"],
        | "array_string": ["a", "b", {"a": 1}],
        | "array_int": [1, 2, 3],
        | "array_struct": [
        |   {"level2_string": "{\"a\":1}", "level2_int": 1, "level2_timestamp": "2021-11-17T00:00:01Z"},
        |   {"level2_string": {"a": 2}, "level2_int": 2, "level2_timestamp": 1637107202000000}
        | ]}""".stripMargin.replace("\n", ""))
    val level2 = r.getAs[org.apache.spark.sql.Row]("level2")
    assert(level2.getAs[String]("level2_string") === """{"x":"x","y":"y"}""")
    val arrTs = r.getSeq[java.sql.Timestamp](r.fieldIndex("array_timestamp"))
      .map(t => t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    assert(arrTs === Seq(1637110923000000L, 1637114584000000L))
    assert(r.getSeq[String](r.fieldIndex("array_string")) === Seq("a", "b", """{"a":1}"""))
    assert(r.getSeq[Int](r.fieldIndex("array_int")) === Seq(1, 2, 3))
    val structs = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("array_struct"))
    assert(structs.map(_.getAs[String]("level2_string")) === Seq("""{"a":1}""", """{"a":2}"""))
    assert(structs.map(_.getAs[Int]("level2_int")) === Seq(1, 2))
    assert(errsOf(r).isEmpty)
  }

  test("a scalar where the schema wants a struct dead-letters, not nulls") {
    // every child get of a non-object is null; without the explicit type
    // check the row passed as clean with a struct of nulls (review finding)
    val r = coerce("""{"level2": 42}""")
    assert(errsOf(r).contains("cannot coerce to struct"),
      s"scalar-at-struct must raise a field error; got ${errsOf(r)}")
    val arr = coerce("""{"level2": [1, 2]}""")
    assert(errsOf(arr).contains("cannot coerce to struct"))
    // a real (empty) object is still fine
    assert(errsOf(coerce("""{"level2": {}}""")).isEmpty)
  }

  test("an array-of-struct element error dead-letters the row, the other elements coerce") {
    val r = coerce("""{"array_struct": [{"level2_int": 1}, {"level2_int": "x"}]}""")
    assert(errsOf(r) === "array_struct: cannot coerce array element")
    val structs = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("array_struct"))
    assert(structs.map(s => Option(s.get(s.fieldIndex("level2_int")))) === Seq(Some(1), None))
  }

  test("field errors join in schema order, a nested one named by its full path") {
    val r = coerce(
      """{"array_struct": [{"level2_int": "x"}], "level2": {"level2_timestamp": "bad"},
        | "level1_integer": "a"}""".stripMargin.replace("\n", ""))
    assert(errsOf(r) === "level1_integer: cannot coerce to int: \"a\"; " +
      "level2.level2_timestamp: cannot coerce to timestamp: \"bad\"; " +
      "array_struct: cannot coerce array element")
  }

  test("rfc3339 regex rejects lax Spark casts, accepts lowercase t/z") {
    val df = Seq("2021-11-11t22:11:58z", "2021-11-11", "2021-11-11T22:11:58").toDF("s")
      .select(Coercions.rfc3339ToTimestamp(col("s")).as("ts"))
    val rows = df.collect()
    assert(rows(0).getAs[java.sql.Timestamp]("ts") !== null)
    assert(rows(1).isNullAt(0))
    assert(rows(2).isNullAt(0))
  }
}
