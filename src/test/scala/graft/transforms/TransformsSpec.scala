package graft.transforms

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Port of the reference's transform unit tests
  * (/root/reference/src/transforms.rs:478-787): substr char semantics,
  * chrono-Debug ISO-8601 rendering, ms→µs, nested set + null-not-set, and
  * Kafka meta injection.
  */
class TransformsSpec extends SparkSpec {
  import spark.implicits._

  private def one(df: org.apache.spark.sql.DataFrame) = df.head()

  test("substr returns Will from William (start 0 len 4)") {
    val r = one(Seq("William").toDF("name")
      .select(JmesPath.toColumn(JmesPath.parse("substr(name, `0`, `4`)")).as("s")))
    assert(r.getString(0) === "Will")
  }

  test("substr returns liam from William (start 3 len 4)") {
    val r = one(Seq("William").toDF("name")
      .select(JmesPath.toColumn(JmesPath.parse("substr(name, `3`, `4`)")).as("s")))
    assert(r.getString(0) === "liam")
  }

  test("transforms_with_substr: modified_date from modified") {
    val df = Seq(("A", "2021-03-16T14:38:58Z")).toDF("name", "modified")
      .withColumn("modified_date", lit(null).cast("string"))
    val out = Transformer(Seq("modified_date" -> "substr(modified, `0`, `10`)"))(df).head()
    assert(out.getAs[String]("name") === "A")
    assert(out.getAs[String]("modified") === "2021-03-16T14:38:58Z")
    assert(out.getAs[String]("modified_date") === "2021-03-16")
  }

  test("iso8601 from epoch seconds renders chrono-Debug style (no fraction)") {
    val r = one(Seq(1626823098L).toDF("v")
      .select(TimeFormat.iso8601FromEpoch(col("v"), "s").as("s")))
    assert(r.getString(0) === "2021-07-20T23:18:18Z")
  }

  test("iso8601 from epoch micros: whole seconds lose the fraction") {
    val r = one(Seq(1626823098000000L).toDF("v")
      .select(TimeFormat.iso8601FromEpoch(col("v"), "us").as("s")))
    assert(r.getString(0) === "2021-07-20T23:18:18Z")
  }

  test("iso8601 fraction groups: millis render .3, micros render .6") {
    val r = one(Seq((1626823098123L, 1626823098123456L)).toDF("ms", "us")
      .select(
        TimeFormat.iso8601FromEpoch(col("ms"), "ms").as("a"),
        TimeFormat.iso8601FromEpoch(col("us"), "us").as("b")))
    assert(r.getString(0) === "2021-07-20T23:18:18.123Z")
    assert(r.getString(1) === "2021-07-20T23:18:18.123456Z")
  }

  test("epoch_millis_to_micro multiplies by 1000") {
    val r = one(Seq(1732279537028L).toDF("modified")
      .select(JmesPath.toColumn(JmesPath.parse("epoch_millis_to_micro(modified)")).as("v")))
    assert(r.getLong(0) === 1732279537028000L)
  }

  test("nested set creates intermediate fields, keeps siblings") {
    val df = Seq(Tuple1("Doe")).toDF("last")
      .select(struct(col("last")).as("name"))
    val out = Transformer(Seq("name.first" -> "'John'"))(df).head()
    val name = out.getAs[org.apache.spark.sql.Row]("name")
    assert(name.getAs[String]("last") === "Doe")
    assert(name.getAs[String]("first") === "John")
  }

  test("null-result-not-set: existing value kept when source is null") {
    val df = Seq(("keepme", Option.empty[String])).toDF("target", "src")
    val out = Transformer(Seq("target" -> "src"))(df).head()
    assert(out.getAs[String]("target") === "keepme")
  }

  test("null-result-not-set: fresh target becomes null, row survives") {
    val df = Seq(Tuple1(Option.empty[String])).toDF("src")
    val out = Transformer(Seq("fresh" -> "src"))(df).head()
    assert(out.isNullAt(out.fieldIndex("fresh")))
  }

  test("kafka meta: timestamp is converted ms to us, offset passes through") {
    val df = Seq((3, 42L, "t", 1732279537028L, 0))
      .toDF("partition", "offset", "topic", "timestamp", "timestampType")
    val out = df.select(
      KafkaMeta.column("kafka.timestamp").as("ts_us"),
      KafkaMeta.column("kafka.offset").as("off"),
      KafkaMeta.column("kafka.partition").as("part"),
      KafkaMeta.column("kafka.topic").as("topic")).head()
    assert(out.getAs[Long]("ts_us") === 1732279537028000L)
    assert(out.getAs[Long]("off") === 42L)
    assert(out.getAs[Int]("part") === 3)
    assert(out.getAs[String]("topic") === "t")
  }

  test("array indexes navigate into lists (struct frame and raw variant)") {
    val df = Seq(("x", Seq(Seq(10L, 20L), Seq(30L)))).toDF("name", "m")
    val out = df.select(
      JmesPath.toColumn(JmesPath.parse("m[0][1]")).as("a"),
      JmesPath.toColumn(JmesPath.parse("m[1][0]")).as("b")).head()
    assert(out.getAs[Long]("a") === 20L && out.getAs[Long]("b") === 30L)

    val v = Seq("""{"items": [{"id": 7}, {"id": 9}]}""").toDF("j")
      .select(parse_json(col("j")).as("v"))
    val got = v.select(
      JmesPath.lowerOverVariant(JmesPath.parse("items[1].id"), col("v")).value
        .cast("long").as("x")).head()
    assert(got.getAs[Long]("x") === 9L)
  }

  test("pipes re-root the right-hand expression on the left result") {
    // path | func(@): the piped value feeds the function's current node
    val df = Seq(("2024-05-06T07:08:09Z", "n")).toDF("modified", "name")
    val d = df.select(
      JmesPath.toColumn(JmesPath.parse("modified | substr(@, `0`, `10`)")).as("d")).head()
    assert(d.getAs[String]("d") === "2024-05-06")
    // path | path over the raw variant
    val v = Seq("""{"meta": {"mod": "2024-05-06T07:08:09Z"}}""").toDF("j")
      .select(parse_json(col("j")).as("v"))
    val got = v.select(
      JmesPath.lowerOverVariant(JmesPath.parse("meta | mod"), col("v")).value
        .cast("string").as("m")).head()
    assert(got.getAs[String]("m") === "2024-05-06T07:08:09Z")
  }

  test("kafka.timestamp yields microseconds for BOTH source column shapes") {
    // a real Kafka source exposes `timestamp` as TimestampType — cast(long)
    // there is SECONDS and loses sub-second precision (review finding)
    val realShaped = Seq(Tuple1(new java.sql.Timestamp(1732279537028L)))
      .toDF("timestamp")
    val us1 = realShaped.select(
      KafkaMeta.column("kafka.timestamp",
        Some(org.apache.spark.sql.types.TimestampType)).as("us")).head().getLong(0)
    assert(us1 === 1732279537028000L)
    // harness shape: epoch-ms long
    val msShaped = Seq(Tuple1(1732279537028L)).toDF("timestamp")
    val us2 = msShaped.select(
      KafkaMeta.column("kafka.timestamp",
        Some(org.apache.spark.sql.types.LongType)).as("us")).head().getLong(0)
    assert(us2 === 1732279537028000L)
    // Transformer resolves the shape from the frame it's applied to
    val viaTransformer = realShaped.withColumn("out", lit(0L))
    val t = Transformer(Seq("out" -> "kafka.timestamp"))(viaTransformer)
    assert(t.select("out").head().getLong(0) === 1732279537028000L)
  }

  test("nested transform targets create missing intermediate structs") {
    // row 2's meta is a null struct
    val df = Seq((1L, "v"), (2L, "w")).toDF("id", "src")
      .withColumn("meta", when(col("id") === 1L, struct(col("id").as("inner_id"))))
    // meta.geo does not exist: the reference's set_value creates the
    // intermediate object on the way down
    val out = Transformer(Seq("meta.geo.lat" -> "src"))(df).orderBy("id")
    assert(out.select("meta.geo.lat").as[String].collect().toSeq === Seq("v", "w"))
    assert(out.select("meta.inner_id").head().getLong(0) === 1L)
    assert(out.select("meta.inner_id").collect()(1).isNullAt(0))
    // an existing NON-struct intermediate is a clear spec error
    assertThrows[TransformCompileError](
      Transformer(Seq("meta.inner_id.x" -> "src"))(df))
  }

  test("unsupported JMESPath specs fail fast at compile time") {
    assertThrows[TransformCompileError](JmesPath.parse("a[*].b"))   // projection
    assertThrows[TransformCompileError](JmesPath.parse("a[?x].b"))  // filter
    assertThrows[TransformCompileError](JmesPath.parse("a[-1]"))    // negative idx
    assertThrows[TransformCompileError](JmesPath.parse("a[1:3]"))   // slice
    assertThrows[TransformCompileError](
      JmesPath.toColumn(JmesPath.parse("unknown_fn(a)")))
  }
}
