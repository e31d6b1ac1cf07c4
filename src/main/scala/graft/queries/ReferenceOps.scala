package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.transforms.Transformer
import graft.coercions.Coercions
import graft.serialization.Decoders

/** The reference's operator inventory (SURVEY.md §2: deserialization D1–D7,
  * transforms T1–T8, coercions C1–C3, DLQ E2, stats ST1, buffer dedup B1)
  * exercised end-to-end through the graft library over the harness tables,
  * with DuckDB oracles. Encode→decode roundtrips fabricate the wire formats
  * (gzip, Confluent framing, Avro container/SOE) so each decoder's output is
  * SQL-checkable as an identity.
  */
object ReferenceOps extends QueryModule {

  private val AvroSchema =
    """{"type":"record","name":"test","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"},
      |{"name":"date","type":"string"}]}""".stripMargin

  /** events with simulated Kafka source columns (the shape the streaming
    * pipeline sees from a real Kafka source). */
  private def kafkaShaped(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      col("props").as("value"),
      (col("event_id") % 4).cast("int").as("partition"),
      col("event_id").as("offset"),
      lit("events").as("topic"),
      unix_millis(col("ts")).as("timestamp"),
      lit(0).as("timestampType"),
      col("ts"))

  /** Decode JSON text and coerce to `schema` via the production path
    * (try_parse_json → Coercions.coerceMessage). Returns payload struct
    * `msg` + `errs` array. */
  private def decode(df: DataFrame, payload: Column, schema: StructType): DataFrame = {
    val v = try_parse_json(payload)
    val (msg, errs) = Coercions.coerceMessage(v, schema)
    df.withColumn("_v", v)
      .withColumn("msg", msg)
      .withColumn("errs", errs)
      .withColumn("decode_failed", payload.isNotNull && col("_v").isNull)
      .drop("_v")
  }

  private val propsSchema = StructType(Seq(StructField("k", LongType)))

  // DuckDB: epoch micros of a naive timestamp
  private val EpochUs = "epoch_us(ts)"

  /** DuckDB fragment rendering epoch-micros like chrono Debug (TimeFormat). */
  private def isoSql(microsExpr: String): String =
    s"""(strftime(make_timestamp($microsExpr), '%Y-%m-%dT%H:%M:%S') ||
       | CASE WHEN ($microsExpr) % 1000000 = 0 THEN ''
       |      WHEN ($microsExpr) % 1000 = 0 THEN '.' || lpad(CAST(($microsExpr) % 1000000 // 1000 AS VARCHAR), 3, '0')
       |      ELSE '.' || lpad(CAST(($microsExpr) % 1000000 AS VARCHAR), 6, '0') END || 'Z')""".stripMargin.replace("\n", " ")

  def defs: Map[String, QueryDef] = Map(

    // ---- D1: default JSON decode --------------------------------------
    "ref_d1_json_decode" -> QueryDef(
      (s, d) => {
        val df = decode(kafkaShaped(s, d), col("value"), propsSchema)
        df.select(col("event_id"), col("msg.k").as("k")).orderBy(col("event_id"))
      },
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin),
      headline = true),

    // ---- D2: gzip decompress then decode ------------------------------
    "ref_d2_gzip" -> QueryDef(
      (s, d) => {
        val gz = kafkaShaped(s, d)
          .withColumn("gz", Decoders.gzip(encode(col("value"), "utf-8")))
        val unzipped = gz.withColumn("json", decode_(Decoders.gunzip(col("gz"))))
        decode(unzipped, col("json"), propsSchema)
          .select(col("event_id"), col("msg.k").as("k")).orderBy(col("event_id"))
      },
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- D3: Confluent-framed JSON (strip 5-byte header) ---------------
    "ref_d3_registry_json" -> QueryDef(
      (s, d) => {
        val framed = kafkaShaped(s, d).withColumn("framed",
          concat(lit(Array[Byte](0, 0, 0, 0, 1)), encode(col("value"), "utf-8")))
        val stripped = framed.withColumn("json", Decoders.registryJson(col("framed")))
        decode(stripped, col("json"), propsSchema)
          .select(col("event_id"), col("msg.k").as("k")).orderBy(col("event_id"))
      },
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- D4: Confluent-framed Avro -------------------------------------
    "ref_d4_avro_registry" -> QueryDef(
      (s, d) => {
        val src = Tables.customer(s, d).select(
          to_json(struct(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_mktsegment").as("date"))).as("json"), col("c_custkey"))
        val framed = src.withColumn("framed",
          concat(lit(Array[Byte](0, 0, 0, 0, 42)), Decoders.avroEncode(col("json"), AvroSchema)))
        val decoded = framed.withColumn("out",
          Decoders.avroRegistry(col("framed"), Map(42 -> AvroSchema)))
        decode(decoded, col("out"),
          StructType(Seq(StructField("id", LongType), StructField("name", StringType),
            StructField("date", StringType))))
          .select(col("msg.id").as("id"), col("msg.name").as("name"), col("msg.date").as("date"))
          .orderBy(col("id"))
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_mktsegment AS date
             |FROM customer ORDER BY id""".stripMargin)),

    // ---- D5: Avro object container (first record) ----------------------
    "ref_d5_avro_container" -> QueryDef(
      (s, d) => {
        val src = Tables.customer(s, d).select(
          to_json(struct(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_mktsegment").as("date"))).as("json"))
        val enc = src.withColumn("container", Decoders.avroContainerEncode(col("json"), AvroSchema))
        val dec = enc.withColumn("out", Decoders.avroContainer(col("container")))
        decode(dec, col("out"),
          StructType(Seq(StructField("id", LongType), StructField("name", StringType),
            StructField("date", StringType))))
          .select(col("msg.id").as("id"), col("msg.name").as("name"), col("msg.date").as("date"))
          .orderBy(col("id"))
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_mktsegment AS date
             |FROM customer ORDER BY id""".stripMargin)),

    // ---- D6: Avro single-object encoding (Rabin fingerprint lookup) ----
    "ref_d6_avro_soe" -> QueryDef(
      (s, d) => {
        val src = Tables.customer(s, d).select(
          to_json(struct(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_mktsegment").as("date"))).as("json"))
        val enc = src.withColumn("soe", Decoders.avroEncode(col("json"), AvroSchema, soe = true))
        val dec = enc.withColumn("out", Decoders.avroSoe(col("soe"), Seq(AvroSchema)))
        decode(dec, col("out"),
          StructType(Seq(StructField("id", LongType), StructField("name", StringType),
            StructField("date", StringType))))
          .select(col("msg.id").as("id"), col("msg.name").as("name"), col("msg.date").as("date"))
          .orderBy(col("id"))
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_mktsegment AS date
             |FROM customer ORDER BY id""".stripMargin)),

    // ---- D7: empty-payload skip ----------------------------------------
    "ref_d7_empty_skip" -> QueryDef(
      (s, d) => {
        val withNulls = kafkaShaped(s, d).withColumn("value",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        withNulls.filter(col("value").isNotNull)
          .agg(count(lit(1)).as("n_kept"))
      },
      Some("SELECT count(*) AS n_kept FROM events WHERE event_id % 7 <> 0")),

    // ---- T1: JMESPath path expression over nested message --------------
    "ref_t1_jmespath_path" -> QueryDef(
      (s, d) => {
        val nested = Tables.events(s, d).select(col("event_id"),
          struct(struct(col("event_type").as("type"), col("value").as("v")).as("inner"))
            .as("meta"))
        Transformer(Seq("extracted" -> "meta.inner.type"))(nested)
          .select(col("event_id"), col("extracted")).orderBy(col("event_id"))
      },
      Some("SELECT event_id, event_type AS extracted FROM events ORDER BY event_id")),

    // ---- T1b: JMESPath array indexes + pipes over the raw variant ------
    "ref_t1b_jmespath_index" -> QueryDef(
      (s, d) => {
        import graft.transforms.JmesPath
        val json = concat(lit("{\"a\":[{\"x\":"), col("event_id"),
          lit("},{\"x\":"), col("event_id") + 1, lit("}]}"))
        Tables.events(s, d)
          .select(col("event_id"), parse_json(json).as("v"))
          .select(col("event_id"),
            JmesPath.lowerOverVariant(JmesPath.parse("a[1].x"), col("v")).value
              .cast("long").as("x1"),
            JmesPath.lowerOverVariant(JmesPath.parse("a[0] | x"), col("v")).value
              .cast("long").as("x0"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_id + 1 AS x1, event_id AS x0
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- T2: substr(s, skip, take) — char-based -------------------------
    "ref_t2_substr" -> QueryDef(
      (s, d) => {
        val df = Tables.events(s, d).select(col("event_id"),
          graft.transforms.TimeFormat.iso8601FromEpoch(unix_micros(col("ts")), "us").as("modified"))
        Transformer(Seq("date" -> "substr(modified, `0`, `10`)"))(df)
          .select(col("event_id"), col("date")).orderBy(col("event_id"))
      },
      Some("SELECT event_id, strftime(ts, '%Y-%m-%d') AS date FROM events ORDER BY event_id")),

    // ---- T3/T4/T5: epoch → ISO-8601 (chrono Debug rendering) -----------
    "ref_t3_epoch_seconds_iso" -> QueryDef(
      (s, d) => {
        val df = Tables.events(s, d).select(col("event_id"),
          (unix_micros(col("ts")) / 1000000L).cast("long").as("secs"))
        Transformer(Seq("iso" -> "epoch_seconds_to_iso8601(secs)"))(df)
          .select(col("event_id"), col("iso")).orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id, ${isoSql(s"($EpochUs // 1000000) * 1000000")} AS iso
              |FROM events ORDER BY event_id""".stripMargin)),

    "ref_t4_epoch_millis_iso" -> QueryDef(
      (s, d) => {
        val df = Tables.events(s, d).select(col("event_id"),
          unix_millis(col("ts")).as("ms"))
        Transformer(Seq("iso" -> "epoch_millis_to_iso8601(ms)"))(df)
          .select(col("event_id"), col("iso")).orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id, ${isoSql(s"($EpochUs // 1000) * 1000")} AS iso
              |FROM events ORDER BY event_id""".stripMargin)),

    "ref_t5_epoch_micros_iso" -> QueryDef(
      (s, d) => {
        val df = Tables.events(s, d).select(col("event_id"),
          unix_micros(col("ts")).as("us"))
        Transformer(Seq("iso" -> "epoch_micros_to_iso8601(us)"))(df)
          .select(col("event_id"), col("iso")).orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id, ${isoSql(EpochUs)} AS iso
              |FROM events ORDER BY event_id""".stripMargin)),

    // ---- T6: epoch millis → micros --------------------------------------
    "ref_t6_millis_to_micros" -> QueryDef(
      (s, d) => {
        val df = Tables.events(s, d).select(col("event_id"),
          unix_millis(col("ts")).as("ms"))
        Transformer(Seq("us" -> "epoch_millis_to_micro(ms)"))(df)
          .select(col("event_id"), col("us")).orderBy(col("event_id"))
      },
      Some(s"SELECT event_id, ($EpochUs // 1000) * 1000 AS us FROM events ORDER BY event_id")),

    // ---- T7: Kafka metadata injection (ms→µs, timestamp_type) ----------
    "ref_t7_kafka_meta" -> QueryDef(
      (s, d) => {
        Transformer(Seq(
          "meta_partition" -> "kafka.partition",
          "meta_offset" -> "kafka.offset",
          "meta_topic" -> "kafka.topic",
          "meta_timestamp" -> "kafka.timestamp",
          "meta_timestamp_type" -> "kafka.timestamp_type"))(kafkaShaped(s, d))
          .select(col("event_id"), col("meta_partition"), col("meta_offset"),
            col("meta_topic"), col("meta_timestamp"), col("meta_timestamp_type"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id,
              |  CAST(event_id % 4 AS INTEGER) AS meta_partition,
              |  event_id AS meta_offset,
              |  'events' AS meta_topic,
              |  ($EpochUs // 1000) * 1000 AS meta_timestamp,
              |  0 AS meta_timestamp_type
              |FROM events ORDER BY event_id""".stripMargin)),

    // ---- T8: nested target-path assignment ------------------------------
    "ref_t8_nested_set" -> QueryDef(
      (s, d) => {
        val df = kafkaShaped(s, d).withColumn("meta",
          struct(struct(graft.transforms.TimeFormat.iso8601FromEpoch(
            unix_micros(col("ts")), "us").as("timestamp")).as("producer")))
        Transformer(Seq(
          "meta.kafka_offset" -> "kafka.offset",
          "date" -> "substr(meta.producer.timestamp, `0`, `10`)"))(df)
          .select(col("event_id"), col("date"),
            col("meta.kafka_offset").as("kafka_offset"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, strftime(ts, '%Y-%m-%d') AS date, event_id AS kafka_offset
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- C1: ToString coercion (object/number → compact JSON text) -----
    "ref_c1_tostring" -> QueryDef(
      (s, d) => {
        val json = when(col("event_id") % 3 === 0,
            concat(lit("{\"v\":{\"k\":"), col("event_id"), lit("}}")))
          .when(col("event_id") % 3 === 1, lit("{\"v\":\"plain\"}"))
          .otherwise(concat(lit("{\"v\":"), col("event_id"), lit("}")))
        val df = Tables.events(s, d).select(col("event_id"), json.as("payload"))
        decode(df, col("payload"), StructType(Seq(StructField("v", StringType))))
          .select(col("event_id"), col("msg.v").as("v")).orderBy(col("event_id"))
      },
      Some("""SELECT event_id, CASE
             |  WHEN event_id % 3 = 0 THEN '{"k":' || event_id || '}'
             |  WHEN event_id % 3 = 1 THEN 'plain'
             |  ELSE CAST(event_id AS VARCHAR) END AS v
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- C2: ToTimestamp coercion (RFC-3339 only; numbers pass through) -
    "ref_c2_totimestamp" -> QueryDef(
      (s, d) => {
        val rfc = graft.transforms.TimeFormat.iso8601FromEpoch(
          (unix_micros(col("ts")) / 1000000L).cast("long") * 1000000L, "us")
        val tStr = when(col("event_id") % 4 === 0, concat(lit("\""), rfc, lit("\"")))
          .when(col("event_id") % 4 === 1, lit("\"2021-11-11 22:11:58\""))
          .when(col("event_id") % 4 === 2, lit("\"1636668718000000\""))
          .otherwise(lit("1636668718000000"))
        val df = Tables.events(s, d).select(col("event_id"), col("ts"),
          concat(lit("{\"t\":"), tStr, lit("}")).as("payload"))
        decode(df, col("payload"), StructType(Seq(StructField("t", TimestampType))))
          .select(col("event_id"), col("msg.t").as("t"),
            (size(col("errs")) > 0).as("has_error"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |  CASE WHEN event_id % 4 = 0 THEN make_timestamp((epoch_us(ts) // 1000000) * 1000000)
             |       WHEN event_id % 4 = 3 THEN make_timestamp(1636668718000000)
             |       ELSE NULL END AS t,
             |  event_id % 4 IN (1, 2) AS has_error
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- C3: recursive coercion into arrays ------------------------------
    "ref_c3_array_coerce" -> QueryDef(
      (s, d) => {
        val json = concat(lit("{\"a\":["), col("event_id"),
          lit(",\""), col("event_id"), lit("\",{\"x\":1}]}"))
        val df = Tables.events(s, d).select(col("event_id"), json.as("payload"))
        decode(df, col("payload"),
          StructType(Seq(StructField("a", ArrayType(StringType)))))
          .select(col("event_id"), concat_ws("|", col("msg.a")).as("a_joined"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |  CAST(event_id AS VARCHAR) || '|' || event_id || '|{"x":1}' AS a_joined
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- E2: dead-letter from failed deserialization --------------------
    "ref_e2_dead_letter" -> QueryDef(
      (s, d) => {
        val withBad = kafkaShaped(s, d).withColumn("value",
          when(col("event_id") % 10 === 0, lit("not json")).otherwise(col("value")))
        val df = decode(withBad, col("value"), propsSchema)
        df.select(col("event_id"), col("decode_failed").as("is_dead"),
          when(col("decode_failed"), base64(encode(col("value"), "utf-8"))).as("base64_bytes"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_id % 10 = 0 AS is_dead,
             |  CASE WHEN event_id % 10 = 0 THEN to_base64(encode('not json')) ELSE NULL END AS base64_bytes
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- ST1/ST2: per-group min/max/null-count stats ---------------------
    // Runs the REAL write path (not a shaped proxy — round-1 verdict #2):
    // commits lineitem columns through DeltaTable.append, then reads the
    // min/max/nullCount back OUT OF THE COMMITTED add.stats JSON; the
    // oracle recomputes ground truth from the raw table, so a stats bug
    // (e.g. the round-3 ObjectNode.set regression) fails the gate.
    "ref_st1_stats" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-st1")
        val src = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
            when(col("l_quantity") < 5, lit(null).cast("double"))
              .otherwise(col("l_quantity")).as("q_nullable"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(src.schema)
        table.append(src.coalesce(1))
        val stats = table.snapshot.files.flatMap(_.stats)
        val node = graft.delta.Actions.mapper.readTree(stats.head)
        import s.implicits._
        Seq((
          node.get("numRecords").asLong(),
          node.get("minValues").get("l_orderkey").asLong(),
          node.get("maxValues").get("l_orderkey").asLong(),
          node.get("minValues").get("l_quantity").asDouble(),
          node.get("maxValues").get("l_quantity").asDouble(),
          node.get("minValues").get("l_extendedprice").asDouble(),
          node.get("maxValues").get("l_extendedprice").asDouble(),
          node.get("nullCount").get("q_nullable").asLong(),
          node.get("nullCount").get("l_orderkey").asLong()
        )).toDF("num_records", "min_key", "max_key", "min_qty", "max_qty",
          "min_price", "max_price", "null_q", "null_key")
      },
      Some("""SELECT count(*) AS num_records,
             |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
             |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
             |  count(*) - count(CASE WHEN l_quantity < 5 THEN NULL ELSE l_quantity END) AS null_q,
             |  CAST(0 AS BIGINT) AS null_key
             |FROM lineitem""".stripMargin)),

    // ---- B1/X1/§2.8: exactly-once through the REAL write path (not a
    // shaped proxy): the same (appId, version) batch is appended twice;
    // the replay must be skipped, so the read-back row count equals the
    // source count. A double-write fails the oracle compare. -------------
    "ref_b1_offset_dedup" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-b1")
        val src = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(src.schema)
        table.append(src, Some("b1"), txnVersion = 0L)
        table.append(src, Some("b1"), txnVersion = 0L) // replayed batch → skipped
        table.toDF.agg(
          count(lit(1)).as("n_rows"),
          count_distinct(col("event_id")).as("n_distinct"),
          sum(col("event_id")).as("id_sum"))
      },
      Some("""SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_distinct,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum FROM events""".stripMargin)),

    // ---- APPLY CHANGES (DLT-style CDC apply, SCD1): the events table
    // becomes a change feed (key = user_id, sequence = event_id, every
    // 11th event a DELETE) applied in two ADVERSARIALLY-ORDERED batches —
    // batch 2 carries many per-key sequences LOWER than batch 1's
    // applied maximum, which must all no-op (the >= stored-sequence
    // rule), while its fresh rows update/delete/insert. The oracle
    // replays the per-batch algorithm (within-batch argmax, delete wins
    // ties; cross-batch staleness against the stored row) — a stale row
    // applying, a fresh one skipped, or a tombstone mishandled all shift
    // the final state. ---------------------------------------------------
    "ref_apply_changes" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-cdc-apply")
        val feed = Tables.events(s, d).select(
          col("user_id"), col("event_id").as("seq"), col("value"),
          when(col("event_id") % 11 === 0, lit("D")).otherwise(lit("U")).as("op"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("seq",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
        require(t.applyChanges(feed.filter(col("seq") % 3 =!= 0),
          Seq("user_id"), "seq", deleteWhen = Some("op = 'D'")) >= 0L)
        t.applyChanges(feed.filter(col("seq") % 3 === 0),
          Seq("user_id"), "seq", deleteWhen = Some("op = 'D'"))
        graft.delta.DeltaTable.forPath(s, dir).toDF.orderBy(col("user_id"))
      },
      Some("""WITH feed AS (
             |  SELECT user_id, event_id AS seq, value,
             |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op
             |  FROM events
             |), b1 AS MATERIALIZED (
             |  SELECT user_id, seq, value, op FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id
             |      ORDER BY seq DESC, (op = 'D') DESC) AS rn
             |    FROM feed WHERE seq % 3 <> 0) WHERE rn = 1
             |), state1 AS MATERIALIZED (
             |  SELECT user_id, seq, value FROM b1 WHERE op <> 'D'
             |), b2 AS MATERIALIZED (
             |  SELECT user_id, seq, value, op FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id
             |      ORDER BY seq DESC, (op = 'D') DESC) AS rn
             |    FROM feed WHERE seq % 3 = 0) WHERE rn = 1
             |)
             |SELECT user_id, seq, value FROM (
             |  SELECT s.user_id,
             |    CASE WHEN c.user_id IS NOT NULL AND c.seq >= s.seq AND c.op <> 'D'
             |         THEN c.seq ELSE s.seq END AS seq,
             |    CASE WHEN c.user_id IS NOT NULL AND c.seq >= s.seq AND c.op <> 'D'
             |         THEN c.value ELSE s.value END AS value
             |  FROM state1 s LEFT JOIN b2 c ON s.user_id = c.user_id
             |  WHERE NOT (c.user_id IS NOT NULL AND c.op = 'D' AND c.seq >= s.seq)
             |  UNION ALL
             |  SELECT c.user_id, c.seq, c.value
             |  FROM b2 c ANTI JOIN state1 s ON c.user_id = s.user_id
             |  WHERE c.op <> 'D'
             |) ORDER BY user_id""".stripMargin)),

    // ---- COPY INTO (delta-spark's idempotent batch loader — the batch
    // form of the reference's exactly-once ingest contract): the source
    // directory grows in two generations; the loader runs twice per
    // generation (the replay must be a commit-level no-op: each file's
    // txn action rides its data commit) and the final table must equal
    // raw documents exactly — a double-loaded file doubles a group's
    // sums, a missed file loses them. -----------------------------------
    "ref_copy_into" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-copyinto")
        val src = graft.Scratch.dir("graft-copysrc")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
        docs.filter(col("doc_id") % 4 === 0).coalesce(2).write.parquet(src + "/g1")
        val t = graft.delta.DeltaTable.forPath(s, dir).create(docs.schema)
        require(t.copyInto(src) > 0L)
        require(t.copyInto(src) == -1L, "replayed COPY INTO must be a no-op")
        docs.filter(col("doc_id") % 4 === 1).coalesce(3).write.parquet(src + "/g2")
        require(t.copyInto(src) > 0L, "only the new generation loads")
        require(t.copyInto(src) == -1L)
        // generation 3 lands as AVRO object containers (the reference is
        // an Avro-first ingester) through graft's own avro layer — same
        // per-file txn idempotency contract
        val srcAvro = graft.Scratch.dir("graft-copysrc-avro")
        graft.serialization.AvroContainerFiles.write(
          docs.filter(col("doc_id") % 4 === 2).repartition(2), srcAvro,
          """{"type":"record","name":"doc","fields":[
            |{"name":"doc_id","type":"long"},{"name":"source","type":"string"},
            |{"name":"text","type":"string"}]}""".stripMargin)
        require(t.copyInto(srcAvro, "avro") > 0L, "avro generation must load")
        require(t.copyInto(srcAvro, "avro") == -1L,
          "replayed avro COPY INTO must be a no-op")
        // generation 4 lands as CSV (header row; multiLine for embedded
        // newlines in text)
        val srcCsv = graft.Scratch.dir("graft-copysrc-csv")
        docs.filter(col("doc_id") % 4 === 3).coalesce(2)
          .write.option("header", "true").csv(srcCsv + "/g4")
        require(t.copyInto(srcCsv, "csv",
          options = Map("multiLine" -> "true")) > 0L, "csv generation must load")
        require(t.copyInto(srcCsv, "csv",
          options = Map("multiLine" -> "true")) == -1L,
          "replayed csv COPY INTO must be a no-op")
        t.toDF.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(length(col("text"))).cast("long").as("len_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  CAST(sum(length(text)) AS BIGINT) AS len_sum
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- BATCH V1 DataSource round-trip (round 16:
    // spark.read/write.format("graft-delta")): two appends through the
    // writer, versionAsOf reads the first generation (require()'d
    // in-query), the final read pushes an IN filter through the pruning
    // scan; the aggregate must equal raw events — a dropped or
    // double-written generation, or a wrong time-travel file set, shifts
    // every sum. --------------------------------------------------------
    "ref_batch_format" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-batchfmt") + "/tbl"
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"))
        val gen1 = ev.filter(col("event_id") % 2 === 0)
        gen1.write.format("graft-delta").mode("append").save(dir)
        ev.filter(col("event_id") % 2 =!= 0)
          .write.format("graft-delta").mode("append").save(dir)
        val v1 = s.read.format("graft-delta")
          .option("versionAsOf", "1").load(dir)
        require(v1.count() == gen1.count(),
          "versionAsOf must read exactly the first generation")
        s.read.format("graft-delta").load(dir)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("user_id")).cast("long").as("user_sum"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum
             |FROM events WHERE event_type IN ('click', 'view')
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- MERGE / upsert (delta-rs merge, copy-on-write): target = even
    // event ids; the source UPDATES every id % 4 == 0 row (user_id bumped
    // by 1e6) and INSERTS odd multiples of 5 (bumped by 2e6). The oracle
    // recomputes the merged state from the raw table — a lost update, a
    // resurrected old row (bad file rewrite), or a dropped insert all
    // shift the sums. ----------------------------------------------------
    "ref_merge" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-merge")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema)
        table.append(ev.filter(col("event_id") % 2 === 0))
        val src = ev.filter(col("event_id") % 4 === 0)
          .select(col("event_id"), (col("user_id") + 1000000).cast("long").as("user_id"))
          .unionByName(ev.filter(col("event_id") % 2 =!= 0 && col("event_id") % 5 === 0)
            .select(col("event_id"), (col("user_id") + 2000000).cast("long").as("user_id")))
        require(table.merge(src, Seq("event_id")) > 0L)
        table.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""WITH merged AS (
             |  SELECT event_id,
             |    CASE WHEN event_id % 4 = 0 THEN user_id + 1000000 ELSE user_id END AS user_id
             |  FROM events WHERE event_id % 2 = 0
             |  UNION ALL
             |  SELECT event_id, user_id + 2000000 AS user_id FROM events
             |  WHERE event_id % 2 = 1 AND event_id % 5 = 0
             |)
             |SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum FROM merged""".stripMargin)),

    // ---- MERGE with the FULL clause surface (conditional matched
    // delete/update, conditional insert, NOT MATCHED BY SOURCE
    // delete/update — the CDC-apply + full-sync shape) in ONE commit.
    // Target = even event ids; source = id%4==0 rows (user_id+1e6) plus
    // odd multiples of 5 (user_id+2e6). Clauses: matched id%8==0 →
    // DELETE, other matched → UPDATE to the source value; unmatched odd
    // source rows INSERT; target rows the source lacks DELETE when
    // id%6==0, else UPDATE (+3e6) when id%10==2, else carry. The oracle
    // replays every branch from raw events — a clause mis-ordered, a
    // carried row re-written, or a by-source row over-deleted all shift
    // the three aggregates. -----------------------------------------
    "ref_merge_clauses" -> QueryDef(
      (s, d) => {
        import graft.delta.DeltaTable
        val dir = graft.Scratch.dir("graft-merge-clauses")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = DeltaTable.forPath(s, dir).create(ev.schema)
        table.append(ev.filter(col("event_id") % 2 === 0))
        val src = ev.filter(col("event_id") % 4 === 0)
          .select(col("event_id"), (col("user_id") + 1000000).cast("long").as("user_id"))
          .unionByName(ev.filter(col("event_id") % 2 =!= 0 && col("event_id") % 5 === 0)
            .select(col("event_id"), (col("user_id") + 2000000).cast("long").as("user_id")))
        require(table.mergeClauses(src, Seq("event_id"), Seq(
          DeltaTable.WhenMatchedDelete(Some("s.event_id % 8 = 0")),
          DeltaTable.WhenMatchedUpdate(set = Map("user_id" -> "s.user_id")),
          DeltaTable.WhenNotMatchedInsert(condition = Some("s.event_id % 2 = 1")),
          DeltaTable.WhenNotMatchedBySourceDelete(Some("t.event_id % 6 = 0")),
          DeltaTable.WhenNotMatchedBySourceUpdate(
            set = Map("user_id" -> "t.user_id + 3000000"),
            condition = Some("t.event_id % 10 = 2")))) > 0L)
        table.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""WITH tgt AS (
             |  SELECT event_id, user_id FROM events WHERE event_id % 2 = 0
             |), src AS (
             |  SELECT event_id, user_id + 1000000 AS user_id FROM events WHERE event_id % 4 = 0
             |  UNION ALL
             |  SELECT event_id, user_id + 2000000 AS user_id FROM events
             |  WHERE event_id % 2 = 1 AND event_id % 5 = 0
             |), kept AS (
             |  SELECT t.event_id, s.user_id FROM tgt t JOIN src s USING (event_id)
             |  WHERE s.event_id % 8 <> 0
             |  UNION ALL
             |  SELECT t.event_id,
             |    CASE WHEN t.event_id % 10 = 2 THEN t.user_id + 3000000 ELSE t.user_id END
             |  FROM tgt t
             |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = t.event_id)
             |    AND t.event_id % 6 <> 0
             |  UNION ALL
             |  SELECT s.event_id, s.user_id FROM src s
             |  WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.event_id = s.event_id)
             |    AND s.event_id % 2 = 1
             |)
             |SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum FROM kept""".stripMargin)),

    // ---- the SAME full-clause merge, MERGE-ON-READ (deletion vectors):
    // claimed rows mask out by bitmap, zero data files rewrite (required
    // in-query), one new file carries updates + inserts. Identical
    // oracle — the two engines must agree bit-for-bit. ----------------
    "ref_dv_merge_clauses" -> QueryDef(
      (s, d) => {
        import graft.delta.DeltaTable
        val dir = graft.Scratch.dir("graft-dv-merge-clauses")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(DeltaTable.DvConfigKey -> "true"))
        table.append(ev.filter(col("event_id") % 2 === 0))
        val before = table.snapshot.files.map(_.path).toSet
        val src = ev.filter(col("event_id") % 4 === 0)
          .select(col("event_id"), (col("user_id") + 1000000).cast("long").as("user_id"))
          .unionByName(ev.filter(col("event_id") % 2 =!= 0 && col("event_id") % 5 === 0)
            .select(col("event_id"), (col("user_id") + 2000000).cast("long").as("user_id")))
        require(table.mergeClausesWithDv(src, Seq("event_id"), Seq(
          DeltaTable.WhenMatchedDelete(Some("s.event_id % 8 = 0")),
          DeltaTable.WhenMatchedUpdate(set = Map("user_id" -> "s.user_id")),
          DeltaTable.WhenNotMatchedInsert(condition = Some("s.event_id % 2 = 1")),
          DeltaTable.WhenNotMatchedBySourceDelete(Some("t.event_id % 6 = 0")),
          DeltaTable.WhenNotMatchedBySourceUpdate(
            set = Map("user_id" -> "t.user_id + 3000000"),
            condition = Some("t.event_id % 10 = 2")))) > 0L)
        require(before.subsetOf(table.snapshot.files.map(_.path).toSet),
          "a DV clause merge must not rewrite any original data file")
        table.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""WITH tgt AS (
             |  SELECT event_id, user_id FROM events WHERE event_id % 2 = 0
             |), src AS (
             |  SELECT event_id, user_id + 1000000 AS user_id FROM events WHERE event_id % 4 = 0
             |  UNION ALL
             |  SELECT event_id, user_id + 2000000 AS user_id FROM events
             |  WHERE event_id % 2 = 1 AND event_id % 5 = 0
             |), kept AS (
             |  SELECT t.event_id, s.user_id FROM tgt t JOIN src s USING (event_id)
             |  WHERE s.event_id % 8 <> 0
             |  UNION ALL
             |  SELECT t.event_id,
             |    CASE WHEN t.event_id % 10 = 2 THEN t.user_id + 3000000 ELSE t.user_id END
             |  FROM tgt t
             |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = t.event_id)
             |    AND t.event_id % 6 <> 0
             |  UNION ALL
             |  SELECT s.event_id, s.user_id FROM src s
             |  WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.event_id = s.event_id)
             |    AND s.event_id % 2 = 1
             |)
             |SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum FROM kept""".stripMargin)),

    // ---- DELETE + UPDATE (delta-rs delete/update, copy-on-write): the
    // full DML sequence through the real write path — delete every
    // id % 7 == 0 row, then bump user_id by 5e6 where id % 3 == 0 (SET
    // evaluated against the OLD row). The oracle recomputes the final
    // state from raw events; a row deleted too much/too little or an
    // update applied to the wrong slice shifts the sums. --------------
    "ref_delete_update" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-dml")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema)
        table.append(ev)
        require(table.delete(col("event_id") % 7 === 0) > 0L)
        require(table.update(col("event_id") % 3 === 0,
          Map("user_id" -> (col("user_id") + 5000000L))) > 0L)
        table.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""WITH afterdml AS (
             |  SELECT event_id,
             |    CASE WHEN event_id % 3 = 0 THEN user_id + 5000000 ELSE user_id END AS user_id
             |  FROM events WHERE event_id % 7 <> 0
             |)
             |SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum FROM afterdml""".stripMargin)),

    // ---- CONVERT TO DELTA (in-place conversion of a plain parquet
    // directory): write events as Hive-partitioned parquet, convert, and
    // run real DML on the result. In-query requires: every add carries
    // footer stats, conversion moved zero data files (the plain parquet
    // read still works), and the post-convert DELETE actually rewrote
    // state. Oracle recomputes the final state from raw events. --------
    "ref_convert" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-convert") + "/t"
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
          (col("event_id") % 3).cast("int").as("bucket"))
        ev.write.mode("overwrite").partitionBy("bucket").parquet(dir)
        val plainCount = s.read.parquet(dir).count()
        val t = graft.delta.DeltaTable.convertFrom(s, dir, Seq("bucket"))
        require(t.snapshot.files.nonEmpty && t.snapshot.files.forall(_.stats.isDefined),
          "every converted add must carry footer stats")
        require(t.toDF.count() == plainCount,
          "conversion must cover exactly the directory's rows")
        require(t.delete(col("event_id") % 5 === 0) > 0L)
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum
             |FROM events WHERE event_id % 5 <> 0""".stripMargin)),

    // ---- INSERT OVERWRITE / replaceWhere (Delta's predicate overwrite):
    // the idempotent-backfill shape — partition events by bucket, then
    // atomically replace bucket 1 with recomputed rows. In-query
    // requires: untouched partitions keep their exact file set (the
    // rewrite touched ONLY the named region), and a nonconforming row
    // (outside the predicate) refuses loudly. Oracle recomputes the
    // final state from raw events. ------------------------------------
    "ref_replace_where" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-rw")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
          (col("event_id") % 4).cast("int").as("bucket"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          partitionColumns = Seq("bucket"))
        t.append(ev)
        val otherFiles = t.snapshot.files
          .filter(_.partitionValues.get("bucket").exists(_ != "1")).map(_.path).toSet
        val fresh = ev.filter(col("bucket") === 1)
          .select(col("event_id"),
            (col("user_id") + 9000000L).cast("long").as("user_id"), col("bucket"))
        require(t.overwriteWhere(col("bucket") === 1, fresh) > 0L)
        require(t.snapshot.files
          .filter(_.partitionValues.get("bucket").exists(_ != "1"))
          .map(_.path).toSet == otherFiles,
          "replaceWhere must not touch partitions outside the predicate")
        val bad = try {
          t.overwriteWhere(col("bucket") === 1,
            ev.filter(col("bucket") === 2).limit(1)); false
        } catch { case e: Exception => e.isInstanceOf[org.apache.spark.SparkThrowable] }
        require(bad, "a written row outside the predicate must refuse")
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(CASE WHEN event_id % 4 = 1 THEN user_id + 9000000
             |    ELSE user_id END) AS BIGINT) AS user_sum
             |FROM events""".stripMargin)),

    // ---- DELETION VECTORS (delta-rs merge-on-read delete; the Delta
    // `deletionVectors` table feature): append through the real write
    // path, DV-delete two overlapping slices (the second MERGES into the
    // first's bitmaps), and verify IN-QUERY that not one data file was
    // rewritten, that descriptors ride the commit, and that the LOG-ONLY
    // row count (numRecords − cardinality) equals the DV-applied scan.
    // The oracle recomputes the logical state from raw events — a bitmap
    // off by one position, a dropped merge, or a scan that misses the
    // anti-join shifts the sums. ---------------------------------------
    "ref_dv_delete" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-dv")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.DvConfigKey -> "true"))
        t.append(ev)
        val before = t.snapshot.files.map(_.path).toSet
        require(t.deleteWithDv(col("event_id") % 7 === 0) > 0L)
        require(t.deleteWithDv(col("event_id") % 11 === 0) > 0L)
        val after = t.snapshot.files
        require(after.map(_.path).toSet == before,
          "a DV delete must not rewrite any data file")
        require(after.exists(_.deletionVector.isDefined),
          "deletion-vector descriptors must ride the commit")
        require(t.statsSummary(Nil).collect()(0).getLong(0) == t.toDF.count(),
          "log-only logical count must equal the DV-applied scan")
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum
             |FROM events WHERE event_id % 7 <> 0 AND event_id % 11 <> 0""".stripMargin)),

    // ---- MERGE-ON-READ UPDATE (deletion vectors): matched rows mask
    // OUT of their files by DV and their transformed versions append as
    // a new file — required in-query: every original file survives (by
    // path) and at least one carries a descriptor. The oracle recomputes
    // the post-update frame from raw events; a row updated twice, a
    // survivor caught by the mask, or a mask leak shifts the sums. ------
    "ref_dv_update" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-dv-upd")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.DvConfigKey -> "true"))
        t.append(ev)
        val before = t.snapshot.files.map(_.path).toSet
        require(t.updateWithDv(col("event_id") % 5 === 0,
          Map("user_id" -> (col("user_id") + 1000000L))) > 0L)
        val after = t.snapshot.files
        require(before.subsetOf(after.map(_.path).toSet),
          "a DV update must not rewrite any original data file")
        require(after.exists(f => before(f.path) && f.deletionVector.isDefined),
          "descriptors must ride the commit")
        require(after.exists(f => !before(f.path)),
          "the transformed rows must land in a new file")
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(CASE WHEN event_id % 5 = 0 THEN user_id + 1000000
             |    ELSE user_id END) AS BIGINT) AS user_sum
             |FROM events""".stripMargin)),

    // ---- MERGE-ON-READ MERGE (DV CDC-apply): target = evens; source
    // updates the %6 rows (+2e6) and inserts the odds — matched rows
    // mask out by DV, everything new lands in one file, ZERO rewrites
    // (required in-query). The oracle recomputes the upserted frame from
    // raw events. ------------------------------------------------------
    "ref_dv_merge" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-dv-merge")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.DvConfigKey -> "true"))
        t.append(ev.filter(col("event_id") % 2 === 0))
        val before = t.snapshot.files.map(_.path).toSet
        val src = ev.filter(col("event_id") % 6 === 0)
          .select(col("event_id"),
            (col("user_id") + 2000000L).cast("long").as("user_id"))
          .unionByName(ev.filter(col("event_id") % 2 =!= 0))
        require(t.mergeWithDv(src, Seq("event_id")) > 0L)
        require(before.subsetOf(t.snapshot.files.map(_.path).toSet),
          "a DV merge must not rewrite any original data file")
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(CASE WHEN event_id % 6 = 0 THEN user_id + 2000000
             |    ELSE user_id END) AS BIGINT) AS user_sum
             |FROM events""".stripMargin)),

    // ---- SHALLOW CLONE (zero-copy fork via absolute add.paths): clone
    // the events table, DV-delete a slice ON THE CLONE, and aggregate
    // both tables. In-query requires: the clone dir holds zero parquet
    // files, and the source still answers the full count after the
    // clone's delete — isolation and zero-copy, machine-checked. The
    // oracle recomputes both aggregates from raw events. ----------------
    "ref_shallow_clone" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-clone-src")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val src = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.DvConfigKey -> "true"))
        src.append(ev)
        val cloneDir = graft.Scratch.dir("graft-clone-dst") + "/t"
        val clone = src.shallowCloneTo(cloneDir)
        val cfs = new org.apache.hadoop.fs.Path(cloneDir)
          .getFileSystem(s.sessionState.newHadoopConf())
        val it = cfs.listFiles(new org.apache.hadoop.fs.Path(cloneDir), true)
        var copied = 0
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet") &&
            !st.getPath.toString.contains("_delta_log")) copied += 1
        }
        require(copied == 0, "a SHALLOW clone must copy zero data files")
        require(clone.deleteWithDv(col("event_id") % 3 === 0) > 0L)
        require(src.toDF.count() == ev.count(),
          "clone DML must never touch the source")
        val a = clone.toDF.agg(
          count(lit(1)).as("clone_rows"),
          sum(col("event_id")).cast("long").as("clone_id_sum"))
        val b = src.toDF.agg(
          count(lit(1)).as("src_rows"),
          sum(col("event_id")).cast("long").as("src_id_sum"))
        a.crossJoin(b)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM events WHERE event_id % 3 <> 0) AS clone_rows,
             |  (SELECT CAST(sum(event_id) AS BIGINT) FROM events
             |   WHERE event_id % 3 <> 0) AS clone_id_sum,
             |  (SELECT count(*) FROM events) AS src_rows,
             |  (SELECT CAST(sum(event_id) AS BIGINT) FROM events) AS src_id_sum""".stripMargin)),

    // ---- COLUMN MAPPING (Delta protocol mode=name, protocol (2,5)):
    // parquet stores physical uuid names; RENAME and DROP are
    // metadata-only commits. Script: create mapped → append evens →
    // rename user_id→uid → append odds UNDER THE NEW NAME → drop the
    // props-like column → aggregate. In-query requires pin the
    // metadata-only property (file set unchanged across rename+drop)
    // and that no parquet file carries a logical name. The oracle
    // recomputes the final frame from raw events — a rename that forked
    // the physical column, a drop that leaked, or a mistranslated read
    // shifts the sums. --------------------------------------------------
    "ref_column_mapping" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-colmap")
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.ColumnMappingModeKey -> "name"))
        t.append(ev.filter(col("event_id") % 2 === 0))
        val filesAfterAppend1 = t.snapshot.files.map(_.path).toSet
        t.renameColumn("user_id", "uid")
        t.dropColumn("value")
        require(t.snapshot.files.map(_.path).toSet == filesAfterAppend1,
          "rename/drop must be metadata-only — zero files rewritten")
        t.append(ev.filter(col("event_id") % 2 =!= 0)
          .select(col("event_id"), col("user_id").as("uid")))
        require(t.schema.fieldNames.toSeq == Seq("event_id", "uid"))
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("uid")).cast("long").as("uid_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS uid_sum
             |FROM events""".stripMargin)),

    // ---- GENERATED COLUMNS (Delta protocol writer-v4 feature): a table
    // created with `bucket GENERATED AS (CAST(floor(value) AS BIGINT))`;
    // batch 1 OMITS the column (the writer computes it), batch 2
    // PROVIDES it consistently (the fused check passes it through). The
    // oracle recomputes every bucket from raw values — a computed value
    // off by one, a dropped row, or a skipped enforcement shifts the
    // sums. In-query require: the create recorded minWriterVersion 4. --
    "ref_generated_cols" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-gencol")
        val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        val sch = org.apache.spark.sql.types.StructType(ev.schema.fields ++ Seq(
          graft.delta.DeltaTable.generatedField("bucket",
            org.apache.spark.sql.types.LongType, "CAST(floor(value) AS BIGINT)")))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(sch)
        require(t.snapshot.protocol.exists(_.minWriterVersion == 4))
        t.append(ev.filter(col("event_id") % 2 === 0)) // omitted → computed
        t.append(ev.filter(col("event_id") % 2 =!= 0)  // provided → enforced
          .withColumn("bucket", expr("CAST(floor(value) AS BIGINT)")))
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("bucket")).cast("long").as("bucket_sum"),
          min(col("bucket")).as("bucket_min"),
          max(col("bucket")).as("bucket_max"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS bucket_sum,
             |  CAST(min(CAST(floor(value) AS BIGINT)) AS BIGINT) AS bucket_min,
             |  CAST(max(CAST(floor(value) AS BIGINT)) AS BIGINT) AS bucket_max
             |FROM events""".stripMargin)),

    // ---- CHANGE DATA FEED (delta-rs load_cdf): a five-version DML
    // script — append evens, append odds, delete %7, update %5 (+1e6),
    // merge %3 (+2e6: updates live rows, REINSERTS the %21 rows deleted
    // at v3) — then read the whole feed and aggregate per
    // (version, change_type). The oracle derives every version's change
    // set from raw events, including v5 preimages that must reflect v4's
    // update; a lost preimage, a stale postimage, or an insert
    // misclassified as update shifts the sums. -------------------------
    "ref_cdf" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-cdf")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.CdfConfigKey -> "true"))
        t.append(ev.filter(col("event_id") % 2 === 0))
        t.append(ev.filter(col("event_id") % 2 =!= 0))
        require(t.delete(col("event_id") % 7 === 0) == 3L)
        require(t.update(col("event_id") % 5 === 0,
          Map("user_id" -> (col("user_id") + 1000000L))) == 4L)
        val src = ev.filter(col("event_id") % 3 === 0)
          .select(col("event_id"), (col("user_id") + 2000000L).cast("long").as("user_id"))
        require(t.merge(src, Seq("event_id")) == 5L)
        t.changes(1L, 5L)
          .groupBy(col("_commit_version").as("commit_version"),
            col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("sum_id"),
            sum(col("user_id")).cast("long").as("sum_user"))
          .orderBy(col("commit_version"), col("change_type"))
      },
      Some("""WITH ev AS (SELECT event_id AS id, user_id AS u FROM events),
             |allc AS (
             |  SELECT 1 AS v, 'insert' AS ct, id, u FROM ev WHERE id % 2 = 0
             |  UNION ALL SELECT 2, 'insert', id, u FROM ev WHERE id % 2 = 1
             |  UNION ALL SELECT 3, 'delete', id, u FROM ev WHERE id % 7 = 0
             |  UNION ALL SELECT 4, 'update_preimage', id, u
             |    FROM ev WHERE id % 5 = 0 AND id % 7 <> 0
             |  UNION ALL SELECT 4, 'update_postimage', id, u + 1000000
             |    FROM ev WHERE id % 5 = 0 AND id % 7 <> 0
             |  UNION ALL SELECT 5, 'update_preimage', id,
             |      u + CASE WHEN id % 5 = 0 THEN 1000000 ELSE 0 END
             |    FROM ev WHERE id % 3 = 0 AND id % 7 <> 0
             |  UNION ALL SELECT 5, 'update_postimage', id, u + 2000000
             |    FROM ev WHERE id % 3 = 0 AND id % 7 <> 0
             |  UNION ALL SELECT 5, 'insert', id, u + 2000000
             |    FROM ev WHERE id % 3 = 0 AND id % 7 = 0
             |)
             |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type,
             |  count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id,
             |  CAST(sum(u) AS BIGINT) AS sum_user
             |FROM allc GROUP BY v, ct ORDER BY commit_version, change_type""".stripMargin)),

    // ---- LOG-ONLY STATS AGGREGATE (the delta-rs count(*)-from-metadata
    // fast path, generalized to min/max): append through the real write
    // path, DELETE a slice (so the answer depends on rewritten files'
    // re-derived stats, not just the original appends), then answer
    // count/min/max from add.stats alone — zero parquet data reads
    // (StatsSpec proves it by deleting the data files). The oracle
    // recomputes the same numbers by actually scanning raw events. -----
    "ref_stats_agg" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-statsagg")
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema)
        table.append(ev.filter(col("event_id") % 2 === 0))
        table.append(ev.filter(col("event_id") % 2 =!= 0))
        require(table.delete(col("event_id") % 7 === 0) > 0L)
        table.statsSummary(Seq("event_id", "value"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  min(event_id) AS min_event_id, max(event_id) AS max_event_id,
             |  min(value) AS min_value, max(value) AS max_value
             |FROM events WHERE event_id % 7 <> 0""".stripMargin)),

    // ---- RESTORE (delta-rs restore): two appends, then the table reset
    // to v1 by a restore COMMIT; the read-back must equal v1's state and
    // the restore must be the newest history entry. ----------------------
    "ref_restore" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-restore")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema)
        table.append(ev.filter(col("event_id") % 2 === 0)) // v1
        table.append(ev.filter(col("event_id") % 2 =!= 0)) // v2
        require(table.restoreTo(1L) == 3L)
        require(table.log.history(Some(1)).head._2.exists(_.operation == "RESTORE"))
        table.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum
             |FROM events WHERE event_id % 2 = 0""".stripMargin)),

    // ---- Commit history (delta-rs DeltaTable.history): operations and
    // ordering of every commit made through the real write path, read
    // back newest-first then emitted per version. The oracle is the
    // EXPECTED constant history — a wrong operation label, a missing or
    // duplicated commit, or a zero timestamp fails the gate. ------------
    "ref_history" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-hist")
        val src = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(src.schema)
        table.append(src.filter(col("event_id") % 2 === 0)) // v1
        table.append(src.filter(col("event_id") % 2 =!= 0)) // v2
        table.compact(minBytes = 1L << 30)                  // v3 OPTIMIZE
        val h = table.log.history()
        require(h == h.sortBy(-_._1), "history must come back newest first")
        import s.implicits._
        h.map { case (v, ci) =>
          (v, ci.map(_.operation).getOrElse(""), ci.exists(_.timestamp > 0L))
        }.toDF("version", "operation", "has_ts").orderBy(col("version"))
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), 'CREATE TABLE', true),
             |  (CAST(1 AS BIGINT), 'WRITE', true),
             |  (CAST(2 AS BIGINT), 'WRITE', true),
             |  (CAST(3 AS BIGINT), 'OPTIMIZE', true)) AS t(version, operation, has_ts)
             |ORDER BY version""".stripMargin)),

    // ---- Time travel (delta-rs load_with_version/load_with_datetime):
    // two commits through the REAL write path, then the HISTORICAL state
    // read back both by version and by timestamp. The oracle recomputes
    // the v1 slice from the raw table, so a time-travel bug (wrong file
    // set, wrong version resolution, schema leak) fails the hash gate. ---
    "ref_time_travel" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-tt")
        val src = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val table = graft.delta.DeltaTable.forPath(s, dir).create(src.schema)
        table.append(src.filter(col("event_id") % 2 === 0)) // v1: even ids
        val ts1 = table.log.readVersion(1L).flatMap(_.commitInfo).head.timestamp
        // commit 2 must land on a LATER millisecond than v1, or a cut at
        // ts1 could legally resolve to it
        while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
        table.append(src.filter(col("event_id") % 2 =!= 0)) // v2: the rest
        val atV1 = table.toDF(1L).agg(
          count(lit(1)).as("v1_rows"),
          sum(col("event_id")).cast("long").as("v1_sum"))
        val atTs1 = table.toDFAsOf(ts1).agg(
          count(lit(1)).as("ts1_rows"),
          sum(col("event_id")).cast("long").as("ts1_sum"))
        val latest = table.toDF.agg(count(lit(1)).as("latest_rows"))
        atV1.crossJoin(atTs1).crossJoin(latest)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS v1_rows,
             |  (SELECT CAST(sum(event_id) AS BIGINT) FROM events WHERE event_id % 2 = 0) AS v1_sum,
             |  (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS ts1_rows,
             |  (SELECT CAST(sum(event_id) AS BIGINT) FROM events WHERE event_id % 2 = 0) AS ts1_sum,
             |  (SELECT count(*) FROM events) AS latest_rows""".stripMargin)),

    // ---- ROW TRACKING (Delta writer features rowTracking +
    // domainMetadata): stable per-row identity. Append evens (v1) then
    // odds (v2) — each commit stamps a contiguous base-row-id block from
    // the domain's high-water mark — then OPTIMIZE, which must PRESERVE
    // every (_row_id, _row_commit_version) via the materialized columns.
    // In-query requires pin the preservation (pre/post maps equal) and
    // the compaction itself; the output aggregates are deterministic
    // because id blocks are contiguous: ids cover 0..N-1 exactly, and
    // each row's _row_commit_version is its insert commit. The oracle
    // recomputes all of it from raw events — a leaked/recycled id, a
    // lost materialized column, or a commit-version mix-up shifts the
    // sums. -------------------------------------------------------------
    "ref_row_tracking" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-rowtrack")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.RowTrackingConfigKey -> "true"))
        t.append(ev.filter(col("event_id") % 2 === 0))
        t.append(ev.filter(col("event_id") % 2 =!= 0))
        val rid = col(graft.delta.DeltaTable.RowIdCol)
        val rcv = col(graft.delta.DeltaTable.RowCommitVersionCol)
        val before = t.toDFWithRowIds.select(col("event_id"), rid, rcv)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        require(t.compact() > 0L, "compaction must fold the two appends")
        val after = t.toDFWithRowIds.select(col("event_id"), rid, rcv)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        require(after == before,
          "OPTIMIZE must preserve (_row_id, _row_commit_version) per row")
        t.toDFWithRowIds.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(rid).as("id_distinct"),
          min(rid).as("id_min"),
          max(rid).as("id_max"),
          sum(rid).cast("long").as("id_sum"),
          sum(when(rcv === 1L, 1L).otherwise(0L)).cast("long").as("n_v1"),
          sum(when(rcv === 2L, 1L).otherwise(0L)).cast("long").as("n_v2"))
      },
      Some("""SELECT count(*) AS n_rows, count(*) AS id_distinct,
             |  CAST(0 AS BIGINT) AS id_min,
             |  CAST(count(*) - 1 AS BIGINT) AS id_max,
             |  CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS id_sum,
             |  (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS n_v1,
             |  (SELECT count(*) FROM events WHERE event_id % 2 <> 0) AS n_v2
             |FROM events""".stripMargin)),

    // ---- TYPE WIDENING (reader+writer feature typeWidening): append a
    // batch as (int, float), ALTER COLUMN TYPE to (long, double) —
    // metadata-only, required in-query — then append a second batch in
    // the wide types and aggregate EXACT integers across the mixed
    // files. The oracle replays the narrowing cast chain (double →
    // float → double is the IEEE round both engines share), so a
    // misread narrow page or a rewritten file shifts the sums. ----------
    "ref_type_widening" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-widen")
        val ev = Tables.events(s, d).select(col("event_id"), col("value"))
        val narrow = ev.select(col("event_id").cast("int").as("event_id"),
          col("value").cast("float").as("value"))
        val t = graft.delta.DeltaTable.forPath(s, dir)
          .create(narrow.schema)
        t.append(narrow.filter(col("event_id") % 2 === 0))
        val before = t.snapshot.files.map(_.path).toSet
        require(t.widenColumnType("event_id",
          org.apache.spark.sql.types.LongType) > 0L)
        require(t.widenColumnType("value",
          org.apache.spark.sql.types.DoubleType) > 0L)
        require(t.snapshot.files.map(_.path).toSet == before,
          "widening must rewrite zero data files")
        t.append(ev.filter(col("event_id") % 2 =!= 0))
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(floor(col("value") * 64).cast("long")).cast("long").as("val_q6_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(CAST(floor(
             |    (CASE WHEN event_id % 2 = 0
             |          THEN CAST(CAST(value AS REAL) AS DOUBLE) ELSE value END) * 64)
             |    AS BIGINT)) AS BIGINT) AS val_q6_sum
             |FROM events""".stripMargin)),

    // ---- V2 CHECKPOINTS (reader+writer feature v2Checkpoint): 12
    // commits under checkpointPolicy=v2, metadata cleanup burns the
    // JSONs below the checkpoint, and a COLD reader must reconstruct
    // the table from the UUID top-level + sidecar parquet alone. The
    // oracle recomputes the final content from raw events — a sidecar
    // row lost or double-applied shifts the sums. -----------------------
    "ref_v2_checkpoint" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-v2ck")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          configuration = Map(graft.delta.DeltaTable.CheckpointPolicyKey -> "v2"))
        (0 until 12).foreach(b => t.append(ev.filter(col("event_id") % 12 === b)))
        require(t.log.cleanupMetadata(10L) > 0,
          "cleanup must burn the pre-checkpoint JSONs")
        val cold = graft.delta.DeltaTable.forPath(s, dir)
        require(cold.snapshot.protocol.exists(
          _.readerFeatures.exists(_.contains("v2Checkpoint"))))
        cold.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum
             |FROM events""".stripMargin)),

    // ---- COLUMN DEFAULTS (Delta writer feature allowColumnDefaults):
    // batch 1 OMITS the defaulted columns (the writer evaluates the
    // constant defaults), batch 2 PROVIDES them (pass-through — a
    // default is a fallback, not a constraint). The oracle recomputes
    // the mixed frame from raw events; a default applied to a provided
    // row, or a dropped default, shifts the sums. -----------------------
    "ref_default_cols" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-defaults")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val sch = org.apache.spark.sql.types.StructType(ev.schema.fields ++ Seq(
          graft.delta.DeltaTable.defaultField("src",
            org.apache.spark.sql.types.StringType, "'backfill'"),
          graft.delta.DeltaTable.defaultField("weight",
            org.apache.spark.sql.types.LongType, "7")))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(sch)
        require(t.snapshot.protocol.exists(
          _.writerFeatures.exists(_.contains("allowColumnDefaults"))))
        t.append(ev.filter(col("event_id") % 2 === 0)) // omitted → defaults
        t.append(ev.filter(col("event_id") % 2 =!= 0)  // provided → pass through
          .withColumn("src", lit("live"))
          .withColumn("weight", (col("event_id") % 5).cast("long")))
        t.toDF.groupBy(col("src"))
          .agg(count(lit(1)).as("n"),
            sum(col("weight")).cast("long").as("weight_sum"),
            sum(col("event_id")).cast("long").as("id_sum"))
          .orderBy(col("src"))
      },
      Some("""SELECT CASE WHEN event_id % 2 = 0 THEN 'backfill' ELSE 'live' END AS src,
             |  count(*) AS n,
             |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 7 ELSE event_id % 5 END) AS BIGINT) AS weight_sum,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum
             |FROM events GROUP BY 1 ORDER BY src""".stripMargin)),

    // ---- IDENTITY COLUMNS (Delta protocol writer v6): two appends that
    // OMIT the id column get contiguous machine-assigned blocks
    // start, start+step, ... from the schema-metadata high-water mark —
    // so min/max/sum over the ids are fully determined by the row count
    // alone, which is exactly what the oracle recomputes from raw
    // events. In-query requires pin the protocol floor and the advanced
    // mark; a gap, overlap, or restart-from-start shifts id_sum. -------
    "ref_identity_cols" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-identity")
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
        val sch = org.apache.spark.sql.types.StructType(
          graft.delta.DeltaTable.identityField("row_seq", start = 10L, step = 3L) +:
            ev.schema.fields)
        val t = graft.delta.DeltaTable.forPath(s, dir).create(sch)
        require(t.snapshot.protocol.exists(_.minWriterVersion == 6))
        t.append(ev.filter(col("event_id") % 2 === 0))
        t.append(ev.filter(col("event_id") % 2 =!= 0))
        val n = t.toDF.count()
        val hwm = t.schema.fields.find(_.name == "row_seq").get
          .metadata.getLong(graft.delta.DeltaTable.IdentityHwmKey)
        require(hwm == 10L + 3L * (n - 1),
          "the high-water mark must sit exactly on the last allocated id")
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("row_seq")).as("id_distinct"),
          min(col("row_seq")).as("id_min"),
          max(col("row_seq")).as("id_max"),
          sum(col("row_seq")).cast("long").as("id_sum"),
          sum(col("event_id")).cast("long").as("event_sum"))
      },
      Some("""SELECT count(*) AS n_rows, count(*) AS id_distinct,
             |  CAST(10 AS BIGINT) AS id_min,
             |  CAST(10 + 3 * (count(*) - 1) AS BIGINT) AS id_max,
             |  CAST(10 * count(*) + 3 * count(*) * (count(*) - 1) / 2 AS BIGINT) AS id_sum,
             |  CAST(sum(event_id) AS BIGINT) AS event_sum
             |FROM events""".stripMargin)),

    // ---- CLUSTERED TABLE (Delta writer feature clusteredTable): the
    // clustering keys are declared ONCE at create (stored by physical
    // name in the delta.clustering domain) and optimizeClustered
    // re-sorts on their Hilbert index without the caller re-stating
    // them. In-query requires pin the protocol feature, the domain
    // round-trip, the exact post-optimize file count, and that a point
    // probe on the leading key prunes files via stats. The oracle
    // recomputes the content aggregate — a row lost or duplicated by
    // the rewrite shifts the sums. --------------------------------------
    "ref_clustered" -> QueryDef(
      (s, d) => {
        val dir = graft.Scratch.dir("graft-clustered")
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
        val t = graft.delta.DeltaTable.forPath(s, dir).create(ev.schema,
          clusterBy = Seq("user_id", "event_id"))
        require(t.snapshot.protocol.exists(
          _.writerFeatures.exists(_.contains("clusteredTable"))))
        require(t.clusteringColumns == Seq("user_id", "event_id"))
        (0 until 4).foreach(b => t.append(ev.filter(col("event_id") % 4 === b)))
        require(t.optimizeClustered(numFiles = 8) > 0L)
        require(t.snapshot.files.size == 8)
        // locality probe: one concrete (user_id, event_id) point must
        // resolve to a small file subset via stats — the observable
        // clustering property (a single-key probe is the wrong ask under
        // a Hilbert layout: a fixed user_id crosses many curve segments)
        val probeRow = t.toDF.orderBy(col("event_id")).limit(1)
          .select(col("user_id"), col("event_id")).head()
        require(t.scanFiles(Seq(
          graft.delta.DataSkipping.ColPred("user_id", "=", probeRow.getLong(0)),
          graft.delta.DataSkipping.ColPred("event_id", "=", probeRow.getLong(1)))).size <= 2,
          "a clustered layout must answer a clustering-key point probe " +
            "from a small file subset")
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum
             |FROM events""".stripMargin))
  )

  /** Spark's decode() collides with our helper name; tiny alias to cast
    * binary → string (UTF-8). */
  private def decode_(c: Column): Column = c.cast("string")
}
