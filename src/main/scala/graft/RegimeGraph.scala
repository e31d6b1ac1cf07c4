package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The triangle-IVM regime fixture of the bench maintenance leg
  * (`graft.Bench`): the sf part-adjacency graph (consecutive lineitems
  * of one order share an edge between their parts) replicated `rep`×
  * under DISJOINT id
  * spaces — the ×N move that puts the graph in the |E| regime the fold
  * exists for without inventing a synthetic distribution — plus the
  * batch-sized daily-change split (1/4096 of copy 0's edges; a daily
  * batch does not scale with the accumulated graph).
  *
  * Two copies of it once drifted one constant apart, and that constant
  * was a bug: the id offset must exceed l_partkey's range
  * (200,000 × SF), and the old `1 << 20` overflowed at SF ≥ 10,
  * colliding copy id-spaces into duplicate edges that trip
  * triangleDelta's |sign| > 1 guard. 2^32 covers any SF this harness
  * will ever see while 16 copies stay far under Long range. */
object RegimeGraph {

  /** Id offset between replicas — must exceed max l_partkey at the
    * largest SF the fixture runs against. */
  val Off: Long = 1L << 32

  final case class Regime(pairs: DataFrame, isChange: Column)

  def apply(spark: SparkSession, sfDir: String, rep: Int): Regime = {
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_partkey").cast("long").as("pa"))
      .join(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), (col("l_linenumber") - 1).as("ln"),
          col("l_partkey").cast("long").as("pb")), Seq("ok", "ln"))
      .where(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("u"),
        greatest(col("pa"), col("pb")).as("v"))
      .distinct()
    val pairs = (0 until rep).map(c =>
        base.select((col("u") + lit(c * Off)).as("u"),
          (col("v") + lit(c * Off)).as("v")))
      .reduce(_ unionAll _)
    val isChange = pmod(xxhash64(col("u"), col("v")), lit(4096L)) === 0L &&
      col("u") < Off
    Regime(pairs, isChange)
  }
}
