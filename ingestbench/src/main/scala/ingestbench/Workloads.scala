package ingestbench

/** One workload: the CLI overrides it runs with and the size of a run. A
  * drain is one ingest query that drains a pre-built backlog into a fresh
  * table; a run is one untimed warm-up drain, then `measuredDrains`
  * measured ones. The drain size and count are part of the workload's
  * definition (auto-compaction cost grows with table size, and drains
  * speed up as the JIT settles), so every commit runs the same sequence. */
final case class Workload(
    name: String,
    /** `--max_messages_per_batch`; None keeps the CLI default (5000) */
    maxMessagesPerBatch: Option[Long],
    /** DLQ configured (`--dlq_table_location`) */
    dlq: Boolean,
    /** malformed messages per mille (half undecodable, half bad `status`) */
    malformedPerMille: Int,
    /** messages in the backlog of one measured drain */
    backlog: Long,
    /** backlog of the warm-up drain, run first on its own table */
    warmupBacklog: Long,
    measuredDrains: Int = 2) {

  /** The exact `ingest` argument list (IngestCli.parse), less the two
    * positionals. */
  def cliOverrides(dlqPath: String): Seq[String] =
    maxMessagesPerBatch.toSeq.flatMap(n => Seq("--max_messages_per_batch", n.toString)) ++
      Seq("--ends_at_latest_offsets") ++
      (if (dlq) Seq("--dlq_table_location", dlqPath) else Nil)

  def cliArgs(topic: String, table: String, dlqPath: String): Seq[String] =
    Seq("ingest", topic, table) ++ cliOverrides(dlqPath) ++
      Fixture.Transforms.flatMap(t => Seq("--transform", t))
}

object Workloads {
  val all: Seq[Workload] = Seq(
    // reference envelope: CLI defaults, 1% malformed into a Delta DLQ
    Workload("backlog_5k", maxMessagesPerBatch = None, dlq = true,
      malformedPerMille = 10, backlog = 25000L, warmupBacklog = 15000L),
    // restart after an outage: 100k per batch, no DLQ, nothing malformed
    Workload("catchup_100k", maxMessagesPerBatch = Some(100000L), dlq = false,
      malformedPerMille = 0, backlog = 200000L, warmupBacklog = 50000L))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (one of ${all.map(_.name).mkString(", ")})"))
}
