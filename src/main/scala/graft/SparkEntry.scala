package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Types.Rates
import graft.etl.{Billing, Enrich, InvoiceSink}
import graft.queries.{CoreOracles, CoreQueries, PipelineOracles, PipelineQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the complete reference pipeline (EP1-EP3 of SURVEY.md §3)
    * over sf0.001, with the events table adapted into a nova-shaped action
    * log and a synthetic instances dimension derived from its users.
    * Exercises enrichment (R2/R3/F1-F3) → state machine (K1/K2) →
    * aggregation (A1-A3) → invoice rows (R7/F9/F10/S6 shape).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.etl.Ingest.table(spark, dir, "events")

    // events → instance_actions: signup creates, click starts, purchase
    // stops, view shelves; error rides the message=="Error" path. event_id
    // plays instance_actions.id, the tiebreak for same-second events.
    val actions = ev.select(
      col("event_id").as("id"),
      concat(lit("vm-"), col("user_id")).as("instance_uuid"),
      col("ts").as("created_at"),
      when(col("event_type") === "signup", "create")
        .when(col("event_type") === "click", "start")
        .when(col("event_type") === "purchase", "stop")
        .when(col("event_type") === "view", "shelve")
        .otherwise(col("event_type")).as("action"),
      when(col("event_type") === "error", "Error").otherwise("").as("message"))

    // synthetic instances dimension: one VM per user; every 5th is a
    // 2×V100 GPU flavor via a pci_requests payload (F2/F3 path).
    val instances = ev.select(col("user_id")).distinct().select(
      concat(lit("vm-"), col("user_id")).as("uuid"),
      concat(lit("host-"), col("user_id")).as("hostname"),
      lit(1L).as("instance_type_id"),
      (pmod(col("user_id"), lit(8)) * 2048 + 2048).as("memory_mb"),
      (pmod(col("user_id"), lit(4)) + 1).cast("int").as("vcpus"),
      lit(null).cast("timestamp").as("deleted_at"),
      lit(0).as("deleted"),
      concat(lit("proj-"), pmod(col("user_id"), lit(3))).as("project_id"),
      col("user_id"))
    val extra = instances
      .filter(pmod(col("user_id"), lit(5)) === 0)
      .select(col("uuid").as("instance_uuid"),
        lit("""[{"count": "2", "alias_name": "V100"}]""").as("pci_requests"))

    val rates = Rates(
      cpu = BigDecimal("0.013"), gpuA100 = BigDecimal("1.803"),
      gpuA100sxm4 = BigDecimal("2.078"), gpuV100 = BigDecimal("1.214"),
      gpuA2 = BigDecimal("0.463"), gpuK80 = BigDecimal("0.463"),
      includeStoppedRuntime = false)

    val enriched = Enrich.enrichInstances(
      instances.drop("user_id"), extra, CoreQueries.WStart)
    val su = Billing.instanceSuHours(
      actions, enriched, rates, CoreQueries.WStart, CoreQueries.WEnd,
      CoreQueries.Outages)
    val invoices = Billing.projectInvoices(su, rates)
    InvoiceSink.csvRows(invoices, "2024-01",
      "2024-01-05T00:00:00+00:00", "2024-01-25T00:00:00+00:00",
      java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")))
  }

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * LLM-data-pipeline operators (dedup, similarity, text analysis,
    * sessionization, multimodal plumbing). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreOracles.oracleSql ++ PipelineOracles.oracleSql
}
