package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Types.Rates
import graft.sql.RuntimeSql

/** The billing computation (EP3 of SURVEY.md §3,
  * /root/reference/src/openstack_billing_db/billing.py:116-156) as one
  * declarative plan:
  *
  *   events ─ stateRuns (1 shuffle on instance) ─ runtimeExcluding
  *     ⋈ enriched instances (broadcast-friendly dims)
  *     → A3 conditional stopped time → F11 invariant → F10 ceil-hours
  *     → A1 groupBy(project, su_type).sum → A2 cost via rates dim join.
  *
  * The reference looped per project × instance × outage in Python; here the
  * whole month at 100 TB is two shuffles (events→runs, project aggregate).
  */
object Billing {

  /** Per-instance billable runtime. Input `events` nova-shaped:
    * (id, instance_uuid, created_at TIMESTAMP, action, message);
    * `instances` output of [[Enrich.enrichInstances]].
    *
    * @return one row per instance with positive billable hours:
    *         project_id, su_type, service_units, runtime_hours, su_hours
    */
  def instanceSuHours(
      events: DataFrame,
      instances: DataFrame,
      rates: Rates,
      startUs: Long,
      endUs: Long,
      outages: Seq[(Long, Long)] = Seq.empty
  ): DataFrame = {
    // model.py:215 orders by created_at only; sqlite's stable sort makes
    // the SOURCE ROW ORDER the tiebreak for equal timestamps. Nova's
    // instance_actions.id is that order on every input path. Any order
    // taken from the physical layout would flip equal-timestamp events
    // (and the invoice) whenever file splits or AQE coalescing change.
    require(events.columns.contains("id"),
      "events has no `id` column (nova instance_actions.id), which breaks " +
        "ties between same-second events; columns: " + events.columns.mkString(", "))
    val shaped = events.select(
      col("instance_uuid").as("key"),
      unix_micros(col("created_at")).as("ts_us"),
      col("id").cast("long").as("tie"),
      RuntimeSql.mapState(col("action"), col("message")).as("state"))

    val deleted = instances
      .filter(col("deleted_at").isNotNull)
      .select(col("uuid").as("key"), unix_micros(col("deleted_at")).as("deleted_at_us"))

    val runs = RuntimeSql.stateRuns(shaped, Some(deleted))
    val runtime = RuntimeSql.runtimeExcluding(runs, startUs, endUs, outages)

    val windowSeconds = (endUs - startUs) / 1000000L
    val runtimeSeconds =
      if (rates.includeStoppedRuntime) // A3, billing.py:142-144
        (col("running_us") + col("stopped_us")) / lit(1000000L)
      else col("running_us") / lit(1000000L)

    instances
      .join(runtime, instances("uuid") === runtime("key"), "inner")
      .withColumn("runtime_seconds", runtimeSeconds)
      // F11 — assert runtime ≤ window length (billing.py:146)
      .withColumn("runtime_seconds",
        when(col("runtime_seconds") <= windowSeconds, col("runtime_seconds"))
          .otherwise(raise_error(concat(
            lit("runtime exceeds window for instance "), col("uuid")))))
      // F10 — partial hours round UP per instance (billing.py:147)
      .withColumn("runtime_hours", ceil(col("runtime_seconds") / 3600.0))
      .filter(col("runtime_hours") > 0) // billing.py:149
      .select(
        col("project_id"), col("uuid"), col("su_type"), col("service_units"),
        col("runtime_hours"),
        (col("runtime_hours") * col("service_units")).as("su_hours"))
  }

  /** The 6-row rates dimension. rate_display preserves the CLI-provided
    * scale exactly like the reference's str(Decimal) (billing.py:213
    * writes the Decimal raw); the decimal `rate` column is for math only.
    */
  private def ratesDim(spark: org.apache.spark.sql.SparkSession, rates: Rates): DataFrame = {
    import spark.implicits._
    graft.core.Types.SuTypes
      .map(t => (t, rates.rateFor(t), rates.rateFor(t).toString, rates.suNameFor(t)))
      .toDF("su_type", "rate", "rate_display", "su_name")
      .withColumn("rate", col("rate").cast("decimal(38,6)"))
  }

  /** A1 — su-hours per (project, su_type); A2 — cost = rate × hours, kept
    * at full Decimal precision (rounding only at the sink, billing.py:202).
    */
  def projectInvoices(suHours: DataFrame, rates: Rates): DataFrame = {
    val spark = suHours.sparkSession
    import spark.implicits._
    val ratesDim = Billing.ratesDim(spark, rates)

    suHours
      .groupBy(col("project_id"), col("su_type"))
      .agg(sum(col("su_hours")).as("su_hours"))
      .join(broadcast(ratesDim), Seq("su_type"))
      .withColumn("cost", (col("rate") * col("su_hours")).cast("decimal(38,6)"))
      .select("project_id", "su_type", "su_name", "su_hours", "rate", "rate_display", "cost")
  }
}
