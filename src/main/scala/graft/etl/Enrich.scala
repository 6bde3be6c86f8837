package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Instance enrichment: the R2 join, R3 liveness filter, and the F1-F3
  * scalar expressions of SURVEY.md §2 — all pure `Column` expressions so
  * they stay inside whole-stage codegen (no UDFs).
  */
object Enrich {

  /** pci_requests JSON payload (documented at
    * /root/reference/src/openstack_billing_db/model.py:258-273). `count`
    * arrives as a JSON string ("2") and is cast to int downstream
    * (model.py:206); declaring StringType also tolerates numeric JSON.
    */
  val PciRequestsSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("count", StringType),
    StructField("alias_name", StringType),
    StructField("numa_policy", StringType),
    StructField("request_id", StringType))))

  /** R2 — `instances LEFT JOIN instance_extra` (model.py:229-244). The
    * extra table is a dimension: broadcast it so a 100 TB instances scan
    * never shuffles for this join.
    */
  def joinInstanceExtra(instances: DataFrame, instanceExtra: DataFrame): DataFrame =
    instances.join(
      broadcast(instanceExtra.select(
        col("instance_uuid"), col("pci_requests"))),
      instances("uuid") === instanceExtra("instance_uuid"),
      "left")
      .drop("instance_uuid")

  /** R3 — keep live instances plus those deleted after the window start
    * (model.py:240-243): `deleted_at > start OR deleted = 0`.
    */
  def liveInstances(startUs: Long): Column =
    unix_micros(col("deleted_at")) > startUs || col("deleted") === 0

  /** F2 — null-safe JSON parse of pci_requests: null/garbage yields null,
    * matching the reference's warn-and-continue TypeError branch
    * (model.py:247-255).
    */
  def parsedPci(pciRequests: Column): Column =
    from_json(pciRequests, PciRequestsSchema)

  /** F3 — GPU flavor extraction (model.py:197-209). Violations (more than
    * one pci entry, alias not in the accepted set) fail the job via
    * `raise_error`, matching the reference's `raise`.
    */
  def gpuSuType(pci: Column): Column = {
    val alias = lower(element_at(pci, 1).getField("alias_name"))
    when(pci.isNull || size(pci) === 0, lit("cpu"))
      .when(size(pci) > 1,
        raise_error(lit("pci_requests with more than one entry")))
      .when(alias.isin(graft.core.Types.ValidGpuAliases.toSeq: _*),
        concat(lit("gpu_"), regexp_replace(alias, "-", "")))
      .otherwise(raise_error(concat(lit("Invalid pci_name "), alias, lit("."))))
  }

  /** Strict mode: a non-numeric `count` fails the job like the
    * reference's int() raise (model.py:206). Spark 4's ANSI-mode cast
    * throws CAST_INVALID_INPUT on malformed input, which is exactly the
    * strict contract — do NOT replace with try_cast here.
    */
  def gpuCount(pci: Column): Column =
    when(pci.isNull || size(pci) === 0, lit(0))
      .otherwise(element_at(pci, 1).getField("count").cast("int"))

  /** Lenient mode: try_cast yields null for unparsable counts (caller
    * quarantines) instead of the ANSI cast's job-killing throw.
    */
  def gpuCountLenient(pci: Column): Column =
    when(pci.isNull || size(pci) === 0, lit(0))
      .otherwise(element_at(pci, 1).getField("count").try_cast("int"))

  /** F1 — the service-unit formula (model.py:38-46):
    * `gpu_count or int(max(vcpus, memory/4096))`. Python `or` means a zero
    * gpu_count falls through; `int()` truncates (floor for positives).
    */
  def serviceUnits(gpuCount: Column, vcpus: Column, memoryMb: Column): Column =
    when(gpuCount =!= 0, gpuCount.cast("long"))
      .otherwise(floor(greatest(vcpus.cast("double"), memoryMb / 4096.0)))

  /** F3 without the job-killing `raise_error`: classify instead. Rows
    * whose pci_requests violate the contract (multiple entries, unknown
    * alias) get `su_type = null` plus a reason — callers split them into
    * a quarantine output. At 100 TB one malformed row must not kill the
    * job; the reference's `raise` (model.py:197-209) is preserved in
    * [[gpuSuType]] for strict mode.
    */
  def gpuSuTypeLenient(pci: Column): Column = {
    val alias = lower(element_at(pci, 1).getField("alias_name"))
    when(pci.isNull || size(pci) === 0, lit("cpu"))
      .when(size(pci) > 1, lit(null).cast("string"))
      .when(alias.isin(graft.core.Types.ValidGpuAliases.toSeq: _*),
        concat(lit("gpu_"), regexp_replace(alias, "-", "")))
      .otherwise(lit(null).cast("string"))
  }

  def quarantineReason(pci: Column): Column =
    when(size(pci) > 1, "multiple pci_requests entries")
      .when(pci.isNotNull && size(pci) === 1 &&
        !lower(element_at(pci, 1).getField("alias_name"))
          .isin(graft.core.Types.ValidGpuAliases.toSeq: _*),
        concat(lit("invalid pci alias "),
          lower(element_at(pci, 1).getField("alias_name"))))
      .when(pci.isNotNull && size(pci) === 1 &&
        element_at(pci, 1).getField("count").try_cast("int").isNull,
        concat(lit("invalid pci count "), element_at(pci, 1).getField("count")))

  /** Full enrichment: R2 + R3 + F2 + F3 + F1 in one projection. Input:
    * nova-shaped `instances` (uuid, hostname, instance_type_id, memory_mb,
    * vcpus, deleted_at, deleted, project_id) and `instance_extra`
    * (instance_uuid, pci_requests).
    */
  def enrichInstances(
      instances: DataFrame,
      instanceExtra: DataFrame,
      startUs: Long
  ): DataFrame = {
    val joined = joinInstanceExtra(
      instances.filter(liveInstances(startUs)), instanceExtra)
    val pci = parsedPci(col("pci_requests"))
    joined
      .withColumn("pci", pci)
      .withColumn("su_type", gpuSuType(col("pci")))
      .withColumn("gpu_count", gpuCount(col("pci")))
      .withColumn("service_units",
        serviceUnits(col("gpu_count"), col("vcpus"), col("memory_mb")))
      .drop("pci", "pci_requests")
  }
}
