package graft.registry

import scala.collection.immutable.ListMap

import org.apache.spark.sql.types._

/** Typed schemas for the aircraft-registry table set — the Spark
  * equivalent of the reference's Arrow schemas
  * (hangarbay/schemas.py:14-94). Used with permissive casts so
  * malformed inputs coerce to NULL (pandas errors="coerce" parity).
  */
object Schemas {

  val aircraft: StructType = StructType(Seq(
    StructField("n_number", StringType),
    StructField("serial_no", StringType),
    StructField("mfr_mdl_code", StringType),
    StructField("engine_code", StringType),
    StructField("year_mfr", IntegerType),
    StructField("airworthiness_class", StringType),
    StructField("seats", IntegerType),
    StructField("engines", IntegerType),
    StructField("reg_status", StringType),
    StructField("status_date", DateType),
    StructField("reg_expiration", DateType),
    StructField("mode_s_code", StringType),
    StructField("mode_s_code_hex", StringType),
    StructField("is_deregistered", BooleanType)))

  val registrations: StructType = StructType(Seq(
    StructField("n_number", StringType),
    StructField("reg_type", StringType),
    StructField("reg_status", StringType),
    StructField("status_date", DateType),
    StructField("reg_expiration", DateType),
    StructField("cert_issue_date", DateType)))

  val owners: StructType = StructType(Seq(
    StructField("owner_id", LongType),
    StructField("n_number", StringType),
    StructField("owner_type", StringType),
    StructField("owner_name_raw", StringType),
    StructField("address1_raw", StringType),
    StructField("address2_raw", StringType),
    StructField("city_raw", StringType),
    StructField("state_raw", StringType),
    StructField("zip_raw", StringType),
    StructField("owner_name_std", StringType),
    StructField("address_all_std", StringType),
    StructField("city_std", StringType),
    StructField("state_std", StringType),
    StructField("zip5", StringType)))

  val aircraftMakeModel: StructType = StructType(Seq(
    StructField("mfr_mdl_code", StringType),
    StructField("maker", StringType),
    StructField("model", StringType),
    StructField("category", StringType),
    StructField("type", StringType),
    StructField("engine_type", StringType),
    StructField("seats_default", IntegerType)))

  val engines: StructType = StructType(Seq(
    StructField("engine_code", StringType),
    StructField("manufacturer", StringType),
    StructField("model", StringType),
    StructField("type", StringType),
    StructField("horsepower", IntegerType),
    StructField("cylinders", IntegerType)))

  /** The registry's base tables and their declared schemas, in
    * publish order — the one list of table names
    * ([[Registry.tableNames]] is its key set). Normalize writes exactly
    * these schemas ([[RegistryNormalize.castTo]]), so [[Registry]]
    * reads each table with its entry here instead of inferring it
    * from the parquet footers. */
  val byTable: ListMap[String, StructType] = ListMap(
    "aircraft" -> aircraft,
    "registrations" -> registrations,
    "owners" -> owners,
    "aircraft_make_model" -> aircraftMakeModel,
    "engines" -> engines)

  /** Stable provenance hash of a schema (hangarbay/schemas.py:7
    * schema_hash parity): SHA-256 over a canonical per-field
    * rendering (name:type:nullable joined in declaration order),
    * truncated to 32 hex chars like the reference's blake2b-16.
    * Deterministic across JVMs — field order matters (a reordered
    * schema IS a different physical contract), metadata does not. */
  def schemaHash(schema: StructType): String = {
    val canonical = schema.fields
      .map(f => s"${f.name}:${f.dataType.sql}:${f.nullable}")
      .mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString
  }

  /** Every named table schema with its provenance hash
    * (schemas.py:109 get_all_schema_hashes parity) — the map a
    * publish manifest records so a reader can detect schema drift
    * without comparing full schemas. */
  def allSchemaHashes: Map[String, String] =
    byTable.map { case (t, s) => t -> schemaHash(s) }

  /** FAA code → description lookups (public FAA registry codebook,
    * as inlined by the reference at pipelines/publish.py:75-149). */
  val statusCodes: Seq[(String, String)] = Seq(
    "V" -> "Valid",
    "M" -> "Valid - Manufacturer/Dealer",
    "T" -> "Valid - Trainee",
    "R" -> "Registration Pending",
    "N" -> "Non-Citizen Corp (flight hours not reported)",
    "E" -> "Revoked by Enforcement",
    "W" -> "Invalid/Ineffective",
    "D" -> "Expired Dealer",
    "A" -> "Triennial Form Mailed",
    "S" -> "Second Triennial Form Mailed",
    "X" -> "Enforcement Letter",
    "Z" -> "Permanent Reserved",
    "1" -> "Triennial Form Undeliverable",
    "2" -> "N-Number Assigned - Not Yet Registered",
    "3" -> "N-Number Assigned (Non Type Certificated) - Not Yet Registered",
    "4" -> "N-Number Assigned (Import) - Not Yet Registered",
    "5" -> "Reserved N-Number",
    "6" -> "Administratively Canceled",
    "7" -> "Sale Reported",
    "8" -> "Second Triennial Mailed - No Response",
    "9" -> "Registration Revoked",
    "10" -> "N-Number Assigned - Pending Cancellation",
    "11" -> "N-Number Assigned (Amateur) - Pending Cancellation",
    "12" -> "N-Number Assigned (Import) - Pending Cancellation",
    "13" -> "Registration Expired",
    "14" -> "First Notice for Re-Registration",
    "15" -> "Second Notice for Re-Registration",
    "16" -> "Registration Expired - Pending Cancellation",
    "17" -> "Sale Reported - Pending Cancellation",
    "18" -> "Sale Reported - Canceled",
    "19" -> "Registration Pending - Pending Cancellation",
    "20" -> "Registration Pending - Canceled",
    "21" -> "Revoked - Pending Cancellation",
    "22" -> "Revoked - Canceled",
    "23" -> "Expired Dealer - Pending Cancellation",
    "24" -> "Third Notice for Re-Registration",
    "25" -> "First Notice for Registration Renewal",
    "26" -> "Second Notice for Registration Renewal",
    "27" -> "Registration Expired",
    "28" -> "Third Notice for Registration Renewal",
    "29" -> "Registration Expired - Pending Cancellation")

  val airworthinessClasses: Seq[(String, String)] = Seq(
    "1" -> "Standard", "2" -> "Limited", "3" -> "Restricted",
    "4" -> "Experimental", "5" -> "Provisional", "6" -> "Multiple",
    "7" -> "Primary", "8" -> "Special Flight Permit", "9" -> "Light Sport")

  val ownerTypes: Seq[(String, String)] = Seq(
    "1" -> "Individual", "2" -> "Partnership", "3" -> "Corporation",
    "4" -> "Co-Owned", "5" -> "Government", "7" -> "LLC",
    "8" -> "Non-Citizen Corporation", "9" -> "Non-Citizen Co-Owned")
}
