package graft.fhir

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.CoreOps

/** T7–T13: the per-patient "rawstat" materialized pre-aggregate
  * (reference bundle.go:66-125, models.go:5-32) — demographics +
  * location dim lookup + condition/disease dim lookup + dedup, one row per
  * bundle. Persisted once at ingest so the three fact rollups never
  * rescan raw resources (the reference's central design decision,
  * README.md:89-91).
  *
  * Scale shape: as in the reference's per-bundle worker, each row is
  * built from its bundle alone. One expression ([[RawstatRow]]) walks
  * `entry` once and looks the codes and the city up in the two dims, held
  * as hash maps ([[Dims]]), so the write is one whole-stage-codegen stage
  * over the bundles: no shuffle and no join.
  */
object RawStats {

  /** The typed view of the rawstat table (SURVEY §1.3: `Dataset[T]` where
    * a case class models the row — compile-time field checks for the stat
    * path while bundles/resources stay schema-dynamic DataFrames).
    */
  def typed(rawstat: DataFrame): org.apache.spark.sql.Dataset[Schemas.RawStat] = {
    val spark = rawstat.sparkSession
    import spark.implicits._
    rawstat.as[Schemas.RawStat]
  }

  /** S3 dim load: cousub city→FIPS with the `' Town'` suffix strip
    * (main.go:139-145). Expects (cs_name, ct_fips, cs_fips).
    */
  def loadCousubDim(raw: DataFrame): DataFrame =
    raw.select(
      CoreOps.stripSuffix(col("cs_name"), " Town").as("cs_name"),
      col("ct_fips"), col("cs_fips"))

  /** S4 dim load: condition/disease codes with the NULL→-999 sentinel
    * (main.go:173-175). Expects (code_system, code, condition_id,
    * disease_id).
    */
  def loadDiseaseDim(raw: DataFrame): DataFrame =
    raw.select(
      col("code_system"), col("code"), col("condition_id"),
      CoreOps.sentinel(col("disease_id"), -999).as("disease_id"))

  /** T9+T11: the cousub and disease dims as hash maps, the reference's
    * in-memory Go maps (main.go:137-202): city → (ct_fips, cs_fips) and
    * (system, code) → (condition_id, disease_id). Collected on the driver
    * and broadcast once per [[build]].
    *
    * Memory bound: at most [[Dims.MaxRows]] (100,000) rows per dim. At
    * that size each map holds about 25 MB on the driver and on each
    * executor (RawStatsSpec measures it). A larger dim fails with an
    * error naming it and its row count; there is no fallback to a join.
    *
    * One value per key: a key listed twice with different values fails
    * with an error naming the dim, the key and both values (a join
    * would emit one row per match and count the patient twice). A key
    * listed twice with the same value is kept once. Null keys never
    * match, as in the join; null values become the zero values `""` and
    * `0`, as a matched join row's nulls did.
    */
  final class Dims private (
      cities: java.util.HashMap[UTF8String, Array[UTF8String]],
      codes: java.util.HashMap[(UTF8String, UTF8String), Array[Int]])
      extends Serializable {
    def city(name: UTF8String): Array[UTF8String] = cities.get(name)
    def code(system: UTF8String, code: UTF8String): Array[Int] =
      codes.get((system, code))
  }

  object Dims {
    val MaxRows = 100000

    /** Collects `cousubDim` (cs_name, ct_fips, cs_fips) and `diseaseDim`
      * (code_system, code, condition_id, disease_id) into maps; one job
      * per dim read from storage, none for an in-memory dim.
      */
    def collect(cousubDim: DataFrame, diseaseDim: DataFrame): Dims = {
      val cities = new java.util.HashMap[UTF8String, Array[UTF8String]]()
      for (r <- rows("cousub", cousubDim.select(col("cs_name").cast("string"),
          coalesce(col("ct_fips").cast("string"), lit("")),
          coalesce(col("cs_fips").cast("string"), lit("")))) if !r.isNullAt(0))
        put("cousub", cities, UTF8String.fromString(r.getString(0)),
          Array(r.getString(1), r.getString(2)).map(UTF8String.fromString))(
          r.getString(0))
      val codes = new java.util.HashMap[(UTF8String, UTF8String), Array[Int]]()
      for (r <- rows("disease", diseaseDim.select(
          col("code_system").cast("string"), col("code").cast("string"),
          coalesce(col("condition_id").cast("int"), lit(0)),
          coalesce(col("disease_id").cast("int"), lit(0))))
          if !r.isNullAt(0) && !r.isNullAt(1))
        put("disease", codes,
          (UTF8String.fromString(r.getString(0)), UTF8String.fromString(r.getString(1))),
          Array(r.getInt(2), r.getInt(3)))(s"(${r.getString(0)}, ${r.getString(1)})")
      new Dims(cities, codes)
    }

    private def rows(name: String, dim: DataFrame) = {
      val got = dim.limit(MaxRows + 1).collect()
      if (got.length > MaxRows)
        throw new IllegalArgumentException(
          s"rawstat: the $name dim has ${dim.count()} rows, more than the " +
            s"$MaxRows its in-memory lookup map holds")
      got
    }

    private def put[K, V](name: String, map: java.util.HashMap[K, Array[V]],
        key: K, value: Array[V])(shownKey: => String): Unit = {
      val old = map.putIfAbsent(key, value)
      if (old != null && !java.util.Objects.deepEquals(old, value))
        throw new IllegalArgumentException(
          s"rawstat: the $name dim maps $shownKey to both " +
            s"(${old.mkString(", ")}) and (${value.mkString(", ")}); " +
            "a lookup needs one value per key")
    }
  }

  /** T7–T13: the rawstat table (FIXTURES.md §3), one row per bundle.
    * Collects the dims first; see [[Dims]].
    */
  def build(
      bundles: DataFrame,
      cousubDim: DataFrame,
      diseaseDim: DataFrame,
      asOf: Column): DataFrame =
    build(bundles, Dims.collect(cousubDim, diseaseDim), asOf)

  /** The rawstat table over dims already collected. Patient ids must be
    * unique per bundle, as [[BundleIngest.rewriteBundle]] makes them.
    *
    * One task per `spark.sql.files.maxPartitionBytes` of bundles: at
    * scale that is the scan's own split size, and below it the splits
    * merge into one task without a shuffle. Each write task costs a file
    * and a parquet writer, and each file a task in every fact job.
    */
  def build(bundles: DataFrame, dims: Dims, asOf: Column): DataFrame = {
    val spark = bundles.sparkSession
    val tasks = bundles.queryExecution.optimizedPlan.stats.sizeInBytes /
      spark.sessionState.conf.filesMaxPartitionBytes + 1
    val r = col("r")
    bundles
      .select(ColumnBridge.column(RawstatRow(ColumnBridge.expression(col("entry")),
        spark.sparkContext.broadcast(dims))).as("r"))
      .select(
        r("patientid").as("patientid"), r("location").as("location"),
        r("gender").as("gender"),
        lit(1).as("agerange"), // hard-coded in the reference (bundle.go:90)
        CoreOps.ageYears(r("birthDate"), asOf).as("age"),
        r("deceasedboolean").as("deceasedboolean"),
        r("conditions").as("conditions"),
        r("uniqueconditions").as("uniqueconditions"),
        r("uniquediseases").as("uniquediseases"))
      .coalesce(tasks.min(Int.MaxValue).toInt)
  }
}

/** One bundle's rawstat row, less `agerange` and `age` (whose birth date it
  * carries), from its `entry` array:
  *
  *  - **patient** (T7, T8, T10): the first entry whose resource is a
  *    Patient gives `patientid`, `gender`, `birthDate`, the first
  *    address's city and postal code, and `deceasedboolean` (true when
  *    `deceasedDateTime` is set, else `deceasedBoolean` as-is: null means
  *    no information, bundle.go:91 + db.go:94-98). With no Patient these
  *    are null.
  *  - **location** (T9): the city's (ct_fips, cs_fips), `""` on a miss
  *    (bundle.go:94-95).
  *  - **conditions** (T11, T12): each Condition's first coding, in entry
  *    order, with its (condition_id, disease_id), `{0,0}` on a miss
  *    (bundle.go:104-105). A Condition without a coding keeps a null
  *    system and code. Empty when the patient id is null.
  *  - **uniqueconditions**, **uniquediseases** (T13): the ids, distinct
  *    and ascending (the reference's order is Go-map-random, SURVEY
  *    §7.4-3).
  *
  * The generated code calls [[row]] on this expression; it holds no
  * per-row state, so tasks may share it.
  */
case class RawstatRow(entry: Expression, dims: Broadcast[RawStats.Dims])
    extends UnaryExpression {
  import RawstatRow._

  override def child: Expression = entry
  override def dataType: DataType = Type
  override def nullable: Boolean = false
  override def prettyName: String = "rawstat_row"

  override def checkInputDataTypes(): TypeCheckResult =
    if (entry.dataType == ArrayType(Schemas.entry)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rawstat_row needs the declared entry type, got ${entry.dataType.simpleString}")

  @transient private lazy val lookup = dims.value

  override def eval(input: InternalRow): Any =
    row(entry.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rawstatRow", this, classOf[RawstatRow].getName)
    val e = entry.genCode(ctx)
    ev.copy(code = code"""
      ${e.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $self.row(${e.isNull} ? null : ${e.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RawstatRow =
    copy(entry = newChild)

  def row(entries: ArrayData): InternalRow = {
    var patient: InternalRow = null
    var conds: List[InternalRow] = Nil
    val n = if (entries == null) 0 else entries.numElements()
    var i = 0
    while (i < n) {
      if (!entries.isNullAt(i)) {
        val e = entries.getStruct(i, EntryWidth)
        if (!e.isNullAt(ResourceAt)) {
          val r = e.getStruct(ResourceAt, ResourceWidth)
          val tpe = if (r.isNullAt(TypeAt)) null else r.getUTF8String(TypeAt)
          if (Patient == tpe) { if (patient == null) patient = r }
          else if (Condition == tpe) conds = condition(r) :: conds
        }
      }
      i += 1
    }
    val id = string(patient, IdAt)
    val address = first(patient, AddressAt, AddressWidth)
    val city = string(address, CityAt)
    val fips = if (city == null) null else lookup.city(city)
    val conditions = if (id == null) Array.empty[InternalRow] else conds.reverse.toArray
    new GenericInternalRow(Array[Any](
      id,
      new GenericInternalRow(Array[Any](
        if (fips == null) Empty else fips(0),
        if (fips == null) Empty else fips(1),
        city, string(address, PostalCodeAt))),
      string(patient, GenderAt),
      if (patient == null || patient.isNullAt(BirthDateAt)) null
      else patient.getInt(BirthDateAt),
      if (patient == null) null
      else if (!patient.isNullAt(DeceasedDateTimeAt)) true
      else if (patient.isNullAt(DeceasedBooleanAt)) null
      else patient.getBoolean(DeceasedBooleanAt),
      new GenericArrayData(conditions.asInstanceOf[Array[Any]]),
      distinctSorted(conditions, 2),
      distinctSorted(conditions, 3)))
  }

  /** (system, code, condition_id, disease_id) of one Condition resource. */
  private def condition(r: InternalRow): InternalRow = {
    val code = if (r.isNullAt(CodeAt)) null else r.getStruct(CodeAt, CodeWidth)
    val coding = first(code, CodingAt, CodingWidth)
    val system = string(coding, SystemAt)
    val value = string(coding, CodeValueAt)
    val ids = if (system == null || value == null) null else lookup.code(system, value)
    new GenericInternalRow(Array[Any](system, value,
      if (ids == null) 0 else ids(0), if (ids == null) 0 else ids(1)))
  }
}

object RawstatRow {
  /** The rawstat columns (types and nullability as the join-based build
    * produced them) with `birthDate` in place of `agerange` and `age`.
    */
  val Type: StructType = StructType.fromDDL(
    "patientid STRING, location STRUCT<countyid_fips: STRING NOT NULL, " +
      "subcountyid_fips: STRING NOT NULL, city: STRING, zipcode: STRING> NOT NULL, " +
      "gender STRING, birthDate DATE, deceasedboolean BOOLEAN, conditions " +
      "ARRAY<STRUCT<system: STRING, code: STRING, conditionid: INT, diseaseid: INT>> " +
      "NOT NULL, uniqueconditions ARRAY<INT> NOT NULL, uniquediseases ARRAY<INT> NOT NULL")

  private val Patient = UTF8String.fromString("Patient")
  private val Condition = UTF8String.fromString("Condition")
  private val Empty = UTF8String.EMPTY_UTF8

  private val EntryWidth = Schemas.entry.length
  private val ResourceAt = Schemas.entry.fieldIndex("resource")
  private val ResourceWidth = Schemas.resource.length
  private val TypeAt = Schemas.resource.fieldIndex("resourceType")
  private val IdAt = Schemas.resource.fieldIndex("id")
  private val GenderAt = Schemas.resource.fieldIndex("gender")
  private val BirthDateAt = Schemas.resource.fieldIndex("birthDate")
  private val DeceasedBooleanAt = Schemas.resource.fieldIndex("deceasedBoolean")
  private val DeceasedDateTimeAt = Schemas.resource.fieldIndex("deceasedDateTime")
  private val AddressAt = Schemas.resource.fieldIndex("address")
  private val AddressWidth = Schemas.address.length
  private val CityAt = Schemas.address.fieldIndex("city")
  private val PostalCodeAt = Schemas.address.fieldIndex("postalCode")
  private val CodeAt = Schemas.resource.fieldIndex("code")
  private val CodeWidth = Schemas.codeableConcept.length
  private val CodingAt = Schemas.codeableConcept.fieldIndex("coding")
  private val CodingWidth = Schemas.coding.length
  private val SystemAt = Schemas.coding.fieldIndex("system")
  private val CodeValueAt = Schemas.coding.fieldIndex("code")

  private def string(row: InternalRow, at: Int): UTF8String =
    if (row == null || row.isNullAt(at)) null else row.getUTF8String(at)

  /** The first element of the struct array at `at`, or null. */
  private def first(row: InternalRow, at: Int, width: Int): InternalRow =
    if (row == null || row.isNullAt(at)) null
    else {
      val arr = row.getArray(at)
      if (arr.numElements() == 0 || arr.isNullAt(0)) null
      else arr.getStruct(0, width)
    }

  /** Field `at` (an int) of each condition, distinct and ascending. */
  private def distinctSorted(conditions: Array[InternalRow], at: Int): ArrayData = {
    val ids = conditions.map(_.getInt(at)).distinct
    java.util.Arrays.sort(ids)
    new GenericArrayData(ids)
  }
}
