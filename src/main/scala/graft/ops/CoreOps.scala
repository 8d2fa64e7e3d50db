package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

/** The reusable operator library: every relational/scalar operation the
  * reference performs (SURVEY.md §2), re-expressed as composable Spark
  * `Column`/`DataFrame` functions — pure `functions._` compositions, no
  * UDFs. All but two stay inside whole-stage codegen: [[distinctSorted]]
  * (`array_sort`) and [[zorderKey]] (`aggregate`) are higher-order
  * functions, which are `CodegenFallback` and take their operator out of
  * whole-stage codegen.
  */
object CoreOps {

  /** A1 (reference db.go:94-98): "living" tri-state filter. The reference
    * stores deceased as absent-or-false-or-true (`omitempty`, models.go:11)
    * and matches `$exists:false OR == false`. We model "absent" as NULL, so
    * the exact equivalent is coalesce-to-false. One wrong `=== false` on a
    * NULL would silently drop rows — hence a named op.
    */
  def absentOrFalse(c: Column): Column = coalesce(c, lit(false)) === lit(false)

  /** A3 (db.go:105-114): conditional one-hot derive, `$cond[$eq(g,v),1,0]`.
    * Composed under `sum(...)` Catalyst rewrites it into a partial-agg
    * friendly form (map-side combine — no raw rows cross the shuffle).
    */
  def oneHot(c: Column, value: String): Column =
    when(c === lit(value), lit(1)).otherwise(lit(0))

  /** S3/F1 (main.go:140-142): conditional suffix strip — the cousub dim
    * loader's `' Town'` rewrite. `"Foo Town"→"Foo"`, `"Townsville"` kept.
    */
  def stripSuffix(c: Column, suffix: String): Column =
    when(c.endsWith(suffix), c.substr(lit(1), length(c) - lit(suffix.length)))
      .otherwise(c)

  /** S4 (main.go:174): `coalesce(x, sentinel)` dim-load default. Also covers
    * the zero-value→sentinel interplay (bundle.go:104-105 + db.go:192).
    */
  def sentinel(c: Column, default: Int): Column = coalesce(c, lit(default))

  /** T13 (bundle.go:24-51): array dedup with set semantics. The reference's
    * output order is nondeterministic (Go map iteration); we canonicalize by
    * sorting so results are comparable. Runs per-row — no shuffle — but
    * `array_sort` is `CodegenFallback`.
    */
  def distinctSorted(c: Column): Column = array_sort(array_distinct(c))

  /** T8 (bundle.go:54-60): whole-year age at a fixed `asOf` date. The Go
    * loop finds the largest i with asOf - i years > birth, i.e. year
    * difference minus one if the birthday hasn't happened yet. Expressed in
    * calendar arithmetic (no loop, codegen'd) with identical semantics for
    * all real dates; `asOf` is an injected parameter for determinism
    * (SURVEY §7.4-3).
    */
  def ageYears(birth: Column, asOf: Column): Column = {
    val notYet = (month(asOf) < month(birth)) ||
      (month(asOf) === month(birth) && dayofmonth(asOf) < dayofmonth(birth))
    (year(asOf) - year(birth) - when(notYet, 1).otherwise(0)).cast(IntegerType)
  }

  /** T9/T11 (bundle.go:94-95, 104-105): broadcast dimension join. The
    * reference's in-memory hash maps are broadcast joins; missing keys yield
    * zero-values, i.e. left-outer + per-column defaults. `broadcast()` is
    * forced because at 100 TB the fact side dwarfs any dim and a shuffle
    * join here would be the single worst plan choice. Unlike a map, a dim
    * key listed twice emits one row per match; the rawstat build looks its
    * dims up in maps instead (`graft.fhir.RawStats.Dims`).
    *
    * @param defaults column name → value to use when the dim side is null
    */
  def dimJoin(
      fact: DataFrame,
      dim: DataFrame,
      joinExpr: Column,
      defaults: Map[String, Column]): DataFrame = {
    val joined = fact.join(broadcast(dim), joinExpr, "left_outer")
    defaults.foldLeft(joined) { case (df, (name, default)) =>
      df.withColumn(name, coalesce(col(name), default))
    }
  }

  /** A4+A5 (db.go:191-192, 286-287): unwind then keep-positive. Mongo's
    * `$unwind` drops rows whose array is null/empty — Spark's plain
    * `explode` (NOT `explode_outer`) matches exactly (SURVEY §7.4-5).
    */
  def explodeGt0(df: DataFrame, arrayCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, explode(col(arrayCol)))
      .filter(col(outCol) > lit(0))
      .drop(arrayCol)

  /** Z-order (Morton) interleave key of two non-negative dimensions,
    * `bits` bits each: bit b of x lands at position 2b, bit b of y at
    * 2b+1. Sorting/range-partitioning data files by this key co-locates
    * rows that are close in BOTH dimensions, so parquet min/max row-group
    * stats prune scans filtered on either column — the standard
    * data-layout lever for multi-dimensional pruning at 100 TB (a linear
    * sort key only prunes its leading column). Pure HOF expression
    * (variable-amount shifts via the SQL functions, like simhash), no
    * UDF, so `CodegenFallback`; DuckDB reproduces it bit-for-bit in the
    * q31 oracle.
    */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column = {
    def shr(c: Column, b: Column) = call_function("shiftright", c, b)
    def shl(c: Column, b: Column) = call_function("shiftleft", c, b)
    aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, b) =>
        acc + shl(shr(x.cast("long"), b) % 2, b * 2) +
          shl(shr(y.cast("long"), b) % 2, b * 2 + 1))
  }

  /** Exact decimal sum of a double money/quantity column. Summing doubles is
    * order-dependent, and Spark's partial-agg order differs run to run; at
    * 2-decimal money scale a decimal sum is exact, associative, and
    * reproducible across engines. Result cast back to double for a stable
    * external type. Used by every declared query that sums a double.
    */
  def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Two-phase salted aggregation for skewed grouping keys: counts and
    * sums are algebraic, so grouping first on (key, salt) spreads a hot
    * key over `saltBuckets` reducers, and the second (tiny) aggregation
    * merges the partials. AQE's skew handling covers joins; this is the
    * equivalent lever for aggregations whose key histogram is pathological
    * (e.g. a null/default city at 100 TB). Result identical to a direct
    * groupBy-sum.
    */
  def saltedSumCount(
      df: DataFrame,
      keys: Seq[String],
      sumCols: Seq[String],
      saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__cnt"),
        sumCols.map(c => sum(col(c)).as(s"__sum_$c")): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__cnt")).as("cnt"),
        sumCols.map(c => sum(col(s"__sum_$c")).as(s"sum_$c")): _*)
  }

  /** §3.3: the one parameterized fact rollup behind all three stat jobs
    * (CalculatePopulationFacts/DiseaseFacts/ConditionFacts, db.go:79-358).
    * match(A1) → [unwind(A4)+match(A5)] → project(A2/A3) → group(A6) →
    * shape(A7). Single shuffle (the groupBy); partial aggregation happens
    * map-side; output is tiny (|dims| × |ages|) so the sink never needs
    * more than one stage.
    *
    * @param explodeCol  array column to unwind, or None for the pop job
    * @param explodedAs  name of the unwound key column in the output
    */
  def factRollup(
      rawstat: DataFrame,
      deceasedCol: String,
      genderCol: String,
      groupKeys: Seq[String],
      explodeCol: Option[String] = None,
      explodedAs: String = "key"): DataFrame = {
    val living = rawstat.filter(absentOrFalse(col(deceasedCol)))
    val base = explodeCol match {
      case Some(arr) => explodeGt0(living, arr, explodedAs)
      case None      => living
    }
    val keys = explodeCol.map(_ => groupKeys :+ explodedAs).getOrElse(groupKeys)
    base
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("pop"),
        sum(oneHot(col(genderCol), "male")).as("pop_male"),
        sum(oneHot(col(genderCol), "female")).as("pop_female"))
  }
}
