package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cleansing operators — pure `DataFrame => DataFrame` / `Column => Column`
  * transforms reproducing the reference's load-time munge (SURVEY.md §2.3).
  * All are built-in-expression compositions (codegen'd, no UDFs), so they
  * stay inside whole-stage codegen and scale linearly with partitions.
  */
object Cleanse {

  // ---------------------------------------------------------------- names

  /** SQL-safe column-name formatting (reference
    * `utilities/utilities.py:109-115`): strip newlines and brackets, turn
    * dots into underscores. */
  def formatColName(name: String): String =
    name.replace("\n", "").replace("[", "").replace("]", "").replace(".", "_")

  /** Deterministic duplicate-name resolution (reference
    * `utilities/utilities.py:285-304`): names that collide after formatting
    * get a `_dupe` suffix (second and later occurrences, in column order). */
  def resolveColIssues(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    names.map(formatColName).map { n =>
      if (seen.add(n.toLowerCase)) n
      else {
        var candidate = n + "_dupe"
        while (!seen.add(candidate.toLowerCase)) candidate += "_dupe"
        candidate
      }
    }
  }

  /** Apply formatted + dupe-resolved names to a frame. */
  def cleanNames(df: DataFrame): DataFrame =
    df.toDF(resolveColIssues(df.columns.toSeq): _*)

  /** Drop the intentionally-lossy `_dupe` columns before load (reference
    * `lambda_function.py:173-175`). */
  def dropDupeColumns(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.contains("_dupe")).toIndexedSeq: _*)

  /** Drop data columns absent from the metadata catalog (reference
    * `lambda_function.py:150-158` — lossy by design, logged there). */
  def dropUnknownColumns(df: DataFrame, knownCols: Set[String]): DataFrame = {
    val known = knownCols.map(_.toLowerCase)
    df.drop(df.columns.filterNot(c => known.contains(c.toLowerCase)).toIndexedSeq: _*)
  }

  // ---------------------------------------------------------------- values

  private val dateRe = "^\\d{4}-\\d{2}-\\d{2}$"
  private val uuidRe =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

  /** Amount guard-cast (reference `utilities/utilities.py:591-596`): a date
    * string where an amount should be becomes 0.00, anything else is cast to
    * double (null on failure — ANSI-safe via try_cast semantics). */
  def guardAmount(c: Column): Column =
    when(c.rlike(dateRe), lit(0.0)).otherwise(c.try_cast(DoubleType))

  /** GUID validation (reference `utilities/utilities.py:570-575`): keep
    * well-formed UUIDs, replace anything else with 'N/A'. */
  def guardUuid(c: Column): Column =
    when(c.rlike(uuidRe), c).otherwise(lit("N/A"))

  /** Key=value list extraction (reference `utilities/utilities.py:585-589`):
    * from a comma-joined `k=v` list, take the value of the entry whose key
    * contains `key`. Pure built-ins: split → filter → split → element_at. */
  def kvExtract(c: Column, key: String): Column =
    try_element_at(
      split(try_element_at(filter(split(c, ","), e => e.contains(lit(key))), lit(1)), "="),
      lit(-1))

  /** CSV value sanitization (reference `utilities/utilities.py:598-607`):
    * strip double quotes and newlines from values. */
  def sanitizeCsv(c: Column): Column =
    regexp_replace(c, "[\"\n]", "")

  /** Two-phase datetime coercion (reference `lambda_function.py:124-128,
    * 160-163`): read as string, then parse with bad values → null
    * (pandas `errors='coerce'` semantics). */
  def coerceDatetime(c: Column): Column = try_to_timestamp(c)

  /** Sentinel null-fill, per dtype (reference `lambda_function.py:184-199`):
    * integers → -99, floats → -99.0, strings → '', timestamps → 1900-01-01.
    * `na.fill` does not cover timestamps, so those are coalesced explicitly. */
  def sentinelFill(df: DataFrame): DataFrame = {
    val sentinelTs = lit("1900-01-01 00:00:00").cast(TimestampType)
    val filled = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case TimestampType =>
          acc.withColumn(f.name, coalesce(col(f.name), sentinelTs))
        case _ => acc
      }
    }
    val numCols = df.schema.fields.collect {
      case StructField(n, _: IntegerType | _: LongType | _: ShortType, _, _) => n
    }.toSeq
    val dblCols = df.schema.fields.collect {
      case StructField(n, _: DoubleType | _: FloatType, _, _) => n
    }.toSeq
    val strCols = df.schema.fields.collect {
      case StructField(n, StringType, _, _) => n
    }.toSeq
    filled
      .na.fill(-99L, numCols)
      .na.fill(-99.0, dblCols)
      .na.fill("", strCols)
  }
}
