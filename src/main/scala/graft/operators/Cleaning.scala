package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cleaning / normalization operators (SURVEY.md §2.2 P1-P12).
  *
  * Each transform is a pure `DataFrame => DataFrame`, composable with
  * `df.transform(...)`. All of them stay inside Catalyst (casts, trim,
  * coalesce) so they whole-stage-codegen and push through shuffles — the
  * reference does the same work with eager pandas passes
  * (pac_snowflake_pipeline.py:71-121).
  */
object Cleaning {

  /** P1: lowercase all column names (pac_data_processor.py:30). */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  /** P2: strict normalization — strip, lowercase, spaces→underscores
    * (pac_snowflake_realtime.py:78). */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.trim.toLowerCase.replaceAll("\\s+", "_")): _*)

  /** P3: trim every string column (pac_snowflake_pipeline.py:84-86 trims all
    * object columns; pac_data_processor.py:36-39 trims named ones). */
  def trimStrings(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case StructField(n, StringType, _, _) => trim(col(n)).as(n)
      case StructField(n, _, _, _)          => col(n)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** P4: numeric coercion, pandas `to_numeric(errors='coerce')` ≡ null on
    * malformed input (pac_data_processor.py:33). `try_cast`, not `cast`:
    * under ANSI mode (Spark 4 default) a plain cast THROWS on bad input. */
  def toNumeric(c: Column): Column = c.try_cast(DoubleType)

  /** P4 variant: coerce + fill 0 (pac_snowflake_pipeline.py:95). */
  def toNumericFill0(c: Column): Column = coalesce(c.try_cast(DoubleType), lit(0.0))

  /** P6: datetime coercion, `pd.to_datetime(errors='coerce')`
    * (pac_snowflake_pipeline.py:108-113); null on unparseable input. */
  def toDatetime(c: Column): Column = try_to_timestamp(c)

  /** P5: name-pattern type inference (pac_snowflake_pipeline.py:88-113).
    * Columns whose (lowercased) name contains `amount`/`value`/`price` become
    * money doubles filled with 0; `id`/`count`/`number`/`quantity` become
    * numerics (null on failure); names containing `date` become timestamps.
    *
    * NOTE the reference has a bug at pac_snowflake_pipeline.py:93 — it tests
    * `'amount' in df.columns` (a literal column named "amount") instead of
    * `'amount' in col`. We implement the evident intent
    * (`name.contains("amount")`), as recorded in SURVEY.md §7.4(2).
    */
  def coerceByNamePattern(df: DataFrame): DataFrame = {
    val money   = Seq("amount", "value", "price")
    val numeric = Seq("id", "count", "number", "quantity")
    val cols = df.schema.fields.map { f =>
      val n = f.name.toLowerCase
      if (f.dataType == TimestampType || f.dataType == DateType) col(f.name)
      else if (money.exists(n.contains)) toNumericFill0(col(f.name)).as(f.name)
      else if (n.contains("date")) toDatetime(col(f.name)).as(f.name)
      else if (numeric.exists(n.contains) && f.dataType == StringType)
        col(f.name).try_cast(LongType).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** P7: drop rows where every column is null (`dropna(how='all')`,
    * pac_snowflake_pipeline.py:116). */
  def dropAllNullRows(df: DataFrame): DataFrame = df.na.drop("all")

  /** P8: fill nulls — global empty-string fill for string cols
    * (pac_snowflake_realtime.py:85) and 0-fill for numerics
    * (pac_snowflake_pipeline.py:95). */
  def fillStringNulls(df: DataFrame): DataFrame = df.na.fill("")
  def fillNumericNulls(df: DataFrame): DataFrame = df.na.fill(0.0)

  /** P9: literal metadata columns (pac_data_processor.py:55-57,90-92).
    * `processedAt = None` stamps the wall clock (`current_timestamp()` —
    * the reference's `datetime.now()`); `Some("yyyy-MM-dd HH:mm:ss")` pins
    * the stamp to a supplied literal instead — the reproducible-run form
    * (a batch's LOGICAL time, what a real ingest records anyway so reruns
    * are idempotent) and the only form a second engine can hash-match. */
  def withMetadata(df: DataFrame, source: String, recordType: String,
                   processedAt: Option[String] = None): DataFrame =
    df.withColumn("processed_date",
        processedAt.fold(current_timestamp())(ts => to_timestamp(lit(ts))))
      .withColumn("data_source", lit(source))
      .withColumn("record_type", lit(recordType))

  /** P10: per-row id. The reference uses uuid4
    * (pac_snowflake_pipeline.py:121); `uuid()` would be the direct
    * equivalent but is nondeterministic, so the id derives from the
    * record's own key fields instead (SURVEY.md §7.3). */
  def deterministicId(keys: Column*): Column =
    sha2(concat_ws("§", keys: _*), 256)

  /** P11: timestamp → ISO-8601 string (`.isoformat()`,
    * pac_data_processor.py:117-118). */
  def toIso8601(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm:ss")

  /** The reference's generic clean pass (pac_snowflake_pipeline.py:71-121):
    * lowercase names → trim strings → name-pattern coercion → drop all-null
    * rows. Metadata/uuid are applied separately by the pipelines. */
  def cleanGeneric(df: DataFrame): DataFrame =
    df.transform(lowercaseColumns)
      .transform(trimStrings)
      .transform(coerceByNamePattern)
      .transform(dropAllNullRows)
}
