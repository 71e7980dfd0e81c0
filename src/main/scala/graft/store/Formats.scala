package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink format layer: the same corpus tables as parquet, ORC,
  * JSON-lines, or CSV — the "any lake layout" interop the reference
  * can't offer (its only formats are DynamoDB items and a pipe-delimited
  * import file, `/root/reference/code/import-items.py`).
  *
  * Reads always apply an explicit schema: schema inference is both a
  * full extra pass over 100 TB and nondeterministic under sampling, so a
  * production read NEVER infers. CSV is configured round-trip-safe for
  * scalar columns (quote-escaping; the `\N` null sentinel distinguishes
  * NULL from empty string); nested/array columns belong in parquet/ORC
  * and JSON — CSV writes of nested types are rejected by Spark itself.
  */
object Formats {

  val Supported: Set[String] = Set("parquet", "orc", "json", "csv")

  private def csvCommon: Map[String, String] = Map(
    "header" -> "true",
    "escape" -> "\"",
    "nullValue" -> "\\N",
    "multiLine" -> "true")

  // emptyValue is asymmetric in Spark CSV: on write it is the TOKEN an
  // empty string serializes to (a quoted empty field, so it cannot collide
  // with the null sentinel); on read it is the VALUE an empty parsed field
  // maps back to
  private def csvWriteOptions: Map[String, String] =
    csvCommon + ("emptyValue" -> "\"\"")
  private def csvReadOptions: Map[String, String] =
    csvCommon + ("emptyValue" -> "")

  // Spark's default JSON/CSV timestamp pattern carries millisecond
  // precision only; micros would silently truncate on write
  private val tsOptions: Map[String, String] = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  private def optionsFor(format: String, forWrite: Boolean): Map[String, String] =
    format match {
      case "csv" =>
        (if (forWrite) csvWriteOptions else csvReadOptions) ++ tsOptions
      case "json" => tsOptions
      case _ => Map.empty
    }

  def write(df: DataFrame, path: String, format: String): Unit = {
    require(Supported(format), s"unsupported format: $format")
    df.write.mode("overwrite").format(format)
      .options(optionsFor(format, forWrite = true)).save(path)
  }

  def read(spark: SparkSession, path: String, format: String,
      schema: StructType): DataFrame = {
    require(Supported(format), s"unsupported format: $format")
    spark.read.format(format).schema(schema)
      .options(optionsFor(format, forWrite = false)).load(path)
  }
}
