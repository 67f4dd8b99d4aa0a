package graft.record

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Record reader/writer subsystem — SURVEY §2.9.
 *
 * The reference's Record model (minifi-api/include/minifi-cpp/core/
 * Record.h:30-83) is a named-field variant map with built-in JSON
 * round-trip; readers are schema-optional with skip/null mismatch semantics
 * (JsonTreeReader.h:34-40). Spark mapping: `from_json` (PERMISSIVE mode
 * reproduces skip-extra/null-missing) and `to_json`; format conversion is an
 * identity DataFrame round-trip.
 */
object Records {

  /**
   * JsonTreeReader (JsonTreeReader.cpp:124): parse a JSON content column
   * into typed record fields. Extra JSON fields are skipped, missing schema
   * fields become null — `from_json` PERMISSIVE default.
   */
  def jsonTreeReader(contentCol: Column, schema: StructType): Column =
    from_json(contentCol, schema)

  /**
   * JsonTreeReader over a whole FlowFile content, all THREE reference
   * input shapes (JsonRecordTests.cpp:32-35,119-127): a JSON array
   * (compact or pretty-printed) parses as the record list; otherwise each
   * non-empty line is one record ("one record per line"). Returns
   * array<struct> — explode for per-record rows. Narrow, codegen'd.
   */
  def jsonTreeRecords(contentCol: Column, schema: StructType): Column = {
    import org.apache.spark.sql.types.ArrayType
    // regex whitespace checks, not trim(): Spark's trim strips spaces
    // only, and pretty arrays may open after a newline/tab while CRLF
    // content leaves lone '\r' blank lines
    when(contentCol.rlike("^\\s*\\["),
      from_json(contentCol, ArrayType(schema)))
      .otherwise(
        // unparseable lines stay as NULL elements so callers can route
        // the read failure; whitespace-only lines are not records
        transform(filter(split(contentCol, "\n"), l => l.rlike("\\S")),
          l => from_json(l, schema)))
  }

  /** Read-failure detector companion to [[jsonTreeRecords]]: from_json's
    * PERMISSIVE mode yields all-null structs for malformed lines, so
    * validity is checked on the raw text (rapidjson parse failure routes
    * the FlowFile to failure in the reference). */
  def jsonTreeReadFailed(contentCol: Column): Column =
    when(contentCol.rlike("^\\s*\\["),
      call_function("try_parse_json", contentCol).isNull)
      .otherwise(exists(
        filter(split(contentCol, "\n"), l => l.rlike("\\S")),
        l => call_function("try_parse_json", l).isNull))

  /**
   * JsonRecordSetWriter (JsonRecordSetWriter.h:27-41): serialize records —
   * "one line per object" mode = per-row `to_json`; "array" mode = the
   * caller aggregates with `jsonArray`.
   */
  def jsonPerObject(recordCol: Column): Column = to_json(recordCol)

  /** Array-grouping mode: deterministic order via sort key. */
  def jsonArray(records: Column): Column =
    concat(lit("["), array_join(records, ","), lit("]"))

  /**
   * ConvertRecord (ConvertRecord.cpp:36): reader → writer format bridge.
   * JSON→CSV here; other format pairs compose the same way. CSV quoting
   * follows the EL escapeCsv rules for embedded delimiters.
   */
  def jsonToCsvLine(record: Column, fields: Seq[String]): Column =
    concat_ws(",", fields.map(f => record.getField(f).cast("string")): _*)

  /**
   * XMLReader (extensions/standard-processors/controllers/XMLReader.cpp):
   * parse an XML content column into typed fields — Spark 4 native
   * `from_xml`. Mismatched fields null out like the JSON reader.
   */
  def xmlReader(contentCol: Column, schema: StructType): Column =
    from_xml(contentCol, schema)
}
