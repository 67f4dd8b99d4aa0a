package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * ListenSyslog parse — SURVEY §2.1 (ListenSyslog.h:42-46, ListenSyslog.cpp).
 *
 * The listener's network plane maps to a socket/custom streaming source; the
 * *query* capability is the RFC5424/RFC3164 parse into attributes with
 * invalid lines routed to `invalid`. Dispatch order mirrors the reference
 * (ListenSyslog.cpp:67,81): try RFC5424, fall back to RFC3164, else route
 * `invalid` with `syslog.valid=false`. Each field is one `regexp_extract`
 * over the message — all codegen'd, no UDF.
 */
object Syslog {

  /** RFC5424: `<PRI>VERSION TIMESTAMP HOSTNAME APP-NAME PROCID MSGID SD MSG`
    * — the reference regex verbatim (ListenSyslog.cpp:27-37): priority
    * capped at 191, nillable `-` timestamp, RFC3339 timestamp shape,
    * length-capped header fields, MULTIPLE adjacent `[..]` structured-data
    * blocks, and an optional message after an optional space (doc example 4
    * ends at the structured data). */
  val Rfc5424Pattern: String =
    "^<(\\d|\\d{2}|1[1-8]\\d|19[01])>(\\d{1,2}) " +
    "(?:(\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(?:\\.\\d{1,6})?" +
    "(?:[+-]\\d{2}:\\d{2}|Z)?)|-) " +
    "(\\S{1,255}) (\\S{1,48}) (\\S{1,128}) (\\S{1,32}) " +
    "(-|(?:\\[.+?\\])+)\\s?(.+)?$"

  /** RFC3164: `<PRI>MMM dd HH:mm:ss HOSTNAME MSG` — the reference's 3164
    * parse captures priority, timestamp, hostname, and msg only
    * (ListenSyslog.cpp:39-43); tag/pid stay inside the message. */
  val Rfc3164Pattern: String =
    "^<(\\d{1,3})>([A-Z][a-z]{2} {1,2}\\d{1,2} \\d{2}:\\d{2}:\\d{2}) ([A-Za-z0-9][\\w.:@-]*) (.*)$"

  /**
   * Parse RFC5424 lines: adds the syslog.* attribute columns the reference
   * sets, and a relationship column — `success` for parsed, `invalid` for
   * non-matching lines (ListenSyslog invalid routing).
   */
  def parseRfc5424(df: DataFrame, lineCol: Column): DataFrame = {
    val p = Rfc5424Pattern
    df
      .withColumn("syslog_valid", lineCol.rlike(p))
      .withColumn("syslog_priority", when(col("syslog_valid"), regexp_extract(lineCol, p, 1)))
      .withColumn("syslog_version", when(col("syslog_valid"), regexp_extract(lineCol, p, 2)))
      .withColumn("syslog_timestamp", when(col("syslog_valid"), regexp_extract(lineCol, p, 3)))
      .withColumn("syslog_hostname", when(col("syslog_valid"), regexp_extract(lineCol, p, 4)))
      .withColumn("syslog_app_name", when(col("syslog_valid"), regexp_extract(lineCol, p, 5)))
      .withColumn("syslog_procid", when(col("syslog_valid"), regexp_extract(lineCol, p, 6)))
      .withColumn("syslog_msgid", when(col("syslog_valid"), regexp_extract(lineCol, p, 7)))
      .withColumn("syslog_structured_data",
        when(col("syslog_valid"), regexp_extract(lineCol, p, 8)))
      .withColumn("syslog_msg", when(col("syslog_valid"), regexp_extract(lineCol, p, 9)))
      .withColumn("relationship", when(col("syslog_valid"), "success").otherwise("invalid"))
      .drop("syslog_valid")
  }

  /**
   * Protocol-dispatch parse (ListenSyslog.cpp:67,81): RFC5424 first, then
   * RFC3164, else invalid. RFC5424-only fields (version, app_name, procid,
   * msgid) are null for 3164 messages, like the reference's attribute set.
   */
  def parseSyslog(df: DataFrame, lineCol: Column): DataFrame = {
    val p5 = Rfc5424Pattern
    val p3 = Rfc3164Pattern
    val is5 = lineCol.rlike(p5)
    val is3 = !is5 && lineCol.rlike(p3)
    def pick(g5: Int, g3: Int): Column =
      when(is5, regexp_extract(lineCol, p5, g5))
        .when(is3, regexp_extract(lineCol, p3, g3))
    df
      .withColumn("syslog_format",
        when(is5, "rfc5424").when(is3, "rfc3164"))
      .withColumn("syslog_priority", pick(1, 1))
      .withColumn("syslog_version", when(is5, regexp_extract(lineCol, p5, 2)))
      .withColumn("syslog_timestamp", pick(3, 2))
      .withColumn("syslog_hostname", pick(4, 3))
      .withColumn("syslog_app_name", when(is5, regexp_extract(lineCol, p5, 5)))
      .withColumn("syslog_procid", when(is5, regexp_extract(lineCol, p5, 6)))
      .withColumn("syslog_msgid", when(is5, regexp_extract(lineCol, p5, 7)))
      .withColumn("syslog_structured_data",
        when(is5, regexp_extract(lineCol, p5, 8)))
      .withColumn("syslog_msg", pick(9, 4))
      .withColumn("syslog_severity",
        when(is5 || is3, severity(col("syslog_priority")).cast("string")))
      .withColumn("syslog_facility",
        when(is5 || is3, facility(col("syslog_priority")).cast("string")))
      .withColumn("relationship", when(is5 || is3, "success").otherwise("invalid"))
  }

  /** Severity/facility from PRI (priority = facility*8 + severity). */
  def severity(priCol: Column): Column = priCol.cast("long") % 8
  def facility(priCol: Column): Column = floor(priCol.cast("long") / 8)
}
