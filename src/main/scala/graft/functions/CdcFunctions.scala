package graft.functions

import java.text.SimpleDateFormat
import java.util.TimeZone

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.api.java.{UDF1, UDF2, UDF3}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity wrappers for the reference's scalar function library
  * (runtime/functions/SystemFunctionUtils.java, 1,097 LoC; semantics doc
  * docs/content/docs/core-concept/transform.md:113-240).
  *
  * Most functions map 1:1 to codegen'd Spark natives (SURVEY.md §2.4); the
  * wrappers below cover the places where semantics genuinely differ:
  *   - `=` returns FALSE (not NULL) on NULL input (SystemFunctionUtils.valueEquals:752)
  *   - DATE_FORMAT et al. use the Java SimpleDateFormat dialect (:103-119)
  *   - TIMESTAMP_DIFF truncates month/year by calendar fields (:145-241)
  *
  * Scale note: only the format-dialect functions are JVM UDFs (they run
  * per-row but allocate nothing hot); every other function resolves to a
  * native Catalyst expression inside WholeStageCodegen.
  */
object CdcFunctions {

  /** Reference `=`: null-safe, NULL operands compare as not-equal (FALSE, not NULL). */
  def cdcEquals(a: Column, b: Column): Column = coalesce(a === b, lit(false))

  private def formatter(pattern: String, tz: String): SimpleDateFormat = {
    val f = new SimpleDateFormat(pattern)
    f.setTimeZone(TimeZone.getTimeZone(tz))
    f
  }

  /** Calendar-field diff like SystemFunctionUtils.timestampDiff:145-241:
    * sub-day units are millis division; MONTH/YEAR are calendar diffs
    * truncated toward zero.
    */
  def timestampDiff(unit: String, from: java.sql.Timestamp, to: java.sql.Timestamp, tz: String): Long = {
    val millis = to.getTime - from.getTime
    unit.toUpperCase match {
      case "SECOND" => millis / 1000L
      case "MINUTE" => millis / 60000L
      case "HOUR"   => millis / 3600000L
      case "DAY"    => millis / 86400000L
      case "MONTH" | "YEAR" =>
        val zone = java.time.ZoneId.of(tz)
        val f = from.toInstant.atZone(zone)
        val t = to.toInstant.atZone(zone)
        val months = java.time.temporal.ChronoUnit.MONTHS.between(f, t)
        if (unit.equalsIgnoreCase("MONTH")) months else months / 12
      case other => throw new IllegalArgumentException(s"unit: $other")
    }
  }

  /** Register the parity UDFs on a session so `selectExpr`/SQL can call them
    * by the reference's names. The pipeline `local-time-zone` is bound at
    * registration (reference binds it per pipeline config, JaninoCompiler.java:82-83).
    */
  def register(spark: SparkSession, timeZone: String = "UTC"): Unit = {
    spark.udf.register("CDC_DATE_FORMAT", new UDF2[java.sql.Timestamp, String, String] {
      override def call(ts: java.sql.Timestamp, fmt: String): String =
        if (ts == null || fmt == null) null else formatter(fmt, timeZone).format(ts)
    }, StringType)

    spark.udf.register("CDC_TO_TIMESTAMP", new UDF2[String, String, java.sql.Timestamp] {
      override def call(s: String, fmt: String): java.sql.Timestamp =
        if (s == null) null
        else new java.sql.Timestamp(formatter(if (fmt == null) "yyyy-MM-dd HH:mm:ss" else fmt, timeZone).parse(s).getTime)
    }, TimestampType)

    spark.udf.register("CDC_TO_DATE", new UDF2[String, String, java.sql.Date] {
      override def call(s: String, fmt: String): java.sql.Date =
        if (s == null) null
        else new java.sql.Date(formatter(if (fmt == null) "yyyy-MM-dd" else fmt, timeZone).parse(s).getTime)
    }, DateType)

    spark.udf.register("CDC_TIMESTAMP_DIFF", new UDF3[String, java.sql.Timestamp, java.sql.Timestamp, java.lang.Long] {
      override def call(unit: String, from: java.sql.Timestamp, to: java.sql.Timestamp): java.lang.Long =
        if (from == null || to == null) null else Long.box(timestampDiff(unit, from, to, timeZone))
    }, LongType)

    spark.udf.register("CDC_UNIX_TIMESTAMP", new UDF2[String, String, java.lang.Long] {
      override def call(s: String, fmt: String): java.lang.Long =
        if (s == null) null
        else Long.box(formatter(if (fmt == null) "yyyy-MM-dd HH:mm:ss" else fmt, timeZone).parse(s).getTime / 1000L)
    }, LongType)

    spark.udf.register("CDC_FROM_UNIXTIME", new UDF2[java.lang.Long, String, String] {
      override def call(epochSec: java.lang.Long, fmt: String): String =
        if (epochSec == null) null
        else formatter(if (fmt == null) "yyyy-MM-dd HH:mm:ss" else fmt, timeZone)
          .format(new java.util.Date(epochSec * 1000L))
    }, StringType)

    // TIMESTAMPADD with calendar-aware MONTH/YEAR arithmetic
    // (SystemFunctionUtils.timestampadd:244-265)
    spark.udf.register("CDC_TIMESTAMP_ADD", new UDF3[String, Integer, java.sql.Timestamp, java.sql.Timestamp] {
      override def call(unit: String, n: Integer, ts: java.sql.Timestamp): java.sql.Timestamp = {
        if (n == null || ts == null) return null
        val zone = java.time.ZoneId.of(timeZone)
        val z = ts.toInstant.atZone(zone)
        val out = unit.toUpperCase match {
          case "SECOND" => z.plusSeconds(n.toLong)
          case "MINUTE" => z.plusMinutes(n.toLong)
          case "HOUR"   => z.plusHours(n.toLong)
          case "DAY"    => z.plusDays(n.toLong)
          case "WEEK"   => z.plusWeeks(n.toLong)
          case "MONTH"  => z.plusMonths(n.toLong)
          case "QUARTER" => z.plusMonths(3L * n)
          case "YEAR"   => z.plusYears(n.toLong)
          case other => throw new IllegalArgumentException(s"unit: $other")
        }
        java.sql.Timestamp.from(out.toInstant)
      }
    }, TimestampType)

    AiFunctions.register(spark)
  }
}
