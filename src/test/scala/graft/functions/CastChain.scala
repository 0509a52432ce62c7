package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{EmptyTimePolicy, GraftConfig}
import graft.format.{GoTimeLayout, LogTemplate}

/** The per-field Catalyst cast chains the ingest kernel ([[TypedParse]])
  * replaced, kept as the specs' equivalence reference: `array<string>`
  * groups from [[ParseLogTemplate]] / [[ParseLogLine]], then `try_cast`,
  * [[DigitCheck]], [[FastLocalTime]] and `try_to_timestamp` per field.
  */
object CastChain {

  /** The reference pipeline: (valid typed rows, raw rejected lines). */
  def parseWithDeadLetter(df: DataFrame, cfg: GraftConfig): (DataFrame, DataFrame) = {
    val tpl = LogTemplate.compile(cfg.logFormat)
    val targets = cfg.orderedColumns
    val parsed =
      if (tpl.scannable) ParseLogTemplate(col("value"), tpl.format)
      else ParseLogLine(col("value"), tpl.regex)
    val withGroups = df.withColumn("__groups", OptimizerFence(parsed))
    val fieldsOf: Map[String, Column] = tpl.fields.zipWithIndex.map {
      case (f, i) => f -> col("__groups").getItem(i)
    }.toMap
    val typed = targets.map { case (colName, field) =>
      colName -> castFor(field, fieldsOf(field), cfg)
    }
    val allValid = col("__groups").isNotNull &&
      typed.map(_._2.valid).reduce(_ && _)
    val good = withGroups
      .select(typed.map { case (name, tc) => tc.col.as(name) } :+
        OptimizerFence(allValid).as("__valid"): _*)
      .filter(col("__valid"))
      .drop("__valid")
    val bad = withGroups
      .filter(OptimizerFence(col("__groups").isNull || !typed.map(_._2.valid).reduce(_ && _)))
      .select(col("value"))
    (good, bad)
  }

  import Casts.TypedCol

  private def normalized(raw: Column, cfg: GraftConfig): Column =
    if (cfg.removeHyphen) when(raw === "-", "").otherwise(raw) else raw

  // digit strictness as a codegen'd byte loop (graft.functions.DigitCheck),
  // ≡ RLIKE '^[0-9]+$' / '^[+-]?[0-9]+$' without a Matcher per value
  private def uint(v: Column, max: String, t: DataType): TypedCol = {
    // sub-64-bit ranges ride the LONG cast (cheap JDK parse); only UInt64
    // needs Decimal(20,0). Equivalent verdicts: an all-digit string that
    // overflows long can never be <= a sub-long max, and decimal reaches
    // the same `false` through its range comparison.
    val needsDecimal = BigInt(max) > Long.MaxValue
    val asNum = if (needsDecimal) v.try_cast(DecimalType(20, 0)) else v.try_cast(LongType)
    val ok = v === "" ||
      (graft.functions.DigitCheck.unsigned(v) && asNum.isNotNull && asNum <= expr(max))
    val out = when(v === "", lit(0)).otherwise(asNum).cast(t)
    TypedCol(out, ok, t)
  }

  private def sint(v: Column, t: DataType): TypedCol = {
    // try_cast to the exact width: Spark's string→integral cast is
    // strconv-strict (sign + digits only) and nulls on overflow.
    val cast = v.try_cast(t)
    val ok = v === "" || (graft.functions.DigitCheck.signed(v) && cast.isNotNull)
    TypedCol(when(v === "", lit(0)).otherwise(cast).cast(t), ok, t)
  }

  private def fp(v: Column, t: DataType): TypedCol = {
    val cast = v.try_cast(t)
    TypedCol(when(v === "", lit(0.0)).otherwise(cast).cast(t), v === "" || cast.isNotNull, t)
  }

  private def timestamp(v: Column, javaPattern: String, cfg: GraftConfig): TypedCol = {
    // the nginx time_local layout gets the byte-positional fast parser
    // (FastLocalTime, ≡ try_to_timestamp for this pattern — spec-pinned)
    val parsed =
      if (javaPattern == FastLocalTime.Pattern) FastLocalTime(v)
      else try_to_timestamp(v, lit(javaPattern))
    val emptyVal: Column = cfg.emptyTimePolicy match {
      case EmptyTimePolicy.Now  => current_timestamp()
      case EmptyTimePolicy.Null => lit(null).cast(TimestampType)
    }
    TypedCol(when(v === "", emptyVal).otherwise(parsed),
      v === "" || parsed.isNotNull, TimestampType)
  }

  private def date(v: Column, cfg: GraftConfig): TypedCol = {
    val parsed = try_to_timestamp(v, lit("yyyy-MM-dd")).cast(DateType)
    val emptyVal: Column = cfg.emptyTimePolicy match {
      case EmptyTimePolicy.Now  => current_date()
      case EmptyTimePolicy.Null => lit(null).cast(DateType)
    }
    TypedCol(when(v === "", emptyVal).otherwise(parsed),
      v === "" || parsed.isNotNull, DateType)
  }

  /** `FixedString(N)`: first N bytes, no padding; `""` bypasses
    * (`caster.go:156-179`). Parenthesis/size errors are plan-time errors
    * here (the reference emits them per-row at runtime — SURVEY §1.3 calls
    * out the static check as the port's deliberate improvement).
    */
  private def fixedString(v: Column, spec: String): TypedCol = {
    val inner = spec.stripPrefix("FixedString")
    if (inner.length <= 2) TypedCol(lit(""), lit(true), StringType)
    else if (!(inner.startsWith("(") && inner.endsWith(")")))
      TypedCol(lit(""), lit(true), StringType)
    else {
      val n = inner.substring(1, inner.length - 1).trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"can't parse fixed string size: $spec"))
      // Byte-wise truncation like the reference (value[:N] on Go bytes):
      // decode(substr(encode(v,'utf-8'), 1, N)) would split multi-byte
      // chars; the reference happily does that. We use codepoint substring
      // (documented divergence, SURVEY §7 "hard parts") — identical for
      // ASCII log data.
      TypedCol(when(v === "", "").otherwise(substring(v, 1, n)), lit(true), StringType)
    }
  }

  private def identity(v: Column): TypedCol = TypedCol(v, lit(true), StringType)

  /** Full cast dispatch for one log field: custom-cast table first
    * (`caster.go:80-113`), else native attribute table (`caster.go:118-140`),
    * else identity string.
    */
  def castFor(field: String, raw: Column, cfg: GraftConfig): TypedCol = {
    val v = normalized(raw, cfg)
    val custom: Option[String] =
      if (cfg.customCastsEnable && cfg.customCasts.nonEmpty) cfg.customCasts.get(field)
      else None
    custom match {
      case Some(t) => byName(t, v, cfg).getOrElse(native(field, v, cfg))
      case None    => native(field, v, cfg)
    }
  }

  /** Custom-cast name → typed column (`caster.go:84-112`). `Integer` and
    * `Datetime` are custom aliases (`caster.go:26-29`). Unknown names fall
    * through to native dispatch, like the reference's switch default.
    */
  private def byName(t: String, v: Column, cfg: GraftConfig): Option[TypedCol] = t match {
    case "UInt8"                 => Some(uint(v, "255", ShortType))
    case "UInt16"                => Some(uint(v, "65535", IntegerType))
    case "UInt32"                => Some(uint(v, "4294967295", LongType))
    case "UInt64"                => Some(uint(v, "18446744073709551615", DecimalType(20, 0)))
    case "Int8"                  => Some(sint(v, ByteType))
    case "Int16"                 => Some(sint(v, ShortType))
    case "Int32" | "Integer"     => Some(sint(v, IntegerType))
    case "Int64"                 => Some(sint(v, LongType))
    case "Float32"               => Some(fp(v, FloatType))
    case "Float64"               => Some(fp(v, DoubleType))
    case "String"                => Some(identity(v))
    case "Date"                  => Some(date(v, cfg))
    case "DateTime" | "Datetime" => Some(timestamp(v, "yyyy-MM-dd'T'HH:mm:ss", cfg))
    case s if s.startsWith("FixedString") => Some(fixedString(v, s))
    case _                       => None
  }

  /** Native nginx attribute types (`caster.go:118-140`,
    * `pkg/nginx/constants.go:3-44`).
    */
  private def native(field: String, v: Column, cfg: GraftConfig): TypedCol = field match {
    case "time_local" =>
      timestamp(v, GoTimeLayout.toJava(cfg.logTimeFormat), cfg)
    case "time_iso8601" =>
      timestamp(v, "yyyy-MM-dd'T'HH:mm:ssXXX", cfg)
    case "status" => uint(v, "65535", IntegerType)
    case "bytes_sent" | "body_bytes_sent" => uint(v, "4294967295", LongType)
    case "remote_addr" | "remote_user" | "request" | "http_referer" |
        "http_user_agent" | "request_method" | "https" => identity(v)
    case "connections_waiting" | "connections_active" | "connection" |
        "request_length" => sint(v, IntegerType)
    case "request_time" | "upstream_connect_time" | "upstream_header_time" |
        "upstream_response_time" | "msec" => fp(v, FloatType)
    case _ => identity(v)
  }
}
