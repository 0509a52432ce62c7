package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.{EmptyTimePolicy, GraftConfig}
import graft.pipeline.Ingest

/** Port of every table-driven case in
  * `/root/reference/pkg/nginx/caster_test.go:9-208` plus the §1.2 edge
  * corpus (FIXTURES.md §5), and the ingest kernel pinned against the
  * per-field Catalyst chains it replaced ([[CastChain]]).
  */
class CastsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def castOne(field: String, value: String,
      cfg: GraftConfig = GraftConfig(logFormat = "x")): (Any, Boolean) = {
    val tc = Casts.castFor(field, col("v"), cfg)
    val row = Seq(value).toDF("v")
      .select(tc.col.as("out"), tc.valid.as("ok")).collect()(0)
    (row.get(0), row.getBoolean(1))
  }

  test("native String types pass through (caster_test.go:10-29)") {
    Seq("remote_addr" -> "114.119.133.192", "remote_user" -> "test",
      "request" -> "GET /sito/wp-includes/wlwmanifest.xml HTTP/1.1",
      "http_referer" -> "empty", "http_user_agent" -> "User Agent Here",
      "request_method" -> "GET").foreach { case (k, v) =>
      assert(castOne(k, v) == ((v, true)), k)
    }
  }

  test("native Int32 types (caster_test.go:30-58)") {
    Seq("connections_waiting" -> 190, "connections_active" -> 260,
      "connection" -> 310, "request_length" -> 450).foreach { case (k, v) =>
      assert(castOne(k, v.toString) == ((v, true)), k)
    }
  }

  test("native Float32 types (caster_test.go:59-90)") {
    Seq("request_time" -> 190.010f, "upstream_connect_time" -> 260.010f,
      "upstream_header_time" -> 310.010f, "upstream_response_time" -> 450.010f,
      "msec" -> 567.022f).foreach { case (k, v) =>
      assert(castOne(k, v.toString) == ((v, true)), k)
    }
  }

  test("native UInt32/UInt16 types (caster_test.go:91-140)") {
    assert(castOne("bytes_sent", "190111222") == ((190111222L, true)))
    assert(castOne("body_bytes_sent", "260111222") == ((260111222L, true)))
    assert(castOne("status", "444") == ((444, true)))
  }

  test("native datetime fields (caster_test.go:141-170)") {
    val cfg = GraftConfig(logFormat = "x",
      logTimeFormat = "02/Jan/2006:15:04:05 -0700")
    assert(castOne("time_local", "21/Jul/2022:00:30:43 +0300", cfg) ==
      ((Timestamp.valueOf("2022-07-20 21:30:43"), true)))
    assert(castOne("time_iso8601", "2022-07-21T00:30:43+03:00", cfg) ==
      ((Timestamp.valueOf("2022-07-20 21:30:43"), true)))
  }

  test("custom casts override natives (caster.go:76-113)") {
    // status is natively UInt16; custom-cast it to String
    val cfg = GraftConfig(logFormat = "x", customCasts = Map("status" -> "String"))
    assert(castOne("status", "444", cfg) == (("444", true)))
    // Integer and Datetime aliases (caster.go:26-29)
    val cfg2 = GraftConfig(logFormat = "x",
      customCasts = Map("custom_field" -> "Integer", "custom_ts" -> "Datetime"))
    assert(castOne("custom_field", "10", cfg2) == ((10, true)))
    assert(castOne("custom_ts", "2022-07-21T00:30:43", cfg2) ==
      ((Timestamp.valueOf("2022-07-21 00:30:43"), true)))
  }

  test("unsigned widths and ranges (caster.go:183-225)") {
    val cfg = GraftConfig(logFormat = "x", customCasts = Map(
      "u8" -> "UInt8", "u16" -> "UInt16", "u32" -> "UInt32", "u64" -> "UInt64"))
    assert(castOne("u8", "255", cfg) == ((255.toShort, true)))
    assert(castOne("u8", "256", cfg)._2 == false) // out of uint8 range
    assert(castOne("u8", "-1", cfg)._2 == false)  // ParseUint: no sign
    assert(castOne("u16", "65535", cfg) == ((65535, true)))
    assert(castOne("u32", "4294967295", cfg) == ((4294967295L, true)))
    val (v64, ok64) = castOne("u64", "18446744073709551615", cfg)
    assert(ok64 && v64 == new java.math.BigDecimal("18446744073709551615"))
    assert(castOne("u64", "18446744073709551616", cfg)._2 == false)
  }

  test("signed widths (caster.go:227-269)") {
    val cfg = GraftConfig(logFormat = "x", customCasts = Map(
      "i8" -> "Int8", "i16" -> "Int16", "i32" -> "Int32", "i64" -> "Int64"))
    assert(castOne("i8", "-128", cfg) == ((-128.toByte, true)))
    assert(castOne("i8", "128", cfg)._2 == false)
    assert(castOne("i16", "+22", cfg) == ((22.toShort, true))) // ParseInt allows '+'
    assert(castOne("i32", "1.5", cfg)._2 == false) // strconv strictness
    assert(castOne("i64", "44", cfg) == ((44L, true)))
  }

  test("hyphen → empty → zero/empty semantics (caster.go:72-75,184-186)") {
    val cfg = GraftConfig(logFormat = "x", customCasts = Map("n" -> "Int32"))
    assert(castOne("n", "-", cfg) == ((0, true)))
    assert(castOne("n", "", cfg) == ((0, true)))
    assert(castOne("remote_user", "-") == (("", true)))
    // removeHyphen honored when disabled (flag exists but is dead in the
    // reference — config.go:23; we honor it, SURVEY §1.2)
    val noHyphen = GraftConfig(logFormat = "x", removeHyphen = false)
    assert(castOne("remote_user", "-", noHyphen) == (("-", true)))
  }

  test("empty datetime policy: Null for oracle runs (caster.go:293-296)") {
    val cfg = GraftConfig(logFormat = "x",
      customCasts = Map("d" -> "Date", "ts" -> "DateTime"),
      emptyTimePolicy = EmptyTimePolicy.Null)
    assert(castOne("d", "", cfg) == ((null, true)))
    assert(castOne("ts", "-", cfg) == ((null, true)))
    assert(castOne("ts", "not-a-date", cfg)._2 == false)
  }

  test("FixedString truncation rules (caster.go:156-179)") {
    val cfg = GraftConfig(logFormat = "x", customCasts = Map("f" -> "FixedString(10)"))
    assert(castOne("f", "1234567890_abcdefg", cfg) == (("1234567890", true)))
    assert(castOne("f", "ab", cfg) == (("ab", true))) // shorter: unpadded
    assert(castOne("f", "", cfg) == (("", true)))     // empty bypasses
    // malformed spec: no parens → "" silently (caster.go:164-170)
    val cfg2 = GraftConfig(logFormat = "x", customCasts = Map("f" -> "FixedStringXX"))
    assert(castOne("f", "whatever", cfg2) == (("", true)))
    // unparseable size → plan-time error (port's static check, SURVEY §7)
    val cfg3 = GraftConfig(logFormat = "x", customCasts = Map("f" -> "FixedString(x)"))
    assertThrows[IllegalArgumentException](castOne("f", "v", cfg3))
  }

  test("declared Spark types match §1.2 mapping") {
    val cfg = GraftConfig(logFormat = "x", customCasts = Map(
      "a" -> "UInt8", "b" -> "UInt16", "c" -> "UInt32", "d" -> "UInt64",
      "e" -> "Float32", "f" -> "Float64", "g" -> "Date", "h" -> "DateTime"))
    assert(Casts.castFor("a", col("v"), cfg).dataType == ShortType)
    assert(Casts.castFor("b", col("v"), cfg).dataType == IntegerType)
    assert(Casts.castFor("c", col("v"), cfg).dataType == LongType)
    assert(Casts.castFor("d", col("v"), cfg).dataType == DecimalType(20, 0))
    assert(Casts.castFor("e", col("v"), cfg).dataType == FloatType)
    assert(Casts.castFor("f", col("v"), cfg).dataType == DoubleType)
    assert(Casts.castFor("g", col("v"), cfg).dataType == DateType)
    assert(Casts.castFor("h", col("v"), cfg).dataType == TimestampType)
  }

  // ---- the kernel against the Catalyst chain it replaced ----------------

  private val CustomTypes = Seq("UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16",
    "Int32", "Integer", "Int64", "Float32", "Float64", "String", "Date", "DateTime",
    "Datetime", "FixedString(3)", "FixedString(0)", "FixedStringXX", "FixedString()", "Nope")
  private val NativeFields = Seq("time_local", "time_iso8601", "status", "bytes_sent",
    "body_bytes_sent", "connection", "request_length", "request_time", "msec",
    "remote_addr", "https", "unknown_field")

  private val Numbers = Seq("", "-", "--", "+", "0", "+0", "-0", "007", "+12", "-12",
    "1.5", " 12", "12 ", "12\n", "12\r\n", "12\r", "12\n\n", "\n12", "12\t", "\n",
    "+\n", "12\u0000", "\u000012", "12\u0085", "1e3", "0x10", "\u0661\u0662", "中9",
    "127", "128", "-128", "-129", "255", "256", "32767", "32768", "-32768", "-32769",
    "65535", "65536", "2147483647", "2147483648", "-2147483648", "-2147483649",
    "4294967295", "4294967296", "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809", "18446744073709551615",
    "18446744073709551616", "99999999999999999999", "12345678901234567890",
    "000000000000000000000000018446744073709551615", "-00000000000000000000000000001")
  private val Floats = Seq("0.0", "-0.0", "1.0E-4", "1e10", "1E+3", ".5", "5.", "1.5f",
    "1.5d", "1.5F", "1.5D", "NaN", "nan", "-nan", "Infinity", "-Infinity", "+Infinity",
    "inf", "-inf", "+INF", "infinity", " 1.5", "1.5 ", "\t1.5\n", "1.5\u0000",
    "0x1p3", "1_000", "1,5", "16777216", "16777217", "16777217.5", "0.1", "0.3",
    "123456.789", "3.4028235E38", "3.5E38", "1e-50", "9999999999.9999999999",
    "0.0000000001", "0.00000000001", "9007199254740993", "1.7976931348623157E309")
  private val Times = Seq("21/Jul/2022:00:30:43 +0300", "21/jul/2022:00:30:43 -0000",
    "31/Feb/2024:00:00:00 +0000", "29/Feb/2024:00:00:00 +0000", "29/Feb/2023:00:00:00 +0000",
    "31/Apr/2022:01:02:03 +0000", "00/Jul/2022:01:02:03 +0000", "01/Jan/0000:00:00:00 +0000",
    "01/Jan/0001:00:00:00 +0000", "31/Dec/9999:23:59:59 -1800", "21/Jul/2022:23:00:00 +1800",
    "21/Jul/2022:23:00:00 -1800", "21/Jul/2022:23:00:00 +1801", "21/Jul/2022:23:00:00 -1801",
    "21/Jul/2022:23:00:00 +0060", "21/Jul/2022:24:00:00 +0000", " 21/Jul/2022:23:00:00 +0000",
    "2022-07-21T00:30:43+03:00", "2022-07-21T00:30:43+18:00", "2022-07-21T00:30:43-18:00",
    "2022-07-21T00:30:43+18:01", "2022-07-21T00:30:43-18:01", "2022-07-21T00:30:43Z",
    "2022-07-21T00:30:43", "2022-02-31T00:30:43", "2022-07-21", "2022-02-31", "2024-02-29",
    "2022-7-1", "abcdef", "é中xyz")

  /** Values of every shape the casts see, as bytes: the pools above, some
    * random decimals around the fast path's limits, invalid UTF-8 and NULL.
    */
  private def values(rnd: scala.util.Random): Seq[Array[Byte]] = {
    val decimals = (1 to 150).map { _ =>
      val int = (1 to 1 + rnd.nextInt(12)).map(_ => rnd.nextInt(10)).mkString
      if (rnd.nextBoolean()) int
      else int + "." + (1 to 1 + rnd.nextInt(14)).map(_ => rnd.nextInt(10)).mkString
    }
    val bad = Seq(Array(0xff.toByte), Array('1'.toByte, 0xc3.toByte), Array(0x80.toByte, '2'.toByte),
      "é".getBytes(UTF_8).take(1) ++ "5".getBytes(UTF_8))
    (Numbers ++ Floats ++ Times ++ decimals).map(_.getBytes(UTF_8)) ++ bad :+ null
  }

  /** A DataFrame the optimizer cannot fold, so the generated code runs. */
  private def frame(name: String, rows: Seq[Array[Byte]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row(_)), 3),
      StructType(Seq(StructField("b", BinaryType))))
      .select(col("b").cast(StringType).as(name))

  /** Both sides in one query, so `current_timestamp()` is one value. */
  private def sides(kernel: DataFrame, chain: DataFrame): (Seq[Row], Seq[Row]) = {
    assert(kernel.schema.map(_.dataType) == chain.schema.map(_.dataType))
    val n = kernel.schema.size
    val all = kernel.withColumn("__side", lit(1)).union(chain.withColumn("__side", lit(0)))
      .collect().toSeq
    val (k, c) = all.partition(_.getInt(n) == 1)
    (k.map(r => Row.fromSeq(r.toSeq.take(n))), c.map(r => Row.fromSeq(r.toSeq.take(n))))
  }

  /** Equal values, telling NaN from NaN equal and -0.0 from 0.0 apart. */
  private def same(a: Any, b: Any): Boolean = java.util.Objects.equals(a, b)

  private def sameRows(k: Seq[Row], c: Seq[Row]): Boolean =
    k.size == c.size && k.zip(c).forall { case (a, b) =>
      a.length == b.length && (0 until a.length).forall(i => same(a.get(i), b.get(i)))
    }

  private val CustomFields = CustomTypes.indices.map(i => s"c$i")
  private val Fields = CustomFields ++ NativeFields

  private val configs = for {
    hyphen <- Seq(true, false)
    policy <- Seq(EmptyTimePolicy.Null, EmptyTimePolicy.Now)
  } yield GraftConfig(logFormat = "x", removeHyphen = hyphen, emptyTimePolicy = policy,
    customCasts = CustomFields.zip(CustomTypes).toMap)

  test("kernel ≡ Catalyst chain: every cast type × adversarial values × hyphen × empty-time policy") {
    // a NULL value never reaches a cast: the pipeline rejects a NULL line whole
    val df = frame("v", values(new scala.util.Random(5)).filter(_ != null))
    val localTimeLayouts = Seq("02/Jan/2006:15:04:05 -0700", "2006-01-02T15:04:05Z07:00")
    for (cfg0 <- configs; layout <- localTimeLayouts) {
      val cfg = cfg0.copy(logTimeFormat = layout)
      def cols(cast: (String, GraftConfig) => Casts.TypedCol) = col("v") +: Fields.flatMap { f =>
        val tc = cast(f, cfg)
        Seq(tc.valid.as(s"${f}_ok"), tc.col.as(f))
      }
      val (k, c) = sides(df.select(cols(Casts.castFor(_, col("v"), _)): _*),
        df.select(cols(CastChain.castFor(_, col("v"), _)): _*))
      assert(k.size == c.size)
      k.zip(c).foreach { case (kr, cr) =>
        Fields.zipWithIndex.foreach { case (f, i) =>
          val ok = 1 + 2 * i
          val kOk = !kr.isNullAt(ok) && kr.getBoolean(ok)
          val cOk = !cr.isNullAt(ok) && cr.getBoolean(ok)
          val what = s"${cfg.customCasts.getOrElse(f, f)} on '${kr.getString(0)}' " +
            s"(hyphen=${cfg.removeHyphen}, ${cfg.emptyTimePolicy}, $layout)"
          assert(kOk == cOk, s"verdict of $what")
          if (kOk) assert(same(kr.get(ok + 1), cr.get(ok + 1)),
            s"value of $what: ${kr.get(ok + 1)} vs ${cr.get(ok + 1)}")
        }
      }
    }
  }

  /** For each field, the values of `pool` its cast accepts (by the chain). */
  private def validPools(cfg: GraftConfig, pool: Seq[Array[Byte]]): IndexedSeq[IndexedSeq[Array[Byte]]] = {
    val rows = frame("v", pool).select(col("v").cast(BinaryType) +:
      Fields.map(f => CastChain.castFor(f, col("v"), cfg).valid): _*).collect()
    Fields.indices.map { i =>
      rows.filter(r => !r.isNullAt(i + 1) && r.getBoolean(i + 1)).map(_.getAs[Array[Byte]](0)).toIndexedSeq
    }
  }

  /** `n` lines of [[Fields]] joined by `delim`: mostly values each field's
    * cast accepts, one in 30 from the whole pool, and some NULL and
    * random-byte lines.
    */
  private def lines(rnd: scala.util.Random, n: Int, delim: String, pool: IndexedSeq[Array[Byte]],
      valid: IndexedSeq[IndexedSeq[Array[Byte]]]): Seq[Array[Byte]] =
    (1 to n).map { _ =>
      if (rnd.nextInt(20) == 0) null
      else if (rnd.nextInt(20) == 0) Array.fill(rnd.nextInt(30))(rnd.nextInt(256).toByte)
      else valid.map { ok =>
        val v = if (ok.isEmpty || rnd.nextInt(30) == 0) pool(rnd.nextInt(pool.size))
          else ok(rnd.nextInt(ok.size))
        if (v == null) Array.emptyByteArray else v
      }.reduce(_ ++ delim.getBytes(UTF_8) ++ _)
    }

  test("pipeline ≡ Catalyst chain: scanner and regex paths, good rows and dead letters") {
    val rnd = new scala.util.Random(11)
    val pool = values(rnd).toIndexedSeq
    // '|' keeps the byte scanner; '¦' is not ASCII, so the regex splits
    for (delim <- Seq("|", "¦"); cfg0 <- configs) {
      val cfg = cfg0.copy(logFormat = Fields.map("$" + _).mkString(delim),
        columns = Fields.map(n => s"col_$n" -> n).toMap)
      val df = frame("value", lines(rnd, 300, delim, pool, validPools(cfg, pool.filter(_ != null))))
      val (good, bad) = Ingest.parseWithDeadLetter(df, cfg)
      val (refGood, refBad) = CastChain.parseWithDeadLetter(df, cfg)
      val what = s"delim=$delim hyphen=${cfg.removeHyphen} ${cfg.emptyTimePolicy}"
      val (k, c) = sides(good, refGood)
      assert(sameRows(k, c), s"good rows, $what")
      val bin = col("value").cast(BinaryType).as("value")
      val (kb, cb) = sides(bad.select(bin), refBad.select(bin))
      assert(kb.map(r => Option(r.getAs[Array[Byte]](0)).map(_.toSeq)) ==
        cb.map(r => Option(r.getAs[Array[Byte]](0)).map(_.toSeq)), s"dead letters, $what")
      assert(k.size > 20 && kb.size > 20, s"both outcomes exercised, $what")
    }
  }

  test("pipeline ≡ Catalyst chain with the generated code off") {
    TestSpark.restoringConf("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode") {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val cfg = GraftConfig(logFormat = "$remote_addr - $remote_user [$time_local] " +
        "\"$request\" $status $bytes_sent $request_time",
        columns = Seq("remote_addr", "remote_user", "time_local", "request", "status",
          "bytes_sent", "request_time").map(c => c -> c).toMap)
      val rnd = new scala.util.Random(3)
      val df = frame("value", (1 to 300).map { i =>
        val t = f"${1 + rnd.nextInt(31)}%02d/Feb/20${rnd.nextInt(30)}%02d:12:00:0${i % 10} +0000"
        val req = if (i % 7 == 0) "-" else s"GET /p/$i HTTP/1.1"
        s"10.0.0.${i % 256} - ${if (i % 3 == 0) "-" else "u"} [$t] \"$req\" " +
          s"${Seq("200", "65536", "-", "x")(i % 4)} ${i * 997} ${Seq("0.05", "1.0E-4", "NaN", "")(i % 4)}"
      }.map(_.getBytes(UTF_8)) :+ null)
      val (good, bad) = Ingest.parseWithDeadLetter(df, cfg)
      val (refGood, refBad) = CastChain.parseWithDeadLetter(df, cfg)
      val (k, c) = sides(good, refGood)
      assert(k.nonEmpty && sameRows(k, c))
      assert(bad.collect().toSeq == refBad.collect().toSeq)
    }
  }
}
