package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.format.LogTemplate

/** The byte-scanner parse (`ParseLogTemplate`) must be BIT-IDENTICAL to
  * the compiled-regex parse (`ParseLogLine`) — same groups on matches,
  * null on the same mismatches — across templates exercising every
  * compiler shape (adjacent vars, template-final var, quoted literals)
  * and randomized valid/corrupted/adversarial lines.
  */
class ParseScannerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val formats = Seq(
    // the full reference sample format shape
    "$remote_addr - $remote_user [$time_local] \"$request\" $status $bytes_sent $request_time",
    // adjacent variables sharing a delimiter
    "$a$b|$c",
    // template-final variable (space-delimited tail)
    "$x: $y",
    // single variable, whole-line
    "$line",
    // literal-final template (line must end exactly)
    "$method $path HTTP",
    // regex metacharacters as literals/delimiters
    "($a) [$b] {$c} $d.$e")

  private def compare(format: String, lines: Seq[String]): Unit = {
    val tpl = LogTemplate.compile(format)
    assert(tpl.scannable, s"expected scannable: $format")
    val df = lines.toDF("value")
    val scanned = df.select(ParseLogTemplate(col("value"), format).as("g"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toList))
    val regexed = df.select(ParseLogLine(col("value"), tpl.regex).as("g"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toList))
    scanned.zip(regexed).zip(lines).foreach { case ((s, r), line) =>
      assert(s == r, s"format=$format line=$line scanner=$s regex=$r")
    }
  }

  test("scanner ≡ regex on the golden access-log lines") {
    compare(formats.head, Seq(
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512 0.05",
      "10.0.0.1 - frank [21/Jul/2022:00:30:43 +0000] \"GET /x?a=[1] HTTP/1.1\" 200 512 0.05",
      "complete garbage",
      "", // empty line
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512", // short
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512 0.05 extra", // long tail
      "10.0.0.1 - - 21/Jul/2022] \"GET\" 200 512 0.05")) // missing [
  }

  test("scanner ≡ regex on every template shape × randomized lines") {
    val rnd = new scala.util.Random(1234)
    val alphabet = "abcXYZ019 -[]\"(){}|:.,/é中"
    def randLine(): String =
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    formats.foreach { f =>
      // valid-ish lines: substitute random var values into the template
      val tpl = LogTemplate.compile(f)
      val valid = (1 to 60).map { _ =>
        tpl.fields.foldLeft(f) { (acc, v) =>
          acc.replace("$" + v, (0 until rnd.nextInt(8)).map(_ => "azAZ09"(rnd.nextInt(6))).mkString)
        }
      }
      val fuzz = (1 to 120).map(_ => randLine())
      compare(f, valid ++ fuzz)
    }
  }

  test("scanner ≡ regex on fully randomized templates × randomized lines") {
    val rnd = new scala.util.Random(2024)
    val litChars = " -[]{}()\"|:./,*+?^"
    def randFormat(): String = {
      val n = 1 + rnd.nextInt(7)
      val sb = new StringBuilder
      (0 until n).foreach { i =>
        if (rnd.nextBoolean()) sb.append("$f").append(i)
        else {
          val len = 1 + rnd.nextInt(3)
          sb.append((0 until len).map(_ => litChars(rnd.nextInt(litChars.length))).mkString)
        }
      }
      if (!sb.toString.contains("$f")) sb.append("$f9")
      sb.toString
    }
    (1 to 40).foreach { _ =>
      val f = randFormat()
      val tpl = LogTemplate.compile(f)
      val rendered = (1 to 20).map { _ =>
        // substitute in DESCENDING field order so $f1 never clobbers $f10
        tpl.fields.sortBy(-_.length).foldLeft(f) { (acc, v) =>
          acc.replace("$" + v,
            (0 until rnd.nextInt(6)).map(_ => "azAZ09"(rnd.nextInt(6))).mkString)
        }
      }
      val fuzz = (1 to 40).map(_ => (0 until rnd.nextInt(25))
        .map(_ => (litChars + "azAZ09é中")(rnd.nextInt(litChars.length + 8))).mkString)
      compare(f, rendered ++ fuzz)
    }
  }

  test("DigitCheck ≡ RLIKE digit regexes on randomized strings") {
    val rnd = new scala.util.Random(77)
    val pool = "0123456789+-.eE aZé中 \n\r"
    val cases = Seq("", "+", "-", "0", "007", "+12", "-12", "1.5", "12 ", " 12",
      "+-1", "--2", "184467440737095516159999", "中9", "9中",
      // Java-regex '$' matches before ONE final line terminator
      "123\n", "123\r\n", "123\r", "123\n\n", "\n123", "12\n3", "\n", "+\n") ++
      (1 to 300).map(_ => (0 until rnd.nextInt(12)).map(_ => pool(rnd.nextInt(pool.length))).mkString)
    val df = cases.toDF("v")
    val got = df.select(
      graft.functions.DigitCheck.unsigned(col("v")).as("u"),
      graft.functions.DigitCheck.signed(col("v")).as("s"),
      col("v").rlike("^[0-9]+$").as("ur"),
      col("v").rlike("^[+-]?[0-9]+$").as("sr")).collect()
    got.zip(cases).foreach { case (r, c) =>
      assert(r.getBoolean(0) == r.getBoolean(2), s"unsigned mismatch on '$c'")
      assert(r.getBoolean(1) == r.getBoolean(3), s"signed mismatch on '$c'")
    }
  }

  test("FastLocalTime ≡ try_to_timestamp('dd/MMM/yyyy:HH:mm:ss Z')") {
    val rnd = new scala.util.Random(99)
    val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
      "Aug", "Sep", "Oct", "Nov", "Dec")
    val valid = (1 to 200).map { _ =>
      f"${1 + rnd.nextInt(31)}%02d/${months(rnd.nextInt(12))}/${1970 + rnd.nextInt(80)}%04d:" +
        f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d " +
        (if (rnd.nextBoolean()) "+" else "-") +
        f"${rnd.nextInt(15)}%02d${rnd.nextInt(60)}%02d"
    }
    val edge = Seq(
      "29/Feb/2024:12:00:00 +0000", "29/Feb/2023:12:00:00 +0000", // leap / not
      "31/Apr/2022:01:02:03 +0000", "00/Jul/2022:01:02:03 +0000",
      "32/Jul/2022:01:02:03 +0000", "21/jul/2022:01:02:03 +0000",
      "21/JUL/2022:01:02:03 +0000", "21/Xyz/2022:01:02:03 +0000",
      "21/Jul/2022:24:00:00 +0000", "21/Jul/2022:23:60:00 +0000",
      "21/Jul/2022:23:00:60 +0000", "21/Jul/2022:23:00:00 +1800",
      "21/Jul/2022:23:00:00 +1801", "21/Jul/2022:23:00:00 +1900",
      "21/Jul/2022:23:00:00 -1800", "21/Jul/2022:23:00:00 0000",
      "21/Jul/2022:23:00:00 +000", "21/Jul/2022:23:00:00 +00000",
      "21/Jul/2022:23:00:00+0000", "21/Jul/2022:23:00:00 +0000 ",
      " 21/Jul/2022:23:00:00 +0000", "21/Jul/2022:23:00", "", "garbage",
      "1/Jul/2022:01:02:03 +0000", "21-Jul-2022:01:02:03 +0000")
    val df = (valid ++ edge).toDF("v")
    val got = df.select(
      graft.functions.FastLocalTime(col("v")).as("fast"),
      try_to_timestamp(col("v"), lit("dd/MMM/yyyy:HH:mm:ss Z")).as("ref")).collect()
    got.zip(valid ++ edge).foreach { case (r, c) =>
      assert(r.get(0) == r.get(1),
        s"mismatch on '$c': fast=${r.get(0)} ref=${r.get(1)}")
    }
  }

  test("interpreted and codegen paths agree") {
    val f = formats.head
    val line = "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512 0.05"
    val tpl = LogTemplate.compile(f)
    val expr = ParseLogTemplate(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(line)), f)
    val interp = expr.eval(null)
    assert(interp != null)
    // driver-side reference parse agrees too
    val viaTpl = tpl.parse(line).get
    val got = interp.asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString)
    assert(tpl.fields.zip(got).toMap == viaTpl)
  }

  test("typed kernel: scanner split ≡ regex split on randomized templates and lines") {
    val rnd = new scala.util.Random(4242)
    val litChars = " -[]{}()\"|:./,*+?^"
    (1 to 25).foreach { t =>
      val f = (0 until 1 + rnd.nextInt(6)).map(i =>
        if (i % 2 == t % 2) "$f" + i else litChars(rnd.nextInt(litChars.length)).toString).mkString
      val tpl = LogTemplate.compile(if (f.contains("$f")) f else f + "$f9")
      val fields = tpl.fields.indices.map(g => TypedField(s"g$g", g, FieldCast.Str))
      val lines = (1 to 40).map { _ =>
        if (rnd.nextInt(10) == 0) null
        else tpl.fields.foldLeft(tpl.format) { (acc, v) =>
          acc.replace("$" + v, (0 until rnd.nextInt(5)).map(_ => "a-Z9é "(rnd.nextInt(6))).mkString)
        }
      }
      val df = lines.toDF("value").repartition(2)
      def run(split: LineSplit) = df.select(col("value"),
        TypedParse(col("value"), split, fields, removeHyphen = true).as("t")).collect()
        .map { r =>
          // the fields of a rejected line are unspecified
          val t = r.getStruct(1)
          r.getString(0) -> Some(t.toSeq).filter(_ => t.getBoolean(fields.size))
        }.toMap
      assert(run(LineSplit.Scan(tpl.format)) == run(LineSplit.Regex(tpl.regex)), s"format=${tpl.format}")
    }
  }
}
