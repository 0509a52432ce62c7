package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]], so a query means the same
  * thing in the tests, the mains and the ingest app.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session carries the shared engine settings") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.ansi.enabled") == "false")
    assert(conf.get("spark.sql.icu.caseMappings.enabled") == "false")
    assert(conf.get("spark.sql.maxMetadataStringLength") == "100000")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get(graft.streaming.LocalCheckpointFileManager.ConfKey) ==
      graft.streaming.LocalCheckpointFileManager.ClassName)
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("GraftSession.scala is the only source that calls the session builder") {
    val call = "SparkSession" + ".builder" // split so this file does not match
    val callers = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(sys.props("user.dir"), root)).iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          new String(Files.readAllBytes(p), UTF_8).contains(call))
        .map(_.getFileName.toString)
    }
    assert(callers == Seq("GraftSession.scala"))
  }
}
