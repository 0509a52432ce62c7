package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run; 4 workers keep the
  * tests' partitioning independent of the machine.
  */
object TestSpark {
  val cpus = 4

  lazy val spark: SparkSession = GraftSession.local("graft-test", cpus = cpus)

  /** Runs `body`, then puts each of `keys` back as it was on the shared
    * session: its old value, or unset. Suites share the session, so a
    * setting a test changes must not leak into a later suite.
    */
  def restoringConf[T](keys: String*)(body: => T): T = {
    val set = spark.conf.getAll
    val saved = keys.map(k => k -> set.get(k))
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** [[Measure.listening]] on the shared session. */
  def listening[T](listener: SparkListener)(body: => T): T =
    Measure.listening(spark, listener)(body)

  /** Runs `body` and returns its result with, for each stage that read
    * input meanwhile, the records each of its tasks read.
    */
  def inputTaskRecords[T](body: => T): (T, Seq[Seq[Long]]) = {
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
    val out = listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => tasks.add(e.stageId -> m.inputMetrics.recordsRead))
    })(body)
    (out, tasks.asScala.toSeq.groupBy(_._1).values.map(_.map(_._2)).filter(_.sum > 0).toSeq)
  }

  /** One wave on the shared session's cores: at most one task per core, or
    * one more task that reads no more than `tail` records.
    */
  def oneWave(taskRecords: Seq[Long], tail: Long): Boolean =
    taskRecords.size <= cpus || (taskRecords.size == cpus + 1 && taskRecords.min <= tail)

  /** How each parquet file under `dir` stores `column`: its physical type,
    * and for a timestamp annotation its unit and UTC flag, e.g.
    * `INT64 TIMESTAMP(MICROS,true)` or `INT96`.
    */
  def parquetTypes(dir: java.nio.file.Path, column: String): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    val files = java.nio.file.Files.walk(dir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    files.map { f =>
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri),
        new org.apache.hadoop.conf.Configuration())
      val reader = ParquetFileReader.open(in)
      try {
        val t = reader.getFooter.getFileMetaData.getSchema.getType(Seq(column): _*).asPrimitiveType
        t.getPrimitiveTypeName.toString + (t.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => s" TIMESTAMP(${ts.getUnit},${ts.isAdjustedToUTC})"
          case _                                  => ""
        })
      } finally reader.close()
    }
  }
}
