package graft.sources

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the analytical testdata tables (TESTDATA.md). One
  * parquet file per table; scans are column-pruned and filter-pushed by
  * Catalyst, so helpers never cache or materialize.
  *
  * A table's schema comes from its file's footer, read where the DataFrame
  * is built (no task runs) and converted by the same
  * `ParquetToSparkSchemaConverter` Spark's own inference runs, under the
  * session's conf. The DataFrame is then read
  * with that schema given, so building it runs no Spark job: plain
  * `spark.read.parquet` runs its schema merge as a job even for one file.
  * The footer is read again on every call, so a rewritten file is always
  * seen. A path that is not one file (a directory of part files, or a
  * missing path) goes through plain `spark.read.parquet`, with its
  * inference and its errors.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A table stored as one parquet file: its status and its footer. */
  private case class TableFile(status: FileStatus, footer: ParquetMetadata)

  private def pathOf(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** The table file at `path` with its footer, or None when `path` is not
    * one file.
    */
  private def tableFile(spark: SparkSession, path: String): Option[TableFile] = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(hconf).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      TableFile(st, ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hconf),
        ParquetMetadataConverter.NO_FILTER))
    }
  }

  private def hasNanos(footer: ParquetMetadata): Boolean =
    footer.getFileMetaData.getSchema.getColumns.asScala.exists { c =>
      c.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _                                 => false
      }
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = pathOf(sfDir, name)
    read(spark, name, path, tableFile(spark, path))
  }

  private def read(spark: SparkSession, name: String, path: String,
      file: Option[TableFile]): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark's
    // reader rejects unless nanosAsLong is on, and as TIMESTAMP(MICROS)
    // without the isAdjustedToUTC flag, which Spark reads as
    // TIMESTAMP_NTZ (breaking unix_millis & friends). Both are normalized
    // to the session-zone TIMESTAMP the queries and the DuckDB oracle agree
    // on: nanos read raw and truncated ns → µs (DuckDB's TIMESTAMP_NS →
    // TIMESTAMP cast), NTZ cast wall-clock in the session zone (UTC
    // everywhere in this engine, so byte-identical to DuckDB's naive
    // reading). The scan reads nanosAsLong when it runs, so it is set in
    // the session, but only for a file that has a nanos column (or a
    // directory, whose footers are not read here).
    val isEvents = name == "events"
    if (isEvents && file.forall(f => hasNanos(f.footer))) spark.conf.set(NanosAsLong, "true")
    val raw = file match {
      case Some(f) =>
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.status.getPath, f.footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
    if (!isEvents) raw
    else raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** The table's row count: the sum of its row groups' counts in the
    * footer, so no Spark job runs; a path that is not one file is counted
    * by a scan.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    tableFile(spark, pathOf(sfDir, name)) match {
      case Some(f) => f.footer.getBlocks.asScala.map(_.getRowCount).sum
      case None    => load(spark, sfDir, name).count()
    }

  /** [[load]] with a SCALE-ADAPTIVE parallelism floor (r19, guide §2/§6).
    *
    * The testdata ships each table as ONE parquet file of 0.3-10 MB, and
    * Spark's split policy floors the split size at
    * `spark.sql.files.openCostInBytes` (4 MB default): events (2 MB)
    * scans as ONE partition, lineitem (10 MB) as ~3 — so every
    * downstream per-row expression, join probe and partial aggregate of
    * a relational entry ran on 1-3 of the session's cores. A real table
    * at production scale arrives as thousands of splits and needs no
    * help.
    *
    * The floor is DERIVED FROM INPUT SIZE, not a constant: the natural
    * split count is computed with the session's own split policy
    * (mirroring `FilePartition.maxSplitBytes`), and only when it falls
    * below the session's default parallelism is a round-robin
    * `repartition(defaultParallelism)` added. At scale the condition is
    * false and the plan is exchange-free — which also retires the
    * UNCONDITIONAL repartition the DataOps entries carried (an
    * always-on full shuffle of the corpus at any scale, the guide §2.4
    * accidental-exchange class). Results are partitioning-independent
    * by the catalog's own discipline (money in DECIMAL, integer-exact
    * scores, rounded doubles — already proven by the oracle gate
    * passing at varying SPARK_GRAFT_CPUS, which changes both split
    * counts and shuffle partitioning).
    */
  def loadParallel(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = pathOf(sfDir, name)
    val file = tableFile(spark, path)
    val df = read(spark, name, path, file)
    val par = spark.sparkContext.defaultParallelism
    val conf = spark.sessionState.conf
    val (bytes, nFiles) = file match {
      case Some(f) => (f.status.getLen, 1L)
      case None =>
        val files = leafFiles(path)
        (if (files.isEmpty) -1L else files.map(_.length).sum, files.size.toLong)
    }
    // SMALL-TABLE EXEMPTION (r20, the r19 verdict's q-dimension item): a
    // table under openCost/8 (512 KB at the 4 MB default) is
    // dimension-scale — a full single-core pass over it costs less than
    // the exchange the floor would add, and such tables are typically
    // broadcast right after the load anyway (region/nation/supplier/
    // part/customer), so the 32-way fan-out bought nothing and cost a
    // pointless pre-broadcast exchange. The threshold derives from the
    // session's own split policy, not a constant: it scales with
    // whatever open-cost the deployment configured.
    if (bytes >= 0 && bytes < conf.filesOpenCostInBytes / 8) df
    else if (naturalSplits(spark, bytes, nFiles) >= par) df
    else df.repartition(par)
  }

  private def leafFiles(path: String): Seq[java.io.File] = {
    def filesOf(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).toSeq
          .flatMap(filesOf)
      else if (f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")) Seq(f)
      else Seq.empty
    filesOf(new java.io.File(path.stripPrefix("file:").stripPrefix("//")))
  }

  /** Natural scan split count of `nFiles` files of `bytes` in all, under
    * the session's split policy: Spark's `FilePartition.maxSplitBytes` and
    * `getFilePartitions` re-derived.
    *  - Every file is charged `openCostInBytes`:
    *    padded = bytes + nFiles·openCost.
    *  - splitBytes = min(maxPartitionBytes, max(openCost,
    *    padded / minPartitionNum)), where minPartitionNum is
    *    `spark.sql.files.minPartitionNum`, else
    *    `spark.sql.leafNodeDefaultParallelism`, else the context's default
    *    parallelism.
    *  - When splitBytes is the per-core share, the count is
    *    minPartitionNum; otherwise it is estimated as
    *    ceil(padded / splitBytes).
    *  - Above `spark.sql.files.maxPartitionNum`, Spark packs again at
    *    ceil(padded / maxPartitionNum) bytes a split.
    *
    * For many small files of about equal size this is Spark's count. A file
    * larger than a split can make Spark's count one lower. Unreadable paths
    * (`bytes < 0`) report "plenty", so no repartition is added.
    */
  private[sources] def naturalSplits(spark: SparkSession, bytes: Long, nFiles: Long): Long = {
    if (bytes < 0) return Long.MaxValue
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(spark.sparkContext.defaultParallelism)
    val maxSplit = conf.filesMaxPartitionBytes
    val padded = bytes + nFiles * openCost
    def packed(split: Long): Long = (padded + split - 1) / math.max(1L, split)
    val share = padded / math.max(1, minPartitionNum)
    val count =
      if (share > openCost && share < maxSplit) minPartitionNum.toLong
      else packed(math.min(maxSplit, math.max(openCost, share)))
    conf.filesMaxPartitionNum match {
      case Some(max) if count > max => packed((padded + max - 1) / max)
      case _ => count
    }
  }

  /** Register every table as a temp view (for the SQL surface), at the
    * same scale-adaptive parallelism floor as [[loadParallel]].
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => loadParallel(spark, sfDir, n).createOrReplaceTempView(n))
}
