package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.streaming.StreamingIngest

/** The one definition of an engine session. Every main and the test
  * suite build their session here, so a query means the same thing in
  * each of them.
  */
object GraftSession {

  /** Worker threads for [[local]] sessions: `SPARK_GRAFT_CPUS`, else
    * every available processor.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The settings every session shares, on any master. */
  private def builder(appName: String, master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      // JVM (not ICU) case mapping: the ASCII corpus makes them identical,
      // and ICU's CollationAwareUTF8String class-init stalls 20-110 s when
      // the JIT queue is busy (measured; first lower()/upper() pays it)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // reference semantics: malformed values drop rows, never raise
      // (SURVEY §1.2); also required by wrap-around hash arithmetic
      .config("spark.sql.ansi.enabled", "false")
      // plan fingerprints must be SESSION-STATE-INDEPENDENT: the default
      // 100-char metadata truncation cuts DataFilters/ReadSchema at a
      // RAW-character budget, so longer accumulated expression ids
      // (#12345 vs #12) shift the "..." cut point and change the
      // canonical hash with zero plan change. A large budget removes
      // truncation; normalization then yields identical strings in any
      // session.
      .config("spark.sql.maxMetadataStringLength", "100000")
      // streams: checkpoint logs written without a process per file, and
      // generated classes shared by every query; an explicit value wins
      .config(StreamingIngest.SessionSettings.map { case (k, v) => k -> explicitOr(k, v) }.toMap)

  /** `value`, unless the running session or the Spark conf (`--conf`, a
    * system property) sets `key`.
    */
  private def explicitOr(key: String, value: String): String =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getAll.get(key))
      .orElse(new SparkConf().getOption(key))
      .getOrElse(value)

  /** The running session, or a new one on `master` with the shared
    * settings.
    */
  def getOrCreate(appName: String, master: String): SparkSession =
    create(builder(appName, master))

  /** `settings.getOrCreate()` with the engine's SQL surface installed. */
  private def create(settings: SparkSession.Builder): SparkSession = {
    val spark = settings.getOrCreate()
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** A `local[cpus]` session with one shuffle partition per worker, no
    * UI and WARN logging.
    */
  def local(appName: String, cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = create(builder(appName, s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
