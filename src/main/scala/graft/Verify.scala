package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small thread pool: Spark's scheduler interleaves the
  * jobs, overlapping per-query planning/codegen fixed costs (the dominant
  * cost at sf0.01) across queries.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated entry-name filter for local
    // iteration ("sbt 'runMain graft.Verify <sf> <out> d22_x,t17_y'");
    // the driver's two-arg call runs the full catalog as before
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // Waves, not one big gang: operator-internal persists (p03's gated
    // corpus, minhash's shingle table, scrub's norm projection) have no
    // release point inside a returned plan, so in a single 94-query
    // session they'd accumulate for the whole run (memory pressure /
    // spill; the same stacking degraded repeated d15 runs ~3×). Between
    // waves every in-flight query is done → sweeping + GC'ing is safe
    // (no cache is yanked from under a running job) and bounds resident
    // caches to one wave's worth.
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .grouped(12).foreach { wave =>
      val runs = wave.map { case (name, fn) =>
        Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
      Await.result(Future.sequence(runs), Duration.Inf)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc() // let ContextCleaner drop broadcasts/shuffles too
    }

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // SELF-CHECK evaluation for the no-oracle entries (q33/q48/s02/d15):
    // their outputs embed boolean pass / *_in_bound invariant columns; a
    // rows-only record hides whether the invariant held, so evaluate it
    // here and emit self_check.json (name -> true iff EVERY flag column is
    // true on EVERY row; NULL counts as failure). Printed too, so the
    // verdict trail has it even if the driver only keeps stdout.
    val selfChecks = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(SparkEntry.oracleSql.contains)
      // targeted runs only dumped the named entries — evaluating the
      // rest would just print PATH_NOT_FOUND noise
      .filter(name => only.forall(_.contains(name)))
      .flatMap { name =>
        try {
          val df = spark.read.parquet(s"$outDir/$name")
          val flags = df.schema.fields.collect {
            case f if f.dataType == org.apache.spark.sql.types.BooleanType &&
              (f.name == "pass" || f.name.endsWith("in_bound")) => f.name
          }
          if (flags.isEmpty) None
          else {
            import org.apache.spark.sql.functions.{col, coalesce, lit, min}
            val row = df.agg(
              min(flags.map(f => coalesce(col(f), lit(false)))
                .reduce(_ && _)).as("ok")).head
            // empty result → min is NULL → the invariant was never observed
            val allTrue = !row.isNullAt(0) && row.getBoolean(0)
            System.err.println(s"[verify] self_check $name=$allTrue (${flags.mkString(",")})")
            Some(name -> allTrue)
          }
        } catch { case e: Throwable =>
          System.err.println(s"[verify] self_check $name failed: ${e.getMessage}")
          Some(name -> false)
        }
      }
    val scJson = selfChecks
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/self_check.json"), scJson)
    spark.stop()
    // the pool's threads are non-daemon: without shutdown the JVM (and the
    // driver's verify step) hangs forever after the work is done
    pool.shutdown()
    sys.exit(0)
  }
}
