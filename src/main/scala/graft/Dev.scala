package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Developer tooling in one main. `<names>` is a comma list of catalog
  * entries or `all`.
  * {{{
  * Dev show <name> [sfDir] [maxRows]       print an entry's rows
  * Dev time <names> [sfDir] [reps]         Bench's protocol: warm-up, then
  *                                         median/min/max of reps noop writes,
  *                                         with the median DataFrame build
  *                                         seconds and the jobs a build runs
  * Dev plan [sfDir] [names] [--write F] [--explain DIR]
  *                                         plan fingerprints; F in PLANS_rNN
  *                                         format, DIR/<name>.txt formatted
  *                                         explain per entry
  * Dev calib                               Bench's calibration probes
  * Dev parse-rate [sfDir] [reps]           Bench's per-core parse segment
  * Dev functions                           the engine's SQL functions
  * }}}
  * Sessions are [[GraftSession.local]]: plan hashes carry the shuffle
  * partition count, so compare them only at equal `SPARK_GRAFT_CPUS`.
  */
object Dev {

  private val testdata = "/root/testdata"

  def main(args: Array[String]): Unit = args.toList match {
    case "show" :: name :: rest => withSession("show") { spark =>
      SparkEntry.queries(name)(spark, rest.lift(0).getOrElse(s"$testdata/sf0.01"))
        .show(rest.lift(1).fold(50)(_.toInt), truncate = false)
    }
    case "time" :: ns :: rest => withSession("time") { spark =>
      val sfDir = rest.lift(0).getOrElse(s"$testdata/sf0.01")
      val reps = rest.lift(1).fold(3)(_.toInt)
      val entries = names(ns)
      Measure.warm(spark, entries, "time")
      entries.foreach { name =>
        val (s, jobs) = Measure.buildJobs(spark)(Measure.entry(spark, name, sfDir, reps, "time"))
        println(f"[time] $name%-28s median=${s.median}%.2fs min=${s.min}%.2fs max=${s.max}%.2fs " +
          f"build=${s.build}%.3fs build_jobs=${jobs.toDouble / reps}%.1f")
      }
    }
    case "plan" :: rest => plan(rest)
    case "calib" :: Nil => withSession("calib") { spark =>
      spark.range(1L << 20).count() // absorb first-action init
      val (cpu, sink) = Calib.cpuProbeMs()
      val query = Calib.queryProbeMs(spark)
      println(f"[calib] cpu=$cpu%.0fms query=$query%.0fms (sink=$sink)")
    }
    case "parse-rate" :: rest => withSession("parse-rate") { spark =>
      val rates = Bench.parseRates(spark, rest.lift(0).getOrElse(s"$testdata/sf0.1"),
        rest.lift(1).fold(5)(_.toInt))
      rates.zipWithIndex.foreach { case (r, i) =>
        println(f"[parse-rate] rep${i + 1} $r%,.0f lines/s/core")
      }
      println(f"[parse-rate] BEST ${rates.max}%,.0f lines/s/core")
    }
    case "functions" :: Nil =>
      val fns = plans.GraftExtensions.functions
        .map { case (id, inf, _) => (id.funcName, inf.getUsage) }
        .sortBy(_._1)
      fns.foreach { case (n, u) => println(s"$n\t$u") }
      println(s"-- ${fns.size} registered functions")
    case _ =>
      System.err.println("usage: graft.Dev show|time|plan|calib|parse-rate|functions " +
        "[args] (see the Dev scaladoc)")
      sys.exit(2)
  }

  private def names(arg: String): Seq[String] =
    if (arg == "all") SparkEntry.queries.keys.toSeq.sorted else arg.split(",").toSeq

  private def withSession(cmd: String)(f: SparkSession => Unit): Unit = {
    val spark = GraftSession.local(s"graft-dev-$cmd")
    try f(spark) finally spark.stop()
  }

  private def plan(args: List[String]): Unit = {
    // a flag is never read as a positional: `--write F` in the names
    // slot (a forgotten "all") would otherwise become an entry list and
    // silently clobber the artifact with one ERROR row
    def split(xs: List[String], pos: List[String],
        flags: Map[String, String]): (List[String], Map[String, String]) = xs match {
      case (k @ ("--write" | "--explain")) :: v :: tail => split(tail, pos, flags + (k -> v))
      case k :: _ if k.startsWith("--") => sys.error(s"bad flag $k in ${args.mkString(" ")}")
      case x :: tail => split(tail, pos :+ x, flags)
      case Nil => (pos, flags)
    }
    val (pos, flags) = split(args, Nil, Map.empty)
    val sfDir = pos.lift(0).getOrElse(s"$testdata/sf0.01")
    val ns = names(pos.lift(1).getOrElse("all"))
    withSession("plan") { spark =>
      val rows = PlanFingerprint.catalog(spark, sfDir, ns)
      rows.foreach { case (name, h, _, _) => println(s"[plan] $name $h") }
      flags.get("--write").foreach { f =>
        PlanFingerprint.write(f, rows)
        println(s"[plan] wrote $f")
      }
      flags.get("--explain").foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        ns.foreach { name =>
          try {
            val txt = SparkEntry.queries(name)(spark, sfDir)
              .queryExecution.explainString(FormattedMode)
            Files.write(Paths.get(dir, s"$name.txt"), txt.getBytes(StandardCharsets.UTF_8))
            println(s"[plan] $name -> $dir/$name.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plan] explain $name FAILED: $e")
          }
        }
      }
    }
  }
}
