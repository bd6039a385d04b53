package graft

import java.nio.file.{Files, Paths}

/** Write `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (`plans/r12/<query>_<tag>.txt`).
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <tag> <query regex> [executed]`
  * One file per matching query: `<outDir>/<name>_<tag>.txt`. By default
  * plans are captured WITHOUT executing (the initial AQE plan —
  * deterministic and diffable round-over-round). With `executed` each
  * query runs first and the file holds the AQE-final plan, the one that
  * matters for join-strategy questions. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, pattern) = args.take(4)
    val executed = args.drop(4).headOption.contains("executed")
    val re = pattern.r
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.build(cpus, "graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => re.findFirstIn(name).isDefined }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          if (executed) df.queryExecution.toRdd.count()
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          System.err.println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
