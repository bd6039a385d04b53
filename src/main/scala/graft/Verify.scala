package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.build(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset knob (the driver never sets it): regex over query names.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // Sorted order: deterministic, and memo-sharing families (doc_tfidf_*,
    // doc_setsim_*, …) run adjacently so a shared index survives the
    // bounded MemoCache for all of its consumers (same rationale as Bench).
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): the compare wants one file, but
      // coalesce would collapse every un-shuffled upstream stage into one
      // task (a verify-heavy query like fuzzy dedup then runs serially);
      // the explicit exchange keeps upstream parallelism and only the
      // final file write is single-threaded.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    // `{GRAFT_OUT}` → this dump directory: lets an oracle read PAIR/ID
    // columns back from the Spark output it is checking (scores are always
    // recomputed oracle-side) — how emb_hnsw_rerank oracles a rerank whose
    // candidate set comes from a graph walk no SQL engine can replay.
    val absOut = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{GRAFT_OUT}", absOut))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
