package graft

import graft.queries.DocQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus-curation spine on real test data — the documents-side
  * counterpart of [[Pipeline]]'s event spine: C4-style quality filters →
  * exact dedup → benchmark decontamination → stratified sampling →
  * context-window chunking. Every stage MATERIALIZES a documents-shaped
  * parquet directory (how production curation actually runs: stages
  * checkpoint to the lake, so reruns resume from any stage and every stage
  * is independently auditable — each intermediate dir is readable by every
  * documents-side operator in `SparkEntry.queries`), and the final chunk
  * table is the
  * training-row output. Row accounting is printed per stage and the chain
  * re-verified on read-back.
  *
  * Usage: `runMain graft.CorpusPipeline <sfDir> <outDir>`.
  */
object CorpusPipeline {

  /** Runs the pipeline; returns (stage name, surviving row count) in
    * order. Factored out of main so tests drive it directly. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    def write(df: DataFrame, stage: String): String = {
      val dir = s"$outDir/$stage"
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def docs(d: String): DataFrame = Tables.documents(spark, d)

    val raw = docs(sfDir)

    // 1. quality filters: the flag-don't-drop chain decides; the pipeline
    //    is where the drop actually happens
    val keep = DocQueries.filterChainOn(raw)
      .filter(col("keep")).select("doc_id")
    val s1 = write(raw.join(keep, "doc_id"), "s1_filtered")

    // 2. exact dedup: only canonical copies survive
    val canonical = DocQueries.dedupExact(spark, s1)
      .select(col("canonical_doc_id").as("doc_id"))
    val s2 = write(docs(s1).join(canonical, "doc_id"), "s2_deduped")

    // 3. decontamination: drop training docs whose normalized fingerprint
    //    collides with the held-out slice (and the slice itself)
    val clean = DocQueries.decontaminate(spark, s2)
      .filter(!col("contaminated")).select("doc_id")
    val s3 = write(docs(s2).join(clean, "doc_id"), "s3_decontaminated")

    // 4. deterministic stratified sample per (source, lang)
    val picked = DocQueries.stratifiedSample(spark, s3).select("doc_id")
    val s4 = write(docs(s3).join(picked, "doc_id"), "s4_sampled")

    // 5. context-window chunking: the training-row table
    val chunks = DocQueries.chunk(spark, s4)
    chunks.write.mode("overwrite").parquet(s"$outDir/s5_chunks.parquet")

    Seq(
      "raw" -> raw.count(),
      "s1_filtered" -> docs(s1).count(),
      "s2_deduped" -> docs(s2).count(),
      "s3_decontaminated" -> docs(s3).count(),
      "s4_sampled" -> docs(s4).count(),
      "s5_chunks" -> Tables.open(spark, s"$outDir/s5_chunks.parquet").count())
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-corpus")
    val counts = run(spark, sfDir, outDir)
    counts.foreach { case (s, n) => println(f"[corpus] $s%-18s $n%8d rows") }
    val doc = counts.dropRight(1).map(_._2)
    require(doc.zip(doc.tail).forall { case (a, b) => b <= a },
      s"document counts must shrink monotonically: $counts")
    spark.stop()
  }
}
