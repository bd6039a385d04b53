package graft.perfbench

/** Records the frozen query sample's row counts and normalized hashes:
  * prints `name<TAB>rows<TAB>hash` per query of `queries.tsv`, run in a
  * seeded order. `--list` prints every query name in sorted order instead. */
object Record {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    if (argv.contains("--list")) { graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println); return }
    val root = m("root")
    val spark = graft.GraftSession.build(Runtime.getRuntime.availableProcessors, "perfbench-record")
    val names = Expected.names(s"$root/queries.tsv")
    new scala.util.Random(m("seed").toLong).shuffle(names).foreach { n =>
      val r = Suite.run(spark, n, s"$root/fixture/sf0.01")
      if (r.error != null) System.err.println(s"[record] $n failed: ${r.error}")
      println(s"$n\t${r.rows}\t${r.hash}")
    }
    spark.stop()
  }
}
