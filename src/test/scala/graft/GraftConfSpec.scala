package graft

/** The `spark.graft.*` registry: every entry reads its documented default
  * while unset and parses a set value to its declared type. */
class GraftConfSpec extends SparkSpec {

  // key -> (documented default, a value to set, what it must parse to)
  private val expected: Map[String, (Any, String, Any)] = Map(
    GraftConf.BpeMaxDriverVocab.key -> ((1L << 20, "0", 0L)),
    GraftConf.BpeMerges.key -> ((16, "10", 10)),
    GraftConf.DedupMaxBroadcastDocs.key -> ((1L << 20, "100", 100L)),
    GraftConf.DedupMaxDriverPairs.key -> ((4L << 20, "0", 0L)),
    GraftConf.DedupMaxLabelCellVecs.key -> ((1L << 12, "0", 0L)),
    GraftConf.EvtMaxBroadcastItems.key -> ((1L << 22, "0", 0L)),
    GraftConf.LmVocabCap.key -> ((1 << 20, "2", 2)),
    GraftConf.LmCmsModel.key -> ((false, "true", true)),
    GraftConf.MemoMaxEntries.key -> ((8, "0", 0)),
    GraftConf.PagerankMaxDriverEdges.key -> ((4L << 20, "0", 0L)),
    GraftConf.ProbeMaxDriverRows.key -> ((1L << 20, "0", 0L)),
    GraftConf.RelationalMaxBroadcastRows.key -> ((4L << 20, "0", 0L)),
    GraftConf.TextrankMaxDriverEdges.key -> ((4L << 20, "0", 0L)),
    GraftConf.TfidfDfCapFrac.key -> ((None, "0.25", Some(0.25))),
    GraftConf.KafkaBootstrap.key -> ((None, "broker:9092", Some("broker:9092"))),
    GraftConf.PubsubTransport.key -> ((None, "memory", Some("memory"))),
    GraftConf.UaDatabase.key -> ((None, "/tmp/regexes.yaml", Some("/tmp/regexes.yaml"))))

  test("the registry holds 17 distinct spark.graft keys") {
    val keys = GraftConf.entries.map(_.key)
    assert(keys.size === 17 && keys.distinct.size === 17)
    assert(keys.forall(_.startsWith("spark.graft.")))
    assert(keys.toSet === expected.keySet)
  }

  GraftConf.entries.foreach { e =>
    test(s"${e.key}: unset reads the default, a set value parses to its type") {
      val (default, raw, typed) = expected(e.key)
      // `==` on boxed numbers is cooperative (1 == 1L), so pin the class too
      def same(a: Any, b: Any) = a == b && a.getClass == b.getClass
      spark.conf.unset(e.key)
      assert(same(e.default, default), s"default ${e.default}")
      assert(same(e.get(spark), default))
      spark.conf.set(e.key, raw)
      try assert(same(e.get(spark), typed), s"$raw parsed to ${e.get(spark)}")
      finally spark.conf.unset(e.key)
    }
  }
}
