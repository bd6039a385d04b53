package graft

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` setting the engine reads — key, type, default and
  * doc in one place, the role the reference's `reference.conf` plays.
  * Values are plain session-conf lookups made at query-build time; nothing
  * is registered with Spark's SQLConf. Two kinds of entry:
  *
  *  - size-gate seams: each moves a gate between a driver-side (or
  *    broadcast) path and its distributed form. Both sides produce the
  *    same rows, so the defaults are what deployments run and the specs
  *    set these only to force the other side on fixture-sized data;
  *  - deployment settings that name an external system (unset = off). */
object GraftConf {

  final class Entry[T] private[GraftConf] (
      val key: String, val default: T, val doc: String, parse: String => T) {
    def get(spark: SparkSession): T = spark.conf.getOption(key).fold(default)(parse)
  }

  private def entry[T](key: String, default: T, doc: String)(parse: String => T) =
    new Entry(key, default, doc, parse)

  val BpeMaxDriverVocab = entry("spark.graft.bpe.maxDriverVocab", 1L << 20,
    "BPE vocabularies up to this many words train on the driver")(_.toLong)
  val BpeMerges = entry("spark.graft.bpe.merges", 16,
    "merge count of the corpus-trained BPE model (the oracle replays the default)")(_.toInt)
  val DedupMaxBroadcastDocs = entry("spark.graft.dedup.maxBroadcastDocs", 1L << 20,
    "corpora up to this many docs broadcast in the dedup/fuzzy/cosine verify joins")(_.toLong)
  val DedupMaxDriverPairs = entry("spark.graft.dedup.maxDriverPairs", 4L << 20,
    "near-dup pair graphs up to this many edges resolve clusters on the driver")(_.toLong)
  val DedupMaxLabelCellVecs = entry("spark.graft.dedup.maxLabelCellVecs", 1L << 12,
    "SemDeDup uses label cells up to this many vectors, k-means cells above")(_.toLong)
  val EvtMaxBroadcastItems = entry("spark.graft.evt.maxBroadcastItems", 1L << 22,
    "item catalogs up to this many items broadcast their dim frames")(_.toLong)
  val LmVocabCap = entry("spark.graft.lm.vocabCap", 1 << 20,
    "top-K token vocabulary the language models broadcast")(_.toInt)
  val LmCmsModel = entry("spark.graft.lm.cmsModel", false,
    "score the unigram LM from a count-min sketch instead of exact counts")(_.toBoolean)
  val MemoMaxEntries = entry("spark.graft.memo.maxEntries", 8,
    "LRU bound of the per-session memo cache (values below 1 act as 1)")(_.toInt)
  val PagerankMaxDriverEdges = entry("spark.graft.pagerank.maxDriverEdges", 4L << 20,
    "PageRank edge lists up to this size iterate on the driver")(_.toLong)
  val ProbeMaxDriverRows = entry("spark.graft.probe.maxDriverRows", 1L << 20,
    "linear-probe training sets up to this many rows train on the driver")(_.toLong)
  val RelationalMaxBroadcastRows = entry("spark.graft.relational.maxBroadcastRows", 4L << 20,
    "TPC-H q9 broadcasts its partsupp side up to this many rows")(_.toLong)
  val TextrankMaxDriverEdges = entry("spark.graft.textrank.maxDriverEdges", 4L << 20,
    "TextRank edge lists up to this size iterate on the driver")(_.toLong)
  val TfidfDfCapFrac = entry[Option[Double]]("spark.graft.tfidf.dfCapFrac", None,
    "unset: cap terms with df > 0.5 of the corpus unless that drops > 20% of " +
      "the vocabulary; set: cap at this fraction unconditionally (0 = off)")(s => Some(s.toDouble))
  val KafkaBootstrap = entry[Option[String]]("spark.graft.kafka.bootstrap", None,
    "Kafka bootstrap servers; unset = KafkaSink.write writes nothing")(Some(_))
  val PubsubTransport = entry[Option[String]]("spark.graft.pubsub.transport", None,
    "registered Pub/Sub transport name; unset = PubSubSink.publish sends nothing")(Some(_))
  val UaDatabase = entry[Option[String]]("spark.graft.ua.database", None,
    "uap-core regexes.yaml refining the built-in user-agent heuristics")(Some(_))

  val entries: Seq[Entry[_]] = Seq(BpeMaxDriverVocab, BpeMerges,
    DedupMaxBroadcastDocs, DedupMaxDriverPairs, DedupMaxLabelCellVecs,
    EvtMaxBroadcastItems, LmVocabCap, LmCmsModel, MemoMaxEntries,
    PagerankMaxDriverEdges, ProbeMaxDriverRows, RelationalMaxBroadcastRows,
    TextrankMaxDriverEdges, TfidfDfCapFrac, KafkaBootstrap, PubsubTransport,
    UaDatabase)
}
