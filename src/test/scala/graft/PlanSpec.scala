package graft

import graft.queries.RelationalQueries
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make these queries survive a
  * 100x scale-up must hold in the physical plan, not just in intent. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  /** All nodes of the executed plan TREE (adaptive stages unwrapped, and
    * CACHED relations expanded into their underlying compute plan — several
    * operators return MemoCache-backed frames, and a gate that only saw
    * the InMemoryTableScan would pass trivially no matter what the real
    * pipeline does) — for assertions that must not depend on plan-text
    * formatting. */
  private def planNodes(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: walk(q.plan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m +: walk(m.relation.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("q1/q6: predicates reach the parquet scan (PushedFilters)") {
    val p1 = plan(RelationalQueries.q1(spark, sf))
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val p6 = plan(RelationalQueries.q6(spark, sf))
    assert(p6.contains("GreaterThanOrEqual(l_discount,0.05)"))
    assert(p6.contains("LessThan(l_quantity,24.0)"))
  }

  test("q1: column pruning — only needed lineitem columns are read") {
    val p = plan(RelationalQueries.q1(spark, sf))
    assert(p.contains("l_quantity"))
    assert(!p.contains("l_partkey"), "unused column not pruned from scan")
  }

  test("q3: dims broadcast; top-N is TakeOrderedAndProject, not global sort") {
    val p = plan(RelationalQueries.q3(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q5: star join is all broadcast hash joins (no sort-merge at dim scale)") {
    val p = plan(RelationalQueries.q5(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("flagship entry produces rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("ann LSH: probe side broadcasts; no sort-merge join on the corpus") {
    val p = plan(graft.queries.EmbeddingQueries.queries("emb_ann_lsh")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "corpus must never shuffle-sort against probes")
  }

  test("ann IVF: centroids and query cells broadcast; corpus assignment " +
      "partial-aggregates map-side") {
    val p = plan(graft.queries.EmbeddingQueries.queries("emb_ann_ivf")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    // max(struct(...)) assignment must be a two-phase hash aggregate
    // (partial before the exchange), not a window sort over every pair
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("source decode paths are exchange-free narrow pipelines") {
    val pb = plan(graft.queries.SourceQueries.queries("src_browser_roundtrip")(spark, sf))
    assert(!pb.contains("Exchange"), "browser decode must not shuffle")
    val pj = plan(graft.queries.SourceQueries.queries("src_json_roundtrip")(spark, sf))
    assert(!pj.contains("Exchange"), "json decode must not shuffle")
  }

  test("sessionize: exactly one exchange (user key), session merge is native") {
    val p = plan(graft.queries.EventQueries.queries("evt_sessionize")(spark, sf))
    assert("Exchange".r.findAllIn(p).length <= 2, // key shuffle (+AQE read)
      "sessionization must shuffle once on the session key")
    assert(!p.contains("CartesianProduct"))
  }

  test("geo enrichment: prefix-split range join plans as a broadcast HASH join") {
    val p = plan(graft.queries.EnrichQueries.queries("geo_enrich")(spark, sf))
    // the prefix-equality key makes the range join hashable — a
    // BroadcastNestedLoopJoin here would be O(dim) per event at scale
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("text cleaning (pii scrub / html strip) are exchange-free narrow scans") {
    val pp = plan(graft.queries.DocQueries.queries("doc_pii_scrub")(spark, sf))
    assert(!pp.contains("Exchange"), "pii scrub must be a pure map stage")
    val ph = plan(graft.queries.DocQueries.queries("doc_html_strip")(spark, sf))
    assert(!ph.contains("Exchange"), "html strip must be a pure map stage")
  }

  test("filter chain and unigram LM scoring are exchange-free narrow scans") {
    val pf = plan(graft.queries.DocQueries.queries("doc_filter_chain")(spark, sf))
    assert(!pf.contains("Exchange"), "filter chain must be a pure map stage")
    val pl = plan(graft.queries.DocQueries.queries("doc_unigram_lm")(spark, sf))
    assert(!pl.contains("Exchange"),
      "LM scoring must be narrow (the model broadcasts; only its build shuffles)")
  }

  test("source mix: partial aggregation + one-row broadcast total, no sort-merge") {
    val p = plan(graft.queries.DocQueries.queries("doc_source_mix")(spark, sf))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin"), "corpus total must broadcast, not shuffle-sort")
  }

  test("vocab top-k: ordering is TakeOrderedAndProject, not a global sort") {
    val p = plan(graft.queries.DocQueries.queries("doc_vocab_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("chunking is an exchange-free narrow generate stage") {
    val p = plan(graft.queries.DocQueries.queries("doc_chunk")(spark, sf))
    assert(!p.contains("Exchange"), "chunking must be a pure per-row stage")
    assert(p.contains("Generate"))
  }

  test("paragraph dedup: two keyed exchanges (hash, then doc), no joins") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_paragraph_dedup")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "first-occurrence rank must not self-join")
    // counted from the plan TREE, not formatted text: exactly the two key
    // changes (paragraph hash for the rank, doc_id for the reassembly)
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 2,
      s"paragraph dedup is one shuffle per key change, got $exchanges")
  }

  test("semantic dedup: cells broadcast; the pair pass is cell-keyed, not cartesian") {
    val df = graft.queries.EmbeddingQueries.queries("emb_semdedup")(spark, sf)
    val nodes = planNodes(df)
    // centroid assignment: tiny cell table broadcast against the corpus scan
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
    // the pair pass must key on the cell (never an unkeyed product): the
    // equi-join on cell plans as a keyed join whose leftKeys/rightKeys
    // actually carry the cell attribute
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "pairing must be confined to cells via the equi-join key")
    val keyedJoins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledJoin => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(keyedJoins.exists {
      case j: org.apache.spark.sql.execution.joins.HashJoin =>
        j.leftKeys.exists(_.references.exists(_.name == "cell"))
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.exists(_.references.exists(_.name == "cell"))
      case _ => false
    }, "the pair join's equi-keys must include the cell attribute")
  }

  test("substring dedup: window-hash + doc rollup, no cartesian, bounded exchanges") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_substring_dedup")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    // hash-key shuffle for the global frequency, doc-key shuffle for the
    // rollup, plus at most the join-back alignment on doc_id
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 4,
      s"substring dedup should stay at the paragraph-dedup shape, got $exchanges")
  }

  test("contamination rate: benchmark n-grams broadcast against the corpus") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_contamination_rate")(spark, sf))
    // the benchmark set probes as a broadcast hash join — the corpus side
    // must never shuffle-sort against it
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "benchmark probe must broadcast, not shuffle the corpus")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("record link: blocking is a keyed broadcast join, never a product") {
    val nodes = planNodes(
      RelationalQueries.queries("cust_record_link")(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the registry side must broadcast while dim-sized")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "candidate pairs must come from the blocking equi-join")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
  }

  test("mutual info, BH-FDR, changepoint, DiD: model-sized tails, no cartesian products") {
    Seq("evt_mutual_info", "evt_fdr_bh", "evt_changepoint", "evt_did").foreach { q =>
      val nodes = planNodes(
        graft.queries.EventQueries.queries(q)(spark, sf))
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$q must not plan a cartesian product")
      // the stream-scale aggregation partially combines map-side before
      // its exchange (cells/daily grain)
      assert(nodes.exists {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
          a.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
        case _ => false
      }, s"$q must partial-aggregate map-side")
    }
  }

  test("tfidf knn: probes broadcast; nothing plans as a cartesian product") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_tfidf_knn")(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "probe vectors and probe norms must reach the corpus by broadcast")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "sparse search must stay keyed on the term/posting structure")
  }

  test("hash classifier: model-free inference is an exchange-free narrow scan") {
    val p = plan(graft.queries.DocQueries.queries("doc_hash_classifier")(spark, sf))
    assert(!p.contains("Exchange"),
      "hashed-weight inference must be a pure per-row stage")
  }

  test("ngram novelty: keyed exchanges only, no pair blow-up joins") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_ngram_novelty")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    // shingle-key aggregation, postings join alignment, doc-key rollup
    // (+ the doc-id join-back when AQE doesn't broadcast it)
    assert(exchanges <= 5,
      s"novelty must stay linear in the posting count, got $exchanges")
  }

  test("rerank ANN: probes broadcast for both stages; corpus never shuffle-joins") {
    val nodes = planNodes(
      graft.queries.EmbeddingQueries.queries("emb_ann_rerank")(spark, sf))
    // coarse pass: corpus x broadcast(queries) — a nested-loop over the
    // tiny broadcast side, same shape as knnBrute
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the corpus must never shuffle-sort against the probe set")
  }

  test("q7: one fact scan, dims broadcast, shipdate pushed down") {
    val df = RelationalQueries.q7(spark, sf)
    val p = plan(df)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate must reach the scan")
    val nodes = planNodes(df)
    val bhj = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj >= 2, s"supplier+customer sides must broadcast, got $bhj")
    // lineitem appears in exactly one scan: the star reads the fact once
    val factScans = nodes.count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
      case _ => false
    }
    assert(factScans === 1, s"fact table must be scanned once, got $factScans")
  }

  test("q10: returnflag+date pushed down; top-20 is TakeOrdered, not global sort") {
    val df = RelationalQueries.q10(spark, sf)
    val p = plan(df)
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag must reach the scan")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("q18: fact aggregates before any join; top-k is TakeOrdered") {
    val df = RelationalQueries.q18(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"))
    val nodes = planNodes(df)
    // the HAVING-filtered aggregate must sit BELOW both joins: no join
    // node may have a raw lineitem scan as a descendant without the agg
    def subtreeHasAgg(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.collectFirst { case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }.isDefined
    nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.foreach { j =>
      val scansLineitem = j.collectLeaves().exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
        case _ => false
      }
      if (scansLineitem)
        assert(subtreeHasAgg(j), "lineitem must aggregate before joining")
    }
  }

  test("attribution: one user-key exchange, no join operators") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_attribution")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "the bounded as-of must be the union-window composition, not a range join")
    val keyed = nodes.count {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        !e.toString.contains("RoundRobin") // fixture-shape input rebalance
      case _ => false
    }
    assert(keyed <= 1, s"attribution must shuffle once on the user key, got $keyed")
  }

  test("session features: all aggregates ride the one sessionize exchange") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_session_features")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "type counts must be conditional aggregates, not a pivot re-join")
    val keyed = nodes.count {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        !e.toString.contains("RoundRobin")
      case _ => false
    }
    assert(keyed <= 1, s"one session exchange expected, got $keyed")
  }

  test("media dedup: the blob never shuffles — only digest and id do") {
    val nodes = planNodes(
      graft.queries.EnrichQueries.queries("media_dedup")(spark, sf))
    nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      val cols = e.child.output.map(_.name.toLowerCase)
      assert(!cols.exists(_.contains("blob")),
        s"a shuffle carries the raw media payload: $cols")
    }
  }

  test("phash dedup: chunk-blocked equi-join — no cartesian, image bytes never shuffle") {
    val nodes = planNodes(
      graft.queries.EnrichQueries.queries("media_phash_dedup")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "pair search planned as a cartesian product")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "pair search planned as a nested-loop join")
    nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.foreach { e =>
      val cols = e.child.output.map(_.name.toLowerCase)
      assert(!cols.exists(c => c.contains("blob") || c.contains("synth_bmp")),
        s"a shuffle carries the raw image payload: $cols")
    }
  }

  test("interval join: bucketized range join plans as a hash join, never nested-loop") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_interval_join")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "interval join planned as a cartesian product")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "interval join planned as a nested-loop join")
    assert(nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "no equi-join operator found — bucketization did not take effect")
  }

  test("collocations: keyed joins only, no cartesian pair blow-up") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_collocations")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(plan(graft.queries.DocQueries.queries("doc_collocations")(spark, sf))
      .contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("sq codes: one stats exchange, then a narrow encode stage") {
    val nodes = planNodes(
      graft.queries.EmbeddingQueries.queries("emb_sq_codes")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the one-row stats must broadcast, never shuffle-sort")
    val keyed = nodes.count {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        !e.toString.contains("RoundRobin")
      case _ => false
    }
    assert(keyed <= 2, s"stats build must be the only exchanges, got $keyed")
  }

  test("sq search: stats row and queries broadcast; corpus never shuffle-joins") {
    val nodes = planNodes(
      graft.queries.EmbeddingQueries.queries("emb_sq_search")(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "the one-row stats / tiny query set must broadcast onto the corpus scan")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the corpus must never shuffle-sort against broadcast-sized inputs")
  }

  test("q8: one fact scan; part/customer/nation sides all broadcast") {
    val df = RelationalQueries.q8(spark, sf)
    val nodes = planNodes(df)
    val bhj = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj >= 3, s"part, customer and nation-region sides must broadcast, got $bhj")
    val factScans = nodes.count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
      case _ => false
    }
    assert(factScans === 1, s"fact table must be scanned once, got $factScans")
  }

  test("q12: one orderkey join, no cartesian, tiny final group") {
    val nodes = planNodes(RelationalQueries.q12(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    // lineitem + orders onto orderkey, then the 5-row priority gather
    assert(exchanges <= 3, s"q12 must stay a single key join + group, got $exchanges")
  }

  test("q14: shipdate pushed down; part dim broadcasts") {
    val df = RelationalQueries.q14(spark, sf)
    val p = plan(df)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate must reach the scan")
    assert(planNodes(df).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "part must broadcast")
  }

  test("q15: max-revenue joins back broadcast — no single-partition window") {
    val nodes = planNodes(RelationalQueries.q15(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "supplier cardinality is unbounded — an unpartitioned window would serialize")
    assert(nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "the one-row max must broadcast onto the aggregate")
  }

  test("q17: part filter pushed to the dim scan; ONE fact scan with a " +
       "per-part window — the aggregate-and-rejoin form scanned lineitem twice") {
    val df = RelationalQueries.q17(spark, sf)
    val p = plan(df)
    assert(p.contains("EqualTo(p_brand,Brand#3)"), "brand filter must reach the part scan")
    val nodes = planNodes(df)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "filtered part dim must broadcast")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "per-part avg must be a window over the joined slice, not a second scan")
    val factScans = nodes.count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
      case _ => false
    }
    assert(factScans === 1, s"exactly one lineitem scan, got $factScans")
  }

  test("q19: brand IN-list pushed to the part scan; single fact scan") {
    val df = RelationalQueries.q19(spark, sf)
    val p = plan(df)
    assert(p.contains("In(p_brand"), "brand IN-list must reach the part scan")
    val factScans = planNodes(df).count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
      case _ => false
    }
    assert(factScans === 1)
  }

  test("q21: keyed exchanges only, no cartesian; top-20 is TakeOrdered") {
    val df = RelationalQueries.q21(spark, sf)
    val nodes = planNodes(df)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(plan(df).contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("q22: dormancy is an anti-join; the balance average broadcasts") {
    val df = RelationalQueries.q22(spark, sf)
    val nodes = planNodes(df)
    val anti = nodes.exists {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }
    assert(anti, "no-recent-orders must plan as LeftAnti, not a distinct+outer-join")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
  }

  test("q9: one fact scan; dims broadcast; partsupp broadcast is ROW-GATED " +
      "(fact-scale: ~8B rows at 100x must fall back to the shuffled hash join)") {
    def subtree(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => subtree(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => subtree(q.plan)
      case other => other +: other.children.flatMap(subtree)
    }
    // OPEN gate (fixture scale: 4*|part| rows sit far under the default
    // bound): ps broadcasts — no fact-side exchange on (partkey, suppkey).
    val df = RelationalQueries.q9(spark, sf)
    val nodes = planNodes(df)
    val bhj = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj >= 4, s"part/supplier/nation/ps sides must broadcast, got $bhj")
    val factScans = nodes.count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
      case _ => false
    }
    assert(factScans === 1, s"fact table must be scanned once, got $factScans")
    // CLOSED gate (warehouse scale): the derived partsupp — q9's only
    // explode (GenerateExec) — must NEVER ride a BroadcastExchange (that
    // OOMs the driver at ~8B rows); the join degrades to the shuffled hash
    // join, and both physical forms produce identical rows.
    spark.conf.set(GraftConf.RelationalMaxBroadcastRows.key, "0")
    try {
      val closed = RelationalQueries.q9(spark, sf)
      val cn = planNodes(closed)
      val broadcastsGenerate = cn.exists {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          subtree(b).exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
        case _ => false
      }
      assert(!broadcastsGenerate,
        "closed gate: partsupp must never be a broadcast build side")
      assert(cn.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
        "closed gate: fact x partsupp must be a shuffled hash join")
      val open = df.collect().map(_.toString).sorted
      val clos = closed.collect().map(_.toString).sorted
      assert(open.sameElements(clos),
        "gate setting must not change q9's rows")
    } finally spark.conf.unset(GraftConf.RelationalMaxBroadcastRows.key)
  }

  test("q20: qualification ends in a semi-join; no cartesian") {
    val nodes = planNodes(RelationalQueries.q20(spark, sf))
    assert(nodes.exists {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }, "supplier qualification must plan as LeftSemi")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("q13: the zero bucket survives — outer join, then two-phase agg") {
    val rows = RelationalQueries.q13(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum ===
      graft.Tables.customer(spark, sf).count(), "every customer in one bucket")
  }

  test("mix apply: corpus side broadcast-joins the weight table, never shuffles") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_mix_apply")(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "thresholds must broadcast onto the corpus scan")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the corpus must never shuffle-sort against a source-cardinality table")
    // only the weight-table build shuffles (per-source agg + its one-row
    // rollup); the corpus-side scan → join → filter is exchange-free
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 2,
      s"only the tiny weight build may exchange, got $exchanges")
  }

  test("curriculum: no single-partition window — global order is arithmetic") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_curriculum")(spark, sf))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "an unpartitioned window would funnel the corpus through one task")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "source sizes must broadcast, not shuffle-join")
  }

  test("ewma: the fold is a native expression — no ScalaUDF in the plan") {
    val df = graft.queries.EventQueries.queries("evt_ewma")(spark, sf)
    assert(!plan(df).toLowerCase.contains("scalaudf"),
      "the smoothing fold must stay inside codegen")
    assert(plan(df).contains("ewma_fold"))
  }

  test("pattern search: one user-key exchange + TakeOrdered, no UDF") {
    val df = graft.queries.EventQueries.queries("evt_pattern_topk")(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.toLowerCase.contains("scalaudf"),
      "window math must be unrolled built-ins inside codegen")
    val exchanges = planNodes(df).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 1, s"only the user_id window may shuffle, got $exchanges")
  }

  test("zorder: pure narrow bit math — exchange-free, no UDF") {
    val df = graft.queries.EventQueries.queries("evt_zorder")(spark, sf)
    val nodes = planNodes(df)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "the layout key is per-row math; nothing may shuffle")
    assert(!plan(df).contains("BatchEvalPython") && !plan(df).toLowerCase.contains("scalaudf"),
      "the interleave must be built-in expressions inside codegen")
  }

  test("hilbert: narrow codegen'd transform — exchange-free, no UDF") {
    val df = graft.queries.EventQueries.queries("evt_hilbert")(spark, sf)
    val nodes = planNodes(df)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "the layout key is per-row math; nothing may shuffle")
    assert(!plan(df).contains("BatchEvalPython") && !plan(df).toLowerCase.contains("scalaudf"),
      "hilbert_index is a native expression inside codegen, not a UDF")
  }

  test("rolling distinct: day list broadcasts; register table never sort-merges") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_rolling_distinct")(spark, sf))
    assert(nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the distinct-day list must broadcast onto the register table")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
  }

  test("anomaly: one user-key exchange, no joins — the sessionize shape") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_anomaly")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "per-user moments must come from the window pass, not an agg-join-back")
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 1, s"anomaly must shuffle once on user_id, got $exchanges")
  }

  test("HLL rollup: register merge is a partial aggregation, not a re-shuffle per level") {
    val p = plan(graft.queries.EventQueries.queries("evt_daily_rollup_approx")(spark, sf))
    // two-level (register, then group) aggregation: both levels hash
    // aggregates with map-side partials — mergeable-sketch scale shape
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }
  test("gear nosupp chunking: a narrow projection, no exchange at all") {
    // the raw gear walk collapses in-row (expression → posexplode → md5);
    // any Exchange here means the chunk explode picked up a shuffle
    val nodes = planNodes(graft.queries.DocQueries.queries("doc_cdc_gear_nosupp")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "gear nosupp must stay a narrow per-row pipeline")
  }

  test("hnsw rerank: candidates and queries broadcast — the corpus never " +
       "sort-merge-joins") {
    val nodes = planNodes(graft.queries.EmbeddingQueries.queries("emb_hnsw_rerank")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "rerank joins must be broadcast probes of the gathered candidate set")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("tfidf capped: posting pruning rides the TopK partial agg, not a window") {
    // the impact cap must partial-aggregate map-side (shuffle carries
    // <= cap rows per (term, split)); a term-partitioned rank window would
    // pile Zipf-hot postings onto one reducer — the skew this avoids
    // planNodes, not explain text: the capped tail is MemoCache-backed now,
    // so the gate must look through the InMemoryRelation at the real plan
    val p = planNodes(
      graft.queries.DocQueries.queries("doc_tfidf_capped")(spark, sf))
      .map(_.toString).mkString("\n")
    assert(p.contains("partial_topkbyvalue"),
      "posting cap lost its map-side partial")
  }

  test("setsim join / fuzzy dedup: candidate generation is keyed, never a product") {
    for (op <- Seq("doc_setsim_join", "doc_setsim_capped", "doc_fuzzy_dedup",
        "doc_fuzzy_blocked")) {
      val nodes = planNodes(graft.queries.DocQueries.queries(op)(spark, sf))
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$op: candidates must come from the shingle-prefix/length-band " +
          "equi-join, not an all-pairs product")
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
        s"$op: no nested-loop join anywhere in the pipeline")
    }
  }

  test("fuzzy blocked: the length bound rides the candidate join, not a later filter") {
    // the x16 ratio fell 12.6 → 3.7 when |n_chars diff| <= K moved into the
    // band-bucket hash join as a residual; a regression that re-splits it
    // into a post-distinct filter silently restores the quadratic tail
    val df = graft.queries.DocQueries.queries("doc_fuzzy_blocked")(spark, sf)
    val joins = planNodes(df).filter(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(joins.exists(_.toString.contains("n_chars")),
      "no join carries the n_chars length residual — the bound was " +
        "pushed out of candidate generation")
  }

  test("xff resolve / json oversize: source decode stays exchange-free") {
    for (op <- Seq("src_xff_resolve", "src_json_oversize")) {
      val p = plan(graft.queries.SourceQueries.queries(op)(spark, sf))
      assert(!p.contains("Exchange"), s"$op must stay a narrow decode pipeline")
    }
  }

  test("topk agg: map-side partial top-k runs BEFORE the exchange") {
    // the whole point vs the window-rank formulation: the shuffle carries
    // |groups| x k rows, so the partial aggregate must appear under it
    val p = plan(graft.queries.EventQueries.queries("evt_topk_agg")(spark, sf))
    assert(p.contains("partial_topkbyvalue"),
      "TopK UDAF lost its map-side partial — the shuffle now moves the fact table")
    assert(!p.contains("Window"), "no window sort may sneak back in")
  }

  test("exact quantiles: the CDF compresses map-side; two keyed exchanges total") {
    val df = graft.queries.EventQueries.queries("evt_exact_quantiles")(spark, sf)
    assert(plan(df).contains("partial_count"),
      "(group, value) counts must combine map-side before shuffling")
    val shuffles = planNodes(df).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(shuffles <= 2,
      s"expected <= 2 exchanges ((type,value) counts; per-type CDF), got $shuffles")
  }

  test("weighted sample: A-ES selection is a TakeOrdered, not a global sort") {
    val p = plan(graft.queries.DocQueries.queries("doc_weighted_sample")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("scd2: one user-key exchange, no joins — the sessionize shape") {
    val df = graft.queries.EventQueries.queries("evt_scd2")(spark, sf)
    val nodes = planNodes(df)
    val shuffles = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(shuffles <= 1,
      s"change-detect + re-rank must reuse ONE user_id exchange, got $shuffles")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "gaps-and-islands must not self-join")
  }

  test("survival: per-user reduction combines map-side; life table never joins") {
    val df = graft.queries.EventQueries.queries("evt_survival")(spark, sf)
    assert(plan(df).contains("partial_min"),
      "the user_id reduction must partial-aggregate before its exchange")
    assert(!planNodes(df).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "the KM fold must ride windows on the model-sized life table, not joins")
  }

  test("holt forecast: daily aggregation combines map-side before the fold") {
    val p = plan(graft.queries.EventQueries.queries("evt_holt_forecast")(spark, sf))
    assert(p.contains("partial_sum"),
      "daily revenue must partial-aggregate; the smoothing sees only the series")
  }

  test("jl recall: queries broadcast; corpus never sort-merges or products") {
    val nodes = planNodes(
      graft.queries.EmbeddingQueries.queries("emb_jl_recall")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "corpus side must not shuffle-sort against the NQueries probe rows")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "the scoring join must be the broadcast nested loop over tiny q, not a product")
  }

  test("vocab link / typo pairs: candidate generation is keyed, never a product") {
    for (op <- Seq("doc_vocab_link", "doc_typo_pairs")) {
      val nodes = planNodes(graft.queries.DocQueries.queries(op)(spark, sf))
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$op: candidates must come from the symbol-prefix equi-join")
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
        s"$op: no nested-loop join anywhere in the pipeline")
    }
  }

  test("cdc merge: union compacts through ONE keyed exchange, no joins") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_cdc_merge")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "MERGE must be the union + last-writer window, not a join of the legs")
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 2,
      s"snapshot compaction + merge shuffle on the same key, got $exchanges")
  }

  test("window funnel: one user-key exchange, no joins — the fold replaces " +
       "the quadratic EXISTS chain") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_window_funnel")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "funnel levels must come from the per-user fold, not step self-joins")
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 1, s"one shuffle on user_id, got $exchanges")
    assert(!plan(graft.queries.EventQueries.queries("evt_window_funnel")(spark, sf))
      .contains("ScalaUDF"), "the fold is a native higher-order expression")
  }

  test("cusum: fact collapses to the day grain map-side; windows never re-shuffle") {
    val df = graft.queries.EventQueries.queries("evt_cusum")(spark, sf)
    assert(plan(df).contains("partial_count"),
      "daily counts must partial-aggregate before the exchange")
    val exchanges = planNodes(df).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 2,
      s"(type,day) agg + per-type window repartition at most, got $exchanges")
  }

  test("seq count: one user-key exchange, no joins — range frames replace the pair join") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_seq_count")(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "pair counts must come from the range window, not a self-join")
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges <= 1, s"one shuffle on user_id, got $exchanges")
  }

  test("cdc chunks: chunking is exchange-free — boundaries collapse in-row") {
    val p = plan(graft.queries.DocQueries.queries("doc_cdc_chunks")(spark, sf))
    assert(!p.contains("Exchange"),
      "chunk extraction must stay a narrow per-document pipeline")
  }

  test("winsorized / bootstrap: per-user frames never sort-merge or product") {
    for (op <- Seq("evt_winsorized", "evt_bootstrap_ci")) {
      val nodes = planNodes(graft.queries.EventQueries.queries(op)(spark, sf))
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        s"$op: threshold/CI frames are model-sized and must broadcast")
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$op: no product anywhere")
    }
  }

  test("bq rerank: the float corpus never shuffles — shortlist and queries broadcast") {
    val nodes = planNodes(
      graft.queries.EmbeddingQueries.queries("emb_bq_rerank")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the full-precision fetch must be a broadcast of the tiny shortlist")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("hnsw: shard candidates and queries broadcast — the corpus never " +
       "sort-merges, products, or re-shuffles for the rerank") {
    val nodes = planNodes(
      graft.queries.EmbeddingQueries.queries("emb_hnsw_search")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "candidate and query frames are |q| x shards x k rows and must broadcast")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("t-digest rollup: both levels partial-aggregate — the exchanges carry " +
       "digests, never raw values") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_tdigest")(spark, sf))
    val aggs = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
    assert(aggs.size >= 4,
      s"expected partial+final ObjectHashAggregate at both digest levels, got ${aggs.size}")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the estimate frame is groups x quantiles rows and must broadcast")
  }

  test("gear CDC: exchange-free like the md5-window variant") {
    val p = plan(graft.queries.DocQueries.queries("doc_cdc_gear")(spark, sf))
    assert(!p.contains("Exchange"),
      "gear chunking must stay a narrow per-document pipeline")
  }

  test("classifier eval: the windows run on the distinct-score CDF, " +
       "after the score aggregation — never over documents") {
    val nodes = planNodes(
      graft.queries.DocQueries.queries("doc_classifier_eval")(spark, sf))
    val windows = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    assert(windows.nonEmpty, "the rank-sum CDF needs a window")
    windows.foreach { w =>
      def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec] ||
          p.children.exists(hasAgg)
      assert(hasAgg(w), "window input must be the aggregated distinct-score frame")
    }
  }

  test("pca: the second-moment aggregation partial-aggregates — the shuffle " +
       "carries covariance cells, never vectors") {
    // pcaTop itself returns a driver-solved literal row; the gate runs on
    // the exposed data-scale stage
    val nodes = planNodes(graft.queries.EmbeddingQueries.pcaCells(
      graft.queries.EmbeddingQueries.pcaScaled(spark, sf)))
    val hashAggs = nodes.filter(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
    assert(hashAggs.size >= 2, "partial+final aggregation expected")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
  }

  test("ts search: probe series, PAA, and shortlist broadcast — the grid " +
       "never sort-merges against them") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_ts_search")(spark, sf))
    val bcasts = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bcasts >= 3, s"probe/PAA/shortlist joins must broadcast, got $bcasts")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("incremental rollup: the merge unions aggregate-state tables — " +
       "no join touches event rows, no sort-merge anywhere") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_incremental_rollup")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "state tables are days x types (x buckets) rows and must broadcast")
    val aggs = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec])
    assert(aggs.size >= 6, s"both legs + merges must partial-aggregate, got ${aggs.size}")
  }

  test("skew report and scene cuts: no joins at all — narrow aggregations only") {
    for (op <- Seq(
        graft.queries.EventQueries.queries("evt_skew_report")(spark, sf),
        graft.queries.EnrichQueries.queries("media_scene_cuts")(spark, sf))) {
      val nodes = planNodes(op)
      assert(!nodes.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    }
  }

  test("inverted index: posting cap is a partial TopK aggregation, and the " +
       "term cap is TakeOrdered — no window sort, no global sort") {
    val p = plan(graft.queries.DocQueries.queries("doc_inverted_index")(spark, sf))
    assert(p.contains("partial_topkbyvalue"),
      "postings must cap map-side — a hot term's full list may never ship")
    assert(!p.contains("Window"),
      "the window-rank formulation this replaces sorts hot posting lists " +
        "on one reducer")
    assert(p.contains("TakeOrderedAndProject"),
      "the 40-term cap must be per-partition top-k + driver merge")
  }

  test("decompose: fact collapses to the day grain map-side; the weekday " +
       "seasonal join never sort-merges the series") {
    val df = graft.queries.EventQueries.queries("evt_decompose")(spark, sf)
    assert(plan(df).contains("partial_count"),
      "daily counts must partial-aggregate before the exchange")
    assert(!planNodes(df).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("dedup sweep: the 9-cutoff explode rides the memoized pair table — " +
       "no cartesian, counts partial-aggregate") {
    val df = graft.queries.DocQueries.queries("doc_dedup_sweep")(spark, sf)
    val nodes = planNodes(df)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(plan(df).contains("partial_count"),
      "per-cutoff counts must combine map-side")
  }

  test("bloom semi-join: the scan-side Bloom filter sits below the exact " +
       "semi-join, before any exchange") {
    val df = graft.queries.EventQueries.queries("evt_bloom_semijoin")(spark, sf)
    val nodes = planNodes(df)
    val bloomFilter = nodes.collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.toLowerCase.contains("udf") => f
    }
    assert(bloomFilter.nonEmpty, "the Bloom probe must appear as a scan-side filter")
    // nothing between the Bloom filter and the scan may shuffle — the whole
    // point is cutting the fact side BEFORE its exchange
    def subtree(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(subtree)
    assert(!subtree(bloomFilter.get).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "the Bloom probe must prune before the fact side's exchange")
    assert(plan(df).contains("LeftSemi"),
      "exactness comes from the semi-join, not the Bloom")
  }

  test("item-item similarity: marginals broadcast, no nested loop, " +
       "cooc partial-aggregates before the pair shuffle") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_item_sim")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "every join must be an equi-join")
    val bhj = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj >= 2, s"catalog-sized marginal joins must broadcast, got $bhj")
  }

  test("triangles: wedge close is an equi hash join — never a nested loop " +
       "over the edge set") {
    val nodes = planNodes(
      graft.queries.EventQueries.queries("evt_triangles")(spark, sf))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "the OR-form closing condition would plan a nested loop — the " +
        "canonical (b < c) wedge must close with a two-key equi-join")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("item-dim broadcast gate: above the row bound the marginal/degree " +
       "joins degrade to a shuffle exchange — never a nested loop, never a " +
       "driver OOM path") {
    // force the gate shut: every dim join must fall back to a non-broadcast
    // equi-join (the 100x posture where the item catalog outgrows driver
    // memory). AQE may still locally convert a tiny side at runtime, so the
    // assertion targets the STATIC plan (pre-execution), where only our
    // explicit hint could have forced a broadcast.
    spark.conf.set(GraftConf.EvtMaxBroadcastItems.key, "0")
    try {
      for (q <- Seq("evt_item_sim", "evt_triangles")) {
        val df = graft.queries.EventQueries.queries(q)(spark, sf)
        val nodes = planNodes(df)
        assert(!nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
          s"$q: gated fallback must stay an equi-join")
        assert(!nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
          s"$q: gated fallback must not cartesian")
        // rows must be identical in either physical form (same query, same
        // memoized interaction set)
        val gated = df.collect().map(_.toString).sorted
        assert(gated.nonEmpty, s"$q under the closed gate must still compute")
        spark.conf.unset(GraftConf.EvtMaxBroadcastItems.key)
        val open = graft.queries.EventQueries.queries(q)(spark, sf)
          .collect().map(_.toString).sorted
        spark.conf.set(GraftConf.EvtMaxBroadcastItems.key, "0")
        assert(gated.toSeq === open.toSeq,
          s"$q: gate-open and gate-closed plans must produce identical rows")
      }
    } finally spark.conf.unset(GraftConf.EvtMaxBroadcastItems.key)
  }
}
