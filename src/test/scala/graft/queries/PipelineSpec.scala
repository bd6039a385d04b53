package graft.queries

import graft.{GraftConf, SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Validation of the non-SQL-expressible pipeline ops against exact
  * baselines on the sf0.001 test tables, plus planted-duplicate checks of
  * the algorithmic machinery (the synthetic corpora have weak similarity
  * structure, so mechanism correctness is asserted on planted cases). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("minhash LSH recovers the exact near-dup pairs (recall vs jaccard)") {
    val exact = DocQueries.neardupJaccard(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = DocQueries.minhashLsh(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain near-duplicate pairs")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall too low; exact=$exact lsh=$lsh")
    // no false positives below the verification threshold: every reported
    // pair was jaccard-verified, so lsh ⊆ exact
    assert((lsh -- exact).isEmpty)
  }

  test("decontamination flags planted benchmark collisions, spares the rest") {
    val train = Seq(
      (1L, "the quick brown fox"),   // planted: same text as bench doc 100
      (2L, "a totally clean doc"),
      (3L, "The  Quick   Brown FOX") // formatting variant -> same fingerprint
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    def fp(df: org.apache.spark.sql.DataFrame) = df.withColumn("fingerprint",
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
    val out = DocQueries.flagContaminated(fp(train), fp(bench), "fingerprint")
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && out(3L) && !out(2L))
  }

  test("dedup clusters: transitive chains collapse to the min doc id") {
    // a~b and b~c near-dups but a~c weaker: the component must still unite
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (10L, base + " one two three"),
      (20L, base + " one two four"),       // ~ 10
      (30L, base + " one five four"),      // ~ 20, farther from 10
      (99L, "completely different content nothing shared here at all " +
        "not even slightly similar to the others in any way whatsoever")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("clusters").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.dedupClusters(spark, tmp)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(10L) === (10L, false))
    assert(got(20L) === (10L, true))
    assert(got(30L) === (10L, true)) // via 20, transitively
    assert(got(99L) === (99L, false))
  }

  test("minhash dedup: planted dup cluster collapses end-to-end; agrees with exact pipeline") {
    // docs long enough that one-token edits keep jaccard ~0.9 — above the
    // 8-band LSH S-curve midpoint (~0.77), so recall here is deterministic
    // (the 20-token chain of the exact-Jaccard test sits at ~0.75 and LSH
    // legitimately misses it)
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, base + " endone"),
      (20L, base + " endtwo"),
      (30L, base.replace("tok30", "mid") + " endtwo"),
      (99L, "completely different content nothing shared here at all " +
        "not even slightly similar to the others in any way whatsoever")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("mhdedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.minhashDedup(spark, tmp)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(10L) === (10L, false))
    assert(got(20L) === (10L, true))
    assert(got(30L) === (10L, true))
    assert(got(99L) === (99L, false))
    // on the real corpus both pipelines keep the same canonical set
    // wherever LSH recalled the pair (lsh pairs ⊆ exact pairs, so every
    // minhash-flagged duplicate must be exact-flagged too)
    val mh = DocQueries.minhashDedup(spark, sf)
      .filter(col("is_duplicate")).select("doc_id")
      .as[Long].collect().toSet
    val exact = DocQueries.dedupClusters(spark, sf)
      .filter(col("is_duplicate")).select("doc_id")
      .as[Long].collect().toSet
    assert(mh.subsetOf(exact), s"minhash flagged non-exact dups: ${mh -- exact}")
  }

  test("pagerank: the hub of a planted star graph ranks first; mass is conserved") {
    // every user flows X->HUB or Y->HUB and HUB loops to itself once, so
    // HUB receives all transition mass and must outrank the leaves
    val rows = (0 until 20).flatMap { u =>
      val leaf = if (u % 2 == 0) "X" else "Y"
      Seq(
        (s"e${u}_0", java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${u}%02d"), s"u$u", leaf, 1.0, "{}"),
        (s"e${u}_1", java.sql.Timestamp.valueOf(f"2024-01-01 10:01:${u}%02d"), s"u$u", "HUB", 1.0, "{}"),
        (s"e${u}_2", java.sql.Timestamp.valueOf(f"2024-01-01 10:02:${u}%02d"), s"u$u", "HUB", 1.0, "{}"))
    }
    val tmp = java.nio.file.Files.createTempDirectory("pr").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val pr = EventQueries.pagerank(spark, tmp)
      .select("event_type", "rank_scaled")
      .as[(String, Long)].collect().toMap
    assert(pr.keySet === Set("X", "Y", "HUB"))
    assert(pr("HUB") > pr("X") && pr("HUB") > pr("Y"))
    assert(pr("X") === pr("Y"), "symmetric leaves must tie exactly")
    // total rank stays within the initial mass: the damped update only
    // redistributes or leaks (floor division + dangling loss), never grows
    assert(pr.values.sum <= 1000000000000L)
    assert(pr.values.sum > 300000000000L, "most mass should survive 10 rounds")
    // driver-loop vs distributed path bit-parity: force the gate shut
    spark.conf.set(GraftConf.PagerankMaxDriverEdges.key, "0")
    try {
      val dist = EventQueries.pagerank(spark, tmp)
        .select("event_type", "rank_scaled")
        .as[(String, Long)].collect().toMap
      assert(dist === pr, "distributed updates must reproduce the driver loop exactly")
    } finally spark.conf.unset(GraftConf.PagerankMaxDriverEdges.key)
  }

  test("textrank: hub word of a planted lexical star outranks leaves; " +
       "driver and distributed paths agree bit-exactly") {
    // "hub" is adjacent to every leaf; leaves only ever touch the hub
    val docs = (0 until 8).map { i =>
      (i.toLong, s"l$i hub l$i hub l$i", "en", "t", 15L)
    }
    val tmp = java.nio.file.Files.createTempDirectory("tr").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val tr = DocQueries.queries("doc_textrank")(spark, tmp)
      .select("word", "rank_scaled").as[(String, Long)].collect().toMap
    assert(tr.keySet === (0 until 8).map(i => s"l$i").toSet + "hub")
    (0 until 8).foreach { i =>
      assert(tr("hub") > tr(s"l$i"), "the connective hub must outrank leaves")
    }
    assert((0 until 8).map(i => tr(s"l$i")).toSet.size === 1,
      "symmetric leaves must tie exactly")
    assert(tr.values.sum <= 1000000000000L, "damped update never grows mass")
    spark.conf.set(GraftConf.TextrankMaxDriverEdges.key, "0")
    try {
      val dist = DocQueries.queries("doc_textrank")(spark, tmp)
        .select("word", "rank_scaled").as[(String, Long)].collect().toMap
      assert(dist === tr, "distributed updates must reproduce the driver loop")
    } finally spark.conf.unset(GraftConf.TextrankMaxDriverEdges.key)
  }

  test("incremental sessionization equals the full recompute at every cutoff") {
    val full = EventQueries.queries("evt_sessionize")(spark, sf)
      .select("user_id", "session_start_ms", "session_end_ms", "n_events", "session_value")
      .as[(String, Long, Long, Long, Double)].collect().sorted.toSeq
    // cutoffs spanning the data range, incl. ones that slice sessions open
    val (lo, hi) = (full.map(_._2).min, full.map(_._3).max)
    Seq(0.25, 0.5, 0.8).foreach { f =>
      val cutoff = lo + ((hi - lo) * f).toLong
      val inc = EventQueries.sessionizeIncremental(spark, sf, cutoff)
        .select("user_id", "session_start_ms", "session_end_ms", "n_events", "session_value")
        .as[(String, Long, Long, Long, Double)].collect().sorted.toSeq
      assert(inc === full, s"cutoff fraction $f diverged")
    }
  }

  test("session boundary: an exact-30-minute gap stays ONE session in both constructions") {
    // session_window merges touching ranges; the lag rule's strict `>`
    // agrees — pin both on the same planted corpus so the constructions
    // can never drift at the boundary
    val rows = Seq(
      ("e1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "u1", "view", 1.0, "{}"),
      ("e2", java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "u1", "click", 1.0, "{}"),
      // and one gap a millisecond past the boundary: must split
      ("e3", java.sql.Timestamp.valueOf("2024-01-01 11:00:00.001"), "u1", "view", 1.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("boundary").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val viaWindow = EventQueries.queries("evt_sessionize")(spark, tmp).count()
    val viaLag = EventQueries.queries("evt_top_paths")(spark, tmp)
      .agg(sum(col("n_sessions"))).as[Long].head()
    assert(viaWindow === 2L, "exact-gap event must merge; the later one must split")
    assert(viaLag === 2L, "the lag/cumsum construction must agree")
  }

  test("session funnel: only strictly-ordered steps inside one session count") {
    def ev(id: String, min: Int, u: String, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), u, t, 1.0, "{}")
    val rows = Seq(
      // u1: full ordered funnel in one session
      ev("a1", 0, "u1", "view"), ev("a2", 5, "u1", "click"), ev("a3", 9, "u1", "purchase"),
      // u2: purchase BEFORE click — step 3 must not count
      ev("b1", 0, "u2", "view"), ev("b2", 9, "u2", "click"), ev("b3", 5, "u2", "purchase"),
      // u3: click before view — steps 2+3 must not count
      ev("c1", 5, "u3", "click"), ev("c2", 9, "u3", "view"),
      // u4: view in one session, click 40min later = NEXT session
      ev("d1", 0, "u4", "view"), ev("d2", 45, "u4", "click"))
    val tmp = java.nio.file.Files.createTempDirectory("sfunnel").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = EventQueries.queries("evt_session_funnel")(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().head
    // sessions: u1(1) u2(1) u3(1) u4(2) = 5; viewed: u1,u2,u3,u4-first = 4;
    // clicked-after-view: u1, u2 (click 9 >= view 0); purchased: u1 only
    assert(r === ((5L, 4L, 2L, 1L)))
  }

  test("bot detect: metronomic high-rate traffic flags, human-like does not") {
    val rows =
      // bot: 100 events, exactly 1s apart (1 repeated gap, 6000 ev/min)
      (0 until 100).map(i =>
        (s"b$i", java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${i / 60}%02d.${i % 60}%02d"), "bot1", "view", 1.0, "{}")) ++
      // human: 5 events with distinct, slow gaps
      Seq(0, 7, 19, 40, 55).zipWithIndex.map { case (m, i) =>
        (s"h$i", java.sql.Timestamp.valueOf(f"2024-01-01 11:$m%02d:00"), "human1", "view", 1.0, "{}") }
    val tmp = java.nio.file.Files.createTempDirectory("bot").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.queries("evt_bot_detect")(spark, tmp)
      .select("user_id", "bot_suspect").as[(String, Boolean)].collect().toMap
    assert(got("bot1") === true)
    assert(got("human1") === false)
  }

  test("line dedup: a repeated within-doc block drops; counts and digest agree") {
    val block = (1 to 10).map(i => s"w$i").mkString(" ")
    val tail = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block $tail $block"),  // block repeats: 3 blocks, 1 dup
      (2L, s"$block $tail"))         // no repeats
    val tmp = java.nio.file.Files.createTempDirectory("linededup").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.queries("doc_line_dedup")(spark, tmp)
      .select("doc_id", "n_blocks", "n_dup_blocks", "cleaned_md5")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 3 && got(1L)._3 === 1)
    assert(got(2L)._2 === 2 && got(2L)._3 === 0)
    // doc 1 cleaned == doc 2's full text: identical digests
    assert(got(1L)._4 === got(2L)._4)
  }

  test("media dedup: byte-identical blobs collapse to the smallest id") {
    val docs = Seq(
      (5L, "identical media payload"),
      (9L, "identical media payload"),   // dup of 5
      (2L, "identical media payload"),   // canonical (smallest id)
      (7L, "a different payload")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("mediadedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = EnrichQueries.queries("media_dedup")(spark, tmp)
      .select("doc_id", "canonical_doc_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(2L) === (2L, false))
    assert(got(5L) === (2L, true))
    assert(got(9L) === (2L, true))
    assert(got(7L) === (7L, false))
  }

  test("split assignment: stable, exhaustive, and roughly 80/10/10") {
    val a = DocQueries.queries("doc_split")(spark, sf)
      .select("doc_id", "bucket", "split").as[(Long, Int, String)].collect()
    val b = DocQueries.queries("doc_split")(spark, sf)
      .select("doc_id", "bucket", "split").as[(Long, Int, String)].collect()
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq, "must be rerun-stable")
    assert(a.forall(r => r._2 >= 0 && r._2 < 100))
    val bySplit = a.groupBy(_._3).view.mapValues(_.length).toMap
    val n = a.length.toDouble
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") / n > 0.7 && bySplit("train") / n < 0.9)
    assert(bySplit("val") / n > 0.04 && bySplit("val") / n < 0.16)
  }

  test("dedup sweep: monotone in the cutoff and exact on a planted " +
       "duplicate corpus") {
    val rows = DocQueries.queries("doc_dedup_sweep")(spark, sf)
      .select("t10", "n_pairs", "n_docs_flagged")
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1 to 9))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3,
        "raising the cutoff can only flag fewer pairs/docs")
    }
    rows.foreach(r => assert(r._3 <= 2 * r._2, "each pair flags <= 2 docs"))
    // planted: 3 identical docs + 1 unrelated -> C(3,2)=3 pairs at jac 1.0,
    // present at EVERY cutoff; the unrelated doc never flagged
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base, "en", "t", 200L), (2L, base, "en", "t", 200L),
      (3L, base, "en", "t", 200L),
      (4L, (1 to 30).map(i => s"zzz$i").mkString(" "), "en", "t", 200L))
    val tmp = java.nio.file.Files.createTempDirectory("sweep").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = DocQueries.queries("doc_dedup_sweep")(spark, tmp)
      .select("t10", "n_pairs", "n_docs_flagged")
      .as[(Int, Long, Long)].collect()
    planted.foreach { r =>
      assert(r._2 === 3L && r._3 === 3L,
        s"identical triplet must survive every cutoff: $r")
    }
  }

  test("decontaminated split: clusters move as one unit, singletons match doc_split") {
    val dec = DocQueries.queries("doc_split_decontam")(spark, sf)
      .select("doc_id", "canonical_doc_id", "split", "leak_prevented")
      .as[(Long, Long, String, Boolean)].collect()
    val naive = DocQueries.queries("doc_split")(spark, sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every member of a cluster carries its canonical's split — zero
    // near-dup pairs straddle a split boundary
    val byCluster = dec.groupBy(_._2)
    assert(byCluster.values.forall(_.map(_._3).toSet.size == 1),
      "a near-dup cluster must land in exactly one split")
    // singletons reduce exactly to the naive assignment
    dec.filter(r => r._1 == r._2).foreach { r =>
      assert(r._3 === naive(r._1), s"singleton ${r._1} must match doc_split")
      assert(!r._4, "a singleton cannot have a prevented leak")
    }
    // leak_prevented is precisely "duplicate whose naive split differed"
    dec.foreach { r =>
      assert(r._4 === (r._1 != r._2 && naive(r._1) != r._3))
    }
    // the fixture corpus actually contains near-dups that would have leaked
    assert(dec.exists(_._4), "fixture must exercise the leak-prevention path")
  }

  test("decomposition: additive identity holds everywhere and a purely " +
       "weekly series leaves zero residual") {
    // 4 weeks of a pure weekday pattern: constant weekly sum -> constant
    // trend -> detrended depends only on weekday -> residual exactly 0
    val pattern = Seq(10, 30, 20, 50, 40, 60, 70)
    val rows = for {
      day <- 0 until 28
      i <- 0 until pattern(day % 7)
    } yield (day.toLong * 1000 + i,
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 10:00:00"),
      i.toLong, "view", 1.0, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("dec").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventQueries.queries("evt_decompose")(spark, tmp)
      .select("x", "trend_milli", "seas_milli", "resid_milli")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 22, "28 days minus 3 edge days each side")
    out.foreach { case (x, tr, se, re) =>
      assert(1000 * x === tr + se + re, "additive identity must be exact")
    }
    assert(out.forall(_._4 === 0L), "a pure weekly pattern has no residual")
    assert(out.map(_._2).toSet.size === 1, "constant weekly sum -> flat trend")
  }

  test("path entropy: deterministic chains score 0 bits, uniform splits 1 bit") {
    // users alternate A->B->A->B (A's successor always B and vice versa:
    // 0 bits each); C splits evenly to A and B: 1 bit
    val rows = (0 until 8).flatMap { u =>
      val chain = Seq("A", "B", "A", "B") ++
        Seq("C", if (u % 2 == 0) "A" else "B")
      chain.zipWithIndex.map { case (t, i) =>
        (u.toLong * 100 + i, java.sql.Timestamp.valueOf(f"2024-01-01 10:${u}%02d:${i}%02d"),
          u.toLong, t, 1.0, "{}")
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("pent").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val h = EventQueries.queries("evt_path_entropy")(spark, tmp)
      .select("event_type", "entropy_bits").as[(String, Double)].collect().toMap
    assert(h("A") === 0.0, "A always flows to B: fully predictable")
    assert(h("B") === 1.0, "B splits evenly A/C: exactly one bit")
    assert(h("C") === 1.0, "C splits evenly A/B across users: one bit")
  }

  test("gini: uniform mass scores near 0, one-whale mass scores (n-1)/n") {
    val mk = (uid: Long, v: Double, i: Int) =>
      (uid * 1000 + i, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        uid, "purchase", v, "{}")
    // 'purchase': 10 users x equal value; 'click': one whale + 9 zeros
    val rows = (0L until 10L).map(u => mk(u, 5.0, 0)) ++
      (0L until 10L).map(u => (u * 1000 + 1, java.sql.Timestamp.valueOf(
        "2024-01-01 11:00:00"), u, "click", if (u == 0L) 100.0 else 0.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("gini").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val g = EventQueries.queries("evt_gini")(spark, tmp)
      .select("event_type", "gini").as[(String, Double)].collect().toMap
    assert(g("purchase") === 0.0, "equal mass must score exactly 0")
    assert(g("click") === 0.9, "a single whale among 10 users scores (n-1)/n")
  }

  test("char entropy: repeated/alternating/uniform strings hit their exact bits") {
    val docs = Seq(
      (1L, "aaaaaaaa", "en", "t", 8L),  // one symbol: 0 bits
      (2L, "abababab", "en", "t", 8L),  // two equal symbols: 1 bit
      (3L, "abcdabcd", "en", "t", 8L))  // four equal symbols: 2 bits
    val tmp = java.nio.file.Files.createTempDirectory("ent").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val h = DocQueries.queries("doc_char_entropy")(spark, tmp)
      .select("doc_id", "entropy_bits").as[(Long, Double)].collect().toMap
    assert(h(1L) === 0.0)
    assert(h(2L) === 1.0)
    assert(h(3L) === 2.0)
  }

  test("mutual knn: mutuality is symmetric and in-degrees conserve votes") {
    val rows = EmbeddingQueries.queries("emb_mutual_knn")(spark, sf)
      .select("vec_id", "nn_id", "is_mutual", "in_degree")
      .as[(Long, Long, Boolean, Long)].collect()
    assert(rows.nonEmpty)
    val nn = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { r =>
      assert(r._3 === (nn.get(r._2).contains(r._1)),
        s"is_mutual must mean a<->b top-1 symmetry: $r")
    }
    assert(rows.map(_._4).sum === rows.length.toLong,
      "every vector casts exactly one top-1 vote")
    assert(rows.exists(_._3), "the fixture slice should contain mutual pairs")
  }

  test("uplift: bands rank by observed effect and the Qini curve is the " +
       "prefix sum of control-scaled gains") {
    val rows = EventQueries.queries("evt_uplift")(spark, sf)
      .select("band", "n0", "c0", "n1", "c1", "uplift", "rank", "cum_gain")
      .as[(Long, Long, Long, Long, Long, Double, Int, Double)].collect()
      .sortBy(_._7)
    assert(rows.nonEmpty)
    assert(rows.map(_._7).toSeq === (1 to rows.length),
      "ranks must be dense from 1")
    assert(rows.map(_._6).toSeq === rows.map(_._6).sortBy(-_).toSeq,
      "rank order must follow uplift desc")
    var cum = 0.0
    rows.foreach { r =>
      assert(r._3 <= r._2 && r._5 <= r._4, "conversions bounded by arm sizes")
      cum += r._5.toDouble - r._3.toDouble * r._4 / r._2
      assert(math.abs(r._8 - cum) < 1e-6,
        s"cum_gain must be the running Qini numerator at rank ${r._7}")
    }
  }

  test("layout skip report: pruning is sound and the locality ordering " +
       "hilbert <= zorder <= natural holds") {
    // sf0.01: 157 files — at sf0.001's 16 files the chunk granularity is
    // coarser than the predicate box and the ordering claim is meaningless
    val rows = EventQueries.queries("evt_layout_skip")(spark, "/root/testdata/sf0.01")
      .select("layout", "n_files", "files_read", "files_needed", "false_read")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet === Set("natural", "zorder", "hilbert"))
    // equal-occupancy chunking: identical file counts isolate ORDER
    assert(rows.values.map(_._2).toSet.size === 1)
    rows.values.foreach { r =>
      assert(r._3 >= r._4, s"min/max pruning must never skip a needed file: $r")
      assert(r._5 === r._3 - r._4)
    }
    assert(rows("hilbert")._3 <= rows("zorder")._3,
      "hilbert locality must not lose to z-order on the box predicate")
    assert(rows("zorder")._3 < rows("natural")._3,
      "both curves must beat arrival order for the 2-D box")
  }

  test("unigram tokenizer: segmentations cover the word exactly and the " +
       "likelihood actually decides (both directions)") {
    val rows = DocQueries.queries("doc_unigram_tok")(spark, sf)
      .select("word", "n_pieces", "seg", "score_scaled")
      .as[(String, Int, String, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (word, np, seg, score) =>
      assert(seg.replace(" ", "") === word, s"seg must tile the word: $word")
      assert(seg.split(" ").length === np)
      assert(score < 0L, "log-likelihoods are negative")
    }
    // planted corpus: q is frequent enough that splitting 'qq' into chars
    // beats the 'qq' piece, while rare 'zq' keeps the single piece —
    // the model genuinely decides, in both directions
    val tmp = java.nio.file.Files.createTempDirectory("uni").toString
    Seq((1L, "qq qq qq zq", "en", "t", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val segs = DocQueries.queries("doc_unigram_tok")(spark, tmp)
      .select("word", "seg").as[(String, String)].collect().toMap
    assert(segs("qq") === "q q",
      "frequent char must beat the rarer pair piece")
    assert(segs("zq") === "zq",
      "the single piece must beat a split through a rare char")
  }

  test("dp rollup: reproducible discrete-Laplace noise actually perturbs " +
       "and stays unbiased-scale") {
    val noisy = EventQueries.queries("evt_dp_rollup")(spark, sf)
      .select("event_type", "day", "n_dp").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val truth = EventQueries.queries("evt_daily_rollup")(spark, sf)
      .select("event_type", "day", "n_events").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(noisy.keySet === truth.keySet, "DP must release every group")
    val noise = noisy.map { case (k, v) => v - truth(k) }.toSeq
    assert(noise.exists(_ != 0L), "the mechanism must actually perturb")
    assert(noise.exists(_ < 0L) && noise.exists(_ > 0L), "two-sided noise")
    // discrete Laplace with alpha=e^-1: E|noise| ≈ 0.92, P(|n|>8) < 4e-4
    val meanAbs = noise.map(math.abs).sum.toDouble / noise.size
    assert(meanAbs > 0.3 && meanAbs < 2.5, s"implausible noise scale $meanAbs")
    // seeded draws: a rerun releases the identical table
    val again = EventQueries.queries("evt_dp_rollup")(spark, sf)
      .select("event_type", "day", "n_dp").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(again === noisy)
  }

  test("item similarity: cosine bounds, symmetry, and cap semantics") {
    val rows = EventQueries.queries("evt_item_sim")(spark, sf)
      .select("item", "sim_item", "cooc", "cosine", "rank")
      .as[(Int, Int, Long, Double, Int)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._4 > 0 && r._4 <= 1.0),
      "binary-vector cosine must sit in (0, 1]")
    assert(rows.forall(r => r._5 >= 1 && r._5 <= 10))
    assert(rows.forall(r => r._1 != r._2), "no self-similarity rows")
    // the score is symmetric: when both directions survive top-k they agree
    val byPair = rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    rows.foreach { r =>
      byPair.get((r._2, r._1)).foreach { rev =>
        assert(rev === ((r._3, r._4)), s"asymmetric pair ${(r._1, r._2)}")
      }
    }
  }

  test("triangles: three-corner credit conservation and coefficient bounds") {
    val rows = EventQueries.queries("evt_triangles")(spark, sf)
      .select("item", "degree", "n_triangles", "clustering")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // every triangle credits exactly its three corners
    assert(rows.map(_._3).sum % 3 === 0L,
      "total participation must be divisible by 3")
    rows.foreach { r =>
      assert(r._4 >= 0.0 && r._4 <= 1.0, s"clustering out of range: $r")
      // a vertex of degree d closes at most C(d,2) triangles
      assert(r._3 <= r._2 * (r._2 - 1) / 2, s"more triangles than wedges: $r")
    }
  }

  test("IVF recall evaluation: hits are genuine intersections per query") {
    val exact = EmbeddingQueries.queries("emb_knn_brute")(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = EmbeddingQueries.queries("emb_ann_ivf")(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = EmbeddingQueries.queries("emb_ann_recall_ivf")(spark, sf)
      .select("q_id", "n_hits").as[(Long, Long)].collect().toMap
    exact.foreach { case (q, ex) =>
      assert(recall(q) === (ex & approx.getOrElse(q, Set.empty)).size.toLong)
    }
  }

  test("hybrid search: a doc that wins both rankings tops the fused list") {
    // corpus doc 20 duplicates query 0's text AND embedding: r_lex=1 and
    // r_vec=1 so its RRF score is the maximum possible — rank 1
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(64)(j => (((seed * 101 + j * 7) % 256) - 128) / 128.0f)
    def text(seed: Int): String =
      (0 until 20).map(j => s"w${(seed * 13 + j * 5) % 40}").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("hybrid").toString
    (0 until 30).map { id =>
      (id.toLong, if (id == 20) text(0) else text(id))
    }.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    (0 until 30).map { id =>
      (id.toLong, if (id == 20) vec(0) else vec(id), id % 3)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = EmbeddingQueries.queries("emb_hybrid_search")(spark, tmp)
      .select("q_id", "doc_id", "rk").as[(Long, Long, Int)].collect()
    assert(got.find(r => r._1 == 0L && r._3 == 1).map(_._2) === Some(20L))
    got.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq === (1 to 5))
    }
  }

  test("hard negatives: never the query's own label; cosines agree with brute kNN") {
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val hn = EmbeddingQueries.queries("emb_hard_negatives")(spark, sf)
      .select("q_id", "vec_id", "label", "cosine", "rk")
      .as[(Long, Long, Int, Double, Int)].collect()
    hn.foreach { case (q, v, l, _, _) =>
      assert(l === labels(v))
      assert(l !== labels(q), s"negative $v shares query $q's label")
    }
    hn.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._5).sorted.toSeq === (1 to 5))
    }
    // where a (query, vector) pair also appears in the unrestricted brute
    // top-k, the cosine must be the identical scaled-int value
    val brute = EmbeddingQueries.queries("emb_knn_brute")(spark, sf)
      .select("q_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    hn.foreach { case (q, v, _, c, _) =>
      brute.get((q, v)).foreach(bc => assert(bc === c))
    }
  }

  test("top paths: planted session journeys count correctly in order") {
    // 6 users walk view>click>buy, 3 walk view>click — ordered, one session
    val rows = (0 until 9).flatMap { u =>
      val steps = if (u < 6) Seq("view", "click", "buy") else Seq("view", "click")
      steps.zipWithIndex.map { case (t, i) =>
        (s"e${u}_$i", java.sql.Timestamp.valueOf(f"2024-01-01 10:0$i:00"), s"u$u", t, 1.0, "{}")
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("paths").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.queries("evt_top_paths")(spark, tmp)
      .select("path", "n_sessions", "rank")
      .as[(String, Long, Int)].collect()
    assert(got.toSeq.sortBy(_._3) === Seq(
      ("view>click>buy", 6L, 1), ("view>click", 3L, 2)))
  }

  test("kmeans inertia: a pure rollup of the assignment — totals reconcile") {
    val assign = EmbeddingQueries.kmeans(spark, sf)
      .select("cluster", "dist2").as[(Int, Long)].collect()
    val inertia = EmbeddingQueries.kmeansInertia(spark, sf)
      .select("cluster", "n_vectors", "inertia")
      .as[(Int, Long, Long)].collect()
    assert(inertia.map(_._2).sum === assign.length.toLong)
    assert(inertia.map(_._3).sum === assign.map(_._2).sum)
    val perCluster = assign.groupBy(_._1).view.mapValues(g =>
      (g.length.toLong, g.map(_._2).sum)).toMap
    inertia.foreach { case (c, n, i) => assert(perCluster(c) === ((n, i))) }
  }

  test("collocations: an always-together pair outranks independent co-occurrences") {
    // "aa bb" always adjacent and exclusive; filler words pair freely, so
    // PMI(aa,bb) = nb/c(aa) >> any filler pair's ratio
    val filler = (0 until 8).map(i => s"f$i")
    val docs = (0 until 10).map { i =>
      val mix = (0 until 12).map(j => filler((i * 5 + j * 3) % 8)).mkString(" ")
      (i.toLong, s"aa bb $mix")
    }
    val tmp = java.nio.file.Files.createTempDirectory("colloc").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val top = DocQueries.collocations(spark, tmp)
      .select("w1", "w2", "rank").as[(String, String, Int)].collect()
    assert(top.find(_._3 == 1).map(r => (r._1, r._2)) === Some(("aa", "bb")))
  }

  test("readability: hand-computed Flesch on planted sentences") {
    // 2 sentences, 8 words, 9 vowel-group syllables
    // (the-cat-sat-on-a-mat-dogs-ru..i..: "running" has two groups):
    // 206.835 - 1.015*(8/2) - 84.6*(9/8)
    val text = "the cat sat on a mat. dogs running!"
    val tmp = java.nio.file.Files.createTempDirectory("read").toString
    Seq((1L, text)).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = DocQueries.readability(spark, tmp)
      .select("n_sentences", "n_words", "n_syllables", "flesch")
      .as[(Long, Long, Long, Double)].collect().head
    assert(r._1 === 2L)
    assert(r._2 === 8L)
    assert(r._3 === 9L)
    val expected = BigDecimal(206.835 - 1.015 * (8.0 / 2) - 84.6 * (9.0 / 8))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r._4 === expected)
  }

  test("simhash: near-identical docs collide, unrelated docs do not") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      // "now" vs "today" flips 2 simhash bits under the md5-low-64 token
      // hash (hash-dependent: "tonight" flips 4, crossing the <=3 cutoff)
      (2L, "the quick brown fox jumps over the lazy dog again and again now"),
      (3L, "spark query engine shuffles partitions across the cluster machines")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("simhash").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = DocQueries.simhashPairs(spark, tmp)
      .select("d1", "d2", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._3 <= 3)
  }

  test("ann LSH finds planted near-neighbors") {
    val rng = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    def perturb(v: Array[Float]): Array[Float] = v.map(x => x + 0.02f * rng.nextGaussian().toFloat)
    val queries = (0 until 5).map(_ => vec())
    // corpus: for each query a planted neighbor (ids 10..14) + 200 random
    val rows =
      queries.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      queries.zipWithIndex.map { case (v, i) => (10L + i, perturb(v)) } ++
      (0 until 200).map(i => (100L + i, vec()))
    val tmp = java.nio.file.Files.createTempDirectory("ann").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val top = EmbeddingQueries.annLsh(spark, tmp)
      .filter(col("rk") === 1).select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    // every query's nearest hit must be its planted neighbor
    (0 until 5).foreach { i =>
      assert(top.get(i.toLong).contains(10L + i),
        s"query $i: expected planted neighbor ${10 + i}, got ${top.get(i.toLong)}")
    }
  }

  test("ann recall: per-query hit counts equal the brute/LSH top-K intersection") {
    val exact = EmbeddingQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = EmbeddingQueries.annLsh(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = EmbeddingQueries.annRecall(spark, sf)
      .select("q_id", "n_hits", "recall_at_k").as[(Long, Long, Double)].collect()
    assert(recall.length === exact.size, "one recall row per query")
    recall.foreach { case (q, hits, r) =>
      val expected = exact(q).intersect(approx.getOrElse(q, Set.empty)).size.toLong
      assert(hits === expected, s"query $q")
      assert(r === BigDecimal(expected.toDouble / 5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r >= 0.0 && r <= 1.0)
    }
  }

  test("linear probe separates a linearly-separable planted labeling perfectly") {
    val rng = new scala.util.Random(7)
    // label-0 vectors live at +0.3 in the first 8 dims, others at -0.3;
    // remaining dims are shared noise — exactly the geometry a converged
    // least-squares probe with a class-midpoint threshold must nail
    def vec(pos: Boolean): Array[Float] = Array.tabulate(64) { i =>
      if (i < 8) (if (pos) 0.3f else -0.3f)
      else (rng.nextDouble() * 0.2 - 0.1).toFloat
    }
    val rows = (0 until 40).map(i => (i.toLong, vec(i % 4 == 0),
      if (i % 4 == 0) 0 else 1 + i % 3))
    val tmp = java.nio.file.Files.createTempDirectory("probe").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = EmbeddingQueries.linearProbe(spark, tmp)
      .select("vec_id", "y", "margin", "predicted")
      .as[(Long, Int, Double, Boolean)].collect()
    assert(out.length === 40)
    out.foreach { case (id, y, margin, predicted) =>
      assert(y === (if (id % 4 == 0) 1 else 0), s"vec $id label mapping")
      assert(predicted === (y == 1), s"vec $id: margin $margin misclassified")
    }
    // margins order consistently with the labels (a real fit, not a fluke
    // of the threshold): every positive margin above every negative one
    val posMin = out.filter(_._2 == 1).map(_._3).min
    val negMax = out.filter(_._2 == 0).map(_._3).max
    assert(posMin > negMax)
  }

  test("ann IVF cosines agree with brute force on shared pairs") {
    val brute = EmbeddingQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = EmbeddingQueries.annIvf(spark, sf)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.filter(r => brute.contains((r._1, r._2))).foreach { case (q, v, c) =>
      assert(math.abs(brute((q, v)) - c) < 1e-4, s"cosine mismatch for ($q,$v)")
    }
  }

  test("winnowing fingerprints overlap for docs sharing a long substring") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"unique prefix one $shared unique suffix one"),
      (2L, s"different opening here $shared and a different close"),
      (3L, "completely unrelated content with no common run at all here")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("winnow").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = DocQueries.winnowArrays(spark, tmp)
      .select("doc_id", "fingerprints").as[(Long, Seq[Long])].collect()
      .map(r => r._1 -> r._2.toSet).toMap
    val overlap12 = (fps(1L) & fps(2L)).size.toDouble / math.min(fps(1L).size, fps(2L).size)
    val overlap13 = (fps(1L) & fps(3L)).size.toDouble / math.min(fps(1L).size, fps(3L).size)
    assert(overlap12 > 0.3, s"shared-substring docs should share fingerprints: $overlap12")
    assert(overlap13 < overlap12 / 2, s"unrelated doc too similar: $overlap13 vs $overlap12")
  }

  test("ann LSH cosines agree with brute force on shared pairs") {
    val brute = EmbeddingQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lsh = EmbeddingQueries.annLsh(spark, sf)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
    val shared = lsh.filter(r => brute.contains((r._1, r._2)))
    shared.foreach { case (q, v, c) =>
      assert(math.abs(brute((q, v)) - c) < 1e-4, s"cosine mismatch for ($q,$v)")
    }
  }

  test("repetition metrics: planted repeats vs distinct-bigram text") {
    val docs = Seq(
      (1L, "a b a b a b"),                 // "a b"x3, "b a"x2: n=5 top=3 dup=5
      (2L, "one two three four five six"), // all 5 bigrams distinct
      (3L, "solo")                         // <2 tokens: zero row
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("repet").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.repetition(spark, tmp)
      .select("doc_id", "n_bigrams", "top_bigram_count", "dup_bigram_count")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4))
      .toMap
    assert(got(1L) === ((5L, 3L, 5L)))
    assert(got(2L) === ((5L, 1L, 0L)))
    assert(got(3L) === ((0L, 0L, 0L)))
    val fracs = DocQueries.repetition(spark, tmp)
      .select("doc_id", "top_bigram_frac", "dup_bigram_frac")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(fracs(1L) === ((Some(0.6), Some(1.0))))
    assert(fracs(3L) === ((None, None))) // guarded: no divide-by-zero
  }

  test("bm25 ranks term-dense docs first and drops termless docs") {
    val docs = Seq(
      (1L, "spark join window spark join filler words pad pad pad"),
      (2L, "spark appears once in this much longer document about other " +
        "things entirely with many extra words diluting the term density"),
      (3L, "nothing relevant in this document at all just noise")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("bm25").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.bm25(spark, tmp)
      .select("doc_id", "bm25", "rank").as[(Long, Double, Int)].collect()
      .sortBy(_._3)
    assert(got.map(_._1).toSeq === Seq(1L, 2L), s"got ${got.toSeq}")
    assert(got(0)._2 > got(1)._2)
  }

  test("session stats: gap-split sessions, bounces, and durations roll up") {
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      // user 1: two events 10 min apart (one session), then a 40-min gap
      // opens a second, single-event session (a bounce)
      (1L, at(0), 1L, "view", 1.0, "{}"),
      (2L, at(10), 1L, "view", 1.0, "{}"),
      (3L, at(50), 1L, "view", 1.0, "{}"),
      // user 2: one event -> bounce
      (4L, at(5), 2L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("sessstats").toString
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.sessionStats(spark, tmp).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[String]("day") === "2024-03-01")
    assert(r.getAs[Long]("n_sessions") === 3L)
    assert(r.getAs[Long]("n_bounces") === 2L)
    assert(math.abs(r.getAs[Double]("bounce_rate") - 2.0 / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("avg_session_events") - 4.0 / 3) < 1e-6)
    // durations: 10 min + 0 + 0 over 3 sessions
    assert(math.abs(r.getAs[Double]("avg_duration_ms") - 600000.0 / 3) < 1e-6)
  }

  test("unigram LM: repeated-token docs score lower NLL than rare-token docs") {
    val out = DocQueries.unigramLm(spark, sf)
      .select("doc_id", "nll").as[(Long, Double)].collect().toMap
    assert(out.nonEmpty && out.values.forall(v => v > 0 && !v.isNaN))
    // the corpus-frequent tokens dominate: scores spread, not constant
    assert(out.values.toSet.size > 1)
  }

  test("unigram LM: hand-built corpus matches hand-computed NLL") {
    val tmp = java.nio.file.Files.createTempDirectory("lmtest").toString
    Seq((1L, "a a a b", "en", "web", 7L), (2L, "b", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DocQueries.unigramLm(spark, tmp)
      .select("doc_id", "nll").as[(Long, Double)].collect().toMap
    // counts: a=3, b=2, total=5
    val expected1 = math.log(5.0) - (3 * math.log(3.0) + math.log(2.0)) / 4
    val expected2 = math.log(5.0) - math.log(2.0)
    assert(math.abs(out(1L) - expected1) < 1e-6)
    assert(math.abs(out(2L) - expected2) < 1e-6)
  }

  test("source mix: token shares sum to 1 and cells partition the corpus") {
    val rows = DocQueries.sourceMix(spark, sf).collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares sum to $shareSum")
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs === graft.Tables.documents(spark, sf).count())
  }

  test("sessionize: a gap of exactly 30 minutes stays in the same session") {
    // Empirical boundary semantics of session_window: an event arriving
    // EXACTLY gap after the previous one MERGES into the session (touching
    // windows coalesce — merge condition start <= prev end); only a gap
    // strictly greater than 30 min opens a new session. The SQL oracles
    // must therefore split on `gap > 1800000`, not `>=`. This test pins
    // the engine behavior so the oracle boundary can't silently drift.
    val tmp = java.nio.file.Files.createTempDirectory("sessboundary").toString
    val t0 = 1704100000000L
    Seq(
      (1L, new java.sql.Timestamp(t0), 10L, "view", 1.0, "{}"),
      (2L, new java.sql.Timestamp(t0 + 1800000L), 10L, "view", 1.0, "{}"),  // exactly 30 min
      (3L, new java.sql.Timestamp(t0 + 1800000L + 1800001L), 10L, "view", 1.0, "{}")) // 30 min + 1ms
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val sessions = EventQueries.sessionize(spark, tmp)
      .select("session_start_ms", "n_events").as[(Long, Long)].collect().sortBy(_._1)
    assert(sessions.length === 2, s"expected 2 sessions, got ${sessions.toSeq}")
    assert(sessions(0) === ((t0, 2L)))  // events 1+2 merge (touching windows)
    assert(sessions(1)._2 === 1L)       // the >gap event opens a new session
  }

  test("shard pack: contiguous positions, exact prefix sums, stable across runs") {
    val out = DocQueries.shardPack(spark, sf).collect()
    val byShard = out.groupBy(_.getAs[Int]("shard"))
    assert(byShard.keys.forall(s => s >= 0 && s < 8))
    byShard.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("pos"))
      assert(sorted.map(_.getAs[Long]("pos")).toSeq === (1L to rows.length).toSeq)
      var cum = 0L
      sorted.foreach { r =>
        cum += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("cum_tokens") === cum)
        val expectedSeq = (r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens")) / 2048
        assert(r.getAs[Long]("seq_id") === expectedSeq)
      }
    }
    // reruns assign identical shards/positions (no RNG, no order dependence)
    val again = DocQueries.shardPack(spark, sf).collect()
    assert(out.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
  }

  test("filter chain: keep is the rule conjunction; drop_reason names the first failure") {
    val rows = DocQueries.filterChain(spark, sf).collect()
    rows.foreach { r =>
      val rules = Seq("r_min_tokens", "r_max_tokens", "r_ttr", "r_stopwords",
        "r_token_len").map(r.getAs[Boolean])
      assert(r.getAs[Boolean]("keep") === rules.forall(identity))
      if (r.getAs[Boolean]("keep")) assert(r.getAs[String]("drop_reason") == null)
      else assert(r.getAs[String]("drop_reason") != null)
    }
  }

  test("stratified sample: exact min(quota, size) per stratum, stable reruns") {
    val strata = graft.Tables.documents(spark, sf)
      .groupBy("source", "lang").count()
      .as[(String, String, Long)].collect()
      .map { case (s, l, n) => (s, l) -> n }.toMap
    val sampled = DocQueries.stratifiedSample(spark, sf)
      .groupBy("source", "lang").count()
      .as[(String, String, Long)].collect()
      .map { case (s, l, n) => (s, l) -> n }.toMap
    assert(sampled.keySet === strata.keySet) // every stratum represented
    sampled.foreach { case (k, n) => assert(n === math.min(5L, strata(k))) }
    val again = DocQueries.stratifiedSample(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(DocQueries.stratifiedSample(spark, sf)
      .select("doc_id").as[Long].collect().toSet === again)
  }

  test("quality buckets: deciles partition each language, ordered by score") {
    val rows = DocQueries.qualityBuckets(spark, sf)
      .select("lang", "quality_score", "decile")
      .as[(String, Double, Int)].collect()
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.forall(r => r._3 >= 1 && r._3 <= 10))
      // monotone: sorting by score never decreases the decile
      val sorted = g.sortBy(r => (r._2, r._3))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 <= b._3)
        case _ =>
      }
      // NTILE balance: bucket sizes differ by at most 1
      val sizes = g.groupBy(_._3).values.map(_.size)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("pq ADC search: an exact copy of a query ranks first at distance 0") {
    // Synthetic embeddings table: vec_id < 16 double as the PQ codebook
    // (queries are vec_id < 10), and corpus vector 20 is an exact copy of
    // query 0 — its codes resolve to query 0's own codebook entries, so
    // the ADC lookup-table distance must be exactly 0 and rank 1.
    val tmp = java.nio.file.Files.createTempDirectory("pqsearch").toString
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(64)(j => (((seed * 101 + j * 7) % 256) - 128) / 128.0f)
    (0 until 30).map { id =>
      (id.toLong, if (id == 20) vec(0) else vec(id), id % 3)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = EmbeddingQueries.pqSearch(spark, tmp)
      .select("q_id", "vec_id", "approx_dist2", "rk")
      .as[(Long, Long, Long, Int)].collect()
    val q0top = out.filter(r => r._1 == 0L && r._4 == 1).head
    assert(q0top._2 === 20L)
    assert(q0top._3 === 0L)
    // every query gets a full, strictly-ranked top-k
    out.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq === (1 to 5))
    }
  }

  test("paragraph dedup: planted duplicate paragraphs drop, first stays") {
    // doc 1 and doc 2 share their first 10-token block; doc 2's copy must
    // be flagged and doc 2 must reassemble without it
    val block = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, block + " tail1a tail1b tail1c tail1d tail1e tail1f tail1g tail1h tail1i tail1j"),
      (2L, block + " tail2a tail2b tail2c tail2d tail2e tail2f tail2g tail2h tail2i tail2j"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("paradedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DocQueries.paragraphDedup(spark, tmp)
      .select("doc_id", "n_paras", "n_dup_paras", "kept_md5")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 2L && out(1L)._3 === 0L)
    assert(out(2L)._2 === 2L && out(2L)._3 === 1L) // shared block dropped
    assert(out(3L)._3 === 0L)
    // doc 2 reassembles as only its second paragraph
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("tail2a tail2b tail2c tail2d tail2e tail2f tail2g tail2h tail2i tail2j"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(2L)._4 === expect)
  }

  test("chunking: full coverage, fixed stride, and overlap between chunks") {
    val out = DocQueries.chunk(spark, sf)
      .select("doc_id", "chunk_id", "start_token", "chunk_len")
      .as[(Long, Int, Long, Int)].collect()
      .groupBy(_._1)
    val docLens = DocQueries.tokenCounts(spark, sf)
      .select(col("doc_id"), col("ws_tokens").cast("long"))
      .as[(Long, Long)].collect().toMap
    out.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_._2)
      // stride is exactly size-overlap and ids are contiguous from 0
      sorted.zipWithIndex.foreach { case ((_, cid, start, _), i) =>
        assert(cid === i && start === i.toLong * 12 + 1)
      }
      // last chunk reaches the end of the document; all but the last are full
      val n = docLens(doc)
      assert(sorted.last._3 - 1 + sorted.last._4 === n)
      sorted.init.foreach(c => assert(c._4 === 16))
    }
  }

  test("semantic dedup: a planted copy dups against its original, in-cell only") {
    val base = EmbeddingQueries.semDedup(spark, sf)
      .select("vec_id", "cell", "is_dup", "dup_of")
      .as[(Long, String, Boolean, Option[Long])].collect()
    val cellOf = base.map(r => r._1 -> r._2).toMap
    // every dup_of names a smaller id in the same cell
    base.filter(_._3).foreach { case (id, cell, _, dupOf) =>
      assert(dupOf.get < id && cellOf(dupOf.get) === cell)
    }
    // planted check: duplicate an existing vector under a new max id and
    // confirm it's flagged against a cell-mate
    val sf001 = spark.read.parquet(s"$sf/embeddings.parquet")
    val maxId = sf001.agg(max("vec_id")).as[Long].head()
    val copy = sf001.filter(col("vec_id") === 42)
      .withColumn("vec_id", lit(maxId + 1))
    val tmp = java.nio.file.Files.createTempDirectory("semdedup").toString
    sf001.unionByName(copy).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val planted = EmbeddingQueries.semDedup(spark, tmp)
      .filter(col("vec_id") === maxId + 1)
      .select("is_dup", "dup_of").as[(Boolean, Option[Long])].head()
    assert(planted._1 && planted._2.get <= 42L)
  }

  test("kmeans: planted copies land in the same cluster at equal distance") {
    val base = EmbeddingQueries.kmeans(spark, sf)
      .select("vec_id", "cluster", "dist2").as[(Long, Int, Long)].collect()
    assert(base.forall(r => r._2 >= 0 && r._2 < 8 && r._3 >= 0))
    assert(base.map(_._1).distinct.length === base.length)
    // an exact copy of vector 42 must assign identically
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val maxId = e.agg(max("vec_id")).as[Long].head()
    val tmp = java.nio.file.Files.createTempDirectory("kmeans").toString
    e.unionByName(e.filter(col("vec_id") === 42)
        .withColumn("vec_id", lit(maxId + 1)))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = EmbeddingQueries.kmeans(spark, tmp)
      .filter(col("vec_id").isin(42, maxId + 1))
      .select("cluster", "dist2").as[(Int, Long)].collect()
    assert(out.length === 2 && out.distinct.length === 1)
  }

  test("importance: docs matching the target distribution score higher") {
    // target slice (doc_id % 97 == 0) speaks 'aa bb'; source doc 1 copies
    // it, source doc 2 speaks unrelated tokens — 1 must outscore 2
    val docs = Seq(
      (0L, "aa bb aa bb aa bb"),   // target
      (97L, "aa bb aa bb"),        // target
      (1L, "aa bb aa bb aa bb"),   // source, on-target
      (2L, "zz yy zz yy zz yy")    // source, off-target
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("importance").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DocQueries.importance(spark, tmp)
      .select("doc_id", "importance").as[(Long, Double)].collect().toMap
    assert(out.keySet === Set(1L, 2L), "target docs are excluded from scoring")
    assert(out(1L) > out(2L))
  }

  test("contamination rate: planted n-gram leak is graded, clean doc is 0") {
    // bench doc's 5-grams: {alpha..epsilon}, {beta..zeta}
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val train = Seq(
      // 9 tokens -> 5 distinct 5-grams, exactly one of them from bench
      (1L, "intro words alpha beta gamma delta epsilon closing remark"),
      (2L, "completely different content with no shared phrases here"))
      .toDF("doc_id", "text")
    val out = DocQueries.contaminationRateOn(train, bench)
      .select("doc_id", "n_ngrams", "n_hits", "contamination_rate",
        "contaminated_ngram")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 5L, 1L, 0.2, true)))
    assert(out(2L) === ((2L, 4L, 0L, 0.0, false)))
  }

  test("domain reweight: the hard (rare-token) domain is upweighted, " +
      "weights stay a normalized distribution") {
    // "easy" docs repeat the corpus-dominant tokens (low unigram NLL);
    // "hard" docs use singleton tokens (high NLL -> positive excess)
    val docs = (
      (1 to 8).map(i => (i.toLong, "the cat sat on the mat", "easy")) ++
      (9 to 12).map(i => (i.toLong, s"zx$i qv$i wq$i jk$i", "hard")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("reweight").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DocQueries.domainReweight(spark, tmp)
      .as[(String, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, nE, _, exE, wE, bE) = out("easy")
    val (_, nH, _, exH, wH, bH) = out("hard")
    assert(nE === 8L && nH === 4L)
    assert(exH > 0 && exE < 0, "hard domain must show positive excess loss")
    assert(wH > wE, "multiplicative weights must favor the hard domain")
    assert(math.abs(wE + wH - 1.0) < 1e-6, "weights normalize to 1")
    assert(bH > 1.0 && bE < 1.0, "boost is relative to uniform")
  }

  test("tfidf knn: a planted near-copy is the probe's top neighbor") {
    // probe = doc 0 (0 % 101 == 0); doc 7 shares 5 of its 6 terms; docs
    // 11/12 share none, so they must not appear in the probe's result
    val docs = Seq(
      (0L, "spark shuffle join window agg filter"),
      (7L, "spark shuffle join window agg scan"),
      (11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "alpha beta gamma delta epsilon eta"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = DocQueries.tfidfKnn(spark, tmp)
      .as[(Long, Long, Double, Int)].collect().toSeq
    // shared-term weight 1*(4*1000 DIV 2)=2000, unique 4000:
    // dot = 5*2000^2, both norms sqrt(5*2000^2+4000^2) = 6000
    assert(rows === Seq((0L, 7L, 0.555556, 1)))
  }

  test("tfidf df cap: a corpus-wide hot term is pruned BY DEFAULT; " +
      "dfCapFrac=0 disables") {
    // "the" occurs in every doc (1 of 13 vocab terms over the 0.5 cap —
    // well under the 20% degeneracy gate): the default path prunes it, so
    // only genuine term overlap survives; disabling the cap links even
    // the disjoint docs to the probe through the stopword
    val docs = Seq(
      (0L, "the apple banana cherry"),
      (7L, "the apple banana mango"),
      (11L, "the wolf fox bear"),
      (12L, "the lion tiger puma"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("tfidfcap").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val capped = DocQueries.tfidfKnn(spark, tmp)
      .as[(Long, Long, Double, Int)].collect()
    assert(capped.map(_._2).toSet === Set(7L))
    // apple/banana idf 2000, cherry/mango 4000: dot 8e6 over norms
    // sqrt(24e6) each -> exactly 1/3
    assert(capped.head._3 === 0.333333)
    spark.conf.set(GraftConf.TfidfDfCapFrac.key, "0")
    try {
      val uncapped = DocQueries.tfidfKnn(spark, tmp)
        .select("doc_id").as[Long].collect().toSet
      assert(uncapped === Set(7L, 11L, 12L))
    } finally spark.conf.unset(GraftConf.TfidfDfCapFrac.key)
  }

  test("tfidf df cap degeneracy gate: a tiny-vocab corpus where capping " +
      "would drop most terms stays uncapped by default") {
    // vocabulary {aa bb cc x0 x7 x11 x12}: aa/bb/cc are in every doc
    // (3 of 7 terms over the cap = 43% > the 20% gate) — auto-capping
    // would gut the index, so the gate must leave it uncapped and the
    // hot terms still link the disjoint docs to the probe
    val docs = Seq(
      (0L, "aa bb cc x0"),
      (7L, "aa bb cc x7"),
      (11L, "aa bb cc x11"),
      (12L, "aa bb cc x12"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("tfidfgate").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DocQueries.tfidfKnn(spark, tmp)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(7L, 11L, 12L))
  }

  test("hash classifier: order-invariant, additive, and hash-faithful") {
    val docs = Seq(
      (1L, "spark join"), (2L, "join spark"), (3L, "spark join spark join"))
      .toDF("doc_id", "text")
    val out = DocQueries.hashClassifierOn(docs)
      .select("doc_id", "n_tokens", "logit", "label", "margin")
      .as[(Long, Long, Long, Boolean, Double)].collect()
      .map(r => r._1 -> r).toMap
    // independent weight computation: int from the raw digest bytes rather
    // than the query's hex-substring parse
    def weight(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("w:" + t).getBytes("UTF-8"))
      val h = java.nio.ByteBuffer.wrap(d).getInt.toLong & 0xFFFFFFFFL
      h % 2001 - 1000
    }
    val expected = weight("spark") + weight("join")
    assert(out(1L)._3 === expected)
    assert(out(2L)._3 === expected, "bag-of-words: token order must not matter")
    assert(out(3L)._3 === 2 * expected, "multiplicity counts")
    assert(out(1L)._4 === (expected > 0))
    assert(out(3L)._5 === out(1L)._5, "margin normalizes by length")
  }

  test("ngram novelty: duplicate content scores 0, fresh content 1") {
    val docs = Seq(
      (10L, "a b c d e"),      // 3 shingles, all first-seen here
      (20L, "a b c d e"),      // exact copy -> novelty 0
      (30L, "a b c x y z"))    // shares only "a b c" -> 3 of 4 novel
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("novelty").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DocQueries.ngramNovelty(spark, tmp)
      .select("doc_id", "n_shingles", "n_novel", "novelty_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(10L) === ((10L, 3L, 3L, 1.0)))
    assert(out(20L) === ((20L, 3L, 0L, 0.0)))
    assert(out(30L) === ((30L, 4L, 3L, 0.75)))
  }

  test("temperature mix: rebalance flattens the source distribution") {
    val w = DocQueries.mixTemperature(spark, sf)
      .select("source", "weight_raw", "weight_smoothed", "accept_prob")
      .as[(String, Double, Double, Double)].collect()
    assert(w.length > 1, "fixture should span multiple sources")
    // sqrt smoothing strictly contracts the spread: every source's smoothed
    // share sits between its raw share and the uniform share
    val uniform = 1.0 / w.length
    w.foreach { case (s, raw, smooth, _) =>
      val (lo, hi) = (math.min(raw, uniform), math.max(raw, uniform))
      assert(smooth >= lo - 1e-6 && smooth <= hi + 1e-6,
        s"$s: smoothed $smooth outside [$lo, $hi]")
    }
    // the most under-represented source is the anchor: it keeps everything
    assert(w.map(_._4).max >= 1.0 - 1e-6)
    assert(w.forall(_._4 <= 1.0))
    // applying the thresholds moves the REALIZED doc mix toward the target:
    // acceptance is lowest where raw share most exceeds the target
    val kept = DocQueries.mixApply(spark, sf)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val overall = kept.values.sum.toDouble /
      DocQueries.queries("doc_fingerprint")(spark, sf).count()
    assert(overall < 1.0, "rebalance must actually drop rows somewhere")
    val byBoost = w.sortBy(_._4)
    val mostOver = byBoost.head._1   // lowest accept_prob = most over-represented
    val mostUnder = byBoost.last._1
    assert(kept.getOrElse(mostOver, 0L) >= 0)   // present in report even if all dropped
    assert(kept(mostUnder) > 0, "anchor source must keep its documents")
  }

  test("rerank ANN: a prefix-zero vector cannot poison the coarse ranking") {
    val rng = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    // 10 queries + 60 normal corpus vectors + ONE vector that is zero in
    // the truncated prefix (dims 1..32) but valid overall: its coarse
    // cosine is 0/0 — ungoverned, NaN would sort FIRST in Spark and win
    // every query's coarse pass; the guard pins it to -2 (last)
    val degenerate = Array.tabulate(64)(i => if (i < 32) 0f else 1f)
    val rows = (0 until 10).map(i => (i.toLong, vec())) ++
      (0 until 60).map(i => (100L + i, vec())) :+ (999L, degenerate)
    val tmp = java.nio.file.Files.createTempDirectory("rerank0").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val picked = EmbeddingQueries.queries("emb_ann_rerank")(spark, tmp)
      .select("vec_id").as[Long].collect().toSet
    assert(picked.nonEmpty)
    assert(!picked.contains(999L),
      "the prefix-zero vector must rank last in the coarse pass, not NaN-first")
  }

  test("sqlToks equals the engine's own column split on adversarial text") {
    import graft.functions.MinHash
    val samples = Seq("\tfoo bar", "  foo  ", "a\u000bb", "x\ny\t", "", " ",
      "a  b\fc", "a b", "\t\n", "one two  three")
    val viaColumn = samples.zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"), split(trim(col("text")), MinHash.WsRe).as("tk"))
      .as[(Int, Seq[String])].collect().toMap
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(MinHash.sqlToks(s).toSeq === viaColumn(i),
        s"JVM tokenizer diverged from the column split on ${s.map(_.toInt)}")
    }
  }

  test("pattern search: a planted spike window ranks first") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(i: Int) = new java.sql.Timestamp(ts0 + i * 1000L)
    // user 1: flat noise, then an exact template-shaped spike; user 2: ramp
    val spike = Seq(100.0, 100.0, 100.0, 100.0, 100.0, 140.0, 200.0, 120.0)
    val events =
      ((1 to 8).map(i => (i.toLong, t(i), 1L, "view", spike(i - 1), "{}")) ++
       (1 to 12).map(i => (100L + i, t(i), 2L, "view", i * 10.0, "{}")))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("pat").toString
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val top = EventQueries.queries("evt_pattern_topk")(spark, tmp)
      .select("event_id", "user_id", "pattern_dist")
      .as[(Long, Long, Double)].collect()
    assert(top.nonEmpty)
    // the window ENDING at event 8 is exactly the (scaled, shifted)
    // template: z-normalized distance is minimal and must rank first
    assert(top.head._1 === 8L && top.head._2 === 1L,
      s"spike window must rank first, got ${top.toSeq.take(3)}")
    assert(top.head._3 < top(1)._3, "the planted match must strictly win")
  }

  test("zorder: interleave is exact and tiles nest by prefix") {
    val rows = EventQueries.queries("evt_zorder")(spark, sf)
      .select("user_id", "day_num", "zvalue", "zfile")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    def interleave(x: Long, y: Long): Long =
      (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    rows.foreach { case (u, dn, z, zf) =>
      assert(z === interleave(u & 65535, dn & 65535))
      // prefix property: the file tile IS the interleave of the truncated
      // coordinates — close (user, day) pairs land in the same file
      assert(zf === interleave((u & 65535) >> 11, (dn & 65535) >> 11),
        s"u=$u dn=$dn")
    }
  }

  test("EWMA: hand-computed smoothing over a planted series") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = Seq(
      (1L, ts, 1L, "view", 10.0, "{}"),
      (2L, ts, 1L, "view", 20.0, "{}"),
      (3L, ts, 1L, "view", 40.0, "{}"),
      (4L, ts, 2L, "view", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("ewma").toString
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventQueries.queries("evt_ewma")(spark, tmp)
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    // event 1: hist [10000]          -> 10000
    // event 2: hist [10000, 20000]   -> (10000/4 + 20000/2) / (1/4 + 1/2)
    // event 3: [10000, 20000, 40000] -> (10000/8 + 20000/4 + 40000/2) / (7/8)
    assert(out(1L) === 10000.0)
    assert(out(2L) === 16666.666667) // (10000/4 + 20000/2) / 0.75, round 6
    assert(out(3L) === 30000.0)      // 26250 / 0.875
    assert(out(4L) === 7000.0)       // user 2 isolated
  }

  test("curriculum: train_pos is a permutation, round-robin, best-first") {
    val rows = DocQueries.curriculum(spark, sf)
      .select("doc_id", "source", "quality_milli", "round", "train_pos")
      .as[(Long, String, Long, Int, Long)].collect()
    val n = rows.length
    // a true permutation of 0..n-1 — every position exists exactly once
    assert(rows.map(_._5).sorted.toSeq === (0L until n).toSeq)
    val order = rows.sortBy(_._5)
    // quality never improves later WITHIN a source (best-first curriculum)
    order.groupBy(_._2).values.foreach { src =>
      val q = src.sortBy(_._5).map(_._3)
      assert(q.zip(q.tail).forall { case (a, b) => a >= b }, "quality must be non-increasing")
    }
    // the first |sources| positions hold one doc from each source (round 1)
    val nSources = rows.map(_._2).distinct.length
    assert(order.take(nSources).map(_._2).distinct.length === nSources,
      "round 1 must interleave every source")
    // rounds are contiguous: all of round r precedes all of round r+1
    assert(order.map(_._4).zip(order.map(_._4).tail).forall { case (a, b) => a <= b })
  }

  test("embedding outliers: a planted far vector flags, the bulk does not") {
    val dim = 64
    // 60 tight vectors near the origin, one far away
    val vecs = (1L to 60L).map(id =>
      (id, Array.tabulate(dim)(i => ((id + i) % 7).toFloat / 100f), 0)) :+
      (99L, Array.fill(dim)(0.5f), 0)
    val tmp = java.nio.file.Files.createTempDirectory("out").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = EmbeddingQueries.queries("emb_outliers")(spark, tmp)
      .select("vec_id", "z").as[(Long, Option[Double])].collect().toMap
    assert(out(99L).exists(_ > 3.0), s"planted outlier not flagged: ${out(99L)}")
    assert((1L to 60L).forall(id => out(id).forall(_ <= 3.0)),
      "bulk vectors must not flag")
  }

  test("BPE trainer matches a naive reference on a planted corpus") {
    import graft.functions.Bpe
    // the classic Sennrich corpus shape: repeated words with shared affixes
    val words = Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    Seq((1L, text, "en", "web", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // naive single-machine reference: same tie-break (count desc, then
    // lexicographic), independent pair counting
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, n) => Bpe.wordSymbols(w).toVector -> n.toLong }.toMap
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    (0 until 10).foreach { _ =>
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.indices.dropRight(1).foreach { j =>
          pairs((syms(j), syms(j + 1))) = pairs.getOrElse((syms(j), syms(j + 1)), 0L) + c
        }
      }
      if (pairs.nonEmpty) {
        val ((l, r), c) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
        expected += ((l, r, c))
        vocab = vocab.map { case (syms, cnt) =>
          Bpe.mergePair(syms.toArray, l, r).toVector -> cnt
        }
      }
    }

    spark.conf.set(GraftConf.BpeMerges.key, "10")
    try {
      val got = DocQueries.bpeTrain(spark, tmp)
        .orderBy("rank").select("left", "right", "pair_count")
        .as[(String, String, Long)].collect().toSeq
      assert(got === expected.toSeq)
      // force the big-vocab distributed loop (gate 0) — must produce the
      // IDENTICAL merge table; a fresh temp dir defeats the model cache
      val tmp2 = java.nio.file.Files.createTempDirectory("bpe2").toString
      Seq((1L, text, "en", "web", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
      spark.conf.set(GraftConf.BpeMaxDriverVocab.key, "0")
      try {
        val dist = DocQueries.bpeTrain(spark, tmp2)
          .orderBy("rank").select("left", "right", "pair_count")
          .as[(String, String, Long)].collect().toSeq
        assert(dist === expected.toSeq, "distributed path diverged from driver path")
      } finally spark.conf.unset(GraftConf.BpeMaxDriverVocab.key)
      // encode round-trip on the same model: symbols reconstruct each word
      val rank = got.zipWithIndex.map { case ((l, r, _), i) => (l, r) -> i }.toMap
      words.foreach { case (w, _) =>
        val syms = Bpe.encodeWord(w, rank)
        assert(syms.mkString.stripSuffix(Bpe.EndOfWord) === w)
      }
      // the most frequent pair merged first: "es" from newest (6) + widest (3)
      assert(got.head._3 === 9L)
    } finally spark.conf.unset(GraftConf.BpeMerges.key)
  }

  test("BPE encoding merges by rank priority, not text order") {
    import graft.functions.Bpe
    // (b, c</w>) learned FIRST: greedy-by-rank yields [a, bc</w>], while a
    // naive left-to-right scan would produce [ab, c</w>]
    val rank = Map(("a", "b") -> 1, ("b", "c" + Bpe.EndOfWord) -> 0)
    assert(Bpe.encodeWord("abc", rank).toSeq === Seq("a", "bc" + Bpe.EndOfWord))
    // merges apply to ALL occurrences in the word, non-overlapping
    assert(Bpe.mergePair(Array("a", "a", "a"), "a", "a").toSeq === Seq("aa", "a"))
  }

  test("anomaly: a planted outlier flags only for its own user") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // a sample z-score is bounded by (n-1)/sqrt(n): one spike among 14
    // tight values reaches z ~ 3.6, comfortably over the 3.0 flag
    val events = (
      (1L to 14L).map(id => (id, ts, 1L, "view", 10.0 + (id % 3) * 0.5, """{"k":1}""")) ++
      Seq((15L, ts, 1L, "view", 1000.0, """{"k":1}""")) ++
      // user 2: the same wild magnitude is NORMAL for this user
      Seq((16L, 990.0), (17L, 1010.0), (18L, 1000.0)).map {
        case (id, v) => (id, ts, 2L, "view", v, """{"k":1}""")
      }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("anomaly").toString
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventQueries.queries("evt_anomaly")(spark, tmp)
      .select("event_id", "z", "is_anomaly")
      .as[(Long, Option[Double], Option[Boolean])].collect()
      .map(r => r._1 -> r).toMap
    assert(out(15L)._3 === Some(true), s"outlier not flagged: ${out(15L)}")
    assert(out(15L)._2.get > 3.0)
    (1L to 14L).foreach(id => assert(out(id)._3 === Some(false)))
    // user 2's 1000s are unremarkable within user 2
    (16L to 18L).foreach(id => assert(out(id)._3 === Some(false)))
  }

  test("rerank ANN: coarse-prefix candidates recover most exact neighbors") {
    val exact = EmbeddingQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val reranked = EmbeddingQueries.queries("emb_ann_rerank")(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & reranked).size.toDouble / exact.size
    assert(recall >= 0.6, s"prefix-coarse recall $recall collapsed")
    // reranked cosines are the EXACT full-dim values: any returned pair
    // that is also in the exact top-k must carry the identical cosine
    val exactCos = EmbeddingQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    EmbeddingQueries.queries("emb_ann_rerank")(spark, sf)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect().foreach { case (q, v, c) =>
        exactCos.get((q, v)).foreach(ec => assert(ec === c))
      }
  }

  test("sq codes: range, extremes, and step-bounded reconstruction") {
    val codes = EmbeddingQueries.sqCodes(spark, sf)
      .select("vec_id", "dim", "code")
      .as[(Long, Int, Int)].collect()
    assert(codes.forall(c => c._3 >= 0 && c._3 <= 255))
    // per dimension the global min must code to 0 and the global max to 255
    val raw = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("col").cast("double").as("x"))
      .as[(Long, Int, Double)].collect()
    val byDim = raw.groupBy(_._2)
    val codeOf = codes.map(c => (c._1, c._2) -> c._3).toMap
    byDim.foreach { case (dim, g) =>
      val lo = g.minBy(_._3); val hi = g.maxBy(_._3)
      assert(codeOf((lo._1, dim)) === 0, s"dim $dim min must code to 0")
      assert(codeOf((hi._1, dim)) === 255, s"dim $dim max must code to 255")
      // reconstruction error ≤ one quantization step (inclusive: the code
      // is a floor, so x sits within [dq, dq + step])
      val step = (hi._3 - lo._3) / 255.0
      g.foreach { case (id, _, x) =>
        val dq = lo._3 + codeOf((id, dim)) * step
        assert(x >= dq - 1e-7 && x <= dq + step + 1e-7,
          s"vec $id dim $dim: x=$x outside [$dq, ${dq + step}]")
      }
    }
  }

  test("sq search: an exact copy of a query outranks everything else") {
    // corpus vector 20 is an exact copy of query 0: after quantization its
    // dequantized form is the closest representable vector to query 0, so
    // the asymmetric inner product must rank it first
    val tmp = java.nio.file.Files.createTempDirectory("sqsearch").toString
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(64)(j => (((seed * 101 + j * 7) % 256) - 128) / 128.0f)
    (0 until 30).map { id =>
      (id.toLong, if (id == 20) vec(0) else vec(id), id % 3)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = EmbeddingQueries.sqSearch(spark, tmp)
      .select("q_id", "vec_id", "score", "rk")
      .as[(Long, Long, Long, Int)].collect()
    assert(out.filter(r => r._1 == 0L && r._4 == 1).head._2 === 20L)
    out.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq === (1 to 5))
    }
  }

  test("pq codes: seed vectors reconstruct exactly; codes stay in range") {
    val out = EmbeddingQueries.pqCodes(spark, sf)
      .select("vec_id", "subspace", "code", "dist2")
      .as[(Long, Int, Int, Long)].collect()
    val perVec = out.groupBy(_._1)
    // every vector encodes all 8 subspaces with codes in [0, 16)
    perVec.foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq === (0 until 8))
      assert(g.forall(r => r._3 >= 0 && r._3 < 16))
    }
    // a codebook seed's own subvector is in the codebook: exact match
    out.filter(_._1 < 16).foreach { case (_, _, _, dist2) =>
      assert(dist2 === 0L)
    }
  }

  test("ivfpq: well-formed per-query rankings that recover exact neighbors") {
    val got = EmbeddingQueries.ivfpqSearch(spark, sf)
      .as[(Long, Long, Long, Int)].collect()
    val perQ = got.groupBy(_._1)
    assert(perQ.nonEmpty)
    perQ.foreach { case (_, g) =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to sorted.length))
      // approx distance is non-decreasing down the ranking
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sorted.toSeq)
    }
    // candidate generation is shared with annIvf (same cells, same probes),
    // so recall vs the cell-exact search isolates pure quantization loss;
    // the synthetic near-uniform embeddings are PQ's worst case (residual
    // energy is spread evenly across dimensions), so the bounds are modest
    // by design — the structural assertions above are the correctness
    // check, recall is a non-degeneracy check.
    val approx = got.map(r => (r._1, r._2)).toSet
    val cellExact = EmbeddingQueries.annIvf(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val vsCell = (cellExact & approx).size.toDouble / cellExact.size
    val exact = EmbeddingQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val vsBrute = (exact & approx).size.toDouble / exact.size
    info(s"ivfpq recall: $vsCell vs cell-exact, $vsBrute vs brute")
    assert(vsCell > 0.1, s"ivfpq recovers almost nothing of its own candidate set")
    assert(vsBrute > 0.0)
  }

  test("url dedup: dressing variants collapse, content params survive") {
    val got = DocQueries.urlDedup(spark, sf)
      .as[(Long, String, String, Long, Boolean, Long)].collect()
    val byId = got.map(r => r._1 -> r).toMap
    // doc_ids 0,1 are dressing variants of page0 -> one canonical group
    assert(byId(0L)._3 === byId(1L)._3)
    assert(byId(0L)._3 === "https://example.com/page0")
    assert(!byId(0L)._5 && byId(1L)._5) // keep-first: min id is canonical
    // doc_id 2 keeps its content param -> its own canonical url
    assert(byId(2L)._3 === "https://example.com/page0?page=2")
    assert(!byId(2L)._5)
    // no canonical form retains tracking params, ports, or fragments
    got.foreach { case (_, _, c, _, _, _) =>
      assert(!c.contains("utm_") && !c.contains("ref=") &&
        !c.contains(":443") && !c.contains("#") && !c.endsWith("/"))
    }
  }

  test("url canonicalization: idempotent fixed point over the variant grid") {
    // exhaustive 2^5 dressing grid: host case x :443 x utm params x
    // fragment x trailing slash, across three distinct pages
    val urls = for {
      page <- 0 to 2
      up <- Seq(false, true); port <- Seq(false, true)
      utm <- Seq(false, true); frag <- Seq(false, true)
      s <- Seq("", "/", "//") // incl. multi-slash
    } yield {
      val host = if (up) "EXAMPLE.COM" else "example.com"
      val p = if (port) ":443" else ""
      val q = if (utm) "?utm_campaign=c&id=7&ref=x" else "?id=7"
      val f = if (frag) "#frag" else ""
      s"https://$host$p/p$page$s$q$f"
    }
    val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val once = DocQueries.urlDedupOn(df)
      .select(col("doc_id"), col("canonical_url"))
    val c1 = once.as[(Long, String)].collect().toMap
    // feeding canonical urls back through must be a fixed point
    val c2 = DocQueries.urlDedupOn(once.withColumnRenamed("canonical_url", "url"))
      .select(col("doc_id"), col("canonical_url"))
      .as[(Long, String)].collect().toMap
    assert(c1 === c2)
    // every dressing variant of a page collapses to one canonical form;
    // the id param survives everywhere
    assert(c1.values.toSet.size === 3)
    assert(c1.values.forall(_.endsWith("?id=7")))
  }

  test("ivfpq recall evaluation agrees with a direct overlap count") {
    val recall = EmbeddingQueries.annRecallIvfpq(spark, sf)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    val exact = EmbeddingQueries.knnBrute(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = EmbeddingQueries.ivfpqSearch(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(recall.keySet === exact.keySet)
    recall.foreach { case (q, hits) =>
      assert(hits === (exact(q) & approx.getOrElse(q, Set.empty)).size.toLong)
    }
  }

  test("corpus pipeline: staged curation shrinks monotonically and audits") {
    val out = java.nio.file.Files.createTempDirectory("corpus").toString
    val counts = graft.CorpusPipeline.run(spark, sf, out).toMap
    assert(counts("raw") > 0)
    // each stage can only remove documents
    val order = Seq("raw", "s1_filtered", "s2_deduped", "s3_decontaminated",
      "s4_sampled")
    order.zip(order.tail).foreach { case (a, b) =>
      assert(counts(b) <= counts(a), s"$b grew past $a in $counts")
    }
    // stage results agree with the standalone oracled operators re-run
    // against the materialized stage dirs
    val s2docs = spark.read.parquet(s"$out/s2_deduped/documents.parquet")
    assert(s2docs.select("text").distinct().count() === counts("s2_deduped"),
      "post-dedup stage must contain no duplicate text")
    // recompute the stage-3 decision from the stage-2 input and assert the
    // materialized stage equals exactly the docs it cleared (re-running on
    // s3 itself would be vacuous: its benchmark slice is already gone)
    val cleared = DocQueries.decontaminate(spark, s"$out/s2_deduped")
      .filter(!col("contaminated")).select("doc_id")
      .as[Long].collect().toSet
    val s3ids = spark.read
      .parquet(s"$out/s3_decontaminated/documents.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(s3ids === cleared)
    // chunks cover exactly the sampled docs
    val chunkDocs = spark.read.parquet(s"$out/s5_chunks.parquet")
      .select("doc_id").distinct().count()
    val nonEmpty = spark.read
      .parquet(s"$out/s4_sampled/documents.parquet")
      .filter(length(trim(col("text"))) > 0).count()
    assert(chunkDocs === nonEmpty)
  }

  test("abtest: readout matches a hand computation; degenerate z is null") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // recover the operator's own arm assignment for user ids 1..40
    val arms = spark.range(1, 41).select(col("id"),
        (conv(substring(md5(concat(lit("ab"), col("id").cast("string"))),
          25, 8), 16, 10).cast("long") % 2).as("arm"))
      .as[(Long, Long)].collect().toMap
    val a0 = arms.filter(_._2 == 0).keys.toSeq.sorted
    val a1 = arms.filter(_._2 == 1).keys.toSeq.sorted
    assert(a0.size >= 3 && a1.size >= 3)
    // arm 0: exactly one converter; arm 1: all but one convert — and a
    // cheap purchase (value under the 75 threshold) must NOT convert
    val rows = (a0.zipWithIndex.map { case (u, i) =>
      (u * 10, t("2024-03-01 10:00:00"), u,
        if (i == 0) "purchase" else "view", 100.0, "{}")
    } ++ a1.zipWithIndex.map { case (u, i) =>
      (u * 10 + 1, t("2024-03-01 11:00:00"), u,
        "purchase", if (i == 0) 10.0 else 100.0, "{}")
    })
    val tmp = java.nio.file.Files.createTempDirectory("abtest").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.abtest(spark, tmp)
      .as[(Long, Long, Double, Long, Long, Double, Double, Double)]
      .collect().head
    val (n0, c0, n1, c1) = (a0.size.toLong, 1L, a1.size.toLong, a1.size - 1L)
    assert((got._1, got._2, got._4, got._5) === ((n0, c0, n1, c1)))
    val (p0, p1) = (c0.toDouble / n0, c1.toDouble / n1)
    val pp = (c0 + c1).toDouble / (n0 + n1)
    val z = (p1 - p0) / math.sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
    assert(got._8 === math.rint(z * 1e6) / 1e6)
    assert(got._7 === math.rint((p1 - p0) * 1e6) / 1e6)
    // all-converted traffic: zero pooled variance -> z_score NULL, not a crash
    val allBuy = rows.map(r => r.copy(_4 = "purchase", _5 = 100.0))
    val tmp2 = java.nio.file.Files.createTempDirectory("abtest2").toString
    allBuy.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp2/events.parquet")
    val deg = EventQueries.abtest(spark, tmp2)
      .select("z_score").as[Option[Double]].collect().head
    assert(deg.isEmpty)
  }

  test("srm: balanced arms stay quiet, a lopsided split alarms") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val arms = spark.range(1, 200).select(col("id"),
        (conv(substring(md5(concat(lit("ab"), col("id").cast("string"))),
          25, 8), 16, 10).cast("long") % 2).as("arm"))
      .as[(Long, Long)].collect().toMap
    def corpus(users: Seq[Long]) = users.zipWithIndex.map { case (u, i) =>
      (i.toLong, t("2024-03-01 10:00:00"), u, "view", 1.0, "{}")
    }
    // near-balanced pick: 20 users from each arm -> chi2 = 0, no alarm
    val bal = arms.filter(_._2 == 0).keys.toSeq.sorted.take(20) ++
      arms.filter(_._2 == 1).keys.toSeq.sorted.take(20)
    val tmp = java.nio.file.Files.createTempDirectory("srm").toString
    corpus(bal).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val ok = EventQueries.srm(spark, tmp)
      .as[(Long, Long, Double, Boolean)].collect().head
    assert(ok === ((20L, 20L, 0.0, false)))
    // lopsided pick: 30 vs 5 -> chi2 = 2*12.5^2/17.5 ~ 17.9 -> alarm
    val bad = arms.filter(_._2 == 0).keys.toSeq.sorted.take(30) ++
      arms.filter(_._2 == 1).keys.toSeq.sorted.take(5)
    val tmp2 = java.nio.file.Files.createTempDirectory("srm2").toString
    corpus(bad).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp2/events.parquet")
    val alarm = EventQueries.srm(spark, tmp2)
      .as[(Long, Long, Double, Boolean)].collect().head
    assert(alarm._1 === 30L && alarm._2 === 5L && alarm._4,
      s"lopsided split must alarm: $alarm")
    assert(math.abs(alarm._3 - 2 * 12.5 * 12.5 / 17.5) < 1e-6)
  }

  test("cuped: theta and adjusted means match a naive reference") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // recover arms; give each user a pre-period spend correlated with the
    // post-period spend so theta is meaningfully non-zero
    val arms = spark.range(1, 13).select(col("id"),
        (conv(substring(md5(concat(lit("ab"), col("id").cast("string"))),
          25, 8), 16, 10).cast("long") % 2).as("arm"))
      .as[(Long, Long)].collect().toMap
    val users = arms.keys.toSeq.sorted
    val rows = users.zipWithIndex.flatMap { case (u, i) =>
      val pre = 10.0 + i           // covariate
      val post = 2 * pre + (if (arms(u) == 1) 5.0 else 0.0) // lift in arm 1
      Seq(
        (u * 10, t("2024-03-01 00:00:00"), u, "purchase", pre, "{}"),
        (u * 10 + 1, t("2024-03-09 00:00:00"), u, "purchase", post, "{}"))
    }
    val tmp = java.nio.file.Files.createTempDirectory("cuped").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.cuped(spark, tmp)
      .as[(Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // naive reference over cents-scaled longs (midpoint splits the 8 days)
    val x = users.map(u => u -> math.round((10.0 + users.indexOf(u)) * 100)).toMap
    val y = users.map { u =>
      u -> math.round((2 * (10.0 + users.indexOf(u)) +
        (if (arms(u) == 1) 5.0 else 0.0)) * 100)
    }.toMap
    val n = users.size.toLong
    val (sx, sy) = (x.values.sum, y.values.sum)
    val sxx = x.values.map(v => v * v).sum
    val sxy = users.map(u => x(u) * y(u)).sum
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
    assert(got.values.head._5 === math.rint(theta * 1e6) / 1e6)
    Seq(0L, 1L).foreach { a =>
      val au = users.filter(arms(_) == a)
      val adj = (au.map(y).sum.toDouble / au.size -
        theta * (au.map(x).sum.toDouble / au.size - sx.toDouble / n)) / 100.0
      assert(got(a)._4 === math.rint(adj * 1e6) / 1e6, s"arm $a")
    }
    // the whole point: arm means adjust toward the true +5 lift
    assert(math.abs((got(1L)._4 - got(0L)._4) - 5.0) < 0.5)
  }

  test("stickiness: dau/mau ratios on a planted two-month corpus") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // March: users {1,2} day1, {1} day2 -> mau 2; April: {3} -> mau 1
    val rows = Seq(
      (1L, t("2024-03-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-03-01 11:00:00"), 2L, "view", 1.0, "{}"),
      (3L, t("2024-03-02 10:00:00"), 1L, "view", 1.0, "{}"),
      (4L, t("2024-04-05 10:00:00"), 3L, "view", 1.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("stick").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.stickiness(spark, tmp)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got("2024-03-01") === ((2L, 2L, 1.0)))
    assert(got("2024-03-02") === ((1L, 2L, 0.5)))
    assert(got("2024-04-05") === ((1L, 1L, 1.0)))
  }

  test("containment catches a quoted paragraph that symmetric jaccard misses") {
    val para = (1 to 30).map(i => s"w$i").mkString(" ")
    val page = para + " " + (31 to 200).map(i => s"x$i").mkString(" ")
    val other = (300 to 340).map(i => s"y$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("contain").toString
    Seq((1L, para, "en"), (2L, page, "en"), (3L, other, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.containment(spark, tmp)
      .as[(Long, Long, Long, Long, Double)].collect()
    // para (28 shingles) is fully inside page; orientation small-into-large
    assert(got.toSeq === Seq((1L, 2L, 28L, 28L, 1.0)))
    // the same pair is INVISIBLE to symmetric jaccard at its 0.3 threshold:
    // union is dominated by the container (28 / 198 < 0.3)
    val jac = DocQueries.neardupJaccardCompute(spark, tmp)
      .as[(Long, Long, Long, Double)].collect()
    assert(!jac.exists(r => r._1 == 1L && r._2 == 2L))
  }

  test("scd2: consecutive runs collapse; validity intervals chain per user") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: tiers 0,0,1,0 -> 3 versions (the middle run collapses);
    // user 2: one constant tier -> a single open version
    val rows = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, "view", 1.0, """{"k": 5}"""),
      (2L, t("2024-01-01 01:00:00"), 1L, "view", 1.0, """{"k": 10}"""),
      (3L, t("2024-01-01 02:00:00"), 1L, "view", 1.0, """{"k": 30}"""),
      (4L, t("2024-01-01 03:00:00"), 1L, "view", 1.0, """{"k": 0}"""),
      (5L, t("2024-01-01 00:30:00"), 2L, "view", 1.0, """{"k": 99}"""))
    val tmp = java.nio.file.Files.createTempDirectory("scd2").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.scd2(spark, tmp)
      .as[(Long, Int, Long, Long, Option[Long], Boolean)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val u1 = got(1L)
    assert(u1.map(v => (v._2, v._3)).toSeq === Seq((1, 0L), (2, 1L), (3, 0L)))
    // intervals chain: each valid_to is the next valid_from; last is open
    assert(u1(0)._5 === Some(u1(1)._4))
    assert(u1(1)._5 === Some(u1(2)._4))
    assert(u1(2)._5 === None && u1(2)._6)
    assert(!u1(0)._6 && !u1(1)._6)
    assert(got(2L).map(v => (v._2, v._3, v._5, v._6)).toSeq ===
      Seq((1, 3L, None, true)))
  }

  test("survival: censored users stay in the risk set; S(t) is the KM product") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // A: first event day 0, error day 2 (dur 2, observed)
    // B: active day 0 .. day 4, never errors (censored at 4)
    // C: errors immediately (dur 0, observed)
    val rows = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-03 00:00:00"), 1L, "error", 1.0, "{}"),
      (3L, t("2024-01-01 00:00:00"), 2L, "view", 1.0, "{}"),
      (4L, t("2024-01-05 00:00:00"), 2L, "view", 1.0, "{}"),
      (5L, t("2024-01-01 00:00:00"), 3L, "error", 1.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("km").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.survival(spark, tmp)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // t=0: 3 at risk, 1 event -> 2/3; t=2: 2 at risk (A and censored-later
    // B), 1 event -> 1/3. The censored duration (4) emits NO row.
    assert(got.toSeq === Seq((0L, 3L, 1L, 2.0 / 3), (2L, 2L, 1L, (2.0 / 3) * 0.5)))
  }

  test("holt forecast: hand-computed level/trend recursion on a 3-day series") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "purchase", 1.0, "{}"),
      (2L, t("2024-01-02 10:00:00"), 1L, "purchase", 2.0, "{}"),
      (3L, t("2024-01-03 10:00:00"), 1L, "purchase", 3.0, "{}"),
      (4L, t("2024-01-03 11:00:00"), 1L, "view", 9.0, "{}")) // not revenue
    val tmp = java.nio.file.Files.createTempDirectory("holt").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.holtForecast(spark, tmp)
      .as[(String, Long, Double, Double, Option[Double])].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      ("2024-01-01", 1000L, 1000.0, 0.0, None),
      ("2024-01-02", 2000L, 1500.0, 250.0, Some(1000.0)),
      ("2024-01-03", 3000L, 2375.0, 562.5, Some(1750.0))))
  }

  test("mips ranks by raw inner product: magnitude wins where cosine ties") {
    // corpus vec 10 = 2x the query, vec 11 = exactly the query, vec 12 =
    // orthogonal: cosine ranks 10 and 11 equal (both 1.0); MIPS must put
    // the double-magnitude copy strictly first.
    def v(i: Int, s: Float) = Array.tabulate(64)(j => if (j == i) s else 0f)
    val rows = Seq(
      (0L, v(0, 1f), 0), (10L, v(0, 2f), 1), (11L, v(0, 1f), 1),
      (12L, v(1, 1f), 1))
    val tmp = java.nio.file.Files.createTempDirectory("mips").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = EmbeddingQueries.mips(spark, tmp)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    assert(got.map(_._2).take(3).toSeq === Seq(10L, 11L, 12L))
    // dots are exact scaled integers: 2e14, 1e14, 0
    assert(got.map(_._3).take(3).toSeq ===
      Seq(2L * 10000000L * 10000000L, 1L * 10000000L * 10000000L, 0L))
  }

  test("cross dedup matches incoming docs against the base corpus only") {
    // recover the operator's own shard flag so the plant lands on both
    // sides of the boundary regardless of which ids hash where
    val flags = spark.range(1, 200).select(col("id"),
        (conv(substring(md5(concat(lit("xd"), col("id").cast("string"))),
          25, 8), 16, 10).cast("long") % 10 === 0).as("in"))
      .as[(Long, Boolean)].collect()
    val inId = flags.find(_._2).get._1
    val Seq(baseA, baseB) = flags.filter(!_._2).take(2).map(_._1).toSeq
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (inId, shared + " one two"),        // incoming near-dup of baseA
      (baseA, shared + " one three"),
      (baseB, "entirely unrelated content with no overlap at all in any " +
        "shingle of any kind whatsoever nothing shared here"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("xdedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.crossDedup(spark, tmp)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set(inId -> baseA),
      s"expected only the planted cross-shard pair, got ${got.toSeq}")
    assert(got.head._3 >= 0.3 && got.head._4 === 1)
  }

  test("kn bigram matches a naive Kneser-Ney reference on a planted corpus") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "the cat sat on the rug again"),
      (4L, "one"))
    val tmp = java.nio.file.Files.createTempDirectory("kn").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // independent naive reference: counts by brute force, same formula
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val bg = toks.values
      .flatMap(t => t.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ctx = bg.groupMapReduce(_._1.split(" ")(0))(_._2)(_ + _)
    val nfol = bg.groupMapReduce(_._1.split(" ")(0))(_ => 1L)(_ + _)
    val cont = bg.groupMapReduce(_._1.split(" ")(1))(_ => 1L)(_ + _)
    val z = bg.size.toLong
    def score(t: Seq[String]): Option[Double] =
      if (t.length < 2) None
      else Some(-t.sliding(2).map { case Seq(v, w) =>
        val pc = cont.get(w).map(_.toDouble).getOrElse(0.5) / z
        math.log(ctx.get(v) match {
          case Some(cv) =>
            (math.max(bg.getOrElse(v + " " + w, 0L).toDouble - 0.75, 0.0) +
              0.75 * nfol(v).toDouble * pc) / cv.toDouble
          case None => pc
        })
      }.sum / (t.length - 1))
    val got = DocQueries.knBigram(spark, tmp)
      .as[(Long, Int, Option[Double])].collect().map(r => r._1 -> r._3).toMap
    docs.foreach { case (id, _) =>
      val want = score(toks(id)).map(x => math.rint(x * 1e6) / 1e6)
      assert(got(id).map(x => math.rint(x * 1e6) / 1e6) === want, s"doc $id")
    }
    // the formula discriminates: an attested bigram chain scores lower
    // (more likely) than one leaning on backoff mass
    assert(got(1L).get < got(4L).getOrElse(Double.MaxValue) ||
      got(4L).isEmpty)
  }

  test("cube: one pass yields all four grouping levels, consistently") {
    val ts0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-04-01 10:00:00")
    val rows = Seq(
      (1L, ts0, 1L, "view", 1.0, "{}"), (2L, ts0, 2L, "click", 2.0, "{}"),
      (3L, ts1, 1L, "view", 3.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("cube").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.cubeRollup(spark, tmp)
      .as[(Option[String], Option[String], Int, Long, Double)].collect()
    val byGid = got.groupBy(_._3)
    assert(byGid.keySet === Set(0, 1, 2, 3))
    // grand total row: both keys null, all events
    assert(byGid(3).toSeq === Seq((None, None, 3, 3L, 6.0)))
    // per-cell rows sum back to the total
    assert(byGid(0).map(_._4).sum === 3L)
    assert(byGid(0).map(_._5).sum === 6.0)
    // subtotal by month keeps month, drops type
    assert(byGid(1).forall(r => r._1.isDefined && r._2.isEmpty))
    assert(byGid(2).forall(r => r._1.isEmpty && r._2.isDefined))
  }
  test("setsim join: prefix filter finds exactly the brute-force pairs (planted)") {
    // 12-shingle base; one-shingle edits keep jaccard >= 0.6, a half
    // rewrite drops below it; doc 4 shares nothing
    val base = "a b c d e f g h i j k l m n"
    val docs = Seq(
      (1L, base),
      (2L, base + " o"),                      // superset: J = 12/13 >= 3/5
      (3L, "a b c d e f g z z z z z z z"),    // tail rewritten: J < 3/5
      (4L, "q r s t u v w x y z aa bb cc dd")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("setsim").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.setsimJoin(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 12L, 13L)))
  }

  test("setsim join: complete recall vs in-Spark brute force on sf0.001") {
    val tk = split(trim(col("text")), "\\s+")
    val sh = array_distinct(transform(sequence(lit(1), size(tk) - 2),
      i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
        element_at(tk, i + 2))))
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(size(tk) >= 3).select(col("doc_id"), sh.as("s"))
    val brute = d.as("a").crossJoin(d.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", size(array_intersect(col("a.s"), col("b.s"))).cast("long"))
      .withColumn("uni", (size(col("a.s")) + size(col("b.s"))).cast("long") - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 3)
      .select(col("a.doc_id"), col("b.doc_id"), col("inter"), col("uni"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = DocQueries.setsimJoin(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === brute, "prefix filter must neither miss nor add pairs")
  }

  test("fuzzy dedup: band-straddling pair is caught; far pair is not") {
    // K = 40: lengths 79 vs 81 sit in adjacent bands (1 vs 2) but differ
    // by 2 chars -- the 3-key fan-out must catch the pair exactly once
    val t79 = "x" * 79
    val t81 = "x" * 79 + "yy"
    val docs = Seq(
      (1L, t79), (2L, t81),
      (3L, "z" * 300)                          // length gap > K: excluded
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.fuzzyDedup(spark, tmp)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L, 2L)), "exactly once, distance 2")
  }

  test("fuzzy dedup: agrees with in-Spark brute force on sf0.001") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val brute = d.as("a").crossJoin(d.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.text"), col("b.text")).cast("long"))
      .filter(col("dist") <= 40)
      .select(col("a.doc_id"), col("b.doc_id"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    val got = DocQueries.fuzzyDedup(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute, "length-band blocking must be lossless at K=40")
  }

  test("blocked fuzzy dedup: precision 1 (subset of the exact pairs) and " +
       "the recall row reports exactly the subset ratio") {
    val exact = DocQueries.fuzzyDedup(spark, sf)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val blocked = DocQueries.fuzzyDedupBlocked(spark, sf)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact),
      "every blocked pair passed the same exact verify, so blocked ⊆ exact")
    val Array(row) = DocQueries.fuzzyRecall(spark, sf)
      .as[(Long, Long, Option[Double])].collect()
    assert(row._1 === exact.size.toLong && row._2 === blocked.size.toLong)
    assert(row._3.contains(blocked.size.toDouble / exact.size))
  }

  test("fuzzy dedup: salted shuffle path (above the broadcast gate) is " +
       "bit-identical to the broadcast path") {
    val viaBroadcast = DocQueries.fuzzyDedup(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    spark.conf.set(GraftConf.DedupMaxBroadcastDocs.key, "1")
    try {
      val viaSalt = DocQueries.fuzzyDedup(spark, sf)
        .as[(Long, Long, Long)].collect().toSet
      assert(viaSalt === viaBroadcast,
        "hash(doc_id)-salted probe x replicated build must meet every pair exactly once")
    } finally spark.conf.unset(GraftConf.DedupMaxBroadcastDocs.key)
  }

  test("cdc merge: tombstones delete, latest change wins, snapshot survives") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // cutoff is 2024-01-16T00:00Z; days 10 vs 20 sit safely on either side
    val rows = Seq(
      // user 1: two pre-cutoff (latest wins in snapshot), then an upsert
      (1L, t("2024-01-10 00:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-10 01:00:00"), 1L, "click", 2.0, "{}"),
      (3L, t("2024-01-20 00:00:00"), 1L, "purchase", 3.0, "{}"),
      // user 2: snapshot state, then a tombstone LAST -> deleted
      (4L, t("2024-01-10 00:00:00"), 2L, "view", 1.0, "{}"),
      (5L, t("2024-01-20 00:00:00"), 2L, "error", 1.0, "{}"),
      // user 3: snapshot only -> surfaces unchanged
      (6L, t("2024-01-10 00:00:00"), 3L, "signup", 7.0, "{}"),
      // user 4: changelog only (no snapshot row) -> inserted
      (7L, t("2024-01-20 00:00:00"), 4L, "view", 4.0, "{}"),
      // user 5: tombstone then a LATER upsert -> resurrected
      (8L, t("2024-01-20 00:00:00"), 5L, "error", 1.0, "{}"),
      (9L, t("2024-01-20 01:00:00"), 5L, "click", 5.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("cdc").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.cdcMerge(spark, tmp)
      .as[(Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._5))).toMap
    assert(got.keySet === Set(1L, 3L, 4L, 5L), "user 2's tombstone deletes it")
    assert(got(1L) === (("purchase", 3000L, true)))
    assert(got(3L) === (("signup", 7000L, false)))
    assert(got(4L) === (("view", 4000L, true)))
    assert(got(5L) === (("click", 5000L, true)))
  }

  test("window funnel: strict order, window anchor, and max-anchor exactness") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: full chain inside the hour
      (1L, t("2024-01-01 00:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-01 00:30:00"), 1L, "click", 1.0, "{}"),
      (3L, t("2024-01-01 00:59:00"), 1L, "purchase", 1.0, "{}"),
      // user 2: purchase lands past the view-anchored hour -> level 2
      (4L, t("2024-01-01 00:00:00"), 2L, "view", 1.0, "{}"),
      (5L, t("2024-01-01 00:30:00"), 2L, "click", 1.0, "{}"),
      (6L, t("2024-01-01 01:10:00"), 2L, "purchase", 1.0, "{}"),
      // user 3: steps present but in the wrong order -> level 1
      (7L, t("2024-01-01 00:00:00"), 3L, "click", 1.0, "{}"),
      (8L, t("2024-01-01 00:01:00"), 3L, "purchase", 1.0, "{}"),
      (9L, t("2024-01-01 00:02:00"), 3L, "view", 1.0, "{}"),
      // user 4: view and click in the SAME millisecond cannot chain
      (10L, t("2024-01-01 00:00:00"), 4L, "view", 1.0, "{}"),
      (11L, t("2024-01-01 00:00:00"), 4L, "click", 1.0, "{}"),
      // user 5: only the LATER view's chain completes — keeping the max
      //         anchor must find it even though the first view's cannot
      (12L, t("2024-01-01 00:00:00"), 5L, "view", 1.0, "{}"),
      (13L, t("2024-01-01 00:50:00"), 5L, "click", 1.0, "{}"),
      (14L, t("2024-01-01 00:55:00"), 5L, "view", 1.0, "{}"),
      (15L, t("2024-01-01 00:56:00"), 5L, "click", 1.0, "{}"),
      (16L, t("2024-01-01 01:50:00"), 5L, "purchase", 1.0, "{}"),
      // user 6: no funnel steps at all -> no row
      (17L, t("2024-01-01 00:00:00"), 6L, "signup", 1.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("wfunnel").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.windowFunnel(spark, tmp)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 1, 5L -> 3))
  }

  test("cusum: window closed form equals the clamped recurrence by hand") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // one type, daily counts [2,2,8,8]: n=4, S=20, dev=4x-S=[-12,-12,12,12]
    // s = [0, 0, 12, 24] by the max(0, s+dev) recurrence; alarm at 24 > S
    val rows = (1 to 2).map(i => (i.toLong, t(s"2024-01-01 0$i:00:00"))) ++
      (3 to 4).map(i => (i.toLong + 2, t(s"2024-01-02 0$i:00:00"))) ++
      (1 to 8).map(i => (i.toLong + 10, t(s"2024-01-03 0$i:00:00"))) ++
      (1 to 8).map(i => (i.toLong + 20, t(s"2024-01-04 0$i:00:00")))
    val tmp = java.nio.file.Files.createTempDirectory("cusum").toString
    rows.map { case (id, ts) => (id, ts, 1L, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.cusum(spark, tmp)
      .as[(String, String, Long, Long, Boolean)].collect().sortBy(_._2)
    assert(got.map(r => (r._3, r._4, r._5)).toSeq ===
      Seq((2L, 0L, false), (2L, 0L, false), (8L, 12L, false), (8L, 24L, true)))
  }

  test("luhn scan: validity matches an independent reference implementation") {
    // the test's own reference (standard right-to-left double-and-fold)
    def refLuhn(pan: String): Boolean = {
      val s = pan.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      s % 10 == 0
    }
    // sanity-pin the reference itself on canonical test PANs
    assert(refLuhn("4111111111111111") && !refLuhn("4111111111111112"))
    val got = DocQueries.luhnScan(spark, sf)
      .as[(Long, Boolean, String)].collect()
    assert(got.length > 0)
    val valids = got.count(_._2)
    assert(valids > 0 && valids < got.length, "both branches must occur")
    got.foreach { case (docId, valid, masked) =>
      val pan = f"${docId * 48271L % 100000000L}%08d" +
        f"${(docId * 16807L + 7L) % 100000000L}%08d"
      assert(valid === refLuhn(pan), s"doc $docId pan $pan")
      assert(masked === "****-****-****-" + pan.substring(12))
    }
  }

  test("bq codes pack the sign bits exactly; hamming search matches JVM popcount") {
    val embs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def pack(v: Array[Float], lo: Int): Long =
      (0 until 32).foldLeft(0L) { (acc, j) =>
        if (math.floor(v(lo + j).toDouble * 1e7) > 0) acc | (1L << j) else acc
      }
    val codes = EmbeddingQueries.bqCodes(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(codes.length === embs.size)
    codes.foreach { case (id, lod, hid) =>
      assert(lod === pack(embs(id), 0) && hid === pack(embs(id), 32), s"vec $id")
    }
    val codeMap = codes.map(c => c._1 -> ((c._2, c._3))).toMap
    val got = EmbeddingQueries.bqSearch(spark, sf)
      .as[(Long, Long, Int, Int)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, v, ham, _) =>
      val (ql, qh) = codeMap(q); val (cl, ch) = codeMap(v)
      assert(ham === java.lang.Long.bitCount(ql ^ cl) +
        java.lang.Long.bitCount(qh ^ ch), s"pair ($q,$v)")
    }
    // per query: exactly TopK rows, ranked by (hamming, vec_id)
    got.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(r => (r._3, r._2)).toSeq ===
        sorted.map(r => (r._3, r._2)).sortBy(identity).toSeq, s"query $q")
    }
  }

  test("winsorized means: a planted whale moves the raw mean, not the robust ones") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def armOf(uid: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ab$uid".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(24, 32), 16) % 2
    }
    // 60 users of revenue 1.0 plus one whale at 10000.0 — enough that the
    // whale's arm has n >= 21, so ceil(0.95*n) < n and the p95 threshold
    // actually clips the whale (at n <= 20 the discrete p95 IS the max)
    val users = (1L to 60L) :+ 999L
    val rows = users.zipWithIndex.map { case (u, i) =>
      val v = if (u == 999L) 10000.0 else 1.0
      (i.toLong + 1, t("2024-01-01 00:00:00"), u, "purchase", v, "{}")
    }
    val tmp = java.nio.file.Files.createTempDirectory("wins").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.winsorized(spark, tmp)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // independent replay with the ceil(q*n) rank rule per arm
    val byArm = users.groupBy(armOf).view
      .mapValues(_.map(u => if (u == 999L) 10000000L else 1000L).sorted).toMap
    byArm.foreach { case (arm, revs) =>
      val n = revs.length
      def qd(q: Double): Long = revs(math.ceil(q * n).toInt - 1)
      val (lo, hi) = (qd(0.05), qd(0.95))
      val clamped = revs.map(r => math.max(lo, math.min(hi, r)))
      val inner = revs.filter(r => r >= lo && r <= hi)
      val (gn, graw, gwin, gtrim) = got(arm)
      assert(gn === n.toLong, s"arm $arm")
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      assert(graw === r6(revs.sum.toDouble / n), s"arm $arm raw")
      assert(gwin === r6(clamped.sum.toDouble / n), s"arm $arm winsor")
      assert(gtrim === r6(inner.sum.toDouble / inner.length), s"arm $arm trim")
      if (revs.contains(10000000L))
        assert(gwin < graw && gtrim < graw, "whale must be tamed")
    }
  }

  test("bootstrap CI: full parity with a JVM replay of the Poisson bootstrap") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def armOf(uid: Long): Long =
      java.lang.Long.parseLong(md5hex(s"ab$uid").substring(24, 32), 16) % 2
    val cdf = Seq(0.36787944117144233, 0.7357588823428847, 0.919698602928606,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    def weight(uid: Long, b: Int): Long = {
      val v = java.lang.Long.parseLong(md5hex(s"bs$uid:$b").substring(0, 13), 16)
      val u = (v.toDouble + 0.5) / 4503599627370496.0
      val k = cdf.indexWhere(u < _)
      if (k < 0) cdf.length.toLong else k.toLong
    }
    val rev = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        floor(col("value") * 1000).cast("long"))), lit(0L)).as("rev"))
      .as[(Long, Long)].collect()
    val lifts = (1 to 200).flatMap { b =>
      var (n0, s0, n1, s1) = (0L, 0L, 0L, 0L)
      rev.foreach { case (uid, r) =>
        val w = weight(uid, b)
        if (armOf(uid) == 0) { n0 += w; s0 += w * r } else { n1 += w; s1 += w * r }
      }
      if (n0 > 0 && n1 > 0) Some(s1.toDouble / n1 - s0.toDouble / n0) else None
    }.sorted
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val bEff = lifts.length
    val expLo = r6(lifts(math.ceil(0.025 * bEff).toInt - 1))
    val expHi = r6(lifts(math.ceil(0.975 * bEff).toInt - 1))
    val Array((obs, gotB, lo, hi)) = EventQueries.bootstrapCi(spark, sf)
      .as[(Double, Long, Double, Double)].collect()
    assert(gotB === bEff.toLong && lo === expLo && hi === expHi)
    assert(lo <= hi)
    var (n0, s0, n1, s1) = (0L, 0L, 0L, 0L)
    rev.foreach { case (uid, r) =>
      if (armOf(uid) == 0) { n0 += 1; s0 += r } else { n1 += 1; s1 += r }
    }
    assert(obs === r6(s1.toDouble / n1 - s0.toDouble / n0))
  }

  test("theil-sen: recovers a planted linear trend through a corrupted day") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // daily counts 10 + 2*day for days 0..9, except day 5 explodes to 500:
    // OLS would bend; the median pairwise slope stays exactly 2
    var id = 0L
    val rows = (0 until 10).flatMap { day =>
      val n = if (day == 5) 500 else 10 + 2 * day
      (1 to n).map { _ =>
        id += 1
        (id, t(f"2024-01-${day + 1}%02d 12:00:00"), 1L, "view", 1.0, "{}")
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("tsen").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val Array((slope, intercept)) = EventQueries.theilSen(spark, tmp)
      .as[(Double, Double)].collect()
    assert(slope === 2.0, "median pairwise slope must shrug off the outlier day")
    // residuals vs x = 10 + 2*day: all 0 except day 5's (+478); the
    // ceil-rank median of 10 residuals (rank 5) is 0 -> intercept = 10
    // relative to the day-number origin used by the operator
    val dayOrigin = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
      .getTime / 86400000L
    assert(intercept === 10.0 - 2.0 * dayOrigin)
  }

  test("holt-winters: matches a plain-loop replay and beats holt on a weekly cycle") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // three weeks of a pure weekly cycle: weekday pattern [2,4,6,8,6,4,2]
    val pattern = Seq(2, 4, 6, 8, 6, 4, 2)
    var id = 0L
    val rows = (0 until 21).flatMap { day =>
      (1 to pattern(day % 7)).map { _ =>
        id += 1
        (id, t(f"2024-01-${day + 1}%02d 12:00:00"), 1L, "purchase", 1.0, "{}")
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("hw").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.holtWinters(spark, tmp)
      .as[(String, Long, Double, Double, Double, Option[Double])]
      .collect().sortBy(_._1)
    // independent plain-loop replay of the recurrences
    val xs = got.map(_._2.toDouble)
    var (l, b) = (0.0, 0.0); val s = Array.fill(7)(0.0)
    val exp = xs.zipWithIndex.map { case (x, i) =>
      val f = if (i == 0) None else Some(l + b + s(i % 7))
      if (i == 0) { l = x; b = 0.0 }
      else {
        val sm1 = s(i % 7)
        val nl = (x - sm1) / 2 + (l + b) / 2
        val nb = (nl - l) / 2 + b / 2
        s(i % 7) = (x - nl) / 2 + sm1 / 2
        l = nl; b = nb
      }
      (l, b, s(i % 7), f)
    }
    got.zip(exp).foreach { case ((day, _, gl, gb, gs, gf), (el, eb, es, ef)) =>
      assert(gl === el && gb === eb && gs === es && gf === ef, s"day $day")
    }
    // on a pure cycle the seasonal model's late-window forecasts must beat
    // the trend-only holt, whose trend term chases the wave
    val hw = got.drop(14).flatMap(r => r._6.map(f => math.abs(f - r._2)))
    // holt runs on value*1000 revenue = 1000*count here; normalize back
    val holt = EventQueries.holtForecast(spark, tmp)
      .as[(String, Long, Double, Double, Option[Double])].collect().sortBy(_._1)
      .drop(14).flatMap(r => r._5.map(f => math.abs(f - r._2) / 1000.0))
    assert(hw.nonEmpty && holt.nonEmpty)
    assert(hw.sum / hw.length < holt.sum / holt.length,
      s"hw mae=${hw.sum / hw.length} vs holt mae=${holt.sum / holt.length}")
  }

  test("seq count: range-frame pair counting equals the brute-force pair join") {
    val got = EventQueries.seqCount(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val evs = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
        col("event_type"))
      .as[(Long, Long, String)].collect()
    val byUser = evs.groupBy(_._1)
    assert(got.nonEmpty)
    got.foreach { case (u, (nP, p1h, pAll)) =>
      val us = byUser(u)
      val purchases = us.filter(_._3 == "purchase").map(_._2)
      val views = us.filter(_._3 == "view").map(_._2)
      assert(nP === purchases.length.toLong, s"user $u")
      val exp1h = purchases.map(p =>
        views.count(v => v < p && v >= p - 3600000L).toLong).sum
      val expAll = purchases.map(p => views.count(_ < p).toLong).sum
      assert(p1h === exp1h && pAll === expAll, s"user $u")
    }
  }

  test("msprt: matches a JVM replay; the always-valid p never increases") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def armOf(uid: Long): Long =
      java.lang.Long.parseLong(md5hex(s"ab$uid").substring(24, 32), 16) % 2
    val evs = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
      .as[(Long, String, Option[Double], String)].collect()
    val perUser = evs.groupBy(_._1).map { case (u, rows) =>
      val first = rows.map(_._4).min
      val conv = rows.filter(r => r._2 == "purchase" && r._3.exists(_ > 75))
        .map(_._4).sorted.headOption
      (u, armOf(u), first, conv)
    }.toSeq
    // the operator emits one row per day the cumulative state CHANGES
    // (a user enters or a conversion lands)
    val days = (perUser.map(_._3) ++ perUser.flatMap(_._4)).distinct.sorted
    var p = Option.empty[Double]
    val expected = days.map { day =>
      def cum(arm: Long, f: ((Long, Long, String, Option[String])) => Boolean) =
        perUser.count(r => r._2 == arm && f(r)).toLong
      val n0 = cum(0, _._3 <= day); val n1 = cum(1, _._3 <= day)
      val k0 = cum(0, _._4.exists(_ <= day)); val k1 = cum(1, _._4.exists(_ <= day))
      val (theta, v) = if (n0 > 0 && n1 > 0) {
        val pp = (k0 + k1).toDouble / (n0 + n1)
        (Some(k1.toDouble / n1 - k0.toDouble / n0),
          Some(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)))
      } else (None, None)
      val lam = v.filter(_ > 0).map { vv =>
        math.sqrt(vv / (vv + 0.01)) *
          math.exp(theta.get * theta.get * 0.01 / (2.0 * vv * (vv + 0.01)))
      }
      lam.foreach { l => p = Some(math.min(p.getOrElse(1.0 / l), 1.0 / l)) }
      val pav = math.min(1.0, p.getOrElse(1.0))
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      (day, n0, n1, k0, k1, theta.map(r6), r6(pav))
    }
    val got = EventQueries.msprt(spark, sf)
      .as[(String, Long, Long, Long, Long, Option[Double], Double, Boolean)]
      .collect().sortBy(_._1)
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4, g._5, g._6, g._7) === e, s"day ${g._1}")
      assert(g._8 === (g._7 < 0.05))
    }
    // always-valid p is a running min: never increases
    got.map(_._7).sliding(2).foreach {
      case Array(a, b) => assert(b <= a)
      case _ =>
    }
  }

  test("cdc chunks: boundaries are shift-invariant and chunks tile each doc") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    val shifted = "INSERTED-PREFIX-TEXT " + base
    val tmp = java.nio.file.Files.createTempDirectory("cdc").toString
    Seq((1L, base, "en", "s", base.length.toLong),
        (2L, shifted, "en", "s", shifted.length.toLong),
        (3L, "tiny", "en", "s", 4L)) // shorter than the 16-char window
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.cdcChunks(spark, tmp)
      .as[(Long, Int, Long, Long, String)].collect()
    val byDoc = got.groupBy(_._1)
    // chunks tile: starts/lens partition [1, n] contiguously, in order
    Seq(1L -> base.length, 2L -> shifted.length, 3L -> 4).foreach { case (id, n) =>
      val ch = byDoc(id).sortBy(_._2)
      assert(ch.head._3 === 1L && ch.map(_._4).sum === n.toLong, s"doc $id")
      ch.sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._3 + a._4, s"doc $id gap")
        case _ =>
      }
      // every chunk hash is the md5 of its substring (spot: engine parity
      // already gates this via the oracle; here we pin the tiling)
    }
    // a doc shorter than the window is ONE chunk
    assert(byDoc(3L).length === 1)
    // shift invariance: the prefix perturbs only the head — the tail
    // chunk-hash multiset of the shifted doc contains almost all of the
    // base doc's chunks (boundaries re-synchronize after one window)
    val baseH = byDoc(1L).map(_._5).toSeq
    val shiftH = byDoc(2L).map(_._5).toSet
    val kept = baseH.count(shiftH.contains)
    assert(kept >= baseH.length - 2,
      s"only $kept/${baseH.length} chunks survived an head insertion — " +
        "boundaries are not content-local")
  }

  test("profile / mix shift / benford: hand-checked on a planted frame") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // first half: 3 views, 1 click; second half: 1 view, 3 clicks
      (1L, t("2024-01-10 00:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-10 01:00:00"), 1L, "view", 25.0, "{}"),
      (3L, t("2024-01-10 02:00:00"), 2L, "view", 310.0, "{}"),
      (4L, t("2024-01-10 03:00:00"), 2L, "click", 0.0005, "{}"), // scaled 0: no digit
      (5L, t("2024-01-20 00:00:00"), 1L, "view", 1.5, "{}"),
      (6L, t("2024-01-20 01:00:00"), 2L, "click", 9.0, "{}"),
      (7L, t("2024-01-20 02:00:00"), 3L, "click", 12.0, "{}"),
      (8L, t("2024-01-20 03:00:00"), 3L, "click", 95.5, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("dq").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")

    val prof = EventQueries.profile(spark, tmp)
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(prof("user_id") === (("user_id", 8L, 0L, 3L, "1", "3")))
    assert(prof("event_type")._4 === 2L)
    assert(prof("value")._5 === "0.000500" && prof("value")._6 === "310.000000")

    val mix = EventQueries.mixShift(spark, tmp)
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(mix("view")._2 === 3L && mix("view")._3 === 1L)
    assert(mix("click")._2 === 1L && mix("click")._3 === 3L)
    // hand JSD: p = (.75, .25), q = (.25, .75), m = (.5, .5)
    val js = (0.75 * math.log(0.75 / 0.5) + 0.25 * math.log(0.25 / 0.5)) / 2 +
      (0.25 * math.log(0.25 / 0.5) + 0.75 * math.log(0.75 / 0.5)) / 2
    assert(math.abs(mix("view")._7 - js) < 1e-6)

    val ben = EventQueries.benford(spark, tmp)
      .as[(Int, Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    // scaled leading digits: 1000->1, 25000->2, 310000->3, (0 dropped),
    // 1500->1, 9000->9, 12000->1, 95500->9
    assert(ben === Map(1 -> 3L, 2 -> 1L, 3 -> 1L, 9 -> 2L))
  }

  test("inverted index: TopK-capped postings equal the window-rank formulation") {
    val idx = DocQueries.invertedIndex(spark, sf)
      .as[(String, Long, Long, Int, Long, Long)].collect()
    assert(idx.nonEmpty)
    // independent in-Spark reference: window-rank over the same tf table
    val tf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(trim(lower(col("text"))),
        graft.functions.MinHash.WsRe)).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byTerm = tf.groupBy(_._1)
    val topTerms = byTerm.view.mapValues(_.length).toSeq
      .sortBy { case (term, df) => (-df, term) }.take(40).map(_._1).toSet
    assert(idx.map(_._1).toSet === topTerms)
    idx.groupBy(_._1).foreach { case (term, rows) =>
      val postings = byTerm(term).map { case (_, d, c) => (d, c) }
        .sortBy { case (d, c) => (-c, d) }.take(10)
      val gotPostings = rows.sortBy(_._4).map(r => (r._5, r._6)).toSeq
      assert(gotPostings === postings.toSeq, s"term $term")
      val df = byTerm(term).length.toLong
      val cf = byTerm(term).map(_._3).sum
      rows.foreach(r => assert(r._2 === df && r._3 === cf))
    }
  }

  test("ts search: the PAA shortlist catches the brute-force top-10 exactly, " +
       "and the lower bound never overestimates") {
    import org.apache.spark.sql.functions._
    // brute force: exact sqdist from EVERY candidate to the probe (no PAA)
    val daily = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("v"))
    val rows = daily.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val days = rows.map(_._2).distinct.sorted
    val users = rows.map(_._1).distinct.sorted
    val byUser = rows.groupBy(_._1).map { case (u, rs) =>
      u -> days.map(d => rs.find(_._2 == d).map(_._3).getOrElse(0L)).toArray
    }
    val qu = users.min
    val q = byUser(qu)
    val brute = users.filter(_ != qu).map { u =>
      val s = byUser(u)
      (u, s.indices.foldLeft(0L)((a, i) => a + (s(i) - q(i)) * (s(i) - q(i))))
    }.sortBy(t => (t._2, t._1)).take(10)
    val got = graft.queries.EventQueries.queries("evt_ts_search")(spark, sf)
      .select("rank", "user_id", "sqdist").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(t => (t._2, t._3)).toSeq === brute.toSeq,
      "two-stage result must equal brute force on the fixture")
    // Keogh bound on every candidate, not just emitted ones
    val full = graft.queries.EventQueries.queries("evt_ts_search")(spark, sf)
      .collect()
    assert(full.forall(_.getAs[Boolean]("lb_ok")))
  }

  // Each query runs its normal pipeline over an empty copy of its input
  // table: no hand-built empty schema, so the result must still carry the
  // field names and types of the sf0.001 result.
  Seq(
    ("ts search", "evt_ts_search", "events"),
    ("pagerank", "evt_pagerank", "events"),
    ("textrank", "doc_textrank", "documents"),
  ).foreach { case (label, name, table) =>
    test(s"$label on an empty $table table: no rows, the sf0.001 schema") {
      val empty = java.nio.file.Files.createTempDirectory("graft-empty").toString
      spark.read.parquet(s"$sf/$table.parquet").limit(0)
        .write.parquet(s"$empty/$table.parquet")
      val query = SparkEntry.queries(name)
      val got = query(spark, empty)
      assert(got.collect().isEmpty)
      val want = query(spark, sf)
      def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
      assert(fields(got) === fields(want))
    }
  }

  test("scene cuts: golden rows hand-computed OUTSIDE both engines") {
    // frame sums, deltas, the 2x-mean threshold, and segmentation were
    // re-derived independently (python, from the documented synthesis
    // formula) — a mirrored Spark/oracle arithmetic bug cannot pass these
    val got = graft.queries.EnrichQueries.queries("media_scene_cuts")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val golden = Map( // doc_id -> (n_frames, n_cuts, longest_scene)
      0L -> ((4L, 0L, 4L)), 1L -> ((5L, 0L, 5L)), 12L -> ((8L, 0L, 8L)),
      14L -> ((10L, 1L, 9L)), 49L -> ((5L, 1L, 4L)), 55L -> ((11L, 2L, 9L)))
    golden.foreach { case (d, exp) => assert(got(d) === exp, s"doc $d") }
  }

  test("classifier eval: golden row hand-computed OUTSIDE both engines") {
    // AUC/ECE/accuracy/best-F1 re-derived independently in plain python
    // over the raw parquet (own rank-sum and bin arithmetic) — a mirrored
    // Spark/oracle formula bug cannot pass this
    val r = graft.queries.DocQueries.queries("doc_classifier_eval")(spark, sf).head()
    assert(r.getLong(0) === 500L && r.getLong(1) === 193L)
    assert(math.abs(r.getDouble(2) - 0.437528) < 1e-6, "auc")
    assert(math.abs(r.getDouble(3) - 0.322479) < 1e-6, "ece")
    assert(math.abs(r.getDouble(4) - 0.408) < 1e-9, "acc")
    assert(r.getLong(5) === 0L, "best threshold")
    assert(math.abs(r.getDouble(6) - 0.556999) < 1e-6, "best f1")
  }

  test("forecast eval and PCA: golden rows hand-computed OUTSIDE both engines") {
    // independent python re-derivations (own Holt fold + decimal sMAPE;
    // own covariance + grid-rounded power iteration) — mirrored
    // Spark/oracle bugs cannot pass these
    val f = graft.queries.EventQueries.queries("evt_forecast_eval")(spark, sf).head()
    assert(f.getLong(0) === 29L)
    assert(math.abs(f.getDouble(1) - 0.675267811) < 1e-9, "smape_holt")
    assert(math.abs(f.getDouble(2) - 0.783098125) < 1e-9, "smape_naive")
    assert(math.abs(f.getDouble(3) - 0.107830315) < 1e-9, "skill")
    val p = graft.queries.EmbeddingQueries.queries("emb_pca")(spark, sf).head()
    assert(p.getLong(0) === 500L && p.getLong(1) === 47L)
    assert(math.abs(p.getDouble(2) - 0.27805) < 1e-6, "explained_ratio")
    assert(math.abs(p.getDouble(3) - 0.277581) < 1e-6, "top_eigenvalue")
  }

  test("absorbing chain: matches an independent exact linear solve") {
    // golden values from Gaussian elimination of (I - Q)t = 1 in python —
    // a different algorithm entirely from the grid-rounded iteration
    val got = graft.queries.EventQueries.queries("evt_absorbing_chain")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val golden = Map(
      "click" -> ((207L, 5.075679)), "error" -> ((198L, 5.054827)),
      "signup" -> ((197L, 5.178168)), "view" -> ((186L, 5.016153)))
    golden.foreach { case (st, (n, t)) =>
      assert(got(st)._1 === n, st)
      assert(math.abs(got(st)._2 - t) < 1e-6, st)
    }
  }

  test("conversion probability: matches an independent exact linear solve") {
    val got = graft.queries.EventQueries.queries("evt_conversion_prob")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val golden = Map("click" -> 0.480398, "signup" -> 0.473665, "view" -> 0.470383)
    golden.foreach { case (st, p) => assert(math.abs(got(st) - p) < 1e-6, st) }
    // the two absorption probabilities partition certainty
    graft.queries.EventQueries.queries("evt_conversion_prob")(spark, sf)
      .collect().foreach(r =>
        assert(math.abs(r.getDouble(2) + r.getDouble(3) - 1.0) < 1e-9))
  }

  test("power analysis: golden rows hand-computed OUTSIDE both engines") {
    val got = graft.queries.EventQueries.queries("evt_power")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(4)))).toMap
    val golden = Map( // type -> (n, mean, mde_abs), python re-derivation
      "click" -> ((210L, 49.098614, 13.55495)),
      "error" -> ((201L, 46.910881, 11.952818)),
      "purchase" -> ((202L, 51.607371, 13.616508)),
      "signup" -> ((199L, 51.935578, 13.808331)),
      "view" -> ((188L, 50.800638, 13.656034)))
    golden.foreach { case (t, (n, m, mde)) =>
      assert(got(t)._1 === n, t)
      assert(math.abs(got(t)._2 - m) < 1e-6, t)
      assert(math.abs(got(t)._3 - mde) < 1e-6, t)
    }
  }

  test("markov attribution: matches an independent exact linear solve") {
    val got = graft.queries.EventQueries.queries("evt_markov_attribution")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // gaussian-elimination re-derivation of base + each removal chain
    val golden = Map(
      "click" -> ((0.470383, 0.317496, 0.325026)),
      "signup" -> ((0.470383, 0.329988, 0.298469)))
    golden.foreach { case (st, (b, r, e)) =>
      assert(math.abs(got(st)._1 - b) < 1e-6, st)
      assert(math.abs(got(st)._2 - r) < 1e-6, st)
      assert(math.abs(got(st)._3 - e) < 1e-6, st)
    }
  }

  test("BH-FDR: a planted spike day is rejected; the step-up spares the rest") {
    // 3 types x 20 days, 10 events per cell (exactly uniform => p = 1),
    // except type "spike" day 5 carries 200: its Chebyshev p ~ 6e-4 clears
    // the rank-1 BH threshold q/m, while the spike type's OTHER days (now
    // under-expected at e = 19.5) sit at p ~ 0.22 -- above every k*q/m they
    // could claim, so the step-up must stop at exactly one rejection.
    val rows = for {
      t <- Seq("steady_a", "steady_b", "spike")
      day <- 0 until 20
      n = if (t == "spike" && day == 5) 200 else 10
      i <- 0 until n
    } yield (s"$t-$day-$i",
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 10:00:00"),
      s"u$i", t, 1.0, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("fdr").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.queries("evt_fdr_bh")(spark, tmp)
      .select("event_type", "day_num", "o", "p_cheb", "rejected")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got.size === 60)
    val spikeDay = got.collect { case ((t, _), (o, _, _)) if o == 200L => t }
    assert(spikeDay === Seq("spike"))
    val rejected = got.filter(_._2._3)
    assert(rejected.size === 1 && rejected.head._2._1 === 200L,
      s"exactly the planted spike must reject, got $rejected")
    // uniform cells are exact -> p = 1; off-spike 'spike' days deviate but
    // stay above their BH thresholds
    got.foreach { case ((t, _), (o, p, rej)) =>
      if (t != "spike") assert(p === 1.0 && !rej)
      else if (o == 10L) assert(p < 1.0 && !rej)
    }
  }

  test("mutual information: a type<->weekday bijection yields MI = H = log2(7)") {
    // 7 types mapped 1:1 onto the 7 weekday buckets, 10 events each:
    // n_xy = n_x = n_y = 10, N = 70, so every cell's PMI is log2(7) and
    // MI = log2(7) bits exactly (up to the 1e-6 quantization)
    val rows = for {
      dow <- 0 until 7
      i <- 0 until 10
    } yield (s"e$dow-$i",
      // 1970-01-01 is day_num 0; day_num = dow makes pmod(day_num, 7) = dow
      java.sql.Timestamp.valueOf(f"1970-01-${dow + 1}%02d 09:00:00"),
      s"u$i", s"type$dow", 1.0, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("mi").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.queries("evt_mutual_info")(spark, tmp)
      .select("event_type", "dow", "n_xy", "mi_bits")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === 7)
    got.foreach { case (t, dow, nXy, mi) =>
      assert(t === s"type$dow")
      assert(nXy === 10L)
      assert(math.abs(mi - math.log(7.0) / math.log(2.0)) < 1e-5)
    }
  }

  test("changepoint: a planted level shift localizes exactly; a flat series keys 0") {
    // "shift": 10 days at 10/day then 10 days at 30/day -- the argmax of
    // the scaled-CUSUM score must land on the last pre-shift day with the
    // two segment means read back exactly; "steady": constant 10/day has
    // dev = 0 everywhere, so the key is 0 and the tie breaks to day 1
    val rows = for {
      t <- Seq("shift", "steady")
      day <- 0 until 20
      n = if (t == "shift" && day >= 10) 30 else 10
      i <- 0 until n
    } yield (s"$t-$day-$i",
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 10:00:00"),
      s"u$i", t, 1.0, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("cp").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventQueries.queries("evt_changepoint")(spark, tmp)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val day0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    // last pre-shift day = Jan 10 (index 9)
    assert(got("shift") === ((20L, day0 + 9, 10000L, 30000L,
      // dev = S_10*n - 10*S_n = 100*20 - 10*400 = -2000; key = dev^2*1e3/(10*10)
      2000L * 2000L * 1000L / 100L)))
    assert(got("steady")._3 === 10000L && got("steady")._4 === 10000L
      && got("steady")._5 === 0L && got("steady")._2 === day0)
  }

  test("difference-in-differences: matches an independent replay of arms, cells and means") {
    // deterministic md5 arm assignment replayed independently here; values
    // chosen so every (arm, period) cell has a distinct exact mean
    def arm(u: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s"ab$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(24, 32), 16) % 2
    }
    val pre = java.sql.Timestamp.valueOf("2024-01-10 10:00:00")
    val post = java.sql.Timestamp.valueOf("2024-01-20 10:00:00")
    val rows = (0 until 40).flatMap { u =>
      val uid = s"$u"
      Seq(
        (s"e$u-pre", pre, uid, "purchase", 10.0 + u * 0.25, "{}"),
        (s"e$u-post", post, uid, "purchase", 20.0 + u * 0.5, "{}"),
        (s"e$u-noise", post, uid, "click", 999.0, "{}")) // non-purchase ignored
    }
    val tmp = java.nio.file.Files.createTempDirectory("did").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // independent fold of the expected cells (milli-scaled longs)
    var cells = Map[(Long, Int), (Long, Long)]().withDefaultValue((0L, 0L))
    (0 until 40).foreach { u =>
      val a = arm(s"$u")
      val vPre = math.floor((10.0 + u * 0.25) * 1000).toLong
      val vPost = math.floor((20.0 + u * 0.5) * 1000).toLong
      val (n0, s0) = cells((a, 0)); cells += (a, 0) -> ((n0 + 1, s0 + vPre))
      val (n1, s1) = cells((a, 1)); cells += (a, 1) -> ((n1 + 1, s1 + vPost))
    }
    def m(a: Long, p: Int): Double = {
      val (n, sm) = cells((a, p)); sm.toDouble / n
    }
    val expDid = (m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0))
    val r = EventQueries.queries("evt_did")(spark, tmp).collect().head
    assert(r.getLong(0) === cells((1, 0))._1) // n_t_pre
    assert(r.getLong(1) === cells((1, 1))._1)
    assert(r.getLong(2) === cells((0, 0))._1)
    assert(r.getLong(3) === cells((0, 1))._1)
    assert(math.abs(r.getDouble(4) - m(1, 0)) < 1e-3)
    assert(math.abs(r.getDouble(8) - expDid) < 1e-3)
    // both arms populated (the md5 split actually splits this id range)
    assert(cells((0, 0))._1 > 0 && cells((1, 0))._1 > 0)
  }

  test("wordpiece: greedy longest-match splits a planted long word; every seg reconstructs") {
    // vocab is count-derived from the corpus itself, so with a handful of
    // word types every <=6-char substring is in-vocab per position class:
    // a 10-char word MUST split (max piece = 6) and greedy must take the
    // longest start piece, then the longest continuation
    val emoji7 = "\ud83d\ude00" * 7 // 7 codepoints, 14 UTF-16 units
    val docs = Seq(
      (1L, "aaaaaaaaab xyz", "en", "web"),
      (2L, "xyz aaaaaaaaab", "en", "web"),
      (3L, s"qq xyz $emoji7", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("wp").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DocQueries.queries("doc_wordpiece")(spark, tmp)
      .select("word", "n_pieces", "seg")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(got("aaaaaaaaab") === ((2, "aaaaaa ##aaab")))
    assert(got("xyz") === ((1, "xyz")))
    assert(got("qq") === ((1, "qq")))
    // non-BMP: piece lengths are CODEPOINTS — a UTF-16 walk would cap the
    // start piece at 3 emoji (6 chars); the greedy split is 6 + 1
    val e = "\ud83d\ude00"
    assert(got(emoji7) === ((2, (e * 6) + " ##" + e)))
    // general invariant on the sf fixture: pieces always reconstruct the
    // word (single-char coverage makes dead ends impossible) and n_pieces
    // counts the emitted pieces
    DocQueries.queries("doc_wordpiece")(spark, sf)
      .select("word", "n_pieces", "seg").collect().foreach { r =>
        val seg = r.getString(2)
        assert(seg.replace(" ##", "") === r.getString(0), seg)
        assert(seg.split(' ').length === r.getInt(1), seg)
      }
  }

  test("linear probe: a single-class corpus yields NULL predictions, no crash") {
    // with no negative class there is no class-mean midpoint: the oracle's
    // threshold CTE goes NULL, and the Spark side must match (it used to
    // crash decoding the NULL class sum into a non-nullable tuple)
    val rows = (0L until 8L).map(i =>
      (i, Array.fill(64)(0.01f * (i + 1)), 1))
    val tmp = java.nio.file.Files.createTempDirectory("lp").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = EmbeddingQueries.queries("emb_linear_probe")(spark, tmp)
      .select("vec_id", "predicted").collect()
    assert(got.length === 8)
    got.foreach(r => assert(r.isNullAt(1), s"predicted must be NULL: $r"))
  }
}
