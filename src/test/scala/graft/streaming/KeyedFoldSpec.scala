package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The keyed-fold family ([[Streams]]' eleven per-key stateful operators)
  * against the two contracts the shared shell owns:
  *
  *  - replay determinism: the same micro-batch delivered in two arrival
  *    orders emits the same rows and leaves the same state, read back
  *    through a following probe batch;
  *  - degenerate input: an empty batch, a one-row batch and a batch of
  *    nulls keep the query alive, emit the operator's declared schema and
  *    the documented rows.
  */
class KeyedFoldSpec extends SparkSpec {
  import spark.implicits._

  /** What one query emitted: per micro-batch, the schema and the rows
    * (sorted), plus whether the query was still alive at the end. */
  private case class Emitted(declared: String, schemas: Seq[String],
                             rows: Seq[Seq[Row]], alive: Boolean)

  /** One keyed operator: its input type, its call, its output mode, and
    * its declared output schema as DDL. */
  private case class Op[A](name: String, mode: String, ddl: String,
                           call: Dataset[A] => DataFrame)(implicit enc: Encoder[A]) {
    def run(batches: Seq[A]*): Emitted = {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[A]
      val out = call(input.toDS())
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Row])]
      val q = out.writeStream.outputMode(mode)
        .foreachBatch { (df: DataFrame, _: Long) =>
          seen += ((df.schema.toDDL, df.collect().toSeq.sortBy(_.toString))); ()
        }.start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        Emitted(out.schema.toDDL, seen.map(_._1).toSeq, seen.map(_._2).toSeq,
          q.isActive && q.exception.isEmpty)
      } finally q.stop()
    }
  }

  private val flagDup = Op[(String, String, String, Long)]("flagDuplicatesStream", "append",
    "_1 STRING,_2 STRING,_3 STRING,_4 BIGINT NOT NULL,_5 BOOLEAN NOT NULL",
    ds => Streams.flagDuplicatesStream(ds, slotCount = 2).toDF())
  private val anomaly = Op[(Long, Long, Long, Long)]("anomalyStream", "append",
    "_1 BIGINT NOT NULL,_2 BIGINT NOT NULL,_3 BIGINT NOT NULL,_4 BIGINT NOT NULL," +
      "_5 DOUBLE,_6 BOOLEAN NOT NULL",
    ds => Streams.anomalyStream(ds).toDF())
  private val ewma = Op[(Long, Long, Long, Long)]("ewmaStream", "append",
    "_1 BIGINT NOT NULL,_2 BIGINT NOT NULL,_3 BIGINT NOT NULL,_4 BIGINT NOT NULL," +
      "_5 DOUBLE NOT NULL",
    ds => Streams.ewmaStream(ds).toDF())
  private val cusum = Op[(String, Long, Long)]("cusumStream", "append",
    "_1 STRING,_2 BIGINT NOT NULL,_3 BIGINT NOT NULL,_4 BIGINT NOT NULL,_5 BOOLEAN NOT NULL",
    ds => Streams.cusumStream(ds, ref = 10L, slack = 1L, h = 6L).toDF())
  private val nearDup = Op[(Long, String)]("nearDupStream", "append",
    "_1 BIGINT NOT NULL,_2 BIGINT NOT NULL,_3 DOUBLE NOT NULL",
    ds => Streams.nearDupStream(ds).toDF())
  private val cooc = Op[(Long, Int)]("coocStream", "append",
    "_1 INT NOT NULL,_2 INT NOT NULL",
    ds => Streams.coocStream(ds).toDF())
  private val kmv = Op[(String, String)]("kmvDistinctStream", "update",
    "event_type STRING,sketch_size INT NOT NULL,distinct_est DOUBLE NOT NULL",
    ds => Streams.kmvDistinctStream(ds.toDF("event_type", "key"), k = 4))
  private val topK = Op[(String, Option[Double], Option[Long])]("topKStream", "update",
    "event_type STRING,rank INT NOT NULL,event_id BIGINT NOT NULL,value DOUBLE NOT NULL",
    ds => Streams.topKStream(ds.toDF("event_type", "value", "event_id"), k = 2))
  private val funnel = Op[(Option[Long], String, Option[Long], Option[Long])]("funnelStream",
    "update", "user_id BIGINT NOT NULL,stage_reached INT NOT NULL,stage_ts BIGINT",
    ds => Streams.funnelStream(ds.toDF("user_id", "event_type", "ts_ms", "event_id")))
  private val tdigest = Op[(String, Option[Double])]("tdigestStream", "update",
    "event_type STRING,n BIGINT NOT NULL,q DOUBLE NOT NULL,est DOUBLE NOT NULL",
    ds => Streams.tdigestStream(ds.toDF("event_type", "value")))
  private val cdc = Op[(Long, Long, Long, String, Option[Long])]("cdcStream", "update",
    "_1 BIGINT NOT NULL,_2 STRING,_3 BIGINT,_4 BIGINT NOT NULL,_5 BOOLEAN NOT NULL",
    ds => Streams.cdcStream(ds).toDF())

  // ------------------------------------------------------ replay determinism
  // Where the operator allows it, a batch holds rows that tie on the
  // leading fields of the operator's order (for t-digest: more values than
  // its buffer holds), so a fold that depends on arrival order shows it.

  /** Runs `batch` forward and reversed, each followed by the same `probe`;
    * both micro-batches must emit the same rows in both runs. */
  private def replayCase[A](op: Op[A], batch: Seq[A], probe: Seq[A]): (String, () => Unit) =
    op.name -> { () =>
      val fwd = op.run(batch, probe)
      val rev = op.run(batch.reverse, probe)
      assert(fwd.alive && rev.alive, op.name)
      assert(fwd.rows.size === 2, s"${op.name}: both micro-batches must run")
      assert(fwd.rows.head === rev.rows.head,
        s"${op.name}: the batch's output depends on its arrival order")
      assert(fwd.rows(1) === rev.rows(1),
        s"${op.name}: the state left by the batch depends on its arrival order")
    }

  private val words = (0 until 100).map(i => s"w$i")
  private def variant(at: Int) = words.updated(at, s"x$at").mkString(" ")

  private val replayCases: Seq[(String, () => Unit)] = Seq(
    // slotCount 2: the three parties' e1 at ts 1 tie on (ts, eventId) and
    // at least two of them share a slot, so which signature that slot
    // holds when their resends arrive depends on the tie's order
    replayCase(flagDup,
      Seq(("a", "s", "e1", 1L), ("b", "s", "e1", 1L), ("c", "s", "e1", 1L),
        ("a", "s", "e1", 2L), ("b", "s", "e1", 3L), ("c", "s", "e1", 4L)),
      Seq(("a", "s", "e1", 3L), ("b", "s", "e2", 4L), ("c", "s", "e1", 5L))),
    // (ts, eventId) tie with different values: each scores against the other
    replayCase(anomaly,
      Seq((1L, 1L, 1L, 10L), (1L, 2L, 2L, 12L), (1L, 3L, 3L, 11L),
        (1L, 4L, 4L, 500L), (1L, 4L, 4L, -500L), (2L, 9L, 1L, 7L)),
      Seq((1L, 5L, 5L, 11L), (2L, 10L, 2L, 8L))),
    replayCase(ewma,
      Seq((1L, 1L, 1L, 10L), (1L, 2L, 2L, 12L), (1L, 4L, 4L, 500L),
        (1L, 4L, 4L, -500L), (2L, 9L, 1L, 7L)),
      Seq((1L, 5L, 5L, 11L))),
    // two counts for one period: the recursion clamps at 0 between them
    replayCase(cusum,
      Seq(("k", 1L, 20L), ("k", 1L, 0L), ("k", 2L, 15L), ("j", 1L, 10L)),
      Seq(("k", 3L, 10L), ("j", 2L, 10L))),
    // two texts under one doc_id share buckets; whichever is canonical
    // sets doc 2's and the probe's estimates
    replayCase(nearDup,
      Seq((1L, variant(50)), (1L, variant(60)), (2L, variant(20))),
      Seq((3L, variant(80)))),
    replayCase(cooc,
      Seq((1L, 3), (1L, 1), (1L, 2), (1L, 2), (2L, 5), (2L, 4)),
      Seq((1L, 4), (2L, 6))),
    replayCase(kmv,
      (1 to 9).map(i => ("A", s"u$i")) :+ (("B", "x")),
      Seq(("A", "u10"), ("B", "y"))),
    replayCase(topK,
      Seq(("A", Some(1.0), Some(1L)), ("A", Some(2.0), Some(3L)), ("A", Some(2.0), Some(2L)),
        ("A", Some(0.5), Some(4L)), ("B", Some(1.0), Some(5L))),
      Seq(("A", Some(1.5), Some(6L)))),
    // view and click tie on (ts, id): in (ts, id, type) order the click
    // comes first, so user 1 reaches click only at ts 20 and the probe's
    // ts-15 purchase must not count
    replayCase(funnel,
      Seq((Some(1L), "view", Some(10L), Some(1L)), (Some(1L), "click", Some(10L), Some(1L)),
        (Some(1L), "click", Some(20L), Some(2L)), (Some(2L), "view", Some(5L), Some(3L))),
      Seq((Some(1L), "purchase", Some(15L), Some(4L)))),
    // more values than the 2048-pair buffer: arrival order decides which
    // values compress together
    replayCase(tdigest,
      (0 until 3000).map(i => ("A", Some(((i * 7919L) % 3001).toDouble / 3001.0))) :+
        (("B", Some(1.0))),
      Seq(("A", Some(0.5)), ("B", Some(2.0)))),
    // key 1 has two changes with one (ts, eventId) sequence: the probe's
    // older change cannot overwrite, so it re-emits whichever one won
    replayCase(cdc,
      Seq((1L, 100L, 1L, "view", Some(1L)), (1L, 100L, 1L, "error", None),
        (2L, 50L, 2L, "click", Some(2L))),
      Seq((1L, 90L, 0L, "signup", Some(0L)), (2L, 60L, 3L, "view", Some(3L)))))

  test("replay determinism: every keyed operator covers all eleven") {
    assert(replayCases.map(_._1).toSet === Set("flagDuplicatesStream", "anomalyStream",
      "ewmaStream", "cusumStream", "nearDupStream", "coocStream", "kmvDistinctStream",
      "topKStream", "funnelStream", "tdigestStream", "cdcStream"))
  }

  replayCases.foreach { case (name, check) =>
    test(s"replay determinism: $name emits the same rows and state in either arrival order")(check())
  }

  // ------------------------------------------------------- degenerate input
  /** An empty batch, then `one`, then `nulls` (nulls in every nullable
    * input column; Nil where the input has none). */
  private def degenerateCase[A](op: Op[A], one: A, oneOut: Seq[Row],
                                nulls: Seq[A], nullsOut: Seq[Row]): (String, () => Unit) =
    op.name -> { () =>
      val got = op.run(Nil, Seq(one), nulls)
      assert(got.alive, s"${op.name}: the query must survive degenerate input")
      assert(got.declared === op.ddl, s"${op.name}: declared output")
      assert(got.schemas === Seq.fill(3)(op.ddl), s"${op.name}: emitted schema")
      assert(got.rows.head === Nil, s"${op.name}: an empty batch emits nothing")
      assert(got.rows(1) === oneOut.sortBy(_.toString), s"${op.name}: one-row batch")
      assert(got.rows(2) === nullsOut.sortBy(_.toString), s"${op.name}: null batch")
    }

  private val degenerateCases: Seq[(String, () => Unit)] = Seq(
    // null ids hash as the string "null", like the batch flagDuplicates
    degenerateCase(flagDup, ("p", "s", "e", 1L), Seq(Row("p", "s", "e", 1L, false)),
      Seq((null, null, null, 2L)), Seq(Row(null, null, null, 2L, false))),
    // fewer than two prior observations: no z, no flag
    degenerateCase(anomaly, (1L, 1L, 1L, 5L), Seq(Row(1L, 1L, 1L, 5L, null, false)),
      Nil, Nil),
    degenerateCase(ewma, (1L, 1L, 1L, 5000L), Seq(Row(1L, 1L, 1L, 5000L, 5000.0)), Nil, Nil),
    // S = max(0, 0 + (20 - 10) - 1) = 9 > h = 6
    degenerateCase(cusum, ("k", 1L, 20L), Seq(Row("k", 1L, 20L, 9L, true)),
      Seq((null, 1L, 5L)), Seq(Row(null, 1L, 5L, 0L, false))),
    // a lone document has nothing to collide with; a null text is skipped
    degenerateCase(nearDup, (1L, words.mkString(" ")), Nil, Seq((2L, null)), Nil),
    // the first item of a user pairs with nothing
    degenerateCase(cooc, (1L, 7), Nil, Nil, Nil),
    // the DataFrame twins drop rows with a null in any folded column
    degenerateCase(kmv, ("A", "u1"), Seq(Row("A", 1, 1.0)),
      Seq(("A", null), (null, "u2")), Nil),
    degenerateCase(topK, ("A", Some(2.5), Some(9L)), Seq(Row("A", 1, 9L, 2.5)),
      Seq((null, None, None), ("A", None, Some(1L)), ("A", Some(1.0), None)), Nil),
    degenerateCase(funnel, (Some(1L), "view", Some(10L), Some(1L)), Seq(Row(1L, 1, 10L)),
      Seq((None, null, None, None), (Some(1L), null, Some(11L), Some(2L))), Nil),
    degenerateCase(tdigest, ("A", Some(2.5)),
      Seq(Row("A", 1L, 0.5, 2.5), Row("A", 1L, 0.95, 2.5)),
      Seq((null, None), (null, Some(1.0)), ("A", None)), Nil),
    degenerateCase(cdc, (1L, 100L, 1L, "view", Some(5L)), Seq(Row(1L, "view", 5L, 100L, false)),
      Seq((3L, 100L, 1L, null, None)), Seq(Row(3L, null, null, 100L, false))))

  test("degenerate input: the table covers all eleven keyed operators") {
    assert(degenerateCases.map(_._1) === replayCases.map(_._1))
  }

  degenerateCases.foreach { case (name, check) =>
    test(s"degenerate input: $name survives empty, one-row and null batches")(check())
  }
}
