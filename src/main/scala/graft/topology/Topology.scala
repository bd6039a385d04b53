package graft.topology

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{coalesce, col, lit, struct}
import org.apache.spark.sql.graftbridge.FrameBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The source→mapping→sink wiring layer (reference
  * `config/MappingConfiguration.java:31-42`,
  * `IncomingRequestProcessor.java:51-137`): mappings subscribe to sources,
  * sinks subscribe to mappings, many-to-many; per-mapping discard flags for
  * corrupt/duplicate events (`Mapping.java:102-126`); one schema per sink
  * (`config/constraint/OneSchemaPerSink.java`, `SchemaRegistry.java:65-79`).
  *
  * In Spark terms a topology is a DAG of DataFrames, and each (mapping ×
  * sink) pair becomes one output frame the caller writes with its sink of
  * choice. Like the reference, which maps an event once per mapping and
  * hands the record to every sink of that mapping, an event is mapped once
  * per batch: mappings whose outputs before the discard filters are
  * plan-equal, with the same column names and types, share one
  * evaluation, and each mapping's discard filters apply on top of it. A
  * shared batch frame read by more than one (mapping, sink) edge is
  * materialized lazily — by the first action that reads it, at AQE's final
  * (coalesced) partitioning — and freed when the returned frames are
  * dropped; so is a source union that mappings with different mappers
  * read, so each source is decoded once.
  *
  * [[Topology.apply]] routes batch frames only. A stream runs as ONE
  * query per topology, [[Topology.start]]: its `foreachBatch` routes each
  * micro-batch through `apply` and hands every sink its frame, so the
  * upstream plan and any state run once per batch whatever the number of
  * sinks, and all sinks commit under one checkpoint.
  */
final case class MappingSpec(
    name: String,
    sources: Seq[String],
    mapper: DataFrame => DataFrame,
    schemaName: String,
    discardCorrupted: Boolean = false,
    discardDuplicates: Boolean = false)

final case class SinkSpec(name: String, mappings: Seq[String])

final class Topology(mappings: Seq[MappingSpec], sinks: Seq[SinkSpec]) {

  /** Reference semantics: a sink that names no mappings receives ALL of
    * them (the unspecified-list default of the reference's config layer) —
    * normalized BEFORE validation so one-schema-per-sink covers the
    * defaulted set too, and apply() never reduces an empty list. */
  private val normSinks: Seq[SinkSpec] = sinks.map(s =>
    if (s.mappings.isEmpty) s.copy(mappings = mappings.map(_.name)) else s)

  // ---- startup validation (reference: ValidatedConfiguration fail-fast)
  {
    val mappingNames = mappings.map(_.name)
    require(mappingNames.distinct.size == mappingNames.size, "duplicate mapping names")
    val sinkNames = sinks.map(_.name)
    require(sinkNames.distinct.size == sinkNames.size,
      s"duplicate sink names: ${sinkNames.diff(sinkNames.distinct).distinct}" +
        " (toMap would silently drop a sink's mappings)")
    val known = mappingNames.toSet
    normSinks.foreach { s =>
      val missing = s.mappings.filterNot(known)
      require(missing.isEmpty, s"sink '${s.name}' references unknown mappings: $missing")
      // one-schema-per-sink: all mappings feeding a sink must share a schema
      val schemas = s.mappings.map(m => mappings.find(_.name == m).get.schemaName).distinct
      require(schemas.size <= 1,
        s"sink '${s.name}' would receive multiple schemas: $schemas " +
          "(reference constraint OneSchemaPerSink)")
    }
  }

  /** Run the topology over the given batch source frames. Returns the
    * frame each sink receives (union of its mappings' outputs). The
    * routing itself runs no Spark job: shared frames are materialized by
    * the first action that reads them. */
  def apply(sources: Map[String, DataFrame]): Map[String, DataFrame] = {
    sources.foreach { case (n, df) => require(!df.isStreaming, s"source '$n' is a streaming " +
      "frame: apply routes batch frames; run a stream with Topology.start") }
    route(sources, Topology.materialized(_))
  }

  /** Run the topology as one streaming query over all of `sources`, with
    * one checkpoint. `sinks` maps every sink name to its batch writer,
    * called once per micro-batch with the sink's frame and the batch's
    * stamp (`b` + the zero-padded batch id); a file writer that names its
    * output by the stamp makes a replayed batch overwrite its own files
    * (exactly-once files over a replayable source), a topic writer stays
    * at-least-once, like the reference. Each source rides the union as one
    * struct column named after it, so sources of any shape share the
    * query. Each micro-batch is computed and persisted once, whole — a
    * writer that reads nothing (a gated topic sink) or part of its frame
    * must not leave source rows unread or upstream state uncommitted —
    * then split back into its sources and routed by [[apply]]'s routing.
    * Everything the batch and its routing persisted is released when the
    * writers return, not left to ContextCleaner. */
  def start(sources: Map[String, DataFrame], sinks: Map[String, (DataFrame, String) => Any],
            checkpointDir: String, trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    require(sinks.keySet == normSinks.map(_.name).toSet,
      s"writers for ${sinks.keySet.toSeq.sorted}, sinks ${normSinks.map(_.name).sorted}")
    val names = sources.keys.toSeq.sorted
    names.map(n => sources(n).select(struct(col("*")).as(n)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .writeStream.option("checkpointLocation", checkpointDir).trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val held = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
        def persist(df: DataFrame) = Topology.materialized(df, held.add(_))
        try {
          val all = persist(batch)
          all.queryExecution.toRdd.count()
          val routed = route(names.map(n => n -> all.filter(col(s"`$n`").isNotNull)
            .select(s"`$n`.*")).toMap, persist)
          sinks.foreach { case (s, write) => write(routed(s), f"b$batchId%012d") }
        } finally held.forEach(_.unpersist(blocking = false))
      }.start()
  }

  /** The batch routing: `persist` materializes a frame several edges read. */
  private def route(sources: Map[String, DataFrame],
                    persist: DataFrame => DataFrame): Map[String, DataFrame] = {
    // reference default: a mapping that names no sources reads ALL of
    // them; a source listed twice is read once (the list is a set, kept in
    // the mapping's own order, which fixes the union's column order).
    // Heterogeneous source shapes (browser vs JSON frames) union with
    // allowMissingColumns — the mapping layer itself handles the missing
    // sub-records (DefaultMapping's optCol)
    def sourceList(m: MappingSpec): Seq[String] =
      if (m.sources.isEmpty) sources.keys.toSeq.sorted else m.sources.distinct
    val unions = mutable.Map.empty[Seq[String], DataFrame]
    mappings.foreach { m =>
      val names = sourceList(m)
      unions.getOrElseUpdate(names, names.map(s => sources.getOrElse(s,
        throw new IllegalArgumentException(s"mapping '${m.name}' needs missing source '$s'")))
        .reduce(_.unionByName(_, allowMissingColumns = true)))
    }
    // mappings of one union whose pre-discard outputs are plan-equal and
    // carry the same column names and types share one frame (sameResult
    // alone ignores alias names)
    final class Group(val names: Seq[String], val planned: DataFrame) {
      val members = mutable.ArrayBuffer.empty[MappingSpec]
    }
    val groups = mutable.ArrayBuffer.empty[Group]
    mappings.foreach { m =>
      val names = sourceList(m)
      val out = m.mapper(unions(names))
      groups.find(g => g.names == names && g.planned.schema == out.schema &&
        g.planned.queryExecution.analyzed.sameResult(out.queryExecution.analyzed))
        .getOrElse { val g = new Group(names, out); groups += g; g }
        .members += m
    }
    val edges = normSinks.flatMap(_.mappings).groupBy(identity).view.mapValues(_.size).toMap
    def reads(g: Group): Int = g.members.iterator.map(m => edges.getOrElse(m.name, 0)).sum
    // a union read by more than one group is materialized once, and those
    // groups map from it
    val readers = groups.filter(reads(_) > 0).groupBy(_.names).view.mapValues(_.size).toMap
    val inputs = unions.map { case (names, u) =>
      names -> (if (readers.getOrElse(names, 0) > 1) persist(u) else u)
    }
    val mapped: Map[String, DataFrame] = groups.iterator.flatMap { g =>
      val in = inputs(g.names)
      val sharedIn = in ne unions(g.names)
      val out = if (sharedIn) g.members.head.mapper(in) else g.planned
      val shared =
        if (reads(g) <= 1) out
        // a mapper that returns its materialized input needs no second copy
        else if (sharedIn && out.queryExecution.optimizedPlan.sameResult(in.queryExecution.optimizedPlan)) out
        else persist(out)
      g.members.map(m => m.name -> Topology.discard(m, shared))
    }.toMap
    normSinks.map { s =>
      s.name -> s.mappings.map(mapped).reduce(_ unionByName _)
    }.toMap
  }
}

private object Topology {

  /** `df`'s rows, computed once by the first action that reads the result,
    * at the partitioning AQE settles on for `df`, and kept MEMORY_AND_DISK.
    * `persisted` sees the persisted RDD when that action builds it. A lost
    * block is recomputed from lineage; ContextCleaner frees the storage
    * once every frame built on the result is unreachable, unless the
    * caller unpersists it first. */
  def materialized(df: DataFrame, persisted: RDD[InternalRow] => Unit = _ => ()): DataFrame =
    FrameBridge.ofRows(df, new DeferredRDD(df.sparkSession.sparkContext, { () =>
      val rdd = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      persisted(rdd)
      rdd
    }))

  /** Apply a mapping's discard flags. NULL flags (a source without the
    * transport column) must KEEP the row: the reference's flags are
    * primitive booleans that default false, and filter(!NULL) =
    * filter(NULL) silently drops the row. */
  def discard(m: MappingSpec, df: DataFrame): DataFrame = {
    var out = df
    if (m.discardCorrupted && out.columns.contains("detectedCorruption"))
      out = out.filter(!coalesce(col("detectedCorruption"), lit(false)))
    if (m.discardDuplicates && out.columns.contains("detectedDuplicate"))
      out = out.filter(!coalesce(col("detectedDuplicate"), lit(false)))
    out
  }
}

/** An RDD whose parent is built on first use, so wrapping a query in it
  * runs no job. Spark computes every RDD's partitions on the thread that
  * submits a job (never on the scheduler's event loop), so the parent's
  * own jobs — a query's shuffle and broadcast stages — run there. */
private final class DeferredRDD(sc: SparkContext, @transient build: () => RDD[InternalRow])
    extends RDD[InternalRow](sc, Nil) {
  @transient private lazy val parent = build()
  override protected def getDependencies: Seq[Dependency[_]] = Seq(new OneToOneDependency(parent))
  override protected def getPartitions: Array[Partition] = parent.partitions
  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    firstParent[InternalRow].iterator(split, context)
}
