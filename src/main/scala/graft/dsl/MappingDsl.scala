package graft.dsl

import graft.schema.AvroSchemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The mapping DSL — a Scala re-expression of the reference's Groovy mapping
  * language (`recordmapping/DslRecordMapping.java`, sugar
  * `groovy/io/divolte/groovyscript/MappingBase.groovy`, docs
  * `docs/mapping_reference.rst`). A mapping is *compiled once* into a single
  * `select` of per-field conditional expressions — the Spark analog of the
  * reference's compile-once/interpret-per-event model
  * (`DslRecordMapper.java:51-90`), except Tungsten then code-generates the
  * whole thing.
  *
  * Control-flow semantics compiled into per-field guards (SURVEY.md §7.4):
  *  - `when(cond) { ... }`: nested actions run iff cond is *true* (absent ⇒
  *    false) — `DslRecordMapping.java:144-163`;
  *  - `section { ... }` + `exit()` / `exitWhen(c)`: aborts the remainder of
  *    the innermost section — `DslRecordMapping.java:165-200`;
  *  - `stop()` / `stopWhen(c)`: aborts the remainder of the whole mapping —
  *    `DslRecordMapping.java:187-189`;
  *  - `map X onto field`: assigns only when the produced value is present;
  *    absent values leave the field at its previous assignment or schema
  *    default — `DslRecordMapping.java:102-139`.
  *
  * Sequential overwrite semantics fold right-to-left: the *last* assignment
  * whose guard fired and whose value is non-null wins.
  *
  * Example:
  * {{{
  * val mapping = MappingDsl.mapping(targetSchema) { m =>
  *   m.map(col("browser.location")) onto "location"
  *   m.when(col("eventType") === "pageView") { w =>
  *     w.map(lit(true)) onto "isPageView"
  *     w.stop()
  *   }
  * }
  * val out = mapping(eventsDf)
  * }}}
  */
object MappingDsl {

  /** Guard folding uses `coalesce(cond, false)` — reference `when` treats an
    * absent condition as false. */
  private def truthy(c: Column): Column = coalesce(c, lit(false))

  sealed private trait Node
  private case class Assign(field: String, value: Column) extends Node
  private case class WhenBlock(cond: Column, body: Vector[Node]) extends Node
  private case class SectionBlock(body: Vector[Node]) extends Node
  private case class ExitWhen(cond: Column) extends Node
  private case class StopWhen(cond: Column) extends Node

  /** Builder handed to user closures; collects the action tree in order. */
  final class Builder private[MappingDsl] () {
    private[MappingDsl] val nodes = mutable.ArrayBuffer.empty[Node]

    final class OnWord private[Builder] (value: Column) {
      def onto(field: String): Unit = nodes += Assign(field, value)
    }
    def map(value: Column): OnWord = new OnWord(value)
    def map(value: String): OnWord = new OnWord(lit(value))
    def map(value: Int): OnWord = new OnWord(lit(value))
    def map(value: Long): OnWord = new OnWord(lit(value))
    def map(value: Double): OnWord = new OnWord(lit(value))
    def map(value: Boolean): OnWord = new OnWord(lit(value))

    def when(cond: Column)(body: Builder => Unit): Unit = {
      val b = new Builder
      body(b)
      nodes += WhenBlock(cond, b.nodes.toVector)
    }
    def section(body: Builder => Unit): Unit = {
      val b = new Builder
      body(b)
      nodes += SectionBlock(b.nodes.toVector)
    }
    def exit(): Unit = nodes += ExitWhen(lit(true))
    def exitWhen(cond: Column): Unit = nodes += ExitWhen(cond)
    def stop(): Unit = nodes += StopWhen(lit(true))
    def stopWhen(cond: Column): Unit = nodes += StopWhen(cond)
  }

  /** A compiled mapping: apply it to an event DataFrame. */
  final class CompiledMapping private[MappingDsl] (
      target: StructType,
      defaults: Map[String, Option[Any]],
      assignments: Seq[(String, Column, Column)],
      /** true when the whole script is straight-line `map` actions. */
      private[MappingDsl] val trivialGuards: Boolean) extends (DataFrame => DataFrame) {

    /** One `select`: every target field folded from its guarded assignments.
      * Control-flow-free mappings (the common case — e.g. the default
      * mapping) skip the guard CASEs entirely: a single unconditional
      * assignment to a null-default field IS the value (absent ⇒ null ⇒
      * default, so the isNotNull fallback is an identity). */
    def apply(df: DataFrame): DataFrame = {
      val byField = assignments.groupBy(_._1)
      val cols = target.fields.map { f =>
        val fieldAssigns = byField.getOrElse(f.name, Nil)
        val default = defaults.get(f.name).flatten
        val folded = fieldAssigns match {
          case Seq((_, value, _))
              if trivialGuards && (default.isEmpty || default.contains(null)) =>
            value.cast(f.dataType)
          case _ =>
            val base: Column = default match {
              case Some(null) | None => lit(null).cast(f.dataType)
              case Some(v)           => lit(v).cast(f.dataType)
            }
            fieldAssigns.foldLeft(base) {
              case (acc, (_, value, guard)) =>
                // coalesce, not `value.isNotNull && ... value`: the latter
                // evaluates `value` twice, which breaks for nondeterministic
                // producers (a UDF could pass the null test then produce a
                // different value). One evaluation, absent ⇒ prior/default —
                // the reference's schema-default semantics.
                when(truthy(guard), coalesce(value.cast(f.dataType), acc)).otherwise(acc)
            }
        }
        folded.as(f.name)
      }
      val out = df.select(cols.toIndexedSeq: _*)
      validate(out.schema)
      out
    }

    /** Post-analysis type check — the reference's compile-time
      * `SchemaMappingException` (`DslRecordMapping.java:102-139`). Casts are
      * inserted above; here we assert the result matches the target shape. */
    private def validate(actual: StructType): Unit =
      target.fields.zip(actual.fields).foreach { case (t, a) =>
        require(t.dataType == a.dataType,
          s"mapping for field '${t.name}' produced ${a.dataType}, schema needs ${t.dataType}")
      }
  }

  /** Build + compile a mapping against a target struct schema. */
  def mapping(target: StructType)(body: Builder => Unit): CompiledMapping = {
    val b = new Builder
    body(b)
    compile(target, target.fields.map(f => f.name -> (None: Option[Any])).toMap, b.nodes.toVector)
  }

  /** Build + compile against an Avro schema (defaults honored). */
  def mappingForAvro(avsc: String)(body: Builder => Unit): CompiledMapping = {
    val schema = AvroSchemas.parse(avsc)
    val fields = AvroSchemas.fields(schema)
    val target = StructType(fields.map(f => StructField(f.name, f.dataType, nullable = true)))
    compile(target, fields.map(f => f.name -> f.default).toMap, {
      val b = new Builder; body(b); b.nodes.toVector
    })
  }

  // ------------------------------------------------------------- compiler
  private def compile(target: StructType, defaults: Map[String, Option[Any]],
                      nodes: Vector[Node]): CompiledMapping = {
    val out = mutable.ArrayBuffer.empty[(String, Column, Column)]
    // The whole-script kill switch (stop()); grows as stops are discovered.
    var stopped: Column = lit(false)

    // One scope per section; `live` accumulates exit conditions.
    final class Scope { var live: Column = lit(true) }

    def walk(ns: Vector[Node], whenGuard: Column, scopes: List[Scope]): Unit =
      ns.foreach {
        case Assign(field, value) =>
          require(target.fieldNames.contains(field),
            s"mapping target field '$field' does not exist in the schema " +
              s"(fields: ${target.fieldNames.mkString(", ")})")
          val guard = scopes.map(_.live).foldLeft(whenGuard && !stopped)(_ && _)
          out += ((field, value, guard))
        case WhenBlock(cond, body) =>
          walk(body, whenGuard && truthy(cond), scopes)
        case SectionBlock(body) =>
          walk(body, whenGuard, new Scope :: scopes)
        case ExitWhen(cond) =>
          // Kills the remainder of the innermost section — or the whole
          // script when no section is open (reference exit() at top level).
          val fired = scopes.map(_.live).foldLeft(whenGuard && truthy(cond))(_ && _)
          scopes match {
            case innermost :: _ => innermost.live = innermost.live && !fired
            case Nil            => stopped = stopped || fired
          }
        case StopWhen(cond) =>
          val fired = scopes.map(_.live).foldLeft(whenGuard && truthy(cond))(_ && _)
          stopped = stopped || fired
      }

    walk(nodes, lit(true), Nil)
    val trivial = nodes.forall(_.isInstanceOf[Assign])
    new CompiledMapping(target, defaults, out.toSeq, trivial)
  }
}
