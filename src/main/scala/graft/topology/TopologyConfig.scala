package graft.topology

import org.apache.spark.sql.DataFrame

/** Config-file-driven topology (reference `config/ValidatedConfiguration`,
  * `DivolteConfiguration` + the constraint set under `config/constraint/`):
  * a reference-style HOCON file declares sources, mappings (with schema /
  * confluent-id / discard flags / source+sink subscriptions) and sinks, and
  * validation FAILS FAST at load with every violation reported at once —
  * the reference collects all `ConstraintViolation`s before refusing to
  * start, so one bad config surfaces its whole error list in one run.
  *
  * The parser handles the HOCON subset the reference's own fixtures use
  * (nested blocks, dotted paths with object merge, `=`/`:`/implicit-brace
  * assignment, lists, quoted + bare scalars, `//`/`#` comments, `include`
  * lines) with no external dependency — the full spec's substitutions are
  * out of scope (the reference fixtures never use them for topology).
  */
object Hocon {
  sealed trait Value
  final case class Obj(fields: Map[String, Value]) extends Value {
    def get(path: String*): Option[Value] = path.toList match {
      case Nil => Some(this)
      case h :: t =>
        fields.get(h).flatMap {
          case o: Obj => o.get(t: _*)
          case v if t.isEmpty => Some(v)
          case _ => None
        }
    }
  }
  final case class Arr(items: Seq[Value]) extends Value
  final case class Str(s: String) extends Value

  def parse(text: String): Obj = new Parser(text).parseRoot()

  /** Object merge with path expansion — HOCON's duplicate-key semantics:
    * objects deep-merge, anything else is last-writer-wins. */
  private def merge(a: Value, b: Value): Value = (a, b) match {
    case (Obj(x), Obj(y)) =>
      Obj(y.foldLeft(x) { case (acc, (k, v)) =>
        acc.updated(k, acc.get(k).map(merge(_, v)).getOrElse(v))
      })
    case (_, v) => v
  }

  private final class Parser(text: String) {
    private var i = 0
    private def eof: Boolean = i >= text.length
    private def peek: Char = text(i)

    private def skipBlank(): Unit = {
      var go = true
      while (go && !eof) {
        if (peek.isWhitespace || peek == ',') i += 1
        else if (peek == '/' && i + 1 < text.length && text(i + 1) == '/') skipLine()
        else if (peek == '#') skipLine()
        else go = false
      }
    }
    private def skipLine(): Unit = while (!eof && peek != '\n') i += 1

    def parseRoot(): Obj = {
      val v = parseEntries(None)
      skipBlank()
      require(eof, s"trailing content at offset $i")
      v
    }

    private def parseEntries(closer: Option[Char]): Obj = {
      var acc: Value = Obj(Map.empty)
      skipBlank()
      while (!eof && !closer.contains(peek)) {
        if (text.startsWith("include", i) &&
            (i + 7 >= text.length || text(i + 7) == ' ' ||
             text(i + 7) == '\t' || text(i + 7) == '"')) skipLine()
        else {
          val path = parsePath()
          require(path.nonEmpty, s"expected key at offset $i")
          skipInline()
          val value: Value =
            if (!eof && peek == '{') parseObjBody()
            else if (!eof && (peek == '=' || peek == ':')) {
              i += 1; skipInline(); parseValue()
            } else throw new IllegalArgumentException(
              s"expected '=', ':' or '{' after '${path.mkString(".")}'")
          acc = merge(acc, nest(path, value))
        }
        skipBlank()
      }
      closer.foreach { c =>
        require(!eof && peek == c, s"expected '$c' before end of input")
        i += 1
      }
      acc.asInstanceOf[Obj]
    }

    private def nest(path: Seq[String], v: Value): Obj =
      path.foldRight(v) { (k, inner) => Obj(Map(k -> inner)) }.asInstanceOf[Obj]

    private def parsePath(): Seq[String] = {
      val segs = scala.collection.mutable.ArrayBuffer.empty[String]
      var more = true
      while (more) {
        segs += parseKeySegment()
        if (!eof && peek == '.') i += 1 else more = false
      }
      segs.toSeq
    }

    private def parseKeySegment(): String =
      if (!eof && peek == '"') parseQuoted()
      else {
        val start = i
        while (!eof && (peek.isLetterOrDigit || peek == '_' || peek == '-')) i += 1
        require(i > start, s"empty key at offset $i")
        text.substring(start, i)
      }

    private def skipInline(): Unit =
      while (!eof && (peek == ' ' || peek == '\t')) i += 1

    private def parseValue(): Value =
      if (eof) Str("")
      else peek match {
        case '{' => parseObjBody()
        case '[' => parseArr()
        case '"' => Str(parseQuoted())
        case _ =>
          val start = i
          while (!eof && peek != '\n' && peek != ',' && peek != ']' &&
            peek != '}' && !(peek == '/' && i + 1 < text.length && text(i + 1) == '/') &&
            peek != '#') i += 1
          Str(text.substring(start, i).trim)
      }

    private def parseObjBody(): Obj = { i += 1; parseEntries(Some('}')) }

    private def parseArr(): Arr = {
      i += 1 // '['
      val items = scala.collection.mutable.ArrayBuffer.empty[Value]
      skipBlank()
      while (!eof && peek != ']') {
        val before = i
        items += parseValue()
        // fail fast instead of spinning: a value that consumed nothing
        // (e.g. a stray '}' closing an unterminated array) would loop
        // forever appending empty scalars
        require(i > before, s"unterminated or malformed list at offset $i")
        skipBlank()
      }
      require(!eof, "unterminated list")
      i += 1 // ']'
      Arr(items.toSeq.filter { case Str("") => false; case _ => true })
    }

    private def parseQuoted(): String = {
      i += 1 // opening quote
      val sb = new StringBuilder
      while (!eof && peek != '"') {
        if (peek == '\\' && i + 1 < text.length) {
          // JSON/HOCON escapes — dropping the backslash and emitting the
          // raw letter corrupted every \n/\t/\uXXXX in a quoted value
          text(i + 1) match {
            case 'n' => sb += '\n'; i += 2
            case 't' => sb += '\t'; i += 2
            case 'r' => sb += '\r'; i += 2
            case 'b' => sb += '\b'; i += 2
            case 'f' => sb += '\f'; i += 2
            case 'u' if i + 5 < text.length =>
              sb += Integer.parseInt(text.substring(i + 2, i + 6), 16).toChar
              i += 6
            case c => sb += c; i += 2 // \" \\ \/ and any other passthrough
          }
        }
        else { sb += peek; i += 1 }
      }
      require(!eof, "unterminated string")
      i += 1
      sb.toString
    }
  }
}

final case class SourceConf(name: String, sourceType: String)

final case class MappingConf(
    name: String,
    sources: Seq[String],
    sinks: Seq[String],
    schemaFile: Option[String],
    confluentId: Option[Int],
    discardCorrupted: Boolean,
    discardDuplicates: Boolean)

final case class SinkConf(
    name: String,
    sinkType: String,
    mode: Option[String],
    jitterDelay: Option[String],
    jitterFactor: Option[String])

/** `parseErrors` holds the values the parser could not read (a discard
  * flag that is not a HOCON boolean, a `confluent_id` that is not an
  * integer); they are reported with the constraint violations. */
final case class TopologyConfig(
    sources: Seq[SourceConf],
    mappings: Seq[MappingConf],
    sinks: Seq[SinkConf],
    parseErrors: Seq[String] = Nil) {

  /** Every constraint violation, in the reference's phrasing (the
    * `config/constraint` package); empty means the config is startable. */
  def validationErrors: Seq[String] = {
    val sourceNames = sources.map(_.name).toSet
    val sinkNames = sinks.map(_.name).toSet
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    errs ++= parseErrors

    // MappingSourceSinkReferencesMustExist
    mappings.foreach { m =>
      val ms = m.sources.filterNot(sourceNames)
      val mk = m.sinks.filterNot(sinkNames)
      if (ms.nonEmpty) errs += s"mapping '${m.name}' references missing sources: ${ms.mkString(",")}"
      if (mk.nonEmpty) errs += s"mapping '${m.name}' references missing sinks: ${mk.mkString(",")}"
    }
    // SourceAndSinkNamesCannotCollide
    val collisions = sourceNames.intersect(sinkNames)
    if (collisions.nonEmpty)
      errs += s"source and sink names must be distinct; both used: ${collisions.toSeq.sorted.mkString(",")}"
    // OneSchemaPerSink
    sinks.foreach { s =>
      val schemas = mappings.filter(_.sinks.contains(s.name))
        .map(_.schemaFile.getOrElse("<default>")).distinct
      if (schemas.size > 1)
        errs += s"sink '${s.name}' would receive multiple schemas: ${schemas.mkString(",")}"
    }
    val confluentSinks = sinks.filter(_.mode.contains("confluent"))
    confluentSinks.foreach { s =>
      val feeding = mappings.filter(_.sinks.contains(s.name))
      // MappingToConfluentSinksMustHaveSchemaId
      val unregistered = feeding.filter(_.confluentId.isEmpty)
      if (unregistered.nonEmpty)
        errs += s"mappings used by Confluent-mode sink '${s.name}' must set 'confluent_id'; missing: ${unregistered.map(_.name).mkString(",")}"
      // OneConfluentIdPerSink
      val ids = feeding.flatMap(_.confluentId).distinct
      if (ids.size > 1)
        errs += s"sink '${s.name}' can only use one confluent identifier, got: ${ids.mkString(",")}"
    }
    // EitherJitterDurationOrFactorButNotBoth
    sinks.foreach { s =>
      if (s.jitterDelay.nonEmpty && s.jitterFactor.nonEmpty)
        errs += s"sink '${s.name}': retry settings may specify a jitter duration or factor, but not both"
    }
    errs.toSeq
  }

  /** Fail-fast gate: throws with EVERY violation listed, like the
    * reference's startup (`ValidatedConfiguration.validate`). */
  def validated(): TopologyConfig = {
    val errs = validationErrors
    require(errs.isEmpty, s"invalid topology configuration:\n  ${errs.mkString("\n  ")}")
    this
  }

  /** Wire into the executable [[Topology]]: each mapping name resolves to
    * its frame-transform through `mappers` (the DSL compile step). */
  def toTopology(mappers: String => DataFrame => DataFrame): Topology = {
    validated()
    new Topology(
      mappings.map(m => MappingSpec(m.name, m.sources, mappers(m.name),
        m.schemaFile.getOrElse("default"),
        discardCorrupted = m.discardCorrupted,
        discardDuplicates = m.discardDuplicates)),
      sinks.map(s => SinkSpec(s.name, mappings.filter(_.sinks.contains(s.name)).map(_.name))))
  }
}

object TopologyConfig {

  /** Parse a reference-style config; no validation (use [[TopologyConfig.validated]]). */
  def parse(text: String): TopologyConfig = {
    val root = Hocon.parse(text)
    val divolte = root.get("divolte") match {
      case Some(o: Hocon.Obj) => o
      case _ => Hocon.Obj(Map.empty)
    }
    def section(name: String): Map[String, Hocon.Obj] =
      divolte.get(name) match {
        case Some(Hocon.Obj(fields)) => fields.collect { case (k, o: Hocon.Obj) => k -> o }
        case _ => Map.empty
      }
    def str(o: Hocon.Obj, key: String): Option[String] =
      o.fields.get(key).collect { case Hocon.Str(s) => s }
    def strs(o: Hocon.Obj, key: String): Seq[String] =
      o.fields.get(key) match {
        case Some(Hocon.Arr(items)) => items.collect { case Hocon.Str(s) => s }
        case Some(Hocon.Str(s)) => Seq(s)
        case _ => Nil
      }
    val sources = section("sources").map { case (n, o) =>
      SourceConf(n, str(o, "type").getOrElse("browser"))
    }.toSeq.sortBy(_.name)
    val parseErrors = scala.collection.mutable.ArrayBuffer.empty[String]
    def invalid(mapping: String, key: String, expected: String, v: Hocon.Value): Unit = {
      val shown = v match { case Hocon.Str(s) => s"'$s'"; case _ => "a non-scalar value" }
      parseErrors += s"mapping '$mapping': $key must be $expected, got $shown"
    }
    // HOCON booleans (what the reference's typesafe-config getBoolean
    // accepts); an absent flag is false, any other value is an error
    def flag(mapping: String, o: Hocon.Obj, key: String): Boolean =
      o.fields.get(key) match {
        case None => false
        case Some(Hocon.Str("true" | "yes" | "on")) => true
        case Some(Hocon.Str("false" | "no" | "off")) => false
        case Some(v) =>
          invalid(mapping, key, "a boolean (true/yes/on or false/no/off)", v)
          false
      }
    val mappings = section("mappings").toSeq.sortBy(_._1).map { case (n, o) =>
      MappingConf(n,
        sources = strs(o, "sources"),
        sinks = strs(o, "sinks"),
        schemaFile = str(o, "schema_file"),
        // an int, as typesafe-config's getInt reads it; absent is unset
        confluentId = o.fields.get("confluent_id").flatMap {
          case Hocon.Str(s) if s.toIntOption.nonEmpty => s.toIntOption
          case v => invalid(n, "confluent_id", "an integer", v); None
        },
        discardCorrupted = flag(n, o, "discard_corrupted"),
        discardDuplicates = flag(n, o, "discard_duplicates"))
    }
    val sinks = section("sinks").map { case (n, o) =>
      val retry = o.fields.get("retry_settings") match {
        case Some(r: Hocon.Obj) => r
        case _ => Hocon.Obj(Map.empty)
      }
      SinkConf(n, str(o, "type").getOrElse("hdfs"), str(o, "mode"),
        jitterDelay = str(retry, "jitter_delay"),
        jitterFactor = str(retry, "jitter_factor"))
    }.toSeq.sortBy(_.name)
    TopologyConfig(sources, mappings, sinks, parseErrors.toSeq)
  }

  /** Parse + fail-fast validate in one step (the reference's startup path). */
  def load(text: String): TopologyConfig = parse(text).validated()
}
