package graft.functions

import java.util.concurrent.atomic.AtomicLong
import java.util.regex.{Matcher, Pattern}
import org.yaml.snakeyaml.Yaml
import org.yaml.snakeyaml.error.YAMLException
import org.yaml.snakeyaml.nodes.{MappingNode, Node, ScalarNode, SequenceNode}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Loadable user-agent classification database.
  *
  * The reference enriches through a full uadetector database behind a
  * per-thread cache (`recordmapping/UserAgentParserAndCache.java:40-88`,
  * configured via `divolte.global.mapper.user_agent_parser`); uadetector is
  * discontinued, so the engine accepts the maintained public successor
  * format instead: ua-parser's "uap-core" `regexes.yaml` — three rule lists
  * (`user_agent_parsers`, `os_parsers`, `device_parsers`), each entry a
  * regex plus optional `*_replacement` templates with `$1`-`$9` group
  * substitution, matched first-rule-wins with `find` (search, not anchored)
  * semantics. A user can point `spark.graft.ua.database` at the published
  * `regexes.yaml` (or their own curated rules) and long-tail agents resolve
  * through it, with [[UserAgents]]' built-in heuristics as the fallback for
  * anything the database leaves unmatched.
  *
  * Files load through the Hadoop filesystem API, so the path may live on
  * HDFS/object storage and resolves identically on every executor of a
  * real cluster — no driver-side distribution step. Reloads follow the
  * reference's hot-swap service (`ip2geo/ExternalDatabaseLookupService
  * .java:41-154`): the file's (length, mtime) stamp is re-checked at most
  * once per refresh interval and the compiled rule set swaps atomically;
  * rows mid-flight keep the rules they started with.
  *
  * The file is read with snakeyaml, which ships with Spark: a map of
  * sections, each a list of flat string maps, which is the shape of
  * uap-core's file.
  */
object UaDatabase {

  final case class UaRule(p: Pattern, family: Option[String],
      v1: Option[String], v2: Option[String], v3: Option[String])
  final case class OsRule(p: Pattern, os: Option[String],
      v1: Option[String], v2: Option[String], v3: Option[String],
      v4: Option[String])
  final case class DevRule(p: Pattern, device: Option[String],
      brand: Option[String], model: Option[String])

  /** Compiled database. `stamp` identifies the source file content and is
    * folded into [[UserAgents]]' LRU key, so a reload naturally invalidates
    * cached classifications. */
  final case class Db(ua: IndexedSeq[UaRule], os: IndexedSeq[OsRule],
      dev: IndexedSeq[DevRule], stamp: String)

  /** One classification pass; every field nullable (= no rule matched /
    * group absent). Device rows carry uap-core's family/brand/model —
    * family "Spider" is the bot marker the merge layer keys on. */
  final case class Hit(family: String, version: String,
      osFamily: String, osVersion: String,
      deviceFamily: String, deviceBrand: String, deviceModel: String)

  // ---------------------------------------------------------------- YAML

  /** `section -> ordered list of flat string maps`, read from the composed
    * snakeyaml node tree. Nothing is constructed, so no implicit typing
    * applies: every scalar stays the string as written (`010`, `yes`, an
    * empty value → `""`). A YAML error or any other shape is rejected with
    * an [[IllegalArgumentException]]. */
  private[functions] def parseYamlSections(text: String): Map[String, Vector[Map[String, String]]] = {
    def reject(what: String, n: Node): Nothing = throw new IllegalArgumentException(
      s"ua-database yaml: expected $what at line ${n.getStartMark.getLine + 1}")
    def str(n: Node): String = n match {
      case s: ScalarNode => s.getValue
      case other => reject("a scalar", other)
    }
    def flat(n: Node): Map[String, String] = n match {
      case m: MappingNode => m.getValue.asScala.map(t => str(t.getKeyNode) -> str(t.getValueNode)).toMap
      case other => reject("a map of scalars", other)
    }
    val root =
      try new Yaml().compose(new java.io.StringReader(text))
      catch { case e: YAMLException => throw new IllegalArgumentException(s"ua-database yaml: $e", e) }
    root match {
      case null => Map.empty
      case m: MappingNode => m.getValue.asScala.map { t =>
        str(t.getKeyNode) -> (t.getValueNode match {
          case items: SequenceNode => items.getValue.asScala.toVector.map(flat)
          case other => reject("a list of rules", other)
        })
      }.toMap
      case other => reject("a map of sections", other)
    }
  }

  private def compile(re: String, flag: Option[String]): Pattern =
    Pattern.compile(re,
      if (flag.contains("i")) Pattern.CASE_INSENSITIVE else 0)

  private[functions] def build(text: String, stamp: String): Db = {
    val secs = parseYamlSections(text)
    def list(name: String) = secs.getOrElse(name, Vector.empty)
    def req(m: Map[String, String]): String = m.getOrElse("regex",
      throw new IllegalArgumentException("ua-database yaml: rule without 'regex'"))
    Db(
      list("user_agent_parsers").map { m =>
        UaRule(compile(req(m), m.get("regex_flag")), m.get("family_replacement"),
          m.get("v1_replacement"), m.get("v2_replacement"), m.get("v3_replacement"))
      },
      list("os_parsers").map { m =>
        OsRule(compile(req(m), m.get("regex_flag")), m.get("os_replacement"),
          m.get("os_v1_replacement"), m.get("os_v2_replacement"),
          m.get("os_v3_replacement"), m.get("os_v4_replacement"))
      },
      list("device_parsers").map { m =>
        DevRule(compile(req(m), m.get("regex_flag")), m.get("device_replacement"),
          m.get("brand_replacement"), m.get("model_replacement"))
      },
      stamp)
  }

  // ------------------------------------------------------ classification

  /** Group i's text, or null when the group is absent/non-participating. */
  private def grp(m: Matcher, i: Int): String =
    if (i <= m.groupCount) {
      val g = m.group(i)
      if (g == null || g.isEmpty) null else g
    } else null

  /** `$1`-`$9` substitution + whitespace collapse + trim (uap-core's
    * replacement semantics); an all-placeholder template whose groups are
    * absent collapses to null. */
  private def subst(template: String, m: Matcher): String = {
    val out = new StringBuilder; var i = 0
    while (i < template.length) {
      val c = template.charAt(i)
      if (c == '$' && i + 1 < template.length && template.charAt(i + 1).isDigit) {
        val g = grp(m, template.charAt(i + 1) - '0')
        if (g != null) out ++= g
        i += 2
      } else { out += c; i += 1 }
    }
    val s = out.toString.replaceAll("\\s+", " ").trim
    if (s.isEmpty) null else s
  }

  private def resolved(repl: Option[String], m: Matcher, defaultGroup: Int): String =
    repl.map(subst(_, m)).getOrElse(grp(m, defaultGroup))

  /** Dotted join of the leading non-null version parts. */
  private def joinVersion(parts: String*): String = {
    val lead = parts.takeWhile(_ != null)
    if (lead.isEmpty) null else lead.mkString(".")
  }

  def classify(db: Db, ua: String): Hit = {
    var family: String = null; var version: String = null
    var i = 0
    while (family == null && i < db.ua.length) {
      val r = db.ua(i); val m = r.p.matcher(ua)
      if (m.find()) {
        family = resolved(r.family, m, 1)
        version = joinVersion(resolved(r.v1, m, 2), resolved(r.v2, m, 3),
          resolved(r.v3, m, 4))
      }
      i += 1
    }
    var osFam: String = null; var osVer: String = null
    i = 0
    while (osFam == null && i < db.os.length) {
      val r = db.os(i); val m = r.p.matcher(ua)
      if (m.find()) {
        osFam = resolved(r.os, m, 1)
        osVer = joinVersion(resolved(r.v1, m, 2), resolved(r.v2, m, 3),
          resolved(r.v3, m, 4), resolved(r.v4, m, 5))
      }
      i += 1
    }
    var dev: String = null; var brand: String = null; var model: String = null
    i = 0
    while (dev == null && i < db.dev.length) {
      val r = db.dev(i); val m = r.p.matcher(ua)
      if (m.find()) {
        dev = resolved(r.device, m, 1)
        brand = r.brand.map(subst(_, m)).orNull
        model = resolved(r.model, m, 1)
      }
      i += 1
    }
    Hit(family, version, osFam, osVer, dev, brand, model)
  }

  // ------------------------------------------------------- load + reload

  /** Stamp re-check throttle; re-read on each expiry (not per row) so the
    * hot-reload spec can shrink it. */
  private def refreshNanos: Long =
    sys.props.get("graft.ua.db.refresh.ms").map(_.toLong * 1000000L)
      .getOrElse(1000000000L)

  private def fsFor(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
  }

  private def statStamp(path: String): String = {
    val (fs, p) = fsFor(path)
    val st = fs.getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  def load(path: String): Db = {
    val (fs, p) = fsFor(path)
    val st = fs.getFileStatus(p)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    build(text, s"${st.getLen}:${st.getModificationTime}")
  }

  private val cache = TrieMap.empty[String, (Db, AtomicLong)]

  /** The live database for `path`: a plain map read on the hot path; the
    * file is re-stat'ed at most once per refresh interval (single thread
    * elected via the deadline CAS) and re-parsed only when the stamp moved.
    * Mirrors the reference's racy-but-safe volatile reader swap. */
  def current(path: String): Db = {
    val now = System.nanoTime()
    cache.get(path) match {
      case Some((db, deadline)) =>
        val d = deadline.get()
        if (now - d < 0 || !deadline.compareAndSet(d, now + refreshNanos)) db
        else {
          // A refresh failure (transient FS error, half-written / invalid
          // yaml mid-republish) must never fail a live task: keep serving
          // the cached Db, like the reference's reloadDatabase catch-and-
          // keep-old (ExternalDatabaseLookupService). Only the *initial*
          // load (None branch below) fails loudly.
          try {
            val stamp = statStamp(path)
            if (stamp == db.stamp) db
            else { val fresh = load(path); cache.put(path, (fresh, deadline)); fresh }
          } catch {
            case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger(getClass)
                .warn(s"ua database refresh failed for $path; keeping cached copy: $e")
              db
          }
        }
      case None =>
        val fresh = load(path)
        cache.putIfAbsent(path, (fresh, new AtomicLong(now + refreshNanos)))
          .map(_._1).getOrElse(fresh)
    }
  }
}
