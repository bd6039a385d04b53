package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Loadable UA rule database (uap-core regexes.yaml format) — the
  * pluggable-database slot the reference fills with uadetector
  * (`UserAgentParserAndCache.java:40-88`): format parsing, first-match
  * classification with `$n` templates, builtin merge precedence/fallback,
  * and stamp-driven hot reload. */
class UaDatabaseSpec extends AnyFunSuite {

  private val yaml =
    """# comment line
      |user_agent_parsers:
      |  - regex: 'Edg/(\d+)\.(\d+)'
      |    family_replacement: 'Microsoft Edge'
      |    v1_replacement: '$1'
      |    v2_replacement: '$2'
      |  - regex: '(Chrome)/(\d+)\.(\d+)\.(\d+)'
      |  - regex: '(Namoroka|Shiretoko)/(\d+)\.(\d+)'
      |    family_replacement: 'Firefox ($1)'
      |os_parsers:
      |  - regex: 'Windows NT 10\.0'
      |    os_replacement: 'Windows'
      |    os_v1_replacement: '10'
      |device_parsers:
      |  - regex: 'googlebot'
      |    regex_flag: 'i'
      |    device_replacement: 'Spider'
      |    brand_replacement: 'Spider'
      |""".stripMargin

  private val db = UaDatabase.build(yaml, "stamp0")

  test("yaml subset: sections, quoting styles, comments") {
    val secs = UaDatabase.parseYamlSections(
      """sec:
        |  - regex: 'it''s'
        |    a: "x\ty"
        |    b: bare value # trailing comment
        |# full-line comment
        |  - regex: 'two'
        |other:
        |  - regex: 'o'
        |""".stripMargin)
    assert(secs("sec")(0) === Map("regex" -> "it's", "a" -> "x\ty", "b" -> "bare value"))
    assert(secs("sec")(1) === Map("regex" -> "two"))
    assert(secs("other").length === 1)
  }

  test("yaml: plain scalars stay verbatim strings; other shapes are rejected") {
    val secs = UaDatabase.parseYamlSections(
      """sec:
        |  - regex: 010
        |    a: 1.10
        |    b: yes
        |    c:
        |""".stripMargin)
    assert(secs === Map("sec" -> Vector(
      Map("regex" -> "010", "a" -> "1.10", "b" -> "yes", "c" -> ""))))
    intercept[IllegalArgumentException](UaDatabase.parseYamlSections("sec: scalar\n"))
    intercept[IllegalArgumentException](UaDatabase.parseYamlSections(
      "sec:\n  - regex: a\n    nested:\n      k: v\n"))
    intercept[IllegalArgumentException](UaDatabase.parseYamlSections("sec:\n  - regex: 'open\n"))
  }

  test("classify: first match wins; templates and group defaults") {
    // Edge rule precedes Chrome and renames via family_replacement
    val edge = UaDatabase.classify(db,
      "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91")
    assert(edge.family === "Microsoft Edge" && edge.version === "120.0")
    assert(edge.osFamily === "Windows" && edge.osVersion === "10")
    // default-group family (group 1) + version join over groups 2..4
    val chrome = UaDatabase.classify(db, "x Chrome/119.2.7.1 y")
    assert(chrome.family === "Chrome" && chrome.version === "119.2.7")
    // substitution inside a composite template
    val nam = UaDatabase.classify(db, "Mozilla/5.0 Namoroka/3.6")
    assert(nam.family === "Firefox (Namoroka)" && nam.version === "3.6")
  }

  test("classify: misses are null; regex_flag 'i' honored") {
    val miss = UaDatabase.classify(db, "curl/8.0.1")
    assert(miss.family === null && miss.osFamily === null && miss.deviceFamily === null)
    val bot = UaDatabase.classify(db, "Mozilla/5.0 (compatible; GoogleBot/2.1)")
    assert(bot.deviceFamily === "Spider" && bot.deviceBrand === "Spider")
  }

  private def withDbFile(content: String)(f: java.io.File => Unit): Unit = {
    val file = java.io.File.createTempFile("ua-spec", ".yaml")
    try { java.nio.file.Files.writeString(file.toPath, content); f(file) }
    finally file.delete()
  }

  test("merge: db overrides name/version/os, falls back on a miss, " +
       "keeps vendor only when families agree") {
    withDbFile(yaml) { file =>
      val p = file.getAbsolutePath
      // db match: renamed family drops the builtin vendor (Edge ≠ Microsoft Edge)
      val edge = UserAgents.parseWith(
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91", p)
      assert(edge.name === "Microsoft Edge" && edge.version === "120.0")
      assert(edge.vendor === null)
      assert(edge.osFamily === "Windows" && edge.osVersion === "10")
      assert(edge.deviceCategory === "Personal computer" && edge.uaType === "Browser")
      // db match agreeing with the builtin family keeps the vendor
      val chrome = UserAgents.parseWith(
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36", p)
      assert(chrome.name === "Chrome" && chrome.vendor === "Google Inc.")
      assert(chrome.version === "120.0.0") // db template, not builtin 120.0.0.0
      // db miss: builtin result untouched
      val ff = UserAgents.parseWith(
        "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0", p)
      assert(ff.name === "Firefox" && ff.version === "119.0" &&
        ff.vendor === "Mozilla Foundation" && ff.osFamily === "Linux")
      // Spider device rule forces Robot/Other even without a ua-rule hit
      val bot = UserAgents.parseWith("Mozilla/5.0 (compatible; GoogleBot/2.1)", p)
      assert(bot.uaType === "Robot" && bot.deviceCategory === "Other")
    }
  }

  test("hot reload: a rewritten file swaps rules after the refresh window " +
       "and invalidates cached classifications") {
    val prev = sys.props.put("graft.ua.db.refresh.ms", "1")
    try withDbFile(yaml) { file =>
      val p = file.getAbsolutePath
      assert(UserAgents.parseWith("z Edg/1.2 q", p).name === "Microsoft Edge")
      Thread.sleep(5) // past the shrunk refresh window
      java.nio.file.Files.writeString(file.toPath,
        """user_agent_parsers:
          |  - regex: 'Edg/(\d+)\.(\d+)'
          |    family_replacement: 'Edge Reloaded'
          |""".stripMargin)
      file.setLastModified(file.lastModified() + 2000) // defeat mtime granularity
      Thread.sleep(5)
      assert(UserAgents.parseWith("z Edg/1.2 q", p).name === "Edge Reloaded")
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.ua.db.refresh.ms", v)
        case None => sys.props.remove("graft.ua.db.refresh.ms")
      }
    }
  }

  test("null ua and absent db fields keep reference absent semantics") {
    withDbFile(yaml) { file =>
      val n = UserAgents.parseWith(null, file.getAbsolutePath)
      assert(n.name === null && n.osFamily === null && n.deviceCategory === null)
    }
  }
}
