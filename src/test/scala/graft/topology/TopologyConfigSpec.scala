package graft.topology

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Config-file topology: valid/invalid permutations mirroring the
  * reference's fixture set (`config/ValidatedConfigurationTest`,
  * `kafka-sink-confluent-*.conf`, `source-sink-collisions.conf`,
  * `missing-sources-sinks.conf`, `gcs-both-jitter-invalid.conf`,
  * `mapping-configuration-interdependent.conf`). */
class TopologyConfigSpec extends SparkSpec {
  import spark.implicits._

  test("interdependent many-to-many config parses, validates, and executes") {
    val conf = """
      |divolte {
      |  global.hdfs.enabled = true
      |  sources {
      |    source-1 { type = browser, prefix = /source-1 }
      |    source-2 { type = browser, prefix = /source-2 }
      |    source-3 { type = browser, prefix = /source-3 }
      |    source-4 { type = browser, prefix = /source-4 }
      |  }
      |  mappings {
      |    mapping-1 = { sources = [source-1, source-2], sinks = [sink-1] }
      |    mapping-2 = { sources = [source-1, source-2], sinks = [sink-2, sink-3] }
      |    mapping-3 = { sources = [source-3], sinks = [sink-3] }
      |    mapping-4 = { sources = [source-1, source-4], sinks = [sink-3, sink-4] }
      |  }
      |  sinks {
      |    sink-1 { type = hdfs }
      |    sink-2 { type = hdfs }
      |    sink-3 { type = hdfs }
      |    sink-4 { type = hdfs }
      |  }
      |}""".stripMargin
    val tc = TopologyConfig.load(conf)
    assert(tc.sources.map(_.name) ===
      Seq("source-1", "source-2", "source-3", "source-4"))
    assert(tc.mappings.map(_.name) ===
      Seq("mapping-1", "mapping-2", "mapping-3", "mapping-4"))
    assert(tc.mappings.head.sources === Seq("source-1", "source-2"))

    // wire and run: every source contributes one distinct row
    val topo = tc.toTopology(_ => identity[DataFrame])
    val frames = (1 to 4).map(i => s"source-$i" -> Seq(s"e$i").toDF("eventId")).toMap
    val out = topo(frames)
    assert(out("sink-1").count() === 2) // mapping-1: source-1+2
    assert(out("sink-2").count() === 2) // mapping-2: source-1+2
    assert(out("sink-3").count() === 5) // mapping-2 (2) + mapping-3 (1) + mapping-4 (2)
    assert(out("sink-4").count() === 2) // mapping-4: source-1+4
  }

  test("missing source and sink references fail fast with both violations") {
    val conf = """
      |include classpath("reference.conf")
      |divolte {
      |  sources.browser = { type = browser }
      |  sinks { hdfs = { type = hdfs }, kafka = { type = kafka } }
      |  mappings.test = {
      |    sources = [browser, missing-source]
      |    sinks = [hdfs, kafka, missing-sink]
      |  }
      |}""".stripMargin
    val errs = TopologyConfig.parse(conf).validationErrors
    assert(errs.exists(_.contains("missing sources: missing-source")))
    assert(errs.exists(_.contains("missing sinks: missing-sink")))
    val e = intercept[IllegalArgumentException](TopologyConfig.load(conf))
    assert(e.getMessage.contains("missing-source") && e.getMessage.contains("missing-sink"))
  }

  test("source and sink names cannot collide") {
    val conf = """
      |divolte {
      |  sources { browser { type = browser }, foo { type = browser } }
      |  sinks { hdfs { type = hdfs }, foo { type = hdfs } }
      |  mappings.test = { sources = [browser], sinks = [hdfs] }
      |}""".stripMargin
    val errs = TopologyConfig.parse(conf).validationErrors
    assert(errs.exists(_.contains("both used: foo")))
  }

  test("one schema per sink: different schemas sharing a sink are rejected, same schema passes") {
    def conf(schema2: String) = s"""
      |divolte {
      |  sources.browser.type = browser
      |  sinks.hdfs.type = hdfs
      |  mappings {
      |    m1 = { sources = [browser], sinks = [hdfs], schema_file = "a.avsc" }
      |    m2 = { sources = [browser], sinks = [hdfs], schema_file = "$schema2" }
      |  }
      |}""".stripMargin
    val bad = TopologyConfig.parse(conf("b.avsc")).validationErrors
    assert(bad.exists(_.contains("multiple schemas")))
    assert(TopologyConfig.parse(conf("a.avsc")).validationErrors.isEmpty)
  }

  test("confluent-mode sink with conflicting confluent ids is rejected") {
    val conf = """
      |divolte {
      |  sources.browser.type = browser
      |  mappings {
      |    test-1 = { confluent_id = 1, sources = [browser], sinks = [kafka] }
      |    test-2 = { confluent_id = 2, sources = [browser], sinks = [kafka] }
      |  }
      |  sinks.kafka = { type = kafka, mode = confluent }
      |}""".stripMargin
    val errs = TopologyConfig.parse(conf).validationErrors
    assert(errs.exists(e => e.contains("one confluent identifier") &&
      e.contains("1") && e.contains("2")))
  }

  test("confluent-mode sink requires confluent_id on every feeding mapping") {
    val conf = """
      |divolte {
      |  sources.browser.type = browser
      |  mappings {
      |    test-1 = { confluent_id = 1, sources = [browser], sinks = [kafka] }
      |    test-2 = { sources = [browser], sinks = [kafka] }
      |  }
      |  sinks.kafka = { type = kafka, mode = confluent }
      |}""".stripMargin
    val errs = TopologyConfig.parse(conf).validationErrors
    assert(errs.exists(e => e.contains("confluent_id") && e.contains("test-2")))
    // same shape in naked mode needs no ids
    assert(TopologyConfig.parse(conf.replace(", mode = confluent", ""))
      .validationErrors.isEmpty)
  }

  test("retry settings may set a jitter duration or factor, but not both") {
    val conf = """
      |include classpath("reference.conf")
      |divolte {
      |  sinks.gcs = {
      |    type = gcs
      |    bucket = "gs://bucket/folder"
      |    retry_settings = {
      |      jitter_delay = 10 ms
      |      jitter_factor = 0.1
      |    }
      |  }
      |}""".stripMargin
    val errs = TopologyConfig.parse(conf).validationErrors
    assert(errs.exists(_.contains("jitter")))
  }

  test("dotted paths, block merge, comments, and discard flags parse") {
    val conf = """
      |// comment line
      |divolte {
      |  sources.browser.type = browser   // trailing comment
      |  sources.browser.prefix = /tracking
      |  mappings.test {
      |    sources = [browser]
      |    sinks = [hdfs]
      |  }
      |  # hash comment
      |  mappings.test.discard_corrupted = true
      |  mappings.test.discard_duplicates = true
      |  sinks.hdfs.type = hdfs
      |}""".stripMargin
    val tc = TopologyConfig.load(conf)
    assert(tc.sources === Seq(SourceConf("browser", "browser")))
    val m = tc.mappings.head
    assert(m.discardCorrupted && m.discardDuplicates)
    // the merged mapping kept its block-form fields
    assert(m.sources === Seq("browser") && m.sinks === Seq("hdfs"))
  }

  test("hocon robustness: escapes, include word-boundary, malformed-list fail-fast") {
    // JSON escapes in quoted values decode (the old parser mangled \t to 't')
    val obj = Hocon.parse("""k = "a\tb\u0041"""" + "\n")
    assert(obj.get("k") === Some(Hocon.Str("a\tbA")))
    // a key merely STARTING with 'include' is a key, not an include line
    val cfg = TopologyConfig.load(
      """divolte {
        |  sources { s1 { type = browser } }
        |  mappings { include_me { sources = [s1] } }
        |  sinks { k { mappings = [include_me] } }
        |}""".stripMargin)
    assert(cfg.mappings.map(_.name) === Seq("include_me"))
    // an unterminated list closed by '}' fails fast instead of hanging
    assertThrows[IllegalArgumentException] {
      Hocon.parse("divolte { mappings.m.sources = [browser }")
    }
  }

  private def flagged(corrupted: String, duplicates: String): String = s"""
    |divolte {
    |  sources.browser.type = browser
    |  mappings.m = {
    |    sources = [browser], sinks = [hdfs]
    |    discard_corrupted = $corrupted
    |    discard_duplicates = $duplicates
    |  }
    |  sinks.hdfs.type = hdfs
    |}""".stripMargin

  test("discard flags accept every HOCON boolean spelling") {
    for (t <- Seq("true", "yes", "on", "\"on\"")) {
      val m = TopologyConfig.load(flagged(t, t)).mappings.head
      assert(m.discardCorrupted && m.discardDuplicates, s"'$t' reads as true")
    }
    for (f <- Seq("false", "no", "off")) {
      val m = TopologyConfig.load(flagged(f, f)).mappings.head
      assert(!m.discardCorrupted && !m.discardDuplicates, s"'$f' reads as false")
    }
  }

  test("a discard flag that is not a boolean fails fast with the other violations") {
    val conf = flagged("maybe", "[true]").replace("sinks = [hdfs]", "sinks = [hdfs, ghost]")
    val errs = TopologyConfig.parse(conf).validationErrors
    assert(errs.exists(e => e.contains("discard_corrupted must be a boolean") && e.contains("'maybe'")))
    assert(errs.exists(_.contains("discard_duplicates must be a boolean")))
    assert(errs.exists(_.contains("missing sinks: ghost")))
    val e = intercept[IllegalArgumentException](TopologyConfig.load(conf))
    assert(e.getMessage.contains("discard_corrupted") && e.getMessage.contains("ghost"))
  }

  test("a confluent_id that is not an integer fails fast with the other violations") {
    for (bad <- Seq("abc", "[1]", "1.5")) {
      val conf = flagged("true", "true")
        .replace("discard_corrupted", s"confluent_id = $bad\n    discard_corrupted")
        .replace("sinks = [hdfs]", "sinks = [hdfs, ghost]")
      val errs = TopologyConfig.parse(conf).validationErrors
      assert(errs.exists(_.contains("mapping 'm': confluent_id must be an integer")), bad)
      assert(errs.exists(_.contains("missing sinks: ghost")), bad)
      val e = intercept[IllegalArgumentException](TopologyConfig.load(conf))
      assert(e.getMessage.contains("confluent_id") && e.getMessage.contains("ghost"), bad)
    }
    val ok = flagged("true", "true").replace("discard_corrupted", "confluent_id = 7\n    discard_corrupted")
    assert(TopologyConfig.load(ok).mappings.head.confluentId === Some(7))
  }
}
