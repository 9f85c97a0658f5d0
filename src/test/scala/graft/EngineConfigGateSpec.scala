package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate for the one engine configuration: every session is
  * built by `GraftSession` (so tests, Verify, Bench, Explain and the tools
  * plan with the engine that ships), and operators take no settings from
  * the environment (executors on a cluster do not inherit the driver's
  * environment, so an env read there is a local-only switch), and no
  * code outside `GraftSession` changes the shared session's settings, and
  * queries read their parquet tables through `Tables`' schema cache, and
  * the persisted-index layout is named only by its `graft.index` core. A/B
  * comparisons are made across commits with `python3 perfbench/run.py`. */
class EngineConfigGateSpec extends AnyFunSuite {

  private def offenders(dir: String, pattern: scala.util.matching.Regex,
      allowed: Set[String] = Set.empty): Seq[String] = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
    assert(files.nonEmpty, s"no Scala sources under $dir")
    files.filter((p: Path) => pattern.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.toString).sorted
  }

  test("only GraftSession builds a SparkSession") {
    val found = offenders("src", """SparkSession\s*\.\s*builder\b""".r,
      allowed = Set("GraftSession.scala"))
    assert(found.isEmpty,
      s"build sessions with GraftSession.local / configure instead: $found")
  }

  test("operators read no environment variables") {
    val found = offenders("src/main/scala/graft/operators",
      """\bsys\s*\.\s*env\b|System\s*\.\s*getenv\b""".r)
    assert(found.isEmpty, s"environment reads in operators: $found")
  }

  test("queries change no session settings") {
    // Verify runs several queries at once on one session, so a query, or
    // an operator or table read it calls, that sets a session key changes
    // the plans of the others; settings live in GraftSession.configure
    val found = offenders("src/main/scala", """\bconf\s*\.\s*(set|unset)\b""".r,
      allowed = Set("GraftSession.scala"))
    assert(found.isEmpty, s"session settings changed outside GraftSession: $found")
  }

  test("only the graft.index core names the persisted-index layout markers") {
    // one owner for the epoch lifecycle: an operator that spells a marker
    // itself can drift from the protocol the core keeps
    val found = offenders("src/main/scala", """"_(RETIRED|READERS|EPOCHS)"""".r)
      .filterNot(_.startsWith(Paths.get("src/main/scala/graft/index").toString))
    assert(found.isEmpty, s"name the layout through graft.index.EpochLayout: $found")
  }

  test("AnnIndex reaches no DedupIndex member") {
    val src = Files.readString(
      Paths.get("src/main/scala/graft/operators/AnnIndex.scala"))
    assert(!src.contains("DedupIndex."),
      "shared index lifecycle members live in graft.index.EpochLayout")
  }

  test("queries read parquet tables only through the Tables schema cache") {
    // a bare read infers the schema with a Spark job on every call;
    // Tables.load / Tables.parquet reuse the inferred schema
    val found = offenders("src/main/scala/graft/queries",
      """\bread\s*\.\s*parquet\s*\(""".r)
    assert(found.isEmpty, s"read through Tables.load or Tables.parquet: $found")
  }
}
