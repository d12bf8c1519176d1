package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Source lints over the checkout.
  *
  * Paths: no source file may name a checkout of this repository, its
  * own or another clone's. An absolute path into a working tree
  * (fixture roots, generator outputs, spec scratch tables, a doc link)
  * silently reads and writes the wrong tree when the code runs from
  * any other clone. Paths under the checkout resolve from the working
  * directory instead (`TestFixtures.root`, `TestSpark.scratch`).
  *
  * Knobs: main code reads system properties, environment variables and
  * `graft.*` session settings only through [[SourcePathLintSpec.Allowed]].
  * A setting that only an A/B experiment turns hides a second code
  * path that no spec, workload or oracle runs.
  */
class SourcePathLintSpec extends AnyFunSuite {
  import SourcePathLintSpec._

  private val checkout = new File(".").getCanonicalFile

  private def sources(dir: String): Seq[File] = {
    val root = new File(checkout, dir)
    assert(root.isDirectory, s"run from the repository root, not $checkout")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(root)
  }

  private def lines(f: File): Seq[(String, Int)] =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).split('\n').toSeq.zipWithIndex

  private def where(f: File, i: Int, line: String): String =
    s"${checkout.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"

  /** An absolute path into ANY checkout of this repository, wherever
    * it was cloned: at least one directory, then one of the checkout's
    * top-level entries (`src`, `target`, `perfbench`, ...). Built from
    * the running checkout's entries, so a clone also sees literals
    * that name another checkout, and the spec names none itself.
    */
  private lazy val checkoutPath: scala.util.matching.Regex = {
    val entries = checkout.list().filterNot(_.startsWith(".")).sorted.map(java.util.regex.Pattern.quote)
    ("""(?<![\w.~-])(?:/[\w.@+-]+)+/(?:""" + entries.mkString("|") + """)(?![\w.-])""").r
  }

  private def assertNoCheckoutPath(dir: String): Unit = {
    val hits = for {
      f <- sources(dir)
      (line, i) <- lines(f)
      if checkoutPath.findFirstIn(line).isDefined
    } yield where(f, i, line)
    assert(hits.isEmpty, s"$dir names a checkout:\n${hits.mkString("\n")}")
  }

  test("no file under src/main names the checkout's absolute path") {
    assertNoCheckoutPath("src/main")
  }

  test("no file under src/test names the checkout's absolute path") {
    assertNoCheckoutPath("src/test")
  }

  test("main code reads settings only through the allow-list") {
    val hits = for {
      f <- sources("src/main") if f.getName.endsWith(".scala")
      (line, i) <- lines(f)
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      key <- settingReads(line)
      if !key.exists(Allowed.contains)
    } yield s"${key.getOrElse("<no literal key>")} at ${where(f, i, line)}"
    assert(hits.isEmpty, s"setting reads outside the allow-list:\n${hits.mkString("\n")}")
  }
}

object SourcePathLintSpec {

  /** Every setting main code may read, with the reason it exists. */
  val Allowed: Map[String, String] = Map(
    "SPARK_GRAFT_SF_DIR" -> "deployment: the scale-factor directory Bench reads",
    "SPARK_GRAFT_CPUS" -> "deployment: local[N] cores for Bench and Verify",
    "SPARK_GRAFT_QUERIES" -> "deployment: the query subset Bench runs",
    "SPARK_GRAFT_SRC_SF" -> "deployment: the source scale factor GenScale derives from",
    "graft.index.root" -> "deployment: where the persisted corpus indexes live",
    "java.io.tmpdir" -> "deployment: the default parent of graft.index.root",
    "SPARK_GRAFT_STREAM_METRICS" ->
      "observability: per-query micro-batch accounting, until the engine owns a query profile",
  )

  private val SysRead =
    """(?:sys\.(?:props|env)|System\.get(?:Property|env))\b(?:\s*\.\s*\w+)?\s*(\(\s*"([^"]*)")?""".r
  private val GraftConfRead =
    """conf\s*\.\s*(?:get|getOption|contains)\s*\(\s*"(graft\.[^"]*)"""".r

  /** The keys a source line reads: `Some(key)` for a literal key,
    * `None` for a process-setting read whose key is not a literal. */
  private def settingReads(line: String): Seq[Option[String]] =
    SysRead.findAllMatchIn(line).map(m => Option(m.group(2))).toSeq ++
      GraftConfRead.findAllMatchIn(line).map(m => Some(m.group(1))).toSeq
}
