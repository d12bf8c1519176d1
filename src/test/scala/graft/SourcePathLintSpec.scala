package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Main code must not name the checkout it is built in: an absolute
  * path into the working tree (fixture roots, generator outputs, a
  * doc link) silently reads and writes the wrong tree when the code
  * runs from any other clone. Paths under the checkout resolve from
  * the working directory instead (`TestFixtures.root`).
  */
class SourcePathLintSpec extends AnyFunSuite {

  test("no file under src/main names the checkout's absolute path") {
    val checkout = new File(".").getCanonicalFile
    val main = new File(checkout, "src/main")
    assert(main.isDirectory, s"run from the repository root, not $checkout")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk) else Seq(f)
    val needle = checkout.getPath
    val hits = for {
      f <- walk(main)
      (line, i) <- new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).split('\n').zipWithIndex
      if line.contains(needle)
    } yield s"${checkout.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"main code names the checkout ($needle):\n${hits.mkString("\n")}")
  }
}
