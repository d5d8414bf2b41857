package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session builder and the cache-hygiene sequence in
  * [[Harness]]: a new tool under src/main/scala that pastes either
  * instead of calling the harness fails here.
  */
class HarnessGuardSpec extends AnyFunSuite {

  private val Pasted = Seq("SparkSession.builder", "CacheRegistry.releaseAll(",
    "catalog.clearCache(", "getPersistentRDDs")

  /** (file, line number, code) for every non-comment source line. */
  private def codeLines: Seq[(Path, Int, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected the repo root as working dir, got ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.toSeq.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
    } yield (f, i + 1, code)
  }

  test("SparkSession.builder and the hygiene sequence appear only in Harness") {
    val hits = for {
      (f, n, code) <- codeLines if f.getFileName.toString != "Harness.scala"
      p <- Pasted if code.contains(p)
    } yield s"$f:$n pastes `$p` — call Harness.session/hygiene instead"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Harness holds each of them exactly once") {
    val harness = codeLines.filter(_._1.getFileName.toString == "Harness.scala").map(_._3)
    for (p <- Pasted) assert(harness.count(_.contains(p)) == 1, p)
  }
}
