package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session builder and the cache-hygiene sequence in
  * [[Harness]], stream starts and session conf windows in `StreamJob`,
  * and the LSH band-key expressions in `Dedup`'s band builders: a new
  * tool under src/main/scala that pastes one instead of calling them
  * fails here.
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

  /** A stream's checkpoint and trigger, and a conf window's restore of
    * an absent key: the tokens of a hand-rolled stream start or
    * lock-and-restore block.
    */
  private val StreamStart = Seq("\"checkpointLocation\"", ".trigger(", "conf.unset(")

  test("streams start and session confs are windowed only in StreamJob, each exactly once") {
    def inStreamJob(f: Path) = f.getFileName.toString == "StreamJob.scala"
    val hits = for {
      (f, n, code) <- codeLines if !inStreamJob(f)
      p <- StreamStart if code.contains(p)
    } yield s"$f:$n hand-rolls `$p` — start through StreamJob.startStream/drain or use StreamJob.withConf"
    assert(hits.isEmpty, hits.mkString("\n"))
    val streamJob = codeLines.filter(l => inStreamJob(l._1)).map(_._3)
    for (p <- StreamStart) assert(streamJob.count(_.contains(p)) == 1, p)
  }

  /** Each LSH band-key expression, by the file that defines it: a
    * second call site is a second hand-built band index.
    */
  private val BandKeys = Seq("minhashHashed(" -> "MinHashExpression.scala",
    "lshBandKeys(" -> "TextFunctions.scala", "lshBucketKeys(" -> "VectorExpressions.scala")

  test("each LSH band-key expression is built on exactly one code line") {
    for ((p, home) <- BandKeys) {
      val sites = codeLines.filter(l => l._1.getFileName.toString != home && l._3.contains(p))
      assert(sites.size == 1,
        s"`$p` on ${sites.size} lines, expected one band builder:\n" +
          sites.map(l => s"${l._1}:${l._2}").mkString("\n"))
    }
  }
}
