package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout line is a driver contract: key order, the `qv`
  * values-array layout and the `c10` dict layout must stay
  * byte-compatible. The golden line is what Bench printed at sf0.01
  * before its formatting moved into [[Bench.line]], with the `sf`
  * value shortened to the directory's name.
  */
class BenchLineSpec extends AnyFunSuite {

  private val Golden =
    """{"metric":"total","value":405.24,"unit":"sec","total_cold_adj":372.84,""" +
    """"cold_basis":"top25-cold-medians-since-r13","fails":1,"c10":{"q324":255,""" +
    """"q153":93,"q328":364,"q333":433,"q99":318,"q340":352,"q350":379,""" +
    """"q106":83,"q348":365,"q353":355},"qunit":"cs","nq":371,"qkeys":"ASCII-sorted qNN prefixes of SparkEntry.queries keys",""" +
    """"qv":[328,202,200,128,37,99,82,174,188,59,178,176,131,225,264,141,""" +
    """384,219,100,134,144,88,146,187,296,216,64,114,168,106,136,86,96,""" +
    """168,83,62,135,101,186,141,238,164,73,309,194,122,201,77,124,89,101,""" +
    """101,54,129,86,166,86,81,89,80,82,62,117,375,33,49,81,268,544,60,""" +
    """190,66,46,276,160,27,136,91,60,6,126,89,59,116,110,80,31,57,122,""" +
    """40,52,33,50,109,49,109,156,42,142,98,163,35,61,31,40,81,71,36,25,""" +
    """70,132,105,2,93,48,105,95,78,204,66,69,192,91,123,31,48,63,47,56,""" +
    """92,51,111,51,211,57,46,50,104,104,87,59,38,31,74,109,54,35,64,36,""" +
    """45,31,90,23,96,65,51,66,78,97,127,111,63,34,67,34,41,67,49,94,122,""" +
    """102,125,55,46,102,120,43,125,66,83,113,51,62,51,75,212,95,52,81,""" +
    """81,77,99,68,96,74,78,193,71,110,29,59,25,108,43,43,79,44,43,103,""" +
    """98,53,78,142,125,146,81,78,245,78,45,161,182,87,112,68,40,57,65,""" +
    """144,44,100,178,146,110,248,207,75,196,170,129,54,66,37,143,172,151,""" +
    """74,143,17,16,16,41,17,14,75,26,616,170,189,237,512,74,43,130,62,""" +
    """94,423,80,46,149,106,37,54,135,393,205,291,252,259,240,19,251,381,""" +
    """231,243,392,364,310,377,60,63,28,62,355,165,46,90,53,226,90,135,""" +
    """77,90,150,54,91,77,220,203,69,56,110,31,50,58,63,44,45,45,72,68,""" +
    """71,76,64,76,93,31,48,34,52,57,78,88,63,84,43,117,49,63,39,41,58,""" +
    """62,46,45,82,77,118,63,70,76,78,147,131,62,62,42,69,60,61,42,48,141,""" +
    """51,77,111,36,138,75,83,395],"sf":"sf0.01"}"""

  test("Bench.line reproduces the recorded line byte for byte") {
    val qv = """"qv":\[([0-9,]*)\]""".r.findFirstMatchIn(Golden).get.group(1)
      .split(",").map(_.toLong)
    val c10 = """"c10":\{([^}]*)\}""".r.findFirstMatchIn(Golden).get.group(1)
      .split(",").map(_.split(":")).map(kv => kv(0).replace("\"", "") -> kv(1).toLong)
    // qv aligns with the ASCII-sorted short names; Bench hands the
    // sweep over in full-name order, which sorts differently
    // ("q10_x" < "q1_x" but "q1" < "q10").
    val shorts = (1 to qv.length).map(i => s"q$i").sorted
    val sweep = shorts.zip(qv).map { case (k, cs) => s"${k}_x" -> cs / 100.0 }.sortBy(_._1)
    // The cold set holds 25 entries; only the first 10 are serialized.
    val cold = c10.toSeq.map { case (k, cs) => s"${k}_x" -> cs / 100.0 } ++
      (1 to 15).map(i => s"q${1000 + i}_x" -> 9.99)
    assert(Bench.line(405.24, 372.84, 1, cold, sweep, "sf0.01") == Golden)
  }

  test("a name without a qNN prefix keeps its full name as key") {
    val out = Bench.line(1.0, 1.0, 0, Seq("smoke" -> 0.5), Seq("smoke" -> 0.5), "d")
    assert(out.contains(""""c10":{"smoke":50}"""))
    assert(out.endsWith(""""nq":1,"qkeys":"ASCII-sorted qNN prefixes of SparkEntry.queries keys","qv":[50],"sf":"d"}"""))
  }
}
