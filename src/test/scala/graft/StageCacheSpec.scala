package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-JVM staged-frame cache: a build that stages another key (the BPE
  * merges read the staged word counts) must not trip
  * ConcurrentHashMap's "Recursive update" when both keys share a bin.
  */
class StageCacheSpec extends AnyFunSuite {

  test("a nested staging of a same-hash key builds both, once each") {
    // "Aa" and "BB" share a String hashCode, so the two keys share a bin.
    val (outer, inner) = ("Aa|stage-spec", "BB|stage-spec")
    assert(outer.hashCode == inner.hashCode)
    var builds = 0
    val d = Queries.stagedParquet(outer) { _ =>
      builds += 1
      Queries.stagedParquet(inner) { _ => builds += 1 }
    }
    assert(builds == 2)
    assert(Queries.stagedParquet(outer)(_ => builds += 1) == d)
    assert(builds == 2)
  }
}
