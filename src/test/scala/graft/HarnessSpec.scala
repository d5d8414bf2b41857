package graft

/** The shared driver harness: hygiene must leave no cache behind, and a
  * cold run must report what the profilers print from it.
  */
class HarnessSpec extends SparkSpec {

  // Keeps two CacheRegistry persists (r14's grain rule kept both).
  private val q = "q325_ngram_perplexity"

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("hygiene releases every cache a CacheRegistry-persisting query left") {
    SparkEntry.queries(q)(spark, sf()).write.format("noop").mode("overwrite").save()
    assert(CacheRegistry.outstanding > 0, "precondition: the query persists through CacheRegistry")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.hygiene(spark)
    assert(CacheRegistry.outstanding == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cacheManagerEmpty)
  }

  test("cold reports jobs, busy within wall, and the query's cache bytes") {
    val run = Harness.cold(spark, q, sf()).orThrow
    assert(run.jobs.nonEmpty)
    assert(run.jobs.forall(_.endMs >= 0), "the drained bus delivered every job end")
    assert(run.jobs.forall(_.site != "?"), "every job names its callsite")
    assert(run.busy > 0 && run.busy <= run.wall)
    assert(run.gap >= 0)
    assert(run.cacheMem + run.cacheDisk > 0 && run.nCached > 0)
    Harness.hygiene(spark)
  }

  test("cold returns a failure with its time-to-failure instead of throwing") {
    val run = Harness.cold(spark, "q_no_such_query", sf())
    assert(run.error.exists(_.isInstanceOf[NoSuchElementException]))
    assert(run.wall >= 0 && run.jobs.isEmpty)
    assertThrows[NoSuchElementException](run.orThrow)
  }
}
