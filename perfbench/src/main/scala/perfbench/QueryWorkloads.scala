package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheRegistry, SparkEntry}

/** The query workload over one seeded sf0.1 table set, and the profile
  * its query list is picked from.
  */
object QueryWorkloads {

  /** query_cold: judged queries each run once, cold, in seeded order,
    * picked from a profile of all 371 judged queries over the judged
    * sf0.1 test tables on a 4-core host (`run.py --workload profile
    * --tables ...`; full sweep 412 s of query wall). Only queries whose
    * DuckDB oracle runs in well under a second and matches there are
    * eligible, so every run checks every result.
    *
    * Floor-dominated: wall under 1.5 s with codegen compile + driver gap
    * at least half of it, taken from the highest driver-gap shares. q237,
    * q285 and q307 are the ROADMAP's floor list entries that meet this on
    * 4 cores; its q289, q247, q304, q292 and q104 ran 1.56-2.37 s there.
    */
  val ColdFloor: Seq[String] = Seq(
    "q237_dict_advisor", "q285_mutual_information", "q307_blocking_quality", "q355_sql_udf",
    "q45_dedup_incremental", "q272_cohens_d", "q95_weighted_sample", "q356_avi_decode",
    "q142_media_features")

  /** Busy-dominated: a cold top-set query where Spark jobs take most of
    * the wall. q131 (PageRank, a 3.9 s oracle) does not fit a run's
    * budget; q370 returns 20 rows fewer than its oracle on generated
    * seeds 2 and 4, so it cannot be checked on every seed.
    */
  val ColdBusy: Seq[String] = Seq("q160_hybrid_rrf")

  def coldList: Seq[String] = ColdFloor ++ ColdBusy

  /** Untimed before query_cold: two judged queries outside the list
    * (scan + aggregate + broadcast join) load the engine's classes and
    * JIT-compile its common paths, so a listed query's time does not
    * depend on whether the seeded order put it first.
    */
  val ColdWarmUp: Seq[String] = Seq("q07_text_wordcount", "q02_join_broadcast")

  /** Bench's between-query hygiene, outside every timed region. */
  def hygiene(spark: SparkSession): Unit = {
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Generates the tables (timed as staging), unless `given` names
    * existing ones, and warms the engine the way Bench does, with one tiny
    * aggregate.
    */
  private def stage(spark: SparkSession, seed: Long, work: String, names: Set[String],
      res: Main.Result, given: Option[String] = None): String = {
    // Once: three table sets do not fit a run's time.
    val dir = given.getOrElse(
      res.stageRepeated(1, s"$work/tables")(Gen.tables(spark, seed, _, names))._1)
    res.tablesDir = dir
    val w0 = System.nanoTime()
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().collect()
    res.warmupS = (System.nanoTime() - w0) / 1e9
    dir
  }

  /** The tables `queries` read, plus the warm-up's. */
  private def tablesFor(queries: Seq[String]): Set[String] =
    queries.flatMap(q => Gen.tablesOf(SparkEntry.oracleSql.getOrElse(q, ""))).toSet + "region"

  /** Runs one query as `op` → `query.build` + `query.exec`; returns its
    * wall milliseconds and the frame it built.
    */
  private def timed(tr: Tracer, spark: SparkSession, dir: String, name: String)(
      exec: DataFrame => Unit): Double = {
    val t0 = System.nanoTime()
    tr.span("op") {
      val df = tr.span("query.build") {
        val b0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, dir)
        finally tr.add("queries.build_ns", System.nanoTime() - b0)
      }
      tr.span("query.exec") {
        val e0 = System.nanoTime()
        try exec(df)
        finally tr.add("queries.exec_ns", System.nanoTime() - e0)
      }
    }
    (System.nanoTime() - t0) / 1e6
  }

  def cold(spark: SparkSession, seed: Long, seconds: Double, work: String,
      tr: Tracer, res: Main.Result): Unit = {
    val dir = stage(spark, seed, work, tablesFor(coldList ++ ColdWarmUp), res)
    val w0 = System.nanoTime()
    ColdWarmUp.foreach { name =>
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      hygiene(spark)
    }
    res.warmupS += (System.nanoTime() - w0) / 1e9
    val order = new scala.util.Random(seed).shuffle(coldList)
    tr.startWindow()
    order.foreach { name =>
      hygiene(spark)
      res.attempted += 1
      try {
        val ms = timed(tr, spark, dir, name)(_.write.format("noop").mode("overwrite").save())
        res.latenciesMs += ms
        System.err.println(f"[perfbench] $name $ms%.0f ms")
        res.windowS += ms / 1000
        res.items += 1
        tr.sampleCache(spark)
        res.afterWindow {
          // The result the DuckDB oracle checks.
          hygiene(spark)
          val out = s"$work/out/$name"
          try {
            SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(out)
            res.oracle += name -> out
          } catch {
            case e: Throwable =>
              res.failed += 1
              res.check(s"$name result", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      } catch {
        case e: Throwable =>
          res.failed += 1
          res.check(s"$name runs", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    hygiene(spark)
    layers(tr, res)
  }

  private def layers(tr: Tracer, res: Main.Result): Unit = if (tr.on) {
    val ops = math.max(1L, res.attempted).toDouble
    res.layers("queries.build_ms") = tr.counter("queries.build_ns") / 1e6 / ops
    res.layers("queries.exec_ms") = tr.counter("queries.exec_ns") / 1e6 / ops
  }

  /** Every judged query once, cold, with its layer split: the profile
    * the query_cold strata are picked from, over the seed's generated
    * tables or over the existing `tables`. Writes `profile.tsv`, to which
    * the runner adds each query's DuckDB oracle time.
    */
  def profile(spark: SparkSession, seed: Long, work: String, tables: Option[String],
      res: Main.Result): Unit = {
    val dir = stage(spark, seed, work, Gen.TableRows.map(_._1).toSet, res, tables)
    val tr = new Tracer(true)
    tr.attach(spark)
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      hygiene(spark)
      val cg0 = Codegen.snap()
      val phases0 = Seq("analysis", "optimization", "planning").map(p => tr.counter(s"catalyst.${p}_ms"))
      val t0 = System.currentTimeMillis()
      val (ok, ms) =
        try (true, timed(tr, spark, dir, name)(_.write.format("noop").mode("overwrite").save()))
        catch { case _: Throwable => (false, (System.currentTimeMillis() - t0).toDouble) }
      Thread.sleep(100)
      val busy = tr.jobBusyMs(t0, System.currentTimeMillis())
      val cat = Seq("analysis", "optimization", "planning")
        .map(p => tr.counter(s"catalyst.${p}_ms")).zip(phases0).map { case (a, b) => a - b }.sum
      val compile = (Codegen.snap().compileNs - cg0.compileNs) / 1e6
      if (ok) {
        val out = s"$work/out/$name"
        try {
          SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(out)
          res.oracle += name -> out
        } catch { case _: Throwable => () }
      }
      f"$name\t$ok\t$ms%.1f\t$busy\t$cat\t$compile%.1f"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/profile.tsv"),
      ("query\tok\twall_ms\tjob_busy_ms\tcatalyst_ms\tcompile_ms\n" + lines.mkString("\n") + "\n")
        .getBytes("UTF-8"))
  }
}
