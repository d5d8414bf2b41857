package graft

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** Concurrent-query SERVING bench — the multi-tenant axis beside
  * [[IngestBench]]'s ingest axis: N independent runners share ONE warm
  * SparkContext, each on its own cloned session (the serving shape of
  * a long-lived analytics service — staged frames on disk, session
  * caches scoped per query) and each drives a representative query
  * MIX; the report is aggregate queries/sec at each runner count and
  * where it stops scaling (the knee).
  *
  * Isolation is exactly the contract the engine was built for:
  *   - each runner gets its OWN `spark.newSession()` — the Thrift-
  *     server shape: one cloned session per connection, so session
  *     confs (stream-start partitions + RocksDB provider, q337's
  *     bloom dials, q358's scripting toggle) and temp views are
  *     tenant-local and one tenant's conf window can never skew a
  *     sibling's plan; per-session `Queries.sessionConfLock(s)` stays as the
  *     same-session belt (Round13OpsSpec's shared-session test);
  *   - each runner submits its jobs into its OWN scheduler pool
  *     (`spark.scheduler.pool = runner-i`) under FAIR mode — pools
  *     share the cluster fairly, so a long graph fixpoint cannot
  *     starve a sibling's point query (FAIR mode with every thread in
  *     the single default pool would be de-facto FIFO: intra-pool
  *     scheduling is FIFO unless an allocation file says otherwise);
  *   - every query executes inside [[CacheRegistry.withScope]], so its
  *     tracked persists release on completion without touching a
  *     sibling's cached frames (Round13OpsSpec pins the parity);
  *   - per-dataset staged frames (`stagedParquet`) build once behind
  *     computeIfAbsent and are plain parquet reads afterwards.
  *
  * CORRECTNESS UNDER CONCURRENCY is asserted inline, not assumed: the
  * warm-up pass records a canonical fingerprint (MD5 over the sorted
  * stringified rows) for every mix query, and every concurrent
  * execution re-fingerprints its result — any divergence (a scope leak,
  * a conf race, a shared temp-view collision) fails the bench with the
  * query name and runner id. A clean run IS the generalized parity
  * proof over the full mix.
  *
  * The mix spans the engine's pillars so the knee reflects real tenant
  * diversity, not one query's profile: scan-agg, shuffle join, window
  * ranking, text tokenize, LSH-dedup consumer, two graph fixpoints, and
  * a real RocksDB streaming drain. Runners rotate their starting offset
  * so the mix never runs in lockstep.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.QueryBench"           # runners axis 1,4,8,16
  * SPARK_GRAFT_RUNNERS=1,2,4,8,16,24 overrides the axis. Prints one
  * JSON line; results trend in dev/PERF_LEDGER.md.
  */
object QueryBench {

  /** The serving mix — one representative per engine pillar. */
  val Mix: Seq[String] = Seq(
    "q01_agg_pricing",          // scan + partial/final hash agg
    "q03_join_fact",            // shuffle equi-join
    "q04_window_rank",          // window ranking
    "q07_text_wordcount",       // tokenize + wordcount
    "q23_dedup_minhash",        // MinHash-LSH pair consumer (staged)
    "q153_triangle_count",      // graph: triangle count (staged edges)
    "q201_hits",                // graph fixpoint (staged bipartite)
    "q324_sessions_tws_stream") // streaming drain (RocksDB tws)

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    // Default axis brackets the measured knee (~16-24, PERF_LEDGER).
    val runnerCounts = sys.env.getOrElse("SPARK_GRAFT_RUNNERS", "1,8,16,24")
      .split(",").map(_.trim.toInt).toSeq
    // FAIR scheduling: the multi-tenant pool shape — a long graph
    // fixpoint must not starve a sibling's point query, which is the
    // first thing FIFO does under concurrent submitters.
    val spark = Harness.session("spark.scheduler.mode" -> "FAIR")

    /** Execute one mix query on the given (per-tenant) session in its
      * own cache scope; returns the result fingerprint. collect() is
      * safe: every mix member is a judged query whose output frame is
      * bounded (the correctness gate dumps them whole).
      */
    def exec(sess: SparkSession, name: String): String = CacheRegistry.withScope {
      val rows = Queries.all(name)(sess, sfDir).collect()
      md5(rows.map(_.toString).sorted.mkString("\n"))
    }

    // Warm-up + canonical fingerprints: one serial pass (pays JVM
    // warm-up, codegen, and the per-dir staged-frame builds — exactly
    // the warm-engine serving state the axis should measure).
    val canonical: Map[String, String] =
      Mix.map(n => n -> exec(spark, n)).toMap
    System.err.println(s"QUERYBENCH warmup done (${Mix.size} queries)")

    /** One axis point: wall seconds, every individual query latency
      * (end-to-end, INCLUDING any admission wait — the latency a
      * tenant experiences), post-admission execution latencies, and
      * each tenant's total wall (the fairness readout).
      */
    case class AxisRun(wall: Double, latencies: Vector[Double],
        execLats: Vector[Double], tenantWalls: Vector[Double])

    // ADMISSION GATE (round-11 ledger follow-through: p95 tripled and
    // fairness hit 1.49x at 24 ungated tenants; the ledger recommended
    // capping admission near 8-16 but nothing ENFORCED it). A FAIR
    // java Semaphore bounds how many queries EXECUTE simultaneously —
    // arrivals past the cap queue in strict arrival order (the
    // fairness mechanism: a burst cannot starve an earlier tenant),
    // and each admitted query still runs in its tenant's own FAIR
    // scheduler pool, so the gate composes with — never replaces —
    // pool-level sharing. Conf-set via SPARK_GRAFT_ADMIT (queries
    // admitted concurrently; 0 disables). On a real cluster this is
    // the coordinator's admission-control slot count; here it bounds
    // driver-side concurrent job submission into the shared context.
    val admitCap = sys.env.getOrElse("SPARK_GRAFT_ADMIT", "12").toInt

    /** N concurrent runners — each on its own cloned session and its
      * own FAIR scheduler pool — running the full mix once (rotated
      * start offset); asserts every result against the canonical
      * fingerprint. Records per-query latencies and per-tenant walls:
      * a serving story is not just aggregate q/s — a tenant cares
      * about ITS p95 and whether a noisy sibling can starve it.
      * `gated` routes every execution through the admission semaphore.
      */
    def run(n: Int, gated: Boolean = false): AxisRun = {
      val admit = if (gated && admitCap > 0)
        Some(new java.util.concurrent.Semaphore(admitCap, true)) else None
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
      val eLats = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
      val tWalls = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
      val t0 = System.nanoTime()
      val threads = (0 until n).map { i =>
        val th = new Thread(() =>
          try {
            // Per-tenant session; pool is a thread-local property, so
            // it is set inside the runner thread itself.
            val sess = spark.newSession()
            sess.sparkContext.setLocalProperty("spark.scheduler.pool", s"runner-$i")
            val tt0 = System.nanoTime()
            Mix.indices.foreach { j =>
              val name = Mix((i + j) % Mix.size)
              val q0 = System.nanoTime()
              admit.foreach(_.acquire())
              val e0 = System.nanoTime()
              val fp =
                try exec(sess, name)
                finally admit.foreach(_.release())
              val q1 = System.nanoTime()
              lats.add((q1 - q0) / 1e9)
              eLats.add((q1 - e0) / 1e9)
              require(fp == canonical(name),
                s"runner $i: $name diverged under concurrency " +
                  s"(got $fp, canonical ${canonical(name)}) — isolation bug")
            }
            tWalls.add((System.nanoTime() - tt0) / 1e9)
          } catch { case e: Throwable => errs.add(e) },
          s"graft-serve-$i")
        th.start(); th
      }
      threads.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      import scala.jdk.CollectionConverters._
      AxisRun((System.nanoTime() - t0) / 1e9,
        lats.asScala.map(_.doubleValue).toVector,
        eLats.asScala.map(_.doubleValue).toVector,
        tWalls.asScala.map(_.doubleValue).toVector)
    }

    /** Nearest-rank percentile over query latencies. */
    def pct(xs: Vector[Double], q: Double): Double = {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

    // Per-N reps, best wall kept: a serving benchmark reports achievable
    // throughput, and the first rep after a phase shift (fresh FAIR
    // pools, first streaming drain of the axis) can carry one-off init
    // that the steady state never pays. Each rep is still fully
    // parity-checked.
    val reps = sys.env.getOrElse("SPARK_GRAFT_QB_REPS", "2").toInt
    def axisPoint(n: Int, gated: Boolean): (AxisRun, Double) = {
      val tag = if (gated) s"r$n/gate$admitCap" else s"r$n"
      val best = (1 to reps).map { r =>
        val a = run(n, gated)
        System.err.println(
          f"QUERYBENCH $tag rep$r wall=${a.wall}%.1fs qps=${n * Mix.size / a.wall}%.3f " +
            f"p50=${pct(a.latencies, 0.5)}%.2fs p95=${pct(a.latencies, 0.95)}%.2fs " +
            f"p95exec=${pct(a.execLats, 0.95)}%.2fs " +
            f"fair=${a.tenantWalls.max / a.tenantWalls.min}%.2f")
        a
      }.minBy(_.wall)
      val qps = n * Mix.size / best.wall
      System.err.println(f"QUERYBENCH $tag best wall=${best.wall}%.1fs qps=$qps%.3f")
      (best, qps)
    }
    val runs = runnerCounts.map { n =>
      val (best, qps) = axisPoint(n, gated = false)
      (n, best, qps)
    }
    // Gate on/off comparison where the gate can bind (n > cap): the
    // axis point re-runs with admission capped, so the artifact
    // carries the enforcement curve, not just the recommendation.
    val gatedRuns = if (admitCap > 0) runnerCounts.filter(_ > admitCap).map { n =>
      val (best, qps) = axisPoint(n, gated = true)
      (n, best, qps)
    } else Seq.empty
    // Headline `value` is ALWAYS the 1-runner q/s (IngestBench's rule:
    // the trended metric means the same thing whatever the axis says).
    val qps1 = runs.find(_._1 == 1).map(_._3)
      .getOrElse(Mix.size / run(1).wall)
    val axis = runs.map { case (n, _, qps) =>
      s""""r$n":${"%.3f".format(qps)}""" }.mkString(",")
    // Per-tenant latency percentiles + fairness (max/min tenant wall)
    // per axis point, from the best rep: the SLO numbers a tenant
    // actually experiences at each concurrency.
    def latJson(entries: Seq[(Int, AxisRun, Double)]): String =
      entries.map { case (n, best, qps) =>
        s""""r$n":{"qps":${"%.3f".format(qps)},""" +
          s""""p50":${"%.2f".format(pct(best.latencies, 0.5))},""" +
          s""""p95":${"%.2f".format(pct(best.latencies, 0.95))},""" +
          s""""p95_exec":${"%.2f".format(pct(best.execLats, 0.95))},""" +
          s""""fairness":${"%.2f".format(best.tenantWalls.max / best.tenantWalls.min)}}"""
      }.mkString(",")
    val lat = runs.map { case (n, best, _) =>
      s""""r$n":{"p50":${"%.2f".format(pct(best.latencies, 0.5))},""" +
        s""""p95":${"%.2f".format(pct(best.latencies, 0.95))},""" +
        s""""fairness":${"%.2f".format(best.tenantWalls.max / best.tenantWalls.min)}}"""
    }.mkString(",")
    val gated = latJson(gatedRuns)
    println(f"""{"metric":"query_serve_qps","value":$qps1%.3f,"value_runners":1,"unit":"q/s","runners":{$axis},"latency":{$lat},"admit":$admitCap,"latency_gated":{$gated},"mix":${Mix.size},"parity":"ok","sf":"$sfDir"}""")
    spark.stop()
  }
}
