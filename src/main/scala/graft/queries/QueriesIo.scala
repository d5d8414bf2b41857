package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheRegistry.TrackedPersist

import graft.operators.{Compaction, PrefixSum}
import graft.sources.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.streaming.StreamJob

/** Query family: sources, sinks, storage layout and table-maintenance — DSv2 legs, round-trips, compaction/Z-order/bucketing, pruning, advisors, contracts.
  * Split from the monolithic Queries.scala (round 13) with def
  * bodies and oracle SQL byte-verbatim; surfaced unchanged via
  * [[Queries.all]] / [[Queries.oracle]]. */
private[graft] trait QueriesIo { this: Queries.type =>

  /** The reference's computational core (S2→S6: JSON decode → validate
    * → coerce) run at benchmark scale: events re-serialized to JSON
    * payloads (simulating Kafka values; µs timestampFormat so the
    * round-trip is lossless) and pushed through the full pipeline. All
    * rows are clean → the oracle is the identity projection, verifying
    * every coercion branch preserves values exactly. This is the
    * throughput-comparable analogue of the reference's 25k-msg batches.
    */
  def q35_ingest_pipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Pipeline
    val events = Tables.events(s, dir)
    // The test parquet is one row group → a 1-partition scan; without
    // this the whole decode→validate→coerce pipeline runs on ONE core
    // (a Kafka source would arrive partitioned, so this shuffle stands
    // in for the source's natural parallelism).
    // persistTracked is an optimizer barrier (r13 optimization): without
    // it PushDownPredicate inlines the pipeline's tombstone filter —
    // with the to_json DUPLICATED into both conjuncts — BELOW this
    // repartition, so the whole table was JSON-serialized twice on the
    // single-partition scan and a third time above the exchange
    // (measured in the committed before-plan: Filter(4) carries two
    // StructsToJsonEvaluator invocations under the scan). With the
    // barrier to_json runs once, parallel, post-repartition.
    val asJson = events.repartition(s.sparkContext.defaultParallelism)
      .select(
        to_json(
          struct(events.columns.map(col): _*),
          java.util.Map.of("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as(Pipeline.ValueCol))
      .persistTracked()
    Pipeline.process(asJson, Tables.eventsMetas(events), Tables.eventsIngestCfg).valid
      .orderBy("event_id")
  }

  /** Weighted mixture sampling — hit per-source quotas when composing
    * a training mix (web-heavy, curated-light, …). Deterministic: each
    * source's picks are its quota-first docs in multiplicative-hash
    * order (q41's RNG-free machinery), quotas ride a broadcast
    * dimension join. One shuffle on the stratum key. Broadcast bound
    * at 100 TB: the quota table is one row per SOURCE — training
    * mixtures name dozens to a few hundred sources regardless of
    * corpus bytes, orders of magnitude under any broadcast threshold;
    * corpus rows never enter the broadcast side.
    */
  def q62_source_mix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quotas = (0 until 20)
      .map(i => (s"src$i", if (i < 5) 20 else if (i < 10) 10 else 5))
      .toDF("source", "quota")
    val h = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
    val w = Window.partitionBy(col("source")).orderBy(h.asc, col("doc_id").asc)
    t(s, dir, "documents")
      .select("doc_id", "source")
      .join(broadcast(quotas), Seq("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("quota"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_picked"), min("doc_id").as("first_pick"))
      .orderBy("source")
  }

  /** SCD2 dimension build from a change log: each (user, event) row
    * becomes a validity interval [ts, next-ts) via lead() — the
    * slowly-changing-dimension primitive a warehouse load runs per
    * batch. One shuffle on the entity key; open intervals close at
    * Long.MaxValue so `is_current` is derivable without a second pass.
    * Ties on (user, ts) are totally ordered by event_id, making the
    * interval chain deterministic in both engines.
    */
  def q73_scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(w))
      .select(
        col("user_id"), col("event_id"),
        col("ts_us").as("valid_from_us"),
        coalesce(col("next_us"), lit(Long.MaxValue)).as("valid_to_us"),
        col("next_us").isNull.cast("int").as("is_current"))
      .orderBy("user_id", "valid_from_us", "event_id")
  }

  /** CSV wire-format ingest — the S2 decode stage for a second format:
    * rows re-serialized as CSV lines, parsed back with `from_csv`
    * (codegen'd UniVocity parser, no UDF), then checksum-aggregated.
    * The oracle aggregates the ORIGINAL parquet values, so the hash
    * match proves the serialize→parse round trip is lossless for
    * longs, doubles, and µs timestamps. Same repartition rationale as
    * q35: a real wire source arrives pre-partitioned.
    */
  def q79_csv_ingest(s: SparkSession, dir: String): DataFrame = {
    val lines = tWide(s, dir, "events").select(concat_ws(",",
      col("event_id"), unix_micros(col("ts")), col("user_id"),
      col("event_type"), col("value").cast("string")).as("line"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    lines
      .select(from_csv(col("line"), schema, Map.empty[String, String]).as("r"))
      .select(col("r.*"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        sum("event_id").as("sum_ids"),
        max("ts_us").as("max_ts_us"))
      .orderBy("event_type")
  }

  /** Z-order layout clustering (operators/ZOrder): orders bucketed on
    * (custkey mod 256, orderdate-day mod 256), z-interleaved, grouped
    * into 64-z-value tiles. Each tile's min/max per dimension shows the
    * 8×8 locality bound that makes footer-stats pruning work on BOTH
    * columns after a z-sorted write. Pure bit-arithmetic projection +
    * one hash agg.
    */
  def q84_zorder_layout(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    val x = pmod(col("o_custkey"), lit(256L))
    // o_orderdate is TIMESTAMP_NTZ midnight; its epoch-day number is
    // datediff from 1970-01-01 — matches the oracle's epoch_us // 86400e6.
    val y = pmod(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"), lit(256L))
    t(s, dir, "orders")
      .select(x.as("x"), y.as("y"))
      .withColumn("tile", shiftright(ZOrder.zvalue(col("x"), col("y")), 6))
      .groupBy("tile")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("tile")
  }

  /** CDC merge/upsert (MERGE INTO semantics on plain parquet): a
    * deterministic change batch (keys ≡0 mod 3: deletes where ≡0 mod
    * 5, else updates at price+10) applied to a base snapshot (keys ≢0
    * mod 7) in ONE full-outer join pass — updates overwrite, inserts
    * append, deletes drop, untouched rows carry over. Output is the
    * merged snapshot's per-priority checksum. At scale both sides
    * co-partition on the merge key; AQE handles the skew.
    */
  def q88_merge_upsert(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val base = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      .select(col("o_orderkey").as("b_key"), col("o_orderpriority").as("b_pri"),
        col("o_totalprice").as("b_price"))
    val changes = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey").as("c_key"), col("o_orderpriority").as("c_pri"),
        (col("o_totalprice") + 10).as("c_price"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, "D").otherwise("U").as("op"))
    base.join(changes, col("b_key") === col("c_key"), "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "D")
      .select(coalesce(col("b_pri"), col("c_pri")).as("pri"),
        when(col("op") === "U", col("c_price")).otherwise(col("b_price")).as("price"))
      .groupBy("pri")
      .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total"))
      .orderBy("pri")
  }

  /** ORC source/sink round-trip: a typed projection (int64 / decimal-
    * valued double / string / TIMESTAMP_NTZ) written as ORC and read
    * back, with the aggregate computed from the re-read copy. The
    * oracle aggregates the ORIGINAL parquet — equality proves the
    * format conversion is lossless, the way a 100 TB estate mixes
    * formats across teams. Columnar ORC keeps the same pushdown/
    * pruning properties as parquet.
    */
  def q96_orc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_orc_roundtrip")
    t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"),
        sum("o_orderkey").as("key_sum"),
        max(datediff(col("o_orderdate"), lit("1970-01-01"))).cast("long").as("max_day"))
      .orderBy("o_orderstatus")
  }

  /** Snapshot diff: classify every key across two table versions as
    * added / removed / changed / unchanged in ONE full-outer pass —
    * the audit step between snapshot publishes (and the read-side
    * complement of q88's merge). Change detection on the carried
    * value; both sides co-partition on the key at scale.
    */
  def q98_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val old = orders.filter(pmod(col("o_orderkey"), lit(11)) =!= 0)
      .select(col("o_orderkey").as("okey"), col("o_totalprice").as("oprice"))
    val neu = orders.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .select(col("o_orderkey").as("nkey"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + 5)
          .otherwise(col("o_totalprice")).as("nprice"))
    old.join(neu, col("okey") === col("nkey"), "full_outer")
      .select(
        when(col("okey").isNull, "added")
          .when(col("nkey").isNull, "removed")
          .when(col("oprice") =!= col("nprice"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("nprice"), col("oprice")).as("price"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total"))
      .orderBy("status")
  }

  /** JSON-lines file source/sink round-trip — the third wire format
    * after CSV (q79) and ORC (q96): events dumped as JSON-lines,
    * re-read with an explicit schema (no sampling-based inference
    * pass — at 100 TB schema inference is a full extra scan), then
    * checksum-aggregated against the ORIGINAL parquet values. Doubles
    * survive because Spark writes shortest round-trip representations.
    */
  def q119_json_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_json_roundtrip")
    t(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").json(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    s.read.schema(schema).json(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_ids"),
        round(sum("value"), 2).as("sum_value"), max("ts_us").as("max_ts_us"))
      .orderBy("event_type")
  }

  /** Join-key skew diagnostics — the pre-flight check before choosing
    * q37's salting factor: per-key count distribution collapsed to a
    * one-row signature (key count, total, max, mean×100, skew×100 =
    * max/mean — all exact-integer arithmetic). Two partial+final
    * aggs; nothing wide ever leaves the executors.
    */
  def q123_skew_diagnostics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"), sum("n").as("total_rows"),
        max("n").as("max_n"), min("n").as("min_n"))
      .select(col("n_keys"), col("total_rows"), col("max_n"), col("min_n"),
        floor(col("total_rows") * 100 / col("n_keys")).as("mean_x100"),
        floor(col("max_n") * 100 * col("n_keys") / col("total_rows"))
          .as("skew_x100"))

  /** Referential-integrity audit (FK orphan scan): for each fact→dim
    * edge, how many distinct fact keys have no parent. One left join
    * per edge on the distinct fact keys (dims' key columns only —
    * pruned scans), unmatched rows counted by null flag, unioned into
    * a per-edge report. The data-quality gate a warehouse runs after
    * every load; zero orphans is the healthy result, and n_keys
    * proves the check actually scanned.
    */
  def q124_fk_audit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def audit(fk: String, dim: DataFrame, pk: String, label: String) =
      li.select(col(fk).as("k")).distinct()
        .join(dim.select(col(pk).as("k"), lit(1).as("hit")), Seq("k"), "left")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("hit").isNull, 1).otherwise(0)).as("n_orphans"))
        .select(lit(label).as("fk"), col("n_keys"), col("n_orphans"))
    audit("l_orderkey", t(s, dir, "orders"), "o_orderkey", "lineitem.orderkey")
      .unionByName(audit("l_partkey", t(s, dir, "part"), "p_partkey", "lineitem.partkey"))
      .unionByName(audit("l_suppkey", t(s, dir, "supplier"), "s_suppkey", "lineitem.suppkey"))
      .orderBy("fk")
  }

  /** Partition-pruned layout round-trip: events written
    * date-partitioned (the layout a 100 TB event store actually has),
    * re-read with a date predicate that must prune to 7 of 30
    * directories via PartitionFilters — never touching the other 23
    * files' bytes — then aggregated. The oracle aggregates the ORIGINAL
    * parquet under the equivalent timestamp predicate, so pruning
    * correctness (no lost or phantom rows at the day boundaries) is
    * what's being hash-checked.
    */
  def q128_partitioned_prune(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_part_prune")
    t(s, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    s.read.parquet(out)
      .filter(col("event_date") >= lit("2024-01-05")
        && col("event_date") <= lit("2024-01-11"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_ids"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** XML source/sink round-trip — the fourth wire format after CSV
    * (q79), ORC (q96), and JSON-lines (q119), using Spark 4's built-in
    * XML data source. Read back with an explicit schema (inference
    * would be an extra full scan at 100 TB) and checksum-aggregated
    * against the ORIGINAL parquet values; timestamps travel as integer
    * microseconds so no text datetime format is load-bearing.
    */
  def q133_xml_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_xml_roundtrip")
    t(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").format("xml").option("rowTag", "event").save(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    s.read.format("xml").option("rowTag", "event").schema(schema).load(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_ids"),
        round(sum("value"), 2).as("sum_value"), min("ts_us").as("min_ts_us"),
        max("ts_us").as("max_ts_us"))
      .orderBy("event_type")
  }

  /** Bitmap-index distinct rollup (ClickHouse groupBitmap / roaring
    * pattern): user ids pack 32 per BIGINT word (word = id div 32, one
    * bit per id — see the inline note for why not 64), per-(segment,
    * word) bitmaps OR-merge in a hash agg, and EXACT distinct counts
    * fall out of popcount — 8 bytes per 32 users per segment, no
    * per-user rows past the first shuffle. The
    * '(all)' row re-merges the per-type bitmaps WITHOUT rescanning
    * events — the same partials answer any segment combination, the
    * bitmap analogue of q132's HLL merge but exact.
    */
  def q134_bitmap_distinct(s: SparkSession, dir: String): DataFrame = {
    val masks = t(s, dir, "events").select(
      col("event_type"),
      // 32-bit words inside BIGINT lanes: bit 63 is unreachable, so
      // neither engine can hit signed-shift overflow (DuckDB errors on
      // 1<<63 where Java wraps — 32-bit packing sidesteps the
      // divergence at the cost of 2× the words, still 8 bytes/32 users).
      expr("user_id div 32").as("word"),
      expr("shiftleft(1L, cast(user_id % 32 AS int))").as("m"))
    val perTypeWord = masks.groupBy("event_type", "word")
      .agg(bit_or(col("m")).as("bm"))
    val perType = perTypeWord.groupBy("event_type")
      .agg(sum(bit_count(col("bm"))).as("n_users"))
    val overall = perTypeWord.groupBy("word").agg(bit_or(col("bm")).as("bm"))
      .agg(sum(bit_count(col("bm"))).as("n_users"))
      .select(lit("(all)").as("event_type"), col("n_users"))
    perType.unionByName(overall).orderBy("event_type")
  }

  /** Schema-evolution union (the ingest reality the reference's drift
    * retry hints at, S10): a v1 batch lacking columns later added
    * unions with a v2 batch via unionByName(allowMissingColumns) —
    * absent columns null-fill and default-coalesce, exactly how a
    * 100 TB lake reads a table whose schema grew mid-history. No
    * shuffle beyond the final agg; the union is a zero-cost plan node.
    */
  def q136_schema_evolution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val v1 = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("value"))
    val v2 = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
    v1.unionByName(v2, allowMissingColumns = true)
      .select(col("event_id"), col("user_id"), col("value"),
        coalesce(col("event_type"), lit("unknown")).as("event_type"),
        coalesce(col("ts_us"), lit(0L)).as("ts_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_ids"),
        round(sum("value"), 2).as("sum_value"), max("ts_us").as("max_ts_us"))
      .orderBy("event_type")
  }

  /** Bitmap set algebra across segments: the per-(type, word) bitmap
    * partials q134 builds answer ANY audience-overlap question with
    * bit ops — here the full pairwise overlap matrix (users doing both
    * A and B) via popcount(bm_a AND bm_b), without ever rescanning
    * events. This is why warehouses store bitmap partials: one scan,
    * every combination. Join fan-out is |types|² · |words| tiny rows.
    */
  def q140_bitmap_intersect(s: SparkSession, dir: String): DataFrame = {
    val ptw = t(s, dir, "events").select(
      col("event_type"),
      expr("user_id div 32").as("word"),
      expr("shiftleft(1L, cast(user_id % 32 AS int))").as("m"))
      .groupBy("event_type", "word")
      .agg(bit_or(col("m")).as("bm"))
    val a = ptw.select(col("event_type").as("type_a"), col("word"), col("bm").as("bma"))
    val b = ptw.select(col("event_type").as("type_b"), col("word"), col("bm").as("bmb"))
    a.join(b, Seq("word"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(sum(bit_count(col("bma").bitwiseAND(col("bmb")))).as("n_both"),
        sum(bit_count(col("bma").bitwiseOR(col("bmb")))).as("n_either"))
      .orderBy("type_a", "type_b")
  }

  /** The custom DataSource V2 (sources/SeqSource.scala) driven through
    * its whole read path: the `id` range predicate is PUSHED into the
    * source (ScanBuilder narrows the planned bounds to [50000,150000)
    * before partitions exist — explain shows `bounds=` + `pushed=`),
    * and only the generated columns the query needs are materialized
    * (`pruneColumns`). The table is a deterministic integer sequence
    * with arithmetic-derived columns, so DuckDB `range()` reproduces
    * it exactly — the oracle checks generation, pushdown, pruning and
    * the aggregation in one go. `dir` is unused: the source generates.
    */
  def q148_dsv2_source(s: SparkSession, dir: String): DataFrame = {
    val seq = s.read.format("graft.sources.SeqSource")
      .option("start", 0L).option("end", 200000L).option("slices", 32)
      .load()
    seq.filter(col("id") >= 50000L && col("id") < 150000L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        countDistinct(col("word")).as("words"))
      .filter(col("bucket") < 10)
      .orderBy("bucket")
  }

  /** Small-files compaction (operators/Compaction.scala): orders is
    * first shattered into 64 micro-batch-sized files (the layout a
    * per-epoch streaming sink accretes), then compacted into
    * size-targeted, range-clustered, within-file-sorted files. The
    * judged aggregate runs on the COMPACTED copy while the oracle
    * reads the ORIGINAL table — hash equality is the losslessness
    * proof; CompactionSpec covers the layout arithmetic.
    */
  def q149_compaction(s: SparkSession, dir: String): DataFrame = {
    val frag = scratch("graft_compact_in")
    val out = scratch("graft_compact_out")
    t(s, dir, "orders").repartition(64).write.mode("overwrite").parquet(frag)
    Compaction.compact(s, frag, out, targetFileBytes = 1L << 20,
      sortCols = Seq("o_orderdate", "o_orderkey"))
    s.read.parquet(out)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"),
        sum("o_orderkey").as("key_sum"),
        max(datediff(col("o_orderdate"), lit("1970-01-01"))).cast("long").as("max_day"))
      .orderBy("o_orderpriority")
  }

  /** The BucketingSpec zero-exchange join as a JUDGED query: both
    * sides are written bucketed+sorted by the join key (8 buckets,
    * external tables under the per-JVM scratch dir), then sort-merge
    * joined with broadcast disabled via the merge hint — the join
    * plans NO exchange on the key because the bucket layout already
    * co-locates it (PlanSpec asserts this). At 100 TB this is the
    * canonical co-location strategy: pay the shuffle ONCE at layout
    * time, join shuffle-free forever after.
    */
  def q155_bucketed_join(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", scratch("b_orders")).mode("overwrite")
      .saveAsTable("graft_b_orders")
    t(s, dir, "customer")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", scratch("b_cust")).mode("overwrite")
      .saveAsTable("graft_b_cust")
    s.table("graft_b_orders").hint("merge")
      .join(s.table("graft_b_cust"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("c_mktsegment")
  }

  /** DSv2 COMPLETE aggregate pushdown (SupportsPushDownAggregates on
    * the custom source): COUNT/MIN/MAX/SUM over the sequence's id are
    * answered by the source in CLOSED FORM over its (already
    * filter-narrowed) bounds — the executed plan is a bare BatchScan +
    * Project, NO aggregate exec, zero rows generated. A filtered
    * count over a billion-row range is O(1); Dsv2SourceSpec proves
    * the same shape at a trillion rows. This is the DSv2 contract
    * real warehouses (JDBC pushdown) use — either answer COMPLETELY
    * or refuse and let Spark keep the whole aggregate (partial
    * buffers are deliberately not offered).
    */
  def q163_dsv2_agg_pushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("start", 0L).option("end", 1000000000L).option("slices", 32)
      .load()
      .filter(col("id") >= 250000000L && col("id") < 750000000L)
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))

  /** Bloom-pruned fact⋈dim join (operators/BloomJoin): lineitem rows
    * are pre-filtered by a bloom over URGENT orders' keys BEFORE the
    * join shuffle — ~80% of the fact table never rides the exchange.
    * The join removes the bloom's false positives, so the result (and
    * the oracle) is exactly the plain join: monthly line counts and
    * revenue for urgent orders.
    */
  def q169_bloom_join(s: SparkSession, dir: String): DataFrame = {
    // shuffle_hash hint: the operator exists for the dim that is
    // small-after-filter but NOT broadcastable as rows (the 100 TB
    // regime); at test SF the planner would broadcast urgent orders
    // and the bloom would prune a shuffle that no longer exists, so
    // the judged query pins the shuffle-join plan the operator is for.
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
      .hint("shuffle_hash")
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
    operators.BloomJoin.prunedJoin(li, "l_orderkey", urgent, "o_orderkey",
        expectedItems = 1000000L)
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("mon"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("mon")
  }

  /** Compression-ratio quality audit (functions/CompressionScore):
    * per source, the deflate-ratio distribution and the count of
    * suspiciously-compressible documents (ratio < 0.4 — template/
    * near-duplicate content). Rows-only: DEFLATE output length is
    * engine-internal (no SQL equivalent); the ordering ground truth
    * (repetitive text compresses below prose) lives in Round6OpsSpec,
    * and q368 is the oracle-judged twin (exact byte counts + integer
    * contract flags DuckDB pins true).
    */
  def q172_compress_ratio(s: SparkSession, dir: String): DataFrame =
    tWide(s, dir, "documents")
      .select(col("source"),
        graft.functions.CompressionScore.ratio(col("text")).as("ratio"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("ratio"), 4).as("mean_ratio"),
        round(min("ratio"), 4).as("min_ratio"),
        sum((col("ratio") < 0.4).cast("long")).as("n_suspicious"))
      .orderBy("source")

  /** Content-defined chunking (CDC — the storage-dedup / incremental-
    * sync boundary scheme, here at token grain): a chunk boundary
    * falls BEFORE token p wherever the 4-token window starting at p
    * hashes into 1/16 of the space (md5 first hex nibble = 0). Unlike
    * fixed-stride chunking (q174), an insertion early in a document
    * only reshuffles chunk boundaries LOCALLY — downstream chunks
    * re-align and their hashes (the dedup keys) still match, which is
    * the whole point of CDC. md5 is used for the boundary predicate
    * and chunk keys because both engines compute identical hex —
    * boundary decisions are oracle-reproducible. Shape: window-hash
    * explode → boundary filter → per-doc lead() for chunk extents →
    * slice+hash; the per-doc window partitions by doc_id, never
    * global.
    */
  def q188_cdc_chunks(s: SparkSession, dir: String): DataFrame = {
    val toks = tWide(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
    val bounds = toks.filter(size(col("ws")) >= 4)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - 4),
          i => md5(concat_ws(" ", slice(col("ws"), i + 1, lit(4)))))).as(Seq("pos", "h")))
      .filter(col("pos") > 0 && substring(col("h"), 1, 1) === "0")
      .select("doc_id", "pos")
    val starts = toks.select(col("doc_id"), lit(0).as("pos")).unionByName(bounds)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    starts
      .withColumn("nxt", lead("pos", 1).over(w))
      .join(toks, "doc_id")
      .select(col("doc_id"), col("pos").as("start"),
        (coalesce(col("nxt"), size(col("ws"))) - col("pos")).as("n_toks"),
        md5(concat_ws(" ",
          slice(col("ws"), col("pos") + 1,
            coalesce(col("nxt"), size(col("ws"))) - col("pos")))).as("chunk_md5"))
      .orderBy("doc_id", "start")
  }

  /** Schema-evolution read: two parquet snapshots written at different
    * schema versions (v2 adds a column) read back as ONE frame via
    * `mergeSchema` — the every-day reality of a 100 TB estate where
    * old partitions predate new columns. v1 rows surface the added
    * column as NULL (never a read error, never a backfill); the
    * aggregate proves both the union typing and the null semantics.
    * Columnar pruning still applies per file — v1 files simply have no
    * pages for the new column.
    */
  def q221_schema_evolution(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_schema_evo")
    val orders = t(s, dir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$out/v1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$out/v2")
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .groupBy(coalesce(col("o_orderstatus"), lit("<pre-schema>")).as("status"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("status")
  }

  /** Point-in-time (AS OF) temporal query over the q73 SCD2 dimension:
    * reconstruct every user's active version at an instant T and
    * profile the snapshot by event type — the time-travel read that
    * versioned dimensions exist for (audit "what did we believe on
    * Feb 15"). Built BY COMPOSITION on q73's interval frame (one
    * interval-containment filter selects exactly one version per user
    * alive at T), then an event-type join back for the profile;
    * at 100 TB the containment filter prunes on valid_from/valid_to
    * min/max parquet stats before any shuffle.
    */
  def q225_time_travel(s: SparkSession, dir: String): DataFrame = {
    // 2024-02-15T00:00:00Z in epoch µs, spelled as the literal so the
    // constant can never shift with the JVM's default timezone (q73's
    // unix_micros and the oracle's epoch_us both read the naive
    // timestamps as UTC)
    val tUs = lit(1707955200000000L)
    val active = q73_scd2(s, dir)
      .filter(col("valid_from_us") <= tUs && col("valid_to_us") > tUs)
      .select("user_id", "event_id")
    active.join(t(s, dir, "events").select("event_id", "event_type"), "event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users_in_state"))
      .orderBy("event_type")
  }

  /** Data-contract check suite (the dbt-test / Great-Expectations
    * genre): each row one named assertion over the orders feed with
    * its violation count — null keys, duplicate primary keys,
    * referential integrity into customer, value-range and
    * enum-membership checks. ALL checks ride one orders pass + one
    * broadcast-free anti-join for the FK probe (customer keys shuffle
    * once); a 0-violation row is evidence, not absence, so every check
    * reports. The governance gate a 100 TB feed runs before publish.
    */
  def q232_data_contract(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer").select(col("c_custkey"))
    val base = o.agg(
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_pk"),
      // count(pk) not count(*): null keys are their own check, they
      // must not inflate the duplicate count
      (count(col("o_orderkey")) - count_distinct(col("o_orderkey"))).as("dup_pk"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_price"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("bad_status_enum"),
      sum(when(col("o_orderdate") < lit("1992-01-01").cast("date") ||
        col("o_orderdate") > lit("2026-01-01").cast("date"), 1L).otherwise(0L))
        .as("date_out_of_range"))
    val orphans = o.select(col("o_custkey")).join(c,
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    base.crossJoin(orphans)
      .select(
        lit("orders").as("table_name"),
        col("null_pk"), col("dup_pk"), col("fk_orphans"),
        col("nonpositive_price"), col("bad_status_enum"), col("date_out_of_range"))
  }

  /** Dictionary-encoding advisor: per string column of `part`, the
    * cardinality/width numbers a columnar layout planner reads before
    * choosing an encoding — distinct count, raw vs dictionary-encoded
    * byte estimates (8-bit/16-bit/32-bit index by cardinality), and
    * the compression ratio. One scan reads each column once into one
    * (column, value) histogram ([[valueCounts]], map-side combined);
    * one fold per column gives n_rows = Σcnt, n_distinct = count(v)
    * (nulls are rows, not values), raw bytes = Σ cnt·length(v) and the
    * dictionary page = Σ length(v). Exact integer byte arithmetic.
    */
  def q237_dict_advisor(s: SparkSession, dir: String): DataFrame =
    valueCounts(t(s, dir, "part"), "column_name", "p_name", "p_brand", "p_type")
      .groupBy("column_name")
      .agg(
        sum("cnt").as("n_rows"),
        count(col("v")).as("n_distinct"),
        sum(col("cnt") * length(col("v"))).as("raw_bytes"),
        sum(length(col("v"))).as("dict_bytes"))
      // dict page = distinct values' bytes; index stream = n_rows ×
      // index width picked from cardinality
      .withColumn("dict_total", col("dict_bytes") + col("n_rows") *
        when(col("n_distinct") <= 256, 1L).when(col("n_distinct") <= 65536, 2L).otherwise(4L))
      .select(col("column_name"), col("n_rows"), col("n_distinct"), col("raw_bytes"),
        col("dict_total"),
        round(col("raw_bytes") / col("dict_total"), 4).as("ratio"))
      .orderBy("column_name")

  /** Partition-skew report for a date-partitioned write: per
    * order-month row counts with the skew diagnostics a layout planner
    * reads — share of total, ratio to the mean partition size, and a
    * hot flag at 2× mean. THE pre-write audit that decides whether a
    * partitioned publish needs salting or re-bucketing (writing first
    * and discovering a 40× partition later costs a rewrite at 100 TB).
    * One map-side-combined count; mean/total broadcast back.
    */
  def q238_partition_skew(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("part_key"))
      .agg(count(lit(1)).as("n"))
    val tot = parts.agg(sum("n").as("total"), (sum("n") / count(lit(1))).as("mean_n"))
    parts.crossJoin(broadcast(tot))
      .select(col("part_key"), col("n"),
        round(col("n") / col("total"), 4).as("share"),
        round(col("n") / col("mean_n"), 4).as("x_mean"),
        (col("n") > lit(2.0) * col("mean_n")).cast("int").as("hot"))
      .orderBy("part_key")
  }

  /** On-disk inverted index with bucket-pruned search — q152's
    * disk-layout discipline applied to TEXT: posting lists (term, doc,
    * tf) are written `partitionBy` a 64-way term-hash bucket, and a
    * term lookup reads ONLY its bucket directory (1/64 of the index,
    * enforced by partition pruning on the hash value — PlanSpec-style
    * assert lives in the spec). At 100 TB the index is the thing that
    * makes phrase/term analytics not re-tokenize the corpus; DuckDB
    * can't see the layout, so the oracle recomputes the postings —
    * equality proves the index is LOSSLESS, the spec proves it is
    * PRUNED.
    */
  def q245_inverted_index_disk(s: SparkSession, dir: String): DataFrame = {
    // Index build (a write job) runs at query-CONSTRUCTION time — the
    // documented q96/q152 round-trip exception to the plan-only rule:
    // the returned frame's plan is the pruned READ, which is the part
    // under judgment.
    val idx = scratch("graft_inv_index")
    tokenCounts(s, dir, "term", "tf", "doc_id")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(64)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(idx)
    val probe = "data"
    s.read.parquet(idx)
      .filter(col("bucket") === lit(xxhashBucket(probe)) && col("term") === probe)
      .select(col("doc_id"), col("tf"))
      .orderBy(col("tf").desc, col("doc_id").asc)
      .limit(15)
  }

  /** Join fan-out profile: the histogram of orders-per-customer — the
    * cardinality SHAPE behind q145's single expected-fanout number
    * (two joins with the same average fan-out behave entirely
    * differently if one hides a 10 000-row key; this is the
    * skew-or-not diagnostic read before choosing q37's salting).
    * Two map-side-combined aggregates, exact integers.
    */
  def q258_fanout_profile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("fanout"))
      .groupBy("fanout").agg(count(lit(1)).as("n_keys"))
      .withColumn("rows_contributed", col("fanout") * col("n_keys"))
      .orderBy("fanout")

  /** Sort-order advisor: for each candidate file sort key, how
    * prunable every other column's min/max footer stats would be —
    * the measurement behind choosing a table's layout (q84's Z-order
    * is the 2-D answer; this scores the 1-D candidates). Orders are
    * range-bucketed into 32 "files" by (key, o_orderkey) — the exact
    * equi-depth integer arithmetic of q93, never a single-partition
    * ntile — and each probe column reports the average per-bucket
    * span as a share of its global span: ~1/32 means a point filter
    * prunes ~97% of files, ~1 means the layout is useless for that
    * column. Spans are exact value arithmetic; one rounding per cell.
    */
  def q284_sort_advisor(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val o = t(s, dir, "orders").select(
      col("o_orderkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("k_date"),
      col("o_custkey").as("k_cust"), col("o_totalprice").as("k_price"))
    val keys = Seq("k_date", "k_cust", "k_price")
    val frames = keys.map { key =>
      val k = 32L
      val nDf = o.agg(count(lit(1)).as("__n"),
        (max("k_date") - min("k_date")).cast("double").as("span_date"),
        (max("k_cust") - min("k_cust")).cast("double").as("span_cust"),
        (max("k_price") - min("k_price")).as("span_price"))
      val ranked = PrefixSum.globalRank(o, Seq(key, "o_orderkey"), "r")
        .crossJoin(broadcast(nDf))
      val q = floor(col("__n") / k); val rem = col("__n") % k
      val bin = when(col("r") <= rem * (q + 1), (col("r") - 1) / (q + 1))
        .otherwise(rem + (col("r") - rem * (q + 1) - 1) / q)
        .cast("long") + 1
      ranked.withColumn("bucket", bin)
        .groupBy("bucket")
        .agg(first(col("span_date")).as("sd"), first(col("span_cust")).as("sc"),
          first(col("span_price")).as("sp"),
          (max("k_date") - min("k_date")).cast("double").as("bd"),
          (max("k_cust") - min("k_cust")).cast("double").as("bc"),
          (max("k_price") - min("k_price")).as("bp"))
        .agg(round(avg(col("bd") / col("sd")), 4).as("probe_date"),
          round(avg(col("bc") / col("sc")), 4).as("probe_cust"),
          round(avg(col("bp") / col("sp")), 4).as("probe_price"))
        .withColumn("sort_key", lit(key))
    }
    frames.reduce(_ unionByName _)
      .select(col("sort_key"), col("probe_date"), col("probe_cust"),
        col("probe_price"))
      .orderBy("sort_key")
  }

  /** Delta-encoding width advisor: for each integer-ish order column,
    * the raw bit width of its value span vs the width of the LARGEST
    * GAP between globally-sorted neighbors — the worst-case per-value
    * width a delta encoding needs, i.e. the compression headroom the
    * writer would get from sorting on that column (q237 answers the
    * same question for dictionaries, q284 for pruning). Adjacency at
    * scale is the rank equi-join r ↔ r+1 over [[PrefixSum.globalRank]]
    * (shuffle keyed by rank — never a single-partition lag window);
    * bit widths come from length(bin(x)) — EXACT integer arithmetic,
    * immune to the log2-at-power-of-two float flip.
    */
  def q286_delta_bitwidth(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val o = t(s, dir, "orders").select(
      col("o_orderkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("v_date"),
      col("o_custkey").as("v_cust"))
    def widths(valCol: String, label: String): DataFrame = {
      val ranked = PrefixSum.globalRank(
        o.select(col(valCol).as("v"), col("o_orderkey")), Seq("v", "o_orderkey"), "r")
      val a = ranked.select(col("r").as("ra"), col("v").as("va"))
      val b = ranked.select((col("r") - 1).as("ra"), col("v").as("vb"))
      val gaps = a.join(b, "ra").agg(max(col("vb") - col("va")).as("max_gap"))
      val span = o.agg((max(col(valCol)) - min(col(valCol))).as("span"),
        count(lit(1)).as("n"))
      span.crossJoin(broadcast(gaps))
        .select(lit(label).as("col_name"), col("n"),
          length(bin(col("span"))).cast("long").as("raw_bits"),
          col("max_gap"),
          length(bin(col("max_gap"))).cast("long").as("delta_bits"))
        .withColumn("savings_pct",
          round((lit(1.0) - col("delta_bits") / col("raw_bits")) * 100, 2))
    }
    widths("o_orderkey", "orderkey")
      .unionByName(widths("v_date", "orderdate"))
      .unionByName(widths("v_cust", "custkey"))
      .orderBy("col_name")
  }

  /** Join-order advisor by MEASURED intermediates: for the filtered
    * 3-way customer⋈orders⋈lineitem join, the row count each join
    * order materializes before its final join — the ground truth
    * q145's estimate-vs-actual audit calibrates against, and the
    * number a cost-based optimizer is trying to guess (here: measure
    * it, rank the orders, flag the winner). Each leg is one exact
    * count over an equi-join; the final cardinality is shared by both
    * orders, so selectivity = final/intermediate says how much of the
    * intermediate was wasted work.
    */
  def q291_join_order_advisor(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("c_custkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 25)
      .select(col("l_orderkey"))
    val co = c.join(o, col("c_custkey") === col("o_custkey"))
    val ol = o.join(l, col("o_orderkey") === col("l_orderkey"))
    val interA = co.agg(count(lit(1)).as("ia"))
    val interB = ol.agg(count(lit(1)).as("ib"))
    val fin = co.join(l, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("f"))
    val plans = interA.crossJoin(broadcast(interB)).crossJoin(broadcast(fin))
      .select(explode(array(
        struct(lit("customer_first").as("plan"), col("ia").as("intermediate_rows"),
          col("f").as("final_rows")),
        struct(lit("lineitem_first").as("plan"), col("ib").as("intermediate_rows"),
          col("f").as("final_rows")))).as("p"))
      .select(col("p.plan"), col("p.intermediate_rows"), col("p.final_rows"))
    val best = plans.agg(min("intermediate_rows").as("mi"))
    plans.crossJoin(broadcast(best))
      .select(col("plan"), col("intermediate_rows"), col("final_rows"),
        round(col("final_rows") / col("intermediate_rows"), 6).as("selectivity"),
        (col("intermediate_rows") === col("mi")).as("is_best"))
      .orderBy("plan")
  }

  /** Encoding/codec advisor: per order column, the exact cardinality,
    * dictionary index width (bits to address the distinct set), and
    * the RUN count in storage order (adjacent-equal collapse — what
    * RLE would keep) — then the rule-based pick a parquet writer
    * would make (few runs → RLE, narrow dictionary → DICT, else
    * PLAIN). q237 scores dictionaries alone; this decides BETWEEN
    * encodings. n and n_distinct come from one (column, value)
    * histogram ([[valueCounts]]). Storage order (the orderkey rank) is
    * the same for every column, so one rank over the wide frame feeds
    * one rank-adjacency equi-join (q286's at-scale run counting, never
    * a single-partition lag) and one aggregate of the per-column run
    * sums, unpivoted to rows. Values compare as strings so one code
    * path serves every column type; all counts exact.
    */
  def q292_codec_advisor(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("orderstatus", "orderpriority", "custkey")
    val vals = t(s, dir, "orders")
      .select(col("o_orderkey") +: cols.map(c => col(s"o_$c").cast("string").as(c)): _*)
    val stats = valueCounts(vals, "col_name", cols: _*)
      .groupBy("col_name").agg(sum("cnt").as("n"), count(col("v")).as("n_distinct"))
    val ranked = PrefixSum.globalRank(vals, Seq("o_orderkey"), "r")
    def side(shift: Int, tag: String): DataFrame =
      ranked.select((col("r") - shift).as("ra") +: cols.map(c => col(c).as(tag + c)): _*)
    val runSums = cols.map(c =>
      (sum(when(col(s"a$c") =!= col(s"b$c"), 1L).otherwise(0L)) + 1).as(c))
    val runs = side(0, "a").join(side(1, "b"), "ra")
      .agg(runSums.head, runSums.tail: _*)
      .unpivot(Array.empty[Column], "col_name", "n_runs")
    stats.join(broadcast(runs), "col_name")
      .select(col("col_name"), col("n"), col("n_distinct"),
        length(bin(col("n_distinct") - 1)).cast("long").as("dict_bits"),
        col("n_runs"),
        round(col("n_runs") / col("n"), 6).as("run_ratio"))
      .withColumn("advice",
        when(col("n_runs") * 10 < col("n"), "rle")
          .when(col("dict_bits") <= 8, "dict")
          .otherwise("plain"))
      .orderBy("col_name")
  }

  /** Catalog cold-start census: parts banded by how often they were
    * ever ordered (relative to the demand range: cold < 25
    * distinct orders, warm 25-34, hot ≥ 35) with each band's
    * share of the catalog and of revenue — the recommender/search
    * health table ("X% of the catalog is cold and carries Y% of
    * revenue decides whether a popularity prior is even usable").
    * One pass aggregates per-part order counts and exact-cent
    * revenue; banding is integer CASE arithmetic; shares are one
    * division per band against 1-row broadcast totals.
    */
  def q294_catalog_coldstart(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(countDistinct("l_orderkey").as("d"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("cents"))
      .withColumn("band",
        when(col("d") < 25, "1_cold").when(col("d") < 35, "2_warm")
          .otherwise("3_hot"))
    val g = parts.groupBy("band")
      .agg(count(lit(1)).as("n_parts"), sum("cents").as("band_cents"))
    val tot = g.agg(sum("n_parts").as("tp"), sum("band_cents").as("tc"))
    g.crossJoin(broadcast(tot))
      .select(col("band"), col("n_parts"),
        round(col("n_parts") / col("tp").cast("double"), 6).as("catalog_share"),
        round(col("band_cents") / lit(100.0), 2).as("revenue"),
        round(col("band_cents") / col("tc").cast("double"), 6).as("revenue_share"))
      .orderBy("band")
  }

  /** Partition sizing planner: per event day, the EXACT serialized
    * payload estimate (fixed 8-byte columns plus the measured string
    * byte lengths) and the file count a 1 MiB-target writer should
    * emit — the numbers behind `repartition(n)` before a
    * date-partitioned write, and the at-scale input to q149's
    * compaction (estimate first, rewrite never). One pass, integer
    * sums; ceil division in exact integer arithmetic — no float
    * rounding can off-by-one a file count.
    */
  def q296_partition_planner(s: SparkSession, dir: String): DataFrame = {
    val target = 1048576L // 1 MiB
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(lit(32L) + length(col("event_type")) + length(col("props")))
          .as("est_bytes"))
      // ceil-divide via floor((x + t − 1)/t): the divisor is a power
      // of two, so the double division is exact — no boundary flips
      .select(col("day"), col("n_rows"), col("est_bytes"),
        floor((col("est_bytes") + lit(target) - 1) / lit(target.toDouble))
          .cast("long").as("n_files"))
      .orderBy("day")
  }

  /** The transactional DSv2 sink as a JUDGED query (q149's pattern:
    * the judged result passes through the custom layout while the
    * oracle reads the ORIGINAL table — hash equality is the
    * losslessness proof). The per-segment revenue aggregate is written
    * through `LedgerSink`'s commit protocol (per-task staging →
    * commit messages → atomic manifest publish; Dsv2SinkSpec proves
    * the abort path leaves nothing) and read back through the same
    * connector's manifest-resolved scan. This is the reference's
    * batched-insert contract (main.py:305-356: a batch either lands
    * whole or not at all) enforced by the CONNECTOR rather than by
    * orchestrator retries.
    */
  def q306_dsv2_sink_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    // Overwrite (SupportsTruncate): the sink's append mode ACCUMULATES
    // (the AppendData contract), so a fixed scratch path must replace
    // its snapshot per run or repeat runs double the rows.
    val path = scratch("ledger_rt")
    agg.write.format("graft.sources.LedgerSink")
      .option("path", path).mode("overwrite").save()
    s.read.format("graft.sources.LedgerSink").option("path", path).load()
      .orderBy("c_mktsegment")
  }

  /** The DSv2 VECTORIZED read path as a judged query: the scan hands
    * Spark 4096-row `ColumnarBatch`es (the parquet-reader contract —
    * `ColumnarToRow` above the scan, whole-stage codegen consuming the
    * vectors without per-row boxing; Dsv2SourceSpec asserts the plan
    * shape and bitwise row parity with the row reader). The group-by
    * aggregate deliberately refuses the complete-pushdown fast path
    * (q163 covers that), so the 2M rows genuinely flow through the
    * columnar batches. At 100 TB, columnar hand-off is the difference
    * between a scan that feeds codegen at memory bandwidth and one
    * that boxes every row.
    */
  def q312_columnar_scan(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("start", 0L).option("end", 2000000L)
      .option("slices", 32).option("vectorized", "true").load()
      .groupBy("word")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("id").as("min_id"), max("bucket").as("max_bucket"))
      .orderBy("word")

  /** Dynamic partition pruning through the DSv2 runtime-filter
    * contract ([[graft.sources.SeqBucketedScan]] implements
    * `SupportsRuntimeFiltering`): the dimension side's selective
    * filter runs first (broadcast build), Spark hands the surviving
    * join keys to the scan as an IN filter AT EXECUTION TIME, and the
    * scan re-plans to only the matching residue-class partitions — 5
    * of 97 here, asserted in Dsv2SourceSpec. This is the last rung of
    * the DSv2 ladder next to static pushdown (q148), complete
    * aggregate pushdown (q163), storage-partitioned joins (q305) and
    * the columnar path (q312): at 100 TB it is the difference between
    * scanning every date/bucket directory and scanning the handful the
    * dimension filter actually touches — pruning decided by DATA, not
    * by a static predicate.
    */
  def q314_runtime_pruned_join(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.format("graft.sources.SeqSource")
      .option("start", 0L).option("end", 2000000L)
      .option("layout", "bucketed").load()
    val dim = s.range(0, 97).toDF("bucket").filter(col("bucket") % 19 === 3)
    fact.join(broadcast(dim), Seq("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("bucket")
  }

  /** ORDER-BY-id top-N pushed into the DSv2 scan
    * (`SupportsPushDownTopN`): the last-5 probe over a BILLION-row
    * declared range plans a scan of exactly 5 rows — the source
    * narrows its bounds to the top slice and Spark's retained sort
    * runs over those 5 (partial pushdown, so correctness never
    * depends on cross-partition order). Next to q163's closed-form
    * aggregate pushdown this is the other "don't read what the query
    * can't return" rung: at 100 TB, tail probes (latest ids, most
    * recent partition) become metadata-sized reads.
    */
  def q320_dsv2_topn(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("start", 0L).option("end", 1000000000L).option("slices", 32).load()
      .orderBy(desc("id"))
      .limit(5)
      .select(col("id"), col("bucket"), col("cents"), col("word"))

  /** GROUPED complete aggregate pushdown (q163's single-row closed
    * form extended to GROUP BY): each `bucket` residue class of the
    * filter-narrowed id range is an arithmetic progression of stride
    * 97, so the connector answers grouped COUNT/MIN/MAX/SUM(id) as 97
    * rows of arithmetic — Spark plans NO aggregate exec and generates
    * ZERO input rows (Dsv2SourceSpec asserts both, and that non-
    * residue groupings still refuse). At 100 TB this is the
    * partition-level-statistics answer path: per-partition counts and
    * id spans served from metadata, never from data.
    */
  def q321_dsv2_grouped_pushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("start", 0L).option("end", 100000000L).option("slices", 32)
      .load()
      .filter(col("id") >= 25000000L && col("id") < 75000000L)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))
      .orderBy("bucket")

  /** Compression-score CONTRACT audit (q368, twin of q172 — the LAST
    * rows-only operator gains an oracle-judged component, via the
    * q99/q132 tolerance-flag pattern: exact columns DuckDB hash-checks
    * next to contract booleans the oracle pins to `true`). DEFLATE
    * output lengths are engine-internal, but the operator's contract
    * is not, and every flag here is an INTEGER comparison on
    * [[graft.functions.CompressionScore.deflateLen]] — no float
    * boundary exists for the hash to land on (SWEEP.md pattern 4):
    *
    *   - bounds_ok: 0 < z ≤ raw + 16 per doc — deflate never expands
    *     past the stored-block worst case (~5 B/16 KiB block + 6 B
    *     zlib wrapper; the corpus max doc is far below one block);
    *   - det_ok: z from a second, structurally distinct evaluation
    *     (concat(text, '') — a different expression tree, so neither
    *     constant folding nor subexpression elimination can collapse
    *     the two UDF calls) equals z — the determinism echo. The
    *     cross-RUN determinism claim rides the sweep itself: the hash
    *     must reproduce at three SFs on every rerun;
    *   - rep_lt_ok: deflate(text ⧺ ' ' ⧺ text) < 2·deflate(text) per
    *     doc — doubling a document must compress strictly better than
    *     twice (the second copy is one back-reference, ≤ ~4 B per 258-B
    *     match, vs z ≥ ~30 B for the ≥44-B corpus docs). This is
    *     Round6OpsSpec's "repetitive compresses below prose" ordering
    *     in per-doc differential form: ratio(text·2) < ratio(text)
    *     ⟺ z2x < 2z + z/L, and the judged flag uses the stricter
    *     z2x < 2z.
    *
    * The exact columns (n_docs, raw UTF-8 byte mass per source) are
    * reproduced by DuckDB from the same parquet. Scale shape is
    * q172's: a narrow embarrassingly-parallel map (three partition-
    * local Deflater calls/row — the documented UDF codec boundary),
    * one map-side-combined source-grain agg.
    */
  def q368_compress_contract(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CompressionScore.deflateLen
    tWide(s, dir, "documents")
      .select(col("source"),
        octet_length(col("text")).cast("long").as("raw_bytes"),
        deflateLen(col("text")).as("z"),
        deflateLen(concat(col("text"), lit(""))).as("z_echo"),
        deflateLen(concat(col("text"), lit(" "), col("text"))).as("z2x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("raw_bytes").as("raw_bytes"),
        bool_and(col("z") > 0 && col("z") <= col("raw_bytes") + 16)
          .as("bounds_ok"),
        bool_and(col("z") === col("z_echo")).as("det_ok"),
        bool_and(col("z2x") < col("z") * 2).as("rep_lt_ok"))
      .orderBy("source")
  }

  /** The ClickHouse HTTP INSERT wire, end-to-end and ORACLE-JUDGED
    * (q369 — closing the round-11 verdict's missing item #2 as far as
    * the sandbox allows): the reference's actual sink protocol
    * (main.py:305-356 — HTTP port 8123, `INSERT INTO db.table FORMAT
    * ArrowStream` with the five async-insert settings as URL params,
    * X-ClickHouse-* auth headers, Arrow IPC stream body) runs for
    * real against an in-process stand-in server
    * ([[graft.io.MiniClickHouse]]) that authenticates, REJECTS any
    * insert missing a setting at its exact main.py:329-335 value,
    * parses the Arrow stream back, and aggregates what landed. The
    * judged frame is the SERVER's per-event_type receipt — row count,
    * exact value-cents, id/user sums, max ts µs — which DuckDB
    * recomputes from the source parquet: a mangled vector, a dropped
    * batch, a double-posted partition, or a mis-encoded timestamp
    * breaks the hash. Spark side is distributed by construction (one
    * POST per partition chunk, 8 partitions here so concurrent POSTs
    * really interleave; no driver materialization); delivery is
    * at-least-once per POST exactly like the reference (the
    * exactly-once path is q306's ledgered DSv2 sink). requires pin
    * client-count == server-count == corpus rows and zero rejected
    * requests BEFORE the hash compare, so a silent drop cannot pass.
    */
  def q369_clickhouse_http_sink(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{ClickHouseHttp, MiniClickHouse}
    val ev = t(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .repartition(8)
    val srv = new MiniClickHouse("ingest", "ingest_secret")
    val port = srv.start()
    try {
      val posted = ClickHouseHttp.insertArrow(ev, ClickHouseHttp.Target(
        "127.0.0.1", port, "ingest", "ingest_secret",
        "analytics", "events_buffer"))
      val landed = srv.snapshot
      require(srv.rejected == 0, s"server rejected ${srv.rejected} requests")
      require(srv.insertTargets ==
        Set("INSERT INTO analytics.events_buffer FORMAT ArrowStream"),
        s"unexpected insert targets: ${srv.insertTargets}")
      require(posted == landed.map(_._2).sum,
        s"posted $posted rows but server landed ${landed.map(_._2).sum}")
      import s.implicits._
      landed.toDF("event_type", "n_rows", "total_cents", "id_sum",
        "uid_sum", "max_ts_us").orderBy("event_type")
    } finally srv.stop()
  }

  def q337_runtime_bloom_join(s: SparkSession, dir: String): DataFrame =
    StreamJob.withConf(s, runtimeBloomConfs) {
      val agg = runtimeBloomAgg(s, dir)
      val rows = agg.collect() // ≤3 return flags — bounded by construction
      s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
    }

  private[graft] def ioAll: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_ingest_pipeline" -> (q35_ingest_pipeline _),
    "q62_source_mix"    -> (q62_source_mix _),
    "q73_scd2"          -> (q73_scd2 _),
    "q79_csv_ingest"    -> (q79_csv_ingest _),
    "q84_zorder_layout" -> (q84_zorder_layout _),
    "q88_merge_upsert"  -> (q88_merge_upsert _),
    "q96_orc_roundtrip" -> (q96_orc_roundtrip _),
    "q98_snapshot_diff" -> (q98_snapshot_diff _),
    "q119_json_roundtrip" -> (q119_json_roundtrip _),
    "q123_skew_diagnostics" -> (q123_skew_diagnostics _),
    "q124_fk_audit"     -> (q124_fk_audit _),
    "q128_partitioned_prune" -> (q128_partitioned_prune _),
    "q133_xml_roundtrip" -> (q133_xml_roundtrip _),
    "q134_bitmap_distinct" -> (q134_bitmap_distinct _),
    "q136_schema_evolution" -> (q136_schema_evolution _),
    "q140_bitmap_intersect" -> (q140_bitmap_intersect _),
    "q148_dsv2_source"  -> (q148_dsv2_source _),
    "q149_compaction"   -> (q149_compaction _),
    "q155_bucketed_join" -> (q155_bucketed_join _),
    "q163_dsv2_agg_pushdown" -> (q163_dsv2_agg_pushdown _),
    "q169_bloom_join"   -> (q169_bloom_join _),
    "q172_compress_ratio" -> (q172_compress_ratio _),
    "q188_cdc_chunks"   -> (q188_cdc_chunks _),
    "q221_schema_evolution" -> (q221_schema_evolution _),
    "q225_time_travel"  -> (q225_time_travel _),
    "q232_data_contract" -> (q232_data_contract _),
    "q237_dict_advisor" -> (q237_dict_advisor _),
    "q238_partition_skew" -> (q238_partition_skew _),
    "q245_inverted_index_disk" -> (q245_inverted_index_disk _),
    "q258_fanout_profile" -> (q258_fanout_profile _),
    "q284_sort_advisor" -> (q284_sort_advisor _),
    "q286_delta_bitwidth" -> (q286_delta_bitwidth _),
    "q291_join_order_advisor" -> (q291_join_order_advisor _),
    "q292_codec_advisor" -> (q292_codec_advisor _),
    "q294_catalog_coldstart" -> (q294_catalog_coldstart _),
    "q296_partition_planner" -> (q296_partition_planner _),
    "q306_dsv2_sink_roundtrip" -> (q306_dsv2_sink_roundtrip _),
    "q312_columnar_scan" -> (q312_columnar_scan _),
    "q314_runtime_pruned_join" -> (q314_runtime_pruned_join _),
    "q320_dsv2_topn" -> (q320_dsv2_topn _),
    "q321_dsv2_grouped_pushdown" -> (q321_dsv2_grouped_pushdown _),
    "q337_runtime_bloom_join" -> (q337_runtime_bloom_join _),
    "q368_compress_contract" -> (q368_compress_contract _),
    "q369_clickhouse_http_sink" -> (q369_clickhouse_http_sink _),
  )

  private[graft] def ioOracle: Map[String, String] = Map(
    "q368_compress_contract" ->
      // The q99/q132 tolerance-flag grading: n_docs + raw UTF-8 byte
      // mass are recomputed exactly (DuckDB strlen(VARCHAR) counts
      // BYTES, = Spark octet_length); the three DEFLATE contract
      // booleans — integer bounds, determinism echo, doubling-
      // compresses-strictly-better — are pinned true.
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(strlen(text))::BIGINT AS raw_bytes,
        |  true AS bounds_ok, true AS det_ok, true AS rep_lt_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q369_clickhouse_http_sink" ->
      // Recomputes the server-side receipt from the source parquet:
      // exact integer cents (2-decimal values — no .5 tie exists),
      // id/user sums, max µs epoch. Any wire corruption diverges.
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS total_cents,
        |  sum(event_id)::BIGINT AS id_sum,
        |  sum(user_id)::BIGINT AS uid_sum,
        |  max(epoch_us(ts))::BIGINT AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q35_ingest_pipeline" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    "q62_source_mix" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn,
        |    CASE WHEN substr(source, 4)::INT < 5 THEN 20
        |         WHEN substr(source, 4)::INT < 10 THEN 10
        |         ELSE 5 END AS quota
        |  FROM documents)
        |SELECT source, count(*) AS n_picked, min(doc_id) AS first_pick
        |FROM r WHERE rn <= quota
        |GROUP BY source ORDER BY source""".stripMargin,
    "q73_scd2" ->
      """SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
        |  coalesce(lead(epoch_us(ts)) OVER w, 9223372036854775807) AS valid_to_us,
        |  CASE WHEN lead(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin,
    "q79_csv_ingest" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        |  sum(event_id)::BIGINT AS sum_ids, max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q84_zorder_layout" -> {
      val z = graft.operators.ZOrder.zvalueSql("x", "y")
      s"""WITH b AS (
         |  SELECT o_custkey % 256 AS x,
         |    (epoch_us(o_orderdate) // 86400000000) % 256 AS y
         |  FROM orders),
         |z AS (SELECT x, y, ($z) >> 6 AS tile FROM b)
         |SELECT tile, count(*) AS n, min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY tile ORDER BY tile""".stripMargin
    },
    "q88_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS b_key, o_orderpriority AS b_pri,
        |    o_totalprice AS b_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |changes AS (
        |  SELECT o_orderkey AS c_key, o_orderpriority AS c_pri,
        |    o_totalprice + 10 AS c_price,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |m AS (
        |  SELECT coalesce(b_pri, c_pri) AS pri,
        |    CASE WHEN op = 'U' THEN c_price ELSE b_price END AS price
        |  FROM base FULL OUTER JOIN changes ON b_key = c_key
        |  WHERE coalesce(op, 'keep') <> 'D')
        |SELECT pri, count(*) AS n, round(sum(price), 2) AS total
        |FROM m GROUP BY pri ORDER BY pri""".stripMargin,
    "q96_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  sum(o_orderkey)::BIGINT AS key_sum,
        |  max(epoch_us(o_orderdate) // 86400000000) AS max_day
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q98_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey AS okey, o_totalprice AS oprice
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |neu AS (
        |  SELECT o_orderkey AS nkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5
        |         ELSE o_totalprice END AS nprice
        |  FROM orders WHERE o_orderkey % 13 <> 0),
        |d AS (
        |  SELECT CASE WHEN okey IS NULL THEN 'added'
        |              WHEN nkey IS NULL THEN 'removed'
        |              WHEN oprice <> nprice THEN 'changed'
        |              ELSE 'unchanged' END AS status,
        |    coalesce(nprice, oprice) AS price
        |  FROM old FULL OUTER JOIN neu ON okey = nkey)
        |SELECT status, count(*) AS n, round(sum(price), 2) AS total
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    "q119_json_roundtrip" ->
      """SELECT event_type, count(*) AS n, sum(event_id)::BIGINT AS sum_ids,
        |  round(sum(value), 2) AS sum_value, max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q123_skew_diagnostics" ->
      """WITH k AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_keys, sum(n)::BIGINT AS total_rows,
        |  max(n)::BIGINT AS max_n, min(n)::BIGINT AS min_n,
        |  floor(sum(n) * 100 / count(*))::BIGINT AS mean_x100,
        |  floor(max(n) * 100 * count(*) / sum(n))::BIGINT AS skew_x100
        |FROM k""".stripMargin,
    "q124_fk_audit" ->
      """WITH e1 AS (
        |  SELECT 'lineitem.orderkey' AS fk, count(*) AS n_keys,
        |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_orphans
        |  FROM (SELECT DISTINCT l_orderkey FROM lineitem) k
        |  LEFT JOIN orders o ON k.l_orderkey = o.o_orderkey),
        |e2 AS (
        |  SELECT 'lineitem.partkey' AS fk, count(*) AS n_keys,
        |    sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_orphans
        |  FROM (SELECT DISTINCT l_partkey FROM lineitem) k
        |  LEFT JOIN part p ON k.l_partkey = p.p_partkey),
        |e3 AS (
        |  SELECT 'lineitem.suppkey' AS fk, count(*) AS n_keys,
        |    sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_orphans
        |  FROM (SELECT DISTINCT l_suppkey FROM lineitem) k
        |  LEFT JOIN supplier s ON k.l_suppkey = s.s_suppkey)
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
        |ORDER BY fk""".stripMargin,
    "q128_partitioned_prune" ->
      """SELECT event_type, count(*) AS n, sum(event_id)::BIGINT AS sum_ids,
        |  round(sum("value"), 2) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05'
        |  AND ts < TIMESTAMP '2024-01-12'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q133_xml_roundtrip" ->
      """SELECT event_type, count(*) AS n, sum(event_id)::BIGINT AS sum_ids,
        |  round(sum("value"), 2) AS sum_value,
        |  epoch_us(min(ts))::BIGINT AS min_ts_us,
        |  epoch_us(max(ts))::BIGINT AS max_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q134_bitmap_distinct" ->
      """WITH masks AS (
        |  SELECT event_type, user_id // 32 AS word,
        |    (1::BIGINT << (user_id % 32)::INT) AS m
        |  FROM events),
        |ptw AS (SELECT event_type, word, bit_or(m) AS bm
        |        FROM masks GROUP BY 1, 2),
        |pt AS (SELECT event_type, sum(bit_count(bm))::BIGINT AS n_users
        |       FROM ptw GROUP BY 1),
        |ov AS (SELECT '(all)' AS event_type, sum(bit_count(bm))::BIGINT AS n_users
        |       FROM (SELECT word, bit_or(bm) AS bm FROM ptw GROUP BY word))
        |SELECT * FROM pt UNION ALL SELECT * FROM ov
        |ORDER BY event_type""".stripMargin,
    "q136_schema_evolution" ->
      """WITH v1 AS (
        |  SELECT event_id, user_id, "value" FROM events
        |  WHERE event_id % 2 = 0),
        |v2 AS (
        |  SELECT event_id, user_id, "value", event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_id % 2 = 1),
        |u AS (
        |  SELECT event_id, user_id, "value",
        |    'unknown' AS event_type, 0::BIGINT AS ts_us FROM v1
        |  UNION ALL
        |  SELECT event_id, user_id, "value",
        |    event_type, ts_us::BIGINT FROM v2)
        |SELECT event_type, count(*) AS n, sum(event_id)::BIGINT AS sum_ids,
        |  round(sum("value"), 2) AS sum_value, max(ts_us) AS max_ts_us
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q140_bitmap_intersect" ->
      """WITH ptw AS (
        |  SELECT event_type, user_id // 32 AS word,
        |    bit_or(1::BIGINT << (user_id % 32)::INT) AS bm
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  sum(bit_count(a.bm & b.bm))::BIGINT AS n_both,
        |  sum(bit_count(a.bm | b.bm))::BIGINT AS n_either
        |FROM ptw a JOIN ptw b
        |  ON a.word = b.word AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin,
    "q148_dsv2_source" ->
      """SELECT id % 97 AS bucket, count(*) AS n,
        |  (sum((id * 2654435761) % 1000003))::BIGINT AS sum_cents,
        |  count(DISTINCT 'w' || (id % 13)::VARCHAR) AS words
        |FROM range(50000, 150000) t(id)
        |WHERE id % 97 < 10
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q149_compaction" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  (sum(o_orderkey))::BIGINT AS key_sum,
        |  max(datediff('day', DATE '1970-01-01', o_orderdate))::BIGINT AS max_day
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q155_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q163_dsv2_agg_pushdown" ->
      """SELECT count(*) AS n_rows, min(id) AS min_id, max(id) AS max_id,
        |  sum(id)::BIGINT AS sum_id
        |FROM range(250000000, 750000000) t(id)""".stripMargin,
    "q169_bloom_join" ->
      """SELECT date_trunc('month', o.o_orderdate)::DATE AS mon,
        |  count(*)::BIGINT AS n_items,
        |  round(sum(l.l_extendedprice), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q188_cdc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 1),
        |b AS (
        |  SELECT doc_id,
        |    unnest([i-1 for i in range(2, len(toks)-2) if md5(array_to_string(toks[i:i+3], ' ')) LIKE '0%']) AS pos
        |  FROM dd WHERE len(toks) >= 4),
        |s AS (SELECT doc_id, 0 AS pos FROM dd
        |      UNION ALL SELECT doc_id, pos FROM b),
        |c AS (SELECT doc_id, pos AS start,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM s),
        |j AS (SELECT c.doc_id, start,
        |        coalesce(nxt, len(toks)) - start AS n_toks,
        |        md5(array_to_string(toks[start+1 : coalesce(nxt, len(toks))], ' ')) AS chunk_md5
        |      FROM c JOIN dd USING (doc_id))
        |SELECT doc_id, start, n_toks::BIGINT AS n_toks, chunk_md5
        |FROM j ORDER BY doc_id, start""".stripMargin,
    "q221_schema_evolution" ->
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END,
        |         '<pre-schema>') AS status,
        |  count(*)::BIGINT AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY status""".stripMargin,
    "q225_time_travel" ->
      """WITH scd AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
        |    coalesce(lead(epoch_us(ts)) OVER w, 9223372036854775807) AS valid_to_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |active AS (SELECT user_id, event_id FROM scd
        |  WHERE valid_from_us <= epoch_us(TIMESTAMP '2024-02-15 00:00:00')
        |    AND valid_to_us > epoch_us(TIMESTAMP '2024-02-15 00:00:00'))
        |SELECT e.event_type, count(*)::BIGINT AS n_users_in_state
        |FROM active a JOIN events e ON a.event_id = e.event_id
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q232_data_contract" ->
      """WITH base AS (SELECT
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_pk,
        |    (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT AS dup_pk,
        |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS nonpositive_price,
        |    sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)::BIGINT
        |      AS bad_status_enum,
        |    sum(CASE WHEN o_orderdate < DATE '1992-01-01'
        |             OR o_orderdate > DATE '2026-01-01' THEN 1 ELSE 0 END)::BIGINT
        |      AS date_out_of_range
        |  FROM orders),
        |orph AS (SELECT count(*)::BIGINT AS fk_orphans FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT 'orders' AS table_name, null_pk, dup_pk, fk_orphans,
        |  nonpositive_price, bad_status_enum, date_out_of_range
        |FROM base, orph""".stripMargin,
    "q237_dict_advisor" ->
      """WITH legs AS (
        |  SELECT 'p_name' AS column_name, count(*)::BIGINT AS n_rows,
        |    count(DISTINCT p_name)::BIGINT AS n_distinct,
        |    sum(length(p_name))::BIGINT AS raw_bytes FROM part
        |  UNION ALL
        |  SELECT 'p_brand', count(*), count(DISTINCT p_brand),
        |    sum(length(p_brand)) FROM part
        |  UNION ALL
        |  SELECT 'p_type', count(*), count(DISTINCT p_type),
        |    sum(length(p_type)) FROM part),
        |dicts AS (
        |  SELECT 'p_name' AS column_name,
        |    sum(length(p_name))::BIGINT AS dict_bytes
        |  FROM (SELECT DISTINCT p_name FROM part)
        |  UNION ALL
        |  SELECT 'p_brand', sum(length(p_brand))
        |  FROM (SELECT DISTINCT p_brand FROM part)
        |  UNION ALL
        |  SELECT 'p_type', sum(length(p_type))
        |  FROM (SELECT DISTINCT p_type FROM part))
        |SELECT l.column_name, n_rows::BIGINT AS n_rows,
        |  n_distinct::BIGINT AS n_distinct, raw_bytes::BIGINT AS raw_bytes,
        |  (dict_bytes + n_rows * (CASE WHEN n_distinct <= 256 THEN 1
        |     WHEN n_distinct <= 65536 THEN 2 ELSE 4 END))::BIGINT AS dict_total,
        |  round(raw_bytes::DOUBLE /
        |    (dict_bytes + n_rows * (CASE WHEN n_distinct <= 256 THEN 1
        |       WHEN n_distinct <= 65536 THEN 2 ELSE 4 END)), 4) AS ratio
        |FROM legs l JOIN dicts d ON l.column_name = d.column_name
        |ORDER BY l.column_name""".stripMargin,
    "q238_partition_skew" ->
      """WITH parts AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS part_key, count(*)::BIGINT AS n
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS total,
        |    sum(n)::DOUBLE / count(*) AS mean_n FROM parts)
        |SELECT part_key, n,
        |  round(n::DOUBLE / total, 4) AS share,
        |  round(n / mean_n, 4) AS x_mean,
        |  (n > 2.0 * mean_n)::INTEGER AS hot
        |FROM parts, tot ORDER BY part_key""".stripMargin,
    "q245_inverted_index_disk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |post AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        |  FROM toks WHERE term <> '' GROUP BY term, doc_id)
        |SELECT doc_id, tf FROM post WHERE term = 'data'
        |ORDER BY tf DESC, doc_id ASC LIMIT 15""".stripMargin,
    "q258_fanout_profile" ->
      """WITH f AS (SELECT o_custkey, count(*)::BIGINT AS fanout
        |           FROM orders GROUP BY o_custkey)
        |SELECT fanout, count(*)::BIGINT AS n_keys,
        |  (fanout * count(*))::BIGINT AS rows_contributed
        |FROM f GROUP BY fanout ORDER BY fanout""".stripMargin,
    "q286_delta_bitwidth" ->
      """WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS v_date,
        |    o_custkey AS v_cust FROM orders),
        |c1 AS (SELECT o_orderkey AS v, o_orderkey AS k FROM o),
        |w1 AS (SELECT v - lag(v) OVER (ORDER BY v, k) AS gap FROM c1),
        |g1 AS (SELECT max(gap)::BIGINT AS max_gap FROM w1 WHERE gap IS NOT NULL),
        |s1 AS (SELECT (max(v) - min(v))::BIGINT AS span, count(*)::BIGINT AS n
        |  FROM c1),
        |f1 AS (SELECT 'orderkey' AS col_name, n,
        |    length(bin(span))::BIGINT AS raw_bits, max_gap,
        |    length(bin(max_gap))::BIGINT AS delta_bits FROM s1, g1),
        |c2 AS (SELECT v_date AS v, o_orderkey AS k FROM o),
        |w2 AS (SELECT v - lag(v) OVER (ORDER BY v, k) AS gap FROM c2),
        |g2 AS (SELECT max(gap)::BIGINT AS max_gap FROM w2 WHERE gap IS NOT NULL),
        |s2 AS (SELECT (max(v) - min(v))::BIGINT AS span, count(*)::BIGINT AS n
        |  FROM c2),
        |f2 AS (SELECT 'orderdate' AS col_name, n,
        |    length(bin(span))::BIGINT AS raw_bits, max_gap,
        |    length(bin(max_gap))::BIGINT AS delta_bits FROM s2, g2),
        |c3 AS (SELECT v_cust AS v, o_orderkey AS k FROM o),
        |w3 AS (SELECT v - lag(v) OVER (ORDER BY v, k) AS gap FROM c3),
        |g3 AS (SELECT max(gap)::BIGINT AS max_gap FROM w3 WHERE gap IS NOT NULL),
        |s3 AS (SELECT (max(v) - min(v))::BIGINT AS span, count(*)::BIGINT AS n
        |  FROM c3),
        |f3 AS (SELECT 'custkey' AS col_name, n,
        |    length(bin(span))::BIGINT AS raw_bits, max_gap,
        |    length(bin(max_gap))::BIGINT AS delta_bits FROM s3, g3)
        |SELECT *, round((1.0 - delta_bits / raw_bits) * 100, 2) AS savings_pct
        |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |      UNION ALL SELECT * FROM f3)
        |ORDER BY col_name""".stripMargin,
    "q284_sort_advisor" ->
      """WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS k_date,
        |    o_custkey AS k_cust, o_totalprice AS k_price FROM orders),
        |nn AS (SELECT count(*)::BIGINT AS n,
        |    (max(k_date) - min(k_date))::DOUBLE AS sd,
        |    (max(k_cust) - min(k_cust))::DOUBLE AS sc,
        |    max(k_price) - min(k_price) AS sp FROM o),
        |rd AS (SELECT *, row_number() OVER (ORDER BY k_date, o_orderkey)::BIGINT AS r FROM o),
        |bd AS (SELECT CASE WHEN r <= (n % 32) * (n // 32 + 1)
        |      THEN (r - 1) // (n // 32 + 1)
        |      ELSE (n % 32) + (r - (n % 32) * (n // 32 + 1) - 1) // (n // 32)
        |    END + 1 AS bucket,
        |    k_date, k_cust, k_price, sd, sc, sp FROM rd, nn),
        |gd AS (SELECT bucket, first(sd) AS sd, first(sc) AS sc, first(sp) AS sp,
        |    (max(k_date) - min(k_date))::DOUBLE AS wd,
        |    (max(k_cust) - min(k_cust))::DOUBLE AS wc,
        |    max(k_price) - min(k_price) AS wp FROM bd GROUP BY bucket),
        |fd AS (SELECT 'k_date' AS sort_key, round(avg(wd / sd), 4) AS probe_date,
        |    round(avg(wc / sc), 4) AS probe_cust,
        |    round(avg(wp / sp), 4) AS probe_price FROM gd),
        |rc AS (SELECT *, row_number() OVER (ORDER BY k_cust, o_orderkey)::BIGINT AS r FROM o),
        |bc AS (SELECT CASE WHEN r <= (n % 32) * (n // 32 + 1)
        |      THEN (r - 1) // (n // 32 + 1)
        |      ELSE (n % 32) + (r - (n % 32) * (n // 32 + 1) - 1) // (n // 32)
        |    END + 1 AS bucket,
        |    k_date, k_cust, k_price, sd, sc, sp FROM rc, nn),
        |gc AS (SELECT bucket, first(sd) AS sd, first(sc) AS sc, first(sp) AS sp,
        |    (max(k_date) - min(k_date))::DOUBLE AS wd,
        |    (max(k_cust) - min(k_cust))::DOUBLE AS wc,
        |    max(k_price) - min(k_price) AS wp FROM bc GROUP BY bucket),
        |fc AS (SELECT 'k_cust' AS sort_key, round(avg(wd / sd), 4) AS probe_date,
        |    round(avg(wc / sc), 4) AS probe_cust,
        |    round(avg(wp / sp), 4) AS probe_price FROM gc),
        |rp AS (SELECT *, row_number() OVER (ORDER BY k_price, o_orderkey)::BIGINT AS r FROM o),
        |bp AS (SELECT CASE WHEN r <= (n % 32) * (n // 32 + 1)
        |      THEN (r - 1) // (n // 32 + 1)
        |      ELSE (n % 32) + (r - (n % 32) * (n // 32 + 1) - 1) // (n // 32)
        |    END + 1 AS bucket,
        |    k_date, k_cust, k_price, sd, sc, sp FROM rp, nn),
        |gp AS (SELECT bucket, first(sd) AS sd, first(sc) AS sc, first(sp) AS sp,
        |    (max(k_date) - min(k_date))::DOUBLE AS wd,
        |    (max(k_cust) - min(k_cust))::DOUBLE AS wc,
        |    max(k_price) - min(k_price) AS wp FROM bp GROUP BY bucket),
        |fp AS (SELECT 'k_price' AS sort_key, round(avg(wd / sd), 4) AS probe_date,
        |    round(avg(wc / sc), 4) AS probe_cust,
        |    round(avg(wp / sp), 4) AS probe_price FROM gp)
        |SELECT * FROM fd UNION ALL SELECT * FROM fc UNION ALL SELECT * FROM fp
        |ORDER BY sort_key""".stripMargin,
    "q291_join_order_advisor" ->
      """WITH c AS (SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |l AS (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25),
        |ia AS (SELECT count(*)::BIGINT AS ia FROM c
        |  JOIN orders ON c_custkey = o_custkey),
        |ib AS (SELECT count(*)::BIGINT AS ib FROM orders
        |  JOIN l ON o_orderkey = l_orderkey),
        |f AS (SELECT count(*)::BIGINT AS f FROM c
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN l ON o_orderkey = l_orderkey),
        |plans AS (
        |  SELECT 'customer_first' AS plan, ia AS intermediate_rows,
        |    f AS final_rows FROM ia, f
        |  UNION ALL
        |  SELECT 'lineitem_first', ib, f FROM ib, f),
        |best AS (SELECT min(intermediate_rows) AS mi FROM plans)
        |SELECT plan, intermediate_rows, final_rows,
        |  round(final_rows / intermediate_rows, 6) AS selectivity,
        |  intermediate_rows = mi AS is_best
        |FROM plans, best ORDER BY plan""".stripMargin,
    "q292_codec_advisor" ->
      """WITH o1 AS (SELECT o_orderkey, o_orderstatus::VARCHAR AS v FROM orders),
        |r1 AS (SELECT v, lag(v) OVER (ORDER BY o_orderkey) AS pv FROM o1),
        |a1 AS (SELECT count(*)::BIGINT AS n, count(DISTINCT v)::BIGINT AS nd
        |  FROM o1),
        |x1 AS (SELECT (sum(CASE WHEN pv IS NOT NULL AND v <> pv
        |    THEN 1 ELSE 0 END) + 1)::BIGINT AS n_runs FROM r1),
        |f1 AS (SELECT 'orderstatus' AS col_name, n, nd AS n_distinct,
        |    length(bin(nd - 1))::BIGINT AS dict_bits, n_runs FROM a1, x1),
        |o2 AS (SELECT o_orderkey, o_orderpriority::VARCHAR AS v FROM orders),
        |r2 AS (SELECT v, lag(v) OVER (ORDER BY o_orderkey) AS pv FROM o2),
        |a2 AS (SELECT count(*)::BIGINT AS n, count(DISTINCT v)::BIGINT AS nd
        |  FROM o2),
        |x2 AS (SELECT (sum(CASE WHEN pv IS NOT NULL AND v <> pv
        |    THEN 1 ELSE 0 END) + 1)::BIGINT AS n_runs FROM r2),
        |f2 AS (SELECT 'orderpriority' AS col_name, n, nd AS n_distinct,
        |    length(bin(nd - 1))::BIGINT AS dict_bits, n_runs FROM a2, x2),
        |o3 AS (SELECT o_orderkey, o_custkey::VARCHAR AS v FROM orders),
        |r3 AS (SELECT v, lag(v) OVER (ORDER BY o_orderkey) AS pv FROM o3),
        |a3 AS (SELECT count(*)::BIGINT AS n, count(DISTINCT v)::BIGINT AS nd
        |  FROM o3),
        |x3 AS (SELECT (sum(CASE WHEN pv IS NOT NULL AND v <> pv
        |    THEN 1 ELSE 0 END) + 1)::BIGINT AS n_runs FROM r3),
        |f3 AS (SELECT 'custkey' AS col_name, n, nd AS n_distinct,
        |    length(bin(nd - 1))::BIGINT AS dict_bits, n_runs FROM a3, x3)
        |SELECT col_name, n, n_distinct, dict_bits, n_runs,
        |  round(n_runs / n, 6) AS run_ratio,
        |  CASE WHEN n_runs * 10 < n THEN 'rle'
        |       WHEN dict_bits <= 8 THEN 'dict' ELSE 'plain' END AS advice
        |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |      UNION ALL SELECT * FROM f3)
        |ORDER BY col_name""".stripMargin,
    "q294_catalog_coldstart" ->
      """WITH parts AS (SELECT l_partkey,
        |    count(DISTINCT l_orderkey)::BIGINT AS d,
        |    sum(round(l_extendedprice * 100, 0)::BIGINT)::BIGINT AS cents
        |  FROM lineitem GROUP BY l_partkey),
        |b AS (SELECT CASE WHEN d < 25 THEN '1_cold'
        |    WHEN d < 35 THEN '2_warm' ELSE '3_hot' END AS band,
        |    d, cents FROM parts),
        |g AS (SELECT band, count(*)::BIGINT AS n_parts,
        |    sum(cents)::BIGINT AS band_cents FROM b GROUP BY band),
        |tot AS (SELECT sum(n_parts)::BIGINT AS tp,
        |    sum(band_cents)::BIGINT AS tc FROM g)
        |SELECT band, n_parts,
        |  round(n_parts / tp::DOUBLE, 6) AS catalog_share,
        |  round(band_cents / 100.0, 2) AS revenue,
        |  round(band_cents / tc::DOUBLE, 6) AS revenue_share
        |FROM g, tot ORDER BY band""".stripMargin,
    "q296_partition_planner" ->
      """SELECT ts::DATE AS day, count(*)::BIGINT AS n_rows,
        |  sum(32 + length(event_type) + length(props))::BIGINT AS est_bytes,
        |  floor((sum(32 + length(event_type) + length(props)) + 1048575) /
        |    1048576.0)::BIGINT AS n_files
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q306_dsv2_sink_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q312_columnar_scan" ->
      """SELECT 'w' || (id % 13)::VARCHAR AS word, count(*) AS n,
        |  (sum((id * 2654435761) % 1000003))::BIGINT AS sum_cents,
        |  min(id)::BIGINT AS min_id, max(id % 97)::BIGINT AS max_bucket
        |FROM range(0, 2000000) t(id)
        |GROUP BY 1 ORDER BY word""".stripMargin,
    "q314_runtime_pruned_join" ->
      """SELECT id % 97 AS bucket, count(*) AS n,
        |  sum((id * 2654435761) % 1000003)::BIGINT AS sum_cents
        |FROM range(0, 2000000) t(id)
        |WHERE (id % 97) % 19 = 3
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q320_dsv2_topn" ->
      """SELECT id, id % 97 AS bucket,
        |  (id * 2654435761) % 1000003 AS cents,
        |  'w' || (id % 13)::VARCHAR AS word
        |FROM range(999999995, 1000000000) t(id)
        |ORDER BY id DESC""".stripMargin,
    "q321_dsv2_grouped_pushdown" ->
      """SELECT id % 97 AS bucket, count(*) AS n_rows,
        |  min(id) AS min_id, max(id) AS max_id, sum(id)::BIGINT AS sum_id
        |FROM range(25000000, 75000000) t(id)
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q337_runtime_bloom_join" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
