package graft.ops

import graft.ops.Caches.Tracked

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream analytics: JSON props extraction (SURVEY F5/F6) and
  * time-window aggregation — the batch twin of the Structured Streaming path
  * in [[graft.streaming.EventsStream]].
  *
  * `events.ts` is nanosecond parquet; [[Tables.events]] normalizes to
  * micro-precision TimestampType, and every oracle-compared value is
  * `date_trunc`'d so nanos-vs-micros can never differ (FIXTURES.md caveat).
  */
object EventOps {

  /** F5: JSON property extraction + aggregation. `props` is a JSON object
    * string (e.g. {"k": 87}); `get_json_object` runs codegen'd, no UDF.
    */
  def jsonPropsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        OracleMath.stableRound(sum(col("k")) * lit(1.0) / count(lit(1)), 4).as("avg_k"))
      .orderBy(col("event_type"))

  /** Tumbling-hour aggregation per event type (batch). One shuffle on
    * (hour, type); partial aggregation map-side. At 100 TB the input would be
    * date-partitioned parquet and the hour filter prunes partitions.
    */
  def hourlyByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Per-user activity profile using min/max + distinct count. Timestamps are
    * minute-truncated before min/max so the oracle compare is
    * precision-stable (truncation is monotone, so min/max commute with it).
    */
  def userActivity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        date_trunc("minute", min(col("ts"))).as("first_minute"),
        date_trunc("minute", max(col("ts"))).as("last_minute"))
      .orderBy(col("user_id"))

  /** The reference's safe-JSON-parse chain (F4→F5→F6) exercised in-plan:
    * deterministically junk-wrap each row's `props` the way LLM replies come
    * back (markdown fence + `json` tag + a two-element array), then recover
    * through [[graft.enrich.SafeJsonParse.parsedArray]] and aggregate the
    * parsed structs. Parsed counts/sums are exactly 2× the clean values —
    * the oracle checks the parser did real work, not an identity pass.
    */
  def safeJsonChain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = ArrayType(StructType(Seq(StructField("k", LongType))))
    val junk = concat(lit("```json\n[ "), col("props"), lit(" , "), col("props"), lit(" ]\n```"))
    Tables.events(spark, dir)
      .withColumn("parsed", graft.enrich.SafeJsonParse.parsedArray(junk, schema))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(size(col("parsed"))).cast("long").as("n_parsed"),
        sum(aggregate(col("parsed"), lit(0L), (acc, s) => acc + s.getField("k"))).cast("long").as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** JSON-lines source/sink round trip: stage the events table as
    * newline-delimited JSON (the third format besides parquet and CSV), read
    * it back with an explicit schema, aggregate. Staged once per sf dir;
    * the oracle runs on the original parquet — matching proves the format
    * round trip is lossless for the projected columns.
    */
  def jsonRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = Staging.ensure(spark, "json", dir, Seq("events"), Seq("events_json")) { base =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(base + "/events_json")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    spark.read.schema(schema).json(base + "/events_json")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** CSV source/sink round trip — the reference's OWN output format (S5:
    * `to_csv` + S3 PUT, dag:827-852) closed into the verify gate: write the
    * projected events table as headered CSV, read it back with an explicit
    * schema (no inference in production paths, SURVEY §1.3), aggregate. The
    * oracle runs on the original parquet — matching proves the CSV round
    * trip is lossless for longs, strings and doubles (Spark writes doubles
    * as shortest-roundtrip decimal). Staged once per sf dir.
    */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = Staging.ensure(spark, "evcsv", dir, Seq("events"), Seq("events_csv")) { base =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.option("header", "true").mode("overwrite").csv(base + "/events_csv")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    spark.read.option("header", "true").schema(schema).csv(base + "/events_csv")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** PERMISSIVE malformed-row ingestion: a landing CSV always contains junk
    * — wrong arity, unparseable numerics — and a 100 TB ingest cannot die
    * on row one (FAILFAST) or silently drop rows (DROPMALFORMED).
    * PERMISSIVE mode nulls the bad fields and captures the raw line in
    * `_corrupt_record`, so the pipeline quarantines rejects for triage
    * while the well-formed rows flow on. The staged file carries 6
    * deterministic bad lines (wrong arity / non-numeric value / trailing
    * garbage); the oracle rebuilds the good-row aggregate from the source
    * facts and pins the quarantine count.
    */
  def permissiveCsv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = Staging.ensure(spark, "badcsv", dir, Seq("events"), Seq("events_bad_csv")) { base =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(4)
        .write.option("header", "true").mode("overwrite").csv(base + "/events_bad_csv")
      // append one small part holding ONLY deterministic junk rows
      val bad = Seq(
        "only_two,fields",
        "1,2,click,not_a_number",
        "x,y",
        "9999999,42,view,1.25,trailing,garbage",
        "no_commas_at_all_this_line",
        "-1,abc,purchase,3.5") // NB ",,," would NOT be corrupt: empty fields parse as legitimate nulls
      val path = new org.apache.hadoop.fs.Path(base + "/events_bad_csv/part-junk.csv")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(path, true)
      out.write(("event_id,user_id,event_type,value\n" + bad.mkString("\n") + "\n")
        .getBytes("UTF-8"))
      out.close()
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("_corrupt_record", StringType)))
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(base + "/events_bad_csv")
      .persistTracked() // corrupt-record column requires referencing raw + derived together
    val good = raw.filter(col("_corrupt_record").isNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    val quarantine = raw.filter(col("_corrupt_record").isNotNull)
      .agg(lit("_quarantined").as("event_type"),
        count(lit(1)).as("n"), lit(0.0).as("sum_value"))
    // eager localCheckpoint of the (tiny) aggregate lets the corrupt-record
    // cache be released NOW instead of leaking one cached scan per call
    val out = good.unionByName(quarantine).checkpointTracked()
    raw.unpersist()
    out.orderBy(col("event_type"))
  }

  /** Mergeable quantile sketch + merge≡full-scan proof — the quantile member
    * of the algebraic-sketch rollup family (q123 count/sum/min/max, q124
    * HLL): a fixed-boundary histogram sketch (256 bins × width 4) kept in
    * long form (group, bin, cnt). Unlike t-digest/KLL, whose centroids
    * depend on merge order, fixed boundaries make the merge EXACTLY
    * order-independent (vector addition), so daily partial sketches merged
    * into months are bit-identical to sketches built from a full month scan.
    * Both paths are computed and emitted side by side, and the oracle
    * hash-checks the whole result: the sketch quantile rule — smallest bin
    * upper edge whose cumulative count reaches p·n — is plain arithmetic in
    * both engines. At 100 TB this is the production percentile-dashboard
    * pattern: yesterday's KB-sized sketches are merged, never rescanned;
    * error is bounded by bin width (spec-checked against exact quantiles),
    * traded explicitly for mergeability.
    */
  def histQuantileMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binW = 4.0
    val bin = least(floor(col("value") / binW), lit(255.0)).cast("long")
    val ev = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"), bin.as("bin"))
    val daily = ev.groupBy(col("day"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val merged = daily
      .groupBy(date_trunc("month", col("day")).as("month"), col("event_type"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
    val full = ev
      .groupBy(date_trunc("month", col("day")).as("month"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    def quantiles(h: DataFrame, sfx: String): DataFrame = {
      val wc = Window.partitionBy(col("month"), col("event_type")).orderBy(col("bin"))
      val wn = Window.partitionBy(col("month"), col("event_type"))
      val c = h.withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(wn))
      def q(p: Double) = min(when(col("cum").cast("double") >= col("n") * lit(p),
        (col("bin") + 1).cast("double") * lit(binW)))
      c.groupBy(col("month"), col("event_type"))
        .agg(q(0.5).as(s"p50_$sfx"), q(0.9).as(s"p90_$sfx"))
    }
    quantiles(merged, "merged").join(quantiles(full, "full"), Seq("month", "event_type"))
      .orderBy(col("month"), col("event_type"))
  }

  /** Sliding-window sketch reuse: 7-day trailing distinct users per day,
    * from DAILY HLL sketches — each daily sketch is built once from the
    * facts, then exploded into the 7 trailing windows it covers and
    * union-merged per window. The facts are scanned exactly once; every
    * window merge touches only KB-sized sketches. The exact trailing
    * distinct (computed independently from distinct (day,user) pairs,
    * same explode) rides along: at 100 TB you'd drop it — it reshuffles
    * user ids per window — which is exactly why the sketch path exists.
    * Estimate is implementation-defined ⇒ rows-check; spec bounds error.
    */
  def hllSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val win7 = (d: Column) => explode(sequence(d, d + expr("INTERVAL 6 DAYS"),
      expr("INTERVAL 1 DAY")))
    val days = ev.select(date_trunc("day", col("ts")).as("day")).distinct()
    val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val est = daily.select(win7(col("day")).as("wend"), col("sk"))
      .groupBy(col("wend"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"),
        count(lit(1)).as("n_days"))
    val exact = ev.select(date_trunc("day", col("ts")).as("day"), col("user_id")).distinct()
      .select(win7(col("day")).as("wend"), col("user_id")).distinct()
      .groupBy(col("wend")).agg(count(lit(1)).as("exact_users"))
    // same oracle-checkable-envelope pattern as [[hllRollup]]: the estimate
    // travels as its 5% bound flag, the exact trailing distinct hash-checks
    est.join(exact, "wend")
      .join(days.select(col("day").as("wend")), "wend") // windows ending inside the data range
      .select(col("wend"), col("n_days"), col("exact_users"),
        (abs(col("est_users") - col("exact_users"))
          <= greatest(lit(1.0), col("exact_users") * lit(0.05))).as("est_ok"))
      .orderBy(col("wend"))
  }

  /** EXACT sliding 7-day distinct users via mergeable daily bitmaps — the
    * exact upgrade of q133's HLL window reuse (and of its own internal
    * exact check, which re-distincts (window, user) pairs: 7× user-day rows
    * through a shuffle). Here the facts are touched ONCE: per (day, bucket)
    * user-position bitmaps are built in one aggregation, then only those
    * BITMAPS ride the 7-window spine expansion and are OR-merged per
    * (window, bucket) — `bitmap_or_agg` is associative/commutative, so the
    * trailing distinct count is exact under any merge order (hash-matched,
    * where HLL could only ever be envelope-checked). State per group is
    * O(users∕8) bytes per bucket — the same economics that make q138/q164
    * feasible at 100 TB.
    */
  def bitmapSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val win7 = (d: Column) => explode(sequence(d, d + expr("INTERVAL 6 DAYS"),
      expr("INTERVAL 1 DAY")))
    val days = ev.select(date_trunc("day", col("ts")).as("day")).distinct()
    val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"),
        expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    daily
      .select(win7(col("day")).as("wend"), col("bkt"), col("bm"))
      .groupBy(col("wend"), col("bkt"))
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("n_bkt"))
      .groupBy(col("wend"))
      .agg(sum(col("n_bkt")).as("trailing_users"))
      .join(days.select(col("day").as("wend")), "wend") // windows ending in-range
      .orderBy(col("wend"))
  }

  val bitmapSlidingOracle: String =
    """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
      |SELECT d.day AS wend, CAST(count(DISTINCT u.user_id) AS BIGINT) AS trailing_users
      |FROM days d JOIN du u
      |  ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
      |GROUP BY 1 ORDER BY wend""".stripMargin

  /** MapType surface: per-user map of event_type → count built with
    * `map_from_entries(collect_list(struct(…)))`, then exploded back to
    * rows. Maps are how a pipeline carries open-ended per-entity feature
    * bags (e.g. per-source token counts) without a schema change per
    * feature; building and exploding one round-trips the type system. The
    * map entry ORDER is collect_list-nondeterministic, but the exploded
    * (key, value) SET is exact — the final orderBy restores determinism.
    */
  def typeMapAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("cnt")))).as("type_counts"))
      .select(col("user_id"), explode(col("type_counts")).as(Seq("event_type", "cnt")))
      .orderBy(col("user_id"), col("event_type"))

  /** Funnel / sequence analytics: how far along signup → view → click →
    * purchase each user got, in strict temporal order (each stage's FIRST
    * occurrence must follow the previous stage's first occurrence). One
    * hash aggregation — min(ts) per stage via conditional aggregates — then
    * a pure projection; no self-joins, no windows, so it scales as a single
    * shuffle on user_id at any event volume. Raw-ts comparisons are safe
    * cross-engine here because the testdata's nanos are micro-aligned
    * (truncation to micros is lossless) and comparisons stay within one row.
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    def minTs(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val s1 = col("t_signup").isNotNull
    val s2 = s1 && col("t_view") > col("t_signup")
    val s3 = s2 && col("t_click") > col("t_view")
    val s4 = s3 && col("t_purchase") > col("t_click")
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(minTs("signup"), minTs("view"), minTs("click"), minTs("purchase"))
      .withColumn("stage",
        when(s4, 4L).when(s3, 3L).when(s2, 2L).when(s1, 1L).otherwise(0L))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  /** ORC source/sink round trip (fourth format besides parquet, CSV and
    * JSON-lines — Spark's native columnar alternative): stage the projected
    * events table as ORC, read it back, aggregate. The oracle runs on the
    * original parquet — matching proves the format round trip is lossless
    * for the projected columns. Staged once per sf dir.
    */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = Staging.ensure(spark, "orc", dir, Seq("events"), Seq("events_orc")) { base =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(base + "/events_orc")
    }
    spark.read.orc(base + "/events_orc")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Partition-pruned scan: stage events as a hive-partitioned parquet
    * layout (`event_type=.../part-*.parquet`) once, then aggregate ONE
    * partition. The filter resolves at planning time against directory
    * names — `PartitionFilters` in the scan, zero bytes read from other
    * partitions (plan-shape-asserted in the spec). At 100 TB this is the
    * difference between scanning 20 TB and 100 TB; the daily-file landing
    * pattern of the reference maps to exactly this layout with a date
    * partition column.
    */
  def partitionedScan(spark: SparkSession, dir: String): DataFrame = {
    val base = Staging.ensure(spark, "part", dir, Seq("events"), Seq("events_part")) { base =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"), col("ts"), col("event_type"))
        .write.partitionBy("event_type").mode("overwrite").parquet(base + "/events_part")
    }
    spark.read.parquet(base + "/events_part")
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("day"))
  }

  /** Dynamic partition overwrite — the day-level backfill every data lake
    * runs: write events day-partitioned, then re-write ONE day's rows with
    * a correction (value doubled) with the writer option
    * `partitionOverwriteMode=dynamic`, which replaces exactly the
    * partitions present in the incoming frame and leaves all others
    * untouched (static mode would wipe the whole table first). The option
    * scopes the mode to this one write; the caller's session conf is never
    * touched. The final
    * aggregate proves the surgical scope: only 2024-01-05 changed, and the
    * oracle reproduces the corrected table directly from the source facts.
    * Fresh table per call (not Staging.ensure): the overwrite IS the
    * operator; a cached mutated table would break re-runs. The table lives
    * in a per-run dir, deleted at the next `Caches.releaseAll`.
    */
  def partitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val tbl = Caches.deleteOnRelease(Staging.perRunDir("graft_dynpo")) + "/events_days"
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").mode("overwrite").parquet(tbl)
    ev.filter(col("day") === "2024-01-05")
      .withColumn("value", col("value") * 2)
      .write.partitionBy("day").option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(tbl)
    spark.read.parquet(tbl)
      // partition-column type inference reads "2024-01-05" back as DATE;
      // cast to string for dtype parity with the oracle's strftime
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("day"))
  }

  /** Morton (Z-order) spread: 16-bit value → 32-bit with a 0 bit between
    * every data bit, via the classic shift-or-mask ladder (pure codegen'd
    * integer ops; identical arithmetic is expressible in the SQL twin).
    */
  private def zspread(v: Column): Column = {
    val m = Seq(0x00FF00FFL, 0x0F0F0F0FL, 0x33333333L, 0x55555555L)
    val s = Seq(8, 4, 2, 1)
    m.zip(s).foldLeft(v.bitwiseAND(lit(0xFFFFL))) {
      case (x, (mask, sh)) => (x.bitwiseOR(shiftleft(x, sh))).bitwiseAND(lit(mask))
    }
  }

  /** Z-order (Morton-curve) layout statistics: interleave the bits of two
    * query dimensions (user_id, ⌊value⌋) into one sort key and report, per
    * coarse z-bucket, how tightly BOTH dimensions are bounded.
    *
    * Why this is a 100 TB operator: sorting/clustering a table by z-value
    * before writing makes every parquet row group's min/max stats narrow in
    * EVERY interleaved dimension at once — so a scan filtered on `user_id`
    * AND/OR `value` skips most row groups, where a single-column sort only
    * prunes its own column. The per-bucket `(x_max−x_min)·(y_max−y_min)`
    * areas this query reports are exactly the row-group bounding boxes a
    * reader would prune against (each bucket covers ≤ 2^10 × 2^10 of the
    * 2^16 × 2^16 key space — narrow in both dimensions, vs a range covering
    * the full y-extent under a lexicographic (x, y) sort). The layout step
    * itself is `repartitionByRange(zval) + sortWithinPartitions(zval) +
    * write` — demonstrated shape-only here (the stats query is the
    * deterministic, oracle-checkable part).
    */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val x = col("user_id").bitwiseAND(lit(0xFFFFL))
    val y = floor(col("value")).cast("long").bitwiseAND(lit(0xFFFFL))
    val zval = zspread(x).bitwiseOR(shiftleft(zspread(y), 1))
    Tables.events(spark, dir)
      .select(x.as("x"), y.as("y"), zval.as("zval"))
      .groupBy(shiftright(col("zval"), 12).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy(col("zbucket"))
  }

  /** The session rule q18 and the streaming sessionizers (q51, q72, q80,
    * q206) share: on minute-truncated timestamps, an event opens a new
    * session when it is its user's first or comes more than `SessionGapSec`
    * after the user's previous event.
    */
  val SessionGapSec = 1800L

  /** The session rule's new-session test on epoch-second minutes;
    * `Long.MinValue` stands for "no previous event".
    */
  def newSession(lastMinute: Long, minute: Long): Boolean =
    lastMinute == Long.MinValue || minute - lastMinute > SessionGapSec

  /** Event-time deadline (ms) past which no event can extend a session whose
    * last event fell in `lastMinute` — the streaming sessionizers' timer.
    */
  def sessionDeadlineMs(lastMinute: Long): Long = (lastMinute + SessionGapSec + 60L) * 1000L

  /** Sessionization-style window: for each user, order events by time and
    * count session starts under the session rule ([[SessionGapSec]]). `lag`
    * over a per-user window; the minute-truncated gap keeps oracle parity.
    */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("m"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), date_trunc("minute", col("ts")).as("m"))
      .withColumn("prev_m", lag(col("m"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_m").isNull
          || unix_timestamp(col("m")) - unix_timestamp(col("prev_m")) > SessionGapSec, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Oracle twin of [[sessionCounts]] — the one SQL statement of the session
    * rule, which the streaming sessionizers must equal too.
    */
  val sessionCountsOracle: String =
    """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
      | SELECT user_id, CASE WHEN prev_m IS NULL OR date_diff('second', prev_m, m) > 1800 THEN 1 ELSE 0 END AS new_session FROM (
      |  SELECT user_id, date_trunc('minute', ts) AS m,
      |   lag(date_trunc('minute', ts)) OVER (PARTITION BY user_id ORDER BY date_trunc('minute', ts), event_id) AS prev_m
      |  FROM events))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sliding-window aggregation: 1-hour windows sliding every 30 minutes —
    * each event lands in exactly two overlapping windows (the tumbling
    * hourly query q16 is the slide == size special case). Spark expands the
    * row per window then hash-aggregates; epoch-aligned starts make the
    * oracle's `time_bucket` twin exact.
    */
  def slidingHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))

  /** Gap-based session windows via the built-in `session_window` (the batch
    * form of the streaming session operator; q51/q72 implement the same
    * semantics with explicit state). A session extends while the next event
    * starts strictly before previous-ts + gap; output keys are microsecond
    * epoch longs — exact in both engines now that nanos→micros is integer
    * division.
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s_start_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("s_start_us"))

  /** AS-OF attribution: every purchase matched to the user's latest click at
    * or before the purchase time, via the custom [[graft.plans.AsOfJoin]]
    * operator (logical node + strategy + merge-pass physical exec). Output is
    * ids + whole-second lag, which both engines compute identically at
    * microsecond precision (per-side floor to seconds = DuckDB's
    * boundary-counting `date_diff`); the test data has no duplicate
    * (user, ts) pairs, so the as-of match is unique and deterministic.
    */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
    // alias the right side: a self-as-of-join must not share attribute ids
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    graft.plans.AsOfJoin.asof(purchases, clicks,
        Seq(purchases("user_id")), Seq(clicks("click_user")),
        purchases("ts"), clicks("click_ts"))
      .select(col("event_id").as("purchase_id"), col("user_id"), col("click_id"),
        expr("unix_micros(ts) DIV 1000000 - unix_micros(click_ts) DIV 1000000")
          .as("lag_seconds"))
      .orderBy(col("purchase_id"))
  }

  /** [[asofAttribution]] restricted to a user subset — written the way an
    * analyst would (filter AFTER the join), as the pushdown showcase for the
    * custom operator: Catalyst's own `PushDownPredicates` stops at a node it
    * doesn't know, so [[graft.plans.AsOfJoinFilterPushdown]] moves the IN
    * through [[graft.plans.AsOfJoinPlan]] into the left child and MIRRORS it
    * onto the right join key. Both scans prune before the shuffle
    * (plan-asserted in the spec) — at 100 TB the predicate reaches the
    * parquet row groups instead of filtering after two full shuffles.
    */
  def asofAttributionFiltered(spark: SparkSession, dir: String): DataFrame =
    asofAttribution(spark, dir)
      .filter(col("user_id").isin(1L, 3L, 7L, 11L, 13L))
      .orderBy(col("purchase_id"))

  /** q326 — [[asofAttribution]] restricted to a reporting CUTOFF, written
    * the analyst way (filter after the join): the pushed `ts ≤ U` now also
    * MIRRORS onto the right side as `click_ts ≤ U` (backward as-of: a later
    * click can never be the latest-at-or-before match for a surviving
    * purchase), so BOTH children shrink before their shuffles — the
    * consumer of the round-10 time-bound mirror in
    * [[graft.plans.AsOfJoinFilterPushdown]].
    */
  def asofAttributionBounded(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    graft.plans.AsOfJoin.asof(purchases, clicks,
        Seq(purchases("user_id")), Seq(clicks("click_user")),
        purchases("ts"), clicks("click_ts"))
      .filter(col("ts") <= to_timestamp(lit("2024-01-15 00:00:00")))
      .select(col("event_id").as("purchase_id"), col("user_id"), col("click_id"),
        expr("unix_micros(ts) DIV 1000000 - unix_micros(click_ts) DIV 1000000")
          .as("lag_seconds"))
      .orderBy(col("purchase_id"))
  }

  /** Outer variant of [[asofAttribution]]: keep purchases with NO prior
    * click (user's first purchase precedes any click). Unmatched right
    * columns coalesce to -1 so the oracle compare never faces null-vs-NaN
    * dtype drift.
    */
  /** Nearest-click window for [[nearestAttribution]]: ±30 minutes. */
  val NearestWindowSec = 1800L

  /** NEAREST-event attribution — each purchase attributed to the closest
    * click in EITHER direction within ±[[NearestWindowSec]], composed from
    * TWO passes of the custom as-of operator: the backward pass is the
    * plain [[asofAttribution]] shape (latest click ≤ purchase), the forward
    * pass is the SAME operator on NEGATED epoch seconds (greatest −c ≤ −p ⇔
    * earliest click ≥ purchase — the standard trick that makes one as-of
    * primitive serve both directions). The row-local combine picks the
    * smaller gap, preferring backward on ties, and gates by the window.
    *
    * Determinism: clicks are deduplicated to one per (user, second) by min
    * event id BEFORE the joins (the merge pass holds one candidate per
    * (key, time) — equal-time ties would otherwise be sort-stability
    * dependent); all gaps are exact integer seconds. Scale shape: two
    * key-clustered merge joins (one shuffle+sort per side each) + one
    * purchase-keyed self-join of the two skinny attribution results.
    */
  def nearestAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("cu"), col("t").as("ct"))
      .agg(min(col("event_id")).as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("t").as("pt"))
    val back = graft.plans.AsOfJoin.asof(purchases, clicks,
        Seq(purchases("user_id")), Seq(clicks("cu")),
        purchases("pt"), clicks("ct"), outer = true)
      .select(col("purchase_id"), col("user_id"), col("pt"),
        col("click_id").as("b_click"), col("ct").as("b_t"))
    val clicksNeg = clicks
      .select(col("cu").as("fu"), (-col("ct")).as("nct"), col("ct").as("fct"),
        col("click_id").as("f_click_id"))
    val purchNeg = purchases
      .select(col("purchase_id").as("f_purchase_id"), col("user_id").as("pu"),
        (-col("pt")).as("npt"))
    val fwd = graft.plans.AsOfJoin.asof(purchNeg, clicksNeg,
        Seq(purchNeg("pu")), Seq(clicksNeg("fu")),
        purchNeg("npt"), clicksNeg("nct"), outer = true)
      .select(col("f_purchase_id").as("purchase_id"),
        col("f_click_id").as("f_click"), col("fct").as("f_t"))
    val w = lit(NearestWindowSec)
    val bGap = col("pt") - col("b_t")
    val fGap = col("f_t") - col("pt")
    val bOk = col("b_t").isNotNull && bGap <= w
    val fOk = col("f_t").isNotNull && fGap <= w
    back.join(fwd, Seq("purchase_id"))
      .select(col("purchase_id"), col("user_id"),
        when(bOk && (!fOk || bGap <= fGap), col("b_click"))
          .when(fOk, col("f_click")).otherwise(lit(-1L)).as("click_id"),
        when(bOk && (!fOk || bGap <= fGap), lit("back"))
          .when(fOk, lit("fwd")).otherwise(lit("none")).as("direction"),
        when(bOk && (!fOk || bGap <= fGap), bGap)
          .when(fOk, fGap).otherwise(lit(-1L)).as("gap_s"))
      .orderBy(col("purchase_id"))
  }

  val nearestAttributionOracle: String =
    s"""WITH c AS (SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
       |    min(event_id) AS click_id
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
       |p AS (SELECT event_id AS purchase_id, user_id,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
       |  FROM events WHERE event_type = 'purchase'),
       |cand AS (SELECT p.purchase_id, p.pt, c.t, c.click_id, abs(p.pt - c.t) AS gap
       |  FROM p JOIN c ON p.user_id = c.user_id AND abs(p.pt - c.t) <= $NearestWindowSec),
       |best AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY purchase_id ORDER BY gap, t, click_id) AS rn
       |    FROM cand) WHERE rn = 1)
       |SELECT p.purchase_id, p.user_id,
       |  CAST(coalesce(b.click_id, -1) AS BIGINT) AS click_id,
       |  CASE WHEN b.click_id IS NULL THEN 'none'
       |       WHEN b.t <= p.pt THEN 'back' ELSE 'fwd' END AS direction,
       |  CAST(coalesce(b.gap, -1) AS BIGINT) AS gap_s
       |FROM p LEFT JOIN best b USING (purchase_id)
       |ORDER BY purchase_id""".stripMargin

  /** Daily value-drift monitor — the data-quality observability primitive a
    * continuously-ingesting pipeline runs on every landing day: each day's
    * mean event value and volume compared against its trailing 7-day window
    * (excluding the current day), with days drifting > 10% flagged. The
    * pipeline-health counterpart of q165's shuffle-skew profile.
    *
    * Numeric design: the trailing window sums DECIMALs and integers ONLY
    * (exact, order-free — Spark's scan-based and DuckDB's segment-tree
    * window aggregation sum frames in different float orders, so a double
    * window sum would drift between engines); every double division happens
    * per-row AFTER the exact window sums, in one fixed expression shape.
    * The global day-ordered window runs on the already-aggregated daily
    * table (one row per day — thousands of rows at 100 TB, not billions).
    */
  def valueDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("sum_v"))
    val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
    val dayMean = col("sum_v").cast("double") / col("n")
    val trailMean = col("trail_sum").cast("double") / col("trail_n")
    daily
      .withColumn("trail_days", count(lit(1)).over(w))
      .withColumn("trail_n", sum(col("n")).over(w))
      .withColumn("trail_sum", sum(col("sum_v")).over(w))
      .filter(col("trail_days") >= 3)
      .select(col("day"), col("n"),
        OracleMath.stableRound(dayMean, 6).as("day_mean"),
        OracleMath.stableRound(trailMean, 6).as("trail_mean"),
        OracleMath.stableRound(lit(100.0) * (dayMean - trailMean) / trailMean, 4).as("drift_pct"),
        OracleMath.stableRound(col("n").cast("double") * col("trail_days") / col("trail_n"), 4)
          .as("vol_ratio"))
      .withColumn("flagged", abs(col("drift_pct")) > lit(10.0))
      .orderBy(col("day"))
  }

  val valueDriftOracle: String = {
    val dayMean = "CAST(sum_v AS DOUBLE) / n"
    val trailMean = "CAST(trail_sum AS DOUBLE) / trail_n"
    s"""WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n,
       |                sum(CAST(value AS DECIMAL(18,2))) AS sum_v
       |               FROM events GROUP BY 1),
       |t AS (SELECT day, n, sum_v,
       |        count(*) OVER w AS trail_days,
       |        sum(n) OVER w AS trail_n,
       |        sum(sum_v) OVER w AS trail_sum
       |      FROM daily
       |      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
       |SELECT day, n, day_mean, trail_mean, drift_pct, vol_ratio,
       |       abs(drift_pct) > 10.0 AS flagged
       |FROM (SELECT day, n,
       |        ${graft.ops.OracleMath.stableRoundSql(dayMean, 6)} AS day_mean,
       |        ${graft.ops.OracleMath.stableRoundSql(trailMean, 6)} AS trail_mean,
       |        ${graft.ops.OracleMath.stableRoundSql(s"100.0 * (($dayMean) - ($trailMean)) / ($trailMean)", 4)} AS drift_pct,
       |        ${graft.ops.OracleMath.stableRoundSql("CAST(n AS DOUBLE) * trail_days / trail_n", 4)} AS vol_ratio
       |      FROM t WHERE trail_days >= 3)
       |ORDER BY day""".stripMargin
  }

  /** Forward-fill (last-observation-carried-forward): every event carries the
    * value of the user's most recent *click* — `last(..., ignoreNulls)` over
    * a (user, time)-ordered window, the standard gap-repair primitive for
    * sensor/event streams. One shuffle on user_id; the running frame is
    * computed in a single pass per partition. Rows before a user's first
    * click coalesce to -1 (null-vs-NaN dtype drift trap). Ordering is
    * (micro-truncated ts, event_id) — unique, so RANGE-frame peer groups
    * can't differ between engines.
    */
  def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "click", col("value")).as("v"))
      .withColumn("last_click_value",
        coalesce(last(col("v"), ignoreNulls = true).over(w), lit(-1.0)))
      .select(col("user_id"), col("event_id"), col("last_click_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Date-spine gap-fill: daily purchase revenue for a sparse user subset,
    * densified over the full observed day range × event grid so missing days
    * report explicit zeros (the resample step before any time-series model).
    * The spine derives from the data's own min/max day (one tiny agg), is
    * exploded from a `sequence` (no driver loop), and the grid side of the
    * final join is broadcast — days × keys is dimension-sized by
    * construction, even at 100 TB of facts.
    */
  def gapfillDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"),
        col("event_type"), col("value"))
    val sparse = ev.filter(col("event_type") === "purchase" && col("user_id") < 5)
    val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val users = sparse.select(col("user_id")).distinct()
    val daily = sparse.groupBy(col("day"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("rev"))
    spine.crossJoin(users)
      .join(daily, Seq("day", "user_id"), "left")
      .select(col("day"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_purchases"),
        coalesce(col("rev").cast("double"), lit(0.0)).as("revenue"))
      .orderBy(col("day"), col("user_id"))
  }

  /** Linear-interpolation imputation over the q121 date spine — the
    * third member of the imputation family (q120 forward-fill carries the
    * last value; q121 writes explicit zeros; THIS estimates the missing
    * level, the right choice for a continuously-varying signal like mean
    * daily value). For each missing (type, day): value = prev + (next −
    * prev)·offset∕span from the nearest present neighbors on both sides
    * (`last/first IGNORE NULLS` over the spine); boundary gaps take the one
    * neighbor that exists.
    *
    * Exactness: neighbor values are exact integer cents and day offsets
    * exact integers, so the interpolation is ONE fixed float expression
    * over exact inputs — engine-identical. The windows run on the
    * types × days grid (dimension-sized at any corpus scale, like q121);
    * the facts contribute through one daily hash aggregate.
    */
  def interpolateDaily(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val daily = ev.groupBy(col("day"), col("event_type"))
      .agg(sum(col("cents")).as("cents"))
      // sparsify deterministically so interpolation has real gaps to fill
      // at every SF: drop days whose epoch-day is ≡ 0 (mod 5) for this type
      .withColumn("dropped",
        pmod(expr("unix_timestamp(day) DIV 86400") +
          length(col("event_type")), lit(5L)) === 0L)
    val spine = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val types = ev.select(col("event_type")).distinct()
    val grid = spine.crossJoin(types)
      .join(daily.filter(!col("dropped")).drop("dropped"),
        Seq("day", "event_type"), "left")
      .withColumn("d", expr("unix_timestamp(day) DIV 86400"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val prevV = last(col("cents"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val prevD = last(when(col("cents").isNotNull, col("d")), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val nextV = first(col("cents"), ignoreNulls = true)
      .over(w.rowsBetween(1, Window.unboundedFollowing))
    val nextD = first(when(col("cents").isNotNull, col("d")), ignoreNulls = true)
      .over(w.rowsBetween(1, Window.unboundedFollowing))
    grid
      .withColumn("pv", prevV).withColumn("pd", prevD)
      .withColumn("nv", nextV).withColumn("nd", nextD)
      .select(col("day"), col("event_type"),
        col("cents").isNotNull.as("observed"),
        OracleMath.stableRound(
          when(col("cents").isNotNull, col("cents").cast("double"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv").cast("double") +
                (col("nv") - col("pv")).cast("double") *
                  (col("d") - col("pd")).cast("double") /
                  (col("nd") - col("pd")).cast("double"))
            .when(col("pv").isNotNull, col("pv").cast("double"))
            .otherwise(col("nv").cast("double")) / 100.0, 4).as("value_filled"))
      .orderBy(col("event_type"), col("day"))
  }

  val interpolateDailyOracle: String = {
    val filled = """(CASE
      |    WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
      |      CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) * CAST(dd - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)
      |    WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE)
      |    ELSE CAST(nv AS DOUBLE) END / 100.0)""".stripMargin
    s"""WITH ev AS (SELECT date_trunc('day', ts) AS day, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |daily AS (SELECT day, event_type, CAST(sum(cents) AS BIGINT) AS cents,
      |    (CAST(epoch(day) AS BIGINT) // 86400 + length(event_type)) % 5 = 0 AS dropped
      |  FROM ev GROUP BY 1, 2),
      |spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |          FROM (SELECT min(day) AS d0, max(day) AS d1 FROM ev)),
      |grid AS (SELECT s.day, t.event_type, d.cents,
      |           CAST(epoch(s.day) AS BIGINT) // 86400 AS dd
      |         FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
      |         LEFT JOIN (SELECT * FROM daily WHERE NOT dropped) d
      |           ON s.day = d.day AND t.event_type = d.event_type),
      |n AS (SELECT *,
      |    last_value(cents IGNORE NULLS) OVER
      |      (PARTITION BY event_type ORDER BY dd ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
      |    last_value(CASE WHEN cents IS NOT NULL THEN dd END IGNORE NULLS) OVER
      |      (PARTITION BY event_type ORDER BY dd ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
      |    first_value(cents IGNORE NULLS) OVER
      |      (PARTITION BY event_type ORDER BY dd ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN cents IS NOT NULL THEN dd END IGNORE NULLS) OVER
      |      (PARTITION BY event_type ORDER BY dd ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
      |  FROM grid)
      |SELECT day, event_type, cents IS NOT NULL AS observed,
      |  ${OracleMath.stableRoundSql(filled, 4)} AS value_filled
      |FROM n ORDER BY event_type, day""".stripMargin
  }

  /** Growth-accounting window (days): a user returning within this window
    * is "returning"; after it, "resurrected"; a user with no activity for
    * this window after their last day counts as "churned" on day+window+1.
    * 1 day = the classic DAU growth-accounting convention (consecutive-day
    * actives are "retained"), and the choice under which every branch
    * genuinely fires on this corpus (its activity gaps top out at ~4 days —
    * a 7-day window would leave resurrected/churned as dead branches the
    * oracle never exercises).
    */
  val GrowthWindowDays = 1L

  /** Daily growth accounting — the canonical product-health decomposition
    * (new ∕ returning ∕ resurrected ∕ churned) that q122's cohort triangle
    * and q236's LTV curves don't give: each active (user, day) is
    * classified by the gap to the user's PREVIOUS active day (none → new;
    * ≤ [[GrowthWindowDays]] → returning; > [[GrowthWindowDays]] →
    * resurrected), and churn is the forward-looking mirror (no activity for
    * [[GrowthWindowDays]] after a last-active day → churned on
    * day+[[GrowthWindowDays]]+1, clipped to the observation horizon).
    * Identity: active = new + returning + resurrected, every day
    * (spec-pinned).
    *
    * Scale shape: ONE user-keyed shuffle of the distinct (user, day) pairs
    * powers both the lag and the lead; the daily rollups are days-sized.
    * All classification is exact integer date arithmetic.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w))
    val horizon = Tables.events(spark, dir)
      .agg(max(date_trunc("day", col("ts"))).as("h"))
    val classified = ud.select(col("day"),
      when(col("prev").isNull, "new")
        .when(datediff(col("day"), col("prev")) <= GrowthWindowDays, "returning")
        .otherwise("resurrected").as("cls"))
    val daily = classified.groupBy(col("day"))
      .agg(sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "returning", 1L).otherwise(0L)).as("n_returning"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        count(lit(1)).as("n_active"))
    val churn = ud
      .filter(col("next").isNull ||
        datediff(col("next"), col("day")) > GrowthWindowDays)
      .select((col("day") + expr(s"INTERVAL ${GrowthWindowDays + 1} DAYS")).as("day"))
      .crossJoin(horizon)
      .filter(col("day") <= col("h"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    daily.join(churn, Seq("day"), "left")
      .select(col("day"), col("n_new"), col("n_returning"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"), col("n_active"))
      .orderBy(col("day"))
  }

  val growthAccountingOracle: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
       |h AS (SELECT max(date_trunc('day', ts)) AS h FROM events),
       |x AS (SELECT *, lag(day) OVER w AS prev, lead(day) OVER w AS next
       |      FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
       |daily AS (SELECT day,
       |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN prev IS NOT NULL
       |      AND datediff('day', prev, day) <= $GrowthWindowDays THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
       |    CAST(sum(CASE WHEN prev IS NOT NULL
       |      AND datediff('day', prev, day) > $GrowthWindowDays THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
       |    count(*) AS n_active
       |  FROM x GROUP BY 1),
       |churn AS (SELECT day + INTERVAL ${GrowthWindowDays + 1} DAY AS day, count(*) AS n_churned
       |  FROM x, h
       |  WHERE (next IS NULL OR datediff('day', day, next) > $GrowthWindowDays)
       |    AND day + INTERVAL ${GrowthWindowDays + 1} DAY <= h.h
       |  GROUP BY 1)
       |SELECT d.day, d.n_new, d.n_returning, d.n_resurrected,
       |  CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned, d.n_active
       |FROM daily d LEFT JOIN churn c ON d.day = c.day
       |ORDER BY d.day""".stripMargin

  /** Cohort retention: users grouped by first-activity week, counted in each
    * subsequent week-offset they remain active — the canonical product-
    * analytics triangle. Two aggregations and one join on user_id; the
    * first-activity side is |users|-sized (aggregated before joining), so
    * the join shuffles the fact table once on its natural key and nothing
    * is ever collected. DISTINCT (user, cohort, offset) before the final
    * count keeps the count-distinct narrow.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(first, "user_id")
      .select(col("user_id"),
        date_trunc("week", col("cohort_day")).as("cohort_week"),
        floor(datediff(col("day"), col("cohort_day")) / 7).cast("long").as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Cohort LTV accumulation — the revenue half of q122's retention
    * triangle: per signup cohort (first-activity week) and week offset,
    * the period's spend and the cohort's RUNNING cumulative spend (the
    * LTV curve), divided by cohort size into LTV-per-user. Cumulative
    * spend is a DECIMAL window sum over the already-aggregated
    * (cohort, offset) table (cohorts × weeks rows — tiny at any corpus
    * scale), so the running curve is order-free exact; the only float is
    * the final per-row division. Cohort sizes join back from the q122
    * cohort definition, so the two reports can never disagree about who
    * belongs to which cohort.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val joined = ev.join(first, "user_id")
      .select(date_trunc("week", col("cohort_day")).as("cohort_week"),
        floor(datediff(col("day"), col("cohort_day")) / 7).cast("long").as("week_offset"),
        col("user_id"), col("v"))
    val cohortSize = joined.select(col("cohort_week"), col("user_id")).distinct()
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_users"))
    val spend = joined.groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(col("v")).as("spend"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spend
      .withColumn("cum_spend", sum(col("spend")).over(w))
      .join(cohortSize, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("cohort_users"),
        col("spend").cast("double").as("spend"),
        col("cum_spend").cast("double").as("cum_spend"),
        OracleMath.stableRound(
          col("cum_spend").cast("double") / col("cohort_users").cast("double"), 4)
          .as("ltv_per_user"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val cohortLtvOracle: String =
    s"""WITH ev AS (SELECT user_id, date_trunc('day', ts) AS day,
       |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
       |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
       |j AS (SELECT date_trunc('week', cohort_day) AS cohort_week,
       |        CAST(floor(date_diff('day', cohort_day, day) / 7) AS BIGINT) AS week_offset,
       |        ev.user_id, v
       |      FROM ev JOIN f USING (user_id)),
       |cs AS (SELECT cohort_week, count(DISTINCT user_id) AS cohort_users
       |       FROM j GROUP BY 1),
       |sp AS (SELECT cohort_week, week_offset, sum(v) AS spend
       |       FROM j GROUP BY 1, 2),
       |c AS (SELECT *, sum(spend) OVER (PARTITION BY cohort_week ORDER BY week_offset
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_spend
       |      FROM sp)
       |SELECT c.cohort_week, week_offset, cohort_users,
       |  CAST(spend AS DOUBLE) AS spend,
       |  CAST(cum_spend AS DOUBLE) AS cum_spend,
       |  ${OracleMath.stableRoundSql("CAST(cum_spend AS DOUBLE) / CAST(cohort_users AS DOUBLE)", 4)} AS ltv_per_user
       |FROM c JOIN cs USING (cohort_week)
       |ORDER BY cohort_week, week_offset""".stripMargin

  /** Incremental aggregate maintenance: per-day partial aggregate states
    * (count / sum / min / max) merged into the monthly rollup by
    * RE-aggregation — sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes.
    * This is the algebraic-aggregate contract that makes 100 TB rollups
    * incremental: yesterday's materialized partials never get rescanned,
    * only merged with today's delta. The oracle computes the same monthly
    * numbers directly from the raw facts, proving merge(partials) ≡
    * agg(full scan).
    */
  def aggMergeRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("s"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"))
    daily
      .groupBy(date_trunc("month", col("day")).as("month"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("s")).cast("double").as("sum_value"),
        min(col("mn")).as("min_value"),
        max(col("mx")).as("max_value"))
      .orderBy(col("month"), col("event_type"))
  }

  /** HLL-sketch rollup: per-day HyperLogLog sketches of the user set,
    * union-merged per event type into a monthly distinct-user estimate next
    * to the exact count. The sketch is the 100 TB path — daily partials are
    * a few KB each and merge associatively, where the exact count-distinct
    * reshuffles every (type, user) pair of the month. Estimate is
    * implementation-defined ⇒ rows-check only; the spec bounds the relative
    * error against the exact count.
    */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val merged = daily
      .groupBy(date_trunc("month", col("day")).as("month"), col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
    val exact = ev
      .groupBy(date_trunc("month", col("ts")).as("month"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    // est_users itself is sketch-implementation-defined (unhashable); the
    // oracle-checkable fact is the 5% envelope — emitted as a boolean the
    // DuckDB twin asserts TRUE, so a drifting sketch fails the hash gate
    merged.join(exact, Seq("month", "event_type"))
      .select(col("month"), col("event_type"), col("exact_users"),
        (abs(col("est_users") - col("exact_users"))
          <= greatest(lit(1.0), col("exact_users") * lit(0.05))).as("est_ok"))
      .orderBy(col("month"), col("event_type"))
  }

  /** Bitmap rollup — the EXACT member of the mergeable-distinct family
    * (q124 is the approximate HLL sibling): per-day roaring-style bitmaps of
    * the user set (built-in `bitmap_construct_agg` over
    * `bitmap_bit_position`, bucketed by `bitmap_bucket_number` so arbitrary
    * id ranges stay bounded at 4 KB/bucket), OR-merged per month. Unlike a
    * sketch, bitmap-OR is lossless: the rolled-up count EQUALS
    * count-distinct, so the query is hash-matchable — `users_merged` must
    * equal `users_direct` on every row and both equal the oracle's
    * COUNT(DISTINCT). The 100 TB shape is the same as q124's: daily
    * partials are id-range-bounded blobs that merge associatively, where
    * the direct path reshuffles every (month, type, user) pair. Bitmaps
    * beat HLL whenever ids are dense integers (user/doc surrogate keys) —
    * exactness for comparable bytes.
    */
  def bitmapRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"), col("user_id"))
    val merged = ev
      .groupBy(col("day"), col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(date_trunc("month", col("day")).as("month"), col("event_type"), col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("month"), col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("users_merged"))
    val direct = ev
      .groupBy(date_trunc("month", col("day")).as("month"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("users_direct"))
    merged.join(direct, Seq("month", "event_type"))
      .select(col("month"), col("event_type"), col("users_merged"), col("users_direct"))
      .orderBy(col("month"), col("event_type"))
  }

  /** Second iterative-graph consumer (STATUS roadmap): weakly-connected
    * communities over the user co-occurrence graph — users are linked when
    * they act in the same (event_type, minute) anchor, and communities are
    * the transitive closure, closed by [[DedupOps.components]]: the CC
    * operator is generic over any (nodes, pairs) input.
    *
    * The scale hazard in any co-occurrence projection is the hub anchor — a
    * minute shared by 10⁵ users emits 10¹⁰ pairs. The standard fix, applied
    * here, is a degree cap: only anchors with 2..8 distinct users form
    * cliques (size-capped via one aggregate + semi-join BEFORE the pair
    * self-join, so the quadratic step runs on capped anchors only). Hub
    * anchors carry little community signal anyway (everyone shops at noon);
    * the cap is the deterministic, oracle-expressible version of the usual
    * TF-IDF-style anchor downweighting.
    */
  def userCommunities(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nodes = Tables.events(spark, dir).select(col("user_id").as("doc_id")).distinct()
    val labels = DedupOps.components(nodes, cooccurrencePairs(spark, dir))
    labels.select(col("doc_id").as("user_id"), col("label").as("community_id"))
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy(col("community_id"))))
      .orderBy(col("user_id"))
  }

  /** Distinct undirected co-occurrence pairs (user_a < user_b) under the
    * 2..8 anchor-degree cap — the shared edge definition for q144's
    * communities and q169's PageRank (one construction, two consumers, and
    * ONE `edges` CTE in both oracles so the twins cannot drift).
    */
  private[graft] def cooccurrencePairs(spark: SparkSession, dir: String): DataFrame = {
    val au = Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("minute", col("ts")).as("m"), col("user_id"))
      .distinct()
    val sizes = au.groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("asz"))
    val capped = au.join(sizes.filter(col("asz").between(2, 8)), Seq("event_type", "m"))
    capped.as("a").join(capped.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.m") === col("b.m")
          && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("doc_a"), col("b.user_id").as("doc_b"))
      .distinct()
  }

  /** The `edges` oracle CTE chain matching [[cooccurrencePairs]] — shared
    * verbatim by the q144 and q169 twins.
    */
  private[graft] val cooccurrenceEdgesCte: String =
    """au AS (SELECT DISTINCT event_type, date_trunc('minute', ts) AS m, user_id
      |            FROM events),
      |sz AS (SELECT event_type, m, count(*) AS asz FROM au GROUP BY 1, 2),
      |capped AS (SELECT au.event_type, au.m, au.user_id
      |           FROM au JOIN sz USING (event_type, m) WHERE asz BETWEEN 2 AND 8),
      |pairs AS (SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
      |          FROM capped a JOIN capped b
      |          ON a.event_type = b.event_type AND a.m = b.m AND a.user_id < b.user_id),
      |edges AS (SELECT ua AS src, ub AS dst FROM pairs
      |          UNION ALL SELECT ub, ua FROM pairs)""".stripMargin

  /** k-core threshold and peel-round budget for q301 (shared with the twin). */
  val KCoreK = 3
  val KCoreRounds = 6

  /** q301 — k-core peeling curve over the capped co-occurrence graph (the
    * SAME edge construction as q144/q169/q282 — one graph, four
    * algorithms): repeatedly delete nodes with degree < [[KCoreK]] and
    * report nodes/edges remaining after each peel round. The fixpoint is
    * the k-core — the maximal subgraph where everyone keeps ≥ k
    * co-occurrence partners — the standard cohesion screen (a dense
    * bot/spam ring survives peeling; organically sparse users fall out),
    * and the curve shows HOW FAST the periphery sheds.
    *
    * Scale shape: each round is one degree aggregate over the current edge
    * list plus two semi-joins against the surviving-node set — O(|E|) per
    * round, keyed shuffles only, never a pairwise product. The round count
    * is fixed ([[KCoreRounds]], the q155/q169 bounded-trajectory
    * convention): rounds past the fixpoint provably repeat the same counts,
    * so once the edge count stops changing the driver fills the remaining
    * rows without launching jobs — the emitted table is identical to
    * running them.
    */
  def kcorePeel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var cur = cooccurrencePairs(spark, dir).persistTracked()
    // distinct endpoints need the union view, not per-column distincts
    def measure(df: DataFrame): (Long, Long) = {
      // bounded-collect: one scalar row per round (node count)
      val n = df.select(explode(array(col("doc_a"), col("doc_b"))).as("u"))
        .agg(count_distinct(col("u"))).collect()(0).getLong(0)
      // bounded-collect: one scalar row per round (edge count)
      val e = df.agg(count(lit(1))).collect()(0).getLong(0)
      (n, e)
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var (n0, e0) = measure(cur)
    rows += ((0L, n0, e0))
    var stable = false
    for (r <- 1 to KCoreRounds) {
      if (stable) rows += ((r.toLong, rows.last._2, rows.last._3))
      else {
        val deg = cur.select(explode(array(col("doc_a"), col("doc_b"))).as("u"))
          .groupBy(col("u")).agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= KCoreK).select(col("u"))
        val next = cur
          .join(keep.withColumnRenamed("u", "doc_a"), Seq("doc_a"), "left_semi")
          .join(keep.withColumnRenamed("u", "doc_b"), Seq("doc_b"), "left_semi")
          .select(col("doc_a"), col("doc_b"))
          .checkpointTracked()
        val (n, e) = measure(next)
        rows += ((r.toLong, n, e))
        if (e == rows(rows.length - 2)._3) stable = true
        cur = next
      }
    }
    rows.toSeq.toDF("round", "n_nodes", "n_edges").orderBy(col("round"))
  }

  /** The q301 twin — unrolled MATERIALIZED peel rounds on the shared
    * `edges` chain (undirected counts derive from the pair list).
    */
  val kcorePeelOracle: String = {
    val rounds = (1 to KCoreRounds).map { r =>
      s"""keep$r AS MATERIALIZED (
         |  SELECT u FROM (
         |    SELECT u, count(*) AS d FROM (
         |      SELECT doc_a AS u FROM m${r - 1} UNION ALL SELECT doc_b FROM m${r - 1})
         |    GROUP BY 1)
         |  WHERE d >= $KCoreK),
         |m$r AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM m${r - 1}
         |  WHERE doc_a IN (SELECT u FROM keep$r) AND doc_b IN (SELECT u FROM keep$r))""".stripMargin
    }.mkString(",\n")
    val rows = (0 to KCoreRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM
         |     (SELECT doc_a AS u FROM m$r UNION ALL SELECT doc_b FROM m$r)) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM m$r) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $cooccurrenceEdgesCte,
       |m0 AS MATERIALIZED (SELECT ua AS doc_a, ub AS doc_b FROM pairs),
       |$rounds
       |$rows
       |ORDER BY round""".stripMargin
  }

  /** BFS hop budget — recursion depth bound shared with the q282 twin. */
  val BfsMaxHops = 4

  /** Multi-source BFS hop distances over the capped co-occurrence graph
    * (the SAME edge construction as q144's communities and q169's
    * PageRank — one graph, three algorithms): from a deterministic 5 %
    * anchor panel (`user_id % 20 = 0`), the minimum number of co-occurrence
    * hops to every user, reported as a per-hop histogram with `-1` for
    * users the panel cannot reach within [[BfsMaxHops]] hops — the
    * influence-radius / diffusion-reach audit.
    *
    * Pregel-style frontier expansion, the scale shape that matters: each
    * round joins ONLY the newly-reached frontier against the edge list
    * (persisted once, hash-partitioned on `src` so every round's join
    * reuses the same exchange), then anti-joins the visited set — work per
    * round is proportional to the frontier's edge neighborhood, never
    * nodes × rounds. Rounds are bounded (≤ [[BfsMaxHops]]) with early exit
    * on an empty frontier, so the driver loop is O(hops), not data-sized.
    * Distances are EXACT (BFS layers), so the twin is a depth-bounded
    * recursive CTE over the shared `edges` chain.
    */
  def bfsReach(spark: SparkSession, dir: String): DataFrame = {
    val pairs = cooccurrencePairs(spark, dir)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .persistTracked()
    val seeds = Tables.events(spark, dir)
      .filter(col("user_id") % 20 === 0)
      .select(col("user_id")).distinct()
    var dist = seeds.withColumn("hop", lit(0)).persistTracked()
    var frontier = dist.select(col("user_id"))
    var hop = 1
    var exhausted = false
    while (hop <= BfsMaxHops && !exhausted) {
      val next = frontier.join(edges, frontier("user_id") === edges("src"))
        .select(col("dst").as("user_id")).distinct()
        .join(dist.select(col("user_id")), Seq("user_id"), "left_anti")
        .withColumn("hop", lit(hop))
        .persistTracked()
      // bounded driver probe (≤ BfsMaxHops rounds): stop when the frontier
      // dries up — otherwise every later round would rescan the edge list
      if (next.isEmpty) exhausted = true
      else {
        dist = dist.unionByName(next).persistTracked()
        frontier = next.select(col("user_id"))
      }
      hop += 1
    }
    val nodes = Tables.events(spark, dir).select(col("user_id")).distinct()
    val unreached = nodes.join(dist.select(col("user_id")), Seq("user_id"), "left_anti")
      .withColumn("hop", lit(-1))
    dist.unionByName(unreached)
      .groupBy(col("hop")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("hop"))
  }

  /** The q282 twin: depth-bounded BFS as a recursive CTE (UNION set
    * semantics bound the (node, depth) space; `min(d)` recovers the BFS
    * layer), LEFT-joined back to the full user universe for the `-1`
    * unreached bucket.
    */
  private[graft] val bfsReachOracle: String =
    s"""WITH RECURSIVE $cooccurrenceEdgesCte,
      |seeds AS (SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 0),
      |reach AS (SELECT user_id AS u, 0 AS d FROM seeds
      |  UNION SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.u
      |        WHERE r.d < $BfsMaxHops),
      |md AS (SELECT u, min(d) AS d FROM reach GROUP BY u),
      |users AS (SELECT DISTINCT user_id FROM events),
      |hops AS (SELECT coalesce(md.d, -1) AS hop
      |         FROM users LEFT JOIN md ON users.user_id = md.u)
      |SELECT hop, CAST(count(*) AS BIGINT) AS n_users
      |FROM hops GROUP BY hop ORDER BY hop""".stripMargin

  /** Graph-health profile of the co-occurrence graph: size, degree extremes,
    * and degree assortativity (Newman 2002) — the is-this-a-hub-and-spoke-
    * or-a-peer-mesh diagnostic that decides whether degree-capped
    * projections (q144's fix) are even needed. One degree aggregate, two
    * broadcast-joinable degree lookups, and exact BIGINT sufficient sums
    * over the directed edge list — the Pearson correlation of endpoint
    * degrees collapses to one final double expression (the q193/q275 OLS
    * treatment), so the whole profile is a single skinny-shuffle pass with
    * a 1-row output. Degenerate graphs (no edges, or uniform degrees ⇒ zero
    * variance) surface as NULLs, not NaN — pinned at sf0.001 where the
    * minute-capped projection is genuinely empty.
    */
  def graphProfile(spark: SparkSession, dir: String): DataFrame = {
    val pairs = cooccurrencePairs(spark, dir)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val deg = edges.groupBy(col("src").as("u")).agg(count(lit(1)).as("deg"))
    val ed = edges
      .join(deg.select(col("u").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("u").as("dst"), col("deg").as("dy")), Seq("dst"))
    val sums = ed.agg(
      count(lit(1)).as("m"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx")).as("sx"),
      sum(col("dx") * col("dx")).as("sx2"))
    val nodes = deg.agg(
      count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"))
    // r = (m·Σdxdy − (Σdx)²) ∕ (m·Σdx² − (Σdx)²) on the symmetrized edge
    // list (Σdx = Σdy, Σdx² = Σdy² by symmetry) — integer numerator and
    // denominator, ONE double division at the end
    val num = col("m") * col("sxy") - col("sx") * col("sx")
    val den = col("m") * col("sx2") - col("sx") * col("sx")
    nodes.crossJoin(sums) // 1 row × 1 row
      .select(
        col("n_nodes"),
        (col("m") / 2).cast("long").as("n_edges"),
        col("max_degree"),
        when(col("n_nodes") === 0, lit(null).cast("double"))
          .otherwise(OracleMath.stableRound(
            col("m").cast("double") / col("n_nodes").cast("double"), 4))
          .as("mean_degree"),
        when(den === 0, lit(null).cast("double"))
          .otherwise(OracleMath.stableRound(
            num.cast("double") / den.cast("double"), 6))
          .as("assortativity"))
  }

  /** The q283 twin — identical sufficient sums in SQL. */
  private[graft] val graphProfileOracle: String =
    s"""WITH $cooccurrenceEdgesCte,
      |deg AS (SELECT src AS u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
      |ed AS (SELECT a.deg AS dx, b.deg AS dy FROM edges e
      |       JOIN deg a ON a.u = e.src JOIN deg b ON b.u = e.dst),
      |sums AS (SELECT CAST(count(*) AS BIGINT) AS m, sum(dx * dy) AS sxy,
      |                sum(dx) AS sx, sum(dx * dx) AS sx2 FROM ed),
      |nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes, max(deg) AS max_degree FROM deg)
      |SELECT n_nodes, CAST(m / 2 AS BIGINT) AS n_edges, max_degree,
      |  CASE WHEN n_nodes = 0 THEN NULL
      |       ELSE ${OracleMath.stableRoundSql("CAST(m AS DOUBLE) / CAST(n_nodes AS DOUBLE)", 4)} END AS mean_degree,
      |  CASE WHEN m * sx2 - sx * sx = 0 THEN NULL
      |       ELSE ${OracleMath.stableRoundSql(
               "CAST(m * sxy - sx * sx AS DOUBLE) / CAST(m * sx2 - sx * sx AS DOUBLE)", 6)} END AS assortativity
      |FROM nodes, sums""".stripMargin

  /** Discrete survival table (Kaplan-Meier inputs) for time-to-first-
    * purchase after signup, WITH right-censoring: users who never purchase
    * are censored at the observation horizon (the data's max day), not
    * dropped — dropping them is the classic survivorship bias this
    * estimator exists to avoid. Emitted per duration-day: users at risk,
    * events, censored, and the discrete hazard d∕n — each row exact
    * integers plus one fixed division. The KM product Π(1−dᵢ∕nᵢ) is NOT
    * emitted (a cross-row float product would be order/engine-dependent —
    * the spec composes it in-JVM from the exact rows; the q223 ln lesson).
    * at-risk counts come from one cumulative window over the tiny
    * duration histogram, never a per-user rescan.
    */
  def survivalTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", date_trunc("day", col("ts")))).as("t0"),
        min(when(col("event_type") === "purchase", date_trunc("day", col("ts")))).as("tp"))
      .filter(col("t0").isNotNull)
    val horizon = Tables.events(spark, dir)
      .agg(max(date_trunc("day", col("ts"))).as("h"))
    val durations = perUser.crossJoin(horizon)
      .select(
        when(col("tp").isNotNull && col("tp") >= col("t0"),
          datediff(col("tp"), col("t0")))
          .otherwise(datediff(col("h"), col("t0"))).cast("long").as("t"),
        (col("tp").isNotNull && col("tp") >= col("t0")).as("event"))
    val hist = durations.groupBy(col("t"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("event"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("total", sum(col("d") + col("c")).over(Window.partitionBy()))
      .withColumn("gone_before", coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
      .select(col("t"), (col("total") - col("gone_before")).as("at_risk"),
        col("d").as("events"), col("c").as("censored"),
        OracleMath.stableRound(
          col("d").cast("double") / (col("total") - col("gone_before")).cast("double"), 6)
          .as("hazard"))
      .orderBy(col("t"))
  }

  val survivalTableOracle: String =
    s"""WITH pu AS (SELECT user_id,
       |    min(CASE WHEN event_type = 'signup' THEN date_trunc('day', ts) END) AS t0,
       |    min(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END) AS tp
       |  FROM events GROUP BY 1),
       |h AS (SELECT max(date_trunc('day', ts)) AS hz FROM events),
       |dur AS (SELECT
       |    CAST(CASE WHEN tp IS NOT NULL AND tp >= t0 THEN date_diff('day', t0, tp)
       |         ELSE date_diff('day', t0, hz) END AS BIGINT) AS t,
       |    (tp IS NOT NULL AND tp >= t0) AS event
       |  FROM pu, h WHERE t0 IS NOT NULL),
       |hist AS (SELECT t,
       |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN NOT event THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM dur GROUP BY 1),
       |k AS (SELECT *, sum(d + c) OVER () AS total,
       |        coalesce(sum(d + c) OVER (ORDER BY t
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gone_before
       |      FROM hist)
       |SELECT t, CAST(total - gone_before AS BIGINT) AS at_risk, d AS events, c AS censored,
       |  ${OracleMath.stableRoundSql("CAST(d AS DOUBLE) / CAST(total - gone_before AS DOUBLE)", 6)} AS hazard
       |FROM k ORDER BY t""".stripMargin

  /** Temporal sequence-pair mining — frequent "A then B within 10 minutes"
    * patterns, the NON-adjacent generalization of q174's Markov chain
    * (Markov sees only consecutive events; a view→purchase with clicks in
    * between is invisible to it, and is exactly what funnel analysis
    * wants). One user-keyed interval self-join bounded by the time window
    * (per-user work ∝ activity within 10 min — the q87 state-bounding
    * argument in batch form), exact integer support counts, and lift
    * against the type marginals as one fixed float expression. Ordered
    * pairs; ties in time excluded by strict dt > 0 with event_id
    * tie-break.
    */
  def sequencePatterns(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          (col("b.ts") > col("a.ts") ||
            (col("b.ts") === col("a.ts") && col("b.event_id") > col("a.event_id"))) &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("support"))
    val singles = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val total = e.agg(count(lit(1)).as("n_total"))
    pairs
      .join(singles.select(col("event_type").as("type_a"), col("n").as("n_a")), Seq("type_a"))
      .join(singles.select(col("event_type").as("type_b"), col("n").as("n_b")), Seq("type_b"))
      .crossJoin(total)
      .select(col("type_a"), col("type_b"), col("support"), col("n_a"), col("n_b"),
        OracleMath.stableRound(
          col("support").cast("double") * col("n_total").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val sequencePatternsOracle: String =
    s"""WITH e AS (SELECT user_id, event_type, ts, event_id FROM events),
       |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS support
       |      FROM e a JOIN e b
       |        ON a.user_id = b.user_id
       |       AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
       |       AND b.ts <= a.ts + INTERVAL 10 MINUTE
       |      GROUP BY 1, 2),
       |s AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1),
       |t AS (SELECT count(*) AS n_total FROM e)
       |SELECT type_a, type_b, support, sa.n AS n_a, sb.n AS n_b,
       |  ${OracleMath.stableRoundSql(
          "CAST(support AS DOUBLE) * CAST(n_total AS DOUBLE) / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))", 6)} AS lift
       |FROM p JOIN s sa ON sa.event_type = p.type_a
       |       JOIN s sb ON sb.event_type = p.type_b, t
       |ORDER BY type_a, type_b""".stripMargin

  /** CUPED variance reduction for the A/B readout — the standard
    * experimentation-platform adjustment: each user's metric y (spend after
    * the split date) is debiased by their pre-period covariate x (spend
    * before), ŷ = y − θ(x − x̄) with θ = cov(x,y)∕var(x). EVERYTHING is
    * assembled from exact sufficient statistics: per-user integer-cent
    * (x, y) from one scan, global (Σx, Σy, Σxy, Σx², Σy², n) in one more
    * reduce, per-arm sums likewise — θ, the adjusted means and the
    * variance-reduction percentage are then a handful of fixed float
    * expressions over those exact sums (no per-row float accumulation
    * anywhere). Arms are q216's md5 parity. Var reduction = 1 − (1−ρ²),
    * reported as ρ²·100 — the number that says how much smaller the
    * experiment could be.
    */
  val CupedSplitDate = "2024-01-16"

  def cupedAdjust(spark: SparkSession, dir: String): DataFrame = {
    val d = lit(CupedSplitDate).cast("timestamp")
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val arm = expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT) % 2")
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), cents.as("c"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < d, col("c")).otherwise(0L)).as("x"),
        sum(when(col("ts") >= d, col("c")).otherwise(0L)).as("y"))
      .withColumn("arm", arm)
    val g = perUser.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_arm"), sum(col("x")).as("sx_arm"), sum(col("y")).as("sy_arm"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n").cast("double"), col("sx").cast("double"),
      col("sy").cast("double"), col("sxy").cast("double"), col("sxx").cast("double"),
      col("syy").cast("double"))
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val rho2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    arms.crossJoin(g)
      .select(col("arm"), col("n_arm"),
        OracleMath.stableRound(col("sy_arm").cast("double") / col("n_arm") / 100.0, 4)
          .as("mean_raw"),
        OracleMath.stableRound(
          (col("sy_arm").cast("double") -
            theta * (col("sx_arm").cast("double") - col("n_arm").cast("double") * sx / n))
            / col("n_arm") / 100.0, 4).as("mean_cuped"),
        OracleMath.stableRound(theta, 6).as("theta"),
        OracleMath.stableRound(rho2 * 100.0, 4).as("var_reduction_pct"))
      .orderBy(col("arm"))
  }

  val cupedAdjustOracle: String = {
    val (n, sx, sy, sxy, sxx, syy) = ("CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)",
      "CAST(sy AS DOUBLE)", "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val theta = s"($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx)"
    val rho2 = s"(($n * $sxy - $sx * $sy) * ($n * $sxy - $sx * $sy)) / " +
      s"(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))"
    s"""WITH pu AS (SELECT user_id,
       |    CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplitDate 00:00:00'
       |         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN ts >= TIMESTAMP '$CupedSplitDate 00:00:00'
       |         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS arm
       |  FROM events GROUP BY user_id),
       |g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |        CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
       |        CAST(sum(y * y) AS BIGINT) AS syy
       |      FROM pu),
       |arms AS (SELECT arm, count(*) AS n_arm, CAST(sum(x) AS BIGINT) AS sx_arm,
       |           CAST(sum(y) AS BIGINT) AS sy_arm
       |         FROM pu GROUP BY 1)
       |SELECT arm, n_arm,
       |  ${OracleMath.stableRoundSql("CAST(sy_arm AS DOUBLE) / n_arm / 100.0", 4)} AS mean_raw,
       |  ${OracleMath.stableRoundSql(
          s"(CAST(sy_arm AS DOUBLE) - ($theta) * (CAST(sx_arm AS DOUBLE) - CAST(n_arm AS DOUBLE) * $sx / $n)) / n_arm / 100.0", 4)} AS mean_cuped,
       |  ${OracleMath.stableRoundSql(theta, 6)} AS theta,
       |  ${OracleMath.stableRoundSql(s"($rho2) * 100.0", 4)} AS var_reduction_pct
       |FROM arms, g ORDER BY arm""".stripMargin
  }

  /** q286 — mutual information between event type and hour-of-day: how much
    * does KNOWING the hour tell you about what users do (diurnal behavior
    * structure)? Reports H(type), H(hour), I(type;hour) in nats and the
    * normalized mutual information NMI = I ∕ √(H_x·H_y) — the
    * feature-redundancy score a feature-selection pass reads (NMI ≈ 0 ⇒
    * hour adds nothing; the same machinery applies to any categorical
    * pair). Complements q196's chi-square drilldown (significance) with an
    * information-theoretic effect size.
    *
    * Scale shape: ONE map-side-combined aggregate over the fact table onto
    * the |types|×24 cell grid; marginals, totals and every entropy term
    * live on that driver-tiny grid (broadcast joins). Parity: each p·ln
    * term is quantized to integer micro-nats before the exact sum (the
    * q271 KL treatment — cross-engine ln ulp noise cannot reorder an
    * integer sum); the final NMI is one double expression over the three
    * quantized sums.
    */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type").as("x"), hour(col("ts")).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      .persistTracked()
    val mx = cells.groupBy(col("x")).agg(sum(col("c_xy")).as("c_x"))
    val my = cells.groupBy(col("y")).agg(sum(col("c_xy")).as("c_y"))
    val tot = cells.agg(sum(col("c_xy")).as("n"), count(lit(1)).as("n_cells"))
    def micros(term: Column): Column =
      floor(term * lit(1000000.0) + lit(0.5)).cast("long")
    val miT = micros((col("c_xy").cast("double") / col("n").cast("double")) *
      log(col("n").cast("double") * col("c_xy").cast("double") /
        (col("c_x").cast("double") * col("c_y").cast("double"))))
    val hT = (c: Column) => micros(-(c.cast("double") / col("n").cast("double")) *
      log(c.cast("double") / col("n").cast("double")))
    val mi = cells.join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
      .crossJoin(tot)
      .agg(sum(miT).as("mi_u"))
    val hx = mx.crossJoin(tot).agg(sum(hT(col("c_x"))).as("hx_u"))
    val hy = my.crossJoin(tot).agg(sum(hT(col("c_y"))).as("hy_u"))
    val M = lit(1000000.0)
    tot.crossJoin(mi).crossJoin(hx).crossJoin(hy)
      .select(col("n"), col("n_cells"),
        OracleMath.stableRound(col("hx_u") / M, 6).as("h_type"),
        OracleMath.stableRound(col("hy_u") / M, 6).as("h_hour"),
        OracleMath.stableRound(col("mi_u") / M, 6).as("mi_nats"),
        OracleMath.stableRound(
          col("mi_u").cast("double") /
            sqrt(col("hx_u").cast("double") * col("hy_u").cast("double")), 6)
          .as("nmi"))
  }

  /** The q286 twin — identical micro-nat quantization per term. */
  private[graft] val mutualInfoOracle: String =
    s"""WITH cells AS (SELECT event_type AS x, CAST(hour(ts) AS BIGINT) AS y,
       |    CAST(count(*) AS BIGINT) AS c_xy
       |  FROM events GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cells GROUP BY 1),
       |my AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_cells
       |        FROM cells),
       |mi AS (SELECT CAST(sum(CAST(floor(
       |      (CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE) /
       |         (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))) * 1000000.0 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS mi_u
       |    FROM cells JOIN mx USING (x) JOIN my USING (y), tot),
       |hx AS (SELECT CAST(sum(CAST(floor(
       |      -(CAST(c_x AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(c_x AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS hx_u FROM mx, tot),
       |hy AS (SELECT CAST(sum(CAST(floor(
       |      -(CAST(c_y AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(c_y AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS hy_u FROM my, tot)
       |SELECT n, n_cells,
       |  ${OracleMath.stableRoundSql("hx_u / 1000000.0", 6)} AS h_type,
       |  ${OracleMath.stableRoundSql("hy_u / 1000000.0", 6)} AS h_hour,
       |  ${OracleMath.stableRoundSql("mi_u / 1000000.0", 6)} AS mi_nats,
       |  ${OracleMath.stableRoundSql(
          "CAST(mi_u AS DOUBLE) / sqrt(CAST(hx_u AS DOUBLE) * CAST(hy_u AS DOUBLE))", 6)} AS nmi
       |FROM tot, mi, hx, hy""".stripMargin

  /** q288 — Welch's unequal-variance t-test on the q216/q225 A/B arms
    * (md5-parity assignment), metric = per-user total spend: the
    * experimentation readout between q216's denominator guard and q225's
    * variance reduction. t and the Welch–Satterthwaite df are assembled
    * from SIX exact BIGINT sufficient sums (per-arm n, Σy, Σy² in integer
    * cents from one user-keyed reduce) in fixed double expressions — no
    * per-row float accumulation, so the statistic is engine-exact to the
    * final rounding. The per-arm splay is a conditional aggregate on the
    * per-user frame (one row out), never a self-join.
    */
  def welchTtest(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val arm = expr(
      "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT) % 2")
    val pu = Tables.events(spark, dir)
      .select(col("user_id"), cents.as("c"))
      .groupBy(col("user_id")).agg(sum(col("c")).as("y"))
      .withColumn("arm", arm)
    val g = pu.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("s_a"),
      sum(when(col("arm") === 0, col("y") * col("y")).otherwise(0L)).as("ss_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("s_b"),
      sum(when(col("arm") === 1, col("y") * col("y")).otherwise(0L)).as("ss_b"))
    val (na, sa, ssa) = (col("n_a").cast("double"), col("s_a").cast("double"),
      col("ss_a").cast("double"))
    val (nb, sb, ssb) = (col("n_b").cast("double"), col("s_b").cast("double"),
      col("ss_b").cast("double"))
    val va = (na * ssa - sa * sa) / (na * (na - lit(1.0)))
    val vb = (nb * ssb - sb * sb) / (nb * (nb - lit(1.0)))
    val se2 = va / na + vb / nb
    val t = (sa / na - sb / nb) / sqrt(se2)
    val df = se2 * se2 /
      ((va / na) * (va / na) / (na - lit(1.0)) + (vb / nb) * (vb / nb) / (nb - lit(1.0)))
    g.select(col("n_a"), col("n_b"),
      OracleMath.stableRound(sa / na / 100.0, 4).as("mean_a"),
      OracleMath.stableRound(sb / nb / 100.0, 4).as("mean_b"),
      OracleMath.stableRound(t, 6).as("t_stat"),
      OracleMath.stableRound(df, 4).as("df"))
  }

  /** The q288 twin — the same six exact sums, the same fixed expressions. */
  private[graft] val welchTtestOracle: String = {
    val (na, sa, ssa) = ("CAST(n_a AS DOUBLE)", "CAST(s_a AS DOUBLE)", "CAST(ss_a AS DOUBLE)")
    val (nb, sb, ssb) = ("CAST(n_b AS DOUBLE)", "CAST(s_b AS DOUBLE)", "CAST(ss_b AS DOUBLE)")
    val va = s"(($na * $ssa - $sa * $sa) / ($na * ($na - 1.0)))"
    val vb = s"(($nb * $ssb - $sb * $sb) / ($nb * ($nb - 1.0)))"
    val se2 = s"($va / $na + $vb / $nb)"
    val t = s"(($sa / $na - $sb / $nb) / sqrt($se2))"
    val df = s"($se2 * $se2 / (($va / $na) * ($va / $na) / ($na - 1.0) + " +
      s"($vb / $nb) * ($vb / $nb) / ($nb - 1.0)))"
    s"""WITH pu AS (SELECT user_id,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS arm
       |  FROM events GROUP BY user_id),
       |g AS (SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS s_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN y * y ELSE 0 END) AS BIGINT) AS ss_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS s_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN y * y ELSE 0 END) AS BIGINT) AS ss_b
       |  FROM pu)
       |SELECT n_a, n_b,
       |  ${OracleMath.stableRoundSql(s"$sa / $na / 100.0", 4)} AS mean_a,
       |  ${OracleMath.stableRoundSql(s"$sb / $nb / 100.0", 4)} AS mean_b,
       |  ${OracleMath.stableRoundSql(t, 6)} AS t_stat,
       |  ${OracleMath.stableRoundSql(df, 4)} AS df
       |FROM g""".stripMargin
  }

  /** Daily-volume autocorrelation at lags 1..7 — periodicity detection (the
    * lag-7 spike IS weekly seasonality): for each lag, Pearson r between
    * (day t volume, day t−k volume) from the q185 exact-sufficient-stats
    * shape — integer daily counts self-joined on day arithmetic, six exact
    * sums per lag, r assembled in one fixed double expression. Everything
    * runs on the daily aggregate (days-sized); the corpus pays one count
    * scan. Pairs require exact day-k adjacency, so calendar gaps shrink n
    * rather than misalign the series.
    */
  def volumeAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("v"))
    val lagged = daily.as("a").join(daily.as("b"),
        expr("datediff(a.day, b.day) BETWEEN 1 AND 7"))
      .select(expr("CAST(datediff(a.day, b.day) AS BIGINT)").as("lag"),
        col("a.v").as("x"), col("b.v").as("y"))
    val s = lagged.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    val r = (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    s.select(col("lag"), col("n"), OracleMath.stableRound(r, 6).as("autocorr_r"))
      .orderBy(col("lag"))
  }

  val volumeAutocorrOracle: String = {
    val r = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    s"""WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS v
       |               FROM events GROUP BY 1),
       |lagged AS (SELECT CAST(date_diff('day', b.day, a.day) AS BIGINT) AS lag,
       |             a.v AS x, b.v AS y
       |           FROM daily a JOIN daily b
       |             ON date_diff('day', b.day, a.day) BETWEEN 1 AND 7),
       |s AS (SELECT lag, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
       |        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
       |      FROM lagged GROUP BY 1)
       |SELECT lag, n, ${OracleMath.stableRoundSql(r, 6)} AS autocorr_r
       |FROM s ORDER BY lag""".stripMargin
  }

  /** q299 — Mann-Kendall trend test on per-type daily volumes: is a type's
    * traffic monotonically drifting, without assuming linearity or normal
    * noise? S = Σ_{i<j} sgn(x_j − x_i) over day-ordered counts — a purely
    * ORDINAL statistic (robust where q193's OLS slope chases outliers), with
    * the tie-corrected variance Var·18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5) and
    * the continuity-corrected z = (S − sgn(S))∕√(Var). The
    * significance-tested companion of q193 (fits the slope) and q281
    * (validates forecasts): this one says whether a drift is REAL.
    *
    * Scale shape: the corpus pays one count scan into the (type, day)
    * aggregate; the pair stage is a self-join on the CALENDAR-bounded daily
    * table (days², not rows²) — the q219 shape. Everything is exact
    * integers (sgn sums, tie polynomials) except the final z division.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("v"))
    val pairs = daily.as("a").join(daily.as("b"),
        expr("a.event_type = b.event_type AND a.day < b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum((col("b.v") - col("a.v")).cast("double")).cast("long")).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_levels"), sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_poly"))
    val var18 = col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5) - col("tie_poly")
    // all-tied series: Var = 0 and S = 0 — z is undefined, not ±∞/NaN
    val z = when(var18 === 0, lit(null).cast("double")).otherwise(OracleMath.stableRound(
      (col("s_stat") - signum(col("s_stat").cast("double")).cast("long")).cast("double") /
        sqrt(var18.cast("double") / lit(18.0)), 4))
    pairs.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        z.as("z_stat"),
        when(abs(z) > 1.96,
          when(col("s_stat") > 0, "rising").otherwise("falling"))
          .otherwise("none").as("trend"))
      .orderBy(col("event_type"))
  }

  /** The q299 twin — same sgn pairs, tie polynomial, and fixed z. */
  val mannKendallOracle: String = {
    val zSql = "(CAST(s_stat AS DOUBLE) - CAST(CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1 ELSE 0 END AS DOUBLE)) / " +
      "sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_poly AS DOUBLE) / 18.0)"
    val zr = s"(CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_poly = 0 THEN NULL " +
      s"ELSE ${OracleMath.stableRoundSql(zSql, 4)} END)"
    s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
       |                 CAST(count(*) AS BIGINT) AS v
       |               FROM events GROUP BY 1, 2),
       |p AS (SELECT a.event_type,
       |        CAST(sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |      FROM daily a JOIN daily b
       |        ON a.event_type = b.event_type AND a.day < b.day
       |      GROUP BY 1),
       |ties AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_levels,
       |           CAST(sum(t) AS BIGINT) AS n_days,
       |           CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_poly
       |         FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
       |               FROM daily GROUP BY 1, 2)
       |         GROUP BY 1)
       |SELECT event_type, n_days, s_stat,
       |  $zr AS z_stat,
       |  CASE WHEN abs($zr) > 1.96
       |       THEN (CASE WHEN s_stat > 0 THEN 'rising' ELSE 'falling' END)
       |       ELSE 'none' END AS trend
       |FROM p JOIN ties USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  /** Sample-ratio-mismatch (SRM) guard — the first sanity check any A/B
    * platform runs before reading an experiment: users are hash-assigned
    * 50/50 (md5 parity — deterministic, both engines agree user-for-user),
    * and each day's arm counts are tested against the expected split with
    * a 1-df chi-square ((a−E)²/E + (b−E)²/E, E = n/2). Counts are exact
    * integers from one conditional-agg scan over (day, user) distincts;
    * the statistic is one fixed float expression; the 3.84 (95 %, 1 df)
    * flag threshold is a written literal. A healthy assignment hash should
    * flag ~5 % of days by chance — the spec checks the mechanism on a
    * forced-imbalance fixture instead of betting on the data.
    */
  /** Audience-overlap matrix: for every event-type pair, the exact number
    * of users active in both, the union, and the audience Jaccard — the
    * "which segments are really the same people" report (q230 is the
    * source-level sibling over duplicate groups; this one is user-level
    * over behavior). Exactness by inclusion–exclusion on integer counts:
    * |A∩B| from a user-keyed self-join of the DISTINCT (user, type) pairs,
    * |A∪B| = |A| + |B| − |A∩B|.
    *
    * Scale shape: the self-join fanout per user is bounded by the TYPE
    * DOMAIN (k types ⇒ ≤ k·(k−1)∕2 pair rows per user — never corpus²),
    * and it runs under ONE user-keyed shuffle of the deduplicated
    * (user, type) pairs; per-type audience sizes are a broadcast-sized
    * rollup joined back by type.
    */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    val inter = a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        (col("n_a") + col("n_b") - col("n_both")).as("n_union"),
        OracleMath.stableRound(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6).as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val audienceOverlapOracle: String =
    s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
       |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
       |       FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
       |       GROUP BY 1, 2)
       |SELECT type_a, type_b, CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       |  CAST(n_both AS BIGINT) AS n_both,
       |  CAST(sa.n + sb.n - n_both AS BIGINT) AS n_union,
       |  ${OracleMath.stableRoundSql(
          "CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE)", 6)} AS jaccard
       |FROM pr JOIN sz sa ON pr.type_a = sa.event_type
       |        JOIN sz sb ON pr.type_b = sb.event_type
       |ORDER BY type_a, type_b""".stripMargin

  val SessionPathTopK = 20

  /** Session entry-path mining: the most common first-three-event-type
    * sequences per session — the onboarding/navigation report that Markov
    * transitions (q174, adjacent pairs) and funnels (q99, fixed stages)
    * don't give: actual observed prefixes with exact frequencies.
    *
    * Sessions are 30-minute-gap cuts under the unique (second-truncated ts,
    * event_id) order; the path is built by sorting each session's first
    * three (rank, type) structs row-locally (array_sort on the collected
    * ≤3-element list — the window already capped it, so nothing
    * session-length-sized is ever collected). Two user-keyed shuffles
    * (window + session rollup) and one path-keyed count; top-K is
    * TakeOrderedAndProject with a (count DESC, path) total order.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val evs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"))
      .withColumn("new_s",
        when(lag(col("t"), 1).over(w).isNull ||
          col("t") - lag(col("t"), 1).over(w) > 1800L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("sid")).orderBy(col("t"), col("event_id"))))
      .filter(col("rn") <= 3)
    evs
      .groupBy(col("user_id"), col("sid"))
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type")))).as("steps"))
      .select(array_join(expr("transform(steps, s -> s.event_type)"), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(SessionPathTopK)
  }

  val sessionPathsOracle: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
       |  FROM events),
       |s AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
       |                 THEN 1 ELSE 0 END AS new_s
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |g AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
       |      FROM s),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid ORDER BY t, event_id) AS rn
       |      FROM g),
       |p AS (SELECT user_id, sid,
       |        string_agg(event_type, '>' ORDER BY rn) AS path
       |      FROM r WHERE rn <= 3 GROUP BY 1, 2)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY 1
       |ORDER BY n_sessions DESC, path LIMIT $SessionPathTopK""".stripMargin

  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    val arm = expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT) % 2")
    val daily = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id")).distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(arm === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("n_b"))
    val e = col("n").cast("double") / 2.0
    val chi2 = (col("n_a").cast("double") - e) * (col("n_a").cast("double") - e) / e +
      (col("n_b").cast("double") - e) * (col("n_b").cast("double") - e) / e
    daily.select(col("day"), col("n"), col("n_a"), col("n_b"),
        OracleMath.stableRound(chi2, 6).as("srm_chi2"))
      .withColumn("srm_flag", col("srm_chi2") > lit(3.84))
      .orderBy(col("day"))
  }

  val srmCheckOracle: String = {
    val e = "CAST(n AS DOUBLE) / 2.0"
    val chi2 = s"(CAST(n_a AS DOUBLE) - ($e)) * (CAST(n_a AS DOUBLE) - ($e)) / ($e) + " +
      s"(CAST(n_b AS DOUBLE) - ($e)) * (CAST(n_b AS DOUBLE) - ($e)) / ($e)"
    s"""WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
       |d AS (SELECT day, count(*) AS n,
       |  CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM du GROUP BY 1)
       |SELECT day, n, n_a, n_b,
       |  ${OracleMath.stableRoundSql(chi2, 6)} AS srm_chi2,
       |  ${OracleMath.stableRoundSql(chi2, 6)} > 3.84 AS srm_flag
       |FROM d ORDER BY day""".stripMargin
  }

  /** Triangle counting + local clustering coefficients — the third consumer
    * of the q144/q169 co-occurrence graph (one edge definition, three
    * algorithms): triangles enumerated by the classic ordered wedge join
    * (pairs are already a<b, so each triangle a<b<c is found exactly once:
    * wedge (a<b)⋈(b<c) closed by (a<c)), per-node counts by exploding each
    * triangle to its three corners, clustering = 2·T_v∕(deg·(deg−1)). The
    * wedge join is the quadratic step; its fanout is bounded by the same
    * 2..8 anchor cap that bounds the graph itself (at web scale you'd
    * additionally direct edges low-degree→high — the cap plays that role
    * here). Counts and degrees are exact integers; one fixed float division
    * per node. A `user_id = −1` row carries the global triangle total.
    */
  def triangleStats(spark: SparkSession, dir: String): DataFrame = {
    val pairs = cooccurrencePairs(spark, dir)
      .persistTracked()
    val p1 = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val p2 = pairs.select(col("doc_a").as("b2"), col("doc_b").as("c"))
    val p3 = pairs.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
    val tri = p1.join(p2, col("b") === col("b2"))
      .join(p3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val deg = pairs.select(explode(array(
        struct(col("doc_a").as("node")), struct(col("doc_b").as("node")))).as("e"))
      .select(col("e.node").as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val nodes = deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left_outer")
      .select(col("node").as("user_id"), col("deg"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        OracleMath.stableRound(
          lit(2.0) * coalesce(col("t"), lit(0L)).cast("double") /
            (col("deg").cast("double") * (col("deg").cast("double") - lit(1.0))), 6)
          .as("clustering"))
    val global = tri.agg(count(lit(1)).as("n_triangles"))
      .select(lit(-1L).as("user_id"), lit(0L).as("deg"), col("n_triangles"),
        lit(0.0).as("clustering"))
    nodes.unionByName(global).orderBy(col("user_id"))
  }

  val triangleStatsOracle: String = {
    val clus = "2.0 * CAST(coalesce(t, 0) AS DOUBLE) / " +
      "(CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0))"
    s"""WITH $cooccurrenceEdgesCte,
       |tri AS (SELECT p1.ua AS a, p1.ub AS b, p2.ub AS c
       |        FROM pairs p1 JOIN pairs p2 ON p1.ub = p2.ua
       |        JOIN pairs p3 ON p3.ua = p1.ua AND p3.ub = p2.ub),
       |pn AS (SELECT node, count(*) AS t FROM (
       |         SELECT a AS node FROM tri
       |         UNION ALL SELECT b FROM tri
       |         UNION ALL SELECT c FROM tri) x GROUP BY 1),
       |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1)
       |SELECT d.node AS user_id, d.deg, CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
       |  ${OracleMath.stableRoundSql(clus, 6)} AS clustering
       |FROM deg d LEFT JOIN pn ON pn.node = d.node
       |WHERE d.deg >= 2
       |UNION ALL
       |SELECT -1, 0, CAST(count(*) AS BIGINT), 0.0 FROM tri
       |ORDER BY user_id""".stripMargin
  }

  /** PageRank rank-mass scale: ranks are integers in units of 10⁻¹² of one
    * initial unit of mass, so EVERY iteration step is exact integer
    * arithmetic — `rank DIV deg` out-contributions, `(85·Σ) DIV 100`
    * damping — and the fixpoint trajectory is bit-identical in any engine
    * and any partitioning. (Float PageRank sums contributions in shuffle
    * order; a cross-engine hash-match would be luck. Floor-division loses
    * < deg·10⁻¹² per node per round — irrelevant to ranking, everything to
    * determinism.)
    */
  private[graft] val PrScale = 1000000000000L
  private[graft] val PrRounds = 5

  /** PageRank over the capped user co-occurrence graph ([[cooccurrencePairs]]
    * — q144's exact edge set): damping 0.85, [[PrRounds]] synchronous
    * iterations from a uniform [[PrScale]] mass per node, dangling-free by
    * construction (the symmetric edge set gives every graph node degree ≥ 1;
    * users with no co-occurrence are simply not graph nodes). The authority
    * score that turns q144's flat communities into a ranked influence order.
    *
    * Scale shape per round: one shuffle joining ranks to edges on `src`
    * (ranks are one row per NODE — the narrow side; with edges
    * pre-partitioned on src this is the co-partitioned standard), one
    * aggregate shuffle on `dst`, and a `localCheckpoint` to truncate the
    * growing lineage (the same measured pattern as the CC loop).
    * Rounds are a fixed small constant: at 100 TB the edge table is the only
    * big operand and it is scanned once per round — the canonical Pregel
    * cost profile, expressed in plain DataFrame joins so AQE/codegen apply.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = cooccurrencePairs(spark, dir)
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persistTracked()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persistTracked()
    val teleport = PrScale * 15L / 100L
    var ranks = deg.select(col("src").as("node"), col("deg"), lit(PrScale).as("rank"))
    for (_ <- 1 to PrRounds) {
      val contrib = ranks
        .join(edges, ranks("node") === edges("src"))
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = deg.select(col("src").as("node"), col("deg"))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"),
          (lit(teleport) + expr("(85 * coalesce(in_sum, 0L)) DIV 100")).as("rank"))
        .checkpointTracked()
    }
    val total = ranks.agg(sum(col("rank")).as("total_rank"))
    ranks.crossJoin(total)
      .select(col("node").as("user_id"), col("deg").cast("long").as("degree"),
        col("rank").as("rank_scaled"),
        OracleMath.stableRound(col("rank") * lit(100.0) / col("total_rank"), 6)
          .as("share_pct"))
      .orderBy(col("user_id"))
  }

  /** Count-min sketch geometry — depth×width counters; the hash family is
    * the MinHash pairwise family ((2i+3)·x + (7i+1) mod P) mod W, single
    * source for Scala and the twin.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 64
  private[graft] val CmsP = 1000003L

  /** Count-min sketch per-user event counts, audited against the exact
    * count — the point-query sibling of the q147 Misra-Gries heavy-hitter
    * sketch: MG answers "who is heavy", CMS answers "how often is X" in
    * depth×width integers REGARDLESS of key cardinality. Counters are a
    * plain (row, bucket) SUM aggregate, so partials merge by addition
    * (map-side combined, associative across partitions/days — the same
    * mergeability contract as q123/q124/q138); estimates come from joining
    * each key's depth buckets against the broadcast sketch and taking the
    * row-wise min.
    *
    * Unlike probabilistic-looking sketches, the whole thing is
    * DETERMINISTIC given the fixed hash family: the estimate — and thus
    * the per-key overcount — is hash-matchable exactly, and the CMS
    * guarantee est ≥ exact is a hard invariant the twin re-derives. At
    * 100 TB the sketch is 4×64 longs while the exact side (run here as the
    * audit) is a full key-cardinality shuffle.
    */
  def cmsCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"))
    def bucket(r: Column, x: Column): Column =
      (((lit(2L) * r + 3L) * x + (lit(7L) * r + 1L)) % CmsP) % CmsWidth
    val rows = sequence(lit(0L), lit(CmsDepth - 1L))
    val cells = ev
      .select(explode(transform(rows, r => struct(r.as("r"),
        bucket(r, col("user_id")).as("b")))).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val users = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    users
      .select(col("user_id"), col("n_exact"),
        explode(transform(rows, r => struct(r.as("r"),
          bucket(r, col("user_id")).as("b")))).as("c"))
      .join(broadcast(cells),
        col("c.r") === cells("r") && col("c.b") === cells("b"))
      .groupBy(col("user_id"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
      .select(col("user_id"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
      .orderBy(col("user_id"))
  }

  val cmsCountsOracle: String = {
    val b = s"(((2*r + 3) * user_id + (7*r + 1)) % $CmsP) % $CmsWidth"
    s"""WITH ev AS (SELECT user_id FROM events),
       |rws AS (SELECT unnest(range($CmsDepth)) AS r),
       |cells AS (SELECT r, $b AS bkt, count(*) AS cnt
       |          FROM ev, rws GROUP BY 1, 2),
       |users AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY 1)
       |SELECT u.user_id, u.n_exact, CAST(min(c.cnt) AS BIGINT) AS n_est,
       |       CAST(min(c.cnt) - u.n_exact AS BIGINT) AS overcount
       |FROM users u CROSS JOIN rws r
       |JOIN cells c ON c.r = r.r
       |  AND c.bkt = (((2*r.r + 3) * u.user_id + (7*r.r + 1)) % $CmsP) % $CmsWidth
       |GROUP BY 1, 2 ORDER BY user_id""".stripMargin
  }

  /** First-order Markov transition model of user behavior: P(next event
    * type | current event type), from per-user time-ordered event streams.
    * The lag runs under one shuffle on user_id with a unique (ts, event_id)
    * order (RANGE-peer ambiguity impossible); transition counts and row
    * totals are integers, the probability divides them per-row at the end
    * (the q166 exact-types-then-divide discipline). The "what do users do
    * next" primitive behind session simulators and next-event features.
    */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy(col("prev_type"))
    trans
      .withColumn("n_from", sum(col("n")).over(totals))
      .select(col("prev_type"), col("next_type"), col("n"), col("n_from"),
        OracleMath.stableRound(col("n").cast("double") / col("n_from"), 6).as("p_r"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val markovTransitionsOracle: String =
    s"""WITH ordered AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |  FROM events),
       |t AS (SELECT prev_type, event_type AS next_type, count(*) AS n
       |      FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2)
       |SELECT prev_type, next_type, n,
       |       CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
       |       ${OracleMath.stableRoundSql("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)", 6)} AS p_r
       |FROM t ORDER BY prev_type, next_type""".stripMargin

  /** Markov next-event prediction accuracy — model EVALUATION inside the
    * engine, on top of q174's transition counts: the predictor is
    * argmax_next n(prev, next) with a deterministic tie-break (higher
    * count, then lexicographic next type), its in-sample accuracy per
    * state is chosen-count ∕ row-total, plus one `_overall` row. Every
    * number is an exact integer until the one fixed per-row division —
    * the eval-metric discipline the bootstrap (q200) and χ² (q196) ops
    * follow. The transitions table is states² rows; everything after the
    * corpus-sized lag shuffle is free.
    */
  def markovAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val pick = Window.partitionBy(col("prev_type"))
      .orderBy(desc("n"), col("next_type"))
    val best = trans
      .withColumn("n_from", sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("predicted_next"),
        col("n").as("n_correct"), col("n_from"))
    val overall = best
      .agg(sum(col("n_correct")).as("n_correct"), sum(col("n_from")).as("n_from"))
      .select(lit("_overall").as("prev_type"), lit("*").as("predicted_next"),
        col("n_correct"), col("n_from"))
    best.unionByName(overall)
      .select(col("prev_type"), col("predicted_next"), col("n_correct"), col("n_from"),
        OracleMath.stableRound(col("n_correct").cast("double") / col("n_from"), 6)
          .as("accuracy"))
      .orderBy(col("prev_type"))
  }

  val markovAccuracyOracle: String =
    s"""WITH ordered AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |  FROM events),
       |t AS (SELECT prev_type, event_type AS next_type, count(*) AS n
       |      FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |r AS (SELECT prev_type, next_type, n,
       |        CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from,
       |        row_number() OVER (PARTITION BY prev_type ORDER BY n DESC, next_type) AS rn
       |      FROM t),
       |best AS (SELECT prev_type, next_type AS predicted_next,
       |           n AS n_correct, n_from FROM r WHERE rn = 1),
       |u AS (SELECT * FROM best
       |      UNION ALL
       |      SELECT '_overall', '*', CAST(sum(n_correct) AS BIGINT),
       |             CAST(sum(n_from) AS BIGINT) FROM best)
       |SELECT prev_type, predicted_next, n_correct, n_from,
       |       ${OracleMath.stableRoundSql("CAST(n_correct AS DOUBLE) / n_from", 6)} AS accuracy
       |FROM u ORDER BY prev_type""".stripMargin

  /** Incremental maintenance of a JOINED aggregate view — the warehouse
    * pattern q123 (pure agg merge) doesn't cover: the view joins facts to a
    * dimension before aggregating, and on each landing day only the DELTA
    * is joined (broadcast against the dim) and merged into yesterday's
    * partials; history is never re-joined or re-scanned. Emitted next to
    * the from-scratch recomputation: `n_merged`/`sum_merged` must EQUAL
    * `n_direct`/`sum_direct` on every row (the q138 merged-vs-direct
    * shape), which is precisely the correctness contract incremental view
    * maintenance has to prove. Sums ride DECIMAL partials (order-free);
    * the split point (latest landed day) is an aggregate, not a collect.
    */
  def incrementalViewMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val maxDay = ev.agg(max(col("day")).as("max_day"))
    val tagged = ev.crossJoin(maxDay)
    def viewAgg(df: DataFrame): DataFrame = df
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val oldAgg = viewAgg(tagged.filter(col("day") < col("max_day")))
    val deltaAgg = viewAgg(tagged.filter(col("day") === col("max_day")))
    val merged = oldAgg.unionByName(deltaAgg)
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("n")).as("n_merged"), sum(col("s")).as("sum_merged"))
    val direct = viewAgg(tagged)
      .select(col("c_mktsegment"), col("n").as("n_direct"), col("s").as("sum_direct"))
    merged.join(direct, "c_mktsegment")
      .select(col("c_mktsegment"), col("n_merged"), col("n_direct"),
        col("sum_merged").cast("double").as("sum_merged"),
        col("sum_direct").cast("double").as("sum_direct"))
      .orderBy(col("c_mktsegment"))
  }

  val incrementalViewMergeOracle: String =
    """SELECT c_mktsegment, count(*) AS n_merged, count(*) AS n_direct,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_merged,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_direct
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Trailing 7-DAY spend per user via a RANGE (value-based) window frame —
    * semantically different from the ROWS frames used elsewhere (q63/q86/
    * q166): the frame is defined by the ORDER-BY VALUE distance (day number
    * within 6 of the current row's), so inactivity gaps genuinely shrink
    * the window instead of reaching back 6 physical rows. The window runs
    * on the user's DAILY pre-aggregate (one shuffle to daily grain, then
    * the frame scans ≤ 7 tiny rows per day) — at 100 TB the pre-agg is
    * what keeps a per-event range frame from re-scanning raw history.
    * Frame sums are COUNT/DECIMAL only (the q166 exact-types discipline).
    */
  def rangeWindowSpend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).as("rev"))
      .withColumn("day_num", datediff(col("day").cast("date"), lit("1995-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_num")).rangeBetween(-6, 0)
    daily
      .withColumn("n_7d", sum(col("n")).over(w))
      .withColumn("rev_7d", sum(col("rev")).over(w).cast("double"))
      .select(col("user_id"), col("day"), col("n"), col("n_7d"), col("rev_7d"))
      .orderBy(col("user_id"), col("day"))
  }

  val rangeWindowSpendOracle: String =
    """WITH daily AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n,
      |         sum(CAST(value AS DECIMAL(18,2))) AS rev,
      |         date_diff('day', DATE '1995-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_num
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT user_id, day, n,
      | CAST(sum(n) OVER w AS BIGINT) AS n_7d,
      | CAST(sum(rev) OVER w AS DOUBLE) AS rev_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY day_num
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin

  /** Linear multi-touch attribution — the credit-splitting counterpart of
    * q61's last-touch as-of join: EVERY click in the purchase's 5-minute
    * lookback (the q87 interval-join shape) receives an equal 1/n share of
    * the purchase value. The per-purchase touch count is a window over the
    * already-joined pairs (each purchase's group is its own touches — tiny),
    * and the credit division happens per-row AFTER exact integer counting.
    * Single-touch purchases get weight 1.0 exactly; the weight and credit
    * are engine-identical doubles (1/n and value/n, one IEEE divide each).
    */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val w = Window.partitionBy(col("purchase_id"))
    p.join(c, col("user_id") === col("c_user")
        && col("c_ts") <= col("p_ts")
        && col("c_ts") > col("p_ts") - expr("INTERVAL 5 MINUTES"))
      .withColumn("n_touch", count(lit(1)).over(w))
      .select(col("purchase_id"), col("click_id"), col("n_touch"),
        OracleMath.stableRound(lit(1.0) / col("n_touch"), 6).as("weight_r"),
        OracleMath.stableRound(col("value") / col("n_touch"), 6).as("credit_r"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  val multiTouchAttributionOracle: String =
    s"""WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
       |          FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
       |      FROM events WHERE event_type = 'click'),
       |j AS (SELECT p.purchase_id, c.click_id, p.value,
       |        count(*) OVER (PARTITION BY p.purchase_id) AS n_touch
       |      FROM p JOIN c ON p.user_id = c.c_user
       |        AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 5 MINUTES)
       |SELECT purchase_id, click_id, n_touch,
       | ${OracleMath.stableRoundSql("1.0 / n_touch", 6)} AS weight_r,
       | ${OracleMath.stableRoundSql("value / n_touch", 6)} AS credit_r
       |FROM j ORDER BY purchase_id, click_id""".stripMargin

  /** Time-decay lookback and step for [[timeDecayAttribution]]: 30-minute
    * window, 5-minute half-life steps — k = gap DIV 300 ∈ [0, 5], so every
    * decay weight is the exact dyadic 2⁻ᵏ, carried as the INTEGER
    * 2^(5−k) ∈ {32, 16, 8, 4, 2, 1} (the q191 dyadic-weight trick: the
    * weight ratios are exact, and the per-purchase share is one final
    * division of exact integers).
    */
  val DecayWindowSec = 1800L
  val DecayStepSec = 300L

  /** Time-decay multi-touch attribution — completes the attribution family
    * (as-of last-touch q61, equal-split linear q179, nearest q249): each
    * click in the purchase's 30-minute lookback gets credit ∝ 2^(−⌊gap∕5min⌋)
    * — recent touches weighted exponentially more. Same user-keyed interval
    * join as q179 + one per-purchase window summing the INTEGER weights;
    * share = w∕Σw is the only division, applied per-row after the exact
    * sums, so shares hash-match and sum to exactly 1 per purchase (spec).
    */
  def timeDecayAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("t").as("pt"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("t").as("ct"))
    val w = Window.partitionBy(col("purchase_id"))
    p.join(c, col("user_id") === col("cu")
        && col("ct") <= col("pt")
        && col("pt") - col("ct") < lit(DecayWindowSec))
      .withColumn("k", expr(s"(pt - ct) DIV $DecayStepSec"))
      .withColumn("wgt", expr("CAST(shiftleft(1L, CAST(5 - k AS INT)) AS BIGINT)"))
      .withColumn("w_sum", sum(col("wgt")).over(w))
      .select(col("purchase_id"), col("click_id"), (col("pt") - col("ct")).as("gap_s"),
        col("wgt"), col("w_sum"),
        OracleMath.stableRound(
          col("wgt").cast("double") / col("w_sum").cast("double"), 6).as("share_r"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  val timeDecayAttributionOracle: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events),
       |p AS (SELECT event_id AS purchase_id, user_id, t AS pt FROM e WHERE event_type = 'purchase'),
       |c AS (SELECT event_id AS click_id, user_id AS cu, t AS ct FROM e WHERE event_type = 'click'),
       |j AS (SELECT p.purchase_id, c.click_id, p.pt - c.ct AS gap_s,
       |        CAST(1 << CAST(5 - (p.pt - c.ct) // $DecayStepSec AS INTEGER) AS BIGINT) AS wgt
       |      FROM p JOIN c ON p.user_id = c.cu
       |        AND c.ct <= p.pt AND p.pt - c.ct < $DecayWindowSec),
       |s AS (SELECT *, CAST(sum(wgt) OVER (PARTITION BY purchase_id) AS BIGINT) AS w_sum FROM j)
       |SELECT purchase_id, click_id, gap_s, wgt, w_sum,
       | ${OracleMath.stableRoundSql("CAST(wgt AS DOUBLE) / CAST(w_sum AS DOUBLE)", 6)} AS share_r
       |FROM s ORDER BY purchase_id, click_id""".stripMargin

  /** Schema-evolution ingestion: a landing zone whose LATER files carry a
    * column the earlier vintage lacks (`channel`, added mid-stream — the
    * drift every long-lived pipeline hits). `mergeSchema` unifies the
    * per-file schemas at read time; legacy rows surface the new column as
    * null and are bucketed under 'legacy'. At 100 TB the point is that the
    * old petabytes are NOT rewritten: the merged schema is a read-time
    * union (footer-only work per file), and writers simply start emitting
    * the new column. Staged once per sf dir ([[graft.ops.Staging.ensure]]);
    * the oracle replays the vintage split from the source table.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"),
        date_trunc("day", col("ts")).as("day"))
    val staged = Staging.ensure(spark, "schema_evo", dir, Seq("events"),
      Seq("vintage_old", "vintage_new")) { base =>
      val maxDay = ev.agg(max(col("day")).as("max_day"))
      val tagged = ev.crossJoin(maxDay)
      tagged.filter(col("day") < col("max_day"))
        .select(col("event_id"), col("user_id"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(base + "/vintage_old")
      tagged.filter(col("day") === col("max_day"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type").as("channel"))
        .coalesce(1).write.mode("overwrite").parquet(base + "/vintage_new")
    }
    spark.read.option("mergeSchema", "true")
      .parquet(staged + "/vintage_old", staged + "/vintage_new")
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("channel"))
  }

  val schemaEvolutionOracle: String =
    """WITH ev AS (SELECT event_type, value, date_trunc('day', ts) AS day FROM events),
      |m AS (SELECT max(day) AS max_day FROM ev)
      |SELECT CASE WHEN day < max_day THEN 'legacy' ELSE event_type END AS channel,
      | count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM ev, m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Pearson correlation from EXACT partial sums — the distributed-stats
    * discipline the built-in `corr` can't offer cross-engine: `corr`
    * accumulates floating co-moments in partition order (Spark's partials
    * vs DuckDB's sequential scan disagree in last ulps), while the six
    * sufficient statistics here (n, Σx, Σy, Σxy, Σx², Σy²) are DECIMAL/
    * integer sums — order-free, mergeable, one map-side-combined shuffle —
    * and r is assembled per-group in ONE fixed double expression at the
    * end. Correlates event value with hour-of-day per event type (the "is
    * value time-structured" check). The same six-sum shape is how any
    * co-moment (covariance, OLS slope, R²) distributes exactly.
    */
  def exactCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("value").cast(DecimalType(18, 2))
    val y = hour(col("ts")).cast("long")
    val s = Tables.events(spark, dir)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    val r = (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    s.select(col("event_type"), col("n"), OracleMath.stableRound(r, 6).as("corr_r"))
      .orderBy(col("event_type"))
  }

  val exactCorrOracle: String = {
    val r = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    s"""WITH s AS (SELECT event_type, count(*) AS n,
       |    sum(CAST(value AS DECIMAL(18,2))) AS sx,
       |    sum(CAST(hour(ts) AS BIGINT)) AS sy,
       |    sum(CAST(value AS DECIMAL(18,2)) * CAST(hour(ts) AS BIGINT)) AS sxy,
       |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx,
       |    sum(CAST(hour(ts) AS BIGINT) * CAST(hour(ts) AS BIGINT)) AS syy
       |  FROM events GROUP BY 1)
       |SELECT event_type, n, ${OracleMath.stableRoundSql(r, 6)} AS corr_r
       |FROM s ORDER BY event_type""".stripMargin
  }

  /** Robust daily-volume anomaly detection: median / median-absolute-
    * deviation instead of q166's trailing mean — the estimator a single
    * crazy landing day cannot drag (mean-based drift flags its NEIGHBORS;
    * MAD flags the day itself). Medians are EXACT middle-rank averages
    * computed on the daily aggregate (days-sized — tiny at any corpus
    * scale, so the rank windows are free; the corpus-sized work is one
    * map-side-combined daily count). All arithmetic stays exact: counts
    * are integers, medians are k or k.5 (sum of ≤2 ints over 2), MAD
    * deviations are .25-granular — every one a dyadic rational, exactly
    * representable and engine-identical; the only rounding is the final
    * 4.4478·MAD (≈3σ for normal data) literal threshold, written as ONE
    * literal in both engines (the q157 constant-folding lesson).
    */
  def madAnomalyDays(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val nRows = daily.agg(count(lit(1)).as("n_rows"))
    def medianOf(df: DataFrame, c: String): DataFrame = df
      .withColumn("rn", row_number().over(Window.orderBy(col(c))).cast("long"))
      .crossJoin(nRows)
      .filter(col("rn") === expr("(n_rows + 1) DIV 2") ||
        col("rn") === expr("(n_rows + 2) DIV 2"))
      .agg(avg(col(c)).as("m"))
    val med = medianOf(daily, "n").select(col("m").as("med"))
    val dev = daily.crossJoin(med)
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = medianOf(dev.select(col("dev")), "dev").select(col("m").as("mad"))
    dev.crossJoin(mad)
      .select(col("day"), col("n"), col("med"), col("mad"), col("dev"),
        (col("dev") > lit(4.4478) * col("mad")).as("flagged"))
      .orderBy(col("day"))
  }

  val madAnomalyDaysOracle: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1),
      |st AS (SELECT count(*) AS n_rows FROM daily),
      |r1 AS (SELECT n, row_number() OVER (ORDER BY n) AS rn FROM daily),
      |med AS (SELECT avg(n) AS med FROM r1, st
      |        WHERE rn = (n_rows + 1) // 2 OR rn = (n_rows + 2) // 2),
      |d AS (SELECT day, n, med, abs(n - med) AS dev FROM daily, med),
      |r2 AS (SELECT dev, row_number() OVER (ORDER BY dev) AS rn FROM d),
      |mad AS (SELECT avg(dev) AS mad FROM r2, st
      |        WHERE rn = (n_rows + 1) // 2 OR rn = (n_rows + 2) // 2)
      |SELECT day, n, med, mad, dev, dev > 4.4478 * mad AS flagged
      |FROM d, mad ORDER BY day""".stripMargin

  /** CUSUM threshold multiple: flag when the clamped cumulative deviation
    * exceeds [[CusumThresholdMult]] × total daily mass (in the scaled
    * integer units below). Single-sourced into the twin.
    */
  val CusumThresholdMult = 2L

  /** CUSUM change-point detection over the daily volume series — the
    * SEQUENTIAL monitor beside q166's windowed drift and q186's robust
    * outliers: small persistent shifts that never trip a per-day threshold
    * accumulate in the one-sided sums S⁺ₜ = max(0, S⁺ₜ₋₁ + devₜ) and
    * S⁻ₜ = max(0, S⁻ₜ₋₁ − devₜ). The floor-at-zero recurrence depends on
    * the previous POST-clamp value, so like q197's balance it is a true
    * left fold — run row-locally over the collected day list (days-sized,
    * constant at any corpus scale; the corpus-sized work is the one daily
    * hash aggregate).
    *
    * Exactness: deviations are scaled to integer units devₜ = nₜ·n_days −
    * total (zero-mean by construction — Σdevₜ = 0), so the whole
    * trajectory, the threshold [[CusumThresholdMult]]·total and every flag
    * are pure integer arithmetic; the DuckDB twin replays the walk with a
    * recursive CTE and hash-matches bit-for-bit.
    */
  def cusumChangePoints(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val folded = daily
      .select(struct(col("day"), col("n")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cs"))
      .withColumn("n_days", size(col("cs")).cast("long"))
      .withColumn("total", expr("aggregate(cs, 0L, (a, x) -> a + x.n)"))
    val foldExpr =
      """aggregate(cs,
        |  named_struct('sp', 0L, 'sn', 0L,
        |    'out', CAST(array() AS ARRAY<STRUCT<day: TIMESTAMP, n: BIGINT, dev: BIGINT, s_pos: BIGINT, s_neg: BIGINT>>)),
        |  (st, x) -> named_struct(
        |    'sp', greatest(0L, st.sp + (x.n * n_days - total)),
        |    'sn', greatest(0L, st.sn - (x.n * n_days - total)),
        |    'out', array_append(st.out, named_struct(
        |      'day', x.day, 'n', x.n, 'dev', x.n * n_days - total,
        |      's_pos', greatest(0L, st.sp + (x.n * n_days - total)),
        |      's_neg', greatest(0L, st.sn - (x.n * n_days - total))))),
        |  st -> st.out)""".stripMargin
    folded
      .select(col("total"), posexplode(expr(foldExpr)).as(Seq("pos", "a")))
      .select(col("a.day").as("day"), col("a.n").as("n"), col("a.dev").as("dev_scaled"),
        col("a.s_pos").as("s_pos"), col("a.s_neg").as("s_neg"),
        (col("a.s_pos") > lit(CusumThresholdMult) * col("total") ||
          col("a.s_neg") > lit(CusumThresholdMult) * col("total")).as("flagged"))
      .orderBy(col("day"))
  }

  val cusumOracle: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(n) AS BIGINT) AS total FROM daily),
       |ord AS (SELECT day, CAST(n AS BIGINT) AS n,
       |          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i FROM daily),
       |walk AS (
       |  SELECT o.i, o.day, o.n, o.n * s.n_days - s.total AS dev,
       |    greatest(CAST(0 AS BIGINT), o.n * s.n_days - s.total) AS s_pos,
       |    greatest(CAST(0 AS BIGINT), -(o.n * s.n_days - s.total)) AS s_neg
       |  FROM ord o, st s WHERE o.i = 1
       |  UNION ALL
       |  SELECT o.i, o.day, o.n, o.n * s.n_days - s.total,
       |    greatest(CAST(0 AS BIGINT), w.s_pos + (o.n * s.n_days - s.total)),
       |    greatest(CAST(0 AS BIGINT), w.s_neg - (o.n * s.n_days - s.total))
       |  FROM walk w JOIN ord o ON o.i = w.i + 1 CROSS JOIN st s)
       |SELECT day, n, dev AS dev_scaled, s_pos, s_neg,
       |  (s_pos > $CusumThresholdMult * total OR s_neg > $CusumThresholdMult * total) AS flagged
       |FROM walk CROSS JOIN st ORDER BY day""".stripMargin

  val pageRankOracle: String = {
    val rounds = (1 to PrRounds).map { k =>
      s"""r$k AS (SELECT d.src AS node, d.deg,
         |  ${PrScale * 15L / 100L} + (85 * coalesce(s.in_sum, 0)) // 100 AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS dst, sum(r.rank // r.deg) AS in_sum
         |    FROM r${k - 1} r JOIN edges e ON e.src = r.node GROUP BY 1) s
         |  ON s.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $cooccurrenceEdgesCte,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS node, deg, CAST($PrScale AS BIGINT) AS rank FROM deg),
       |$rounds,
       |tot AS (SELECT sum(rank) AS total_rank FROM r$PrRounds)
       |SELECT node AS user_id, CAST(deg AS BIGINT) AS degree,
       | CAST(rank AS BIGINT) AS rank_scaled,
       | ${OracleMath.stableRoundSql("CAST(rank AS DOUBLE) * 100.0 / CAST(total_rank AS DOUBLE)", 6)} AS share_pct
       |FROM r$PrRounds, tot ORDER BY user_id""".stripMargin
  }

  /** VariantType ingestion (Spark 4's semi-structured path): `parse_json`
    * converts each props payload ONCE into the shredded binary variant
    * encoding, then typed `variant_get` extractions read fields without
    * re-parsing — the 100 TB answer to repeated `get_json_object` calls,
    * which re-parse the JSON text per extraction. `try_variant_get` on an
    * absent path yields null (counted here: absent in every row) instead of
    * failing, the schema-drift tolerance a landing zone needs.
    */
  def variantProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr("parse_json(props)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.missing', 'bigint')").as("m"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("m")).as("n_missing_present"))
      .orderBy(col("event_type"))

  /** Secondary sort: per-user inter-event gap statistics computed by a
    * single ORDERED scan per key — `repartition(user_id)` co-locates each
    * key, `sortWithinPartitions(user_id, ts, event_id)` gives the
    * within-key order WITHOUT a global sort, and one `mapPartitions` pass
    * walks consecutive runs with O(1) state. This is the classic
    * secondary-sort pattern for sequence feature extraction at scale: the
    * sort is partition-local (spillable, no single reducer), and nothing
    * is ever grouped into memory (vs collect_list, which materializes each
    * user's whole history per row). Gaps are whole-second (epoch-floor
    * differences), so micro-vs-nano timestamp truncation cannot shift them.
    */
  def userGapStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sorted = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
    val stats = sorted.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var user = Long.MinValue
      var n = 0L; var prevSec = 0L; var maxGap = 0L; var sumGap = 0L
      def flush(): Unit = if (n > 0) out += ((user, n, maxGap, sumGap))
      it.foreach { r =>
        val u = r.getLong(0)
        val sec = Math.floorDiv(r.getTimestamp(1).getTime, 1000L)
        if (u != user) { flush(); user = u; n = 0L; maxGap = 0L; sumGap = 0L; prevSec = sec }
        else { val g = sec - prevSec; maxGap = math.max(maxGap, g); sumGap += g; prevSec = sec }
        n += 1
      }
      flush()
      out.iterator
    }.toDF("user_id", "n_events", "max_gap_s", "sum_gap_s")
    stats
      .select(col("user_id"), col("n_events"), col("max_gap_s"),
        when(col("n_events") > 1,
          OracleMath.stableRound(col("sum_gap_s").cast("double") / (col("n_events") - 1), 2))
          .otherwise(lit(0.0)).as("mean_gap_s"))
      .orderBy(col("user_id"))
  }

  def asofAttributionOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    graft.plans.AsOfJoin.asof(purchases, clicks,
        Seq(purchases("user_id")), Seq(clicks("click_user")),
        purchases("ts"), clicks("click_ts"), outer = true)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(
          expr("unix_micros(ts) DIV 1000000 - unix_micros(click_ts) DIV 1000000"),
          lit(-1L)).as("lag_seconds"))
      .orderBy(col("purchase_id"))
  }

  /** Funnel stage-transition timing — how long converting users take
    * between stages, the drop-off DIAGNOSIS on top of q99's drop-off
    * counts. Reuses q99's exact stage semantics (first-event times,
    * strictly increasing), emits per transition: user count, EXACT
    * middle-rank median gap, exact-rank p90 (element at ⌈0.9n⌉ — rank
    * SELECTION, like q186/q200: the value at a rank is well-defined even
    * when row_number breaks gap ties differently per engine), and max.
    * Gaps are integer seconds; the only float is the median's dyadic ÷2.
    * Scale: one user-keyed agg (corpus-sized) → per-pair rank windows on
    * the converting-users table.
    */
  def funnelTiming(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def minTs(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    def gapSec(a: String, b: String) =
      expr(s"unix_micros(t_$b) DIV 1000000 - unix_micros(t_$a) DIV 1000000")
    val s1 = col("t_signup").isNotNull
    val s2 = s1 && col("t_view") > col("t_signup")
    val s3 = s2 && col("t_click") > col("t_view")
    val s4 = s3 && col("t_purchase") > col("t_click")
    val gaps = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(minTs("signup"), minTs("view"), minTs("click"), minTs("purchase"))
      .withColumn("stage", when(s4, 4L).when(s3, 3L).when(s2, 2L).when(s1, 1L).otherwise(0L))
      .select(explode(array(
        struct(lit("1_signup_to_view").as("pair"),
          when(col("stage") >= 2, gapSec("signup", "view")).as("gap")),
        struct(lit("2_view_to_click").as("pair"),
          when(col("stage") >= 3, gapSec("view", "click")).as("gap")),
        struct(lit("3_click_to_purchase").as("pair"),
          when(col("stage") >= 4, gapSec("click", "purchase")).as("gap")))).as("p"))
      .select(col("p.pair").as("pair"), col("p.gap").as("gap"))
      .filter(col("gap").isNotNull)
    val n = count(lit(1)).over(Window.partitionBy(col("pair")))
    val rn = row_number().over(Window.partitionBy(col("pair")).orderBy(col("gap")))
    gaps.withColumn("n", n).withColumn("rn", rn)
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_users"),
        OracleMath.stableRound(
          (max(when(col("rn") === expr("(n + 1) DIV 2"), col("gap"))) +
            max(when(col("rn") === expr("(n + 2) DIV 2"), col("gap")))).cast("double") / 2.0, 1)
          .as("median_gap_s"),
        max(when(col("rn") === expr("(n * 9 + 9) DIV 10"), col("gap"))).as("p90_gap_s"),
        max(col("gap")).as("max_gap_s"))
      .orderBy(col("pair"))
  }

  val funnelTimingOracle: String =
    s"""WITH m AS (SELECT user_id,
       |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
       |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
       |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
       |  FROM events GROUP BY 1),
       |st AS (SELECT *,
       |    CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
       |          AND t_click > t_view AND t_purchase > t_click THEN 4
       |         WHEN t_signup IS NOT NULL AND t_view > t_signup
       |          AND t_click > t_view THEN 3
       |         WHEN t_signup IS NOT NULL AND t_view > t_signup THEN 2
       |         WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS stage
       |  FROM m),
       |gaps AS (
       |  SELECT '1_signup_to_view' AS pair,
       |    date_diff('second', t_signup, t_view) AS gap FROM st WHERE stage >= 2
       |  UNION ALL SELECT '2_view_to_click',
       |    date_diff('second', t_view, t_click) FROM st WHERE stage >= 3
       |  UNION ALL SELECT '3_click_to_purchase',
       |    date_diff('second', t_click, t_purchase) FROM st WHERE stage >= 4),
       |rk AS (SELECT pair, gap,
       |         count(*) OVER (PARTITION BY pair) AS n,
       |         row_number() OVER (PARTITION BY pair ORDER BY gap) AS rn
       |       FROM gaps)
       |SELECT pair, count(*) AS n_users,
       |  ${OracleMath.stableRoundSql(
          "CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap END) + " +
            "max(CASE WHEN rn = (n + 2) // 2 THEN gap END) AS DOUBLE) / 2.0", 1)} AS median_gap_s,
       |  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN gap END) AS p90_gap_s,
       |  max(gap) AS max_gap_s
       |FROM rk GROUP BY 1 ORDER BY pair""".stripMargin

  /** Burst (rate-limit) detection — per user, the maximum number of events
    * in ANY trailing 60-second window, via a value-based RANGE frame over
    * integer epoch seconds (the q176 discipline at second granularity:
    * a ROWS frame would be wrong whenever activity has gaps, which is the
    * whole point of burst detection). Ties on the same second are RANGE
    * peers — included identically by both engines. One user-keyed shuffle;
    * the frame count is integers only. Flag threshold single-sourced into
    * the oracle.
    */
  val BurstFlagThreshold = 5L

  def burstDetect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-59, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) DIV 1000000").as("sec"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("burst")).as("max_burst_60s"))
      .withColumn("flagged", col("max_burst_60s") > BurstFlagThreshold)
      .orderBy(col("user_id"))
  }

  val burstDetectOracle: String =
    s"""WITH e AS (SELECT user_id,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
       |  FROM events),
       |b AS (SELECT user_id,
       |        count(*) OVER (PARTITION BY user_id ORDER BY sec
       |          RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS burst
       |      FROM e)
       |SELECT user_id, count(*) AS n_events, max(burst) AS max_burst_60s,
       |       max(burst) > $BurstFlagThreshold AS flagged
       |FROM b GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Deterministic half-sample bootstrap CI for the per-type mean value —
    * uncertainty quantification as a QUERY: 32 bootstrap replicas, where
    * replica b contains a row iff bit b of the row's 32-bit md5 integer is
    * set (ONE hash per row drives all 32 replicas — deterministic, so both
    * engines build the identical replica ensemble). The scan shape is the
    * 100 TB-correct one: 32 conditional (count, DECIMAL-sum) pairs in ONE
    * map-side-combined aggregation — no 32× row amplification — then the
    * tiny per-type stats row unpivots to 32 replica means (one fixed float
    * division each) and the CI takes EXACT RANKS over them (2nd / 16-17
    * midrank / 31st of 32) — rank selection, not float re-summation, so
    * nothing order-dependent ever happens to a float.
    */
  val BootstrapReplicas = 32

  def bootstrapCI(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mask = expr("conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)").cast("long")
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast(DecimalType(18, 2)).as("v"), mask.as("mask"))
    val aggs = (0 until BootstrapReplicas).flatMap { b =>
      Seq(sum(when(expr(s"shiftright(mask, $b) & 1 = 1"), col("v"))).as(s"s$b"),
        sum(when(expr(s"shiftright(mask, $b) & 1 = 1"), 1L).otherwise(0L)).as(s"c$b"))
    }
    val stats = base.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
    val stackArgs = (0 until BootstrapReplicas)
      .map(b => s"$b, s$b, c$b").mkString(", ")
    val reps = stats.select(col("event_type"),
        expr(s"stack($BootstrapReplicas, $stackArgs) AS (b, s, c)"))
      .select(col("event_type"), col("b"),
        (col("s").cast("double") / col("c").cast("double")).as("m"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("m"), col("b"))
    reps.withColumn("rn", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_replicas"),
        OracleMath.stableRound(max(when(col("rn") === 2, col("m"))), 6).as("ci_lo"),
        OracleMath.stableRound(
          (max(when(col("rn") === 16, col("m"))) + max(when(col("rn") === 17, col("m"))))
            / lit(2.0), 6).as("ci_mid"),
        OracleMath.stableRound(max(when(col("rn") === 31, col("m"))), 6).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  val bootstrapCIOracle: String = {
    val sums = (0 until BootstrapReplicas).map { b =>
      s"sum(CASE WHEN (mask >> $b) & 1 = 1 THEN v END) AS s$b,\n" +
        s"        CAST(sum(CASE WHEN (mask >> $b) & 1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c$b"
    }.mkString(",\n        ")
    val unions = (0 until BootstrapReplicas)
      .map(b => s"SELECT event_type, $b AS b, CAST(s$b AS DOUBLE) / CAST(c$b AS DOUBLE) AS m FROM stats")
      .mkString("\n  UNION ALL ")
    s"""WITH base AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
       |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS mask
       |  FROM events),
       |stats AS (SELECT event_type,
       |        $sums
       |      FROM base GROUP BY 1),
       |reps AS (
       |  $unions),
       |rk AS (SELECT event_type, b, m,
       |         row_number() OVER (PARTITION BY event_type ORDER BY m, b) AS rn
       |       FROM reps)
       |SELECT event_type, count(*) AS n_replicas,
       |  ${OracleMath.stableRoundSql("max(CASE WHEN rn = 2 THEN m END)", 6)} AS ci_lo,
       |  ${OracleMath.stableRoundSql("(max(CASE WHEN rn = 16 THEN m END) + max(CASE WHEN rn = 17 THEN m END)) / 2.0", 6)} AS ci_mid,
       |  ${OracleMath.stableRoundSql("max(CASE WHEN rn = 31 THEN m END)", 6)} AS ci_hi
       |FROM rk GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  /** Clamped running balance (floor at zero) per user — the prepaid-account
    * scan that NO window frame can express: the clamp makes each step
    * depend on the post-clamp value of the previous one, so it's a true
    * left fold. Here it's a row-local `aggregate()` HOF over the user's
    * time-ordered delta list (purchases debit, everything else credits):
    * one user-keyed shuffle collects the list, the fold runs inside the
    * row. State per user is the user's own history — bounded by per-user
    * activity, the same assumption every sessionization op here makes (an
    * unbounded-history user would move to flatMapGroupsWithState).
    * Exactness: deltas are integer CENTS (DECIMAL(18,2)·100 — exact in
    * both engines), the fold is integer add + clamp, and the fold ORDER is
    * pinned by sorting (micros, event_id, delta) structs — lexicographic
    * struct sort in Spark ≡ `ORDER BY ts, event_id` list aggregation in
    * DuckDB (its list_reduce seeds with the first element, so the twin
    * prepends the zero).
    */
  def clampedBalance(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val signed = when(col("event_type") === "purchase", -cents).otherwise(cents)
    Tables.events(spark, dir)
      .select(col("user_id"),
        struct(expr("unix_micros(ts)").as("m"), col("event_id").as("e"),
          signed.as("d")).as("rec"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), collect_list(col("rec")).as("recs"))
      .withColumn("balance_cents", expr(
        "aggregate(transform(array_sort(recs), r -> r.d), 0L, (acc, d) -> greatest(acc + d, 0L))"))
      .select(col("user_id"), col("n_events"), col("balance_cents"),
        (col("balance_cents").cast("double") / 100.0).as("balance"))
      .orderBy(col("user_id"))
  }

  val clampedBalanceOracle: String =
    """WITH d AS (SELECT user_id, ts, event_id,
      |    CASE WHEN event_type = 'purchase'
      |         THEN -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |         ELSE  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS dc
      |  FROM events),
      |g AS (SELECT user_id, count(*) AS n_events,
      |        list(dc ORDER BY ts, event_id) AS ds
      |      FROM d GROUP BY 1)
      |SELECT user_id, n_events,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
      |              (acc, x) -> greatest(acc + x, CAST(0 AS BIGINT))) AS balance_cents,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
      |              (acc, x) -> greatest(acc + x, CAST(0 AS BIGINT))) AS DOUBLE) / 100.0 AS balance
      |FROM g ORDER BY user_id""".stripMargin

  /** Chi-square contingency drilldown — independence audit of event type vs
    * day-of-week (is traffic mix shifting across the week?), reported
    * PER CELL: observed count, expected count under independence
    * (row·col/N), and the cell's χ² contribution. Per-cell reporting is
    * the numeric-parity trick: each contribution is ONE fixed double
    * expression over exact integer window sums — no cross-cell float total
    * to drift between engines (the spec totals them in-JVM instead). The
    * corpus-sized work is a single map-side-combined count; the three
    * marginal window sums run on the cells table (types × 7 rows —
    * constant at any corpus size, so even the unpartitioned total-window
    * is free).
    */
  def chi2Cells(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("observed"))
    val expected = col("row_tot").cast("double") * col("col_tot").cast("double") /
      col("total").cast("double")
    val contrib = (col("observed").cast("double") - expected) *
      (col("observed").cast("double") - expected) / expected
    cells
      .withColumn("row_tot", sum(col("observed")).over(Window.partitionBy(col("event_type"))))
      .withColumn("col_tot", sum(col("observed")).over(Window.partitionBy(col("dow"))))
      .withColumn("total", sum(col("observed")).over(Window.partitionBy()))
      .select(col("event_type"), col("dow"), col("observed"),
        OracleMath.stableRound(expected, 4).as("expected"),
        OracleMath.stableRound(contrib, 6).as("chi2_contrib"))
      .orderBy(col("event_type"), col("dow"))
  }

  val chi2CellsOracle: String = {
    val expected = "CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(total AS DOUBLE)"
    val contrib = s"(CAST(observed AS DOUBLE) - ($expected)) * (CAST(observed AS DOUBLE) - ($expected)) / ($expected)"
    s"""WITH cells AS (SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |    count(*) AS observed
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT event_type, dow, observed,
       |        sum(observed) OVER (PARTITION BY event_type) AS row_tot,
       |        sum(observed) OVER (PARTITION BY dow) AS col_tot,
       |        sum(observed) OVER () AS total
       |      FROM cells)
       |SELECT event_type, dow, observed,
       |  ${OracleMath.stableRoundSql(expected, 4)} AS expected,
       |  ${OracleMath.stableRoundSql(contrib, 6)} AS chi2_contrib
       |FROM m ORDER BY event_type, dow""".stripMargin
  }

  /** Time-weighted average value per user — trapezoidal integration over
    * the user's event timeline, the correct mean for irregularly-sampled
    * series (the plain mean over-weights bursts; TWA weights each value by
    * how long it held). Exactness: segment durations are integer seconds
    * (`unix_micros DIV 1e6` diffs ≡ DuckDB `date_diff('second', …)` — the
    * q87 identity), values are DECIMAL(18,2), so every trapezoid term
    * `(vᵢ + vᵢ₊₁)·Δtᵢ` and both rollup sums are order-free exact
    * arithmetic; the single float op is the final per-user division (the
    * ÷2 of the trapezoid rule folded into it). One user-keyed shuffle for
    * the lead window, re-aggregated under the same key — the q128
    * secondary-sort shape.
    */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sec = expr("unix_micros(ts) DIV 1000000")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .withColumn("next_v", lead(col("v"), 1).over(w))
      .withColumn("dt", lead(sec, 1).over(w) - sec)
      .filter(col("next_v").isNotNull && col("dt") > 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dt")).as("total_seconds"),
        sum((col("v") + col("next_v")) * col("dt")).as("twa_num"))
      .select(col("user_id"), col("n_segments"), col("total_seconds"),
        OracleMath.stableRound(
          col("twa_num").cast("double") / (lit(2.0) * col("total_seconds").cast("double")), 6)
          .as("twa"))
      .orderBy(col("user_id"))
  }

  val timeWeightedAvgOracle: String =
    s"""WITH e AS (SELECT user_id, event_id, ts, CAST(value AS DECIMAL(18,2)) AS v,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
       |  FROM events),
       |seg AS (SELECT user_id, v,
       |    lead(v) OVER w AS next_v,
       |    lead(sec) OVER w - sec AS dt
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (SELECT user_id, count(*) AS n_segments,
       |        CAST(sum(dt) AS BIGINT) AS total_seconds,
       |        sum((v + next_v) * dt) AS twa_num
       |      FROM seg WHERE next_v IS NOT NULL AND dt > 0 GROUP BY 1)
       |SELECT user_id, n_segments, total_seconds,
       |  ${OracleMath.stableRoundSql("CAST(twa_num AS DOUBLE) / (2.0 * CAST(total_seconds AS DOUBLE))", 6)} AS twa
       |FROM s ORDER BY user_id""".stripMargin

  /** Per-group OLS trend line from exact sufficient statistics — the
    * regression sibling of [[exactCorr]]: each event type's DAILY total
    * value regressed on the day index (days since a fixed 2020-01-01
    * anchor, so x is a small exact integer with no data-dependent pass for
    * the minimum). One map-side-combined shuffle accumulates the five
    * sums (n, Σx, Σy, Σxy, Σx²) in integer/DECIMAL arithmetic; slope,
    * intercept and R² are then assembled per-group in ONE fixed double
    * expression (Spark's built-in `regr_slope` accumulates float
    * co-moments in partition order — not hash-matchable; the
    * sufficient-stats route is). The daily pre-aggregate means the
    * regression runs over days × types rows — thousands at 100 TB.
    */
  def olsTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")), lit("2020-01-01").cast("date")).cast("long").as("x"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("y"))
    val s = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n_days").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    val r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    s.select(col("event_type"), col("n_days"),
        OracleMath.stableRound(slope, 6).as("slope"),
        OracleMath.stableRound(intercept, 4).as("intercept"),
        OracleMath.stableRound(r2, 6).as("r2"))
      .orderBy(col("event_type"))
  }

  val olsTrendOracle: String = {
    val n = "CAST(n_days AS DOUBLE)"
    val (sx, sy, sxy, sxx, syy) = ("CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
      "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val slope = s"($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx)"
    val intercept = s"($sy - ($slope) * $sx) / $n"
    val r2 = s"(($n * $sxy - $sx * $sy) * ($n * $sxy - $sx * $sy)) / " +
      s"(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(date_diff('day', DATE '2020-01-01', date_trunc('day', ts)) AS BIGINT) AS x,
       |    sum(CAST(value AS DECIMAL(18,2))) AS y
       |  FROM events GROUP BY 1, 2),
       |s AS (SELECT event_type, count(*) AS n_days, sum(x) AS sx, sum(y) AS sy,
       |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
       |      FROM daily GROUP BY 1)
       |SELECT event_type, n_days,
       |       ${OracleMath.stableRoundSql(slope, 6)} AS slope,
       |       ${OracleMath.stableRoundSql(intercept, 4)} AS intercept,
       |       ${OracleMath.stableRoundSql(r2, 6)} AS r2
       |FROM s ORDER BY event_type""".stripMargin
  }

  /** Exponentially-weighted daily smoothing (half-life = 1 day) of per-type
    * spend — the trend-following counterpart of q166's flat trailing mean.
    * Numeric design that makes EWMA hash-matchable at all: the weights are
    * DYADIC (2⁻ᵏ for day-distance k ≤ 6 — 1, 0.5, …, 0.015625), so every
    * weight is an exact DECIMAL(8,6), every weighted term an exact decimal
    * product, and both the numerator and the present-weight normalizer are
    * order-free decimal sums; the only float op is one per-row division at
    * the end. A geometric-α EWMA with α∉{2⁻ᵏ} cannot do this — the weights
    * themselves would be floats. Missing days drop out of BOTH sums
    * (normalized EWMA over the present subset — the value-gap behavior
    * RANGE frames give q176). The value-range self-join runs on the tiny
    * per-(type, day) aggregate, never on raw events.
    */
  def ewmaDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("sum_v"))
    val wt = expr(
      """CASE datediff(d.day, w.day)
        | WHEN 0 THEN CAST(1.0 AS DECIMAL(8,6)) WHEN 1 THEN CAST(0.5 AS DECIMAL(8,6))
        | WHEN 2 THEN CAST(0.25 AS DECIMAL(8,6)) WHEN 3 THEN CAST(0.125 AS DECIMAL(8,6))
        | WHEN 4 THEN CAST(0.0625 AS DECIMAL(8,6)) WHEN 5 THEN CAST(0.03125 AS DECIMAL(8,6))
        | ELSE CAST(0.015625 AS DECIMAL(8,6)) END""".stripMargin)
    daily.as("d").join(daily.as("w"),
        col("d.event_type") === col("w.event_type") &&
          datediff(col("d.day"), col("w.day")).between(0, 6))
      .select(col("d.event_type").as("event_type"), col("d.day").as("day"),
        col("d.sum_v").as("day_sum"), (col("w.sum_v") * wt).as("wv"), wt.as("wt"))
      .groupBy(col("event_type"), col("day"), col("day_sum"))
      .agg(sum(col("wv")).as("num"), sum(col("wt")).as("den"),
        count(lit(1)).as("n_present"))
      .select(col("event_type"), col("day"),
        col("day_sum").cast("double").as("day_total"),
        OracleMath.stableRound(col("num").cast("double") / col("den").cast("double"), 6)
          .as("ewma"),
        col("n_present"))
      .orderBy(col("event_type"), col("day"))
  }

  val ewmaDailyOracle: String = {
    val ewma = "CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
    s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
       |                 sum(CAST(value AS DECIMAL(18,2))) AS sum_v
       |               FROM events GROUP BY 1, 2),
       |j AS (SELECT d.event_type, d.day, d.sum_v AS day_sum, w.sum_v AS w_sum,
       |        CASE date_diff('day', w.day, d.day)
       |         WHEN 0 THEN CAST(1.0 AS DECIMAL(8,6)) WHEN 1 THEN CAST(0.5 AS DECIMAL(8,6))
       |         WHEN 2 THEN CAST(0.25 AS DECIMAL(8,6)) WHEN 3 THEN CAST(0.125 AS DECIMAL(8,6))
       |         WHEN 4 THEN CAST(0.0625 AS DECIMAL(8,6)) WHEN 5 THEN CAST(0.03125 AS DECIMAL(8,6))
       |         ELSE CAST(0.015625 AS DECIMAL(8,6)) END AS wt
       |      FROM daily d JOIN daily w
       |        ON d.event_type = w.event_type
       |       AND date_diff('day', w.day, d.day) BETWEEN 0 AND 6)
       |SELECT event_type, day, CAST(day_sum AS DOUBLE) AS day_total,
       |       ${OracleMath.stableRoundSql(ewma, 6)} AS ewma,
       |       n_present
       |FROM (SELECT event_type, day, day_sum, sum(w_sum * wt) AS num,
       |             sum(wt) AS den, count(*) AS n_present
       |      FROM j GROUP BY 1, 2, 3) t
       |ORDER BY event_type, day""".stripMargin
  }

  /** ROLLING-ORIGIN forecast backtest (time-series cross-validation) of the
    * q193 linear trend: for each event type and each of its last
    * [[BacktestEvalDays]] days, fit OLS volume~day on STRICTLY EARLIER days
    * only (the rolling origin - no look-ahead), predict that day, and score
    * the absolute percentage error; next to it, the same score for the
    * naive persistence forecast (yesterday's volume). `skill > 0` means the
    * trend model beats persistence - the go/no-go every forecasting readout
    * needs before anyone trusts a fitted slope.
    *
    * Exactness: daily volumes are integer counts, so every expanding-window
    * sufficient sum (n, Sx, Sy, Sxy, Sxx over PRECEDING days via a
    * type-partitioned cumulative frame) is an exact BIGINT; each prediction
    * and APE is one fixed double expression, quantized to integer
    * micro-units before the cross-day mean. One shuffle on event_type; the
    * per-type window is the structural audit's partitioned shape.
    */
  val BacktestEvalDays = 7

  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")), lit("2020-01-01").cast("date")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRank = Window.partitionBy(col("event_type")).orderBy(desc("x"))
    val cum = daily
      .withColumn("n", count(lit(1)).over(wPrev))
      .withColumn("sx", sum(col("x")).over(wPrev))
      .withColumn("sy", sum(col("y")).over(wPrev))
      .withColumn("sxy", sum(col("x") * col("y")).over(wPrev))
      .withColumn("sxx", sum(col("x") * col("x")).over(wPrev))
      .withColumn("prev_y", lag(col("y"), 1).over(
        Window.partitionBy(col("event_type")).orderBy(col("x"))))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= BacktestEvalDays && col("n") >= 2)
    val (n, sx, sy, sxy, sxx) = (col("n").cast("double"), col("sx").cast("double"),
      col("sy").cast("double"), col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val pred = (sy - slope * sx) / n + slope * col("x").cast("double")
    val apeOls = abs(pred - col("y").cast("double")) / col("y").cast("double")
    val apeNaive = abs(col("prev_y").cast("double") - col("y").cast("double")) /
      col("y").cast("double")
    cum
      .select(col("event_type"),
        floor(apeOls * lit(1000000.0) + lit(0.5)).cast("long").as("ao"),
        floor(apeNaive * lit(1000000.0) + lit(0.5)).cast("long").as("an"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"), sum(col("ao")).as("sao"), sum(col("an")).as("san"))
      .select(col("event_type"), col("n_eval"),
        OracleMath.stableRound(
          col("sao").cast("double") / col("n_eval").cast("double") / lit(1000000.0), 6)
          .as("mape_ols"),
        OracleMath.stableRound(
          col("san").cast("double") / col("n_eval").cast("double") / lit(1000000.0), 6)
          .as("mape_naive"),
        OracleMath.stableRound(
          (col("san") - col("sao")).cast("double") / col("n_eval").cast("double") / lit(1000000.0), 6)
          .as("skill"))
      .orderBy(col("event_type"))
  }

  val forecastBacktestOracle: String = {
    val (n, sx, sy, sxy, sxx) = ("CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)",
      "CAST(sy AS DOUBLE)", "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)")
    val slope = s"($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx)"
    val pred = s"(($sy - ($slope) * $sx) / $n + ($slope) * CAST(x AS DOUBLE))"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(date_diff('day', DATE '2020-01-01', date_trunc('day', ts)) AS BIGINT) AS x,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |cum AS (SELECT event_type, x, y,
       |    CAST(count(*) OVER w AS BIGINT) AS n,
       |    CAST(sum(x) OVER w AS BIGINT) AS sx,
       |    CAST(sum(y) OVER w AS BIGINT) AS sy,
       |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
       |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
       |    lag(y) OVER (PARTITION BY event_type ORDER BY x) AS prev_y,
       |    row_number() OVER (PARTITION BY event_type ORDER BY x DESC) AS rn
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY x
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |e AS (SELECT event_type,
       |    CAST(floor((abs($pred - CAST(y AS DOUBLE)) / CAST(y AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ao,
       |    CAST(floor((abs(CAST(prev_y AS DOUBLE) - CAST(y AS DOUBLE)) / CAST(y AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS an
       |  FROM cum WHERE rn <= $BacktestEvalDays AND n >= 2)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
       |  ${OracleMath.stableRoundSql("CAST(sum(ao) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0", 6)} AS mape_ols,
       |  ${OracleMath.stableRoundSql("CAST(sum(an) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0", 6)} AS mape_naive,
       |  ${OracleMath.stableRoundSql("CAST(sum(an) - sum(ao) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0", 6)} AS skill
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
