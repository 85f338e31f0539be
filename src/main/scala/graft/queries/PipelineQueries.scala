package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.PipelineFunctions._

/** Batch analogs of the reference's per-message pipeline (SURVEY §2.1),
  * run over the `events` table: `event_type` + derived segments play the
  * MQTT topic, `props` (JSON string) plays the raw payload.
  *
  * Reference semantics studied at bin/mqtt-streamr.js:99-106 (truncate),
  * :149-155 (parse/drop), :157-159 (transform), :162-185 (routing),
  * src/Logger.js:17-21 (interval stats).
  */
object PipelineQueries {

  private val propsSchema = StructType(Seq(StructField("k", IntegerType)))

  /** `keep` plus `p`, the events' `props` JSON parsed once behind a
    * [[stageBarrier]]: every field or validity reference downstream is a
    * cheap ExtractValue of that one parse. */
  private def parsedProps(ev: DataFrame, keep: Column*): DataFrame =
    stageBarrier(ev, keep, "p" -> parseJsonLenient(col("props"), propsSchema))

  /** The schema of the synthesized nested-JSON payload: `k`, `sub.k`,
    * `sub.deep.k`. */
  private val nestedSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("sub", StructType(Seq(
      StructField("k", LongType),
      StructField("deep", StructType(Seq(StructField("k", LongType)))))))))

  /** `event_id` plus `p`, one nested-JSON document per event (as an MQTT
    * device would send it) parsed once behind a [[stageBarrier]]. */
  private def nestedPayloads(s: SparkSession, dir: String): DataFrame = {
    val payload = concat(
      lit("""{"k": """), (col("user_id") % 100).cast("string"),
      lit(""", "sub": {"k": """), (col("event_id") % 10).cast("string"),
      lit(""", "deep": {"k": 7}}}"""))
    stageBarrier(Tables.events(s, dir).withColumn("payload", payload), Seq(col("event_id")),
      "p" -> parseJsonLenient(col("payload"), nestedSchema))
  }

  /** F1+T2+T3: synthesize a 4-level topic, truncate to 2 levels, expand the
    * stream-id template, aggregate routed traffic per stream.
    */
  def pipeRoute(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val topic = concat(
      lit("iot/"), col("event_type"),
      lit("/u"), (col("user_id") % 8).cast("string"),
      lit("/d"), (col("event_id") % 4).cast("string"))
    ev.withColumn("topic", topic)
      .withColumn("stream_id", streamIdTemplate("org/$topic/stream", topicTruncate(col("topic"), 2)))
      .groupBy("stream_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("stream_id")
  }

  /** F1+A1: parse payload JSON, count valid/invalid per day × event_type,
    * sum the extracted field — the tumbling-window success/error stats of
    * the reference, keyed by processing window.
    */
  def pipeParseStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    parsedProps(ev, col("ts"), col("event_type"))
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy("day", "event_type")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(parseOk(col("p")), 1L).otherwise(0L)).as("n_success"),
        sum(when(!parseOk(col("p")), 1L).otherwise(0L)).as("n_error"),
        sum(when(parseOk(col("p")), col("p.k").cast("long"))).as("sum_k"))
      .orderBy("day", "event_type")
  }

  /** T1 (JSONata subset): per-record projection/conditional transform —
    * `{"k": props.k, "big": props.k > 50, "v2": value * 2}` — the typical
    * `--transform` rewrite, as pure Catalyst expressions.
    */
  def pipeTransform(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    parsedProps(ev, col("event_id"), col("value"))
      .filter(parseOk(col("p")))  // F1 drop-on-malformed — same parse, no variant pass
      .select(
        col("event_id"),
        col("p.k").as("k"),
        (col("p.k") > 50).as("big"),
        round(col("value") * 2, 2).as("v2"))
      .orderBy("event_id")
  }

  /** T1 full path: a user-supplied JSONata --transform string compiled to
    * native Catalyst expressions (graft.jsonata) and applied per record —
    * the reference's jsonata(expr).evaluate(msg) (bin/mqtt-streamr.js:108,
    * 157-159) with compile-once / codegen-many semantics.
    */
  def pipeJsonata(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val staged = parsedProps(ev, col("event_id"))
    // compile against the already-parsed attribute: the transform tree is
    // cheap field math over `p`, so per-output-field inlining costs nothing
    val transformed = graft.jsonata.JsonataCompiler.compile(
      """{"id2": k * 2, "big": k > 50, "label": "k=" & $string(k), "half": $round(k / 2, 1)}""",
      col("p"), propsSchema)
    staged.filter(parseOk(col("p")))
      .select(col("event_id"), transformed.as("out"))
      .select(col("event_id"), col("out.id2").as("id2"), col("out.big").as("big"),
        col("out.label").as("label"), col("out.half").as("half"))
      .orderBy("event_id")
  }

  /** T1 tier-2 surface: variable bindings, descendant `**` search, and
    * wildcard `*` compiled schema-statically. The payload is a nested JSON
    * document synthesized per event (as an MQTT device would send), parsed
    * once, then transformed with
    * `($t := $sum(**.k); {...})` — binding shared, descendants enumerated
    * from the schema at compile time, zero runtime interpretation.
    */
  def pipeJsonataT2(s: SparkSession, dir: String): DataFrame = {
    val staged = nestedPayloads(s, dir)
    val out = graft.jsonata.JsonataCompiler.compile(
      """($t := $sum(**.k); {"total": $t, "twice": $t * 2,
        |  "deepk": $sum(sub.**.k), "subdeep": $sum(sub.deep.*)})""".stripMargin,
      col("p"), nestedSchema)
    staged.select(col("event_id"), out.as("o"))
      .select(col("event_id"), col("o.total").as("total"), col("o.twice").as("twice"),
        col("o.deepk").as("deepk"), col("o.subdeep").as("subdeep"))
      .orderBy("event_id")
  }

  /** T1 tier-3 surface: computed object keys and a lone `**`. The
    * transform builds `{"k" & $string(k): $sum(**), "fixed": k}` — the
    * key is computed per record, so the constructor compiles to a
    * map<string, double> (documented degradation), and the lone `**`
    * sums every leaf of the payload. The map is exploded to (mkey, mval)
    * rows so the result stays oracle-comparable as plain columns.
    */
  def pipeJsonataT3(s: SparkSession, dir: String): DataFrame = {
    val staged = nestedPayloads(s, dir)
    val out = graft.jsonata.JsonataCompiler.compile(
      """{"k" & $string(k): $sum(**), "fixed": k}""", col("p"), nestedSchema)
    staged.select(col("event_id"), explode(out).as(Seq("mkey", "mval")))
      .orderBy("event_id", "mkey")
  }

  /** T1 tier-4 surface: the XPath picture/eval tail of the builtin
    * library — digit-ordinal, English-word (cardinal and Title-ordinal),
    * and letter $formatInteger pictures, a words round-trip through
    * $parseInteger, and a static $eval — all compiled to closed-form
    * codegen'd CASE/array-lookup trees (zero interpretation, zero UDFs).
    * The DuckDB oracle renders the same words through an enumerated
    * 100-arm CASE generated from the same lookup tables, so the two
    * engines agree arm by arm rather than sharing the composition logic.
    */
  def pipeJsonataT4(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val staged = parsedProps(ev, col("event_id"))
    val out = graft.jsonata.JsonataCompiler.compile(
      """($n := k % 100;
        | {"ord": $formatInteger(k, '1;o'),
        |  "words": $formatInteger($n, 'w'),
        |  "wordo": $formatInteger($n, 'Ww;o'),
        |  "letter": $formatInteger((k % 26) + 1, 'a'),
        |  "rt": $parseInteger($formatInteger($n, 'w'), 'w'),
        |  "ev": $eval('k * 3')})""".stripMargin,
      col("p"), propsSchema)
    // k >= 0 on BOTH sides: the oracle's 0..99 word CASE and chr() letter
    // arithmetic are defined for non-negative k only, so the contract is
    // pinned in the filter rather than left to fixture luck
    staged.filter(parseOk(col("p")) && col("p.k").isNotNull && col("p.k") >= 0)
      .select(col("event_id"), out.as("o"))
      .select(col("event_id"), col("o.ord").as("ord"), col("o.words").as("words"),
        col("o.wordo").as("wordo"), col("o.letter").as("letter"),
        col("o.rt").as("rt"), col("o.ev").as("ev"))
      .orderBy("event_id")
  }

  // oracle-side English word tables for pipe_jsonata_t4 (0..99)
  private val enFew = Seq("Zero", "One", "Two", "Three", "Four", "Five", "Six",
    "Seven", "Eight", "Nine", "Ten", "Eleven", "Twelve", "Thirteen", "Fourteen",
    "Fifteen", "Sixteen", "Seventeen", "Eighteen", "Nineteen")
  private val enFewOrd = Seq("Zeroth", "First", "Second", "Third", "Fourth",
    "Fifth", "Sixth", "Seventh", "Eighth", "Ninth", "Tenth", "Eleventh",
    "Twelfth", "Thirteenth", "Fourteenth", "Fifteenth", "Sixteenth",
    "Seventeenth", "Eighteenth", "Nineteenth")
  private val enDecades = Seq("Twenty", "Thirty", "Forty", "Fifty", "Sixty",
    "Seventy", "Eighty", "Ninety")
  private def enWords(n: Int): String =
    if (n <= 19) enFew(n)
    else if (n % 10 == 0) enDecades(n / 10 - 2)
    else enDecades(n / 10 - 2) + "-" + enFew(n % 10)
  private def enOrdWords(n: Int): String =
    if (n <= 19) enFewOrd(n)
    else if (n % 10 == 0) enDecades(n / 10 - 2).dropRight(1) + "ieth"
    else enDecades(n / 10 - 2) + "-" + enFewOrd(n % 10)
  private def wordsCaseSql(expr: String, render: Int => String): String =
    (0 to 99).map(i => s"WHEN $i THEN '${render(i)}'")
      .mkString(s"CASE $expr ", " ", " END")

  /** Gap-based sessionization over the event stream (30-min inactivity gap)
    * — the batch analog of stateful stream sessionization; lag + running
    * sum of new-session flags, all window functions (single shuffle on
    * user_id).
    */
  def pipeSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id", "session_seq")
  }

  /** Gap sessionization via Spark's NATIVE `session_window` aggregate —
    * the Spark-first form of [[pipeSessionize]]'s manual lag/running-sum
    * construction, and the one that carries over to Structured Streaming
    * verbatim (the same operator behind a watermark). One
    * groupBy(user, session_window(ts, gap)):
    * Catalyst plans a single exchange on user_id and merges windows
    * within partitions — same shuffle count as the manual form with two
    * window passes fused away. Boundary semantics differ from the
    * manual rule in ONE case, pinned here on purpose: session_window
    * merges while the next event starts STRICTLY inside [last, last +
    * gap), so a gap of exactly 30 min starts a NEW session, where the
    * lag rule's `> 30 min` keeps it — the oracle mirrors the native
    * (`>=`) semantics, making the difference a documented contract
    * rather than a silent off-by-one.
    */
  def pipeSessionNative(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(min("ts").as("st"), count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
    val w = Window.partitionBy("user_id").orderBy("st")
    sess.withColumn("session_seq", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_seq"),
        date_format(col("st"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_seq")
  }

  /** Hour-of-day × day-of-week activity heatmap — the calendar-shaped
    * load profile every ops dashboard opens with (when do users act,
    * when can maintenance run): counts and mean value per (dow, hour)
    * cell. One scan into a ≤168-cell partial-aggregated groupBy — the
    * bounded-aggregation property sketches have, from plain calendar
    * projections; the cell share window runs over the cells relation.
    * Extraction uses Spark's dayofweek() convention — 1 = Sunday ..
    * 7 = Saturday, NOT ISO — mirrored in the oracle via DuckDB's
    * dayofweek()+1 (DuckDB: 0 = Sunday), and UTC hours, so both engines
    * read identical integers from the same instants; a reader of the
    * dow column should treat 1 as Sunday.
    */
  def pipeHeatmap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(s, dir)
      .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"), col("value"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
    cells
      .withColumn("share", round(col("n").cast("double") /
        sum("n").over(Window.partitionBy(lit(1))), 6))
      .orderBy("dow", "hod")
  }

  /** Peak concurrent sessions per day — the capacity-planning number a
    * serving deployment reads (simultaneous active users, not event
    * volume), via the classic SWEEP LINE: each 30-min-gap session
    * ([[pipeSessionize]]'s construction) emits +1 at its start and −1
    * at its end (inclusive ends: +1 sorts before −1 at an equal
    * instant, so touching sessions and point sessions count as
    * concurrent), and concurrency is the running sum over boundaries in
    * time order. The naive form is ONE global sort — the anti-pattern —
    * so this is the two-phase PARALLEL PREFIX SUM: boundaries partition
    * by hour bucket (corpus-sized work is per-hour windows), per-hour
    * deltas aggregate to an |hours|-row relation whose running sum is
    * the carry-in, and concurrency at any boundary = carry(hour) +
    * within-hour running sum. The only global window orders the
    * BOUNDED hours relation — the emb_ivf_balance discipline. The
    * per-day MAX is tie-order invariant (within an instant the max is
    * reached after the +1 block regardless of permutation), so the
    * result is deterministic cross-engine with no float anywhere.
    */
  def pipeConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = ev.withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(unix_micros(min("ts")).as("st"), unix_micros(max("ts")).as("en"))
    val bounds = sess.select(col("st").as("t"), lit(1L).as("delta"))
      .unionByName(sess.select(col("en").as("t"), lit(-1L).as("delta")))
      .withColumn("hr", expr("t DIV 3600000000"))
    val wIn = Window.partitionBy("hr").orderBy(col("t"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = bounds.withColumn("run_in", sum("delta").over(wIn))
    val wHr = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, -1)
    val carry = bounds.groupBy("hr").agg(sum("delta").as("hd"))
      .withColumn("carry", coalesce(sum("hd").over(wHr), lit(0L)))
      .select("hr", "carry")
    run.join(carry, "hr")
      .select(date_format(timestamp_micros(col("t")), "yyyy-MM-dd").as("day"),
        (col("carry") + col("run_in")).as("conc"), col("delta"))
      .groupBy("day")
      .agg(max("conc").as("peak_concurrent"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions_started"))
      .orderBy("day")
  }

  /** Funnel conversion: per user, the strictly-ordered view -> click ->
    * purchase progression (first view, first click AFTER that view, first
    * purchase AFTER that click) and the stage reached — the sequential-
    * pattern shape product analytics runs, distinct from sessions and
    * cubes. Every stage is a user-keyed partial aggregation plus an
    * equi-join on user_id, so all four passes co-partition on the same
    * key at scale; no window spans more than one user.
    */
  def pipeFunnel(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_funnel_events")
    s.sql(
      """WITH u AS (SELECT DISTINCT user_id FROM graft_funnel_events),
        |v AS (SELECT user_id, min(ts) AS first_view FROM graft_funnel_events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click
        |      FROM graft_funnel_events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.first_view
        |        AND e.ts <= v.first_view + INTERVAL 24 HOUR
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase
        |      FROM graft_funnel_events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        |        AND e.ts <= c.first_click + INTERVAL 24 HOUR
        |      GROUP BY e.user_id)
        |SELECT u.user_id,
        |       unix_micros(v.first_view) AS view_us,
        |       unix_micros(c.first_click) AS click_us,
        |       unix_micros(p.first_purchase) AS purchase_us,
        |       CASE WHEN p.first_purchase IS NOT NULL THEN 3
        |            WHEN c.first_click IS NOT NULL THEN 2
        |            WHEN v.first_view IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |       LEFT JOIN c ON u.user_id = c.user_id
        |       LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin)
  }

  /** Funnel conversion LATENCY — the time dimension [[pipeFunnel]]'s
    * stage counts leave out: per transition (view→click,
    * click→purchase), how many users converted and the median / p90
    * time-to-convert — the numbers that distinguish a funnel users
    * glide through from one they stall in, and the input to choosing
    * the funnel's attribution horizon (a p90 near the 24 h cutoff says
    * the window is clipping real conversions). Same user-keyed
    * first-event CTEs as the funnel (co-partitioned aggregates +
    * equi-joins), gaps are exact integer microseconds, and the output
    * is a 2-row relation of exact interpolated percentiles — the
    * pipe_cadence discipline, so cross-engine parity is the
    * quantile_cont contract, not float luck.
    */
  def pipeFunnelTime(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_ftime_events")
    s.sql(
      """WITH v AS (SELECT user_id, min(ts) AS first_view FROM graft_ftime_events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click
        |      FROM graft_ftime_events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.first_view
        |        AND e.ts <= v.first_view + INTERVAL 24 HOUR
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase
        |      FROM graft_ftime_events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        |        AND e.ts <= c.first_click + INTERVAL 24 HOUR
        |      GROUP BY e.user_id),
        |g AS (
        |  SELECT 'view_to_click' AS stage,
        |         unix_micros(c.first_click) - unix_micros(v.first_view) AS gap_us
        |  FROM c JOIN v ON c.user_id = v.user_id
        |  UNION ALL
        |  SELECT 'click_to_purchase',
        |         unix_micros(p.first_purchase) - unix_micros(c.first_click)
        |  FROM p JOIN c ON p.user_id = c.user_id)
        |SELECT stage, CAST(count(1) AS BIGINT) AS n_converted,
        |       round(percentile(gap_us, 0.5) / 1e6, 6) AS median_secs,
        |       round(percentile(gap_us, 0.9) / 1e6, 6) AS p90_secs
        |FROM g GROUP BY stage ORDER BY stage""".stripMargin)
  }

  /** Sensor-series resampling: each user's event stream downsampled to
    * 6-hour buckets — count, mean, min/max, and LAST value in the bucket
    * (max_by on event time; the value a dashboard or feature store keeps).
    * One partial-aggregated groupBy on (user, bucket); the bucket key is
    * a pure projection of ts, so at 100 TB this is scan + one shuffle,
    * and buckets-per-key is bounded by the time range, not traffic.
    */
  def pipeResample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.withColumn("bucket", date_format(
        timestamp_seconds(floor(unix_micros(col("ts")) / (6L * 3600 * 1000000)) * (6L * 3600)),
        "yyyy-MM-dd HH:mm:ss"))
      .groupBy("user_id", "bucket")
      .agg(count(lit(1)).as("n"),
        round(avg("value"), 6).as("avg_value"),
        round(min("value"), 2).as("min_value"),
        round(max("value"), 2).as("max_value"),
        round(max_by(col("value"), struct(col("ts"), col("event_id"))), 2).as("last_value"))
      .orderBy("user_id", "bucket")
  }

  /** Inter-arrival cadence per (user, event type): lag each user's
    * per-type event sequence, then aggregate the gap distribution
    * (median/p90/max seconds) per type — the device-health dial that
    * catches silent sensors and flapping reporters before the watchdog
    * does. One user+type-keyed lag window over integer microsecond
    * gaps (exact percentiles over exact longs — bit-stable across
    * engines), then a partial-aggregated groupBy to |types| rows.
    */
  def pipeCadence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("gap_us", col("us") - lag("us", 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)") / 1e6, 6).as("p50_s"),
        round(expr("percentile(gap_us, 0.9)") / 1e6, 6).as("p90_s"),
        round(max(col("gap_us")).cast("double") / 1e6, 6).as("max_s"))
      .orderBy("event_type")
  }

  /** Event-time disorder profile per event type — the dial that picks a
    * streaming watermark delay (`withWatermark`'s lateness budget IS
    * this distribution's tail): within each user's arrival sequence
    * (event_id order — ingestion is sequential per device), an event's
    * disorder is how far the already-seen event-time high-water mark is
    * ahead of it. Running max over integer microseconds and exact
    * percentiles over exact longs (the pipe_cadence discipline), so the
    * profile is bit-stable across engines. One user-keyed window over
    * the arrival sequence, then a partial-aggregated groupBy to |types|
    * rows; at 100 TB the per-user windows are the same per-key sort a
    * sessionization pass already pays — no global arrival sort exists.
    */
  def pipeLateness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wArrival = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("hwm", max("us").over(wArrival))
      .withColumn("disorder_us", col("hwm") - col("us"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("disorder_us") > 0, 1L).otherwise(0L)).as("n_disordered"),
        round(expr("percentile(disorder_us, 0.95)") / 1e6, 6).as("p95_disorder_s"),
        round(max(col("disorder_us")).cast("double") / 1e6, 6).as("max_disorder_s"))
      .orderBy("event_type")
  }

  /** Watermark what-if table — the decision [[pipeLateness]]'s profile
    * feeds: for each candidate `withWatermark` delay, how many events
    * would arrive inside the budget and how many would be dropped as
    * too-late. One pass over the same per-user disorder projection into
    * a single aggregate row of conditional integer counts, reshaped to
    * one row per candidate delay (a constant-size explode of the 1-row
    * aggregate — no second scan, no per-delay corpus pass). All counts
    * exact longs; the kept-fraction is one double division of exact
    * integers, bit-stable.
    */
  def pipeWatermarkFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Delays = Seq(0L, 30L, 60L, 300L) // seconds
    val wArrival = Window.partitionBy("user_id").orderBy("event_id")
    val disorder = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("disorder_us", max("us").over(wArrival) - col("us"))
    val aggCols = count(lit(1)).as("total") +:
      Delays.map(d => sum(when(col("disorder_us") <= d * 1000000L, 1L).otherwise(0L))
        .as(s"k$d"))
    val agg = disorder.agg(aggCols.head, aggCols.tail: _*)
    agg.select(
        explode(array(Delays.map(d =>
          struct(lit(d.toInt).as("delay_s"), col(s"k$d").as("n_kept"))): _*)).as("r"),
        col("total"))
      .select(col("r.delay_s"), col("total").as("n_events"), col("r.n_kept"),
        (col("r.n_kept").cast("double") / col("total").cast("double")).as("kept_frac"))
      .orderBy("delay_s")
  }

  /** Event-rate level-shift detection per event type: hourly event
    * counts, the trailing-6h vs leading-6h window around every hour
    * boundary, and the single largest rate shift per type — the
    * changepoint scan that catches a fleet going quiet (or a retry
    * storm starting) hours before an absolute threshold would. Exactness
    * by construction: both windows sum INTEGER counts (bit-stable across
    * engines whatever the frame-evaluation order), and the rate ratio is
    * one double division of exact longs, so ranking and output are
    * deterministic — the pipe_cadence discipline. Scale shape: one
    * partial-aggregated groupBy to (type, hour) rows — time-bounded,
    * not event-bounded — then type-keyed windows over that aggregate;
    * only full 6+6 windows compete, so series edges never fake a shift.
    * Detection is over observed hours (pipe_gap_fill composes upstream
    * when silent hours must read as zero).
    */
  def pipeLevelShift(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("hr", date_format(
        timestamp_seconds(floor(unix_micros(col("ts")) / (3600L * 1000000)) * 3600L),
        "yyyy-MM-dd HH:mm:ss"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
      .createOrReplaceTempView("graft_shift_hourly")
    s.sql(
      """WITH w AS (
        |  SELECT event_type, hr,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS prev_n,
        |         count(1) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS prev_c,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS next_n,
        |         count(1) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS next_c
        |  FROM graft_shift_hourly),
        |f AS (
        |  SELECT event_type, hr, CAST(prev_n AS BIGINT) AS prev_n,
        |         CAST(next_n AS BIGINT) AS next_n,
        |         CAST(next_n AS DOUBLE) / CAST(prev_n AS DOUBLE) AS rate_ratio
        |  FROM w WHERE prev_c = 6 AND next_c = 6),
        |rk AS (
        |  SELECT event_type, hr, prev_n, next_n, rate_ratio,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY greatest(rate_ratio, 1.0 / rate_ratio) DESC, hr) AS rnk
        |  FROM f)
        |SELECT event_type, hr AS shift_hour, prev_n, next_n, rate_ratio
        |FROM rk WHERE rnk = 1 ORDER BY event_type""".stripMargin)
  }

  /** Event-type transition matrix (first-order Markov estimate): for
    * each user's event sequence in (ts, event_id) order, count
    * (type → next-type) transitions and normalize per source type — the
    * behavioral-model / anomalous-flow profile. One user-keyed window
    * (lead) to form transitions, one partial-aggregated groupBy to
    * |types|² cells, and the per-source normalizer rides a window over
    * that tiny aggregate — never a second event scan.
    */
  def pipeMarkov(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(wSeq))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy("from_type")
    trans
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / sum("n").over(wSrc), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Regular-grid gap filling with forward fill — the sensor-series
    * normalization step between raw MQTT events and model features
    * (models want one row per (user, hour), observed or not): one row per
    * hour of each user's [min, max] observed span; `is_gap` unless the
    * hour has a non-null mean, `value_ff` the last non-null mean so far.
    * Each observed (user, hour) cell OWNS the hours up to the next cell
    * ([h, next_h)), so one user-keyed window over cells gives `next_h`
    * (lead) and the carried value (last non-null), and the grid is an
    * explode of each cell's range — a projection, never a grid join or a
    * grid-sized window. Scale shape: one partial-aggregated shuffle to
    * cells, then that one window.
    */
  def pipeGapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) DIV 3600000000").as("h"), col("value"))
      .groupBy("user_id", "h").agg(round(avg("value"), 6).as("v"))
    val wSeq = Window.partitionBy("user_id").orderBy("h")
    obs.select(col("user_id"), col("h"), col("v"),
        lead("h", 1).over(wSeq).as("next_h"),
        last("v", ignoreNulls = true)
          .over(wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("v_ff"))
      .select(col("user_id"), col("h"), col("v"), col("v_ff"),
        explode(sequence(col("h"), coalesce(col("next_h") - 1, col("h")))).as("hh"))
      .select(col("user_id"),
        date_format(timestamp_seconds(col("hh") * 3600), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        (col("hh") =!= col("h") || col("v").isNull).as("is_gap"),
        col("v_ff").as("value_ff"))
      .orderBy("user_id", "bucket")
  }

  /** Cohort retention: users grouped by first-seen day, and for each
    * subsequent day the count and fraction of the cohort still active —
    * the retention-matrix shape. Two user-keyed passes (first-seen agg,
    * then distinct user-day activity joined back on user_id) and one
    * (cohort, week) groupBy; the cohort-size divisor rides the rows as a
    * window over the |cohorts|-row aggregate, never a second scan.
    */
  def pipeRetention(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_ret_events")
    s.sql(
      """WITH first_seen AS (
        |  SELECT user_id, min(dayofyear(ts)) AS cohort_d FROM graft_ret_events
        |  GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, dayofyear(ts) AS active_d FROM graft_ret_events),
        |cohort_size AS (
        |  SELECT cohort_d, count(1) AS n_cohort FROM first_seen GROUP BY cohort_d),
        |cell AS (
        |  SELECT f.cohort_d, a.active_d - f.cohort_d AS day_offset,
        |         count(1) AS n_active
        |  FROM active a JOIN first_seen f ON a.user_id = f.user_id
        |  GROUP BY f.cohort_d, a.active_d - f.cohort_d)
        |SELECT c.cohort_d, c.day_offset, s.n_cohort, c.n_active,
        |       round(c.n_active / CAST(s.n_cohort AS DOUBLE), 6) AS retention
        |FROM cell c JOIN cohort_size s ON c.cohort_d = s.cohort_d
        |ORDER BY c.cohort_d, c.day_offset""".stripMargin)
  }

  /** Retention HALF-LIFE — the one-number summary of [[pipeRetention]]'s
    * matrix: fit ln(retention rate) against day offset with regr_slope
    * and report −ln 2 / slope, the days until half the remaining users
    * stop returning — the decay constant growth models and LTV
    * projections consume. Two details make the number honest: the
    * denominator at offset o counts only cohorts OBSERVABLE at o
    * (cohort_d + o ≤ last day — the triangle bias that otherwise
    * deflates late offsets), including cohorts with zero actives that
    * day; and the fit runs over per-offset aggregate rates (a
    * |offsets|-row relation), so the regression input is exact integer
    * ratios through ln. Days are EPOCH days (datediff from 1970-01-01),
    * not dayofyear, so spans crossing a calendar year stay adjacent.
    * Invariants the shape leans on rather than re-checking defensively:
    * every active day is ≤ max_d, so every `cell` row is observable by
    * construction, and every surviving offset has ≥1 active, so num
    * inner-joins den and rate is always > 0 before ln. All relations
    * after the distinct-activity aggregate are cohort- or offset-sized;
    * the observability join is |offsets| × |cohorts|, bounded by the
    * time range squared, never by events.
    */
  def pipeHalfLife(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_hl_events")
    s.sql(
      """WITH first_seen AS (
        |  SELECT user_id, min(datediff(CAST(ts AS DATE), DATE '1970-01-01')) AS cohort_d
        |  FROM graft_hl_events GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, datediff(CAST(ts AS DATE), DATE '1970-01-01') AS active_d
        |  FROM graft_hl_events),
        |cohort_size AS (
        |  SELECT cohort_d, count(1) AS n_cohort FROM first_seen GROUP BY cohort_d),
        |cell AS (
        |  SELECT f.cohort_d, a.active_d - f.cohort_d AS day_offset,
        |         count(1) AS n_active
        |  FROM active a JOIN first_seen f ON a.user_id = f.user_id
        |  GROUP BY f.cohort_d, a.active_d - f.cohort_d),
        |mx AS (SELECT max(datediff(CAST(ts AS DATE), DATE '1970-01-01')) AS max_d
        |       FROM graft_hl_events),
        |offs AS (SELECT DISTINCT day_offset FROM cell WHERE day_offset >= 1),
        |den AS (
        |  SELECT o.day_offset, sum(s.n_cohort) AS n_obs
        |  FROM offs o CROSS JOIN mx
        |  JOIN cohort_size s ON s.cohort_d + o.day_offset <= mx.max_d
        |  GROUP BY o.day_offset),
        |num AS (
        |  SELECT day_offset, sum(n_active) AS n_act
        |  FROM cell WHERE day_offset >= 1 GROUP BY day_offset),
        |obs AS (
        |  SELECT d.day_offset,
        |         CAST(n.n_act AS DOUBLE) / CAST(d.n_obs AS DOUBLE) AS rate
        |  FROM den d JOIN num n ON n.day_offset = d.day_offset)
        |SELECT CAST(count(1) AS BIGINT) AS n_offsets,
        |       round(regr_slope(ln(rate), CAST(day_offset AS DOUBLE)), 6) AS slope,
        |       round(-ln(2) / regr_slope(ln(rate), CAST(day_offset AS DOUBLE)), 6)
        |         AS half_life_days
        |FROM obs""".stripMargin)
  }

  /** Rolling 7-day active users (WAU) per day, with same-day DAU and the
    * DAU/WAU stickiness ratio — the standard engagement read a product
    * dashboard derives from an event stream, and the one rolling-DISTINCT
    * shape Spark's window functions cannot express directly (no
    * COUNT(DISTINCT) over a RANGE frame). The scalable decomposition:
    * collapse events to the distinct (day, user) grain FIRST — the only
    * event-scale shuffle — then expand each day-grain row into the ≤7
    * window anchors it serves via a bounded range join against the
    * |days|-row day list (hinted BROADCAST: the non-equi join must
    * build on the day list — without the hint Catalyst's event-derived
    * size estimate for the double-aggregate could pick the |days|×DAU
    * side), and count distinct users per anchor. Days are epoch days,
    * so windows stay adjacent across a calendar year boundary. Every
    * relation after the first aggregate is bounded by |days| × DAU, never
    * by raw events; the day list broadcasts. At 100 TB the sketch-based
    * alternative (per-day HLL sketches union-merged across the window,
    * proven in text_hll_union) replaces the exact recount when DAU itself
    * is too large to re-distinct per anchor.
    */
  def pipeRollingActive(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_ra_events")
    s.sql(
      """WITH du AS (
        |  SELECT DISTINCT datediff(CAST(ts AS DATE), DATE '1970-01-01') AS d, user_id
        |  FROM graft_ra_events),
        |days AS (SELECT DISTINCT d FROM du),
        |wau AS (
        |  SELECT /*+ BROADCAST(days) */ days.d, count(DISTINCT du.user_id) AS n_wau
        |  FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
        |  GROUP BY days.d),
        |dau AS (SELECT d, count(1) AS n_dau FROM du GROUP BY d)
        |SELECT w.d AS day, CAST(w.n_wau AS BIGINT) AS wau,
        |       CAST(a.n_dau AS BIGINT) AS dau,
        |       round(a.n_dau / CAST(w.n_wau AS DOUBLE), 6) AS stickiness
        |FROM wau w JOIN dau a ON w.d = a.d
        |ORDER BY day""".stripMargin)
  }

  /** Exponentially-decayed activity weight per event type — recency-
    * weighted popularity with a 7-day half-life: each event contributes
    * exp(−ln2/7 · age_days) measured against the corpus max timestamp,
    * so "what's hot NOW" ranks differently from raw counts when a
    * type's volume is front- or back-loaded. The mean decay factor
    * (weight / count) is reported as the recency skew. This is the
    * ranking signal a feed or trending module uses when tumbling
    * windows are too coarse and sliding windows too expensive: one scan
    * into a |types|-row aggregate, the decay a pure projection against
    * a broadcast 1-row max — no window state at all, and at stream time
    * the same sum folds incrementally (decay is multiplicative, so a
    * stored sum re-bases by one multiply per batch). The λ factor is
    * spelled ln(2)/7 in BOTH engines so the per-row doubles are
    * bit-identical before the (order-insensitive under rounding) sum.
    */
  def pipeRecencyWeight(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_rw_events")
    s.sql(
      """WITH mx AS (SELECT max(ts) AS max_ts FROM graft_rw_events)
        |SELECT event_type,
        |       CAST(count(1) AS BIGINT) AS n_events,
        |       round(sum(exp(-(ln(2) / 7.0) *
        |         ((unix_micros(mx.max_ts) - unix_micros(ts)) / 86400000000.0))), 6)
        |         AS decayed_weight,
        |       round(sum(exp(-(ln(2) / 7.0) *
        |         ((unix_micros(mx.max_ts) - unix_micros(ts)) / 86400000000.0))) /
        |         count(1), 6) AS mean_decay
        |FROM graft_rw_events CROSS JOIN mx
        |GROUP BY event_type
        |ORDER BY decayed_weight DESC, event_type""".stripMargin)
  }

  /** As-of join — an operator Spark lacks natively, composed Spark-first
    * from a tagged union + running last-non-null window (single shuffle
    * on the join key, sort within partitions — the scalable layout; a
    * per-row correlated subquery would not survive 100 TB). For each
    * `purchase` event: the same user's most recent `click` at or before
    * it. The DuckDB oracle uses its native ASOF JOIN.
    */
  def pipeAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        col("event_id").as("click_id"), col("value").as("click_value"),
        lit(null).cast("long").as("purchase_id"), lit(null).cast("double").as("purchase_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("tag"),
        lit(null).cast("long").as("click_id"), lit(null).cast("double").as("click_value"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    // at equal ts the click (tag 0) sorts before the purchase => "<=" as-of
    val w = Window.partitionBy("user_id").orderBy("ts", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click_id", last("click_id", ignoreNulls = true).over(w))
      .withColumn("asof_click_value", last("click_value", ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(
        col("purchase_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        round(col("purchase_value"), 2).as("purchase_value"),
        col("asof_click_id").as("click_id"),
        round(col("asof_click_value"), 2).as("click_value"))
      .orderBy("purchase_id")
  }

  /** Interval self-join — event pairs of the same user within a 1-hour
    * horizon, an operator Spark has no native physical plan for (a plain
    * inequality join degenerates to a per-key cross product). Spark-first
    * layout: quantize time into horizon-width buckets; a qualifying pair
    * (a.ts < b.ts <= a.ts + H) always has b in a's bucket or the next one,
    * so the earlier side probes 2 bucket keys and the join is a pure
    * equi-join on (user_id, bucket) — key-partitioned, AQE-skew-splittable,
    * the same grid trick as emb_neardup. Candidates ∝ events per
    * (user, 2·H) window, not per user; the residual range predicate runs
    * post-join on co-partitioned rows.
    */
  def pipeIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val HorizonUs = 3600L * 1000000L
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("bkt", expr(s"us DIV ${HorizonUs}L"))
    val probes = e.select(col("event_id").as("id_a"), col("user_id"),
        col("us").as("us_a"), explode(array(col("bkt"), col("bkt") + 1)).as("pb"))
    val home = e.select(col("event_id").as("id_b"), col("user_id").as("user_b"),
      col("us").as("us_b"), col("bkt"))
    probes.join(home, col("user_id") === col("user_b") && col("pb") === col("bkt"))
      .filter(col("us_b") > col("us_a") && col("us_b") - col("us_a") <= HorizonUs)
      .select(col("user_id"), col("id_a"), col("id_b"),
        (col("us_b") - col("us_a")).as("delta_us"))
      .orderBy("user_id", "id_a", "id_b")
  }

  /** A1 as an hourly cube: grouping sets over (hour, event_type) — window
    * stats with subtotal rows, the relational generalization of the
    * reference's interval counters.
    */
  def pipeStatsCube(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.withColumn("hour", date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss"))
      .cube("hour", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        coalesce(col("hour"), lit("ALL")).as("hour"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Z-score anomaly screen over the event stream — the monitoring pass a
    * routing bridge grows next: per event type, flag readings ≥ 3σ from
    * the type mean. Two-pass broadcast shape (the emb_whiten pattern):
    * the |types|-row stats aggregate broadcasts back onto the scan, so
    * the event stream itself never shuffles — per-row z is a projection.
    * z is emitted unrounded (cross-engine drift ~1e-13 under the gate's
    * atol); the ≥ 3σ cut keeps the output anomaly-sized.
    */
  def pipeAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("m"), stddev_pop("value").as("sd"))
    ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        ((col("value") - col("m")) /
          when(col("sd") === 0, lit(1.0)).otherwise(col("sd"))).as("z"))
      .filter(abs(col("z")) >= 3.0)
      .orderBy("event_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_route" -> pipeRoute,
    "pipe_anomaly" -> pipeAnomaly,
    "pipe_parse_stats" -> pipeParseStats,
    "pipe_transform" -> pipeTransform,
    "pipe_jsonata" -> pipeJsonata,
    "pipe_jsonata_t2" -> pipeJsonataT2,
    "pipe_jsonata_t3" -> pipeJsonataT3,
    "pipe_jsonata_t4" -> pipeJsonataT4,
    "pipe_asof_join" -> pipeAsofJoin,
    "pipe_interval_join" -> pipeIntervalJoin,
    "pipe_sessionize" -> pipeSessionize,
    "pipe_session_native" -> pipeSessionNative,
    "pipe_concurrency" -> pipeConcurrency,
    "pipe_heatmap" -> pipeHeatmap,
    "pipe_funnel_time" -> pipeFunnelTime,
    "pipe_half_life" -> pipeHalfLife,
    "pipe_rolling_active" -> pipeRollingActive,
    "pipe_recency_weight" -> pipeRecencyWeight,
    "pipe_funnel" -> pipeFunnel,
    "pipe_retention" -> pipeRetention,
    "pipe_resample" -> pipeResample,
    "pipe_gap_fill" -> pipeGapFill,
    "pipe_markov" -> pipeMarkov,
    "pipe_cadence" -> pipeCadence,
    "pipe_level_shift" -> pipeLevelShift,
    "pipe_lateness" -> pipeLateness,
    "pipe_watermark_fit" -> pipeWatermarkFit,
    "pipe_stats_cube" -> pipeStatsCube)

  val oracles: Map[String, String] = Map(
    // unrounded z under atol; the >= 3 cut compares values whose
    // cross-engine drift is ~1e-13, so the row set is stable
    "pipe_anomaly" ->
      """WITH s AS (
        |  SELECT event_type, avg(value) AS m, stddev_pop(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type,
        |       (value - m) / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END) AS z
        |FROM events JOIN s USING (event_type)
        |WHERE abs((value - m) / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END)) >= 3
        |ORDER BY event_id""".stripMargin,
    "pipe_route" ->
      """SELECT stream_id, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT 'org/' || array_to_string(list_slice(string_split(
        |           'iot/' || event_type || '/u' || (user_id % 8) || '/d' || (event_id % 4),
        |           '/'), 1, 3), '/') || '/stream' AS stream_id,
        |         value
        |  FROM events)
        |GROUP BY stream_id ORDER BY stream_id""".stripMargin,
    "pipe_parse_stats" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |       count(*) AS n_total,
        |       CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
        |       CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT) AS n_error,
        |       CAST(sum(CASE WHEN json_valid(props)
        |                THEN CAST(props->>'$.k' AS BIGINT) END) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipe_transform" ->
      """SELECT event_id, CAST(props->>'$.k' AS INT) AS k,
        |       CAST(props->>'$.k' AS INT) > 50 AS big,
        |       round(value * 2, 2) AS v2
        |FROM events WHERE json_valid(props) ORDER BY event_id""".stripMargin,
    "pipe_jsonata" ->
      """SELECT event_id,
        |       CAST(props->>'$.k' AS BIGINT) * 2 AS id2,
        |       CAST(props->>'$.k' AS BIGINT) > 50 AS big,
        |       'k=' || CAST(props->>'$.k' AS BIGINT) AS label,
        |       round(CAST(props->>'$.k' AS BIGINT) / 2.0, 1) AS half
        |FROM events WHERE json_valid(props) ORDER BY event_id""".stripMargin,
    "pipe_jsonata_t2" ->
      """SELECT event_id,
        |       CAST((user_id % 100) + (event_id % 10) + 7 AS DOUBLE) AS total,
        |       CAST(((user_id % 100) + (event_id % 10) + 7) * 2 AS DOUBLE) AS twice,
        |       CAST((event_id % 10) + 7 AS DOUBLE) AS deepk,
        |       CAST(7 AS DOUBLE) AS subdeep
        |FROM events ORDER BY event_id""".stripMargin,
    "pipe_jsonata_t3" ->
      """SELECT event_id, mkey, mval FROM (
        |  SELECT event_id, 'k' || CAST(user_id % 100 AS VARCHAR) AS mkey,
        |         CAST((user_id % 100) + (event_id % 10) + 7 AS DOUBLE) AS mval
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, 'fixed', CAST(user_id % 100 AS DOUBLE) FROM events)
        |ORDER BY event_id, mkey""".stripMargin,
    "pipe_jsonata_t4" ->
      s"""WITH b AS (
         |  SELECT event_id, CAST(props->>'$$.k' AS BIGINT) AS k
         |  FROM events
         |  WHERE json_valid(props) AND (props->>'$$.k') IS NOT NULL
         |    AND CAST(props->>'$$.k' AS BIGINT) >= 0)
         |SELECT event_id,
         |       CAST(k AS VARCHAR) ||
         |         CASE WHEN k % 100 IN (11, 12, 13) THEN 'th'
         |              WHEN k % 10 = 1 THEN 'st'
         |              WHEN k % 10 = 2 THEN 'nd'
         |              WHEN k % 10 = 3 THEN 'rd'
         |              ELSE 'th' END AS ord,
         |       ${wordsCaseSql("k % 100", n => enWords(n).toLowerCase)} AS words,
         |       ${wordsCaseSql("k % 100", enOrdWords)} AS wordo,
         |       chr(97 + CAST(k % 26 AS INT)) AS letter,
         |       CAST(k % 100 AS BIGINT) AS rt,
         |       CAST(k * 3 AS BIGINT) AS ev
         |FROM b ORDER BY event_id""".stripMargin,
    "pipe_cadence" ->
      """WITH g AS (
        |  SELECT user_id, event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_gaps,
        |       round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS p50_s,
        |       round(quantile_cont(gap_us, 0.9) / 1e6, 6) AS p90_s,
        |       round(CAST(max(gap_us) AS DOUBLE) / 1e6, 6) AS max_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // one aggregate row of conditional integer counts reshaped to one
    // row per candidate delay; kept_frac = exact-int division
    "pipe_watermark_fit" ->
      """WITH d AS (
        |  SELECT max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |           - epoch_us(ts) AS disorder_us
        |  FROM events),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total,
        |         CAST(sum(CASE WHEN disorder_us <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
        |         CAST(sum(CASE WHEN disorder_us <= 30000000 THEN 1 ELSE 0 END) AS BIGINT) AS k30,
        |         CAST(sum(CASE WHEN disorder_us <= 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS k60,
        |         CAST(sum(CASE WHEN disorder_us <= 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS k300
        |  FROM d)
        |SELECT delay_s, total AS n_events, n_kept,
        |       CAST(n_kept AS DOUBLE) / CAST(total AS DOUBLE) AS kept_frac
        |FROM (
        |  SELECT 0 AS delay_s, total, k0 AS n_kept FROM a
        |  UNION ALL SELECT 30, total, k30 FROM a
        |  UNION ALL SELECT 60, total, k60 FROM a
        |  UNION ALL SELECT 300, total, k300 FROM a)
        |ORDER BY delay_s""".stripMargin,
    // running max over integer micros + exact percentiles over longs:
    // bit-stable (the pipe_cadence discipline)
    "pipe_lateness" ->
      """WITH a AS (
        |  SELECT event_type,
        |         max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |           - epoch_us(ts) AS disorder_us
        |  FROM events)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN disorder_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_disordered,
        |       round(quantile_cont(disorder_us, 0.95) / 1e6, 6) AS p95_disorder_s,
        |       round(CAST(max(disorder_us) AS DOUBLE) / 1e6, 6) AS max_disorder_s
        |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin,
    // integer window sums -> one double division of exact longs: ranking
    // and output are engine-deterministic whatever the frame-eval order
    "pipe_level_shift" ->
      """WITH hb AS (
        |  SELECT event_type,
        |         strftime(make_timestamp((epoch_us(ts) // 3600000000) * 3600000000),
        |                  '%Y-%m-%d %H:%M:%S') AS hr
        |  FROM events),
        |hc AS (SELECT event_type, hr, count(*) AS n FROM hb GROUP BY event_type, hr),
        |w AS (
        |  SELECT event_type, hr,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS prev_n,
        |         count(*) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS prev_c,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS next_n,
        |         count(*) OVER (PARTITION BY event_type ORDER BY hr
        |                      ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS next_c
        |  FROM hc),
        |f AS (
        |  SELECT event_type, hr, CAST(prev_n AS BIGINT) AS prev_n,
        |         CAST(next_n AS BIGINT) AS next_n,
        |         CAST(next_n AS DOUBLE) / CAST(prev_n AS DOUBLE) AS rate_ratio
        |  FROM w WHERE prev_c = 6 AND next_c = 6),
        |rk AS (
        |  SELECT event_type, hr, prev_n, next_n, rate_ratio,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY greatest(rate_ratio, 1.0 / rate_ratio) DESC, hr) AS rnk
        |  FROM f)
        |SELECT event_type, hr AS shift_hour, prev_n, next_n, rate_ratio
        |FROM rk WHERE rnk = 1 ORDER BY event_type""".stripMargin,
    "pipe_markov" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |       round(n::DOUBLE / (sum(n) OVER (PARTITION BY from_type))::DOUBLE, 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "pipe_gap_fill" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS h, round(avg(value), 6) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM bounds),
        |j AS (SELECT g.user_id, g.h, o.v
        |      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.h = g.h)
        |SELECT user_id,
        |       strftime(make_timestamp(h * 3600000000), '%Y-%m-%d %H:%M:%S') AS bucket,
        |       v IS NULL AS is_gap,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
        |FROM j ORDER BY user_id, bucket""".stripMargin,
    "pipe_resample" ->
      """WITH b AS (
        |  SELECT user_id, event_id, value, ts,
        |         strftime(make_timestamp((epoch_us(ts) // 21600000000) * 21600000000),
        |                  '%Y-%m-%d %H:%M:%S') AS bucket
        |  FROM events),
        |last AS (
        |  SELECT user_id, bucket, value AS lv FROM (
        |    SELECT user_id, bucket, value,
        |           row_number() OVER (PARTITION BY user_id, bucket
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM b) WHERE rn = 1),
        |agg AS (
        |  SELECT user_id, bucket, count(*) AS n, round(avg(value), 6) AS avg_value,
        |         round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
        |  FROM b GROUP BY user_id, bucket)
        |SELECT agg.user_id, agg.bucket, n, avg_value, min_value, max_value,
        |       round(lv, 2) AS last_value
        |FROM agg JOIN last ON agg.user_id = last.user_id AND agg.bucket = last.bucket
        |ORDER BY agg.user_id, agg.bucket""".stripMargin,
    "pipe_retention" ->
      """WITH first_seen AS (
        |  SELECT user_id, min(CAST(dayofyear(ts) AS INT)) AS cohort_d FROM events
        |  GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, CAST(dayofyear(ts) AS INT) AS active_d FROM events),
        |cohort_size AS (
        |  SELECT cohort_d, count(1) AS n_cohort FROM first_seen GROUP BY cohort_d),
        |cell AS (
        |  SELECT f.cohort_d, a.active_d - f.cohort_d AS day_offset,
        |         count(1) AS n_active
        |  FROM active a JOIN first_seen f ON a.user_id = f.user_id
        |  GROUP BY f.cohort_d, a.active_d - f.cohort_d)
        |SELECT c.cohort_d, c.day_offset, s.n_cohort, c.n_active,
        |       round(c.n_active / CAST(s.n_cohort AS DOUBLE), 6) AS retention
        |FROM cell c JOIN cohort_size s ON c.cohort_d = s.cohort_d
        |ORDER BY c.cohort_d, c.day_offset""".stripMargin,
    // the retention chain folded to per-offset observable rates, then
    // regr_slope over the |offsets|-row relation (text_zipf precedent)
    "pipe_half_life" ->
      """WITH first_seen AS (
        |  SELECT user_id, min(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS cohort_d
        |  FROM events GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id, datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS active_d FROM events),
        |cohort_size AS (
        |  SELECT cohort_d, count(1) AS n_cohort FROM first_seen GROUP BY cohort_d),
        |cell AS (
        |  SELECT f.cohort_d, a.active_d - f.cohort_d AS day_offset,
        |         count(1) AS n_active
        |  FROM active a JOIN first_seen f ON a.user_id = f.user_id
        |  GROUP BY f.cohort_d, a.active_d - f.cohort_d),
        |mx AS (SELECT max(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS max_d FROM events),
        |offs AS (SELECT DISTINCT day_offset FROM cell WHERE day_offset >= 1),
        |den AS (
        |  SELECT o.day_offset, sum(s.n_cohort) AS n_obs
        |  FROM offs o CROSS JOIN mx
        |  JOIN cohort_size s ON s.cohort_d + o.day_offset <= mx.max_d
        |  GROUP BY o.day_offset),
        |num AS (
        |  SELECT day_offset, sum(n_active) AS n_act
        |  FROM cell WHERE day_offset >= 1 GROUP BY day_offset),
        |obs AS (
        |  SELECT d.day_offset,
        |         CAST(n.n_act AS DOUBLE) / CAST(d.n_obs AS DOUBLE) AS rate
        |  FROM den d JOIN num n ON n.day_offset = d.day_offset)
        |SELECT CAST(count(1) AS BIGINT) AS n_offsets,
        |       round(regr_slope(ln(rate), CAST(day_offset AS DOUBLE)), 6) AS slope,
        |       round(-ln(2) / regr_slope(ln(rate), CAST(day_offset AS DOUBLE)), 6)
        |         AS half_life_days
        |FROM obs WHERE rate > 0""".stripMargin,
    // day-grain distinct first, then the bounded 7-day range join —
    // the same decomposition the Spark side uses
    "pipe_rolling_active" ->
      """WITH du AS (
        |  SELECT DISTINCT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d FROM du),
        |wau AS (
        |  SELECT days.d, count(DISTINCT du.user_id) AS n_wau
        |  FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
        |  GROUP BY days.d),
        |dau AS (SELECT d, count(1) AS n_dau FROM du GROUP BY d)
        |SELECT w.d AS day, CAST(w.n_wau AS BIGINT) AS wau,
        |       CAST(a.n_dau AS BIGINT) AS dau,
        |       round(a.n_dau / CAST(w.n_wau AS DOUBLE), 6) AS stickiness
        |FROM wau w JOIN dau a ON w.d = a.d
        |ORDER BY day""".stripMargin,
    // ln(2)/7 spelled identically so the per-row decay doubles match
    "pipe_recency_weight" ->
      """WITH mx AS (SELECT max(ts) AS max_ts FROM events)
        |SELECT event_type,
        |       CAST(count(1) AS BIGINT) AS n_events,
        |       round(sum(exp(-(ln(2) / 7.0) *
        |         ((epoch_us(mx.max_ts) - epoch_us(ts)) / 86400000000.0))), 6)
        |         AS decayed_weight,
        |       round(sum(exp(-(ln(2) / 7.0) *
        |         ((epoch_us(mx.max_ts) - epoch_us(ts)) / 86400000000.0))) /
        |         count(1), 6) AS mean_decay
        |FROM events CROSS JOIN mx
        |GROUP BY event_type
        |ORDER BY decayed_weight DESC, event_type""".stripMargin,
    "pipe_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS first_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.first_view
        |        AND e.ts <= v.first_view + INTERVAL 24 HOUR
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        |        AND e.ts <= c.first_click + INTERVAL 24 HOUR
        |      GROUP BY e.user_id)
        |SELECT u.user_id,
        |       epoch_us(v.first_view) AS view_us,
        |       epoch_us(c.first_click) AS click_us,
        |       epoch_us(p.first_purchase) AS purchase_us,
        |       CASE WHEN p.first_purchase IS NOT NULL THEN 3
        |            WHEN c.first_click IS NOT NULL THEN 2
        |            WHEN v.first_view IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |       LEFT JOIN c ON u.user_id = c.user_id
        |       LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin,
    // the funnel CTEs feeding per-transition exact percentiles over
    // integer-microsecond gaps (quantile_cont == Spark percentile)
    "pipe_funnel_time" ->
      """WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.first_view
        |        AND e.ts <= v.first_view + INTERVAL 24 HOUR
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        |        AND e.ts <= c.first_click + INTERVAL 24 HOUR
        |      GROUP BY e.user_id),
        |g AS (
        |  SELECT 'view_to_click' AS stage,
        |         epoch_us(c.first_click) - epoch_us(v.first_view) AS gap_us
        |  FROM c JOIN v ON c.user_id = v.user_id
        |  UNION ALL
        |  SELECT 'click_to_purchase',
        |         epoch_us(p.first_purchase) - epoch_us(c.first_click)
        |  FROM p JOIN c ON p.user_id = c.user_id)
        |SELECT stage, CAST(count(1) AS BIGINT) AS n_converted,
        |       round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS median_secs,
        |       round(quantile_cont(gap_us, 0.9) / 1e6, 6) AS p90_secs
        |FROM g GROUP BY stage ORDER BY stage""".stripMargin,
    "pipe_asof_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value
        |      FROM events WHERE event_type = 'click')
        |SELECT purchase_id, p.user_id,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       round(p.value, 2) AS purchase_value,
        |       c.click_id, round(c.value, 2) AS click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin,
    "pipe_interval_join" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) - epoch_us(a.ts) <= 3600000000
        |ORDER BY a.user_id, id_a, id_b""".stripMargin,
    "pipe_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    // the native session_window semantics: a gap of exactly the window
    // length starts a NEW session (>=), unlike pipe_sessionize's strict >
    "pipe_session_native" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    // ≤168-cell calendar aggregate; DuckDB dayofweek is 0=Sunday where
    // Spark's is 1=Sunday, aligned with +1
    "pipe_heatmap" ->
      """WITH cells AS (
        |  SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |         CAST(hour(ts) AS INT) AS hod,
        |         CAST(count(*) AS BIGINT) AS n,
        |         round(avg(value), 6) AS avg_value
        |  FROM events GROUP BY 1, 2)
        |SELECT dow, hod, n, avg_value,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share
        |FROM cells ORDER BY dow, hod""".stripMargin,
    // sweep line over session boundaries with the two-phase prefix sum
    // mirrored (per-hour running sum + hours-relation carry); day max is
    // tie-order invariant, all-integer
    "pipe_concurrency" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
        |  FROM flagged),
        |sp AS (SELECT user_id, seq, epoch_us(min(ts)) AS st, epoch_us(max(ts)) AS en
        |       FROM sess GROUP BY user_id, seq),
        |bounds AS (SELECT st AS t, CAST(1 AS BIGINT) AS delta FROM sp
        |           UNION ALL SELECT en, -1 FROM sp),
        |hb AS (SELECT t, delta, t // 3600000000 AS hr FROM bounds),
        |run AS (SELECT t, delta, hr,
        |               sum(delta) OVER (PARTITION BY hr ORDER BY t, delta DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_in
        |        FROM hb),
        |ht AS (SELECT hr, sum(delta) AS hd FROM hb GROUP BY hr),
        |cr AS (SELECT hr, CAST(coalesce(sum(hd) OVER (ORDER BY hr
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS carry
        |       FROM ht)
        |SELECT strftime(make_timestamp(run.t), '%Y-%m-%d') AS day,
        |       CAST(max(cr.carry + run.run_in) AS BIGINT) AS peak_concurrent,
        |       CAST(sum(CASE WHEN run.delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_sessions_started
        |FROM run JOIN cr ON cr.hr = run.hr
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "pipe_stats_cube" ->
      """SELECT coalesce(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), 'ALL') AS hour,
        |       coalesce(event_type, 'ALL') AS event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY CUBE (strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), event_type)
        |ORDER BY hour, event_type""".stripMargin)
}
