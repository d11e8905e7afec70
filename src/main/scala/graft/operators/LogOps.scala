package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFns

/** The reference's log-analytics surface, re-expressed as Spark plans.
  *
  * Maps the pipeline of /root/reference/main.py:14-70 onto the `events` /
  * `documents` tables (SURVEY.md §3): NRQL-style ingestion filters
  * (new_relic_fetcher.py:70-79), preprocessing redaction + dedup
  * (preprocessor.py:15-43), and the dashboard aggregations
  * (dashboard/app.py:14-43,62-88).
  *
  * Scale notes: every query here is filter→project→aggregate with no
  * self-joins; filters sit directly on scan columns so they push down to
  * parquet, and groupBys get Catalyst's map-side partial aggregation for
  * free. At 100 TB these are single-shuffle (or zero-shuffle) plans.
  */
object LogOps {
  private val TsUs = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** NRQL-shaped ingest (new_relic_fetcher.py:70-79): projection,
    * equality filter on the "level", LIKE / NOT LIKE message filters, the
    * container-name LIKE filter (new_relic_fetcher.py:76 — user_id stands
    * in for container, matched on its string form), SINCE/UNTIL time
    * window, deterministic ordered LIMIT (NRQL's LIMIT is arbitrary;
    * ordering by (ts, event_id) makes it reproducible).
    */
  def ingestErrors(spark: SparkSession, dir: String,
      sinceTs: String = "2024-01-02 00:00:00",
      untilTs: String = "2024-01-29 00:00:00",
      userLike: String = "%1%",
      limit: Int = 500): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type") === "error" &&
        !col("props").like("""%"k": 0}%""") &&
        col("props").like("%k%") &&
        col("user_id").cast("string").like(userLike) &&
        col("ts") >= lit(sinceTs).cast("timestamp") &&
        col("ts") <  lit(untilTs).cast("timestamp"))
      .orderBy(col("ts"), col("event_id"))
      .limit(limit)
      .select(
        col("event_id"),
        date_format(col("ts"), TsUs).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))

  /** clean_log's PII redaction (preprocessor.py:15-27) over the corpus. */
  def preprocessRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.redactPii(col("text")).as("clean_text"))

  /** Prompt-safety redaction (llm_processor.py:105-110). */
  def redactSecrets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.redactSecrets(col("text")).as("safe_text"))

  /** preprocess_logs dedup by (message, timestamp), keep first occurrence
    * (preprocessor.py:30-43). groupBy-min rather than distinct+join: one
    * shuffle, map-side combined. Timestamp key is the µs-formatted string —
    * the same normalization `clean_log` applies (`str(timestamp)`).
    */
  def preprocessDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("props"), date_format(col("ts"), TsUs).as("ts_us"))
      .agg(min("event_id").as("first_event_id"), count("*").as("n_dups"))

  /** Incident timeline: count per day (app.py:20-27's `timestamp[:10]`). */
  def metricsTimeline(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count("*").as("n_incidents"))

  /** Gap-filled incident timeline: [[metricsTimeline]] with every day of
    * the observed range present — a day with ZERO events surfaces as 0
    * instead of vanishing (the dashboard plots a continuous day axis,
    * app.py:20-27; a gap and a zero look identical in the raw counts but
    * not on the chart). Spark-first gap-fill: the day domain comes from
    * one 2-value min/max aggregate exploded through `sequence()` — a
    * generator producing one row per day of the range, no driver loop, no
    * second scan of the fact table — left-joined to the per-day counts
    * and zero-filled. Both join sides are day-cardinality (tiny at any
    * data scale), so the join broadcasts; rows with NULL ts have no day
    * and stay out of the domain (mirrored by the oracle's join
    * direction). */
  def metricsTimelineFilled(spark: SparkSession, dir: String): DataFrame =
    metricsTimelineFilledFrom(Tables.events(spark, dir))

  private[graft] def metricsTimelineFilledFrom(events: DataFrame): DataFrame = {
    val counts = events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count("*").as("n_incidents"))
    val domain = events
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .where(col("d0").isNotNull)
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
    domain.join(counts, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_incidents"), lit(0L)).as("n_incidents"))
  }

  /** Log template mining — the classic first step of automated incident
    * analysis: collapse messages into TEMPLATES by masking the variable
    * parts (hex runs/ids first — they contain digits — then numbers), and
    * count occurrences per (level, template). A million "user 4711 gave
    * error c0ffee12" lines become one template row with n_events = 10⁶,
    * which is what an analyst (or the RCA prompt builder) actually reads.
    * Scale shape: per-row regex work at the scan + one map-side-combined
    * groupBy on the (short) template string; the heavy raw messages never
    * shuffle. first_event_id gives a deterministic exemplar to join back
    * for a full sample line.
    */
  def logTemplates(spark: SparkSession, dir: String): DataFrame =
    logTemplatesFrom(Tables.events(spark, dir))

  /** Message → template: mask hex runs FIRST (they contain digits), then
    * number runs. THE template-shape definition — the batch trilogy
    * (logTemplates / templateNovelty / templateTrending) and the
    * streaming first-seen trigger all normalize through this one column,
    * so a tuning here cannot desynchronize the four plans. (The SQL
    * oracles carry the same two regexes by construction.) */
  private[graft] def templateCol(msg: Column): Column =
    regexp_replace(
      regexp_replace(msg, "[0-9a-f]{8,}", "<hex>"), "[0-9]+", "<num>")

  private[graft] def logTemplatesFrom(events: DataFrame): DataFrame =
    events
      .select(col("event_type").as("level"), col("event_id"),
        templateCol(col("props")).as("template"))
      .groupBy(col("level"), col("template"))
      .agg(count("*").as("n_events"), min(col("event_id")).as("first_event_id"))

  /** Template novelty — the "new error shape" trigger: templates occurring
    * at or after `splitTs` that NEVER occurred before it. A rate spike
    * says "more of the same"; a novel template says "something new broke"
    * — the two complementary alarms an incident analyst runs on every
    * window. Scale shape: both sides reduce to (level, template) count
    * relations at the scan (map-side combined); the baseline side then
    * carries one row per DISTINCT template — orders of magnitude smaller
    * than the event stream — into a left-anti join keyed on the template,
    * and AQE broadcasts it when it fits. */
  def templateNovelty(spark: SparkSession, dir: String,
      splitTs: String = "2024-01-20 00:00:00"): DataFrame =
    templateNoveltyFrom(Tables.events(spark, dir), splitTs)

  private[graft] def templateNoveltyFrom(events: DataFrame,
      splitTs: String): DataFrame = {
    val templated = events.select(
      col("event_type").as("level"), col("event_id"), col("ts"),
      templateCol(col("props")).as("template"))
    val split = lit(splitTs).cast("timestamp")
    val recent = templated.where(col("ts") >= split)
      .groupBy(col("level"), col("template"))
      .agg(count("*").as("n_events"), min(col("event_id")).as("first_event_id"))
    val baseline = templated.where(col("ts") < split)
      .select(col("level"), col("template")).distinct()
    // null-safe keys: a NULL-template (NULL-props) group present in both
    // periods is NOT novel — a plain equi-anti-join would let it through
    // every window forever
    recent.as("r").join(baseline.as("b"),
        col("r.level") <=> col("b.level") &&
          col("r.template") <=> col("b.template"),
        "left_anti")
      .select(col("r.level").as("level"), col("r.template").as("template"),
        col("r.n_events").as("n_events"),
        col("r.first_event_id").as("first_event_id"))
  }

  /** Template trending — the third incident trigger beside volume spikes
    * ([[anomalySpikes]]) and new shapes ([[templateNovelty]]): which
    * EXISTING templates' rates grew most versus the baseline period.
    * Add-one smoothing keeps the ratio defined for templates absent from
    * one side (a baseline-only template trends toward 0, a recent-only
    * one toward n+1 — novelty flags the latter precisely; this ranks the
    * whole mix shift). Same scan-reduced template relations as the
    * siblings, one null-safe full-outer join, distributed TakeOrdered
    * for the top-N. */
  def templateTrending(spark: SparkSession, dir: String,
      splitTs: String = "2024-01-20 00:00:00", topN: Int = 20): DataFrame =
    templateTrendingFrom(Tables.events(spark, dir), splitTs, topN)

  private[graft] def templateTrendingFrom(events: DataFrame,
      splitTs: String, topN: Int): DataFrame = {
    val templated = events.select(
      col("event_type").as("level"), col("ts"),
      templateCol(col("props")).as("template"))
    val split = lit(splitTs).cast("timestamp")
    val recent = templated.where(col("ts") >= split)
      .groupBy(col("level"), col("template")).agg(count("*").as("n_recent"))
    val baseline = templated.where(col("ts") < split)
      .groupBy(col("level"), col("template")).agg(count("*").as("n_baseline"))
    recent.as("r").join(baseline.as("b"),
        col("r.level") <=> col("b.level") &&
          col("r.template") <=> col("b.template"),
        "full_outer")
      .select(
        coalesce(col("r.level"), col("b.level")).as("level"),
        coalesce(col("r.template"), col("b.template")).as("template"),
        coalesce(col("r.n_recent"), lit(0L)).as("n_recent"),
        coalesce(col("b.n_baseline"), lit(0L)).as("n_baseline"))
      .withColumn("trend",
        round((col("n_recent") + lit(1.0)) / (col("n_baseline") + lit(1.0)), 6))
      .orderBy(col("trend").desc, col("level"), col("template"))
      .limit(topN)
  }

  /** Incident-rate spike detection — the trigger side of an incident
    * analyst: a day whose event count for a level jumps past
    * mean + `sigma`·stddev of that level's trailing baseline is the day
    * the RCA pipeline should be looking at. Baseline = the 7 OBSERVED
    * (level, day) cells strictly before the tested day (ROWS frame;
    * preceding only, so a spike never contaminates its own baseline; at
    * least 3 baseline days required — σ of fewer is noise). Scale shape:
    * one map-side-combined day-grain pre-aggregation shrinks the fact
    * table to |levels|×|days| rows, and the window runs over that tiny
    * relation — the fact table is scanned once, nothing level-sized ever
    * sits on one reducer. Baseline stats are rounded to 4 decimals in
    * the output; the spike predicate compares unrounded doubles.
    */
  def anomalySpikes(spark: SparkSession, dir: String,
      sigma: Double = 3.0): DataFrame =
    anomalySpikesFrom(Tables.events(spark, dir), sigma)

  private[graft] def anomalySpikesFrom(events: DataFrame,
      sigma: Double = 3.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type").as("level"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count("*").as("n_events"))
    val w = Window.partitionBy(col("level")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("base_avg", avg(col("n_events")).over(w))
      .withColumn("base_std", stddev_samp(col("n_events")).over(w))
      .withColumn("base_n", count(col("n_events")).over(w))
      .withColumn("is_spike",
        coalesce(col("base_n") >= 3 &&
          col("n_events") > col("base_avg") + lit(sigma) * col("base_std"),
          lit(false)))
      .select(col("level"), col("day"), col("n_events"),
        round(col("base_avg"), 4).as("base_avg"),
        round(col("base_std"), 4).as("base_std"),
        col("base_n"), col("is_spike"))
  }

  /** k-anonymity / l-diversity audit — the privacy gate a pipeline runs
    * before releasing an "anonymized" extract (Sweeney '02; Machanavajjhala
    * '07): rows grouped by the quasi-identifier combination
    * (event_type, day) must each contain ≥k distinct subjects (else the
    * combination re-identifies), and the sensitive attribute (the value's
    * width-10 bucket — one exact IEEE division, never a cross-libm log
    * whose last-ulp wobble could flip floor() at boundary-exact inputs)
    * must take ≥l distinct values inside the group
    * (else membership alone discloses it — k-anonymous but homogeneous).
    * One map-side-combined aggregation over the scan; the output is the
    * quasi-id-combination relation, tiny at any corpus size. NULL day /
    * type are real quasi-id values (a NULL group is as linkable as any
    * other); non-finite or NULL values form sensitive bucket NULL, which
    * counts toward diversity like any distinct bucket (count(DISTINCT)
    * ignores it — mirrored in both engines). */
  def kAnonymity(spark: SparkSession, dir: String, k: Int = 5,
      l: Int = 3): DataFrame =
    kAnonymityFrom(Tables.events(spark, dir), k, l)

  private[graft] def kAnonymityFrom(events: DataFrame, k: Int,
      l: Int): DataFrame =
    events
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"),
        // the metric value-domain contract (|v| < 1e10, cf. the decimal
        // sums): NaN/±Inf/out-of-range values get a NULL bucket instead
        // of overflowing the BIGINT cast (ANSI aborts, DuckDB errors)
        when(!isnan(col("value")) && abs(col("value")) < lit(1e10),
          floor(col("value") / lit(10.0)).cast("long")).as("vbucket"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_subjects"),
        countDistinct(col("vbucket")).as("l_diversity"))
      .withColumn("k_anonymous", col("n_subjects") >= k)
      .withColumn("l_diverse", col("l_diversity") >= l)

  /** DSAR / subject-access report — the governance export a data-subject
    * request triggers (GDPR art. 15) and the pre-flight an erasure (art.
    * 17) plans from: for each subject in the request set, everything the
    * engine holds about them — row count, activity span, event-type
    * spread, value total. The request set here is the deterministic
    * md5-family pick (≈1/20 of subjects) so the oracle replays it; in
    * production it's a broadcast list. One fact aggregation; the subject
    * predicate is a scan-side hash test (no join); NULL-ts activity
    * keeps NULL bounds (min/max skip NULLs, both engines); value totals
    * ride the guarded decimal contract. */
  def dsarReport(spark: SparkSession, dir: String, mod: Long = 20): DataFrame = {
    val inSet = org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.Md5LowerMod(org.apache.spark.sql.graft.Bridge
        .expression(concat(lit("dsar:"), col("user_id").cast("string"))),
        mod)) === 0
    val v = expr("try_cast(value AS DECIMAL(12,2))")
    Tables.events(spark, dir)
      .where(col("user_id").isNotNull && inSet)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_event_types"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_seen"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_seen"),
        sum(v).cast("double").as("total_value"))
  }

  /** Counts by service (app.py:28-29; user_id stands in for container).
    * value is summed as DECIMAL (double summation is shuffle-order
    * dependent) and the outputs deliberately unrounded — engines disagree
    * on round() of boundary-exact quotients; identical exact sums cast to
    * bit-identical doubles instead (see Relational.q1PricingSummary). */
  def metricsByService(spark: SparkSession, dir: String): DataFrame = {
    // try_cast, not cast: the value domain of the decimal sum is
    // |v| < 1e10 — NaN, ±Inf, and out-of-range doubles become NULL
    // (excluded from the sum, still counted in n_events) instead of
    // aborting a 100 TB job on one corrupt record. The oracle mirrors
    // with TRY_CAST (+ an isnan guard — DuckDB's TRY_CAST errors on
    // NaN→DECIMAL rather than returning NULL).
    val v = expr("try_cast(value AS DECIMAL(12,2))")
    Tables.events(spark, dir)
      .groupBy(col("user_id").as("service_id"))
      .agg(count("*").as("n_events"),
        sum(v).cast("double").as("total_value"),
        (sum(v).cast("double") / count("*")).as("avg_value"))
  }

  /** Counts by level with a severity rank (app.py:32-33). A missing
    * level surfaces as the "unknown" bucket, exactly the reference's
    * `Counter(e.get("level", "unknown"))` — a NULL group row would be
    * invisible on the dashboard chart; "unknown" is a bar. */
  def metricsByLevel(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(coalesce(col("event_type"), lit("unknown")).as("level"))
      .agg(count("*").as("n_events"))
      .withColumn("severity",
        when(col("level") === "error", 3)
          .when(col("level") === "purchase", 2)
          .when(col("level") === "signup", 1)
          .otherwise(0))

  /** Counts by namespace (app.py:30-31; documents.source stands in).
    * Missing namespace → "unknown", per app.py:30's Counter default. */
  def metricsByNamespace(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(coalesce(col("source"), lit("unknown")).as("namespace"))
      .agg(count("*").as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"))

  /** Dashboard keyword search: substring filter + attribute filter
    * (app.py:66-88). The LIKE predicate pushes down to the parquet scan.
    */
  def searchKeyword(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("lang") === "en" && TextFns.foldCase(col("text")).contains("spark"))
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** Full dashboard search (app.py:66-88): every filter attribute at once —
    * level equality + service (container) LIKE + keyword substring over the
    * message + a time window — then newest-first ordering with a unique
    * tiebreak and a page-sized LIMIT, exactly the filter stack the
    * dashboard applies before rendering. All predicates sit on scan
    * columns, so they push down; the ordered LIMIT plans as a distributed
    * TakeOrdered.
    */
  def searchEntries(spark: SparkSession, dir: String,
      level: String = "error",
      userLike: String = "%2%",
      keyword: String = "7",
      sinceTs: String = "2024-01-01 00:00:00",
      limit: Int = 200,
      namespace: String = ""): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type") === level &&
        col("user_id").cast("string").like(userLike) &&
        TextFns.foldCase(col("props")).contains(TextFns.foldCase(keyword)) &&
        col("ts") >= lit(sinceTs).cast("timestamp") &&
        // namespace is its OWN substring attribute (app.py:70-72), distinct
        // from the entry-wide keyword: it matches only the extracted
        // namespace field (props.k stands in per SURVEY §3), not the raw
        // payload. Empty = filter off, like the dashboard's blank form box.
        (if (namespace.isEmpty) lit(true)
         else TextFns.foldCase(get_json_object(col("props"), "$.k"))
           .contains(TextFns.foldCase(namespace))))
      .orderBy(col("ts").desc, col("event_id"))
      .limit(limit)
      .select(col("event_id"),
        date_format(col("ts"), TsUs).as("ts_us"),
        col("user_id"), col("event_type"), col("props"))

  /** Entry-wide dashboard search (app.py:76-79): the reference matches the
    * keyword against the WHOLE serialized history entry — `keyword not in
    * json.dumps(entry).lower()` — so a hit can live in the RCA body, not
    * just the log messages, and a message-only filter ([[searchEntries]])
    * would miss it. The engine twin: an entry is a day's incident report
    * ([[incidentReport]]'s ordered log lines) plus the deterministic RCA
    * stand-in line ([[slackMessage]]'s digest format); the keyword filters
    * the lowercased concatenation of every entry field. The default
    * keyword deliberately matches inside the RCA digest only — the case
    * the message-only search cannot find.
    *
    * Scale shape: one groupBy over the error scan (map-side combined)
    * builds the entries; the filter is a per-row predicate on the
    * dimension-sized day relation. No extra shuffle over [[incidentReport]].
    */
  def searchAll(spark: SparkSession, dir: String,
      keyword: String = "7b", maxLines: Int = 1000): DataFrame =
    incidentReport(spark, dir, maxLines)
      .withColumn("rca",
        // NULL report (all lines NULL) → NULL rca, matching SQL printf
        when(col("report").isNotNull,
          format_string("RCA pending for %d incidents (batch digest %s)",
            col("n_incidents"), md5(col("report")))))
      .where(TextFns.foldCase(concat_ws(" ", col("day"), col("report"), col("rca")))
        .contains(TextFns.foldCase(keyword)))
      .select(col("day"), col("n_incidents"), col("report"), col("rca"))

  /** Semi-structured props parsing: extract typed fields from the JSON
    * message payload at scan time (codegen'd JSON path, no UDF), then
    * aggregate. The reference receives logs as JSON dicts
    * (new_relic_fetcher.py:118-126); at scale the parse happens in the
    * scan pipeline, not a driver loop.
    */
  def propsParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count("*").as("n_events"),
        round(avg("k"), 4).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))

  /** Exact distinct-user counts per level (partial-agg'd two-phase
    * distinct — the exact twin of [[approxDistinct]]). */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count("*").as("n_events"))

  /** HyperLogLog distinct counts — the constant-memory path for
    * cardinalities where exact distinct would shuffle 100 TB of keys.
    * Built on the engine's pinned md5 hash family ([[Sketches]]) instead
    * of `approx_count_distinct`'s engine-private hash, so the whole
    * sketch — registers to estimate — replays in the SQL oracle
    * hash-identically; the spec additionally bounds its error against
    * the exact count. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Sketches.approxDistinctCounts(Tables.events(spark, dir))

  /** The `- ts | container | level | message` log line, with SQL printf
    * NULL-parity: NULL ts/user_id/props null the whole LINE (the oracle's
    * printf propagates NULL, and string_agg then skips it — Spark's
    * format_string would otherwise render the literal text "null"). */
  private def logLine(msg: Column): Column =
    when(col("ts").isNotNull && col("user_id").isNotNull && col("props").isNotNull,
      format_string("- %s | user_%d | %s | %s",
        date_format(col("ts"), TsUs), col("user_id"), col("event_type"), msg))

  /** string_agg-parity ordered join of a group's `line` column: sorted by
    * `sortKeys`, NULL lines skipped, NULL (not "") when all are NULL. */
  private def joinedLines(sortKeys: Column*): Column =
    when(count(col("line")) > 0,
      array_join(
        transform(sort_array(collect_list(struct(sortKeys :+ col("line"): _*))),
          x => x.getField("line")),
        "\n"))

  /** Per-day incident report: the `- ts | container | level | message` log
    * lines of build_prompt (llm_processor.py:30-42), aggregated into one
    * ordered report string per day. Distributed string assembly in ONE
    * pass: a single groupBy(day) over the error scan counts the day and
    * keeps its first lines — one exchange, no join, no broadcast back.
    *
    * The report is BOUNDED: only the first `maxLines` lines of a day (by
    * (ts_us, event_id), the deterministic report order) enter the string.
    * An uncapped day would materialize every error line of the day into
    * ONE aggregation buffer and ONE output cell — unbounded group state,
    * multi-GB cells at 100×. The reference itself only ever reports on a
    * LIMIT-bounded fetch (main.py:25, LIMIT 1000 — the default cap here).
    * The cap is a bounded top-N aggregate (`Bridge.smallestN`): per-partition
    * top-N BEFORE the exchange (the partial aggregate), so the shuffle
    * moves ≤ N lines per day per map task, and the state is a bounded
    * heap, not a full per-day sort — the rank-limit contract a
    * WindowGroupLimit gives, without the second reader of the scan that
    * a separate window branch needs next to the count. `n_incidents`
    * stays the UNCAPPED day count, a partial count in the same aggregate.
    */
  def incidentReport(spark: SparkSession, dir: String,
      maxLines: Int = 1000): DataFrame =
    incidentReportFrom(Tables.events(spark, dir), maxLines)

  private[graft] def incidentReportFrom(events: DataFrame,
      maxLines: Int = 1000): DataFrame = {
    require(maxLines >= 1, s"maxLines must be positive: $maxLines")
    val lines = events
      .where(col("event_type") === "error")
      .select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_id"),
        date_format(col("ts"), TsUs).as("ts_us"),
        logLine(col("props")).as("line"))
    // NULL lines never reach the top-N (the aggregate skips NULL input):
    // they can never appear in the report, so they must not consume cap
    // slots — the oracle's `WHERE line IS NOT NULL` mirror keeps both
    // rank universes identical. The struct's field order IS the report
    // order (ascending, NULLS FIRST: the old sort_array order).
    val entry = when(col("line").isNotNull,
      struct(col("ts_us"), col("event_id"), col("line")))
    lines.groupBy(col("day"))
      .agg(count("*").as("n_incidents"),
        org.apache.spark.sql.graft.Bridge.smallestN(entry, maxLines).as("__first"))
      // a day whose lines are ALL NULL still surfaces, with a NULL report
      .select(col("day"), col("n_incidents"),
        when(size(col("__first")) > 0,
          array_join(transform(col("__first"), x => x.getField("line")), "\n"))
          .as("report"))
  }

  /** Slack RCA share message (_format_slack_message, llm_processor.py:97-105
    * and app.py:138-143): `*AI RCA & Fix Suggestion:*` header, the redacted
    * `- ts | container | level | message` lines of the incident batch, then
    * the RCA body. The LLM output itself is an external artifact (like the
    * model call it comes from), so the body is a deterministic stand-in
    * derived from the batch digest — the assembly, ordering, redaction, and
    * formatting are the testable surface. */
  def slackMessage(spark: SparkSession, dir: String): DataFrame =
    slackAssemble(spark, dir,
      logLine(graft.functions.TextFns.redactSecrets(col("props"))))

  /** Shared share-message assembly: the ordered 5-line error batch, the
    * string_agg-parity join, and the header/RCA wrapping — both Slack
    * formats differ only in the per-line expression, and a format tweak
    * must not need the same edit twice. */
  private def slackAssemble(spark: SparkSession, dir: String,
      line: Column): DataFrame =
    Tables.events(spark, dir)
      // an entry with no timestamp cannot rank among the EARLIEST five
      // (Spark's NULLS-FIRST orderBy would seat it ahead of every real
      // entry and NULL the whole message through format_string)
      .where(col("event_type") === "error" && col("ts").isNotNull)
      .orderBy(col("ts"), col("event_id"))
      .limit(5)
      .select(col("event_id"), line.as("line"))
      .agg(count("*").as("n_logs"),
        joinedLines(col("event_id")).as("logs_txt"))
      .select(
        // NULL on an empty batch, matching SQL semantics (string_agg over
        // zero rows is NULL, and || propagates it)
        when(col("n_logs") > 0, concat(
          lit("*AI RCA & Fix Suggestion:*\n*Logs:*\n"),
          col("logs_txt"),
          lit("\n*RCA & Fix:*\n"),
          format_string("RCA pending for %d incidents (batch digest %s)",
            col("n_logs"), md5(col("logs_txt"))))).as("message"))

  /** Dashboard share-to-Slack message (share_to_slack, app.py:136-144) —
    * the variant users actually share from. Unlike the llm_processor
    * format ([[slackMessage]], llm_processor.py:97-105), each log line
    * carries a namespace segment when the entry HAS a namespace
    * (app.py:139-141: `namespace_text = f" | {namespace}" if namespace
    * else ""`), giving `- ts | container | level | namespace | message`.
    * The props `k` field stands in for namespace_name (SURVEY §3); a
    * missing/empty field omits the segment exactly like the reference's
    * `log.get('namespace_name', '')`. Same distributed assembly as
    * [[slackMessage]]: ordered 5-line batch, redaction at the scan, one
    * string_agg-parity shuffle.
    */
  def slackMessageApp(spark: SparkSession, dir: String): DataFrame = {
    val ns = get_json_object(col("props"), "$.k")
    val nsSeg = when(ns.isNotNull && ns =!= "", concat(lit(" | "), ns))
      .otherwise(lit(""))
    val line = when(
      col("ts").isNotNull && col("user_id").isNotNull && col("props").isNotNull,
      concat(
        format_string("- %s | user_%d | %s",
          date_format(col("ts"), TsUs), col("user_id"), col("event_type")),
        nsSeg, lit(" | "),
        graft.functions.TextFns.redactSecrets(col("props"))))
    slackAssemble(spark, dir, line)
  }

  /** Drill-down dashboard totals: the (day × level) counts PLUS per-day
    * subtotals and the grand total in ONE pass — the ROLLUP relation a
    * drill-down UI pages through without issuing three queries (the
    * reference dashboard recomputes each level with separate Counters,
    * app.py:20-33; at 100 TB three passes over the fact table is the
    * difference that matters). Spark's `rollup` expands to grouping sets
    * INSIDE a single aggregate: map-side partial combine still applies
    * and there is exactly one shuffle regardless of grouping depth. The
    * grouping inputs are pre-coalesced to "unknown", so a post-rollup
    * NULL can only be a subtotal marker — rendered 'ALL', matching the
    * SQL ROLLUP oracle cell for cell. CONTRACT: 'ALL' (subtotal marker)
    * and 'unknown' (missing input) are reserved sentinel values of this
    * relation — a genuine event_type literally named 'ALL' or 'unknown'
    * is indistinguishable from them in the string columns. Safe on this
    * domain ([[PivotLevels]] is the closed level set); a deployment with
    * colliding level names should emit `grouping()` marker columns
    * alongside instead. Empty-input contract: an empty store yields an
    * EMPTY drill-down (Spark grouping-sets semantics; standard SQL would
    * emit one grand-total-zero row — the oracle pins Spark's behavior
    * with a HAVING that only that row can fail). */
  def metricsRollup(spark: SparkSession, dir: String): DataFrame =
    metricsRollupFrom(Tables.events(spark, dir))

  private[graft] def metricsRollupFrom(events: DataFrame): DataFrame =
    events
      .select(
        coalesce(date_format(col("ts"), "yyyy-MM-dd"), lit("unknown")).as("day"),
        coalesce(col("event_type"), lit("unknown")).as("level"))
      .rollup(col("day"), col("level"))
      .agg(count("*").as("n_events"))
      .select(
        coalesce(col("day"), lit("ALL")).as("day"),
        coalesce(col("level"), lit("ALL")).as("level"),
        col("n_events"))

  /** Day × event-type pivot matrix — the dashboard's stacked-bar data as
    * one row per day with one count column per KNOWN level. The pivot
    * value list is ENUMERATED, which is the scale-defining choice: Spark
    * then plans a single map-side-combined aggregate (no distinct-scan
    * to discover columns, no second shuffle), and the output schema is
    * fixed — a pivot over an unbounded value domain is a schema
    * explosion waiting for the first weird value. An absent (day, level)
    * cell is an explicit 0, same as the oracle's FILTERed counts. */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    eventsPivotFrom(Tables.events(spark, dir))

  private[graft] val PivotLevels =
    Seq("click", "error", "purchase", "signup", "view", "unknown")

  private[graft] def eventsPivotFrom(events: DataFrame): DataFrame =
    events
      .where(col("ts").isNotNull)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        coalesce(col("event_type"), lit("unknown")).as("level"))
      .groupBy(col("day"))
      .pivot("level", PivotLevels)
      .agg(count(lit(1)))
      .select(col("day") +:
        PivotLevels.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)

  /** Trailing k-day moving average over the gap-filled timeline
    * ([[metricsTimelineFilled]]) — the dashboard's smoothed trend line.
    * Gap-filling FIRST is the semantic point: a day with zero incidents
    * must pull the average down as a 0, not silently shrink the window.
    * The window is unpartitioned ORDER BY day, which is safe here and
    * only here: it runs on the already-aggregated day-cardinality
    * relation (a few thousand rows for a decade of data), never on raw
    * events. rowsBetween is exact because the filled timeline carries
    * every day exactly once. */
  def metricsMovingAvg(spark: SparkSession, dir: String, days: Int = 7): DataFrame =
    metricsMovingAvgFrom(Tables.events(spark, dir), days)

  private[graft] def metricsMovingAvgFrom(events: DataFrame, days: Int = 7): DataFrame = {
    require(days >= 1, s"window must span at least one day: $days")
    // bounded: runs on the filled day GRID (one row per calendar day)
    val w = Window.orderBy(col("day")).rowsBetween(-(days - 1), Window.currentRow)
    metricsTimelineFilledFrom(events)
      .select(col("day"), col("n_incidents"),
        round(avg(col("n_incidents")).over(w), 4).as(s"avg_${days}d"))
  }
}
