package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._

/** The engine's query catalog: every operator from SURVEY §2 (plus the
  * large-scale-pipeline extensions) exposed as a named query over the
  * driver's testdata tables, with a DuckDB oracle where the semantics are
  * ANSI-SQL-expressible.
  *
  * Cross-engine determinism rules used throughout:
  *   - Column names aliased identically in the Spark plan and the oracle
  *     SQL (the driver sorts columns by name before hashing values).
  *   - Monetary/quantity aggregates go through DECIMAL casts *before*
  *     summing, so Spark and DuckDB both do exact decimal arithmetic and
  *     the final double cast is bit-identical regardless of row order.
  *   - No unordered LIMIT without a total tiebreaker; window orderings
  *     always carry a unique key.
  */
object Queries {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Exact row count from parquet footer metadata — a driver-side
    * metadata read (milliseconds, zero Spark jobs), for sizing caps and
    * thresholds that need corpus cardinality before any scan runs.
    * Accepts a file or a directory of part-files; directory listing
    * follows Spark's file-index convention (hidden '_'/'.'-prefixed
    * names skipped) and FAILS LOUDLY when no data file matches — a
    * silently-zero count would mis-size every downstream cap.
    */
  private[graft] def parquetRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .filter { s =>
            val n = s.getPath.getName
            s.isFile && n.endsWith(".parquet") &&
              !n.startsWith("_") && !n.startsWith(".")
          }
          .map(_.getPath)
      else Seq(p)
    require(files.nonEmpty,
      s"parquetRowCount: no non-hidden .parquet data files under $path — " +
        "nested or differently-suffixed layouts need an explicit file list")
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** The estimator queries (exact, approx, matrix) all need the same chunk
    * relation over the sf directory; chunk once per (session, dir, params)
    * and share the cached Dataset across catalog queries.
    */
  private[graft] def sfChunks(
      spark: SparkSession,
      sfDir: String,
      params: graft.cdc.ChunkerParams = graft.cdc.ChunkerParams.Default,
      tables: Seq[String] = Seq("lineitem", "orders"))
      : org.apache.spark.sql.Dataset[ChunkRow] =
    SessionCaches.shared(spark, "sf_chunks", sfDir, tables.mkString(","),
        params.toString) {
      val paths = tables.map(t => s"$sfDir/$t.parquet")
      ChunkRelation.chunkFiles(spark, paths, params).cache()
    }

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Oracle side-table persistence: queries over engine-computed relations
    * (chunk streams, signatures) are verified by persisting the relation to
    * parquet and letting the DuckDB oracle recompute the RELATIONAL half
    * from the same rows. The result is derived from the read-back relation,
    * so result == f(persisted) by construction. Paths are keyed by the sf
    * basename; oracle SQL targets the driver's verification SF (sf0.01) by
    * absolute path, exactly like rowgroup_profile's parquet_metadata oracle.
    */
  /** Side-table persistence is VERIFICATION machinery: only Verify (and
    * anyone exporting GRAFT_ORACLE_SIDETABLES=1) pays the write+read; Bench
    * and library callers get the frame back untouched, so bench numbers
    * time the queries, not the correctness harness, and no hardcoded path
    * is touched outside verification runs.
    */
  private[graft] val SideTableProp = "graft.oracle.sidetables"

  /** The system property, when set, is authoritative (Bench sets "0" to
    * guarantee timed runs never pay oracle writes even if the driver's
    * verification env leaks into the bench process); the env var is the
    * fallback for external callers.
    */
  private[graft] def sideTablesEnabled: Boolean =
    sys.props.get(SideTableProp) match {
      case Some(v) => v == "1"
      case None => sys.env.get("GRAFT_ORACLE_SIDETABLES").contains("1")
    }

  /** One configurable root for BOTH the side-table writes and the oracle
    * SQL's reads, so they can never diverge. Overridable via
    * -Dgraft.oracle.root / GRAFT_ORACLE_ROOT; defaults to this checkout's
    * target/oracle (absolute, so DuckDB run from any cwd resolves it).
    */
  private[graft] def oracleRoot: String =
    sys.props.get("graft.oracle.root")
      .orElse(sys.env.get("GRAFT_ORACLE_ROOT"))
      .getOrElse(new java.io.File("target/oracle").getAbsolutePath)

  // side tables are deterministic functions of (sfDir, name), so within a
  // JVM the first write is authoritative — later callers sharing a table
  // (doc_cdc + the two stream_cdc variants all persist doc_chunks) read it
  // back instead of re-writing identical bytes
  private val sideWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `df` is BY-NAME on purpose: when side tables are disabled (every
    * timed Bench run) the relation must not even be constructed — eager
    * evaluation here once charged a full corpus chunk+persist pass to
    * stream_cdc's first timed run.
    */
  private[graft] def oracleSide(
      spark: SparkSession, sfDir: String, name: String, df: => DataFrame): DataFrame =
    if (!sideTablesEnabled) df
    else {
      val base = new java.io.File(sfDir).getName
      val path = s"$oracleRoot/$base/$name"
      if (sideWritten.add(path)) df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

  /** Best-effort recursive cleanup of a scratch dir at JVM exit. */
  private[graft] def cleanupOnExit(dir: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        if (java.nio.file.Files.exists(dir)) {
          val s = java.nio.file.Files.walk(dir)
          try s.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally s.close()
        }
      } catch { case scala.util.control.NonFatal(_) => () }))

  /** Read path baked into the dumped oracle SQL. The sf basename comes
    * from the same property Verify sets from its actual sfDir argument
    * (default sf0.01 = the driver's verification scale), so the SQL always
    * reads what this run's oracleSide wrote.
    */
  private[graft] val SfBaseProp = "graft.oracle.sfbase"

  /** Full sfDir for oracles that read the TESTDATA parquet directly
    * (parquet_metadata, file-level stats) — same Verify-set contract.
    */
  private[graft] val SfDirProp = "graft.oracle.sfdir"

  private[graft] def oracleSidePath(name: String): String = {
    val base = sys.props.getOrElse(SfBaseProp, "sf0.01")
    s"$oracleRoot/$base/$name/*.parquet"
  }

  private[graft] def oracleSfDir: String =
    sys.props.getOrElse(SfDirProp, "/root/testdata/sf0.01")

  // ---------------------------------------------------------------- scans

  /** P1/P3/P4: projection + filter + cast, all pushed into the parquet scan
    * (PushedFilters + pruned ReadSchema visible in explain).
    */
  private def q02FilterProject(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 150000.0 && col("o_orderstatus") =!= "F")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))

  // ----------------------------------------------------------- aggregates

  /** A2-shaped totals roll-up: the TPC-H Q1 pricing summary over lineitem —
    * partial+final hash aggregate, decimal-exact sums.
    */
  private def q01PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** A5-shaped grid: aggregation keyed by a (group × format)-like pair. */
  private def q07GroupGrid(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("event_type"), col("user_bucket"), col("n"), col("sum_value"))

  /** A8: fixed-width histogram of order totals (integer bucket arithmetic —
    * cross-engine stable, no data-dependent min/max).
    */
  private def q06Histogram(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") / 10000.0).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Distinct-count aggregates (the approximate-distinct story's exact
    * baseline): count + countDistinct per group.
    */
  private def q09Distinct(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))

  /** Grouping-sets shape (SURVEY §2.8): rollup over region → nation with
    * customer counts and exact decimal balances.
    */
  private def q10Rollup(spark: SparkSession, sfDir: String): DataFrame = {
    val region = t(spark, sfDir, "region")
    val nation = t(spark, sfDir, "nation")
    val customer = t(spark, sfDir, "customer")
    customer
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(dec(col("c_acctbal"))).cast("double").as("sum_acctbal"))
  }

  /** Arbitrary GROUPING SETS (beyond q10's ROLLUP chain): per-dimension
    * marginals + the full cross + the grand total in ONE aggregation pass
    * (Catalyst's Expand, one shuffle — not four separate jobs unioned).
    * Aggregated-away dimensions surface as NULLs, the same comparison
    * contract q10 already established.
    */
  private def q18GroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "events").createOrReplaceTempView("graft_events_gs")
    spark.sql(
      """SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM graft_events_gs
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10),
        |  (event_type, user_id % 10), ())""".stripMargin)
  }

  /** Correlated scalar subquery (TPC-H Q17 family): small-quantity
    * lineitems vs each part's own average. The SEMANTICS are the two
    * correlated scalar aggregates (per-part row count and quantity sum —
    * the DuckDB oracle still runs that correlated form verbatim); the
    * Spark side computes both aggregates in ONE grouped pass over
    * lineitem joined back on l_partkey. Catalyst's own decorrelation
    * (RewriteCorrelatedScalarSubquery) rewrites each scalar subquery
    * SEPARATELY — three lineitem scans, two per-partkey exchanges, two
    * broadcast joins; the combined aggregate is the same relation in two
    * scans / one exchange / one join (guide §2.4 "remove shuffles
    * outright", §2.3 "aggregate before you shuffle" — this was the 10×
    * scale tier's worst ratio at 8.2×). Equivalence is exact, not
    * approximate: every joined (lineitem, part) row's correlation group
    * is non-empty (the driving row itself satisfies
    * l_partkey = p_partkey), so COUNT ≥ 1 / SUM non-NULL and the INNER
    * join to the grouped relation returns exactly the scalar the
    * correlated form computed, row for row; NULL partkeys join in
    * neither form. Plan-asserted in QueriesPlanSpec (two lineitem scans,
    * one per-partkey aggregation) and oracle-verified against the
    * unchanged correlated SQL. The threshold `l_q < 0.2·avg` is
    * cross-multiplied to exact integers (5·cnt·l_q < sum — quantities
    * are integral doubles ≤ 50) so both engines compare BIGINTs, never
    * a float division.
    */
  private def q22ScalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "lineitem").createOrReplaceTempView("graft_li_ssq")
    t(spark, sfDir, "part").createOrReplaceTempView("graft_part_ssq")
    spark.sql(
      """SELECT p_brand, COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue_small
        |FROM graft_li_ssq JOIN graft_part_ssq ON p_partkey = l_partkey
        |JOIN (SELECT l_partkey AS agg_pk, COUNT(*) AS part_cnt,
        |        SUM(CAST(l_quantity AS BIGINT)) AS part_qty
        |      FROM graft_li_ssq GROUP BY l_partkey) per_part
        |  ON agg_pk = l_partkey
        |WHERE 5 * CAST(l_quantity AS BIGINT) * part_cnt < part_qty
        |GROUP BY p_brand""".stripMargin)
  }

  /** Set operations (INTERSECT / EXCEPT): customer cohorts by behavior —
    * big-spender ∩ urgent-buyer, and big-spender ∖ urgent-buyer. Catalyst
    * rewrites both into semi/anti joins over the deduplicated cohorts
    * (ReplaceIntersectWithSemiJoin / ReplaceExceptWithAntiJoin), so the
    * plan is two broadcast-able joins, not a sort-merge set pass.
    */
  private def q23SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = t(spark, sfDir, "orders")
    val bigSpend = orders.filter(col("o_totalprice") > 200000.0)
      .select(col("o_custkey"))
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val both = bigSpend.intersect(urgent).withColumn("cohort", lit("both"))
    val onlyBig = bigSpend.except(urgent).withColumn("cohort", lit("big_only"))
    both.unionByName(onlyBig)
      .join(t(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("cohort"), col("c_custkey"), col("c_mktsegment"))
  }

  /** Cumulative window (running total): per-priority daily revenue with
    * its running sum. The pre-aggregation keys one shuffle on
    * (priority, day); the window then runs per priority over DAYS —
    * a few-thousand-row frame regardless of corpus size, never a
    * per-row corpus window. Engine-exact by the catalog's decimal rule:
    * day totals AND the running sum accumulate in DECIMAL (order-free),
    * cast to double only at the edge; the RANGE-frame default makes
    * tie handling irrelevant because the orderBy key (day) is the
    * partition's grain.
    */
  private def q24RunningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("d"))
      .agg(sum(dec(col("o_totalprice"))).as("day_dec"))
    daily
      .withColumn("running_dec",
        sum(col("day_dec")).over(
          Window.partitionBy(col("priority")).orderBy(col("d"))))
      .select(col("priority"), date_format(col("d"), "yyyy-MM-dd").as("d"),
        col("day_dec").cast("double").as("day_total"),
        col("running_dec").cast("double").as("running_total"))
  }

  /** Time-series gap-fill (resample): per-event-type HOURLY counts over
    * the corpus's full hour span, absent hours zero-filled — the
    * monitoring resample `groupBy(hour)` alone can't produce (gaps
    * simply vanish). The dense (type × hour) grid generates from a
    * one-row span aggregate via sequence+explode (never a driver loop),
    * then left-joins the counts; grid size is |types|·|hours|,
    * independent of corpus row count. Hour = epoch-µs floor-div 3.6e9
    * through the type-adaptive [[Events.microsExpr]].
    */
  /** Ingest-rate anomaly detection over the hourly event grid — the
    * monitoring twin of event_resample: per (event_type, hour) counts
    * compared against the type's mean hourly rate with integer-exact
    * flags (n·hours > 2·total per-type spike / n·hours·2 < total drop —
    * cross-multiplied so no division participates in the decision;
    * dev_ratio is a single division for humans). One map-side-combined
    * aggregate over events; the flagging joins the |types|-row totals
    * relation broadcast.
    */
  private def eventAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val hours = ev.select(col("event_type"),
      call_function("div", Events.microsExpr(ev), lit(3600000000L)).as("h"))
    val counts = hours.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
    // per-type totals over OBSERVED hours (zero-hours carry no row in
    // counts; the mean is total/hours-with-data, the live-rate baseline)
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_hours"))
    counts.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("h"), col("n"),
        col("total"), col("n_hours"),
        (col("n").cast("double") * col("n_hours") / col("total"))
          .as("rate_ratio"),
        (col("n") * col("n_hours") > col("total") * 2).as("is_spike"),
        (col("n") * col("n_hours") * 2 < col("total")).as("is_drop"))
  }

  private def eventResample(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val hours = ev.select(col("event_type"),
      // integer `div`, not `/`: double division + cast would hang exact
      // floor semantics on float rounding at hour boundaries
      call_function("div", Events.microsExpr(ev), lit(3600000000L)).as("h"))
    // cached: three consumers (span, type list, final join) over a
    // |types|·|hours|-bounded relation — without the cache each would
    // re-run the aggregation and re-scan the corpus
    val counts = hours.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
      .cache()
    // span and the type list derive from the counts relation, NOT from
    // re-scanning the corpus — every (type, hour) with a row has n >= 1,
    // so min/max/distinct are identical and the fact table is scanned
    // exactly once
    val span = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = counts.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    grid.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Cohort retention matrix — the classic product-analytics rollup: users
    * are cohorted by the day of their first event, and each (cohort_day,
    * day_offset) cell counts how many of them were active that many days
    * later. Days are integer epoch-µs÷86400e6 indices (calendar-free, so
    * the engine and oracle share exact floor semantics through the
    * type-adaptive [[Events.microsExpr]]).
    *
    * Scale shape: the only corpus-wide exchange is the (user, day)
    * DISTINCT (map-side partial distinct collapses before the wire);
    * everything downstream — per-user first day, the activity⋈first
    * join, the cell rollup — re-exchanges only the |user-days| relation
    * (|users|·|days| at worst, not |events|), and the |cohorts|-row size
    * join broadcasts. retention_bp is an integer basis-point division so
    * the cell values are engine-exact. Plan-asserted in QueriesPlanSpec.
    */
  private def eventRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    // NOT cached: an un-materialized cache released before the caller
    // executes would be a no-op (the CacheManager entry must exist at
    // execution time), and a materialized one would leak — the distinct
    // recomputes per consumer, each a map-side-collapsed scan
    val days = ev.select(col("user_id"),
      call_function("div", Events.microsExpr(ev), lit(86400000000L)).as("d"))
      .distinct()
    val first = days.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    val cells = days.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("users"))
    val sizes = cells.filter(col("day_offset") === 0L)
      .select(col("cohort_day"), col("users").as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("users"),
        col("cohort_size"),
        call_function("div", col("users") * 10000L, col("cohort_size"))
          .as("retention_bp"))
  }

  /** Last-touch attribution — for every purchase event, the most recent
    * strictly-prior non-purchase event by the same user, and whether it
    * fell inside a 7-day attribution window. One shuffle on user_id; the
    * carry-forward is `last(..., ignoreNulls)` over a ROWS UNBOUNDED
    * PRECEDING..1 PRECEDING frame ordered by the total (µs, event_id)
    * key, so ties at the same microsecond are deterministic and the
    * window never buffers more than the running last non-null — no
    * per-user materialized history, no self-join. DuckDB mirrors it with
    * `last_value(... IGNORE NULLS)` over the identical frame.
    */
  private def eventAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val base = ev.select(col("event_id"), col("user_id"), col("event_type"),
      Events.microsExpr(ev).as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase",
      struct(col("us").as("t_us"), col("event_id").as("t_id"),
        col("event_type").as("t_type")))
    base
      .withColumn("t", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
        col("t.t_id").as("touch_event_id"), col("t.t_type").as("touch_type"),
        (col("us") - col("t.t_us")).as("gap_us"),
        coalesce(col("us") - col("t.t_us") <= 604800000000L, lit(false))
          .as("attributed"))
  }

  /** DAU / trailing-7-day WAU / stickiness per day — the engagement
    * time series. WAU avoids both a sliding distinct-count window and a
    * range join: each (user, day) row fans into the 7 future days it
    * keeps the user "weekly-active" for (sequence+explode — narrow),
    * then one distinct + count per day; the inner join back to observed
    * days drops the fan-out beyond the corpus horizon. All exchanges
    * after the first distinct carry the bounded user-days relation;
    * stickiness is an integer basis-point division.
    */
  private def eventDauWau(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val days = ev.select(col("user_id"),
      call_function("div", Events.microsExpr(ev), lit(86400000000L)).as("d"))
      .distinct()
    val dau = days.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = days
      .select(col("user_id"), explode(sequence(col("d"), col("d") + 6L)).as("wd"))
      .distinct()
      .groupBy(col("wd")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("d") === col("wd"))
      .select(col("d"), col("dau"), col("wau"),
        call_function("div", col("dau") * 10000L, col("wau"))
          .as("stickiness_bp"))
  }

  /** RFM user segmentation — the classic recency/frequency/monetary
    * tercile grid: per user, days since last event, event count, and
    * decimal-exact value sum; each metric NTILE(3)'d over a TOTAL order
    * (metric, then user_id — ties must be deterministic or the bucket
    * boundary is engine-dependent), then one rollup per (r, f, m) cell.
    * The corpus-wide exchange is the per-user aggregate; the tercile
    * windows run over the |users|-row relation (single-partition windows
    * at metadata scale — the 1e9-user form replaces NTILE with
    * approx-quantile cut points, the doc_len_quantiles machinery).
    */
  private def eventRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val perUser = ev
      .select(col("user_id"),
        call_function("div", Events.microsExpr(ev), lit(86400000000L)).as("d"),
        col("value"))
      .groupBy(col("user_id"))
      .agg(max(col("d")).as("last_day"), count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).as("monetary_dec"))
    val maxDay = perUser.agg(max(col("last_day")).as("corpus_last"))
    val scored = perUser.crossJoin(broadcast(maxDay))
      .withColumn("recency_days", col("corpus_last") - col("last_day"))
    val rW = Window.orderBy(col("recency_days").asc, col("user_id").asc)
    val fW = Window.orderBy(col("frequency").desc, col("user_id").asc)
    val mW = Window.orderBy(col("monetary_dec").desc, col("user_id").asc)
    scored
      .withColumn("r_tercile", ntile(3).over(rW).cast("long"))
      .withColumn("f_tercile", ntile(3).over(fW).cast("long"))
      .withColumn("m_tercile", ntile(3).over(mW).cast("long"))
      .groupBy(col("r_tercile"), col("f_tercile"), col("m_tercile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("frequency")).as("sum_events"),
        sum(col("monetary_dec")).cast("double").as("sum_value"))
  }

  /** Frequent-path mining: the top-20 most common 3-step event-type
    * sequences across user timelines (the funnel query's exploratory
    * sibling — q21 checks ONE pattern, this ranks all of them). Two
    * leads over the per-user (µs, event_id)-ordered window — the same
    * single user_id exchange as attribution — then a |types|³-bounded
    * rollup and a TakeOrdered top-k; the tie-break (n DESC, then the
    * full lexicographic path) makes the LIMIT boundary deterministic.
    */
  private def eventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val base = ev.select(col("user_id"), col("event_type"),
      Events.microsExpr(ev).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    base
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step2").isNotNull && col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  /** Gaps-and-islands: each user's activity streaks (maximal runs of
    * consecutive active days) via the classic day − row_number grouping
    * key over distinct days, plus the streak length. The (user, day) distinct is the only
    * corpus-wide exchange (the retention shape); the rank window and the
    * island rollup run over the bounded user-days relation. Emits one
    * row per streak ≥ 2 days — the engagement view cohort retention
    * can't express (retention counts users per offset; this measures
    * CONSECUTIVE presence).
    */
  private def eventStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val days = ev.select(col("user_id"),
      call_function("div", Events.microsExpr(ev), lit(86400000000L)).as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    days
      .withColumn("grp", col("d") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("d")).as("start_day"), max(col("d")).as("end_day"),
        count(lit(1)).as("streak_days"))
      .filter(col("streak_days") >= 2L)
      .select(col("user_id"), col("start_day"), col("end_day"),
        col("streak_days"))
  }

  // ---------------------------------------------------------------- joins

  /** Multi-way join + aggregation (TPC-H Q3 family): revenue per market
    * segment. Small dims (customer) broadcast; lineitem⋈orders shuffles on
    * the join key once.
    */
  private def q03JoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
    val orders = t(spark, sfDir, "orders")
    val customer = t(spark, sfDir, "customer")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** Anti join: customers with no URGENT-priority orders (left_anti —
    * Spark's NOT EXISTS physical form; broadcast-able at dim scale).
    */
  private def q08AntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = t(spark, sfDir, "customer")
    val urgent = t(spark, sfDir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    customer
      .join(urgent, customer("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Semi join: parts that appear in some lineitem. */
  private def q11SemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val part = t(spark, sfDir, "part")
    val li = t(spark, sfDir, "lineitem")
    part
      .join(li, part("p_partkey") === li("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
  }

  /** Bucketed co-located join — the 100 TB fact-fact join technique: both
    * sides written bucketed+sorted on the join key (8 buckets here; sized
    * to cluster cores at scale), so the sort-merge join reads co-located
    * buckets with NO shuffle exchange on either side (asserted by
    * QueriesPlanSpec). Results are bucketing-invariant, so the oracle is
    * the plain SQL join; the `merge` hint keeps the demonstration honest
    * where a dim-sized side would otherwise broadcast.
    */
  private val bucketedReady =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Per-sfDir identifier tag: hex of a 64-bit hash — collision-safe
    * where String.hashCode is not, and never a negative/hyphenated
    * token, so it is always a valid unquoted SQL identifier piece
    * (table names, memory-sink stream names).
    */
  private[graft] def dirTag(sfDir: String): String =
    java.lang.Long.toHexString(
      graft.cdc.XXH64.hash(sfDir.getBytes("UTF-8"), 42L))

  private[graft] def bucketedPair(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val tag = dirTag(sfDir)
    val (liTbl, ordTbl) = (s"graft_li_b$tag", s"graft_ord_b$tag")
    // keyed by SESSION identity, not applicationId: saveAsTable registers
    // in the session-local catalog, so a sibling session must re-register
    bucketedReady.getOrElseUpdate(
      System.identityHashCode(spark).toString + sfDir, {
      // the in-memory catalog is per-session but the warehouse dir is not:
      // a fresh session with a stale location would hit
      // LOCATION_ALREADY_EXISTS, so drop both catalog entry and location
      def fresh(name: String)(write: => Unit): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        val wh = java.net.URI.create(
          spark.conf.get("spark.sql.warehouse.dir")).getPath
        val loc = java.nio.file.Paths.get(wh, name)
        if (java.nio.file.Files.exists(loc)) {
          val s = java.nio.file.Files.walk(loc)
          try s.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally s.close()
        }
        write
      }
      fresh(liTbl) {
        t(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(liTbl)
      }
      fresh(ordTbl) {
        t(spark, sfDir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(ordTbl)
      }
      true
    })
    (spark.table(liTbl), spark.table(ordTbl))
  }

  private def q15BucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (li, orders) = bucketedPair(spark, sfDir)
    li.hint("merge")
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n_lineitems"))
  }

  /** Left outer join + two-level aggregate: order-count histogram over
    * customers INCLUDING the zero-order ones the inner join would drop —
    * the join type the catalog otherwise lacks. count(o_orderkey) counts
    * matched rows only (nulls excluded), so childless customers land in
    * the 0 bucket.
    */
  private def q20OuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    val o = t(spark, sfDir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
  }

  // ------------------------------------------------------ order / windows

  /** O4/top-k: top 10 orders by total price with a unique tiebreaker. */
  private def q04TopK(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** A9 best-in-group via window: highest-balance customer per segment. */
  private def q05WindowBest(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(spark, sfDir, "customer")
      .withColumn("rank_in_segment", row_number().over(w))
      .filter(col("rank_in_segment") <= 3)
      .select(col("c_mktsegment"), col("rank_in_segment").cast("long").as("rank_in_segment"),
        col("c_custkey"), col("c_acctbal"))
  }

  /** Sequential window (lag-shaped, O5 positional semantics): per-user
    * event sequence numbers and a running count, ordered by the unique
    * event_id (timestamp-free ordering keeps ns-vs-µs truncation out of the
    * cross-engine compare).
    */
  private def q12EventSeq(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
    t(spark, sfDir, "events")
      .withColumn("seq", row_number().over(w))
      .filter(col("seq") <= 5)
      .select(col("user_id"), col("seq").cast("long").as("seq"),
        col("event_id"), col("event_type"))
  }

  /** Batch sessionization (gaps-and-islands): per-user events split into
    * sessions at >6 h silence, with per-session stats — the batch twin of
    * `stream_sessions`. Two stacked windows over ONE hash partitioning
    * (lag to flag session starts, running sum to number them), then the
    * session rollup reuses the same (user_id, …) keys — Spark plans a
    * single exchange on user_id for the whole query. Timestamps compare as
    * integer microseconds ([[Events.microsExpr]], adaptive on the file's
    * physical ts type, vs DuckDB `epoch_us`), so gap arithmetic is
    * cross-engine exact.
    */
  private def eventSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = 6L * 3600 * 1000000 // 6 h session gap (corpus median ~7 h)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val ev = t(spark, sfDir, "events")
    ev.select(col("event_id"), col("user_id"),
        Events.microsExpr(ev).as("ts_us"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("session_idx", sum(col("new_sess")).over(w))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
  }

  /** Z-order vs linear layout experiment over events (time × user): which
    * physical clustering lets footer min/max stats prune more of the 64
    * simulated files for a 2-D probe box? All integer arithmetic (the
    * quantize/interleave SQL is generated once and shared with the DuckDB
    * oracle, [[graft.operators.ZOrder]]); one aggregation shuffle, bounds
    * via broadcast cross join — no driver collect. At 100 TB the winning
    * key feeds `repartitionByRange` + write; this query prices that
    * rewrite before paying for it.
    */
  private def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    ZOrder.layoutStats(
      ev.select(Events.microsExpr(ev).as("x"), col("user_id").as("y")))
  }

  /** Three-layout pruning shootout (linear / z-order / Hilbert) over
    * the same events dims — [[graft.operators.Hilbert]]. The Hilbert
    * fold runs as a per-level column chain in Spark and the identical
    * generated SQL as chained CTEs in the oracle.
    */
  private def hilbertLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    Hilbert.layoutStats3(
      ev.select(Events.microsExpr(ev).as("x"), col("user_id").as("y")))
  }

  /** Semi-structured extraction: pull the integer `$.k` field out of the
    * JSON `props` column with codegen'd `get_json_object` (no UDF), then
    * aggregate per event type — the log-enrichment shape where 100 TB of
    * raw JSON reduces to a narrow typed projection before the (tiny)
    * shuffle. Oracle extracts the same path with DuckDB's json_extract.
    */
  private def eventProps(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` both linearly interpolate; rounding to 4
    * decimals absorbs last-ulp interpolation-order differences).
    */
  private def q14Percentiles(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))

  /** Point-in-time join: each event picks up the customer's latest order
    * at or before the event time — the feature-store as-of primitive,
    * verified against DuckDB's native ASOF JOIN.
    */
  private def q13AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = t(spark, sfDir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val ordersDedup = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    AsOfJoin
      .asof(events, ordersDedup,
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = Events.microsExpr(events),
        // o_orderdate is TIMESTAMP_NTZ; UTC session makes the cast an
        // identity on the wall-clock instant (matches DuckDB's naive cmp)
        rightTime = unix_micros(col("o_orderdate").cast("timestamp")),
        valueCols = Seq("last_orderkey" -> col("o_orderkey")))
      .select(col("event_id"), col("user_id"), col("last_orderkey"))
  }

  // ------------------------------------------------------------- catalog

  /** CDC estimate over the scale-factor directory's parquet files. The
    * chunker itself has no SQL equivalent, so the chunk relations (default
    * + xet params) are persisted as oracle side-tables and DuckDB verifies
    * the relational half — merge + totals + ratios (reference semantics:
    * src/store.rs:114-136).
    */
  private def cdcEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val paths = Seq(s"$sfDir/lineitem.parquet", s"$sfDir/orders.parquet")
    val chunks = oracleSide(spark, sfDir, "chunks_default",
      sfChunks(spark, sfDir).toDF()).as[ChunkRow]
    val (total, chunkBytes, compressedBytes) = Estimator.stats(chunks)
    // xet pass is consumed exactly once — chunk directly, don't cache
    val xet = oracleSide(spark, sfDir, "chunks_xet",
      ChunkRelation.chunkFiles(spark, paths, graft.cdc.ChunkerParams.Xet).toDF())
      .as[ChunkRow]
    val xetBytes = Estimator.uniqueBytes(xet)
    val r = EstimationResult("sf", "parquet", paths.size.toLong, total, chunkBytes,
      compressedBytes, if (total == 0) 0.0 else chunkBytes.toDouble / total,
      xetBytes, if (total == 0) 0.0 else xetBytes.toDouble / total)
    spark.createDataset(Seq(r)).toDF()
  }

  /** Incremental estimation — the chunk relation as a MAINTAINABLE STORE
    * (the 100 TB operational mode: nightly batches append their chunk
    * rows; merged stats re-derive from one hash-keyed groupBy over
    * store ∪ batch, and the already-chunked corpus is never re-read).
    * Store = the shared sf chunk relation (lineitem+orders); batch =
    * customer.parquet (new content) PLUS lineitem.parquet re-delivered —
    * the classic re-ingested file, which the merged roll-up dedups
    * against the store (merged ratio < 1) without touching store bytes.
    * One row per scope (store / batch / merged); the oracle replays all
    * three roll-ups from the two persisted side tables.
    */
  private def cdcEstimateIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val store = oracleSide(spark, sfDir, "chunks_default",
      sfChunks(spark, sfDir).toDF()).as[ChunkRow]
    val batch = oracleSide(spark, sfDir, "chunks_batch",
      ChunkRelation
        .chunkFiles(spark,
          Seq(s"$sfDir/customer.parquet", s"$sfDir/lineitem.parquet"))
        .map(c => c.copy(file_idx = c.file_idx + 1000L)).toDF()).as[ChunkRow]
    def row(scope: String, c: org.apache.spark.sql.Dataset[ChunkRow]) = {
      val (total, bytes, comp) = Estimator.stats(c)
      (scope, total, bytes, comp,
        if (total == 0) 0.0 else bytes.toDouble / total)
    }
    spark.createDataset(Seq(
      row("store", store), row("batch", batch),
      row("merged", store.unionByName(batch))))
      .toDF("scope", "total_len", "chunk_bytes", "compressed_chunk_bytes",
        "dedup_ratio")
  }

  /** G1-G7 + A5 end-to-end: synthetic variants written under two parquet
    * formats, single-job grid estimate (rows-only; the RNG has no SQL
    * equivalent).
    */
  private def syntheticGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.synthetic.{DType, DataGenerator, EditPoints}
    import graft.sources.TableFormat
    val gen = new DataGenerator(
      DType.parseSchema("""{"a": "int", "b": "str", "c": ["int"]}"""), 42L)
    val tables = gen.generateSyntheticTables(spark, 20000L, EditPoints.linspace(2), 100,
      assertCounts = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-grid")
    cleanupOnExit(dir)
    val grouped = Seq("deleted", "inserted", "appended", "updated").map { v =>
      v -> Map("original" -> tables("original"), v -> tables(v))
    }.toMap
    val results = CompareFormats.compareTables(
      spark, grouped,
      Seq(TableFormat.ParquetFormat("none"), TableFormat.ParquetFormat("snappy")), dir,
      sanityCheck = false,
      sideSink = Some((name, df) => oracleSide(spark, sfDir, name, df)))
    spark.createDataset(results).toDF()
  }

  /** Format-grid comparison over REAL table data (documents) including the
    * ORC sink: the same row set written as parquet / ORC / jsonlines, with
    * an overlapping table pair per group ("all" vs the even half), so the
    * grid shows how each format's framing preserves cross-file dedup of
    * shared content. Same estimator machinery and oracle shape as
    * synthetic_grid, on fmt_-prefixed side tables.
    */
  private def formatCompare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.TableFormat
    val docs = t(spark, sfDir, "documents")
    val tables = Map("docs" -> Map(
      "all" -> docs,
      "even" -> docs.filter(col("doc_id") % 2 === 0)))
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt")
    cleanupOnExit(dir)
    val results = CompareFormats.compareTables(
      spark, tables,
      // sqlite exercises the S7 sink inside an ORACLED query: the grid
      // roll-up re-derives every format's numbers from the persisted chunk
      // side tables, so the row is format-agnostic and stays cell-exact.
      // The sqlite leg inherits the reference sink's single-node
      // materialization (pandas to_sql collects the table there too) —
      // format_compare is a diagnostic over bounded corpora, and the
      // writer's loud maxRows cap turns a mis-scaled run into an error,
      // not a silent driver OOM
      Seq(TableFormat.ParquetFormat("none"), TableFormat.OrcFormat("none"),
        TableFormat.JsonLinesFormat(None), TableFormat.SqliteFormat()),
      dir, sanityCheck = false,
      sideSink = Some((name, df) => oracleSide(spark, sfDir, s"fmt_$name", df)))
    spark.createDataset(results).toDF()
  }

  /** Logical-CDC writer mode (SURVEY §7.1(b)): the reference's CDC-aware
    * parquet writer aligns page boundaries with content-defined chunks; we
    * reproduce its EFFECT at read time by chunking the uncompressed
    * column-chunk page streams (LogicalCdc) and comparing against chunking
    * the physical file bytes. Direction mirrors the reference's
    * inserted-rows study (notebooks/parquet-cdc.md §5, 95% → 53%):
    * snappy-compressed page framing destroys physical-byte dedup after a
    * row insert, while the logical value stream re-synchronizes.
    */
  /** Parquet BLOOM-FILTER point-lookup pruning ([[graft.sources
    * .BloomProfiler]]): documents re-written in md5(doc_id) order — i.e.
    * DELIBERATELY de-clustered on the probe column — into small row
    * groups with a split-block bloom on doc_id, then 12 present + 12
    * absent keys probed against every row group's bloom AND its min/max
    * range. On unclustered data min/max admits every key in every row
    * group (n_mm_maybe = n_rowgroups — zero pruning) while the bloom
    * answers "definitely not" for absent keys almost everywhere — the
    * point-lookup dual of the z-order/minmax range story, measured on
    * REAL footer structures parquet-java wrote. The bloom bits
    * themselves are engine-read (no SQL engine evaluates parquet
    * blooms — the doc_compress/LZ4 side-table discipline); what the
    * oracle verifies independently is the INVARIANT: each present key's
    * true row group — re-derived in SQL from the md5 write order and
    * the persisted row spans, never from the bloom — must be admitted
    * (`bloom_hits_true`, the no-false-negatives contract), plus every
    * aggregation over the persisted cells. The row-index derivation is
    * a metadata-scale window (|docs| rows at catalog SF; the 100 TB
    * form is doc_shuffle's distributed prefix-sum).
    */
  private def bloomPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // SPARSE probe domain: pk = doc_id*7 leaves in-range gaps, so the
    // absent probes (pk+3, never a multiple of 7) sit INSIDE every row
    // group's [min, max] — min/max pruning gets a fair, losing fight
    // instead of a trivially-out-of-range win
    val d = t(spark, sfDir, "documents")
      .select((col("doc_id") * 7L).as("pk"), col("text"))
    // verify mode lands the data file under the oracle root so DuckDB's
    // parquet_metadata() reads THE SAME footers — row spans and min/max
    // re-derive from the file itself, independent of the engine's walk;
    // timed runs write to tmp (side tables off, no oracle will look)
    val dataDir =
      if (sideTablesEnabled)
        s"$oracleRoot/${new java.io.File(sfDir).getName}/bloom_data"
      else {
        val tmp = java.nio.file.Files.createTempDirectory("graft-bloom")
        cleanupOnExit(tmp)
        s"$tmp/data"
      }
    d.repartition(1)
      .sortWithinPartitions(md5(col("pk").cast("string")))
      .write
      .option("parquet.bloom.filter.enabled#pk", "true")
      .option("parquet.bloom.filter.expected.ndv#pk", "10000")
      .option("parquet.block.size", (8 * 1024).toString)
      .option("parquet.page.size", (4 * 1024).toString)
      // tighter row-count check cadence so the small block size actually
      // yields multiple row groups at catalog SF
      .option("parquet.block.size.row.check.min", "10")
      .option("parquet.block.size.row.check.max", "50")
      .mode("overwrite")
      .parquet(dataDir)
    val parts = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dataDir))
      try s.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-"))
      finally s.close()
    }
    require(parts.length == 1, s"expected one part file, got ${parts.toSeq}")
    val present = d.select(col("pk")).filter(col("pk") % 217 === 0)
      .orderBy(col("pk")).limit(12).as[Long].collect().toSeq
    val absent = present.map(_ + 3L)
    val (cells0, spans0) =
      graft.sources.BloomProfiler.probe(spark, parts.head, "pk",
        present ++ absent)
    val cells = oracleSide(spark, sfDir, "bloom_cells", cells0)
    // spans deliberately NOT side-tabled: the oracle re-derives them (and
    // the min/max bounds) from parquet_metadata() over bloom_data itself
    val spans = spans0
    val truth = d.select(col("pk"))
      .withColumn("ridx",
        row_number().over(Window.orderBy(md5(col("pk").cast("string")))) - 1)
      .join(spans, col("ridx") >= col("first_row") &&
        col("ridx") < col("first_row") + col("num_rows"))
      .select(col("pk").as("key"), col("rg").as("true_rg"))
    val nRg = spans.agg(count(lit(1)).as("n_rowgroups"))
    val perKey = cells
      .join(truth, Seq("key"), "left")
      .groupBy(col("key"))
      .agg(
        sum(col("bloom_maybe").cast("long")).as("n_bloom_maybe"),
        sum(col("mm_maybe").cast("long")).as("n_mm_maybe"),
        coalesce(max(when(col("rg") === col("true_rg"),
          col("bloom_maybe").cast("int"))) === 1, lit(true))
          .as("bloom_hits_true"),
        coalesce(max(when(col("rg") === col("true_rg"),
          col("mm_maybe").cast("int"))) === 1, lit(true))
          .as("mm_hits_true"),
        coalesce(max(col("true_rg")), lit(-1L)).cast("long").as("true_rg"))
    perKey
      .join(d.select(col("pk").as("key")).distinct()
        .withColumn("present", lit(true)), Seq("key"), "left")
      .crossJoin(broadcast(nRg))
      .select(col("key"), coalesce(col("present"), lit(false)).as("is_present"),
        col("true_rg"), col("n_rowgroups"), col("n_bloom_maybe"),
        col("n_mm_maybe"), col("bloom_hits_true"), col("mm_hits_true"))
  }

  private def cdcLogical(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.synthetic.{DType, DataGenerator, EditPoints}
    import graft.sources.{LogicalCdc, TableFormat}
    val gen = new DataGenerator(
      DType.parseSchema("""{"a": "int", "b": "str", "c": ["int"]}"""), 7L)
    val tables = gen.generateSyntheticTables(spark, 20000L, EditPoints.linspace(4),
      200, assertCounts = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-logical")
    cleanupOnExit(dir)
    // PLAIN encoding (no dictionary): a mid-file insert must not renumber
    // dictionary ids for later-first-seen values, or the logical stream
    // diverges after the edit for reasons unrelated to the edit itself
    val fmt = TableFormat.ParquetFormat("gzip", useDictionary = false)
    // the two single-task gzip writes are independent Spark jobs —
    // submitted concurrently via the shared write discipline; results
    // keep input order, which file_idx depends on
    val files = CompareFormats.concurrentWrites(
      Seq("original", "inserted")
        .map(v => () => fmt.write(tables(v), dir, "cdc", v))).flatten
    val params = graft.cdc.ChunkerParams(
      mask = -1L << (64 - 9), minLen = 64, maxLen = 16 * 1024)
    val physical = oracleSide(spark, sfDir, "logical_phys_chunks",
      ChunkRelation.chunkFiles(spark, files, params).toDF())
    val logical = oracleSide(spark, sfDir, "logical_page_chunks",
      LogicalCdc.chunkColumns(spark, files, params).toDF())
    def rollup(df: DataFrame, mode: String): DataFrame =
      df.groupBy(col("hash"))
        .agg(first(col("size")).as("size"), sum(col("size")).as("occ_bytes"))
        .agg(coalesce(sum(col("occ_bytes")), lit(0L)).as("total_len"),
          coalesce(sum(col("size")), lit(0L)).as("chunk_bytes"))
        .withColumn("mode", lit(mode))
        .withColumn("dedup_ratio",
          col("chunk_bytes").cast("double") / col("total_len").cast("double"))
        .select(col("mode"), col("total_len"), col("chunk_bytes"), col("dedup_ratio"))
    rollup(physical, "physical").unionByName(rollup(logical, "logical"))
  }

  /** S9+A8: parquet page-size profile of the sf directory's lineitem.
    * DuckDB has no page-level metadata function, so the per-page relation
    * persists as a side table and the oracle recomputes the histogram
    * binning (the relational half) from the same page rows.
    */
  private def pageProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = oracleSide(spark, sfDir, "page_stats",
      graft.sources.PageProfiler.pageStats(
        spark, Seq(s"$sfDir/lineitem.parquet", s"$sfDir/orders.parquet")))
    graft.sources.PageProfiler.pageSizeHistogram(stats)
  }

  /** S9 footer profile with a DuckDB parquet_metadata() oracle: per
    * (row_group, column) value counts and chunk sizes of the sf lineitem.
    * NOTE: the oracle SQL must name a concrete file — it targets the
    * driver's sf0.01 verification directory.
    */
  private def rowgroupProfile(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.PageProfiler.rowGroupStats(spark, Seq(s"$sfDir/lineitem.parquet"))

  /** Approximate-distinct estimate vs exact, one row (shuffle-free HLL
    * path vs the exact groupBy path).
    */
  private def cdcEstimateApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // same cached relation as cdc_estimate — share its side table rather
    // than persisting a second byte-identical copy
    val chunks = oracleSide(spark, sfDir, "chunks_default",
      sfChunks(spark, sfDir).toDF()).as[ChunkRow]
    val (total, exactUnique, _) = Estimator.stats(chunks)
    // one fused aggregate: HLL + KMV + totals share a single pass
    val row = chunks
      .agg(
        coalesce(sum(col("size")), lit(0L)).as("t"),
        approx_count_distinct(col("hash"), 0.01).as("hll"),
        graft.functions.KmvSketch.kmv_distinct(col("hash")).as("kmv"),
        count(lit(1)).as("occ"))
      .head()
    val hll = row.getLong(1)
    val kmv = row.getLong(2)
    val occ = row.getLong(3)
    val approxBytes = if (occ == 0) 0.0 else hll * (total.toDouble / occ)
    Seq((total, exactUnique, hll, kmv, approxBytes,
      if (total == 0) 0.0 else approxBytes / total))
      .toDF("total_len", "chunk_bytes", "hll_unique_chunks", "kmv_unique_chunks",
        "approx_chunk_bytes", "approx_dedup_ratio")
  }

  /** Streaming: watermarked tumbling-window aggregation over events run as
    * a real Structured Streaming query into a memory sink; output keyed by
    * epoch-second window start for cross-engine comparability.
    */
  private def streamWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"evt_win_${dirTag(sfDir)}"
    val result = graft.streaming.EventStream.runWindowedOnce(
      spark, s"$sfDir/events.parquet", name)
    result
      .withColumn("window_start_epoch", unix_timestamp(col("window_start")))
      .select(col("window_start_epoch"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Streaming distribution profile: per-hour value percentiles computed
    * by the mergeable quantile sketch INSIDE the streaming aggregation
    * ([[graft.streaming.EventStream.windowedQuantiles]]) — capacity-
    * bounded state per window instead of a sort, the shape a percentile
    * monitor needs on an unbounded stream. Exact in the catalog
    * capacity window (max 175 rows/hour at sf0.1 vs capacity 4096), so
    * the oracle is DuckDB `quantile_disc` per hour bucket.
    */
  private def streamProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"evt_prof_${dirTag(sfDir)}"
    val result = graft.streaming.EventStream.runQuantilesOnce(
      spark, s"$sfDir/events.parquet", name)
    result
      .withColumn("window_start_epoch", unix_timestamp(col("window_start")))
      .select(col("window_start_epoch"), col("n"),
        col("q0").as("p25"), col("q1").as("p50"), col("q2").as("p90"))
  }

  /** Dataset-version drift audit ([[graft.operators.SnapshotDiff]]):
    * classify every doc_id of two snapshots as added / removed /
    * changed / unchanged. The "new" snapshot is a deterministic,
    * SQL-expressible revision of documents — doc_id % 11 == 0 dropped,
    * text of doc_id % 7 == 0 gains a ' [rev2]' suffix, doc_id % 13 == 0
    * cloned under doc_id + 10,000,000 — so the oracle rebuilds the same
    * snapshot and classifies by direct text equality while the engine
    * classifies by md5 digest (the 100 TB shape: only (key, digest)
    * ever shuffles, never the payload).
    */
  private def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val oldSnap = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.operators.SnapshotDiff.diff(
      oldSnap, revisedSnapshot(oldSnap), "doc_id", Seq("text"))
  }

  /** Deterministic changelog for the merge_apply query — every change
    * rule is a filter/project of documents so the oracle rebuilds it in
    * SQL, and each rule carries a DISTINCT seq so last-writer-wins is
    * never tie-ambiguous: seq1 revises %7, seq2 deletes %11, seq3
    * re-revises %21 (shadowing seq1), seq4 reinserts %33 (shadowing the
    * seq2 delete — the delete-then-reinsert path), plus %13 clones
    * inserted under doc_id + 20,000,000 (the WHEN NOT MATCHED path).
    */
  private[graft] def mergeChangelog(docs: DataFrame): DataFrame = {
    def rule(modulo: Long, seq: Long, op: String, text: Column,
        key: Column, source: Column): DataFrame =
      docs.filter(col("doc_id") % modulo === 0)
        .select(key.as("doc_id"), lit(seq).as("seq"), lit(op).as("op"),
          text.as("text"), source.as("source"))
    val nullS = lit(null).cast("string")
    // the clone-insert offset assumes max(doc_id) < 20M; a larger corpus
    // (e.g. a heavily-replicated ScaleRun build) would collide synthesized
    // insert keys with real doc_ids, making the (key, seq=1) pair ambiguous
    // between engines — fail loudly in-flow instead of diverging silently
    val insertKey = when(col("doc_id") < 20000000L, col("doc_id") + 20000000L)
      .otherwise(raise_error(concat(
        lit("mergeChangelog: doc_id "), col("doc_id"),
        lit(" >= 20000000 collides with synthesized insert keys"))).cast("long"))
    rule(7L, 1L, "U", concat(col("text"), lit(" [u1]")), col("doc_id"), col("source"))
      .unionByName(rule(11L, 2L, "D", nullS, col("doc_id"), nullS))
      .unionByName(rule(21L, 3L, "U", concat(col("text"), lit(" [u2]")), col("doc_id"), col("source")))
      .unionByName(rule(33L, 4L, "U", concat(lit("resurrected "), col("text")), col("doc_id"), col("source")))
      .unionByName(rule(13L, 1L, "U", concat(lit("ins of "), col("text")), insertKey, col("source")))
  }

  /** Lakehouse MERGE ([[graft.operators.MergeApply]]): fold a changelog
    * of keyed upserts/deletes into the documents snapshot with
    * last-writer-wins versioning — the apply-side dual of
    * snapshot_diff's audit. The delta pays the only exchange (collapsed
    * to its max-seq row per key); the snapshot meets it in a full-outer
    * join AQE can broadcast, so at 100 TB the corpus scan stays narrow.
    * The oracle replays the changelog and the last-writer fold as a
    * ROW_NUMBER window over the rebuilt delta.
    */
  private def mergeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    graft.operators.MergeApply.merge(
      docs, mergeChangelog(docs), "doc_id", Seq("text", "source"))
  }

  /** Dry-run accounting of the same merge
    * ([[graft.operators.MergeApply.mergeStats]]): one row of
    * updated / inserted / deleted / unchanged key counts — what a
    * pipeline inspects before committing the fold. Snapshot contributes
    * only doc_id (payload never read; column pruning to the scan).
    */
  private def mergeStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    graft.operators.MergeApply.mergeStats(docs, mergeChangelog(docs), "doc_id")
  }

  /** Schema-evolving MERGE ([[graft.operators.MergeApply.mergeEvolve]]):
    * the same changelog now carries a `rev` column the snapshot lacks
    * (rev = seq·100 + key%7 — deterministic and SQL-replayable on the
    * FINAL key, so insert keys compute it identically both sides). The
    * snapshot is null-widened and the standard delta-broadcast merge
    * applies: untouched rows get NULL rev, touched rows the winning
    * change's rev — the "changelog adds a column mid-stream" lakehouse
    * path.
    */
  private def mergeApplyEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val changes = mergeChangelog(docs)
      .withColumn("rev", col("seq") * 100L + col("doc_id") % 7L)
    graft.operators.MergeApply.mergeEvolve(
      docs, changes, "doc_id", Seq("text", "source"), Seq("rev"))
  }

  /** Streaming twin of merge_apply ([[graft.streaming.StreamMerge]]):
    * the changelog derives from the documents STREAM in-flight (the
    * StreamDrift revise contract) and folds through a merge-key-keyed
    * state store emitting only seq-improving upserts; the finish runs
    * the batch MergeApply over the emitted events. Shares merge_apply's
    * oracle — the state-store fold must land on the batch answer
    * exactly.
    */
  private def streamMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"doc_merge_${dirTag(sfDir)}"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    graft.streaming.StreamMerge.runMergeOnce(
      spark, s"$sfDir/documents.parquet", name,
      s => mergeChangelog(s.select(col("doc_id"), col("text"), col("source"))),
      docs, "doc_id", Seq("text", "source"))
  }

  /** Join-key skew profile ([[graft.operators.KeySkew]]): the top-20
    * hottest events.user_id values with corpus totals, per-key skew
    * ratio and the salt-bucket count that would level each back to mean
    * load — the measurement that decides whether q19's salted join (or
    * AQE skew handling) is worth its dim replication. One
    * map-side-combined count shuffle; totals broadcast back; top-k via
    * TakeOrderedAndProject. Ratios are single correctly-rounded double
    * divisions of exact integers — bit-stable across engines.
    */
  private def keySkew(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.KeySkew.profile(
      spark.read.parquet(s"$sfDir/events.parquet"), col("user_id"), k = 20)

  /** Exact join-size forecast ([[graft.operators.KeySkew.joinSizeProfile]])
    * for the events×events self-join on user_id — the stream_join /
    * attribution shape, where per-key row products make output size
    * quadratic in the hot keys. |A ⋈ B| = Σ cntA(k)·cntB(k) from the two
    * count relations; corpus rows never join, only |keys|-sized counts.
    */
  private def joinSizeProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    graft.operators.KeySkew.joinSizeProfile(
      ev, col("user_id"), ev, col("user_id"))
  }

  /** Shared oracle for dist_drift AND stream_drift: the byte-length
    * histogram drift between documents and the revised snapshot, in
    * DuckDB (octet_length needs a BLOB — encode() first; `//` int-div
    * matches Spark's floor-div for the non-negative lengths here).
    */
  private val DriftSql: String =
    """WITH newsnap AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, 'clone of ' || text AS text
      |  FROM documents WHERE doc_id % 13 = 0),
      |o AS (SELECT LEAST(31, octet_length(encode(text)) // 20) AS bucket,
      |        COUNT(*) AS old_n FROM documents GROUP BY 1),
      |n AS (SELECT LEAST(31, octet_length(encode(text)) // 20) AS bucket,
      |        COUNT(*) AS new_n FROM newsnap GROUP BY 1),
      |j AS (SELECT COALESCE(o.bucket, n.bucket) AS bucket,
      |        COALESCE(old_n, 0) AS old_n, COALESCE(new_n, 0) AS new_n
      |      FROM o FULL JOIN n ON o.bucket = n.bucket),
      |t AS (SELECT CAST(SUM(old_n) AS BIGINT) AS ot,
      |        CAST(SUM(new_n) AS BIGINT) AS nt FROM j)
      |SELECT CAST(bucket AS BIGINT) AS bucket, old_n, new_n,
      |  old_n / ot AS old_frac, new_n / nt AS new_frac,
      |  ABS(old_n / ot - new_n / nt) AS abs_drift,
      |  CAST(FLOOR(ABS(old_n / ot - new_n / nt) * 1000000000 + 0.5) AS BIGINT)
      |    AS drift_scaled
      |FROM j, t""".stripMargin

  /** The merge_apply / merge_stats changelog rebuilt in SQL — rule for
    * rule the same filters/projections as [[mergeChangelog]], with the
    * same per-rule seqs, so the oracle's last-writer fold sees the
    * identical delta.
    */
  private val MergeChangelogSql: String =
    """SELECT doc_id, CAST(1 AS BIGINT) AS seq, 'U' AS op,
      |    text || ' [u1]' AS text, source FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id, 2, 'D', NULL, NULL
      |    FROM documents WHERE doc_id % 11 = 0
      |  UNION ALL SELECT doc_id, 3, 'U', text || ' [u2]', source
      |    FROM documents WHERE doc_id % 21 = 0
      |  UNION ALL SELECT doc_id, 4, 'U', 'resurrected ' || text, source
      |    FROM documents WHERE doc_id % 33 = 0
      |  UNION ALL SELECT doc_id + 20000000, 1, 'U', 'ins of ' || text, source
      |    FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** Shared CTE chain deriving each blob's 64-bit dHash from the image
    * fixtures' ARITHMETIC pixel truth — no codec anywhere: integer
    * nearest-neighbor downsample indices, integer luma, bit packing via
    * a HUGEINT two's-complement wrap. `jitter` adds the near-dup
    * fixture's corner-pixel-white term ([[graft.operators.Multimodal
    * .jitteredImageFixture]]); without it the chain matches
    * [[graft.operators.Multimodal.reencodedImageFixture]]. Ends with
    * `ph(blob_id, phash)`.
    */
  private def phashTruthCtes(jitter: Boolean): String = {
    val vExpr =
      if (jitter)
        """CASE WHEN blob_id % 4 = 3 AND (cx.g * w) // 9 = 0
          |        AND (cy.g * h) // 8 = 0 THEN 16777215
          |      ELSE (seed * 1000003 + ((cx.g * w) // 9) * 31
          |        + ((cy.g * h) // 8) * 131) & 16777215 END AS v""".stripMargin
      else
        """(seed * 1000003 + ((cx.g * w) // 9) * 31
          |        + ((cy.g * h) // 8) * 131) & 16777215 AS v""".stripMargin
    s"""dims AS (
      |  SELECT doc_id AS blob_id, doc_id // 4 AS seed,
      |    4 + (doc_id // 4) % 29 AS w, 4 + ((doc_id // 4) * 7) % 23 AS h
      |  FROM documents),
      |lum AS (
      |  SELECT blob_id, cyg AS cy, cxg AS cx,
      |    (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
      |      + 114 * (v & 255)) // 1000 AS luma
      |  FROM (
      |    SELECT blob_id, cy.g AS cyg, cx.g AS cxg,
      |      $vExpr
      |    FROM dims, generate_series(0, 7) cy(g), generate_series(0, 8) cx(g))),
      |hv AS (
      |  SELECT a.blob_id,
      |    SUM(CASE WHEN b.luma > a.luma
      |      THEN CAST(1 AS HUGEINT) << (a.cy * 8 + a.cx)
      |      ELSE CAST(0 AS HUGEINT) END) AS hh
      |  FROM lum a JOIN lum b
      |    ON a.blob_id = b.blob_id AND a.cy = b.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8 GROUP BY 1),
      |ph AS (
      |  SELECT blob_id,
      |    CAST(CASE WHEN hh >= CAST(9223372036854775808 AS HUGEINT)
      |      THEN hh - CAST(18446744073709551616 AS HUGEINT) ELSE hh END
      |      AS BIGINT) AS phash
      |  FROM hv)""".stripMargin
  }

  /** Shared CTE chain deriving each video blob's 4 keyframe dHash sigs
    * from the Y4M fixture's ARITHMETIC luma truth ([[graft.operators
    * .Multimodal.videoLuma]] — per-(group, frame) gradient steps +
    * quadratic terms), with no parser anywhere: integer keyframe
    * indices (slot k → frame k·nf/4), integer nearest-neighbor
    * downsample, dHash bit packing via the HUGEINT two's-complement
    * wrap. Ends with `vf(vid, sig)` where vid = blob_id·4 + slot.
    */
  private def videoTruthCtes: String =
    """dims AS (
      |  SELECT doc_id AS blob_id, doc_id // 2 AS g,
      |    12 + (doc_id // 2) % 21 AS w, 10 + ((doc_id // 2) * 7) % 15 AS h,
      |    8 + ((doc_id // 2) * 3) % 9 AS nf
      |  FROM documents),
      |fr AS (
      |  SELECT blob_id, dims.g AS g, w, h, s.g AS slot,
      |    (s.g * nf) // 4 AS fidx
      |  FROM dims, generate_series(0, 3) s(g)),
      |lum AS (
      |  SELECT blob_id, slot, cyg AS cy, cxg AS cx,
      |    CASE WHEN blob_id % 2 = 1 AND fidx = 0
      |           AND (cxg * w) // 9 = 0 AND (cyg * h) // 8 = 0 THEN 255
      |         ELSE (g * 1000003 + fidx * 8191
      |           + ((cxg * w) // 9) * (31 + 2 * ((g * 5 + fidx * 3) % 13))
      |           + ((cyg * h) // 8) * (131 + 2 * ((g * 7 + fidx) % 11))
      |           + ((cxg * w) // 9) * ((cxg * w) // 9) * ((g + fidx) % 7)
      |           + ((cyg * h) // 8) * ((cyg * h) // 8) * ((g * 3 + fidx) % 5))
      |           & 255 END AS luma
      |  FROM (
      |    SELECT blob_id, fr.g AS g, w, h, fidx, slot,
      |      cy.g AS cyg, cx.g AS cxg
      |    FROM fr, generate_series(0, 7) cy(g), generate_series(0, 8) cx(g))),
      |hv AS (
      |  SELECT a.blob_id, a.slot,
      |    SUM(CASE WHEN b.luma > a.luma
      |      THEN CAST(1 AS HUGEINT) << (a.cy * 8 + a.cx)
      |      ELSE CAST(0 AS HUGEINT) END) AS hh
      |  FROM lum a JOIN lum b
      |    ON a.blob_id = b.blob_id AND a.slot = b.slot
      |      AND a.cy = b.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8 GROUP BY 1, 2),
      |vf AS (
      |  SELECT blob_id * 4 + slot AS vid,
      |    CAST(CASE WHEN hh >= CAST(9223372036854775808 AS HUGEINT)
      |      THEN hh - CAST(18446744073709551616 AS HUGEINT) ELSE hh END
      |      AS BIGINT) AS sig
      |  FROM hv)""".stripMargin

  /** Shared oracle for merge_apply AND stream_merge: rebuild the
    * changelog, collapse it to its last writer per key, and fold into
    * documents — the streaming state-store fold must land on this batch
    * answer exactly.
    */
  private def MergeApplySql: String =
    s"""WITH ch AS ($MergeChangelogSql),
      |latest AS (
      |  SELECT doc_id, op, text, source FROM (
      |    SELECT ch.*, ROW_NUMBER() OVER (
      |      PARTITION BY doc_id ORDER BY seq DESC) AS rn FROM ch)
      |  WHERE rn = 1)
      |SELECT COALESCE(s.doc_id, l.doc_id) AS doc_id,
      |  CASE WHEN l.doc_id IS NULL THEN s.text ELSE l.text END AS text,
      |  CASE WHEN l.doc_id IS NULL THEN s.source ELSE l.source END AS source
      |FROM documents s FULL JOIN latest l ON s.doc_id = l.doc_id
      |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin

  /** The deterministic "next corpus cut" shared by snapshot_diff,
    * dist_drift, and stream_drift (kept SQL-expressible so all three
    * oracles rebuild it): doc_id % 11 == 0 dropped, doc_id % 7 == 0
    * revised, doc_id % 13 == 0 cloned under doc_id + 10,000,000.
    * Pure filter/project/union — stream-safe, so stream_drift applies
    * it to the live stream unchanged.
    */
  private def revisedSnapshot(oldSnap: DataFrame): DataFrame = {
    // withColumn, not select: any extra columns (source, lang) ride along
    // unchanged, so grouped consumers can revise a wider projection
    val revised = oldSnap.filter(col("doc_id") % 11 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    val cloned = oldSnap.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("text", concat(lit("clone of "), col("text")))
    revised.unionByName(cloned)
  }

  /** Distribution-shift monitor ([[graft.operators.DriftStats]]): the
    * per-bucket total-variation drift of the document BYTE-length
    * histogram between the current corpus and the same revised snapshot
    * snapshot_diff audits — byte lengths (octet_length) because
    * character-count semantics differ across engines for non-BMP text,
    * while UTF-8 byte counts are engine-free. Pure-arithmetic drift
    * terms (no ln): cross-engine bit-exact, hash-oracled.
    */
  private def distDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.operators.DriftStats.histogramDrift(
      docs, octet_length(col("text")),
      revisedSnapshot(docs), octet_length(col("text")),
      bucketWidth = 20L, nBuckets = 32)
  }

  /** Per-source segmentation of dist_drift
    * ([[graft.operators.DriftStats.groupedHistogramDrift]]): the same
    * byte-length TV drift, within each source — how a monitor localizes
    * which source moved when the corpus-wide histogram averages the
    * shift away. Fractions are within-source; corpus rows never shuffle
    * (counts aggregate map-side on (source, bucket)).
    */
  private def driftBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    graft.operators.DriftStats.groupedHistogramDrift(
      docs, octet_length(col("text")),
      revisedSnapshot(docs), octet_length(col("text")),
      "source", bucketWidth = 20L, nBuckets = 32)
  }

  /** Streaming twin of dist_drift ([[graft.streaming.StreamDrift]]): the
    * SAME drift relation, but the new-side histogram accumulates through
    * the Structured Streaming state store (complete-mode count per
    * bucket) while the revised snapshot arrives as a stream; the
    * reference profile is batch. Same oracle SQL as dist_drift — the
    * state-store accumulation must converge to the batch aggregation
    * exactly.
    */
  private def streamDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"doc_drift_${dirTag(sfDir)}"
    val reference = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.streaming.StreamDrift.runDriftOnce(
      spark, s"$sfDir/documents.parquet", name,
      reference, octet_length(col("text")), octet_length(col("text")),
      bucketWidth = 20L, nBuckets = 32,
      revise = revisedSnapshot)
  }

  /** Streaming exact dedup through the state store (dropDuplicates over a
    * file-source stream, append-mode): each (user_id, event_type) key is
    * emitted exactly once at first occurrence, so the result is the
    * distinct key set regardless of batch split — which is precisely
    * SELECT DISTINCT to a batch engine.
    */
  private def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"evt_dedup_${dirTag(sfDir)}"
    graft.streaming.EventStream.runDedupOnce(spark, s"$sfDir/events.parquet", name)
  }

  /** Stream-stream watermarked join (EventStream.attributionJoin) run as a
    * real streaming query; the two-sided time-range bound is what keeps
    * the join state finite. Oracle = the plain batch self-join.
    */
  private def streamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"evt_join_${dirTag(sfDir)}"
    graft.streaming.EventStream.runAttributionOnce(
      spark, s"$sfDir/events.parquet", name)
  }

  /** Streaming MinHash near-dup over documents: LSH band state in
    * flatMapGroupsWithState, the dedup family's banding in stream form.
    * The engine-computed band relation persists as the oracle side table
    * (batch twin, same banding functions); with side tables off (bench)
    * that frame is never consumed, so only the stream runs.
    */
  private def streamNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE parameter set for the batch-twin side table and the stream:
    // the oracle joins the persisted band relation, so a drift between
    // the two banding configs would silently break cell-exact parity
    val (shingleK, numHashes, bands) = (3, 64, 16)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    oracleSide(spark, sfDir, "stream_bands",
      graft.streaming.StreamNearDup.bandRelation(
        docs, "doc_id", "text", shingleK, numHashes, bands))
    val name = s"doc_neardup_${dirTag(sfDir)}"
    graft.streaming.StreamNearDup.runNearDupOnce(
      spark, s"$sfDir/documents.parquet", name, shingleK, numHashes, bands)
  }

  /** Streaming video keyframe near-dup monitor
    * ([[graft.streaming.StreamNearDup.bandMatchesFromRows]] over
    * [[graft.operators.Dedupe.hammingBandRows]]): blobs decode and
    * fingerprint IN the stream (real Y4M parse per micro-batch), each
    * keyframe sig splits into the 4×16-bit pigeonhole bands, and the
    * shared min-id bucket state machine emits a match when a bucket
    * already holds a lower vid — the candidate-recall stage of
    * mm_video_fp as a continuous monitor (the stream_neardup contract,
    * one fingerprint family over). State: one long per occupied
    * (band, bucket). The oracle replays bands from the arithmetic truth
    * chain: match_id = min lower vid sharing any block bucket.
    */
  private def streamVideoFp(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"video_fp_${dirTag(sfDir)}"
    val matches = graft.streaming.StreamNearDup.runBandMatchesOnce(
      spark, s"$sfDir/documents.parquet", name,
      s => Dedupe.hammingBandRows(
        Multimodal.videoFpRelation(
          Multimodal.videoBlobs(s.select(col("doc_id")), "doc_id"),
          "blob_id", "content")))
    val best = matches.groupBy(col("id").as("vid"))
      .agg(min(col("match_id")).as("match_id"))
    // every (blob, slot) vid, derived arithmetically — no second decode
    val allVids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
      .select(explode(sequence(lit(0L), lit(3L))).as("slot"), col("doc_id"))
      .select((col("doc_id") * 4 + col("slot")).as("vid"))
    allVids.join(best, Seq("vid"), "left")
      .select(col("vid"), col("match_id"),
        col("match_id").isNotNull.as("is_neardup"))
  }

  /** Streaming CDC dedup estimate ([[graft.streaming.StreamCdc]]): the
    * flagship estimator run continuously over the documents stream, with
    * the per-hash merge as the one stateful operator. The oracle reads the
    * batch-twin chunk relation (same codegen chunker expression, same
    * doc-payload params — chunking is deterministic per payload, so the
    * stream and the batch scan produce the identical relation) persisted
    * as the `doc_chunks` side table shared with `doc_cdc`.
    */
  private def streamCdc(spark: SparkSession, sfDir: String): DataFrame = {
    // guarded: the stream chunks for itself, so timed runs must not even
    // construct the batch-twin relation (sharedDocChunks materializes
    // eagerly); only verification runs persist it for the oracle
    if (sideTablesEnabled)
      oracleSide(spark, sfDir, "doc_chunks",
        TextQueries.sharedDocChunks(spark, sfDir)
          .select(col("source"), col("hash"), col("size")))
    graft.streaming.StreamCdc.runEstimateOnce(
      spark, s"$sfDir/documents.parquet", s"doc_cdc_est_${dirTag(sfDir)}")
  }

  /** Bounded-state twin of [[streamCdc]]: the KMV-sketch estimate whose
    * streaming state is k longs + two counters regardless of corpus size —
    * the configuration an unbounded 100 TB ingest monitor actually runs.
    * The oracle mirrors the KMV order-statistics estimator (kth minimum in
    * unsigned order → k/v̂ − 1) operation-for-operation in SQL over the
    * same `doc_chunks` side table, double rounding included — the reason
    * this sketch (and not HLL, whose register estimate is Spark-internal)
    * backs the approximate monitor.
    */
  private def streamCdcApprox(spark: SparkSession, sfDir: String): DataFrame = {
    // same guard (and write-once dedup vs doc_cdc/stream_cdc) as streamCdc
    if (sideTablesEnabled)
      oracleSide(spark, sfDir, "doc_chunks",
        TextQueries.sharedDocChunks(spark, sfDir)
          .select(col("source"), col("hash"), col("size")))
    graft.streaming.StreamCdc.runApproxEstimateOnce(
      spark, s"$sfDir/documents.parquet", s"doc_cdc_kmv_${dirTag(sfDir)}")
  }

  /** Interval (range) join via the binned decomposition (RangeJoin): each
    * purchase event anchors a 24-hour follow-up window; every event of the
    * same user inside [anchor, anchor+24h] matches — the attribution-
    * window shape. Bin width = the interval length, so each interval
    * explodes to ≤ 2 bins and the join is one hash shuffle on (key, bin);
    * the naive plan would be a nested loop. Verified against DuckDB's
    * plain BETWEEN join.
    */
  private def q16IntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val raw = t(spark, sfDir, "events")
    val events = raw
      .select(col("event_id"), col("user_id"), col("event_type"),
        Events.microsExpr(raw).as("t_us"))
    val anchors = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("a_user"), col("t_us").as("start_us"))
      .withColumn("end_us", col("start_us") + dayUs)
    RangeJoin
      .intervalJoin(events, anchors,
        leftKey = col("user_id"), rightKey = col("a_user"),
        leftTime = col("t_us"), rightStart = col("start_us"),
        rightEnd = col("end_us"), binWidth = dayUs)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("event_id")).as("n_events"))
  }

  /** Conversion funnel — the canonical event-analytics query: per user,
    * the first view, the first click within 24 h AFTER that view, the
    * first purchase within 24 h AFTER that click; one row of stage
    * counts (150 → 60 → 25 at sf0.01 — real attrition). Each stage is a
    * min-aggregate over a stage-gated join (no window over the whole
    * event stream), so every step is one shuffle on user_id and the
    * per-stage relations shrink monotonically. Timestamps compare in
    * epoch-µs longs end to end ([[Events.microsExpr]] vs DuckDB
    * `epoch_us`) — exact at the file's µs precision.
    */
  private def q21Funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val DayUs = 24L * 3600L * 1000000L
    val raw = t(spark, sfDir, "events")
    val ev = raw
      .select(col("user_id"), col("event_type"), Events.microsExpr(raw).as("tus"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tus")).as("t1"))
    val clicks = ev.filter(col("event_type") === "click").as("e")
      .join(views.as("v"), col("e.user_id") === col("v.user_id"))
      .filter(col("e.tus") > col("v.t1") &&
        col("e.tus") <= col("v.t1") + lit(DayUs))
      .groupBy(col("e.user_id").as("user_id")).agg(min(col("e.tus")).as("t2"))
    val purchases = ev.filter(col("event_type") === "purchase").as("e")
      .join(clicks.as("c"), col("e.user_id") === col("c.user_id"))
      .filter(col("e.tus") > col("c.t2") &&
        col("e.tus") <= col("c.t2") + lit(DayUs))
      .groupBy(col("e.user_id").as("user_id")).agg(min(col("e.tus")).as("t3"))
    views.agg(count(lit(1)).as("n_view_users"))
      .crossJoin(clicks.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(purchases.agg(count(lit(1)).as("n_purchase_after_click")))
  }

  /** Salted skew join surfaced as a catalog query: the events fact is
    * salted per-row on event_id, the customer dim is replicated across 8
    * salt buckets, and the join runs (key, salt)-keyed — the explicit
    * hot-key mitigation (SaltedJoin's scaladoc) whose result is provably
    * salt-invariant, so the oracle is the PLAIN SQL join. The double
    * `value` sum is quantized to integer thousandths on both sides
    * (the ann_dot_exact technique) so aggregation order can't smear the
    * comparison.
    */
  private def q19SaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = t(spark, sfDir, "events")
    val customer = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    SaltedJoin
      .saltedEquiJoin(events, customer,
        factKey = col("user_id"), dimKey = col("c_custkey"),
        saltSource = col("event_id"), buckets = 8)
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000 + 0.5).cast("long")).as("value_scaled"))
  }

  /** Stateful sessionization surfaced as a catalog query: the
    * flatMapGroupsWithState operator run in BATCH mode, where the
    * semantics are deterministic — a session appears iff a LATER event of
    * the same user closed it by exceeding the gap (the per-user final
    * session stays in state). That is exactly classic SQL sessionization
    * (gap-flag cumulative sum) minus each user's last session, so the
    * DuckDB oracle is cell-exact. Output sticks to integer-exact columns
    * (counts + closed_at micros); float value sums would be
    * accumulation-order-dependent across engines.
    */
  private def streamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.EventStream
    val raw = t(spark, sfDir, "events")
    // EventRow.ts is epoch-µs by contract: normalize before the typed cast
    val events = raw
      .select(col("event_id"), Events.microsExpr(raw).as("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStream.EventRow]
    EventStream.sessionize(events, gapMicros = 30L * 60 * 1000000L)
      .toDF()
      .select(col("user_id"), col("n_events"),
        col("closed_at").as("closed_at_us"))
  }

  /** A6 per-doc chunk presence matrix: explode the merged relation's
    * seen_in to (hash, doc) membership with uniqueness flags — the
    * viz-backing shape (reference de/__init__.py:109-137).
    */
  private def chunkMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunks = oracleSide(spark, sfDir, "chunks3",
      sfChunks(spark, sfDir, tables = Seq("lineitem", "orders", "customer")).toDF())
      .as[ChunkRow]
    val merged = Estimator.merged(chunks)
    merged
      .select(col("hash"), col("size"), col("first_seen_in"),
        size(col("seen_in")).as("n_files"), explode(col("seen_in")).as("file_idx"))
      .withColumn("is_unique", col("n_files") === 1)
      .select(col("hash"), col("file_idx"), col("size"), col("first_seen_in"),
        col("is_unique"))
  }

  /** O2 provenance segments (reference src/store.rs:138-143): every chunk
    * occurrence in (file_idx, chunk_idx) order mapped to the file index
    * that first contributed its content — the heat-map strip's input. Same
    * chunk relation (and side table) as chunk_matrix, so no extra chunking
    * pass; the oracle re-derives first_seen_in with a MIN-per-hash join
    * over the persisted occurrences.
    */
  private def chunkSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunks = oracleSide(spark, sfDir, "chunks3",
      sfChunks(spark, sfDir, tables = Seq("lineitem", "orders", "customer")).toDF())
      .as[ChunkRow]
    Estimator.segments(chunks)
  }

  /** A7 viz-normalization stats (reference de/__init__.py:111-114: the
    * strip renderer normalizes cell widths by max chunk size): max/min/
    * count/sum over the shared chunk relation — the same aggregate
    * [[graft.tools.Viz]] computes internally, exposed as an oracled query
    * so the last viz-only operator has a relational certificate too.
    */
  private def chunkSizeStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunks = oracleSide(spark, sfDir, "chunks3",
      sfChunks(spark, sfDir, tables = Seq("lineitem", "orders", "customer")).toDF())
      .as[ChunkRow]
    chunks.toDF().agg(
      max(col("size")).as("max_size"),
      min(col("size")).as("min_size"),
      count(lit(1)).as("n_chunks"),
      sum(col("size")).as("sum_size"))
  }

  /** O3 ordered chunk dump with data (reference src/store.rs:145-150 +
    * store_data): one row per distinct chunk keyed to its FIRST occurrence
    * (the reference's insertion order, expressed relationally as the
    * (file_idx, chunk_idx) min), carrying the payload digest. The
    * with-data occurrence relation persists as a side table; the oracle
    * re-picks each hash's first occurrence and re-digests the raw bytes
    * (md5 over the hex encoding — DuckDB's md5 is VARCHAR-only), so the
    * dump order, dedup identity, and payload bytes are all certified.
    */
  private def chunkDump(spark: SparkSession, sfDir: String): DataFrame = {
    val paths = Seq("lineitem", "orders").map(t => s"$sfDir/$t.parquet")
    val dump = oracleSide(spark, sfDir, "chunk_dump_data",
      ChunkRelation.chunkFilesWithData(spark, paths).toDF())
    val firstOcc = struct(col("file_idx"), col("chunk_idx"))
    dump
      // digest BEFORE the groupBy: the aggregate then shuffles 32-char
      // strings, never raw payloads (the blobs-never-shuffle discipline);
      // equal hash ⟹ equal bytes ⟹ equal digest, so min_by stays exact
      .withColumn("data_md5", md5(hex(col("data"))))
      .groupBy(col("hash"))
      .agg(
        min(col("file_idx")).as("first_file"),
        min_by(col("chunk_idx"), firstOcc).as("first_chunk_idx"),
        first(col("size")).as("size"),
        count(lit(1)).as("n_occ"),
        min_by(col("data_md5"), firstOcc).as("chunk_md5"))
      .select(col("hash"), col("first_file"), col("first_chunk_idx"),
        col("size"), col("n_occ"), col("chunk_md5"))
  }

  /** Multimodal with REAL image decode: a corpus of real encoded PNG/BMP
    * blobs (one per doc_id, dims/bands a pure arithmetic function of the
    * id — [[Multimodal.fixtureTruth]]) is enriched through the actual
    * `javax.imageio` decode path. The oracle certifies the decode: it takes
    * width/height/channels from the codec-FREE ground-truth side table and
    * n_bytes/thumb_bytes from the raw blob bytes — so a hash match means
    * ImageIO really decoded every fixture to its known dimensions. Nothing
    * decoded is taken on trust anymore (the former stub survives only for
    * audio/video duration, outside this query).
    */
  private def mmEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"))
    val blobs = oracleSide(spark, sfDir, "mm_blobs",
      Multimodal.imageBlobs(ids, "doc_id"))
    // written for the oracle only — the engine side must NOT read it
    oracleSide(spark, sfDir, "mm_truth", Multimodal.imageTruth(ids, "doc_id"))
    // thumb_bytes = min(n_bytes, target) is resizeStub's exact length
    // contract (passthrough under target, truncate-to-target above), so it
    // derives from the SAME enrich pass — a second resize branch would
    // re-encode every fixture image when side tables are off (bench);
    // resize itself stays covered by MultimodalSpec
    Multimodal
      .enrich(blobs, "blob_id", "content")
      .select(col("blob_id"), col("n_bytes"), col("width"), col("height"),
        col("channels"), least(col("n_bytes"), lit(256L)).as("thumb_bytes"))
  }

  /** Visual dedup over RE-ENCODED image duplicates
    * ([[graft.operators.Multimodal.perceptualDedup]]): groups of 4 ids
    * share one image, alternating PNG/BMP containers — byte-hash dedup
    * cannot see across the codec boundary; the dHash perceptual
    * fingerprint must collapse each group to its min-id canonical. The
    * oracle is fully CODEC-FREE: it re-derives the 9×8 grayscale
    * thumbnail from the fixture's arithmetic pixel truth (same integer
    * downsample indices and luma), packs the same 64 bits through a
    * HUGEINT two's-complement wrap, and replays the grouping — so the
    * real ImageIO decode, the downsample, the hash, and the dedup are
    * all certified end-to-end against arithmetic, no side tables.
    */
  private def mmPhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
    Multimodal.perceptualDedup(
      Multimodal.reencodedBlobs(ids, "doc_id"), "blob_id", "content")
  }

  /** Hamming-ball perceptual matching
    * ([[graft.operators.Multimodal.phashRelation]] →
    * [[graft.operators.Dedupe.hammingPairs]]): the near-dup extension
    * of mm_phash_dedup — ids with id%4==3 carry a small visual edit
    * (one corner pixel forced white), so their dHash lands a few bits
    * from the group's; the 4×16-bit pigeonhole banding finds every
    * pair at hamming ≤ 3 without an n² join, sharing the text
    * simhash path's machinery verbatim. Codec-free oracle: arithmetic
    * phash truth (with the jitter term) + brute-force bit_count(xor)
    * ≤ 3 — banding recall at ≤ maxDistance is exactly the all-pairs
    * set, the dedup_simhash contract.
    */
  /** The jittered-corpus perceptual PAIR relation feeds TWO catalog
    * queries (mm_phash_neardup IS it; mm_phash_clusters folds it to
    * components) and its codec pass (synthetic PNG/BMP encode + real
    * decode + thumb + dHash per blob) is the dominant cost — compute
    * once per (session, sf dir) and share the cached pairs, the
    * ngram_pairs / doc_cdc_chunks sharing discipline (the pair relation
    * is pair-count-tiny; blobs and sigs are never retained past the
    * build).
    *
    * maxBucketSize = MaxValue: the oracle is brute-force all-pairs
    * bit_count(xor), so the star-pair degradation for over-cap buckets
    * must NEVER engage here — full recall has to hold at any corpus
    * size, not just while buckets happen to stay under the default cap.
    * Safe for the fixture family: group sigs are seed-unique, so a
    * 16-bit band bucket holds ~|groups|/65536 groups (≈ 8 members even
    * at a 100× corpus). Production callers keep the default skew cap.
    */
  private[graft] def sharedPhashPairs(
      spark: SparkSession, sfDir: String): DataFrame =
    SessionCaches.shared(spark, "phash_pairs", sfDir) {
      val ids = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"))
      Dedupe.hammingPairs(
        Multimodal.phashRelation(
          Multimodal.jitteredBlobs(ids, "doc_id"), "blob_id", "content"),
        maxDistance = 3, maxBucketSize = Int.MaxValue)
    }

  private def mmPhashNeardup(spark: SparkSession, sfDir: String): DataFrame =
    sharedPhashPairs(spark, sfDir)

  /** Audio fingerprint near-dup
    * ([[graft.operators.Multimodal.audioFingerprint]] →
    * [[graft.operators.Dedupe.hammingPairs]]): pairs of consecutive ids
    * share one PCM signal, odd ids carry a one-frame "click" edit —
    * the audio analog of mm_phash_neardup. The fingerprint mono-mixes
    * each frame (channel sum, division-free), buckets absolute energy
    * into 65 windows by integer index, and dHashes the energy curve;
    * the click moves exactly one window, so planted pairs land at
    * hamming ≤ 1. This certifies SAMPLE-exact javax.sound decode (the
    * mm_audio query only certifies channels/duration): the oracle
    * rebuilds every energy window from the fixture's sample arithmetic
    * and must match the real-decode fingerprint bit-for-bit.
    */
  private def mmAudioFp(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
    // maxBucketSize = MaxValue for the same reason as mm_phash_neardup:
    // the brute-force oracle demands full recall at any corpus size
    Dedupe.hammingPairs(
      Multimodal.audioFpRelation(
        Multimodal.audioFpBlobs(ids, "doc_id"), "blob_id", "content"),
      maxDistance = 3, maxBucketSize = Int.MaxValue)
  }

  /** Video keyframe fingerprint near-dup
    * ([[graft.operators.Multimodal.decodeY4M]] →
    * [[graft.operators.Multimodal.videoFpRelation]] →
    * [[graft.operators.Dedupe.hammingPairs]]): REAL from-scratch
    * YUV4MPEG2 decode — the format the mjpegtools/ffmpeg world uses for
    * uncompressed interchange — closing the video modality with actual
    * frame data (the container stub now covers only compressed codecs
    * the JVM cannot read). Pairs of consecutive ids share one video;
    * odd ids carry a one-pixel frame-0 edit, so their slot-0 keyframe
    * hash lands a few bits away while slots 1..3 match exactly — the
    * image/audio jitter pattern, one modality over. id = blob_id·4 +
    * slot matches videos keyframe-by-keyframe through the shared
    * pigeonhole machinery. Codec-free oracle: the luma is arithmetic,
    * so DuckDB re-derives every keyframe thumbnail, dHash, and the
    * brute-force pair set with no parser anywhere.
    */
  /** The keyframe-fingerprint PAIR relation feeds mm_video_fp (IS it)
    * and mm_video_dedup (folds it to video-level clusters); its Y4M
    * encode+parse kernel is the dominant cost — same session-shared
    * discipline as [[sharedPhashPairs]].
    */
  private[graft] def sharedVideoPairs(
      spark: SparkSession, sfDir: String): DataFrame =
    SessionCaches.shared(spark, "video_pairs", sfDir) {
      val ids = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"))
      Dedupe.hammingPairs(
        Multimodal.videoFpRelation(
          Multimodal.videoBlobs(ids, "doc_id"), "blob_id", "content"),
        maxDistance = 3, maxBucketSize = Int.MaxValue)
    }

  private def mmVideoFp(spark: SparkSession, sfDir: String): DataFrame =
    sharedVideoPairs(spark, sfDir)

  /** Video-level dedup DECISION from keyframe evidence: two videos are
    * duplicates if ANY of their sampled keyframes land in the hamming
    * ball (the standard video-dedup rule — a shared scene suffices),
    * folded to transitively-closed clusters by the shared min-label
    * propagation ([[graft.operators.Dedupe.duplicateClusters]], the
    * dedup_clusters machinery). Keyframe pairs are (vid = blob·4+slot)
    * rows; one distinct projection maps them to blob-level edges, so
    * the graph is |matching-video-pairs|-sized, never keyframe-sized.
    * Oracle: the same arithmetic truth chain + recursive reach in SQL.
    */
  private def mmVideoDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = sharedVideoPairs(spark, sfDir)
      .select(floor(col("id_a") / 4).cast("long").as("id_a"),
        floor(col("id_b") / 4).cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    Dedupe.duplicateClusters(edges)
  }

  /** Visual-duplicate clusters over the jittered image corpus — the
    * curation decision layer on top of mm_phash_neardup's pair
    * evidence: re-encode groups AND their near-dup jittered members
    * collapse into one cluster per visual identity (min-id canonical),
    * the relation a keep-best pass consumes. Same machinery as
    * dedup_clusters, fingerprints instead of shingles.
    */
  private def mmPhashClusters(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe.duplicateClusters(sharedPhashPairs(spark, sfDir))

  /** Audio enrichment with REAL javax.sound WAV decode (the image path's
    * discipline, one modality over): deterministic PCM16 fixtures whose
    * channel count and frame-exact duration come from arithmetic truth,
    * decoded for real through the same `enrich` pass; a hash match
    * certifies the decode (no codec in the truth path).
    */
  private def mmAudio(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
    val blobs = oracleSide(spark, sfDir, "mma_blobs",
      Multimodal.audioBlobs(ids, "doc_id"))
    oracleSide(spark, sfDir, "mma_truth", Multimodal.audioTruth(ids, "doc_id"))
    Multimodal
      .enrich(blobs, "blob_id", "content")
      .select(col("blob_id"), col("n_bytes"), col("channels"),
        col("duration_ms"))
  }

  /** Video-shaped frame sampling through the multimodal plumbing: one blob
    * row in → N frame rows out (stride-block stand-ins for decoded frames;
    * the generator shape is what's exercised). Frames are exact byte
    * slices, so the oracle recomputes them with BLOB substring + md5 from
    * the persisted blob table.
    */
  private def mmFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val blobs = oracleSide(spark, sfDir, "mmf_blobs",
      Multimodal.blobsFromTable(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id"))
    Multimodal
      .sampleFrames(blobs, "blob_id", "content", strideBytes = 64, maxFrames = 8)
      .select(col("blob_id"), col("frame_idx"),
        length(col("frame_bytes")).cast("long").as("n_bytes"),
        md5(col("frame_bytes")).as("frame_md5"))
  }

  /** S8 git-revision source as a catalog query: build the deterministic
    * [[graft.tools.GitFixture]] repo, extract every revision of its file
    * via the real `git log --follow` + byte-exact `git show` path
    * ([[graft.tools.GitRevisions]]), and report (rev_idx, n_bytes,
    * content_md5) newest-first. The oracle recomputes sizes and digests in
    * DuckDB from the same literal contents the fixture committed — so the
    * ORDER of the revision walk and the byte-exactness of the extraction
    * are what the green row certifies. Environment-shaped by design
    * (driver-side git, like the reference's checkout_file_revisions);
    * `sfDir` is unused.
    */
  private def gitRevisions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // fresh temp dir per invocation: a shared cwd-relative path would let
    // concurrent runs (Verify replay vs a CLI query) wipe each other's
    // .git mid-extraction; cleaned at JVM exit like the format scratch dirs
    val fixtureDir = java.nio.file.Files.createTempDirectory("graft-git")
    cleanupOnExit(fixtureDir)
    val file = graft.tools.GitFixture.build(fixtureDir)
    val outPaths = graft.tools.GitRevisions
      .checkoutFileRevisions(file, fixtureDir.resolve("revs"))
    val rows = outPaths.zipWithIndex.map { case (p, i) =>
      (i.toLong, java.nio.file.Files.readAllBytes(p))
    }
    spark.createDataset(rows).toDF("rev_idx", "content")
      .select(col("rev_idx"), length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("content_md5"))
  }

  /** P6 glob expansion as a catalog query: expand `*.parquet` over the sf
    * directory through a real Spark file source (binaryFile — its file
    * index does the glob, and column pruning keeps content unread for this
    * path+length projection) and report each file's name and byte size.
    * The oracle re-expands the same glob with DuckDB's read_blob and
    * measures the same bytes independently. Semantics note: Spark file
    * indexes SKIP hidden names ('_'/'.' prefixes — metadata artifacts);
    * that is this operator's documented contract and the oracle filters
    * identically.
    */
  private def globExpand(spark: SparkSession, sfDir: String): DataFrame = {
    // depth-1 regular files ONLY: Spark's file index would match a
    // directory-shaped `name.parquet` and surface its part-files one level
    // deeper, while the oracle's read_blob treats glob matches as plain
    // files — requiring the file's PARENT to be the sf dir itself pins
    // both engines to the same contract whatever the table layout (and is
    // URI-scheme-independent, unlike counting path segments)
    val parent = new java.io.File(sfDir).getName
    spark.read.format("binaryFile").load(s"$sfDir/*.parquet")
      .filter(element_at(split(col("path"), "/"), -2) === lit(parent))
      .select(element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length").as("n_bytes"))
  }

  /** Compaction plan over the sf dir's table files: greedy ordered
    * bin-packing of file metadata into ~1 MiB output groups — the
    * small-files maintenance op ([[graft.operators.Compaction]]). The
    * oracle replays the greedy fold file-for-file with a recursive CTE
    * over the identical listing.
    */
  private val compactTargetBytes = 1L << 20
  private def compactPlan(spark: SparkSession, sfDir: String): DataFrame =
    Compaction.plan(spark, sfDir, compactTargetBytes)

  /** PII redaction audit over a deterministic profile string synthesized
    * from customer columns (the trimmed schema has no phone/address
    * columns, so the query manufactures emails / phones / IPs / digit runs
    * — including the real 9-digit run inside `c_name` — and the operator
    * scrubs them). Email and IP presence vary by key so the audit counts
    * take multiple values. Pure per-row regex work; the oracle replays the
    * same RE2-compatible patterns sequentially.
    */
  private def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("c_custkey")
    val profile = concat(
      lit("contact "), col("c_name"),
      when(k % 3 === 0,
        concat(lit(" <c"), k.cast("string"), lit("@"),
          lower(col("c_mktsegment")), lit(".example.com>")))
        .otherwise(lit(" <no-mail>")),
      lit(" tel "),
      (k % 90 + 10).cast("string"), lit("-"),
      ((k * 7) % 900 + 100).cast("string"), lit("-"),
      ((k * 13) % 900 + 100).cast("string"), lit("-"),
      ((k * 31) % 9000 + 1000).cast("string"),
      when(k % 5 === 0,
        concat(lit(" ip "), (k % 224 + 1).cast("string"), lit("."),
          ((k * 3) % 256).cast("string"), lit("."),
          ((k * 5) % 256).cast("string"), lit("."),
          ((k * 11) % 256).cast("string")))
        .otherwise(lit("")),
      lit(" acct "), ((k * 97) % 100000 + 900000).cast("string"))
    PiiScrub
      .scrub(t(spark, sfDir, "customer").withColumn("profile", profile), "profile")
      .select(col("c_custkey"), col("scrubbed"), col("n_email"), col("n_phone"),
        col("n_ipv4"), col("n_number"), col("n_redactions"))
  }

  /** Columns profiled by `table_profile` (order = output row grouping on
    * both engines). The double column goes through DECIMAL(18,2) and the
    * nullable column is synthesized with NULLIF so null accounting is
    * genuinely exercised; min/max stringification is parity-safe for
    * bigint / varchar / decimal / midnight-timestamp under a UTC session.
    */
  private val ProfileCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_price_dec",
      "o_prio_nn", "o_orderdate")

  /** Single-pass per-column profiling over a prepared orders projection —
    * the accept-this-table data-quality gate (one aggregation job, all
    * columns as parallel aggregate exprs; see Profiler).
    */
  private def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val base = t(spark, sfDir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").as("o_price_dec"),
      when(col("o_orderstatus") === "F", lit(null))
        .otherwise(col("o_orderpriority")).as("o_prio_nn"),
      col("o_orderdate"))
    Profiler.profile(base.select(ProfileCols.map(col): _*))
  }

  /** Pivoted event counts: user bucket × explicit event-type value list
    * (explicit so the output schema is static — dynamic pivot would scan
    * once just to discover columns), null cells filled to 0 to match the
    * relational FILTER-count shape.
    */
  private def q17Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    t(spark, sfDir, "events")
      .select((col("user_id") % 10).as("user_bucket"), col("event_type"))
      .groupBy("user_bucket")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_filter_project" -> q02FilterProject _,
    "q03_join_agg" -> q03JoinAgg _,
    "q04_topk" -> q04TopK _,
    "q05_window_best" -> q05WindowBest _,
    "q06_histogram" -> q06Histogram _,
    "q07_group_grid" -> q07GroupGrid _,
    "q08_anti_join" -> q08AntiJoin _,
    "q09_distinct" -> q09Distinct _,
    "q10_rollup" -> q10Rollup _,
    "q11_semi_join" -> q11SemiJoin _,
    "q12_event_seq" -> q12EventSeq _,
    "event_sessions" -> eventSessions _,
    "event_props" -> eventProps _,
    "zorder_layout" -> zorderLayout _,
    "hilbert_layout" -> hilbertLayout _,
    "q13_asof_join" -> q13AsofJoin _,
    "q14_percentiles" -> q14Percentiles _,
    "q15_bucketed_join" -> q15BucketedJoin _,
    "q16_interval_join" -> q16IntervalJoin _,
    "q19_salted_join" -> (q19SaltedJoin _),
    "q20_outer_join" -> (q20OuterJoin _),
    "q21_funnel" -> (q21Funnel _),
    "cdc_estimate" -> (cdcEstimate _),
    "cdc_estimate_incremental" -> (cdcEstimateIncremental _),
    "cdc_logical" -> (cdcLogical _),
    "bloom_point_lookup" -> (bloomPointLookup _),
    "synthetic_grid" -> (syntheticGrid _),
    "format_compare" -> (formatCompare _),
    "page_profile" -> (pageProfile _),
    "rowgroup_profile" -> (rowgroupProfile _),
    "cdc_estimate_approx" -> (cdcEstimateApprox _),
    "stream_window" -> (streamWindow _),
    "stream_sessions" -> (streamSessions _),
    "stream_dedup" -> (streamDedup _),
    "stream_join" -> (streamJoin _),
    "stream_neardup" -> (streamNearDup _),
    "stream_video_fp" -> (streamVideoFp _),
    "stream_cdc" -> (streamCdc _),
    "stream_cdc_approx" -> (streamCdcApprox _),
    "stream_profile" -> (streamProfile _),
    "snapshot_diff" -> (snapshotDiff _),
    "merge_apply" -> (mergeApply _),
    "merge_apply_evolve" -> (mergeApplyEvolve _),
    "merge_stats" -> (mergeStats _),
    "stream_merge" -> (streamMerge _),
    "key_skew" -> (keySkew _),
    "join_size_profile" -> (joinSizeProfile _),
    "dist_drift" -> (distDrift _),
    "drift_by_source" -> (driftBySource _),
    "stream_drift" -> (streamDrift _),
    "table_profile" -> (tableProfile _),
    "q17_pivot" -> (q17Pivot _),
    "q18_grouping_sets" -> (q18GroupingSets _),
    "q22_scalar_subquery" -> (q22ScalarSubquery _),
    "q23_setops" -> (q23SetOps _),
    "q24_running_total" -> (q24RunningTotal _),
    "event_resample" -> (eventResample _),
    "event_anomaly" -> (eventAnomaly _),
    "event_retention" -> (eventRetention _),
    "event_attribution" -> (eventAttribution _),
    "event_paths" -> (eventPaths _),
    "event_streaks" -> (eventStreaks _),
    "event_rfm" -> (eventRfm _),
    "event_dau_wau" -> (eventDauWau _),
    "mm_enrich" -> (mmEnrich _),
    "mm_phash_dedup" -> (mmPhashDedup _),
    "mm_phash_neardup" -> (mmPhashNeardup _),
    "mm_audio_fp" -> (mmAudioFp _),
    "mm_video_fp" -> (mmVideoFp _),
    "mm_video_dedup" -> (mmVideoDedup _),
    "mm_phash_clusters" -> (mmPhashClusters _),
    "mm_audio" -> (mmAudio _),
    "mm_frames" -> (mmFrames _),
    "pii_scrub" -> (piiScrub _),
    "chunk_matrix" -> (chunkMatrix _),
    "git_revisions" -> (gitRevisions _),
    "glob_expand" -> (globExpand _),
    "compact_plan" -> (compactPlan _),
    "chunk_segments" -> (chunkSegments _),
    "chunk_dump" -> (chunkDump _),
    "chunk_size_stats" -> (chunkSizeStats _)
  ) ++ TextQueries.all ++ SimilarityQueries.all

  // def, not val: the SQL embeds oracleSidePath, which must resolve AFTER
  // Verify sets graft.oracle.sfbase / root — object-init-time vals bake in
  // the defaults before main() runs
  /** Shared grid roll-up oracle SQL: re-derives an EstimationResult grid
    * (totals / dedup ratio / xet bytes) from the per-run persisted side
    * tables `<prefix>grid_tags` / `<prefix>grid_chunks_default` /
    * `<prefix>grid_chunks_xet` — ONE definition for every grid query so
    * the roll-up semantics can never desynchronize between them.
    */
  private def gridOracleSql(prefix: String): String =
    s"""WITH nf AS (
      |  SELECT "group", format, CAST(COUNT(DISTINCT file_idx) AS BIGINT) AS numfiles
      |  FROM read_parquet('${oracleSidePath(prefix + "grid_tags")}') GROUP BY 1, 2),
      |per AS (
      |  SELECT "group", format, hash, MIN(size) AS size,
      |    MIN(compressed) AS compressed, SUM(size) AS occ_bytes
      |  FROM read_parquet('${oracleSidePath(prefix + "grid_chunks_default")}')
      |  GROUP BY 1, 2, 3),
      |mm AS (
      |  SELECT "group", format, CAST(SUM(occ_bytes) AS BIGINT) AS total_len,
      |    CAST(SUM(size) AS BIGINT) AS chunk_bytes,
      |    CAST(SUM(compressed) AS BIGINT) AS compressed_chunk_bytes
      |  FROM per GROUP BY 1, 2),
      |x AS (
      |  SELECT "group", format, CAST(SUM(size) AS BIGINT) AS xet_bytes FROM (
      |    SELECT "group", format, hash, MIN(size) AS size
      |    FROM read_parquet('${oracleSidePath(prefix + "grid_chunks_xet")}')
      |    GROUP BY 1, 2, 3) GROUP BY 1, 2)
      |SELECT nf."group", nf.format, nf.numfiles, mm.total_len, mm.chunk_bytes,
      |  mm.compressed_chunk_bytes,
      |  CAST(mm.chunk_bytes AS DOUBLE) / CAST(mm.total_len AS DOUBLE) AS dedup_ratio,
      |  x.xet_bytes,
      |  CAST(x.xet_bytes AS DOUBLE) / CAST(mm.total_len AS DOUBLE) AS xet_dedup_ratio
      |FROM nf JOIN mm USING ("group", format) JOIN x USING ("group", format)""".stripMargin

  def oracles: Map[String, String] = Map(
    "git_revisions" -> {
      // the oracle's VALUES rows ARE the fixture's committed contents
      // (newest first — git log order); DuckDB independently recomputes
      // size and md5, so the engine's git walk + extraction must be
      // byte-exact to hash-match
      val rows = graft.tools.GitFixture.Revisions.reverse.zipWithIndex
        .map { case (content, i) => s"($i, E'${content.replace("\n", "\\n")}')" }
        .mkString(",\n        ")
      s"""WITH c(rev_idx, content) AS (VALUES
        |        $rows)
        |SELECT CAST(rev_idx AS BIGINT) AS rev_idx,
        |  CAST(octet_length(encode(content)) AS BIGINT) AS n_bytes,
        |  md5(content) AS content_md5
        |FROM c""".stripMargin
    },
    "glob_expand" ->
      // the filter mirrors the ENGINE's documented semantics: Spark file
      // indexes treat '_'/'.'-prefixed names as hidden (metadata artifacts
      // like _SUCCESS/_temporary), DuckDB's raw glob does not
      s"""SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
        |  CAST(octet_length(content) AS BIGINT) AS n_bytes
        |FROM read_blob('$oracleSfDir/*.parquet')
        |WHERE NOT regexp_matches(regexp_extract(filename, '[^/]+$$'), '^[_.]')""".stripMargin,
    "compact_plan" ->
      // same listing contract as glob_expand, then the greedy first-fit
      // fold replayed exactly by a one-row-per-step recursive CTE
      s"""WITH RECURSIVE __files AS (
        |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
        |    CAST(octet_length(content) AS BIGINT) AS n_bytes
        |  FROM read_blob('$oracleSfDir/*.parquet')
        |  WHERE NOT regexp_matches(regexp_extract(filename, '[^/]+$$'), '^[_.]')),
        |${Compaction.planOracleSql(compactTargetBytes)}""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_totalprice > 150000.0 AND o_orderstatus <> 'F'""".stripMargin,
    "q03_join_agg" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q04_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q05_window_best" ->
      """SELECT c_mktsegment, rank_in_segment, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rank_in_segment
        |  FROM customer) WHERE rank_in_segment <= 3""".stripMargin,
    "q06_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q07_group_grid" ->
      """SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, user_id % 10""".stripMargin,
    "q08_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,
    "q09_distinct" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q10_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q11_semi_join" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,
    "q12_event_seq" ->
      """SELECT user_id, seq, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id ASC) AS seq
        |  FROM events) WHERE seq <= 5""".stripMargin,
    "event_sessions" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |f AS (
        |  SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      > 21600000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(new_sess) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events,
        |  MIN(event_id) AS first_event_id,
        |  MAX(event_id) AS last_event_id,
        |  CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us
        |FROM s GROUP BY user_id, session_idx""".stripMargin,
    "event_props" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_events, COUNT(k) AS n_with_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k
        |FROM e GROUP BY event_type""".stripMargin,
    "zorder_layout" ->
      s"""WITH __ev AS (
        |  SELECT epoch_us(ts) AS x, user_id AS y FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |${ZOrder.layoutStatsOracleSql()}""".stripMargin,
    "hilbert_layout" ->
      s"""WITH __ev AS (
        |  SELECT epoch_us(ts) AS x, user_id AS y FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |${Hilbert.layoutStats3OracleSql()}""".stripMargin,
    "q14_percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q15_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q13_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    "stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q16_interval_join" ->
      """SELECT e.event_type, COUNT(*) AS n_matches,
        |  COUNT(DISTINCT e.event_id) AS n_events
        |FROM events e JOIN (
        |  SELECT user_id, epoch_us(ts) AS start_us
        |  FROM events WHERE event_type = 'purchase') a
        |  ON e.user_id = a.user_id
        |  AND epoch_us(e.ts) >= a.start_us
        |  AND epoch_us(e.ts) <= a.start_us + 86400000000
        |GROUP BY e.event_type""".stripMargin,
    "stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.user_id = c.user_id
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000""".stripMargin,
    "q21_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |v AS (
        |  SELECT user_id, MIN(tus) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.tus) AS t2
        |  FROM ev e JOIN v ON e.user_id = v.user_id AND e.tus > v.t1
        |    AND e.tus <= v.t1 + 86400000000
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.tus) AS t3
        |  FROM ev e JOIN c ON e.user_id = c.user_id AND e.tus > c.t2
        |    AND e.tus <= c.t2 + 86400000000
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
        |  (SELECT COUNT(*) FROM c) AS n_click_after_view,
        |  (SELECT COUNT(*) FROM p) AS n_purchase_after_click""".stripMargin,
    "q20_outer_join" ->
      """SELECT n_orders, COUNT(*) AS n_customers FROM (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY n_orders""".stripMargin,
    "q19_salted_join" ->
      """SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR(CAST(e.value AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS value_scaled
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment, e.event_type""".stripMargin,
    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |s AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (
        |  SELECT user_id, tus,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM s),
        |agg AS (
        |  SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(MAX(tus) AS BIGINT) AS closed_at_us
        |  FROM g GROUP BY user_id, sess),
        |lastx AS (SELECT user_id, MAX(sess) AS last_sess FROM agg GROUP BY user_id)
        |SELECT a.user_id, a.n_events, a.closed_at_us
        |FROM agg a JOIN lastx l USING (user_id) WHERE a.sess < l.last_sess""".stripMargin,
    "cdc_estimate" ->
      s"""WITH per AS (
        |  SELECT hash, MIN(size) AS size, MIN(compressed) AS compressed,
        |    SUM(size) AS occ_bytes
        |  FROM read_parquet('${oracleSidePath("chunks_default")}') GROUP BY hash),
        |tot AS (
        |  SELECT CAST(COALESCE(SUM(occ_bytes), 0) AS BIGINT) AS total_len,
        |    CAST(COALESCE(SUM(size), 0) AS BIGINT) AS chunk_bytes,
        |    CAST(COALESCE(SUM(compressed), 0) AS BIGINT) AS compressed_chunk_bytes
        |  FROM per),
        |x AS (
        |  SELECT CAST(COALESCE(SUM(size), 0) AS BIGINT) AS xet_bytes FROM (
        |    SELECT hash, MIN(size) AS size
        |    FROM read_parquet('${oracleSidePath("chunks_xet")}') GROUP BY hash))
        |SELECT 'sf' AS "group", 'parquet' AS format, CAST(2 AS BIGINT) AS numfiles,
        |  total_len, chunk_bytes, compressed_chunk_bytes,
        |  CAST(chunk_bytes AS DOUBLE) / CAST(total_len AS DOUBLE) AS dedup_ratio,
        |  xet_bytes,
        |  CAST(xet_bytes AS DOUBLE) / CAST(total_len AS DOUBLE) AS xet_dedup_ratio
        |FROM tot, x""".stripMargin,
    "cdc_estimate_incremental" ->
      s"""WITH store AS (
        |  SELECT hash, size, compressed
        |  FROM read_parquet('${oracleSidePath("chunks_default")}')),
        |batch AS (
        |  SELECT hash, size, compressed
        |  FROM read_parquet('${oracleSidePath("chunks_batch")}')),
        |scoped AS (
        |  SELECT 'store' AS scope, * FROM store
        |  UNION ALL SELECT 'batch', * FROM batch
        |  UNION ALL SELECT 'merged', * FROM store
        |  UNION ALL SELECT 'merged', * FROM batch),
        |roll AS (
        |  SELECT scope, hash, MIN(size) AS size, MIN(compressed) AS comp,
        |    SUM(size) AS occ
        |  FROM scoped GROUP BY scope, hash)
        |SELECT scope,
        |  CAST(SUM(occ) AS BIGINT) AS total_len,
        |  CAST(SUM(size) AS BIGINT) AS chunk_bytes,
        |  CAST(SUM(comp) AS BIGINT) AS compressed_chunk_bytes,
        |  CAST(SUM(size) AS DOUBLE) / CAST(SUM(occ) AS DOUBLE) AS dedup_ratio
        |FROM roll GROUP BY scope""".stripMargin,
    "chunk_matrix" ->
      s"""WITH c AS (SELECT * FROM read_parquet('${oracleSidePath("chunks3")}')),
        |m AS (
        |  SELECT hash, MIN(file_idx) AS first_seen_in, MIN(size) AS size,
        |    COUNT(DISTINCT file_idx) AS n_files
        |  FROM c GROUP BY hash)
        |SELECT d.hash, d.file_idx, m.size, m.first_seen_in,
        |  (m.n_files = 1) AS is_unique
        |FROM (SELECT DISTINCT hash, file_idx FROM c) d JOIN m USING (hash)""".stripMargin,
    "chunk_size_stats" ->
      s"""SELECT CAST(MAX(size) AS BIGINT) AS max_size,
        |  CAST(MIN(size) AS BIGINT) AS min_size,
        |  COUNT(*) AS n_chunks,
        |  CAST(SUM(size) AS BIGINT) AS sum_size
        |FROM read_parquet('${oracleSidePath("chunks3")}')""".stripMargin,
    "chunk_segments" ->
      s"""WITH c AS (SELECT * FROM read_parquet('${oracleSidePath("chunks3")}')),
        |f AS (SELECT hash, MIN(file_idx) AS first_seen_in FROM c GROUP BY hash)
        |SELECT c.file_idx, c.chunk_idx, c.hash, c.size, f.first_seen_in
        |FROM c JOIN f USING (hash)""".stripMargin,
    "chunk_dump" ->
      // first occurrence per hash re-picked by (file_idx, chunk_idx) and the
      // payload re-digested from the raw persisted bytes (md5 over hex —
      // DuckDB's md5 takes VARCHAR only; hex is uppercase on both engines)
      s"""WITH d AS (SELECT * FROM read_parquet('${oracleSidePath("chunk_dump_data")}')),
        |r AS (SELECT hash, file_idx, chunk_idx, size, data,
        |    ROW_NUMBER() OVER (PARTITION BY hash ORDER BY file_idx, chunk_idx) AS rn,
        |    COUNT(*) OVER (PARTITION BY hash) AS n_occ
        |  FROM d)
        |SELECT hash, file_idx AS first_file, chunk_idx AS first_chunk_idx, size,
        |  CAST(n_occ AS BIGINT) AS n_occ, md5(hex(data)) AS chunk_md5
        |FROM r WHERE rn = 1""".stripMargin,
    // NOTE: valid at the driver's verification SF (sf0.01), where distinct
    // chunk cardinality (~25) is far below both 1/rsd² and the KMV k, so
    // Spark's HLL++ and the KMV sketch are provably exact and equal to
    // COUNT(DISTINCT hash). At sketch-saturating scales this oracle would
    // not hold — which is the point of the sketches.
    "cdc_estimate_approx" ->
      s"""WITH c AS (SELECT * FROM read_parquet('${oracleSidePath("chunks_default")}')),
        |per AS (SELECT hash, MIN(size) AS size, SUM(size) AS occ_bytes
        |        FROM c GROUP BY hash),
        |t AS (SELECT CAST(COALESCE(SUM(occ_bytes), 0) AS BIGINT) AS total_len,
        |        CAST(COALESCE(SUM(size), 0) AS BIGINT) AS chunk_bytes FROM per),
        |u AS (SELECT CAST(COUNT(DISTINCT hash) AS BIGINT) AS uniq,
        |        CAST(COUNT(*) AS BIGINT) AS occ FROM c)
        |SELECT t.total_len, t.chunk_bytes,
        |  u.uniq AS hll_unique_chunks, u.uniq AS kmv_unique_chunks,
        |  CAST(u.uniq AS DOUBLE) * (CAST(t.total_len AS DOUBLE) / CAST(u.occ AS DOUBLE))
        |    AS approx_chunk_bytes,
        |  CAST(u.uniq AS DOUBLE) * (CAST(t.total_len AS DOUBLE) / CAST(u.occ AS DOUBLE))
        |    / CAST(t.total_len AS DOUBLE) AS approx_dedup_ratio
        |FROM t, u""".stripMargin,
    "page_profile" ->
      s"""SELECT CAST(FLOOR(uncompressed_bytes / 4096.0) AS BIGINT) AS bucket,
        |  CAST(FLOOR(uncompressed_bytes / 4096.0) AS BIGINT) * 4096 AS bucket_lo_bytes,
        |  COUNT(*) AS n_pages
        |FROM read_parquet('${oracleSidePath("page_stats")}')
        |WHERE page_type = 'data'
        |GROUP BY 1, 2""".stripMargin,
    "mm_frames" ->
      // DuckDB cannot slice BLOBs; the blob payload is ASCII JSON (the
      // documents corpus), so decoding to VARCHAR makes char slicing
      // equal byte slicing — md5 over the re-encoded slice matches the
      // engine's byte-slice hash exactly
      s"""WITH b AS (
        |  SELECT blob_id, decode(content) AS s
        |  FROM read_parquet('${oracleSidePath("mmf_blobs")}')),
        |n AS (
        |  SELECT blob_id, s,
        |    LEAST(8, GREATEST(1, octet_length(encode(s)) // 64)) AS nf FROM b),
        |f AS (
        |  SELECT blob_id, s, UNNEST(range(0, nf)) AS frame_idx FROM n)
        |SELECT blob_id, frame_idx,
        |  CAST(octet_length(encode(substring(s, CAST(frame_idx * 64 + 1 AS BIGINT), 64))) AS BIGINT)
        |    AS n_bytes,
        |  md5(substring(s, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5
        |FROM f""".stripMargin,
    "mm_enrich" ->
      // width/height/channels come from the codec-free ground-truth table;
      // the engine row carries the REAL ImageIO decode of the same blob —
      // a hash match certifies the decode against known fixture dims
      s"""WITH b AS (SELECT * FROM read_parquet('${oracleSidePath("mm_blobs")}')),
        |t AS (SELECT * FROM read_parquet('${oracleSidePath("mm_truth")}'))
        |SELECT t.blob_id,
        |  CAST(octet_length(b.content) AS BIGINT) AS n_bytes,
        |  t.width, t.height, t.channels,
        |  CAST(LEAST(octet_length(b.content), 256) AS BIGINT) AS thumb_bytes
        |FROM t JOIN b USING (blob_id)""".stripMargin,
    "mm_audio" ->
      // channels/duration_ms come from the codec-free ground-truth table;
      // the engine row carries the REAL javax.sound decode of the same
      // WAV blob — a hash match certifies the decode
      s"""WITH b AS (SELECT * FROM read_parquet('${oracleSidePath("mma_blobs")}')),
        |t AS (SELECT * FROM read_parquet('${oracleSidePath("mma_truth")}'))
        |SELECT t.blob_id,
        |  CAST(octet_length(b.content) AS BIGINT) AS n_bytes,
        |  t.channels, t.duration_ms
        |FROM t JOIN b USING (blob_id)""".stripMargin,
    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "stream_cdc_approx" ->
      // mirrors KmvSketch.finish exactly: values compare in unsigned order
      // (xor with Long.MinValue), v̂ = double(kth) − double(Long.MinValue)
      // over 2^64, estimate = max(k, ⌊k/v̂ − 1 + 0.5⌋); m < k ⇒ exact m
      s"""WITH c AS (
        |  SELECT DISTINCT hash
        |  FROM read_parquet('${oracleSidePath("doc_chunks")}')),
        |t AS (
        |  SELECT CAST(COALESCE(SUM(size), 0) AS BIGINT) AS total_bytes,
        |    CAST(COUNT(*) AS BIGINT) AS occurrences
        |  FROM read_parquet('${oracleSidePath("doc_chunks")}')),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM c),
        |kth AS (
        |  SELECT fv FROM (
        |    SELECT xor(hash, (-9223372036854775807 - 1)) AS fv FROM c)
        |  ORDER BY fv LIMIT 1 OFFSET 1023),
        |est AS (
        |  SELECT CASE WHEN m.m < 1024 THEN m.m ELSE (
        |    SELECT GREATEST(1024, CAST(FLOOR(
        |      1024.0 / ((CAST(fv AS DOUBLE) + 9223372036854775808.0)
        |        / 18446744073709551616.0) - 1.0 + 0.5) AS BIGINT))
        |    FROM kth) END AS kmv
        |  FROM m)
        |SELECT t.total_bytes, t.occurrences,
        |  est.kmv AS kmv_unique_chunks,
        |  CAST(est.kmv AS DOUBLE)
        |    * (CAST(t.total_bytes AS DOUBLE) / CAST(t.occurrences AS DOUBLE))
        |    AS approx_unique_bytes,
        |  CAST(est.kmv AS DOUBLE)
        |    * (CAST(t.total_bytes AS DOUBLE) / CAST(t.occurrences AS DOUBLE))
        |    / CAST(t.total_bytes AS DOUBLE) AS approx_dedup_ratio
        |FROM t, est""".stripMargin,
    "stream_cdc" ->
      s"""WITH per AS (
        |  SELECT hash, MIN(size) AS size, SUM(size) AS occ
        |  FROM read_parquet('${oracleSidePath("doc_chunks")}') GROUP BY hash)
        |SELECT CAST(SUM(occ) AS BIGINT) AS total_bytes,
        |  CAST(SUM(size) AS BIGINT) AS unique_bytes,
        |  CAST(COUNT(*) AS BIGINT) AS unique_chunks,
        |  CAST(SUM(size) AS DOUBLE) / CAST(SUM(occ) AS DOUBLE) AS dedup_ratio
        |FROM per""".stripMargin,
    "stream_neardup" ->
      s"""WITH b AS (
        |  SELECT band, bucket, id FROM read_parquet('${oracleSidePath("stream_bands")}')),
        |m AS (
        |  SELECT a.id, MIN(c.id) AS match_id
        |  FROM b a JOIN b c
        |    ON a.band = c.band AND a.bucket = c.bucket AND c.id < a.id
        |  GROUP BY a.id)
        |SELECT d.doc_id, m.match_id, m.match_id IS NOT NULL AS is_neardup
        |FROM documents d LEFT JOIN m ON m.id = d.doc_id""".stripMargin,
    "stream_profile" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
        |  COUNT(*) AS n,
        |  quantile_disc(value, 0.25) AS p25,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.9) AS p90
        |FROM events GROUP BY 1""".stripMargin,
    "snapshot_diff" ->
      """WITH newsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, 'clone of ' || text AS text
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM documents o FULL JOIN newsnap n ON o.doc_id = n.doc_id""".stripMargin,
    // codec-free replay of decode→downsample→dHash→dedup: the grayscale
    // thumbnail re-derives from the fixture's arithmetic pixel truth
    // (identical integer downsample indices + luma), the 64 bits pack
    // through a HUGEINT two's-complement wrap, and the grouping replays
    // relationally — certifying the engine's REAL ImageIO path bit-exactly
    "mm_phash_dedup" ->
      s"""WITH ${phashTruthCtes(jitter = false)}
        |SELECT blob_id, phash,
        |  MIN(blob_id) OVER (PARTITION BY phash) AS visual_canonical,
        |  blob_id <> MIN(blob_id) OVER (PARTITION BY phash) AS is_visual_dup
        |FROM ph""".stripMargin,
    // sample-arithmetic replay of the audio fingerprint: per-frame
    // channel-sum, 65 integer energy windows, the same dHash bit chain
    // and HUGEINT wrap, then brute-force hamming <= 3 (full pigeonhole
    // recall, the dedup_simhash contract)
    "mm_audio_fp" ->
      """WITH dims AS (
        |  SELECT doc_id AS blob_id, doc_id // 2 AS g, doc_id % 2 AS edited,
        |    1 + (doc_id // 2) % 2 AS ch,
        |    8 * (100 + ((doc_id // 2) * 13) % 200) AS fr
        |  FROM documents),
        |fm AS (
        |  SELECT blob_id, (f.i * 65) // fr AS w,
        |    ABS(CASE WHEN edited = 1 AND f.i = 0 THEN 32767 * ch
        |      ELSE ((g * 1000003 + f.i * f.i * 7 + f.i * 911) % 65536 - 32768)
        |        + CASE WHEN ch = 2
        |            THEN ((g * 1000003 + f.i * f.i * 7 + f.i * 911 + 977)
        |              % 65536 - 32768)
        |            ELSE 0 END END) AS am
        |  FROM dims, generate_series(0, 2391) f(i) WHERE f.i < fr),
        |e AS (SELECT blob_id, w, SUM(am) AS energy FROM fm GROUP BY 1, 2),
        |hv AS (
        |  SELECT a.blob_id,
        |    SUM(CASE WHEN b.energy > a.energy
        |      THEN CAST(1 AS HUGEINT) << a.w
        |      ELSE CAST(0 AS HUGEINT) END) AS hh
        |  FROM e a JOIN e b ON a.blob_id = b.blob_id AND b.w = a.w + 1
        |  WHERE a.w < 64 GROUP BY 1),
        |ph AS (
        |  SELECT blob_id,
        |    CAST(CASE WHEN hh >= CAST(9223372036854775808 AS HUGEINT)
        |      THEN hh - CAST(18446744073709551616 AS HUGEINT) ELSE hh END
        |      AS BIGINT) AS fp
        |  FROM hv)
        |SELECT a.blob_id AS id_a, b.blob_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.blob_id < b.blob_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,
    // the near-dup twin: same arithmetic truth plus the jitter term;
    // pigeonhole banding has full recall at hamming <= 3, so the oracle
    // is brute-force bit_count(xor) — the dedup_simhash contract
    "mm_phash_neardup" ->
      s"""WITH ${phashTruthCtes(jitter = true)}
        |SELECT a.blob_id AS id_a, b.blob_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.blob_id < b.blob_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin,
    // CODEC-FREE video truth (videoTruthCtes): re-derive each keyframe's
    // 9x8 luma thumbnail from the Y4M fixture's arithmetic pixel
    // function (Multimodal.videoLuma — same integer keyframe/downsample
    // indices as videoKeyframeHashes), pack the dHash through the
    // HUGEINT two's-complement wrap, and replay the brute-force pair
    // set — certifying the real from-scratch Y4M parse + fingerprint
    // end to end with no parser in the truth path
    "mm_video_fp" ->
      s"""WITH $videoTruthCtes
        |SELECT a.vid AS id_a, b.vid AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM vf a JOIN vf b ON a.vid < b.vid
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
    // the streaming monitor's relational truth: a vid's match is the
    // smallest LOWER vid sharing any 16-bit pigeonhole block bucket
    // (candidate recall — no hamming verify, the stream_neardup
    // contract); bands derive from the same arithmetic sig chain.
    // (sig >> k) & 65535 on a signed BIGINT: the arithmetic shift's
    // sign-fill is masked off, so it equals the engine's logical shift
    "stream_video_fp" ->
      s"""WITH $videoTruthCtes,
        |bands AS (
        |  SELECT vid, b.g AS band, (sig >> (b.g * 16)) & 65535 AS bucket
        |  FROM vf, generate_series(0, 3) b(g)),
        |m AS (
        |  SELECT a.vid, MIN(b2.vid) AS match_id
        |  FROM bands a JOIN bands b2
        |    ON a.band = b2.band AND a.bucket = b2.bucket AND b2.vid < a.vid
        |  GROUP BY a.vid)
        |SELECT v.vid, m.match_id, m.match_id IS NOT NULL AS is_neardup
        |FROM vf v LEFT JOIN m ON m.vid = v.vid""".stripMargin,
    // keyframe evidence folded to the VIDEO-level dedup decision: blobs
    // match if ANY keyframe pair lands in the hamming ball, then
    // recursive min-label reach mirrors duplicateClusters
    "mm_video_dedup" ->
      s"""WITH RECURSIVE $videoTruthCtes,
        |p AS (
        |  SELECT a.vid AS va, b.vid AS vb FROM vf a JOIN vf b
        |  ON a.vid < b.vid WHERE bit_count(xor(a.sig, b.sig)) <= 3),
        |be AS (
        |  SELECT DISTINCT va // 4 AS id_a, vb // 4 AS id_b FROM p
        |  WHERE va // 4 <> vb // 4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM be
        |  UNION SELECT id_b AS src, id_a AS dst FROM be),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id""".stripMargin,
    // visual-duplicate clusters over the jittered image corpus: the
    // curation decision layer on top of mm_phash_neardup's pair
    // evidence (same truth CTEs, recursive reach)
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE ${phashTruthCtes(jitter = true)},
        |p AS (
        |  SELECT a.blob_id AS id_a, b.blob_id AS id_b FROM ph a JOIN ph b
        |  ON a.blob_id < b.blob_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id""".stripMargin,
    "q24_running_total" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(o_orderdate AS DATE) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_dec
        |  FROM orders GROUP BY 1, 2)
        |SELECT priority, strftime(d, '%Y-%m-%d') AS d,
        |  CAST(day_dec AS DOUBLE) AS day_total,
        |  CAST(SUM(day_dec) OVER (
        |    PARTITION BY priority ORDER BY d) AS DOUBLE) AS running_total
        |FROM daily""".stripMargin,
    "event_resample" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h
        |  FROM events),
        |c AS (SELECT event_type, h, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |s AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
        |t AS (SELECT DISTINCT event_type FROM e),
        |g AS (SELECT t.event_type,
        |  UNNEST(generate_series((SELECT h0 FROM s), (SELECT h1 FROM s)))
        |    AS h FROM t)
        |SELECT g.event_type, CAST(g.h AS BIGINT) AS h,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM g LEFT JOIN c ON c.event_type = g.event_type AND c.h = g.h""".stripMargin,
    "event_anomaly" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h
        |  FROM events),
        |c AS (SELECT event_type, h, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
        |  COUNT(*) AS n_hours FROM c GROUP BY 1)
        |SELECT c.event_type, CAST(c.h AS BIGINT) AS h,
        |  CAST(c.n AS BIGINT) AS n, total, n_hours,
        |  c.n * n_hours / total AS rate_ratio,
        |  c.n * n_hours > total * 2 AS is_spike,
        |  c.n * n_hours * 2 < total AS is_drop
        |FROM c JOIN t ON t.event_type = c.event_type""".stripMargin,
    "event_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort_day FROM a GROUP BY 1),
        |r AS (SELECT cohort_day, d - cohort_day AS day_offset,
        |    COUNT(*) AS users
        |  FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        |c AS (SELECT cohort_day, users AS cohort_size FROM r
        |  WHERE day_offset = 0)
        |SELECT CAST(r.cohort_day AS BIGINT) AS cohort_day,
        |  CAST(day_offset AS BIGINT) AS day_offset,
        |  CAST(users AS BIGINT) AS users,
        |  CAST(cohort_size AS BIGINT) AS cohort_size,
        |  users * 10000 // cohort_size AS retention_bp
        |FROM r JOIN c USING (cohort_day)""".stripMargin,
    "event_attribution" ->
      """WITH b AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |t AS (SELECT *,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN
        |      {'t_us': us, 't_id': event_id, 't_type': event_type} END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tc
        |  FROM b)
        |SELECT event_id, user_id, us AS purchase_us,
        |  tc.t_id AS touch_event_id, tc.t_type AS touch_type,
        |  us - tc.t_us AS gap_us,
        |  COALESCE(us - tc.t_us <= 604800000000, FALSE) AS attributed
        |FROM t WHERE event_type = 'purchase'""".stripMargin,
    "event_paths" ->
      """WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |s AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS step2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS step3
        |  FROM b)
        |SELECT step1, step2, step3, COUNT(*) AS n
        |FROM s WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3
        |LIMIT 20""".stripMargin,
    "event_streaks" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS d FROM events),
        |g AS (SELECT user_id, d,
        |  d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
        |  FROM a),
        |i AS (SELECT user_id, grp, MIN(d) AS start_day, MAX(d) AS end_day,
        |    COUNT(*) AS streak_days
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(start_day AS BIGINT) AS start_day,
        |  CAST(end_day AS BIGINT) AS end_day,
        |  CAST(streak_days AS BIGINT) AS streak_days
        |FROM i WHERE streak_days >= 2""".stripMargin,
    "event_rfm" ->
      """WITH p AS (
        |  SELECT user_id, MAX(epoch_us(ts) // 86400000000) AS last_day,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS monetary_dec
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT *, (SELECT MAX(last_day) FROM p) - last_day AS recency_days
        |  FROM p),
        |tr AS (
        |  SELECT user_id, frequency, monetary_dec,
        |    NTILE(3) OVER (ORDER BY recency_days ASC, user_id ASC)
        |      AS r_tercile,
        |    NTILE(3) OVER (ORDER BY frequency DESC, user_id ASC)
        |      AS f_tercile,
        |    NTILE(3) OVER (ORDER BY monetary_dec DESC, user_id ASC)
        |      AS m_tercile
        |  FROM s)
        |SELECT CAST(r_tercile AS BIGINT) AS r_tercile,
        |  CAST(f_tercile AS BIGINT) AS f_tercile,
        |  CAST(m_tercile AS BIGINT) AS m_tercile,
        |  COUNT(*) AS n_users,
        |  CAST(SUM(frequency) AS BIGINT) AS sum_events,
        |  CAST(SUM(monetary_dec) AS DOUBLE) AS sum_value
        |FROM tr GROUP BY 1, 2, 3""".stripMargin,
    "event_dau_wau" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS d FROM events),
        |dau AS (SELECT d, COUNT(*) AS dau FROM a GROUP BY d),
        |f AS (SELECT DISTINCT user_id,
        |    UNNEST(generate_series(d, d + 6)) AS wd FROM a),
        |wau AS (SELECT wd, COUNT(*) AS wau FROM f GROUP BY wd)
        |SELECT CAST(dau.d AS BIGINT) AS d, CAST(dau.dau AS BIGINT) AS dau,
        |  CAST(wau.wau AS BIGINT) AS wau,
        |  dau.dau * 10000 // wau.wau AS stickiness_bp
        |FROM dau JOIN wau ON wau.wd = dau.d""".stripMargin,
    "merge_apply" -> MergeApplySql,
    "merge_apply_evolve" ->
      s"""WITH ch AS (
        |  SELECT *, seq * 100 + doc_id % 7 AS rev FROM ($MergeChangelogSql)),
        |latest AS (
        |  SELECT doc_id, op, text, source, rev FROM (
        |    SELECT ch.*, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY seq DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT COALESCE(s.doc_id, l.doc_id) AS doc_id,
        |  CASE WHEN l.doc_id IS NULL THEN s.text ELSE l.text END AS text,
        |  CASE WHEN l.doc_id IS NULL THEN s.source ELSE l.source END AS source,
        |  CASE WHEN l.doc_id IS NULL THEN NULL ELSE l.rev END AS rev
        |FROM documents s FULL JOIN latest l ON s.doc_id = l.doc_id
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,
    // the streaming fold must land on the BATCH merge exactly — same SQL
    "stream_merge" -> MergeApplySql,
    "merge_stats" ->
      s"""WITH ch AS ($MergeChangelogSql),
        |latest AS (
        |  SELECT doc_id, op FROM (
        |    SELECT doc_id, op, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY seq DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT
        |  CAST(SUM(CASE WHEN l.op = 'U' AND s.doc_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS updated,
        |  CAST(SUM(CASE WHEN l.op = 'U' AND s.doc_id IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS inserted,
        |  CAST(SUM(CASE WHEN l.op = 'D' AND s.doc_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS deleted,
        |  CAST(SUM(CASE WHEN l.op IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS unchanged
        |FROM documents s FULL JOIN latest l ON s.doc_id = l.doc_id""".stripMargin,
    "key_skew" ->
      """WITH c AS (SELECT user_id AS key, COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |  COUNT(*) AS n_keys FROM c),
        |top AS (SELECT key, cnt FROM c
        |  ORDER BY cnt DESC, CAST(key AS VARCHAR) LIMIT 20)
        |SELECT CAST(key AS VARCHAR) AS key, cnt, total_rows, n_keys,
        |  cnt * n_keys / total_rows AS skew_ratio,
        |  CAST(CEIL(cnt * n_keys / total_rows) AS BIGINT) AS salt_buckets
        |FROM top, t""".stripMargin,
    "join_size_profile" ->
      """WITH a AS (SELECT user_id AS key, COUNT(*) AS cnt_a
        |  FROM events GROUP BY 1),
        |b AS (SELECT user_id AS key, COUNT(*) AS cnt_b
        |  FROM events GROUP BY 1),
        |j AS (SELECT a.key, cnt_a * cnt_b AS prod
        |  FROM a JOIN b USING (key)),
        |ta AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_left,
        |  COUNT(*) AS n_keys_left FROM a),
        |tb AS (SELECT CAST(SUM(cnt_b) AS BIGINT) AS n_right,
        |  COUNT(*) AS n_keys_right FROM b),
        |tj AS (SELECT CAST(COALESCE(SUM(prod), 0) AS BIGINT) AS join_rows,
        |  COUNT(*) AS n_common_keys FROM j),
        |top AS (SELECT CAST(key AS VARCHAR) AS top_key, prod AS top_key_rows
        |  FROM j ORDER BY prod DESC, CAST(key AS VARCHAR) LIMIT 1)
        |SELECT n_left, n_right, n_keys_left, n_keys_right, n_common_keys,
        |  join_rows, top_key, top_key_rows,
        |  join_rows / n_left AS amplification,
        |  top_key_rows / join_rows AS top_key_share
        |FROM ta, tb, tj LEFT JOIN top ON TRUE""".stripMargin,
    "dist_drift" -> DriftSql,
    // the streaming twin must land on the BATCH answer exactly — same SQL
    "stream_drift" -> DriftSql,
    "drift_by_source" ->
      """WITH newsnap AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, source, 'clone of ' || text AS text
        |  FROM documents WHERE doc_id % 13 = 0),
        |o AS (SELECT source, LEAST(31, octet_length(encode(text)) // 20) AS bucket,
        |        COUNT(*) AS old_n FROM documents GROUP BY 1, 2),
        |n AS (SELECT source, LEAST(31, octet_length(encode(text)) // 20) AS bucket,
        |        COUNT(*) AS new_n FROM newsnap GROUP BY 1, 2),
        |j AS (SELECT COALESCE(o.source, n.source) AS source,
        |        COALESCE(o.bucket, n.bucket) AS bucket,
        |        COALESCE(old_n, 0) AS old_n, COALESCE(new_n, 0) AS new_n
        |      FROM o FULL JOIN n ON o.source = n.source AND o.bucket = n.bucket),
        |t AS (SELECT source, CAST(SUM(old_n) AS BIGINT) AS ot,
        |        CAST(SUM(new_n) AS BIGINT) AS nt FROM j GROUP BY source)
        |SELECT j.source, CAST(bucket AS BIGINT) AS bucket, old_n, new_n,
        |  old_n / ot AS old_frac, new_n / nt AS new_frac,
        |  ABS(old_n / ot - new_n / nt) AS abs_drift,
        |  CAST(FLOOR(ABS(old_n / ot - new_n / nt) * 1000000000 + 0.5) AS BIGINT)
        |    AS drift_scaled
        |FROM j JOIN t ON j.source = t.source""".stripMargin,
    // generated per-column (never hand-transcribed) so Spark and SQL can
    // not drift on the column list
    "table_profile" -> {
      val base =
        """base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
          |  CAST(o_totalprice AS DECIMAL(18,2)) AS o_price_dec,
          |  CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderpriority END AS o_prio_nn,
          |  o_orderdate FROM orders)""".stripMargin
      ProfileCols
        .map(c =>
          s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
             |  COUNT(*) - COUNT($c) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_str,
             |  CAST(MAX($c) AS VARCHAR) AS max_str
             |FROM base""".stripMargin)
        .mkString(s"WITH $base\n", "\nUNION ALL\n", "")
    },
    "q18_grouping_sets" ->
      """SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10),
        |  (event_type, user_id % 10), ())""".stripMargin,
    "q22_scalar_subquery" ->
      """SELECT p_brand, COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue_small
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE 5 * CAST(l_quantity AS BIGINT) *
        |    (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |  < (SELECT SUM(CAST(l3.l_quantity AS BIGINT)) FROM lineitem l3
        |     WHERE l3.l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,
    "q23_setops" ->
      """WITH big AS (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0),
        |urgent AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |cohorts AS (
        |  SELECT 'both' AS cohort, o_custkey FROM (
        |    SELECT o_custkey FROM big INTERSECT SELECT o_custkey FROM urgent)
        |  UNION ALL
        |  SELECT 'big_only' AS cohort, o_custkey FROM (
        |    SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM urgent))
        |SELECT cohort, c_custkey, c_mktsegment
        |FROM cohorts JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q17_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,
    "pii_scrub" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    'contact ' || c_name ||
        |    CASE WHEN c_custkey % 3 = 0
        |         THEN ' <c' || CAST(c_custkey AS VARCHAR) || '@'
        |           || lower(c_mktsegment) || '.example.com>'
        |         ELSE ' <no-mail>' END ||
        |    ' tel ' || CAST(c_custkey % 90 + 10 AS VARCHAR)
        |      || '-' || CAST((c_custkey * 7) % 900 + 100 AS VARCHAR)
        |      || '-' || CAST((c_custkey * 13) % 900 + 100 AS VARCHAR)
        |      || '-' || CAST((c_custkey * 31) % 9000 + 1000 AS VARCHAR) ||
        |    CASE WHEN c_custkey % 5 = 0
        |         THEN ' ip ' || CAST(c_custkey % 224 + 1 AS VARCHAR)
        |           || '.' || CAST((c_custkey * 3) % 256 AS VARCHAR)
        |           || '.' || CAST((c_custkey * 5) % 256 AS VARCHAR)
        |           || '.' || CAST((c_custkey * 11) % 256 AS VARCHAR)
        |         ELSE '' END ||
        |    ' acct ' || CAST((c_custkey * 97) % 100000 + 900000 AS VARCHAR) AS t0
        |  FROM customer),
        |s1 AS (SELECT c_custkey,
        |  CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1 FROM p),
        |s2 AS (SELECT s1.*,
        |  CAST(len(regexp_extract_all(t1, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  regexp_replace(t1, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS t2 FROM s1),
        |s3 AS (SELECT s2.*,
        |  CAST(len(regexp_extract_all(t2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
        |  regexp_replace(t2, '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g') AS t3 FROM s2),
        |s4 AS (SELECT s3.*,
        |  CAST(len(regexp_extract_all(t3, '[0-9]{6,}')) AS BIGINT) AS n_number,
        |  regexp_replace(t3, '[0-9]{6,}', '[NUM]', 'g') AS t4 FROM s3)
        |SELECT c_custkey, t4 AS scrubbed, n_email, n_phone, n_ipv4, n_number,
        |  n_email + n_phone + n_ipv4 + n_number AS n_redactions
        |FROM s4""".stripMargin,
    "bloom_point_lookup" ->
      s"""WITH cells AS (SELECT * FROM read_parquet('${oracleSidePath("bloom_cells")}')),
        |md AS (
        |  SELECT row_group_id AS rg, row_group_num_rows AS num_rows,
        |    CAST(stats_min_value AS BIGINT) AS mn,
        |    CAST(stats_max_value AS BIGINT) AS mx
        |  FROM parquet_metadata('${oracleSidePath("bloom_data")}')
        |  WHERE path_in_schema = 'pk'),
        |spans AS (SELECT rg, num_rows,
        |  SUM(num_rows) OVER (ORDER BY rg) - num_rows AS first_row FROM md),
        |ord AS (SELECT doc_id * 7 AS pk,
        |  ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id * 7 AS VARCHAR))) - 1
        |    AS ridx
        |  FROM documents),
        |truth AS (SELECT o.pk AS key, s.rg AS true_rg
        |  FROM ord o JOIN spans s
        |    ON o.ridx >= s.first_row AND o.ridx < s.first_row + s.num_rows),
        |n AS (SELECT COUNT(*) AS n_rowgroups FROM md),
        |kb AS (
        |  SELECT c.key,
        |    CAST(SUM(CASE WHEN c.bloom_maybe THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_bloom_maybe,
        |    COALESCE(MAX(CASE WHEN c.rg = t.true_rg
        |      THEN CASE WHEN c.bloom_maybe THEN 1 ELSE 0 END END) = 1, TRUE)
        |      AS bloom_hits_true,
        |    CAST(COALESCE(MAX(t.true_rg), -1) AS BIGINT) AS true_rg
        |  FROM cells c LEFT JOIN truth t ON t.key = c.key
        |  GROUP BY c.key),
        |km AS (
        |  -- vacuous-truth contract, mirrored from the engine: a row group
        |  -- with no min/max stats must ADMIT every key (missing structure
        |  -- never fakes pruning), so NULL bounds count as mm_maybe = 1
        |  SELECT k.key,
        |    CAST(SUM(CASE WHEN m.mn IS NULL OR m.mx IS NULL
        |        OR k.key BETWEEN m.mn AND m.mx THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_mm_maybe,
        |    COALESCE(MAX(CASE WHEN m.rg = t.true_rg
        |      THEN CASE WHEN m.mn IS NULL OR m.mx IS NULL
        |        OR k.key BETWEEN m.mn AND m.mx THEN 1 ELSE 0 END
        |      END) = 1, TRUE) AS mm_hits_true
        |  FROM (SELECT DISTINCT key FROM cells) k
        |  CROSS JOIN md m
        |  LEFT JOIN truth t ON t.key = k.key
        |  GROUP BY k.key)
        |SELECT kb.key,
        |  EXISTS (SELECT 1 FROM documents d WHERE d.doc_id * 7 = kb.key)
        |    AS is_present,
        |  kb.true_rg, n.n_rowgroups, kb.n_bloom_maybe, km.n_mm_maybe,
        |  kb.bloom_hits_true, km.mm_hits_true
        |FROM kb JOIN km ON km.key = kb.key, n""".stripMargin,
    "cdc_logical" ->
      s"""WITH ph AS (
        |  SELECT hash, MIN(size) AS size, SUM(size) AS occ_bytes
        |  FROM read_parquet('${oracleSidePath("logical_phys_chunks")}') GROUP BY hash),
        |lg AS (
        |  SELECT hash, MIN(size) AS size, SUM(size) AS occ_bytes
        |  FROM read_parquet('${oracleSidePath("logical_page_chunks")}') GROUP BY hash)
        |SELECT 'physical' AS mode, CAST(SUM(occ_bytes) AS BIGINT) AS total_len,
        |  CAST(SUM(size) AS BIGINT) AS chunk_bytes,
        |  CAST(SUM(size) AS DOUBLE) / CAST(SUM(occ_bytes) AS DOUBLE) AS dedup_ratio
        |FROM ph
        |UNION ALL
        |SELECT 'logical' AS mode, CAST(SUM(occ_bytes) AS BIGINT) AS total_len,
        |  CAST(SUM(size) AS BIGINT) AS chunk_bytes,
        |  CAST(SUM(size) AS DOUBLE) / CAST(SUM(occ_bytes) AS DOUBLE) AS dedup_ratio
        |FROM lg""".stripMargin,
    "synthetic_grid" -> gridOracleSql(""),
    "format_compare" -> gridOracleSql("fmt_"),
    "rowgroup_profile" ->
      s"""SELECT row_group_id AS row_group, path_in_schema AS column_name,
        |  CAST(num_values AS BIGINT) AS num_values,
        |  CAST(total_compressed_size AS BIGINT) AS total_compressed_size,
        |  CAST(total_uncompressed_size AS BIGINT) AS total_uncompressed_size
        |FROM parquet_metadata('$oracleSfDir/lineitem.parquet')""".stripMargin
  ) ++ TextQueries.oracles ++ SimilarityQueries.oracles
}
