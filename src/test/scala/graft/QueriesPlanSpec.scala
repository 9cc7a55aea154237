package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan assertions for the scale-critical query shapes: the point
  * of bucketing is the ABSENCE of a shuffle, which only the executed plan
  * can prove.
  */
class QueriesPlanSpec extends SparkSpec {

  private val sfDir = sf()

  /** Count executed-plan nodes matching `pred`, recursing through AQE's
    * stage wrappers (which hide subtrees behind LEAF QueryStageExec
    * nodes — a plain children walk undercounts). Callers must have
    * collected the frame first so AQE is finalized.
    */
  private def countNodes(
      p: org.apache.spark.sql.execution.SparkPlan)(
      pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int = {
    val self = if (pred(p)) 1 else 0
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      // recurse into cached relations: operators that return a cached
      // result (hammingPairs) would otherwise hide their build plan —
      // and its exchanges — behind an InMemoryTableScan leaf
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case other => other.children
    }
    self + kids.map(countNodes(_)(pred)).sum
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // finalize AQE so the executed plan is the real one
    countNodes(df.queryExecution.executedPlan) {
      case _: ShuffleExchangeExec => true; case _ => false
    }
  }

  test("bucketed join: co-located buckets, ZERO shuffle on the join itself") {
    // force multi-partition file scans: a single-partition side satisfies
    // any clustering trivially, which would make the control vacuous
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
    try {
      val (li, orders) = Queries.bucketedPair(spark, sfDir)
      val joined = li.hint("merge")
        .join(orders, li("l_orderkey") === orders("o_orderkey"))
      assert(shuffles(joined) == 0,
        s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan}")
      // same join over the raw (unbucketed) parquet DOES shuffle both
      // sides — the control proving the bucketing removed them
      val rawLi = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val rawOrd = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val control = rawLi.hint("merge")
        .join(rawOrd, rawLi("l_orderkey") === rawOrd("o_orderkey"))
      assert(shuffles(control) == 2,
        s"control join should shuffle both sides:\n${control.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("salted join's executed plan keys the join and its shuffle on the salt") {
    import spark.implicits._
    // one key carries 10k of 10.2k rows — the distribution AQE's
    // post-shuffle stats may miss when a map-side combine hides it
    val fact = ((0L until 10000L).map(i => (i, 7L)) ++
      (0L until 200L).map(i => (10000L + i, i % 5)))
      .toDF("row_id", "k")
    val dim = (0L until 8L).map(i => (i, s"d$i")).toDF("dk", "tag")
    // force a SHUFFLE join: with the dim broadcastable there is no fact
    // exchange to inspect and the partitioning assertion would be vacuous
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val salted = graft.operators.SaltedJoin.saltedEquiJoin(
        fact, dim, col("k"), col("dk"), col("row_id"), buckets = 8)
      // collect() (not count()) so THIS df's QueryExecution runs and AQE
      // finalizes — count() spawns a separate execution and would leave
      // the inspected plan non-finalized
      assert(salted.collect().length == 10200)
      // the PLAN must prove the mitigation: __salt participates in the
      // join keys and in the fact-side hash shuffle, so the hot key's
      // rows route by (key, salt), not by key alone — a plain join would
      // pass an output-only check because output rows are salt-invariant
      val plan = salted.queryExecution.executedPlan.toString
      val joinLine = plan.linesIterator
        .find(l => l.contains("Join") && l.contains("__fk"))
      assert(joinLine.exists(_.contains("__salt")),
        s"join keys must include __salt:\n$plan")
      val factExchanges = plan.linesIterator
        .filter(l => l.contains("hashpartitioning") && l.contains("__fk"))
        .toSeq
      assert(factExchanges.nonEmpty && factExchanges.forall(_.contains("__salt")),
        s"fact-side shuffle must partition by (key, salt):\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("bigram LM model joins broadcast (text never reshuffles for the model)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val scored = graft.operators.TextAnalysis.bigramLmScore(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    scored.collect()
    assert(countNodes(scored.queryExecution.executedPlan) {
      case _: BroadcastHashJoinExec => true; case _ => false
    } == 2,
      s"both model joins must broadcast:\n${scored.queryExecution.executedPlan}")
    // ONE corpus scan: the model counts derive from the same per-(doc,
    // bigram) shuffle the scoring join reads, so the executed plan must
    // reuse that exchange rather than re-scan + re-explode the text.
    // Count actual FileSourceScanExec nodes in the EXECUTED tree, treating
    // ReusedExchange as a leaf (the toString would double-count: AQE prints
    // initial + final plans, and reused branches echo their origin subtree)
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
        case _ => 0
      }
      val kids = p match {
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq.empty
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(scans).sum
    }
    val n = scans(scored.queryExecution.executedPlan)
    assert(n == 1,
      s"documents must be scanned exactly once (reused exchange), saw $n:\n" +
        scored.queryExecution.executedPlan)
  }

  test("doc_select_topk plans as partial+final aggregation, never a window sort") {
    // the scale contract (VERDICT r4 #1): per-source top-k must not funnel
    // each source's full score set through one window-sort task; the
    // executed plan must carry the bounded aggregate on both sides of ONE
    // exchange and no Window/Sort-by-source stage
    val df = SparkEntry.queries("doc_select_topk")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window sort crept back:\n$plan")
    assert(plan.toLowerCase.contains("partial"),
      s"expected partial aggregation before the exchange:\n$plan")
    assert(shuffles(df) <= 2, // agg exchange (+ AQE-kept scan coalesce at most)
      s"top-k should shuffle only k-bounded buffers:\n$plan")
  }

  test("key_skew plans as TakeOrdered top-k over partial-combined counts") {
    // the profiler's contract: one map-side-combined count exchange plus a
    // k-bounded TakeOrderedAndProject — never a global sort of the count
    // relation or a per-row corpus window
    val df = SparkEntry.queries("key_skew")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Window"), s"no window over the counts:\n$plan")
    assert(plan.toLowerCase.contains("partial"),
      s"count aggregation must combine map-side:\n$plan")
  }

  test("join_size_profile joins count relations, never corpus rows") {
    // |A join B| forecast: the only join inputs are the per-key count
    // aggregates (each partial-combined); events rows themselves never
    // meet in a join
    val df = SparkEntry.queries("join_size_profile")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial"),
      s"count aggregation must combine map-side:\n$plan")
    assert(!plan.contains("Window"), s"no window anywhere:\n$plan")
    // sanity: the one-row totals meet via broadcast, not exchanges
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"totals should broadcast:\n$plan")
  }

  test("dedup_keep_best decides by aggregate+join, never a window sort") {
    // the retention argmax must stay a bounded partial+final aggregate
    // over the clustered subset — a per-cluster window over the corpus
    // is the plan this operator exists to avoid
    val df = SparkEntry.queries("dedup_keep_best")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window sort crept back:\n$plan")
  }

  test("emb_drift shuffles only post-aggregate (label, dim) rows") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    val df = SparkEntry.queries("emb_drift")(spark, sfDir)
    val nShuffles = shuffles(df) // collects, finalizing AQE
    // every exchange must sit directly above a (partial) aggregate: the
    // dim-exploded corpus rows collapse map-side and never cross the wire
    @annotation.tailrec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case other => other
    }
    val bare = countNodes(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => !unwrap(e.child).isInstanceOf[BaseAggregateExec]
      case _ => false
    }
    assert(bare == 0,
      s"an exchange carries pre-aggregate rows:\n${df.queryExecution.executedPlan}")
    assert(nShuffles <= 4,
      s"expected dim-sum + final-agg exchanges only:\n${df.queryExecution.executedPlan}")
  }

  test("ivf-pq: probe join broadcasts; only bounded relations shuffle") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.operators.Similarity.ivfPqTopK(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding",
      (0L until 8L), k = 5)
    // shuffles() collects (finalizing AQE), so run it first — asserting
    // bhj afterwards reuses the same single execution
    val nShuffles = shuffles(df)
    val nBhj = countNodes(df.queryExecution.executedPlan) {
      case _: BroadcastHashJoinExec => true; case _ => false
    }
    assert(nBhj >= 1,
      s"the probes side must broadcast (the corpus side never shuffles " +
        s"raw vectors):\n${df.queryExecution.executedPlan}")
    // the only exchanges allowed are over the codes-wide relations
    // (dedup guard + final per-query ranking) — never the vec column
    assert(nShuffles <= 3,
      s"PQ scoring must not shuffle the corpus:\n${df.queryExecution.executedPlan}")
  }

  test("zorder_layout: bounds broadcast, exactly one aggregation shuffle") {
    val df = Queries.all("zorder_layout")(spark, sfDir)
    val n = shuffles(df)
    // the bounds row reaches every task via broadcast cross join and the
    // quantize/interleave pass is narrow — the per-bucket stats agg is
    // the query's only exchange (its partial/final split may surface as
    // one exchange per layout branch under AQE, never more)
    assert(n <= 2,
      s"zorder_layout must shuffle only the bucket agg:\n${df.queryExecution.executedPlan}")
    val bc = countNodes(df.queryExecution.executedPlan) {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
      case _ => false
    }
    assert(bc >= 1, "bounds row must broadcast, not shuffle")
  }

  test("q15 results match the plain join regardless of bucketing") {
    val bucketed = Queries.all("q15_bucketed_join")(spark, sfDir)
      .orderBy("o_orderpriority").collect().toSeq
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val plain = li
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(bucketed == plain)
  }

  test("q22's per-part scalars run as ONE combined aggregate — no nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q22_scalar_subquery")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(countNodes(plan) {
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
      case _ => false
    } == 0, s"per-part scalars must run as aggregate-joins:\n$plan")
    // the round-20 shape: count AND sum come from ONE grouped pass, so
    // lineitem is scanned exactly twice (main + the combined aggregate) —
    // Catalyst's own per-subquery decorrelation scanned it three times
    val liScans = countNodes(plan) {
      case f: FileSourceScanExec =>
        f.relation.location.inputFiles.exists(_.contains("lineitem"))
      case _ => false
    }
    // <= 2, not == 2: the regression being guarded is the 3-scan
    // decorrelated shape; a future AQE/exchange-reuse improvement that
    // collapses the two scans into one is a win, not a failure
    assert(liScans <= 2,
      s"expected <=2 lineitem scans (main + combined per-part aggregate), got $liScans:\n$plan")
  }

  test("q23's INTERSECT/EXCEPT rewrite to semi/anti joins") {
    val df = SparkEntry.queries("q23_setops")(spark, sfDir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("LeftSemi"), s"INTERSECT must plan as a semi join:\n$s")
    assert(s.contains("LeftAnti"), s"EXCEPT must plan as an anti join:\n$s")
  }

  test("ivfAppendAssign fold: one batch scan, broadcasts, <=k-row exchange") {
    import spark.implicits._
    val newBatch = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 4 === 2)
    val cents = Array(Array.fill(64)(0L), Array.fill(64)(500L))
    val counts = Seq((0L, 3L), (1L, 4L)).toDF("bucket", "n_base")
    val fold = graft.operators.Similarity
      .ivfAppendAssign(newBatch, "vec_id", "embedding", cents, counts)
    fold.collect()
    val plan = fold.queryExecution.executedPlan
    // every file scan carries the batch filter — the indexed corpus is
    // structurally out of reach of any plan this operator can produce.
    // (Spark recomputes the batch scan inside the count-agg branch, so
    // the COUNT of scans is 2; what matters is that none is unfiltered.)
    val scans = countNodes(plan) {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }
    val batchScans = countNodes(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.dataFilters.exists(_.toString.contains("% 4"))
      case _ => false
    }
    assert(scans >= 1 && scans == batchScans,
      s"every scan must be the filtered new batch ($batchScans of $scans):\n$plan")
    assert(countNodes(plan) {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    } == 2, s"bucket metadata joins must broadcast:\n$plan")
    // the only exchange is the <=k-row per-bucket count aggregation
    assert(countNodes(plan) {
      case _: ShuffleExchangeExec => true; case _ => false
    } <= 1, s"only the k-row count agg may exchange:\n$plan")
  }

  test("event_attribution: ONE exchange — the user_id window partition") {
    val df = SparkEntry.queries("event_attribution")(spark, sfDir)
    assert(shuffles(df) == 1,
      s"last-touch carry-forward needs exactly the user_id exchange:\n" +
        s"${df.queryExecution.executedPlan}")
  }

  test("event_retention: corpus collapses at the distinct; size join broadcasts") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    val df = SparkEntry.queries("event_retention")(spark, sfDir)
    val n = shuffles(df)
    // distinct + user agg + join-side + cell rollup: all further
    // exchanges move the bounded user-days relation, never raw events
    assert(n <= 5, s"too many exchanges:\n${df.queryExecution.executedPlan}")
    @annotation.tailrec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case other => other
    }
    // the corpus-width exchange is the DISTINCT — a partial aggregate
    // sits below it, so raw event rows collapse map-side before the wire
    val preAggScan = countNodes(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec =>
        unwrap(e.child) match {
          case _: BaseAggregateExec => false
          // join/window inputs re-exchange the post-distinct relation;
          // those subtrees contain an aggregate between scan and wire
          case other => !other.exists(_.isInstanceOf[BaseAggregateExec])
        }
      case _ => false
    }
    assert(preAggScan == 0,
      s"an exchange carries raw event rows:\n${df.queryExecution.executedPlan}")
    val bc = countNodes(df.queryExecution.executedPlan) {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
      case _ => false
    }
    assert(bc >= 1, "cohort-size join must broadcast")
  }

  test("emb_pca_project: vectors NEVER shuffle — zero exchanges") {
    val df = SparkEntry.queries("emb_pca_project")(spark, sfDir)
    assert(shuffles(df) == 0,
      s"projection must be a narrow map over the scan:\n" +
        s"${df.queryExecution.executedPlan}")
  }

  test("dedup_containment: candidates via equi-joins only — no cartesian shape") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the asymmetric prefix filter must keep the whole pipeline in
    // hash/sort equi-joins: any nested-loop or cartesian node means the
    // candidate generation degenerated to all-pairs
    val df = SparkEntry.queries("dedup_containment")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bad = countNodes(plan) {
      case _: BroadcastNestedLoopJoinExec => true
      case _: CartesianProductExec => true
      case _ => false
    }
    assert(bad == 0, s"cartesian/nested-loop join in containment plan:\n$plan")
    graft.operators.SessionCaches.release()
  }

  test("mm_video_fp: no exchange ever carries blob bytes") {
    // "blobs never shuffle" as a physical-plan fact: every exchange in
    // the end-to-end pair search (including those inside hammingPairs'
    // cached build, reached via the InMemoryTableScan recursion) moves
    // only (id, sig)/pair rows — no binary column crosses the wire
    val df = SparkEntry.queries("mm_video_fp")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(countNodes(plan) { case _: ShuffleExchangeExec => true; case _ => false } > 0,
      s"expected the pair search to contain exchanges:\n$plan")
    assert(countNodes(plan) {
      case e: ShuffleExchangeExec =>
        e.output.exists(_.dataType == org.apache.spark.sql.types.BinaryType)
      case _ => false
    } == 0, s"an exchange carries blob bytes:\n$plan")
    graft.operators.SessionCaches.release()
  }

  test("event_sessions: ONE user_id exchange feeds window AND session agg") {
    // sessionization contract (VERDICT r9 #3): the gap-window and the
    // downstream groupBy(user_id, session_idx) must share a single
    // user_id hash exchange — HashPartitioning(user_id) satisfies the
    // agg's ClusteredDistribution(user_id, session_idx) because the
    // partitioning keys are a subset, so a second shuffle would mean the
    // plan regressed to re-clustering the whole event stream
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = SparkEntry.queries("event_sessions")(spark, sfDir)
    val n = shuffles(df) // collects, finalizing AQE
    val plan = df.queryExecution.executedPlan
    assert(n == 1, s"sessionization must shuffle exactly once, saw $n:\n$plan")
    val keyed = countNodes(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)) == Seq("user_id")
        case _ => false
      }
      case _ => false
    }
    assert(keyed == 1, s"the one exchange must key on user_id alone:\n$plan")
    assert(plan.toString.contains("Window"),
      s"expected the session-gap window:\n$plan")
  }

  test("q16_interval_join: bin-bucketed equi-join, never a nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the RangeJoin decomposition's whole point: the BETWEEN predicate
    // runs as a hash equi-join on (user_id, bin) — any nested-loop or
    // cartesian node means it degenerated to the all-pairs plan
    val df = SparkEntry.queries("q16_interval_join")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bad = countNodes(plan) {
      case _: BroadcastNestedLoopJoinExec => true
      case _: CartesianProductExec => true
      case _ => false
    }
    assert(bad == 0, s"cartesian/nested-loop in interval-join plan:\n$plan")
    // the interval predicate must run as a HASH equi-join whose keys
    // include the bin column (__bin) next to the user key (__lk/__rk) —
    // broadcast or shuffled are both fine (broadcast is the right call
    // when the anchor side is small; at 100 TB both sides shuffle on the
    // same keys), the invariant is the equi-keys themselves
    import org.apache.spark.sql.execution.joins.HashJoin
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val binKeyed = countNodes(plan) {
      case j: HashJoin =>
        j.leftKeys.flatMap(_.references.map(_.name)).contains("__bin")
      case j: SortMergeJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name)).contains("__bin")
      case _ => false
    }
    assert(binKeyed >= 1, s"join must equi-key on (__lk, __bin):\n$plan")
  }
}
