package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Profile, Seam}
import graft.queries.Registry

/** Physical-plan regression guards: the scale properties argued in the
  * README (pushdown, broadcast, top-k without global sort) must be visible
  * in the executed plan, not just intended. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).build(spark, dir).queryExecution.executedPlan.toString

  /** The executed plans of every action `name`'s build runs, one string.
    * For queries that collect a bounded intermediate on the driver (the
    * hybrid searches return a local frame), the scale properties live in
    * those actions' plans, not in the returned frame's. A first build warms
    * the query's index caches (its window drains the bus before the
    * listener registers), so only the steady-state read is captured. */
  private def actionPlans(name: String): String = {
    val q = Registry.byName(name)
    Profile.window(spark.sparkContext)(q.build(spark, dir))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the window's closing sentinel drains the listener bus: every action
    // of the build has been reported once it returns
    try Profile.window(spark.sparkContext)(q.build(spark, dir))
    finally spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, s"$name ran no action")
    plans.toArray.mkString("\n")
  }

  test("predicate scan pushes filters into parquet and prunes columns") {
    val p = plan("s2_predicate_scan")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus)"), p.take(2000))
    assert(p.contains(
      "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double>"))
    assert(!p.contains("o_orderdate")) // pruned away
  }

  test("dimension joins broadcast; top-k is TakeOrderedAndProject") {
    val p = plan("q3_topk_join")
    // Small inputs broadcast because the size statistics say so (stats/AQE),
    // not because of a forced hint that would OOM at 100x scale.
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("no forced broadcast hints on fact-sized tables (q3/q5)") {
    def hints(name: String): Int =
      "strategy=broadcast".r
        .findAllIn(Registry.byName(name).build(spark, dir).queryExecution.optimizedPlan.toString)
        .size
    // q3 joins lineitem-orders-customer: all grow with the data; zero hints.
    assert(hints("q3_topk_join") === 0)
    // q5 may hint only the nation x region dimension (<= 25 rows forever).
    assert(hints("q5_region_revenue") <= 1)
  }

  test("forced broadcast hints only target fixed-size dims (every relational query)") {
    // nation (25 rows) and region (5 rows) are constant-size forever; every
    // other TPC-H-ish table grows with sf, so a forced hint on one is a
    // 100x-scale OOM. Hints are checked on the analyzed plan (the optimizer
    // folds ResolvedHint into JoinHint, losing the subtree).
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    for (q <- graft.queries.Relational.qs) {
      val analyzed = q.build(spark, dir).queryExecution.analyzed
      analyzed.foreach {
        // only BROADCAST pins a build side into memory; merge/shuffle hints
        // (q_bucketed_join) pick among shuffle-safe strategies and are fine
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          // allowed: plan-bounded row counts — global aggregates
          // (maxRows=1) keep the tight bound; only NARROW LIMIT-bounded
          // subtrees (sketch grids: ≤ 3 columns) get the wider one, so a
          // LIMIT-4000 slice of wide fact rows still fails the net
          val bounded = h.child.maxRows.exists(m =>
            m <= 1000 || (m <= 4096 && h.child.output.length <= 3))
          val outs = h.child.output.map(_.name)
          assert(bounded || outs.forall(c => c.startsWith("n_") || c.startsWith("r_")),
            s"${q.name}: forced broadcast over non-dim columns ${outs.filterNot(c => c.startsWith("n_") || c.startsWith("r_"))}")
        case _ => ()
      }
    }
  }

  test("brute-force ANN never globally sorts the corpus") {
    val p = plan("v_ann_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("float_vector_dot")) // the codegen expression is in the plan
  }

  test("persisted IVF probe reads only its list partitions") {
    // the benched ANN path: the scan must carry PartitionFilters on list_id
    // (nProbe/nLists of the corpus), never a full assignments read
    val p = plan("ann_ivf_store_probe")
    assert(p.contains("PartitionFilters: [") && p.contains("list_id"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("persisted SRP probe reads only its bucket partition") {
    val p = plan("ann_srp_store_probe")
    assert(p.contains("PartitionFilters: [") && p.contains("abucket"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("ANN-routed hybrid e2e: partition-pruned probe inside the full pipeline") {
    // the engine's routed read path (q_hybrid_ann): the candidate scan must
    // be the pruned index-partition read, broadcast back onto the corpus —
    // NEVER a corpus-wide vector scan or a shuffled candidate join. The
    // re-rank runs on the driver over the collected candidates.
    val p = actionPlans("q_hybrid_ann")
    assert(p.contains("PartitionFilters: [") && p.contains("abucket"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject")) // the probe's top-k
    assert(p.contains("BroadcastHashJoin")) // ≤ 2·limit candidates broadcast
    assert(!p.contains("float_vector_dot(vector"), // no brute-force corpus scan:
      "corpus-wide dot product found in the ANN-routed plan") // dot runs on
    assert(!p.contains("CartesianProduct"))        // probed bucket rows only
  }

  test("sync reconciliation is a single full-outer shuffle join") {
    val p = plan("j1_sync_plan")
    assert(p.contains("FullOuter"))
  }

  test("as-of join is a timeline sweep, not a nested-loop join") {
    val p = plan("j_asof_attrib")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window")) // the last_value sweep
    // one shuffle for the union'd timeline, one for the final orderBy
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(2000))
  }

  test("range join is an equi-join on (key, bucket), not a nested loop") {
    val p = plan("j_range_follow")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("bucketed fact join: zero Exchange below the join, bucketed scans") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("Bucketed: true"), p.take(3000))
    assert(p.contains("SelectedBucketsCount: 16 out of 16"), p.take(3000))
    // the bucketed layout satisfies the join's distribution requirement, so
    // the only exchanges are the post-join aggregation and the output sort
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(3000))
  }

  test("indexed BM25 probe: token filter pushed into the postings scan") {
    val p = actionPlans("q_hybrid_idx")
    // the query's tok IN (...) must reach the postings parquet as a pushed
    // filter — an unpushed filter means every probe scans the whole
    // inverted index
    assert(p.contains("PushedFilters: [In(tok"), p.take(3000))
  }

  test("aggregator top-k: partial aggregation, no per-group window sort") {
    val p = plan("w_topk_agg")
    // the bounded-buffer Aggregator must run as a two-phase (partial →
    // final) object-hash aggregate; a Window node here would mean the
    // whole fact table is sort-shuffled before discarding all but k
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert("partial_topkaggregator|partial_\\w*TopKAggregator".r
      .findFirstIn(p.toLowerCase).isDefined || p.contains("isMerge=false") ||
      p.contains("Partial"), p.take(2000))
    assert(!p.contains("Window"), "window sort found in the aggregator plan")
  }

  test("sequence packing is one shuffle on the stream key plus the output sort") {
    val p = plan("t_pack_sequences")
    // one Exchange partitions the (lang, shard) streams for the running-sum
    // window; the only other exchange is the final presentation orderBy.
    // A third would mean the window or the projection re-shuffled.
    assert(p.contains("Window"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(2000))
    // running sum must use the streaming frame, not a re-scanned range frame
    assert(p.contains("unboundedpreceding"), p.take(2000))
  }

  test("streaming is absent from batch plans; pivot has no distinct scan") {
    // explicit pivot values ⇒ the plan must NOT contain a first collect-
    // distinct aggregation over event_type before the pivot aggregation
    val p = plan("a_pivot_events")
    assert(!p.contains("collect_distinct"))
  }

  test("corpus-stats scalars broadcast; tfidf/pmi have no cartesian blowup") {
    // t_tfidf_topterms and t_pmi_collocations crossJoin 1-row global
    // aggregates (N docs / N pairs / N tokens): that must stay a broadcast
    // nested-loop against a single row — a CartesianProduct here would be
    // a corpus x corpus disaster at scale. The per-doc window in tfidf
    // sorts each doc's own term set only (bounded by doc length), never a
    // global Sort of the (doc, term) table outside the exchange.
    for (name <- Seq("t_tfidf_topterms", "t_pmi_collocations")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(2000))
      assert(p.contains("BroadcastNestedLoopJoin"), s"$name:\n" + p.take(2000))
    }
  }

  test("dhash near-dup and cluster select: band-keyed equi-joins, no cartesian") {
    // m_dhash_near_dup's candidate stage must be an EQUI-join on
    // (band index, band value) — the hamming verify runs on candidates
    // only; an all-pairs (cartesian or nested-loop) formation would be
    // corpus² at scale. v_cluster_select's assignment passes are pure map
    // work against driver-side centroid literals: any join at all in that
    // plan means the centroids leaked into a shuffle.
    val pd = plan("m_dhash_near_dup")
    assert(!pd.contains("CartesianProduct"), pd.take(2000))
    assert(!pd.contains("BroadcastNestedLoopJoin"), pd.take(2000))
    assert(pd.contains("SortMergeJoin") || pd.contains("ShuffledHashJoin") ||
      pd.contains("BroadcastHashJoin"), pd.take(2000))
    val pc = plan("v_cluster_select")
    assert(!pc.contains("CartesianProduct"), pc.take(2000))
    assert(!pc.contains("Join"), pc.take(2000)) // centroids are literals, not a side

    // the pair stream must carry NO aggregate: cross-band duplicates are
    // removed by the first-matching-band FILTER (a per-row expression),
    // not a distinct — the distinct's partial aggregate inside the
    // quadratic bucket-join stage was a measured 7.5 GB single-task spill
    // at 30× inflation (PERF.md round 9). A HashAggregate reappearing in
    // this plan means the cliff is back.
    assert(!pd.contains("HashAggregate"), pd.take(3000))
    assert(!pd.contains("ObjectHashAggregate"), pd.take(3000))
  }

  test("sketches: HLL/KMV plans are scan + tiny aggregate, KMV top-k bounded") {
    // a_hll_distinct: one scan → 64-row partial-aggregated shuffle; the
    // only join is the 1-row exact-count ride-along (broadcast nested loop
    // against one row is fine). a_kmv_distinct: the bottom-k must be a
    // TakeOrdered, never a global Sort of the hash set.
    val ph = plan("a_hll_distinct")
    assert(!ph.contains("CartesianProduct"), ph.take(2000))
    val pk = plan("a_kmv_distinct")
    assert(pk.contains("TakeOrderedAndProject"), pk.take(2000))
    assert(!pk.contains("CartesianProduct"), pk.take(2000))
  }

  test("funnel and triangles: staged equi-joins only, no cartesian") {
    // e_funnel: three per-user pre-aggregations chained by user_id equi-
    // joins; g_triangles: the wedge join must close on (a, b) equality.
    // Either degrading to CartesianProduct would be event²/edge² at scale.
    for (name <- Seq("e_funnel", "g_triangles")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(2000))
    }
  }

  test("dsir: bucket models broadcast, top-k is TakeOrdered, no cartesian") {
    // the B=512 log-ratio table must reach the corpus-sized (doc, bucket)
    // counts as a BROADCAST hash join (it is a fixed-size dim at any
    // corpus scale), the 1-row totals as a broadcast nested loop, and the
    // final top-100 as TakeOrderedAndProject — a global sort or a
    // shuffled join here would not survive a 100x corpus.
    val p = plan("t_dsir_select")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("span ops: gram/positional joins are shuffles, never cartesian") {
    // d_span_dedup joins corpus-sized gram and position streams twice
    // (dup-gram semi-join, covered-position anti-join) and
    // t_span_corruption runs a positional window + two joins — any of
    // them degrading to a nested-loop product would be corpus × corpus
    for (name <- Seq("d_span_dedup", "t_span_corruption", "d_cdc_chunks")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n" + p.take(2000))
    }
  }

  test("subquery shapes decorrelate: semi/anti joins, no correlated re-execution") {
    // q18's IN-subquery and q22's NOT EXISTS must become JOINS against the
    // aggregated/filtered subquery — a correlated per-row probe would be
    // O(rows x subquery) at scale. q22's scalar average is a broadcast of
    // ONE row; none of the four may degrade to a cartesian product.
    for (name <- Seq("q18_large_orders", "q2_min_cost_supplier",
        "q21_sole_late_supplier", "q22_idle_customers")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(2000))
    }
    val q22 = plan("q22_idle_customers")
    assert(q22.contains("LeftAnti"), q22.take(2000))
    assert(q22.contains("BroadcastNestedLoopJoin"), q22.take(2000))
  }

  test("salted join shuffles the fact on (key, salt), not key alone") {
    // event_type has 5 distinct values: an unsalted shuffle join uses 5
    // reducers forever. The salted plan's fact-side exchange must hash on
    // (event_type, _salt) — 80 reduce streams — through a shuffle join, not
    // a broadcast that would quietly discard the salting being exercised.
    val p = plan("j_skew_salted_join")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert("hashpartitioning\\(event_type#\\d+L?, _salt#\\d+".r.findFirstIn(p).isDefined,
      p.take(3000))
  }

  test("seeded IVF/PQ ANN: no cartesian, bounded top-k, assignment is map work") {
    // ann_ivf_topk: the probe is an isin filter + dot rerank — the final
    // top-k must be TakeOrdered (never a global sort) and the centroid
    // assignment must stay per-row UDF work against driver-side literals
    // (a join would mean the k×dim centroids leaked into a shuffle).
    // ann_pq_topk: the asymmetric distance is per-row table lookups; same
    // bounds apply.
    for (name <- Seq("ann_ivf_topk", "ann_pq_topk")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(2000))
      assert(p.contains("TakeOrderedAndProject"), s"$name:\n" + p.take(2000))
    }
  }

  test("LSH verify stage routes the pair list by measured count, never an unbounded forced broadcast") {
    // ops/Dedup.routedPairJoin: below the threshold the pair list is a
    // forced broadcast (big sides never shuffle); above it the SAME join
    // must run as a shuffle join on the pair keys — an oversized forced
    // broadcast trips the 8 GB hard limit / driver OOM at crawl scale.
    // autoBroadcast is disabled so the above-threshold plan can't quietly
    // re-broadcast from size estimates at toy scale.
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      keys.foreach(conf.set(_, "-1"))
      import spark.implicits._
      val docs = (0 until 30).map(i => (i.toLong, Seq(s"a$i", s"b${i % 3}")))
        .toDF("doc_id", "shs")
      val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
      def plan(limit: Long) = Seam.scoped(seam =>
        Dedup.jaccardOnPairs(seam, pairs, docs, "doc_id", "shs", limit)
          .queryExecution.executedPlan.toString)
      val below = plan(-1L)
      assert(below.contains("BroadcastHashJoin"), below.take(2000))
      val above = plan(0L)
      assert(!above.contains("BroadcastExchange"), above.take(2000))
      assert(above.contains("ShuffledHashJoin"), above.take(2000))
    } finally saved.foreach { case (k, v) =>
      v match { case Some(s) => conf.set(k, s); case None => conf.unset(k) }
    }
  }

  test("verify-leg exchanges carry 64-bit-hashed shingles, not the strings") {
    // the r12 payload-width fix: jaccardOnPairs must project the shingle
    // arrays to xxhash64 longs BEFORE the join, so the (shuffle-route)
    // exchanges move 8-byte elements instead of 5-gram strings — the
    // measured difference between 182 GB and 29.5 GB of spill at the 100×
    // regime. Pin the join inputs' schema: if the transform is dropped,
    // the string arrays silently reappear and only a re-stress would see
    // it; this catches the regression at test time.
    import graft.ops.Dedup
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, Seq(s"a$i", s"b${i % 3}")))
      .toDF("doc_id", "shs")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val seam = Seam()
    val verified = Dedup.jaccardOnPairs(seam, pairs, docs, "doc_id", "shs",
      maxBroadcastPairs = 0L) // force the shuffle route (payload exchanges)
    // the OPTIMIZED logical plan (the executed plan is an AQE wrapper whose
    // children only materialize at runtime): the join inputs' _shs_a/_shs_b
    // attributes are what the exchanges will carry
    val plan = verified.queryExecution.optimizedPlan
    val shsAttrs = plan.flatMap(_.output).filter(a =>
      a.name == "_shs_a" || a.name == "_shs_b")
    assert(shsAttrs.nonEmpty, "verify payload columns not found in the plan")
    shsAttrs.foreach { a =>
      assert(a.dataType === ArrayType(LongType, containsNull = false) ||
        a.dataType === ArrayType(LongType, containsNull = true),
        s"${a.name} carries ${a.dataType} — the hashed-shingle projection " +
          "was dropped (string payloads back in the exchange)")
      assert(a.dataType.asInstanceOf[ArrayType].elementType !== StringType)
    }
    try assert(verified.count() >= 0) // the routed plan still executes
    finally seam.close()
  }

  test("delta-dedup candidate-id semi-join routes by measured count like the pair join") {
    // ops/Dedup.routedSemiJoin: the shape d_delta_dedup (and the streaming
    // twin) uses to restrict shingling to candidate-touched docs. Same
    // discipline as routedPairJoin — broadcast only a counted-bounded id
    // set, shuffle-semi above the threshold; a "small by construction"
    // forced broadcast is exactly the class the verify stage already
    // closed, so both physical routes are pinned here too.
    import graft.ops.Dedup
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      keys.foreach(conf.set(_, "-1"))
      import spark.implicits._
      val docs = (0 until 30).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
      val ids = Seq(1L, 4L, 9L).toDF("doc_id")
      def plan(limit: Long) = Seam.scoped(seam =>
        Dedup.routedSemiJoin(seam, docs, ids, "doc_id", limit)
          .queryExecution.executedPlan.toString)
      val below = plan(-1L)
      assert(below.contains("BroadcastHashJoin"), below.take(2000))
      val above = plan(0L)
      assert(!above.contains("BroadcastExchange"), above.take(2000))
      assert(above.contains("ShuffledHashJoin"), above.take(2000))
    } finally saved.foreach { case (k, v) =>
      v match { case Some(s) => conf.set(k, s); case None => conf.unset(k) }
    }
  }

  test("AQE splits a skewed shuffle partition at runtime") {
    // the adaptive counterpart to static salting: with one key carrying 95%
    // of the fact side, the map-output stats must trigger OptimizeSkewedJoin
    // (plan prints "skewed") instead of one reducer dragging the whole join
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // local-scale thresholds: the default 256 MB bar is a cluster number;
      // the MECHANISM (stats → split) is what this test pins
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "131072")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      import org.apache.spark.sql.functions._
      // 200k rows, 95% on k=7; md5 payload keeps shuffle bytes incompressible
      // enough that the hot partition's MAP-OUTPUT size clears the threshold
      val fact = spark.range(0, 200000).select(
        when(col("id") % 20 =!= 0, lit(7L))
          .otherwise(pmod(col("id"), lit(100L))).as("k"),
        md5(concat(lit("payload"), col("id"))).as("payload"))
      val dim = spark.range(0, 100).select(
        col("id").as("k"), md5(col("id").cast("string")).as("dv"))
      // payload/dv flow through the join (consumed by the hash below), so
      // the exchange carries real bytes — a bare count would prune them and
      // shrink the hot partition below any threshold
      val q = fact.join(dim, "k")
        .select(pmod(xxhash64(col("payload"), col("dv")), lit(1000000L)).as("h"))
        .agg(sum("h")) // bounded so 200k-row ANSI sum cannot overflow
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(500))
      assert(p.contains("skewed"), "no skewed split in the final adaptive plan:\n" +
        p.take(3000))
      // and the split join is still correct: every fact row matched its dim
      assert(fact.join(dim, "k").count() === 200000L)
    } finally keys.foreach { k =>
      saved(k) match { case Some(v) => conf.set(k, v); case None => conf.unset(k) }
    }
  }
}
