package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Advanced
import graft.plans.AsofJoin

/** Specs for the custom Catalyst as-of join (graft.plans.AsofJoin). */
class PlansSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("custom as-of join matches an independent window formulation") {
    val rows = Advanced.asofCustom(spark, sf).collect()
    assert(rows.nonEmpty)
    // reference: inclusive backward match computed the window way
    val ref = SparkEntry.queries("adv_asof_join")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      val w = ref(r.getLong(0))
      // window version is strict (<); custom is inclusive (<=): every
      // strict match is a valid inclusive match candidate, so the
      // custom last_click_us can only be >= the strict one
      if (!w.isNullAt(3)) {
        assert(!r.isNullAt(3))
        assert(r.getLong(3) >= w.getLong(3))
        assert(r.getLong(3) <= r.getLong(2)) // still at or before purchase
      }
    }
  }

  test("ties on time resolve to the largest tiebreak id, unmatched stay null") {
    val purchases = Seq((100L, 1L, 50L), (101L, 1L, 10L), (102L, 2L, 50L))
      .toDF("event_id", "user_id", "ts_us")
    val clicks = Seq(
      (1L, 1L, 50L), (2L, 1L, 50L), // tie at t=50 -> click_id 2 wins
      (3L, 1L, 20L),
      (4L, 3L, 10L))                // user 3: never matched
      .toDF("click_id", "c_user", "c_ts")
    val out = AsofJoin.asof(purchases, clicks,
        Seq("user_id"), Seq("c_user"), "ts_us", "c_ts", Seq("click_id"))
      .select("event_id", "c_ts", "click_id").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
      .toMap
    assert(out(100L) == Some((50L, 2L))) // inclusive, max tiebreak on tie
    assert(out(101L) == None)            // only later clicks exist
    assert(out(102L) == None)            // no clicks for user 2
  }

  test("null times: left matches nothing, right rows are skipped") {
    val purchases = Seq(
      (1L, 1L, Some(100L)), (2L, 1L, None))
      .toDF("event_id", "user_id", "ts_us")
    val clicks = Seq(
      (10L, 1L, Some(50L)), (11L, 1L, None))
      .toDF("click_id", "c_user", "c_ts")
    val out = AsofJoin.asof(purchases, clicks,
        Seq("user_id"), Seq("c_user"), "ts_us", "c_ts", Seq("click_id"))
      .select("event_id", "click_id").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) == Some(10L)) // non-null click matched, null skipped
    assert(out(2L) == None)      // null left time -> outer nulls
  }

  test("a hot key streams through with O(1) state (skew safety)") {
    val purchases = Seq((1L, 7L, 1000000L)).toDF("event_id", "user_id", "ts_us")
    val clicks = spark.range(100000)
      .select(col("id").as("click_id"), lit(7L).as("c_user"),
        col("id").as("c_ts"))
    val out = AsofJoin.asof(purchases, clicks,
        Seq("user_id"), Seq("c_user"), "ts_us", "c_ts", Seq("click_id"))
      .select("c_ts").collect()
    assert(out.length == 1 && out(0).getLong(0) == 99999L)
  }

  test("join strategy split: dims broadcast, fact-fact shuffles, scans prune") {
    // q5: 6-table star join — at test SF every dim side is tiny, so
    // the executed plan should still use broadcast joins (nation/
    // region by hint, supplier/customer by AQE's own size estimate)
    val q5 = SparkEntry.queries("q5_nation_revenue")(spark, sf)
    q5.collect()
    val p5 = q5.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p5.contains("BroadcastHashJoin"),
      s"q5 dims not broadcast:\n${p5.take(900)}")
    // q2: predicate AND projection must reach the parquet scan
    val q2 = SparkEntry.queries("q2_filter_project")(spark, sf)
    val p2 = q2.queryExecution.executedPlan.toString
    assert(p2.contains("PushedFilters: [IsNotNull"),
      s"q2 filter not pushed:\n${p2.take(900)}")
    assert(!p2.contains("l_comment"),
      "q2 reads columns the projection dropped")
  }

  test("q17/q18 never force a broadcast of an SF-proportional aggregate") {
    // the per-partkey / per-orderkey aggregates grow linearly with SF;
    // a broadcast HINT on them is a driver OOM at 100×. AQE may still
    // CHOOSE broadcast at tiny SF — what must be absent is the hint.
    for (name <- Seq("q17_small_qty_parts", "q18_large_orders")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val logical = df.queryExecution.optimizedPlan.toString
      assert(!logical.toLowerCase.contains("broadcast"),
        s"$name still carries a broadcast hint:\n${logical.take(800)}")
    }
    // q17 is the window form: no join at all, exactly two exchanges
    // (hash on l_partkey + the single-partition final agg)
    val q17 = SparkEntry.queries("q17_small_qty_parts")(spark, sf)
    q17.collect()
    val plan = q17.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"q17 should be join-free:\n$plan")
    val exchanges = "(?m)Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"q17 unexpected shuffles ($exchanges):\n$plan")
  }

  test("q3/q5 never force a broadcast of an SF-proportional table") {
    // customer (150k rows/SF) and supplier (10k rows/SF) grow linearly
    // with SF — at the 100 TB target a broadcast HINT on them is a
    // guaranteed OOM, the same disease the q17/q18 pins cured. Only
    // the constant-size dims (nation = 25 rows, region = 5 rows at
    // ANY SF) may keep their hints. AQE may still CHOOSE broadcast at
    // tiny SF — what must be absent is the hint.
    val q3 = SparkEntry.queries("q3_top_revenue")(spark, sf)
    val l3 = q3.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!l3.contains("broadcast"),
      s"q3 still carries a broadcast hint:\n${l3.take(800)}")
    val q5 = SparkEntry.queries("q5_nation_revenue")(spark, sf)
    val l5 = q5.queryExecution.optimizedPlan.toString.toLowerCase
    val hints = "broadcast".r.findAllIn(l5).size
    assert(hints <= 2,
      s"q5 must hint only nation+region, found $hints broadcast marks:\n${l5.take(800)}")
  }

  test("dedup_semantic never force-broadcasts a data-scale side") {
    // the dropped-id verdict set is true-duplicate-scale — a constant
    // FRACTION of a dup-heavy corpus — so no side of the verdict join
    // may carry a broadcast hint (the q3/q5/q17 rule). AQE may still
    // CHOOSE broadcast at tiny SF; what must be absent is the hint.
    val df = SparkEntry.queries("dedup_semantic")(spark, sf)
    val logical = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!logical.contains("broadcast"),
      s"dedup_semantic still carries a broadcast hint:\n${logical.take(800)}")
  }

  test("q33 computes gaps and aggregates in ONE customer-keyed shuffle") {
    val df = SparkEntry.queries("q33_order_gaps")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the lag window and the groupBy share the o_custkey partitioning;
    // a second hash exchange on the same key means the reuse broke
    val keyed = "(?m)Exchange hashpartitioning\\(o_custkey".r
      .findAllIn(plan).size
    assert(keyed == 1,
      s"expected 1 customer-keyed exchange, found $keyed:\n${plan.take(900)}")
  }

  test("cluster sample prunes map-side: WindowGroupLimit on both exchange sides") {
    val df = SparkEntry.queries("ml_cluster_sample")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the rank<=5 filter must push into the window as a group limit,
    // partial (pre-shuffle) AND final — each task ships at most 5
    // rows per cell instead of sorting whole cells through the
    // exchange; without this the per-cell window sorts n/cells rows
    // to emit 5
    val limits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(limits >= 2,
      s"expected partial+final WindowGroupLimit, found $limits:\n" +
        plan.take(900))
  }

  test("q37's cross-table correlated min decorrelates; dim filters reach the scans") {
    val df = SparkEntry.queries("q37_min_cost_supplier")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the correlated min over the offer CTE must become an aggregate
    // + join, never a per-row re-scan of the 5-table join
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"correlated min not decorrelated:\n${plan.take(900)}")
    // the selective dim predicates push into the scans, not the join
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,EUROPE)") ||
      plan.contains("EqualTo(r_name,EUROPE)"),
      s"region filter not pushed:\n${plan.take(1200)}")
    assert(plan.contains("LessThan(p_size,10)"),
      s"part size filter not pushed:\n${plan.take(1200)}")
  }

  test("q36's only global sort is over the sample; full data never totally orders") {
    val df = SparkEntry.queries("q36_sampled_deciles")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // exactly one ntile window, and its subtree (between the Window
    // node and its scan) must contain the hash-sample filter — the
    // single-partition sort ntile needs only ever sees sample rows
    assert("ntile\\(10".r.findAllIn(plan).nonEmpty, s"no ntile window:\n$plan")
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0)
    val below = plan.substring(winIdx)
    val scanIdx = Seq(below.indexOf("Scan parquet"), below.indexOf("FileScan"))
      .filter(_ >= 0).minOption.getOrElse(-1)
    assert(scanIdx > 0, s"no scan under the window:\n${below.take(600)}")
    assert(below.substring(0, scanIdx).contains("rolling_hash"),
      "ntile window is not fed by the hash sample:\n" +
        below.substring(0, scanIdx))
    // any OTHER global sort may only order the bucket-scale output
    // (10 rows), never the raw data
    val badGlobalSorts =
      "(?m)Sort \\[(?!bucket)[^\\]]*\\], true, 0".r.findAllIn(plan).toList
    assert(badGlobalSorts.isEmpty,
      s"full-data global sort survives: $badGlobalSorts")
  }

  test("q35's correlated subqueries decorrelate: no per-row re-scan loop") {
    val df = SparkEntry.queries("q35_above_class_avg")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // Catalyst must rewrite the scalar subqueries into aggregate+join;
    // a surviving nested-loop over orders-per-row is the O(n²) failure
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"correlated subquery not decorrelated:\n${plan.take(900)}")
  }

  test("incremental dedup ships fingerprints, not documents, through the anti-join") {
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the corpus side must reduce to its fp column before any exchange:
    // no `text#` may appear in an Exchange's output schema
    val shuffledText = "(?m)^.*Exchange.*text#.*$".r.findAllIn(plan).toSeq
    assert(shuffledText.isEmpty,
      s"document text crossed a shuffle:\n${shuffledText.mkString("\n")}")
  }

  test("heavy hitters broadcasts the constant-size sketch, never the stream") {
    val df = SparkEntry.queries("txt_heavy_hitters")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the d*w sketch is constant-size at ANY corpus size, so it must
    // arrive via broadcast (contrast q17/q18, where the broadcast side
    // grew with SF and the hint had to go)
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch not broadcast:\n${plan.take(900)}")
  }

  test("quantile profile builds the histogram once: a single lineitem scan") {
    val df = SparkEntry.queries("q28_quantiles")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // four quantiles must NOT mean four scans (percentile-per-column
    // rewrites do exactly that); the q-probe is a 4-row crossjoin over
    // ONE histogram
    val scans = "(?m)Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 lineitem scan, found $scans:\n${plan.take(900)}")
  }

  test("q38's disjunctive join predicate pushes per-side residues into both scans") {
    val df = SparkEntry.queries("q38_disjunctive_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // PushExtraPredicateThroughJoin must derive the brand/size union
    // for the part scan and the quantity union for the lineitem scan —
    // at 100 TB this is the difference between scanning qualifying
    // slices and filtering after a full fact join
    val pushed = "(?m)^.*PushedFilters.*$".r.findAllIn(plan).toSeq
    assert(pushed.exists(l => l.contains("p_brand") && l.contains("Or(")),
      s"brand OR-residue not pushed to part scan:\n${pushed.mkString("\n")}")
    assert(pushed.exists(l => l.contains("l_quantity") && l.contains("Or(")),
      s"quantity OR-residue not pushed to lineitem scan:\n${pushed.mkString("\n")}")
  }

  test("q41's top-20 is TakeOrderedAndProject; returnflag reaches the scan") {
    val df = SparkEntry.queries("q41_returned_items")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"limit-20 is a global sort, not per-partition heaps:\n${plan.take(900)}")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed:\n${plan.take(1200)}")
  }

  test("q44's dormancy test is a hash/merge anti-join with the date pruned at the scan") {
    val df = SparkEntry.queries("q44_dormant_customers")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the anti join itself must be keyed (hash or merge) — a
    // nested-loop anti over orders would re-scan per customer. (The
    // one legitimate BNLJ is the 1-row threshold broadcast.)
    val antiKeyed = "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)[^\\n]*LeftAnti".r
    assert(antiKeyed.findFirstIn(plan).isDefined,
      s"anti-join not key-based:\n${plan.take(1200)}")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,"),
      s"dormancy date not pruned at the orders scan:\n${plan.take(1200)}")
  }

  test("q45 scans lineitem ONCE: the EXISTS/NOT-EXISTS pair collapsed into aggregation") {
    val df = SparkEntry.queries("q45_sole_failing_supplier")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the classic Q21 form self-joins lineitem three times; the
    // aggregate form must read the fact exactly once
    val liScans = "(?m)Scan parquet[^\\n]*lineitem".r.findAllIn(plan).size
    assert(liScans == 1,
      s"expected 1 lineitem scan, found $liScans:\n${plan.take(900)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 is a global sort:\n${plan.take(900)}")
  }

  test("q46 unpivot: one Expand over one lineitem scan, no self-union") {
    val df = SparkEntry.queries("q46_unpivot")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the UNION-ALL melt (what the oracle does) reads the fact three
    // times; the native unpivot must plan a single Expand over ONE scan
    val liScans = "(?m)Scan parquet[^\\n]*lineitem".r.findAllIn(plan).size
    assert(liScans == 1,
      s"expected 1 lineitem scan, found $liScans:\n${plan.take(900)}")
    assert(plan.contains("Expand"),
      s"unpivot did not plan an Expand:\n${plan.take(900)}")
  }

  test("null-skew rewrite: the NULL population bypasses the join entirely") {
    val df = SparkEntry.queries("adv_null_skew_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // exactly ONE join in the whole plan — the matchable side; the
    // null-key branch must reach the union as scan+filter+project,
    // never through a join operator where its rows would concentrate
    // on one hash partition
    val joins = "(?m)(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size
    assert(joins == 1, s"expected 1 join, found $joins:\n${plan.take(900)}")
    assert(plan.contains("Union"), "null bypass union missing")
    // the join's streamed side filters nulls out BEFORE the join:
    // the explicit pkey-not-null filter pushes through the pkey
    // projection as `CASE WHEN (event_type = purchase) THEN
    // isnotnull(user_id) ELSE false END` at the scan — a shape no
    // inferred join constraint produces (LEFT OUTER infers nothing
    // on the streamed side), so this fails if the explicit filter is
    // dropped (the r10 ADVICE: a bare `isnotnull` match was vacuous)
    assert(
      ("(?s)Filter CASE WHEN \\(event_type#\\d+ = purchase\\) " +
        "THEN isnotnull\\(user_id#\\d+L?\\) ELSE false END").r
        .findFirstIn(plan).nonEmpty,
      s"matchable side lost its explicit not-null filter:\n${plan.take(1500)}")
  }

  test("profile histogram: constant-key hash agg, no data-scale sort") {
    val df = SparkEntry.queries("adv_profile_histogram")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // partial agg before the exchange (map-side combine carries
    // bucket-count-scale rows), final agg after, one ordering
    // exchange on the tiny result — nothing else
    val exchanges = "(?m)Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"expected <=2 exchanges (agg + order), found $exchanges:\n" +
        plan.take(900))
    assert("(?m)HashAggregate".r.findAllIn(plan).size >= 2,
      "map-side partial aggregation missing")
    // column pruning: only o_totalprice leaves the scan
    assert(plan.contains("ReadSchema: struct<o_totalprice:double>"),
      s"scan reads more than the priced column:\n${plan.take(900)}")
  }

  test("substring max-growth: per-doc windows, partial aggs, no pair blowup") {
    val df = SparkEntry.queries("dedup_substring_max")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // nothing pairwise anywhere: candidate volume is window-linear
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pairwise operator crept in:\n${plan.take(900)}")
    // the island window is PARTITIONED by doc (a global-order window
    // would single-task the corpus)
    assert(plan.contains("windowspecdefinition(doc_id"),
      s"island window lost its doc partition:\n${plan.take(900)}")
    assert(!plan.contains("windowspecdefinition(pos"),
      "unpartitioned window over positions")
    // passage grouping combines map-side before its exchange
    assert(("(?s)Exchange hashpartitioning\\(passage_fp[^\\n]*\\n[^\\n]*" +
      "HashAggregate[^\\n]*merge_").r.findFirstIn(plan).nonEmpty ||
      plan.contains("partial_count"),
      s"no map-side partials before the passage exchange:\n${plan.take(900)}")
    // column pruning: the documents scans read only (doc_id, text) —
    // never lang/source/n_chars
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan reads beyond doc_id/text:\n${plan.take(900)}")
  }

  test("phash groups: corpus decode runs once, in one documents scan") {
    // the groups have ONE consumer (a window over the band buckets
    // replaces the banded self-join and its spine), so the aggregate
    // and the full-corpus image decode under it run once
    val plan = finalPlanOf("mm_phash_neardup")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, found $scans:\n${plan.take(900)}")
    assert("static_invoke\\(graft.operators.DHash.ofBytes".r
      .findAllIn(plan).size == 1,
      s"the corpus decode runs more than once:\n${plan.take(900)}")
    // nothing pairwise at doc scale
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pairwise operator crept in:\n${plan.take(900)}")
  }

  test("simhash groups are shared by exchange reuse: one documents scan") {
    // intra pairs and both band sides keep (sig, ids), so the group
    // aggregate's exchange is reused instead of re-running the word
    // explode + simhash aggregate per consumer
    val plan = finalPlanOf("dedup_simhash")
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(reused >= 2, s"expected >= 2 reused exchanges, found $reused:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, found $scans:\n$plan")
  }

  test("minhash groups are shared by exchange reuse") {
    val plan = finalPlanOf("dedup_minhash_lsh")
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(reused >= 3, s"expected >= 3 reused exchanges, found $reused:\n$plan")
  }

  test("retention cohort: first-touch window and roll-up share two exchanges") {
    val df = SparkEntry.queries("adv_retention_cohort")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // user-keyed window exchange + (cohort, offset) agg exchange +
    // the final tiny ordering — countDistinct adds its own expand
    // pass but must not add extra data-scale shuffles
    val exchanges = "(?m)Exchange".r.findAllIn(plan).size
    assert(exchanges <= 4,
      s"expected <=4 exchanges, found $exchanges:\n${plan.take(900)}")
    // events scan prunes to the two columns the matrix needs
    assert(plan.contains("struct<ts:") || plan.contains("struct<user_id:"),
      s"scan pruning lost:\n${plan.take(900)}")
  }

  test("plan shape: one exchange per side, no extra shuffle") {
    val df = Advanced.asofCustom(spark, sf)
    df.collect() // force AQE final plan
    // AQE toString repeats the plan (Final + Initial); count only the
    // final section
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("AsofJoin"), plan.take(500))
    // 3 exchanges total: one per join side + the final global orderBy
    val exchanges = "(?m)Exchange".r.findAllIn(plan).size
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n$plan")
  }

  private def finalPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
  }

  test("attribution: ONE event join, ONE pass over each side") {
    val plan = finalPlanOf("adv_attribution")
    // the direct channel must ride the left join, not a second
    // scan + anti-join: exactly two scans (purchases, touches) and
    // exactly one join of any strategy
    assert("(?m)Scan parquet".r.findAllIn(plan).size == 2,
      s"extra event pass crept in:\n${plan.take(900)}")
    val joins = "(?m)(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
      .r.findAllIn(plan).size
    assert(joins == 1, s"expected exactly 1 join, found $joins:\n" +
      plan.take(900))
    // both windows share the purchase partitioning: one window
    // exchange at most (plus join-side + final order exchanges)
    assert(plan.contains("windowspecdefinition(purchase_id"),
      s"purchase window lost its partition:\n${plan.take(900)}")
  }

  test("hybrid RRF: both legs broadcast the query block and group-limit map-side") {
    val plan = finalPlanOf("sim_hybrid_rrf")
    // the corpus is never the build side of anything: the only
    // pairwise operators are the two query-block broadcasts
    assert("(?m)BroadcastNestedLoopJoin".r.findAllIn(plan).size == 2,
      s"expected the two query-block broadcasts:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian crept in:\n${plan.take(900)}")
    // WindowGroupLimit pairs (partial + final) on both legs and the
    // fusion ranking: map-side candidate reduction everywhere
    assert("(?m)WindowGroupLimit".r.findAllIn(plan).size >= 4,
      s"map-side group limits missing:\n${plan.take(900)}")
  }

  test("epoch shuffle: one shard exchange, shard-partitioned order, pruned scan") {
    val plan = finalPlanOf("txt_epoch_shuffle")
    // one SHUFFLE exchange to the (epoch, shard) layout + the final
    // tiny orderBy — never a global sort of the corpus (the epoch
    // constant rides a BroadcastExchange, which is not a shuffle)
    assert("(?m)Exchange (hash|range)".r.findAllIn(plan).size <= 2,
      s"extra shuffle:\n${plan.take(900)}")
    assert(plan.contains("windowspecdefinition(epoch"),
      s"rank window lost the shard partition:\n${plan.take(900)}")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"documents scan reads beyond doc_id/n_chars:\n${plan.take(900)}")
  }

  test("user paths: a single event scan feeds both the counts and the share total") {
    val plan = finalPlanOf("adv_user_paths")
    // the share total is a window over the bounded path table — a
    // second event-scale pass is the regression this pins out
    assert("(?m)Scan parquet".r.findAllIn(plan).size == 1,
      s"the total re-ran the event pipeline:\n${plan.take(900)}")
    assert(plan.contains("windowspecdefinition(user_id"),
      s"journey window lost its user partition:\n${plan.take(900)}")
  }
}
