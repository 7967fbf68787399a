package graft

/** Plan-shape assertions: the scale guarantees claimed in SURVEY.md §5
  * must be visible in the physical plan, not just believed.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    Queries.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("src_parquet_scan pushes filters and prunes columns at the scan") {
    val plan = planOf("src_parquet_scan")
    assert(plan.contains("PushedFilters: ["), "expected parquet PushedFilters")
    assert(plan.contains("l_quantity"), "filter col must reach the scan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), s"unprojected column read: $readSchema")
  }

  test("q5_multijoin broadcasts every dimension (single shuffle join)") {
    val plan = planOf("q5_multijoin")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2, s"expected broadcast joins for dims, got $broadcasts")
    assert(!plan.contains("CartesianProduct"))
  }

  test("upsert_latest pre-truncates per task before a single shuffle") {
    val plan = planOf("upsert_latest")
    // the rank-1 filter must plan as a WindowGroupLimit PAIR: the partial
    // one runs before the exchange and truncates to one candidate row per
    // key per task — the same map-side reduction the former partial
    // max_by aggregation had, without its SortAggregate struct buffers
    val groupLimits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(groupLimits == 2, s"expected partial+final WindowGroupLimit, got $groupLimits")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected exactly 1 hash shuffle, got $hashExchanges")
    assert(!plan.contains("SortAggregate"), "latest-per-key must not sort-aggregate structs")
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti, never inner + distinct") {
    val semi = planOf("q_semijoin")
    assert(semi.contains("LeftSemi"), s"expected LeftSemi join:\n$semi")
    val anti = planOf("q_antijoin")
    assert(anti.contains("LeftAnti"), s"expected LeftAnti join:\n$anti")
    val merge = planOf("merge_into")
    assert(merge.contains("LeftAnti"), "MERGE emulation must use an anti join")
  }

  test("pivot is a single scan with no per-value subqueries") {
    val plan  = planOf("q_pivot")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"pivot must scan once, got $scans")
  }

  test("field selection prunes the parquet read schema") {
    val plan       = planOf("field_select_include")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_custkey") && !readSchema.contains("c_mktsegment"),
      s"scan not pruned: $readSchema")
  }

  test("dedup_embedding's primary entry never plans an all-pairs join") {
    val plan = planOf("dedup_embedding")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "LSH path must not fall back to NLJ")
    assert(!plan.contains("CartesianProduct"), "LSH path must not cross-join")
  }

  test("text kernels evaluate once per row: single pruned scan, one output-sort exchange") {
    val plan = planOf("text_repetition")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") && !readSchema.contains("source"),
      s"scan not pruned to (doc_id, text): $readSchema")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"only the deterministic output sort may exchange, got $exchanges:\n$plan")
    // the kernel must not be inlined per reference by projection collapse
    val kernels = "ngramprofile".r.findAllIn(plan.toLowerCase).size
    assert(kernels <= 1, s"NGramProfile must evaluate once per row, found $kernels occurrences")
  }

  test("as-of joins (both directions) are one window pass, no range cross product") {
    for (q <- Seq("q_asof_join", "q_asof_forward")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must not expand a range cross product:\n$plan")
      val windows = "Window".r.findAllIn(plan).size
      assert(windows >= 1, s"$q expected the carry-forward window")
    }
  }

  test("TPC-H shapes: correlated exists/not-exists plan as semi/anti joins") {
    val q4 = planOf("q4_order_priority")
    assert(q4.contains("LeftSemi"), s"Q4 EXISTS must plan as a semi join:\n$q4")
    val q22 = planOf("q22_idle_customers")
    assert(q22.contains("LeftAnti"), s"Q22 NOT EXISTS must plan as an anti join:\n$q22")
    assert(!q22.contains("CartesianProduct"), "the scalar-aggregate side must broadcast")
  }

  test("TPC-H dim joins broadcast; no plan degrades to a cartesian product") {
    for (q <- Seq("q9_nation_revenue", "q10_returns", "q14_promo_share", "q17_small_qty",
        "q19_disjunctive", "q2_min_cost_supplier", "q11_important_parts", "q20_excess_suppliers")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q expected broadcast dim join")
      assert(!plan.contains("CartesianProduct"), s"$q must not cross-join")
    }
  }

  test("Q21's exists/not-exists pair plans as one semi + one anti self-join") {
    val plan = planOf("q21_waiting_suppliers")
    assert(plan.contains("LeftSemi"), s"Q21 EXISTS must plan as a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"Q21 NOT EXISTS must plan as an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), "self-joins must stay keyed on the order key")
  }

  test("staging batch accounting uses no unpartitioned window") {
    val exec = physicalPlan(Queries.queries("staging_batches")(spark, sfDir))
    assert(exec.collect { case p => p }.size > 1, "AQE wrapper must be stripped")
    val globalWindows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      "two-phase numbering must not move the table to a single partition")
  }

  test("SF-scaled broadcast hints are size-gated: the 100 TB regime plans shuffled joins") {
    // Small regime (default confs) is covered by the broadcast
    // assertions above. Here: simulate the 100 TB regime — the gate
    // refuses every SF-proportional hint (cap=0) and runtime stats are
    // too big to auto-broadcast (threshold=-1) — and require that every
    // previously-forced-broadcast query still plans a clean shuffled
    // join (no forced broadcast of a corpus-sized side, no cartesian
    // fallback). Bounded dims (nation/region) may keep their plain
    // hints: 25/5 rows broadcast at any SF.
    withLargeRegime {
      for (q <- Seq("q3_join", "q5_multijoin", "q7_volume", "q8_market_share",
          "q9_nation_revenue", "q14_promo_share", "q16_supplier_variety",
          "q17_small_qty", "q19_disjunctive", "q2_min_cost_supplier",
          "q11_important_parts", "q20_excess_suppliers", "q21_waiting_suppliers")) {
        val df   = Queries.queries(q)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"$q large regime must shuffle its big joins:\n$plan")
        assert(!plan.contains("CartesianProduct"),
          s"$q must not degrade to a cartesian product without broadcasts:\n$plan")
      }
      // the large-regime plan must also EXECUTE correctly, not just parse
      assert(Queries.queries("q5_multijoin")(spark, sfDir).count() > 0)
    }
  }

  /** The operator tree of a frame's formatted plan: the block from
    * `== Physical Plan ==` down to the first blank line (no expression
    * ids, no paths).
    */
  private def operatorTree(formatted: String): String =
    formatted.linesIterator.dropWhile(_ != "== Physical Plan ==").takeWhile(_.nonEmpty)
      .mkString("", "\n", "\n")

  private def resource(name: String): String =
    scala.io.Source.fromResource(name, getClass.getClassLoader).mkString

  test("post-CDC serve frames (bm25TopK, AnnIndex.topK) keep their checked-in operator trees") {
    val sc = new ServeScenario(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan_serve").toString
    sc.lexBuild(s"$tmp/idx")
    sc.lexApplyCdc(s"$tmp/idx")
    sc.annBuild(s"$tmp/ann")
    sc.annApplyCdc(s"$tmp/ann")
    val lexical = resource("plans/serve_bm25_postcdc.tree")
    // the checked-in lexical tree is the r16 record's, not a re-baseline
    val r16 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("plans/r16/serve_bm25_postcdc_final.txt")), "UTF-8")
    assert(lexical == operatorTree(r16))
    for ((name, df, want) <- Seq(
        ("bm25TopK", sc.lexServe(s"$tmp/idx"), lexical),
        ("AnnIndex.topK", sc.annServe(s"$tmp/ann"), resource("plans/serve_ann_postcdc.tree")))) {
      val tree = operatorTree(
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      assert(tree == want, s"$name post-CDC serve tree changed:\n$tree")
    }
  }
}
