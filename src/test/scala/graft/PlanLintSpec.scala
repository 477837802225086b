package graft

import org.scalatest.funsuite.AnyFunSuite

/** Engine-wide physical-plan lints — the plan classes that must never
  * appear, checked across EVERY declared query so a regression in any
  * operator (or a Catalyst behavior change on upgrade) fails loudly:
  *
  *  - `CartesianProduct`: an unbroadcast cross join is quadratic wall
  *    time and shuffle at scale; every deliberate cross join in the
  *    engine broadcasts a one-row/tiny side and must plan as
  *    BroadcastNestedLoopJoin instead.
  *
  * Streaming queries are skipped (constructing them runs the stream to
  * completion, and their batch twins are linted); q86 publishes a lake
  * as a side effect and is likewise covered via its components (q84
  * ranks, Packing specs cover the write). Planning alone is cheap —
  * `executedPlan` does not run batch jobs — though GlobalRank-backed
  * queries run their small driver-side count pass. */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private val skip = Set(
    "q32_stream_daily", "q52_stream_join", "q56_stateful_totals",
    "q96_stream_sessions", "q106_stream_ingest_dedup",
    "q126_stream_profile", "q145_revenue_segment_stream",
    "q146_stream_asof", "q148_stream_asof_final",
    "q154_cdc_summing_stream", "q164_stream_hybrid_daily",
    "q168_stream_orders_hybrid", "q170_compacted_rollup",
    "q171_stream_revseg_hybrid", "q183_trunc_stream_lifecycle", // run streams
    "q86_shard_manifest") // writes a lake as a side effect

  test("no query plans a Window with an empty partition spec") {
    // the round-4 regression class: WindowExec with no PARTITION BY
    // moves the entire input to one task ("No Partition Defined for
    // Window operation" in the executor log) — a global sort + a
    // single-threaded pass that cannot scale past one executor. The
    // GlobalRank two-pass removed every instance; this keeps them out.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def emptyPartWindows(p: SparkPlan): Seq[String] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self ++ kids.flatMap(emptyPartWindows) ++
        p.subqueries.flatMap(emptyPartWindows)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .flatMap { name =>
        val hits = emptyPartWindows(
          SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
        if (hits.nonEmpty) Some(s"$name: ${hits.mkString(",")}") else None
      }
    assert(offenders.isEmpty,
      s"single-partition windows planned by: ${offenders.mkString("; ")}")
  }

  test("ABI catalog routers plan broadcast joins, never a shuffle join") {
    // the catalog-as-data contract: routing on the 17-event / 48-fn
    // dimension must plan as a broadcast hash join — if Catalyst ever
    // picks a sort-merge or shuffled-hash join for the catalog side,
    // every log row pays an exchange keyed on topic0/selector (massive
    // skew: one hot key per declared entry) instead of a map-side probe
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def shuffleJoins(p: SparkPlan): Seq[String] = {
      val self = p match {
        case j: SortMergeJoinExec => Seq(j.nodeName)
        case j: ShuffledHashJoinExec => Seq(j.nodeName)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self ++ kids.flatMap(shuffleJoins) ++ p.subqueries.flatMap(shuffleJoins)
    }
    for ((name, df) <- Seq(
        "q139" -> ops.Ingest.abiCatalogRoundtrip(spark, sf),
        "q140" -> ops.Ingest.fnCatalogRoundtrip(spark, sf))) {
      val hits = shuffleJoins(df.queryExecution.executedPlan)
      assert(hits.isEmpty, s"$name plans a shuffle join: ${hits.mkString(", ")}")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name lost its broadcast catalog join")
    }
  }

  test("ABI routers: no wire-format payload column ever crosses an exchange") {
    // the round-6→7 q128 regression, locked in CI: the parallelizing
    // exchange must carry only the SKINNY typed source columns — the
    // ~140–330-char packed wire strings (`input`, `topic0..2`, `data`)
    // are synthesized and decoded on the same side of every shuffle.
    // (Catalyst pushes the defensive well-formedness FILTER below the
    // repartition, re-deriving the synthesis inline — that is fine: a
    // filter ships no bytes; what regressed in round 6 was the payload
    // PROJECTION crossing the exchange.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val wireCols = Set("input", "topic0", "topic1", "topic2", "data")
    def offenders(p: SparkPlan): Seq[String] = {
      val self = p match {
        case e: ShuffleExchangeLike =>
          e.output.map(_.name).filter(wireCols).map(n => s"${e.nodeName}($n)")
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self ++ kids.flatMap(offenders) ++ p.subqueries.flatMap(offenders)
    }
    for (df <- Seq(ops.Ingest.calldataRoundtrip(spark, sf),
                   ops.Ingest.lifecycleRoundtrip(spark, sf),
                   ops.Ingest.evmRoundtrip(spark, sf),
                   ops.Ingest.abiCatalogRoundtrip(spark, sf),
                   ops.Ingest.fnCatalogRoundtrip(spark, sf))) {
      val hits = offenders(df.queryExecution.executedPlan)
      assert(hits.isEmpty, s"wire payload crosses an exchange: ${hits.mkString(", ")}")
    }
  }

  test("q147: the runtime bloom filter reaches the lineitem probe side") {
    // InjectRuntimeFilter must plant might_contain(bloom over the
    // filtered orders keys) on the lineitem side before its shuffle —
    // the shuffle-reduction lever q147 exists to demonstrate. Same conf
    // scope the query entry uses; the assertion reads the AQE final
    // plan after execution.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = ops.StarJoins.urgentRevenueOver(spark, sf)
      val withFilter = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter in the executed plan:\n$plan")
      // pruning must not change the result: same rows with the
      // injection disabled
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = ops.StarJoins.urgentRevenueOver(spark, sf).collect()
      assert(withFilter.sortBy(_.getDate(0).toString).toSeq ==
             without.sortBy(_.getDate(0).toString).toSeq)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("routed entries return the plan that runs: q144 and q184 scan their rollups") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanned(p: SparkPlan): Seq[String] = {
      val self = p match {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self ++ kids.flatMap(scanned) ++ p.subqueries.flatMap(scanned)
    }
    val q144 = scanned(SparkEntry.queries("q144_revenue_segment_routed")(spark, sf)
      .queryExecution.executedPlan)
    assert(q144.exists(_.endsWith(ops.StarJoins.revenueSegmentRollupDir(sf))) &&
             !q144.exists(_.contains("lineitem")),
      s"q144 must scan the revenue-segment rollup and no lineitem file: $q144")
    val q184 = scanned(SparkEntry.queries("q184_uniq_sketch_routed")(spark, sf)
      .queryExecution.executedPlan)
    assert(q184.exists(_.endsWith(ops.Rollups.uniqSketchRollupDir(sf))) &&
             !q184.exists(_.contains("events.parquet")),
      s"q184 must scan the sketch rollup and no events file: $q184")
  }

  test("no query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"CartesianProduct planned by: ${offenders.mkString(", ")}")
  }
}
