package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Plan-shape golden assertions (SURVEY.md §4.2 / §5.2.4): the rewrites the
  * engine relies on at 100 TB must actually fire — filter pushdown into the
  * parquet scan, column pruning in ReadSchema, broadcast joins for small
  * dims, whole-stage codegen on the hot path. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan") {
    import spark.implicits._
    val df = Tables.table(spark, sf, "lineitem")
      .filter($"l_quantity" < 10.0)
      .select($"l_orderkey", $"l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("LessThan(l_quantity,10.0)"), plan)
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    import spark.implicits._
    val df = Tables.table(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_quantity")
    val plan = planOf(df)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_extendedprice"), plan)
  }

  test("small-dim join broadcasts (no shuffle of the fact side)") {
    import spark.implicits._
    Tables.register(spark, sf)
    val df = spark.table("lineitem")
      .join(spark.table("supplier"), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name").agg(count(lit(1)))
    assert(planOf(df).contains("BroadcastHashJoin"), planOf(df))
  }

  test("aggregation pipeline stays inside whole-stage codegen") {
    import spark.implicits._
    Tables.register(spark, sf)
    val df = spark.table("lineitem")
      .groupBy($"l_returnflag")
      .agg(sum($"l_quantity".cast("decimal(18,4)")))
    df.collect() // AQE finalizes the physical plan only at execution
    val plan = planOf(df)
    // codegen'd operators print with a "*(stageId)" prefix in plan strings
    assert(plan.contains(") HashAggregate"), plan)
    assert(plan.contains("isFinalPlan=true"), plan)
  }

  test("partial aggregation before the shuffle (map-side combine)") {
    import spark.implicits._
    Tables.register(spark, sf)
    val df = spark.table("lineitem").groupBy($"l_orderkey")
      .agg(sum($"l_quantity".cast("decimal(18,4)")))
    val plan = planOf(df)
    // partial_sum appears below the Exchange, final above it
    assert(plan.contains("partial_sum"), plan)
  }

  test("date-partitioned layout prunes partitions at the scan") {
    import spark.implicits._
    val outDir = tempDir("graft_prune_")
    Tables.table(spark, sf, "events")
      .withColumn("event_date", $"ts".cast("date"))
      .write.mode("overwrite").partitionBy("event_date").parquet(outDir)
    val df = spark.read.parquet(outDir)
      .filter($"event_date" === "2024-01-10")
      .groupBy($"event_type").agg(count(lit(1)))
    val plan = planOf(df)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_date"), plan)
    // the pruned scan reads exactly 1 of ~30 date partitions
    assert(df.queryExecution.executedPlan.collectLeaves().toString
      .contains("PartitionFilters"), plan)
  }

  test("bucketed co-located join: no exchange on either bucketed side") {
    import spark.implicits._
    Tables.register(spark, sf)
    val wh = tempDir("graft_bspec_")
    Seq(("orders", "o_orderkey"), ("lineitem", "l_orderkey")).foreach {
      case (t, k) =>
        spark.table(t).repartition(4, col(k))
          .write.mode("overwrite").bucketBy(4, k).sortBy(k)
          .option("path", s"$wh/$t").saveAsTable(s"bspec_${t}")
    }
    // disable broadcast so the planner must pick the bucketed SMJ path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.table("bspec_orders")
        .join(spark.table("bspec_lineitem"), $"l_orderkey" === $"o_orderkey")
        .select($"o_orderkey", $"l_quantity")
      val plan = planOf(df)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      // the scale win: co-partitioned scans, zero shuffle (Spark still adds
      // a cheap per-bucket local Sort — the 4.x reader ignores bucket sort
      // metadata — but no Exchange on either side)
      assert(!plan.contains("Exchange"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pack-bins prefix sum never windows the corpus by language alone") {
    Tables.register(spark, sf)
    val df = SparkEntry.queries("q59f_pack_bins")(spark, sf)
    val plan = planOf(df)
    // the degenerate shape is PARTITION BY lang ORDER BY doc_id over the
    // full corpus — one task per language at any scale; the two-phase
    // rewrite must window on (lang, chunk) instead, and the only
    // lang-partitioned window (chunk-offset prefix) runs over the n/chunkW
    // aggregated metadata rows, ordered by chunk
    assert(!plan.matches("(?s).*windowspecdefinition\\(lang#\\d+, doc_id#.*"),
      plan)
    assert(plan.matches("(?s).*windowspecdefinition\\(lang#\\d+, chunk#.*"),
      plan)
  }

  test("incremental agg: union of partial aggregates, re-reduced once") {
    Tables.register(spark, sf)
    val plan = planOf(SparkEntry.queries("q159_incremental_agg")(spark, sf))
    // the refresh shape: two independent partial aggregations unioned and
    // merged — the plan must contain the Union of partials; a single-scan
    // rewrite would silently lose the maintenance semantics being proven
    assert(plan.contains("Union"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("concurrency sweep: running sum windows on (chunk, t), never bare t") {
    Tables.register(spark, sf)
    val df = SparkEntry.queries("q155_concurrency_profile")(spark, sf)
    val plan = planOf(df)
    // the degenerate shape is one ORDER BY t window over every endpoint —
    // a single reducer at any corpus size; the two-phase rewrite cumsums
    // inside day chunks, and the only order-only windows left (chunk
    // offsets / next-chunk start) run over the per-day metadata relation
    assert(!plan.matches("(?s).*windowspecdefinition\\(t#\\d+.*"), plan)
    assert(plan.matches("(?s).*windowspecdefinition\\(chunk#\\d+L?, t#.*"),
      plan)
  }

  test("skyline: chunked prefix-max windows, never a bare price window") {
    Tables.register(spark, sf)
    val df = SparkEntry.queries("q144_skyline")(spark, sf)
    val plan = planOf(df)
    // the degenerate shape is one ORDER BY p_retailprice window over every
    // distinct price — a single reducer whose size scales with the price
    // domain; the two-phase rewrite runs the prefix max inside
    // floor(price/100) chunks, and the only order-only window left (chunk
    // offsets) runs over the chunk-count-sized relation
    assert(!plan.matches("(?s).*windowspecdefinition\\(p_retailprice#\\d+.*"),
      plan)
    assert(plan.matches(
      "(?s).*windowspecdefinition\\(chunk#\\d+L?, p_retailprice#.*"), plan)
  }

  test("negative sampling: chunked prefix windows, never a bare token window") {
    Tables.register(spark, sf)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the query body localCheckpoints the interval stages (lineage
    // truncation hides the windows) — assert on the un-pinned lineage of
    // the same builder, exactly what the query runs
    val w = spark.table("documents")
      .select(explode(split(lower($"text"), " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).cast("long").as("n"))
      .withColumn("wt", exp(lit(0.75) * log($"n".cast("double"))))
    val (_, cum) =
      graft.operators.TextQueries.negSampleIntervals(w, identity)
    val plan = planOf(cum)
    // the degenerate shape is ORDER BY token over the whole vocab — one
    // reducer at any corpus size; the two-phase rewrite cumsums inside
    // 2-char-prefix chunks, and the only order-only window left (chunk
    // offsets) runs over the prefix-alphabet-sized relation
    assert(!plan.matches("(?s).*windowspecdefinition\\(token#\\d+.*"), plan)
    assert(plan.matches("(?s).*windowspecdefinition\\(chunk#\\d+, token#.*"),
      plan)
  }

  test("basket pairs: equi-join on the order key + TakeOrdered top-500") {
    Tables.register(spark, sf)
    val plan = planOf(SparkEntry.queries("q156_basket_pairs")(spark, sf))
    // the pair enumeration must key on the basket (order), never a pair
    // product; the surfaced top-500 must be TakeOrdered, not a global sort
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the enumeration shape itself now lives in the FRESH build the memo
    // materializes once — assert it there (the query serves the scan)
    import org.apache.spark.sql.functions.col
    val items = spark.table("lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val fresh = planOf(graft.operators.JoinQueries.basketPairSupport(items))
    assert(!fresh.contains("CartesianProduct") &&
      !fresh.contains("BroadcastNestedLoopJoin"), fresh)
  }

  test("trigram search: needle relations broadcast against the posting scan") {
    Tables.register(spark, sf)
    val plan = planOf(SparkEntry.queries("q157_trigram_search")(spark, sf))
    // needle trigrams and counts are literal-sized — both joins onto the
    // corpus-side trigram/candidate relations must broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("Hamming ANN: probes broadcast, code scan never shuffles before top-k") {
    Tables.register(spark, sf)
    val plan = planOf(SparkEntry.queries("q125_hamming_ann")(spark, sf))
    // corpus-side code scan joins the 10 probes via broadcast (both the
    // Hamming scoring join and the re-rank joins) — a SortMergeJoin would
    // mean the full corpus shuffled per probe set
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dupspan: occurrence join keyed on the n-gram digest, no pair product") {
    Tables.register(spark, sf)
    // the query serves the memoized core/occurrence scans — the join shape
    // lives in the FRESH build the memo materializes once per session
    val plan = planOf(graft.operators.DedupQueries
      .dupspanStatsOf(spark.table("documents")))
    // the dup-hash restriction is an equi-join on h (shuffle or broadcast,
    // either is linear) — never a nested-loop/cartesian pair enumeration
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("quality buckets: per-lang thresholds broadcast back to the corpus") {
    Tables.register(spark, sf)
    val plan = planOf(SparkEntry.queries("q127_quality_buckets")(spark, sf))
    // the tiny (lang, t1, t2) relation must broadcast; the corpus labels
    // map-side without shuffling on lang
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("repartitionByRange writes non-overlapping sorted file ranges") {
    import spark.implicits._
    // the time-series layout: range-partition + sort-within gives parquet
    // files whose ts ranges don't overlap, so min/max row-group stats prune
    // time-slice scans without a partition column
    val out = tempDir("graft_rbr_")
    Tables.table(spark, sf, "events")
      .repartitionByRange(4, $"ts")
      .sortWithinPartitions($"ts")
      .write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length >= 2, files.length.toString)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"ts"), max($"ts")).head()
      (r.getTimestamp(0), r.getTimestamp(1))
    }.sortBy(_._1.getTime)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(!hi.after(lo2), s"overlapping ranges: $hi > $lo2")
      case _ =>
    }
  }

  test("dynamic partition pruning: join-driven pruning reaches the fact scan") {
    import spark.implicits._
    val outDir = tempDir("graft_dpp_")
    Tables.table(spark, sf, "events")
      .withColumn("event_date", $"ts".cast("date"))
      .write.mode("overwrite").partitionBy("event_date").parquet(outDir)
    val fact = spark.read.parquet(outDir)
    // small parquet-backed dim carrying the date filter — DPP requires a
    // surviving selective Filter over a real scan on the build side (an
    // in-memory LocalRelation gets constant-folded away)
    Seq(("2024-01-10", "keep"), ("2024-01-11", "drop"), ("2024-01-12", "drop"))
      .toDF("ds", "tag").select($"ds".cast("date").as("d"), $"tag")
      .write.mode("overwrite").parquet(s"$outDir/_dim")
    val dim = spark.read.parquet(s"$outDir/_dim")
    // at fixture scale DPP's cost heuristic would skip the filter — force
    // the benefit estimate so the mechanism itself is exercised
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100000")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val joined = fact.join(dim, $"event_date" === $"d" && $"tag" === "keep")
        .groupBy($"event_type").agg(count(lit(1)))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
        plan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("z-order layout: 2-d box predicate intersects far fewer file stat ranges") {
    // Per-file parquet footer [min,max] is what scan pruning consults at
    // 100 TB; a layout is only skippable if those ranges are tight. Write
    // the same rows 16-file linear (sorted by l_orderkey — tight on the
    // WRONG column) and 16-file z-ordered, and count files whose
    // (l_partkey × l_suppkey) stat box intersects q107's query box: linear
    // stripes span the full key space (every file intersects), z-order
    // confines the box to a fraction of the curve.
    import spark.implicits._
    import graft.operators.ScaleQueries
    val base = Tables.table(spark, sf, "lineitem")
    val tmp = tempDir("graft_zcmp_")
    base.repartitionByRange(16, $"l_orderkey").sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(s"$tmp/linear")
    base.withColumn("zv", ScaleQueries.zval($"l_partkey", $"l_suppkey"))
      .repartitionByRange(16, $"zv").sortWithinPartitions($"zv")
      .write.mode("overwrite").parquet(s"$tmp/zorder")
    def intersecting(path: String): (Long, Long) = {
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min($"l_partkey").as("p_lo"), max($"l_partkey").as("p_hi"),
          min($"l_suppkey").as("s_lo"), max($"l_suppkey").as("s_hi"))
      val hit = stats.filter($"p_lo" <= 120 && $"p_hi" >= 40 &&
        $"s_lo" <= 6 && $"s_hi" >= 2).count()
      (hit, stats.count())
    }
    val (linHit, linAll) = intersecting(s"$tmp/linear")
    val (zHit, zAll) = intersecting(s"$tmp/zorder")
    assert(linAll == 16 && zAll == 16, s"$linAll/$zAll files")
    assert(linHit == linAll, "linear stripes must all intersect the 2-d box")
    assert(zHit * 2 <= zAll,
      s"z-order should confine the box to ≤half the files, hit $zHit/$zAll")
  }

  test("runtime bloom filter: selective dim predicate reaches the fact side") {
    // At 100 TB a shuffle join of lineitem against a filtered dim must not
    // shuffle the full fact table: Catalyst's InjectRuntimeFilter plants a
    // bloom_filter_might_contain built from the dim's join keys in front of
    // the fact scan. Fixture sizes are below the production thresholds, so
    // lower them to exercise the mechanism itself (same approach as the DPP
    // case above).
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = Tables.table(spark, sf, "lineitem")
      val dim = Tables.table(spark, sf, "part").filter($"p_size" === 1)
      val joined = fact.join(dim, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // build side aggregates the dim keys into the filter; probe side
      // renders as might_contain(scalar-subquery…) in front of the fact scan
      assert(plan.contains("bloom_filter_agg"), plan)
      assert(plan.contains("might_contain"), plan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    import spark.implicits._
    // one hot key owning ~90% of the left side — the shape salting/AQE
    // exists for; with tiny skew thresholds AQE must mark and split it
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(200000)
        .select(when($"id" % 10 =!= 0, 0L).otherwise($"id").as("k"), $"id".as("v"))
      val right = spark.range(2000).select($"id".as("k"), $"id".as("w"))
      val joined = left.join(right, "k")
      // drive THIS queryExecution (count() would plan its own); AQE
      // finalizes and re-plans only at execution
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"), plan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("boilerplate flag-back join broadcasts; corpus never shuffles on doc_id until the final agg") {
    val df = SparkEntry.queries("q103_boilerplate")(spark, sf)
    df.collect() // AQE finalizes at execution
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("PII redaction is map-side only until the single final aggregate") {
    val df = SparkEntry.queries("q102_pii_redact")(spark, sf)
    df.collect()
    val plan = planOf(df)
    // exactly one Exchange: the 1-row global aggregate's partial→final hop
    // (AQE prints the initial plan after the final one — cut it off)
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"$exchanges exchanges:\n$plan")
  }

  test("funnel: four stage windows share one user_id exchange") {
    val df = SparkEntry.queries("q105_funnel")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    val windows = finalPlan.linesIterator.count(_.contains("Window [min"))
    assert(windows == 4, s"$windows windows:\n$finalPlan")
    // exchanges: one hashpartitioning(user_id) feeding all four windows,
    // the per-user groupBy reuses it, then the global 1-row agg + the
    // 4-row sort — never one exchange per stage
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"$exchanges exchanges:\n$finalPlan")
    val userIdExchanges = finalPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userIdExchanges == 1, s"$userIdExchanges user_id exchanges:\n$finalPlan")
  }

  test("retention cohorts: single user_id shuffle with map-side combine") {
    val df = SparkEntry.queries("q106_retention_cohorts")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    val userIdExchanges = finalPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userIdExchanges == 1, s"$userIdExchanges user_id exchanges:\n$finalPlan")
    // collect_set must partial-aggregate before that shuffle
    assert(finalPlan.contains("partial_collect_set") ||
      finalPlan.contains("ObjectHashAggregate"), finalPlan)
  }

  test("OHLC rollup: partial min/max structs combine map-side, one exchange") {
    val df = SparkEntry.queries("q142_ohlc_downsample")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the grouping exchange (the ORDER BY adds its own rangepartitioning)
    val hashExchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges:\n$finalPlan")
    // boundary-struct min/max must partial-aggregate before the shuffle
    assert(finalPlan.contains("partial_min") || finalPlan.contains("partial"),
      finalPlan)
  }

  test("gap fill: window fills reuse the user-keyed family, no Cartesian") {
    val df = SparkEntry.queries("q137_gap_fill")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    // the dense grid comes from a per-user sequence explode (Generate),
    // never a calendar cross join
    assert(finalPlan.contains("Generate explode"), finalPlan)
  }

  test("semi-join rewrite: IN (subquery) becomes a semi join, not a product") {
    Tables.register(spark, sf)
    val df = spark.sql(
      """SELECT COUNT(*) FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)""".stripMargin)
    val plan = planOf(df)
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("attribution: one user_id exchange feeds the touch window") {
    val df = SparkEntry.queries("q143_attribution")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    val userIdExchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userIdExchanges == 1, s"$userIdExchanges user_id exchanges:\n$finalPlan")
    // the channel rollup partial-aggregates before its (3-key) shuffle
    assert(finalPlan.contains("partial_count") || finalPlan.contains("partial"),
      finalPlan)
  }

  test("skyline: dominance threshold broadcasts; the part scan never shuffles") {
    val df = SparkEntry.queries("q144_skyline")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoop"), finalPlan)
    // only the distinct-price side may hash-exchange (the price aggregate,
    // the chunked-window re-partition, and the chunk-offset aggregate —
    // all carrying the price-domain-bounded relation, r10's two-phase
    // rewrite); the corpus-side scan feeds the broadcast join directly,
    // so no fact-table exchange appears below the BroadcastHashJoin probe
    val hashExchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 4, s"$hashExchanges hash exchanges:\n$finalPlan")
  }

  test("ab lift: one map-side-combinable global aggregate, no wide shuffle") {
    val df = SparkEntry.queries("q145_ab_lift")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(!finalPlan.contains("Exchange hashpartitioning"), finalPlan)
    assert(finalPlan.contains("partial"), finalPlan)
  }

  test("profile: each per-column branch scans only its own column") {
    val df = SparkEntry.queries("q149_profile")(spark, sf)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==").head
    val readSchemas = plan.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.size == 6, s"${readSchemas.size} scans:\n$plan")
    // every branch's scan schema holds exactly one column (no branch drags
    // the full orders row through its count-distinct shuffle)
    readSchemas.foreach { rs =>
      // struct<name:type,...> → one ':' per field
      val cols = rs.substring(rs.indexOf("struct<")).count(_ == ':')
      assert(cols == 1, s"multi-column profile scan: $rs")
    }
  }

  test("record linkage: pairs come from the salted block enumeration, no raw self-join") {
    val df = SparkEntry.queries("q147_record_linkage")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoop"), finalPlan)
    // the in-block enumeration is the collect_list + explode shape, not a
    // join of part against itself on the block key
    assert(finalPlan.contains("Generate explode"), finalPlan)
  }

  test("langid: the learned profile broadcasts; scoring never shuffles trigram rows twice") {
    Tables.register(spark, sf)
    // q150 itself now serves the memoized prediction relation (a scan of
    // the checkpointed RDD) — the plan shapes live in the FRESH build,
    // exactly what the memo materializes once per (session, dir)
    val df = graft.operators.TextQueries.langidPredictionsFresh(spark)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // profile (nlangs × K rows) reaches the scoring join as a broadcast,
    // not a trigram-keyed sort-merge of the whole corpus explode
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("count-min sketch: cell build combines map-side; probe lookup broadcasts the cells") {
    val df = SparkEntry.queries("q151_count_min_sketch")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the 256-key sketch aggregate must partial-aggregate before its
    // exchange (constant sketch state is the whole point of CMS)
    assert(finalPlan.contains("partial"), finalPlan)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    // probe selection is TakeOrdered over the vocabulary, never a
    // single-task unpartitioned Window over the corpus-derived relation
    // (VERDICT r06 #2): no Window operator may appear anywhere in the plan
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
    assert(!finalPlan.contains("Window"), finalPlan)
  }

  test("active users: contribution explode, no range join and no per-day window rescan") {
    val df = SparkEntry.queries("q152_active_users")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the sliding 7-day distinct is inverted into a generator + day-keyed
    // aggregate — a range join would appear as a nested-loop/cartesian
    assert(finalPlan.contains("Generate explode"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoop"), finalPlan)
    assert(!finalPlan.contains("Window"), finalPlan)
  }

  test("poisson bootstrap: all B resamples in one map-side pass over purchases") {
    val df = SparkEntry.queries("q153_poisson_bootstrap_ci")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // one generator (the B-way explode) feeding one partial-aggregated
    // 20-key shuffle; the purchases scan appears for the resample pass and
    // the base-mean pass only
    assert(finalPlan.contains("Generate explode"), finalPlan)
    assert(finalPlan.contains("partial"), finalPlan)
    val scans = finalPlan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"$scans parquet scans:\n$finalPlan")
  }

  test("HLL registers: partial MAX combines map-side, 64-row state per group") {
    val df = SparkEntry.queries("q161_hll_distinct")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the register build must partial-aggregate (the shuffle payload is the
    // 64-register sketch, not the event stream) and never plan a product
    assert(finalPlan.contains("partial_max"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("source overlap: no shingle-to-shingle join, totals broadcast") {
    val df = SparkEntry.queries("q162_source_overlap")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the oracle's per-shingle self-join would be a SortMergeJoin on the
    // corpus-sized shingle relation; the engine's shape is collect_set +
    // explode, with the only join the broadcast of |sources| totals
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    // the source-set build runs inside a localCheckpoint, so the final plan
    // shows only its scan: the collect_set lives in the build's own plan
    val build = planOf(graft.operators.DedupQueries.sourceSets(spark))
    assert(build.contains("collect_set"), build)
  }

  test("CUSUM: one user_id exchange feeds the window chain") {
    val df = SparkEntry.queries("q163_cusum_changepoint")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // exactly one exchange keyed on user_id ALONE (the window chain); the
    // daily rollup's (user_id, day) exchange is separate and allowed
    val userIdExchanges = finalPlan.linesIterator.count(
      _.matches(".*Exchange hashpartitioning\\(user_id#\\d+L?, \\d+\\).*"))
    assert(userIdExchanges == 1,
      s"$userIdExchanges user_id exchanges:\n$finalPlan")
    // the daily rollup partial-aggregates before its shuffle; the global
    // (nd, tot) reference arrives by broadcast, not a corpus-wide exchange
    assert(finalPlan.contains("partial_count") ||
      finalPlan.contains("partial"), finalPlan)
    assert(finalPlan.contains("BroadcastNestedLoopJoin") ||
      finalPlan.contains("BroadcastExchange"), finalPlan)
  }

  test("seasonal anomaly: map-side daily rollup, metadata-sized flag join") {
    val df = SparkEntry.queries("q164_seasonal_anomaly")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the only corpus-sized stage is the (event_type, day) rollup, which
    // must combine map-side; the stats/flag joins run on the day grid and
    // stay broadcast — a SortMergeJoin would mean a corpus-keyed shuffle
    assert(finalPlan.contains("partial_count"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("doc keywords: per-doc window scales with doc_id, tf combines map-side") {
    val df = SparkEntry.queries("q165_doc_keywords")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the top-3 ranking must partition by doc_id (corpus-scaling
    // parallelism), never run as one global window
    assert(finalPlan.matches(
      "(?s).*windowspecdefinition\\(doc_id#\\d+L?, w#.*"), finalPlan)
    assert(finalPlan.contains("partial_count"), finalPlan)
  }

  test("minhash source jaccard: signatures combine map-side via partial MIN") {
    graft.sources.Tables.register(spark, sf)
    // the corpus collapses to |sources|×16 cells BEFORE pair math: the
    // signature MIN must partial-aggregate (asserted on the uncheckpointed
    // signature relation — the query materializes it once for both sides)
    val sigPlan = planOf(
      graft.operators.DedupQueries.sourceSignaturesOf(spark.table("documents")))
    assert(sigPlan.contains("partial_min"), sigPlan)
    // ... and the pair join is a broadcast over the tiny signature relation
    val df = SparkEntry.queries("q166_minhash_source_jaccard")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("event paths: one user_id exchange, top-20 is a TakeOrdered") {
    val df = SparkEntry.queries("q167_event_paths")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the window rank AND the per-user path assembly share one exchange
    // keyed on user_id alone (the q105/q163 single-exchange shape)
    val userIdExchanges = finalPlan.linesIterator.count(
      _.matches(".*Exchange hashpartitioning\\(user_id#\\d+L?, \\d+\\).*"))
    assert(userIdExchanges == 1,
      s"$userIdExchanges user_id exchanges:\n$finalPlan")
    // top-20 must be a TakeOrdered (bounded), never a global sort
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
    // the path rollup partial-aggregates before its shuffle
    assert(finalPlan.contains("partial_count"), finalPlan)
  }

  test("bitmap overlap: word rollup partial bit_or, no user-keyed shuffle") {
    Tables.register(spark, sf)
    // duplicates collapse map-side: the membership-word fold must partial-
    // aggregate (asserted on the uncheckpointed relation, q166 pattern)
    val bmPlan = planOf(graft.operators.EventAnalyticsQueries
      .bitmapWordsOf(spark.table("events")))
    assert(bmPlan.contains("partial_bit_or"), bmPlan)
    // all pair math runs on bitmap cells: nothing downstream may shuffle
    // or join on user_id (the naive-oracle shape the bitmaps replace)
    val df = SparkEntry.queries("q168_bitmap_overlap")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning(user_id"), finalPlan)
  }

  test("phrase blocklist: map-side literal gate, no corpus-keyed join") {
    val df = SparkEntry.queries("q169_phrase_blocklist")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the contains() chain runs inside the scan stage: the only shuffle is
    // the metadata-sized per-source rollup, which partial-aggregates
    assert(finalPlan.contains("partial_count"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("BroadcastHashJoin"), finalPlan)
  }

  test("embedding decontamination: benchmark side broadcast, corpus unshuffled") {
    val df = SparkEntry.queries("q170_embedding_decontaminate")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // scoring joins the broadcast 16-row benchmark set against the raw
    // corpus scan — never a shuffle join of the corpus
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
    // the per-vector max combines map-side before its exchange
    assert(finalPlan.contains("partial_max"), finalPlan)
  }

  test("HLL union: register fold partial-aggregates, pair math on cells") {
    Tables.register(spark, sf)
    // the sketch build is the only corpus-sized stage and must combine
    // map-side (asserted on the uncheckpointed register relation)
    val regPlan = planOf(
      graft.operators.EventAnalyticsQueries.hllRegistersOf(spark))
    assert(regPlan.contains("partial_max"), regPlan)
    // downstream estimate/validator joins run on register cells and
    // metadata-sized size relations — all broadcast
    val df = SparkEntry.queries("q171_hll_union")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
  }

  test("shingle novelty: first-seen MIN combines map-side, grid-sized window") {
    val df = SparkEntry.queries("q173_shingle_novelty")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the first-seen credit is a per-shingle MIN that must partial-
    // aggregate; the cumulative window runs AFTER the per-source rollup,
    // so its input is the |sources|-row grid, never the shingle relation
    assert(finalPlan.contains("partial_min"), finalPlan)
    assert(finalPlan.contains("partial_count"), finalPlan)
  }

  test("association rules: counts join back broadcast, top-200 TakeOrdered") {
    val df = SparkEntry.queries("q174_association_rules")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // item counts and the 1-row basket total are broadcast onto the rule
    // relation; the ranked cut is bounded, never a global sort
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("corpus checksum: XOR fold partial-aggregates map-side") {
    val df = SparkEntry.queries("q175_corpus_checksum")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the anti-entropy digest is one map-side-combinable rollup: per-row
    // md5 words XOR into per-source cells before the only exchange
    assert(finalPlan.contains("partial_bit_xor"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("Window"), finalPlan)
  }

  test("funnel latency: stage relation shares one user_id exchange") {
    val df = SparkEntry.queries("q177_funnel_latency")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the chained stage mins and the per-user rollup run on the q105
    // single-exchange shape; deltas and quantiles are post-checkpoint
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("RFM: one custkey rollup with map-side combine, broadcast anchor") {
    val df = SparkEntry.queries("q172_rfm_segments")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // per-customer (count, max, exact sum) partial-aggregates before the
    // single custkey exchange; the global anchor date arrives broadcast
    assert(finalPlan.contains("partial_count"), finalPlan)
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("Wilson CI: constant-size partials feed the 24-key rollup") {
    val df = SparkEntry.queries("q185_wilson_ci")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the interval maths runs on the 24-row aggregate, never the stream
    assert(finalPlan.contains("partial_count") ||
      finalPlan.contains("partial_sum"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("temperature mixing: per-source rollup map-side, 1-row share fold broadcast") {
    val df = SparkEntry.queries("q186_temperature_mixing")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_count"), finalPlan)
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("Zipf fit: no Window over a corpus-derived relation (TakeOrdered first)") {
    val df = SparkEntry.queries("q190_zipf_slope")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the rank window sits above TakeOrderedAndProject's 100-row output
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
  }

  test("item recs: popularity counts broadcast; pairs join on the basket key") {
    val df = SparkEntry.queries("q199_item_recs")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
  }

  test("source keywords: token totals by key, source totals broadcast") {
    val df = SparkEntry.queries("q201_source_keywords")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // total rollups partial-aggregate off the checkpointed (source, token)
    // relation; both total relations reach the scoring join broadcast
    assert(finalPlan.contains("partial_sum"), finalPlan)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("continuation stitch: boundary join is an equi-join, never a product") {
    val df = SparkEntry.queries("q194_continuation_stitch")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // sfx = pfx is a hash-joinable key (SMJ or broadcast depending on
    // stats); the no-CartesianProduct sweep covers the degenerate case
    assert(finalPlan.contains("Join"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("weighted sample: map-side WindowGroupLimit prunes before the one " +
      "lang exchange; scan pruned to the 3 used columns") {
    val df = SparkEntry.queries("q230_weighted_sample")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // the top-k-per-group rank must prune PARTIALLY before the shuffle —
    // at 100 TB each task forwards ≤k rows per lang, never the corpus
    assert(finalPlan.contains("WindowGroupLimit"), finalPlan)
    val langExchanges = finalPlan.linesIterator.count(
      _.matches(".*Exchange hashpartitioning\\(lang#\\d+, \\d+\\).*"))
    assert(langExchanges == 1, s"$langExchanges lang exchanges:\n$finalPlan")
    val readSchema = finalPlan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("vocab coverage: top-V is a TakeOrdered, grid join broadcasts") {
    val df = SparkEntry.queries("q231_vocab_coverage")(spark, sf)
    df.collect()
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // top-Vmax must be a bounded TakeOrdered (never a vocab-global sort
    // feeding an unbounded window) and the count rollup combines map-side;
    // the V-grid non-equi join stays a broadcast over ≤3000×4 rows
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
    assert(finalPlan.contains("partial_count"), finalPlan)
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }
}
