package graft

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every declared query at the target scale factor and
  * prints machine-readable JSON.
  *
  * Noise discipline (VERDICT r03: a single-sample run committed 5× phantom
  * regressions): each query is timed on `SPARK_GRAFT_BENCH_REPS` (default 3)
  * ROUND-ROBIN passes — pass 1 over all queries, then pass 2, … — so a host
  * hiccup lands in at most one rep per query, and the reported per-query
  * number is the MIN across reps (the best estimate of intrinsic cost on a
  * noisy shared host). A tripwire compares each min against the committed
  * per-query budget (`bench_budget.json`, regenerated whenever a real perf
  * change lands) and flags anything over 3× — separating genuine regressions
  * from noise in the same run that measures them.
  */
object Bench {

  /** Committed per-query budget seconds (clean min-of-3 at sf0.1). Missing
    * entries (new queries) are never flagged. */
  lazy val budgets: Map[String, Double] = {
    val in = getClass.getResourceAsStream("/bench_budget.json")
    if (in == null) Map.empty
    else try {
      val text = Source.fromInputStream(in, "UTF-8").mkString
      // flat {"name": sec, ...} object — parse without a JSON dependency
      """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } finally in.close()
  }

  val tripwireFactor = 3.0

  /** Budget-envelope policy (VERDICT r14 #5): pins BELOW this many seconds
    * sit inside the JIT/catalyst fixed-cost envelope, where solo replays
    * systematically read HIGHER than in-bench times (a solo JVM re-pays
    * codegen/classloading the full bench amortizes across 284 queries —
    * the q194/q63 false-drift pattern, measured r10/r12/r14). Drift audits
    * therefore compare sub-envelope pins ONLY against in-bench minima;
    * solo min-of-N re-measurement is reserved for queries at or above the
    * envelope. The tripwire itself stays 3× for every query — it always
    * consumes in-bench minima, so no second threshold applies. */
  val soloEnvelopeSeconds = 1.0

  /** Queries whose measured min exceeds tripwireFactor × committed budget —
    * a REAL regression (min-of-N already filtered one-off host noise).
    * Queries without a budget entry (new since the last regeneration) are
    * never flagged. */
  def slowOnes(mins: Map[String, Double]): Map[String, Double] =
    mins.filter { case (n, v) =>
      budgets.get(n).exists(b => v > tripwireFactor * b)
    }

  /** Intra-run sentinel threshold above which a sample reads "loaded"
    * (VERDICT r17 #1). Calibrated from the r17 record run: the QUIET
    * intra-run baseline is ~0.15 median / 0.22 max (the bench JVM's own
    * GC/JIT churn, documented in CLAUDE.md), while every loaded run
    * observed so far peaks 0.46+ (r17 driver run: 6 samples ≥ 0.5, peaks
    * 4.57/3.51/3.40). 0.45 sits 2× above the quiet max and below every
    * loaded excursion on record. */
  val loadCorrelatedThreshold = 0.45

  /** Intra-run sentinel sampling cadence (queries per single-shot kernel
    * sample). Position reconstruction in the bench artifact (the `slow`
    * entries' neighborhood samples) assumes this convention. */
  val sentinelEvery = 30

  /** Self-adjudication of one tripwire against the run's OWN sentinel
    * series (VERDICT r17 #1 — the load-vs-regression call used to be a
    * human reading the series after the fact). The flagged value is the
    * MIN across passes, so it is load-inflated only if load covered the
    * query's neighborhood in EVERY pass: for each pass, the neighborhood
    * is the sample taken right after the query's `sentinelEvery`-block
    * plus the immediately preceding series sample (the previous block's
    * or previous pass's boundary sample — the series is linear across
    * passes, so `cover - 1` is exactly that); the verdict takes the MIN
    * over passes of the per-pass neighborhood MAX. If any pass had a
    * quiet neighborhood and the min still tripped 3×, it is NOT load.
    *
    * Returns (per-pass neighborhood maxima, nbr_min, load_correlated).
    * Pass 1 block 0 has no preceding sample — its neighborhood is the
    * covering sample alone (never empty: the covering sample exists for
    * every executed query position whenever the series is complete). */
  def loadAdjudication(qi: Int, reps: Int, perPass: Int, every: Int,
      series: IndexedSeq[Double]): (Seq[Double], Double, Boolean) = {
    val nbr = (0 until reps).flatMap { p =>
      val cover = p * perPass + qi / every
      val cand = Seq(cover - 1, cover).filter(k => k >= 0 && k < series.length)
      if (cand.isEmpty) None else Some(cand.map(series).max)
    }
    if (nbr.isEmpty) (nbr, Double.NaN, false)
    else (nbr, nbr.min, nbr.min >= loadCorrelatedThreshold)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/classloading/file-index paths so per-query timings
    // reflect steady state, and run in declaration order (stable output)
    graft.sources.Tables.register(spark, sfDir)
    spark.sql("SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0").collect()

    // Load sentinel (VERDICT r15 #1): the same fixed-work kernel, timed
    // min-of-3 at run START and END and carried in both JSON lines. The
    // kernel's cost is constant across rounds (same fixture, same plan,
    // post-warm-up), so an inflated reading — against its own history or
    // between the run's two ends — documents a loaded host INSIDE the
    // artifact, separating environment from regression (the r15 driver
    // run read uniformly ~1.3× with no code cause; this field is the
    // measurement that analysis had to reconstruct from medians).
    def kernelOnce(): Double = {
      val t0 = System.nanoTime()
      spark.sql("SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def sentinel(): Double = (1 to 3).map(_ => kernelOnce()).min
    val sentinelStart = sentinel()
    // Load-robustness (VERDICT r16 #2): two endpoint samples cannot see
    // mid-run load, so per-query tripwires could not be graded on a loaded
    // run. The kernel is re-sampled (single-shot) every `sentinelEvery`
    // queries inside each pass and once at each pass boundary; the series
    // ships in both JSON lines, so every per-query reading carries a local
    // load context (sample k of pass p covers queries [k·N, (k+1)·N) of
    // that pass — positions are reconstructible from the declaration
    // order, N, and the per-pass sample count sentinelPerPass).
    val sentinelSeries = scala.collection.mutable.ListBuffer[Double]()

    // dev filter: SPARK_GRAFT_ONLY=q110_ppjoin,q73_… times a subset (the
    // committed artifact always comes from an unfiltered run — the driver
    // sets no filter)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benchQueries = SparkEntry.allQueries
      .filter(q => only.forall(_.contains(q.name)))
    val names = benchQueries.map(_.name)
    val times = scala.collection.mutable.Map[String, List[Double]]()
    val errors = scala.collection.mutable.Map[String, String]()
    val passTotals = scala.collection.mutable.ListBuffer[Double]()
    for (pass <- 1 to reps) {
      val p0 = System.nanoTime()
      // sentinel kernel time is accumulated separately and EXCLUDED from
      // the pass total (ADVICE r17 #3: the r17 series had silently shifted
      // passTotals high vs pre-r17 rounds on identical code — passTotals
      // is a drift-analysis field and must stay comparable across rounds)
      var sentSec = 0.0
      benchQueries.zipWithIndex.foreach { case (gq, qi) =>
        if (!errors.contains(gq.name)) { // a failed query stays failed; don't re-throw per pass
          val t0 = System.nanoTime()
          try {
            gq.run(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            times(gq.name) = sec :: times.getOrElse(gq.name, Nil)
          } catch { case t: Throwable =>
            System.err.println(s"BENCH FAIL ${gq.name}: $t")
            errors(gq.name) = t.getClass.getSimpleName.take(24)
            times.remove(gq.name)
          }
        }
        if ((qi + 1) % sentinelEvery == 0) {
          val s = kernelOnce(); sentinelSeries += s; sentSec += s
        }
      }
      val s = kernelOnce(); sentinelSeries += s; sentSec += s // pass boundary
      passTotals += (System.nanoTime() - p0) / 1e9 - sentSec
    }
    val sentinelEnd = sentinel()
    // (name, min-across-reps or negative sentinel on failure, error)
    val results: Seq[(String, Double, Option[String])] = names.map { n =>
      errors.get(n) match {
        case Some(e) => (n, -1.0, Some(e))
        case None => (n, times(n).min, None)
      }
    }

    def s3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def s2(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val total = results.collect { case (_, v, None) => v }.sum
    val nFail = results.count(_._3.isDefined)
    val slow = slowOnes(
      results.collect { case (n, v, None) => n -> v }.toMap).toSeq.sorted
    // per-tripwire machine verdict from the run's own series (VERDICT
    // r17 #1): name -> (min-of-reps, per-pass neighborhood maxima,
    // min-over-passes of those, load_correlated)
    val qIndex: Map[String, Int] = names.zipWithIndex.toMap
    val sentinelPerPass = benchQueries.size / sentinelEvery + 1
    val seriesIdx = sentinelSeries.toIndexedSeq
    val slowAdj: Seq[(String, Double, Seq[Double], Double, Boolean)] =
      slow.map { case (n, v) =>
        val (nbr, nbrMin, lc) = loadAdjudication(qIndex(n), reps,
          sentinelPerPass, sentinelEvery, seriesIdx)
        (n, v, nbr, nbrMin, lc)
      }
    // Short key = the "qNN[letter]" prefix (unique across SparkEntry); fall
    // back to the full name if a collision ever appears.
    val shortOf: Map[String, String] = {
      val pref = results.map { case (k, _, _) => k -> k.takeWhile(_ != '_') }
      val dup = pref.groupBy(_._2).collect { case (p, g) if g.size > 1 => p }.toSet
      pref.map { case (k, p) => k -> (if (dup(p)) k else p) }.toMap
    }

    // Drift-audit aid (VERDICT r14 #3): SPARK_GRAFT_BENCH_PASSDETAIL=q71c_…
    // prints EVERY pass's seconds for the named queries (the committed
    // artifact carries only the min — per-pass shape is what separates
    // "memo flushed between passes" from "uniformly slower in-fleet").
    sys.env.get("SPARK_GRAFT_BENCH_PASSDETAIL").foreach { spec =>
      spec.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
        times.get(n).foreach { ts =>
          println(s"""{"metric":"passdetail","query":"$n","passes":[${
            ts.reverse.map(s3).mkString(",")}]}""")
        }
      }
    }

    // Full-detail line FIRST (local logs; the driver's 2000-char tail may
    // truncate its head): per-query min + per-pass wall totals.
    val detail = results.map { case (k, v, _) => s"\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    val passes = passTotals.map(s2).mkString("[", ",", "]")
    val sentinelJson = s"[${s3(sentinelStart)},${s3(sentinelEnd)}]"
    val seriesJson = sentinelSeries.map(s2).mkString("[", ",", "]")
    // full adjudication in the detail line (per-pass neighborhood maxima
    // kept); nbr_min is the grading number — NaN (an empty series) is
    // emitted as null, never a bare NaN (invalid JSON)
    def s2n(v: Double): String = if (v.isNaN) "null" else s2(v)
    val slowDetail = slowAdj.map { case (n, v, nbr, nbrMin, lc) =>
      s""""$n":{"sec":${s3(v)},"budget":${s3(budgets(n))},"nbr":[${
        nbr.map(s2).mkString(",")}],"nbr_min":${s2n(nbrMin)},"load_correlated":$lc}"""
    }.mkString("{", ",", "}")
    val slowDetailField = if (slowAdj.nonEmpty) s""","slow":$slowDetail""" else ""
    println(s"""{"metric":"detail","reps":$reps,"passTotals":$passes,"sentinel":$sentinelJson,"sentinelEvery":$sentinelEvery,"sentinelPerPass":$sentinelPerPass,"sentinels":$seriesJson$slowDetailField,"queries":$detail,"sf":"$sfDir"}""")
    slowAdj.foreach { case (n, v, _, nbrMin, lc) =>
      System.err.println(f"BENCH TRIPWIRE $n: min-of-$reps ${v}%.2f s > " +
        f"$tripwireFactor%.0fx budget ${budgets(n)}%.2f s " +
        f"[nbr_min $nbrMin%.2f -> ${if (lc) "LOAD-CORRELATED" else "NOT load"}]")
    }

    // LAST stdout line: compact JSON sized for the driver's 2000-char tail
    // (short keys, 2-decimal seconds, ≤1600 chars incl. slack for sbt's
    // "[success]" trailer).
    def line(qs: Seq[(String, Double, Option[String])], dropErrs: Boolean,
        omitted: Int): String = {
      val m = qs.map { case (k, v, _) => s"\"${shortOf(k)}\":${s2(v)}" }
        .mkString("{", ",", "}")
      val errs = results.collect { case (k, _, Some(e)) => s"\"${shortOf(k)}\":\"$e\"" }
        .mkString("{", ",", "}")
      val errField = if (nFail > 0 && !dropErrs) s""","errors":$errs""" else ""
      val slowField = if (slowAdj.nonEmpty) {
        // the compact artifact carries the machine verdict per tripwire
        // (VERDICT r17 #1): a loaded driver run adjudicates itself.
        // Capped at the 6 worst by budget ratio — a many-tripwire loaded
        // run (r18 run 1: 24) must not blow the 1600-char budget and push
        // every per-query time out of the compact line; slow_n carries
        // the full count, and the detail line always has every entry
        val worst = slowAdj.sortBy { case (n, v, _, _, _) =>
          -v / budgets(n) }.take(6)
        val s = worst.map { case (n, v, _, nbrMin, lc) =>
          s""""${shortOf(n)}":{"sec":${s2(v)},"nbr_min":${s2n(nbrMin)},"load_correlated":$lc}"""
        }.mkString("{", ",", "}")
        s""","slow_n":${slowAdj.size},"slow":$s"""
      } else ""
      val om = if (omitted > 0) s""","omitted":$omitted""" else ""
      s"""{"metric":"total","value":${s2(total)},"unit":"sec","reps":$reps,"sentinel":$sentinelJson,"sentinels":$seriesJson,"queries":$m,"failed":$nFail$errField$slowField$om,"sf":"$sfDir"}"""
    }
    // Budget 1600 chars: drop the cheapest successful queries first; if a
    // failure-heavy run still exceeds it, drop the error MAP as a last
    // resort (the failed COUNT always survives).
    var kept = results
    var dropErrs = false
    var out = line(kept, dropErrs, results.size - kept.size)
    while (out.length > 1600 && kept.exists(_._3.isEmpty)) {
      val cheapest = kept.filter(_._3.isEmpty).minBy { case (_, v, _) => math.abs(v) }
      kept = kept.filterNot(_ eq cheapest)
      out = line(kept, dropErrs, results.size - kept.size)
    }
    if (out.length > 1600) { dropErrs = true; out = line(kept, dropErrs, results.size - kept.size) }
    println(out)
    spark.stop()
  }
}
