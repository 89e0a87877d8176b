package graft

/** Benchmark main (driver contract): runs every contract query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds. A draw
  * times the query's whole plan, as `graft.Verify` writes it, into Spark's
  * `noop` sink: a `count()` would let Catalyst prune every column the
  * count does not need and drop the final sort. A
  * query whose every draw threw is listed under "failed" instead of timed,
  * with its last exception's class and message under "errors", and the
  * process then exits with status 1. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkProfile.session("graft-bench")
    def stealNow(): Long = ClusterBench.cpuStat()(ClusterBench.Steal)
    val steal0 = stealNow()
    // input materialization (clips corpus parquet + the sketch/candidate
    // oracle exports) is NOT engine work: production input is a
    // pre-existing table, so it runs un-timed
    SparkEntry.prepare(spark, sfDir)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // steal gate (r4 lesson: BENCH_r04 drew 132 stolen core-s and its total
    // read 79.6 s vs 60.6 s clean — under a hypervisor storm wall time
    // measures the co-tenant, not the engine): each draw records its own
    // /proc/stat steal delta; a query whose every draw was stormy gets
    // redrawn (bounded), and the reported time is the min of CLEAN draws
    // when any exist. cleanJ=200 jiffies = 2 stolen core-s per draw.
    val cleanJ = sys.env.getOrElse("SPARK_GRAFT_STEAL_CLEAN_J", "200").toLong
    var redraws = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (best, r) = bestDraw(reps, cleanJ) { () =>
        // q28 must time the FULL engine run every rep: drop the memoized
        // report first so the rep recomputes instead of counting a cache.
        // q29 deliberately keeps the memo — violations are the second
        // output of the SAME run (its honest cost is report-reuse).
        if (name == "q28_clips_verdicts") SparkEntry.releaseReport(sfDir)
        draw(name, () => stealNow()) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      }
      redraws += r
      // engine caches must not leak into the next query's measurement
      // (r3 lesson: the pinned q28 report inflated q35/q36 by 4-9x)
      if (name == "q29_clips_violations") SparkEntry.releaseReport(sfDir)
      name -> best
    }
    // whole-run steal accounting stays: a clean run measures ~0, and a big
    // number flags that even the per-query gate may not have saved it.
    println(report(results, stealNow() - steal0, redraws, sfDir))
    spark.stop()
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }

  /** One draw of `run`: its wall seconds, or the exception it threw — so a
    * failure can never read as a fast time — and the host steal jiffies
    * (`steal`) that accrued meanwhile. */
  def draw(name: String, steal: () => Long)(run: => Unit): (Either[Throwable, Double], Long) = {
    val s0 = steal(); val t0 = System.nanoTime()
    val secs = try { run; Right((System.nanoTime() - t0) / 1e9) } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Left(e)
    }
    (secs, steal() - s0)
  }

  /** `reps` draws of one query, plus up to two redraws while every draw so
    * far was stormy (more than `cleanJ` steal jiffies). Returns the min of
    * the clean successful draws when any exist, else of all successful
    * draws — the last draw's exception when none succeeded — and the
    * number of redraws. */
  def bestDraw(reps: Int, cleanJ: Long)(
      draw: () => (Either[Throwable, Double], Long)): (Either[Throwable, Double], Int) = {
    var draws = (1 to reps).map(_ => draw())
    while (draws.forall(_._2 > cleanJ) && draws.size < reps + 2) draws = draws :+ draw()
    val ok = draws.collect { case (Right(t), j) => (t, j) }
    val clean = ok.filter(_._2 <= cleanJ)
    val best = (if (clean.nonEmpty) clean else ok).map(_._1).minOption
    (best.toRight(draws.collect { case (Left(e), _) => e }.last), draws.size - reps)
  }

  /** The bench's JSON line: timed queries under "queries" and summed in
    * "total"; queries without one successful draw only under "failed",
    * and their exception class and message under "errors". */
  def report(results: Seq[(String, Either[Throwable, Double])], stealJ: Long, redraws: Int,
      sfDir: String): String = {
    val timed = results.collect { case (k, Right(v)) => k -> v }
    val qs = timed.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) => k -> e }
    val failed = errs.map { case (k, _) => s""""$k"""" }.mkString("[", ",", "]")
    val errors = errs.map { case (k, e) =>
      s""""$k":{"class":${json(e.getClass.getName)},"message":${json(String.valueOf(e.getMessage))}}"""
    }.mkString("{", ",", "}")
    f"""{"metric":"total","value":${timed.map(_._2).sum}%.3f,"unit":"sec","queries":$qs,"failed":$failed,"errors":$errors,"steal_core_s":${stealJ / 100.0}%.1f,"redraws":$redraws,"sf":"$sfDir"}"""
  }

  /** `s` as a JSON string literal: backslash, quote and every control
    * character escaped, so a tab or CR in a query's SQL cannot break the
    * oracle's `json.load` of Verify's oracle_sql.json. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
