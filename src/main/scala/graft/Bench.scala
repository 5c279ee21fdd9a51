package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Prints ONE final JSON line with per-query stats,
  * and — crucially — a complete, parseable PARTIAL JSON line after
  * EVERY finished pass: the driver keeps the tail of stdout and kills
  * the run at a fixed wall budget, so a timeout must still yield an
  * artifact of record.
  *
  * Execution order is PASS-MAJOR (r14): sweep 1 runs every query once
  * (warmup + 1 timed pass), so a complete 295/295 artifact exists as
  * early as possible; sweeps 2..N add one timed pass per query each,
  * upgrading the per-query stat as they land. The r13 driver run was
  * killed at 3 575 s mid-suite and the old query-major order priced
  * only an alphabetical PREFIX — 236/295 with 59 queries carrying no
  * number at all. Pass-major turns the same kill into 295/295
  * single-pass prices: strictly more information for the same wall.
  *
  * r15 stat + allocation policy (the r14 artifact reached ZERO lines
  * at 3 samples — 97 at n=1, 198 at n=2 — and at n=2 the old "median
  * of available" degenerates to the MEAN, which averaged one honest
  * pass with one stall on 37 lines, e.g. q_ndcg [2.1, 13.1] → 7.6):
  *
  *  - STAT: samples > 3x the per-query minimum are shed as one-sided
  *    stalls before the statistic is taken; n <= 2 surviving samples
  *    report the MIN (no averaging across an unexplained spread,
  *    ever), n >= 3 the median. The artifact's "shed" map discloses
  *    per-query how many samples the 3x filter dropped, and
  *    "stall_retried" which queries had an in-pass retry substituted
  *    (so cross-round comparisons know which numbers were filtered).
  *  - TRIPWIRE ANCHOR: the stall retry compares against
  *    BENCH_RECORD.json — the per-line MIN across the last K full
  *    artifacts (tools/make_record.py seeds it from git history;
  *    every clean full run folds its own per-line min pass back in) —
  *    min-merged with the latest BENCH_FULL.json for lines too new to
  *    have a record. Anchoring to the LATEST artifact let a 23.8 s
  *    stall on a 5.9 s query escape r14's 4x tripwire because the
  *    latest artifact was itself a 2x-weather run.
  *  - TIERED RETRY: with an honest record to compare against, the
  *    tripwire tightens. Record < 1 s (a line that will usually end
  *    the run at n=1): retry when the pass is > 2x record and > 0.5 s
  *    over it — the retry costs ~a second and guarantees no n=1 line
  *    carries an unexamined > 2x price. Record >= 1 s (a line that
  *    gets sweep-2/3 passes, where the shed-stat already rejects
  *    stalls): retry only at > 2.5x and > 1.5 s over. One immediate
  *    retry, min recorded, at most twice per query per run.
  *  - PASS ALLOCATION: sweep 1 covers every query (never stops
  *    early). Sweeps 2..3 skip the stable sub-second class — lines
  *    whose record is < 1 s AND whose sweep-1 pass landed within
  *    2.5x of it (at r14 weather that is ~190 lines whose repeat
  *    passes bought nothing but wall; their in-pass retry already
  *    guards the single sample). Sweep 2 prices the remaining lines
  *    in DESCENDING sweep-1 time, sweep 3 in DESCENDING internal
  *    spread (max/min of gathered samples) — so when the soft wall
  *    budget truncates a sweep, the passes that did run went to the
  *    heaviest / least-settled lines instead of the alphabet's front.
  *
  * Comparability note: in pass-major order a query's later passes run
  * ~200 queries after its first, so its codegen'd classes have
  * usually left the bounded Janino cache and each pass repays plan
  * compilation. That cost is real and identical for every query, and
  * the per-query warmup before the first timed pass still absorbs the
  * one-time JIT/parquet-footer work — but stats are expected to sit a
  * hair above the r12 query-major medians on sub-second lines.
  *
  * Soft wall budget (SPARK_GRAFT_WALL_BUDGET, default 3300 s): once
  * sweep 1 is complete, later sweeps stop between queries when the
  * budget is reached and the run exits 0 with the stats gathered so
  * far — a clean artifact instead of a driver rc-124 kill.
  */
object Bench {
  /** The cold-pass barrier every [[timed]] pass starts behind. It
    * drops cross-query residue BEFORE the clock starts: the queries
    * using localCheckpoint leave their blocks registered until the
    * ContextCleaner catches up, and ~200 executions of residue in one
    * JVM turn into GC churn that lands on whichever query runs when
    * the heap fills (measured: a 1.3 s query spiking to 16 s
    * mid-suite). The memo goes FIRST: unpersisting
    * would orphan its localCheckpoint blocks anyway, and clearing
    * it keeps every timed repetition COLD-path — the cross-query
    * sharing speeds up pipeline runs (graft.Verify), never the
    * published numbers.
    *
    * `settle` adds the GC → settle → GC step: the first collection
    * queues the now-unreferenced checkpoint/shuffle blocks to the
    * async ContextCleaner, the settle gives the cleaner thread a beat
    * to actually drop them (block files included), and the second
    * collection reclaims the freed heap — so the timed pass starts
    * from a quiet heap instead of paying the PREVIOUS query's full GC
    * mid-flight (the documented ±30%-plus swing class on the heavy
    * graph lines: same binary, 15 vs 31 s across artifacts). */
  private[graft] def clearResidue(spark: SparkSession, settle: Boolean = true): Unit = {
    graft.operators.Policy.clearMemo()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    if (settle) { System.gc(); Thread.sleep(150); System.gc() }
  }

  /** One timed pass, the same in every timing main (Bench, AbWedge,
    * ScaleProbe, PrefixDecompose): [[clearResidue]] outside the clock,
    * then the clock covers building the frame and writing it to the
    * noop sink. The noop sink, NOT count(): count() lets Catalyst
    * prune every projection and drop the sort, so parse and derived-
    * column work would never be evaluated — the timed plan must
    * produce every output column. */
  private[graft] def timed(spark: SparkSession, settle: Boolean = true)(
      build: => DataFrame): Double = {
    clearResidue(spark, settle)
    val t0 = System.nanoTime()
    build.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The session every main runs in: `local[SPARK_GRAFT_CPUS]` (default
    * 4) with as many shuffle partitions, UTC, AQE with partition
    * coalescing, a 64MB broadcast threshold, no UI, WARN logging. */
  private[graft] def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Median of a non-empty sample; an even count averages the two
    * middle elements (an upper-middle pick would bias two-sample
    * estimates high). */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def wallSec: Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val wallBudget = sys.env.getOrElse("SPARK_GRAFT_WALL_BUDGET", "3300").toDouble
    // optional arg: comma-separated query-name filter (local iteration).
    // Unknown names ABORT before the session starts: silently dropping
    // a typo would overwrite BENCH_FULL.json with a misleading
    // near-zero partial total.
    val names = SparkEntry.named(args.headOption.toSeq.flatMap(_.split(","))).map(_._1)
    val spark = localSession()
    // a throwing query must never land in the artifact as a plausible
    // small number (elapsed-until-throw LOWERS the total, and the
    // tripwire only fires on slower): record the failure, keep it out
    // of the JSON numbers, and exit nonzero at the end
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run(name: String, barrier: Boolean): Option[Double] =
      try Some(timed(spark, settle = barrier)(SparkEntry.queries(name)(spark, sfDir)))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name
          None
      }
    // tripwire baseline: per-line HONEST RECORD, not the latest
    // artifact. BENCH_RECORD.json holds the min across the last K full
    // runs (seeded by tools/make_record.py from git history of
    // BENCH_FULL.json, self-maintained below); min-merged with the
    // latest BENCH_FULL.json so a query too new for the record still
    // gets a baseline. Both are sf-guarded: a local sf0.01 iteration
    // compared against the committed sf0.1 record would flag every
    // query as a stall.
    // optional exponent: 1.0E-4 must parse as 1e-4, not 1.0 — a
    // sub-millisecond prior time would otherwise corrupt the baseline
    // \s* after the colon: the seed tool writes json.dump-spaced
    // entries ("q_x": 1.2), Bench itself writes compact ones
    val entryRe = "\"(q_[a-z0-9_]+)\":\\s*([0-9.]+(?:[Ee][+-]?[0-9]+)?)".r
    def loadTimes(path: String): Map[String, Double] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) return Map.empty
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      // tolerate json.dump's ": " spacing as well as the compact form
      if (!s""""sf":\\s*"${java.util.regex.Pattern.quote(sfDir)}"""".r
            .findFirstIn(txt).isDefined) {
        System.err.println(s"[bench] $path is for a different sf than $sfDir — ignored")
        return Map.empty
      }
      entryRe.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val recordTimes0 = loadTimes("BENCH_RECORD.json")
    val fullTimes = loadTimes("BENCH_FULL.json")
    val prevTimes: Map[String, Double] =
      (recordTimes0.keySet ++ fullTimes.keySet).iterator.map { k =>
        k -> math.min(recordTimes0.getOrElse(k, Double.MaxValue),
                      fullTimes.getOrElse(k, Double.MaxValue))
      }.toMap
    if (prevTimes.nonEmpty)
      System.err.println(
        f"[bench] tripwire baseline: ${prevTimes.size} lines, sum ${prevTimes.valuesIterator.sum}%.1f s (record ${recordTimes0.size}, latest-full ${fullTimes.size})")
    // target of 3 timed passes on the >= 1 s lines: single-pass totals
    // swung 79 vs 93 s across runs of the SAME binary from host
    // contention alone. Stable sub-second lines keep their sweep-1
    // sample (guarded by the tight in-pass retry) — their repeat
    // passes measurably bought no information in r12..r14 while
    // costing ~2 of the ~55 wall-minutes per sweep.
    val passes = 3
    // Barrier policy (r12): the full GC-settle barrier runs before
    // every query's warmup pass (clearing the PREVIOUS query's
    // residue), but before the timed passes of a SUB-SECOND query it
    // is skipped — a query that finishes in <1 s neither leaves enough
    // residue to poison its own next pass nor amortizes a ~1 s
    // barrier. Cache clears (cheap, race-free) still run before every
    // pass. The decision is made once from the warmup time (which
    // includes one-time JIT/codegen cost — conservatively biased:
    // over-barriering only costs wall, never measurement quality) and
    // remembered across sweeps.
    val BarrierSeconds = 1.0
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Locale.ROOT: the f-interpolator honors the JVM default locale,
    // and a comma decimal separator would corrupt the JSON
    val perQueryBarrier = scala.collection.mutable.Map[String, Boolean]()
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val stallRetried = scala.collection.mutable.LinkedHashSet[String]()
    val warned = scala.collection.mutable.Set[String]()
    // the shed-stat: samples > 3x the per-query minimum are one-sided
    // stalls (the ScaleProbe/AbWedge-documented class: same plan, same
    // corpus, 2-20x once in a long JVM session) and are dropped before
    // the statistic; <= 2 survivors report the MIN — never an average
    // across an unexplained spread (r14's n=2 "median" averaged one
    // honest pass with one stall on 37 lines); >= 3 the median (even
    // survivor counts average the two middle elements).
    def kept(ts: Vector[Double]): Vector[Double] = {
      val m = ts.min
      ts.filter(_ <= 3 * m)
    }
    def stat(ts: Vector[Double]): Double = {
      val k = kept(ts)
      if (k.size <= 2) k.min else median(k)
    }
    // one complete JSON line per finished (query, pass), headline
    // fields LAST: the driver's artifact keeps the TAIL of the stdout
    // stream, so whatever was flushed most recently survives a
    // wall-clock kill, and within a line the totals sit at the
    // truncation-safe end. "partial":true marks every line but the
    // last; a parser that takes the final complete JSON line gets the
    // full artifact on a clean run and the best-available state on a
    // timeout — after sweep 1 that state already prices EVERY query.
    def artifactLine(partial: Boolean): String = {
      val sorted = samples.toSeq.map { case (k, ts) => (k, stat(ts)) }.sortBy(_._2)
      val qs = sorted.map { case (k, v) => s""""$k":${ms(v)}""" }
        .mkString("{", ",", "}")
      val sp = sorted.map { case (k, _) =>
        val ts = samples(k).sorted
        s""""$k":[${ms(ts.head)},${ms(ts.last)},${ts.size}]"""
      }.mkString("{", ",", "}")
      // disclosure: which lines' stats were filtered, and by how many
      // samples — a cross-round comparison must know a number was a
      // shed-min, not a plain median (ADVICE r14)
      val shed = samples.toSeq
        .map { case (k, ts) => k -> (ts.size - kept(ts).size) }
        .filter(_._2 > 0)
      val shedJson =
        if (shed.isEmpty) ""
        else shed.map { case (k, c) => s""""$k":$c""" }
          .mkString(""","shed":{""", ",", "}")
      val total = sorted.map(_._2).sum
      val failedJson =
        if (failed.isEmpty) ""
        else s""","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      val retriedJson =
        if (stallRetried.isEmpty) ""
        else s""","stall_retried":${stallRetried.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      val partialJson = if (partial) s""","partial":true""" else ""
      s"""{"spread":$sp,"queries":$qs$shedJson$failedJson$retriedJson$partialJson,"order":"pass_major","passes_per_query":$passes,"pass_policy":"sub1s_n1","stat":"min_le2_median_shed3x","n_queries":${samples.size},"n_asked":${names.size},"sf":"$sfDir","metric":"total","unit":"sec","value":${ms(total)}}"""
    }
    @volatile var lastLine = ""
    def emit(partial: Boolean): Unit = {
      lastLine = artifactLine(partial)
      println(lastLine)
      System.out.flush()
    }
    // belt-and-braces for a SIGTERM kill: flush one final complete
    // line from the shutdown hook (sbt's forked-process destroy sends
    // TERM, so hooks run; if the pipe is already gone this is a no-op)
    val hook = new Thread(() => if (lastLine.nonEmpty) {
      println(lastLine); System.out.flush()
    })
    Runtime.getRuntime.addShutdownHook(hook)
    // one timed pass with TIERED stall shedding against the honest
    // per-line record:
    //  - record < 1 s (the line usually ends the run at n=1, so the
    //    single sample IS the stat): retry when > 2x record and
    //    > 0.5 s over — cheap insurance that no n=1 line publishes an
    //    unexamined > 2x price;
    //  - record >= 1 s (the line gets sweep-2/3 passes and the
    //    shed-stat rejects one-sided stalls): retry only at > 2.5x
    //    and > 1.5 s over — r14's 4x-of-latest anchor let a 23.8 s
    //    stall on q_simhash_clusters (record 5.5 s) escape by 4 s.
    // ONE immediate retry, min recorded, at most twice per query per
    // run: a GENUINE regression is slow on its retries too, and
    // letting it re-retry every sweep would double its suite cost for
    // no extra signal.
    val retryCount = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def stallSuspect(p: Double, t: Double): Boolean =
      if (p < 1.0) t > 2 * p && t - p > 0.5
      else t > 2.5 * p && t - p > 1.5
    def timedPass(n: String, barrier: Boolean): Option[Double] =
      run(n, barrier).map { t =>
        prevTimes.get(n) match {
          case Some(p) if stallSuspect(p, t) && retryCount(n) < 2 =>
            retryCount(n) += 1
            System.err.println(
              f"[bench] STALL? $n: $t%.2f s vs record $p%.2f s — one retry")
            run(n, barrier) match {
              case Some(t2) =>
                stallRetried += n
                System.err.println(f"[bench] retry $n: $t2%.2f s (keeping min)")
                math.min(t, t2)
              case None => t // retry threw; keep the measured pass,
                             // n is in `failed` and drops below anyway
            }
          case _ => t
        }
      }
    def record(n: String, t: Double): Unit = {
      samples(n) = samples.getOrElse(n, Vector.empty) :+ t
      val med = stat(samples(n))
      // vs the honest record a 2x price is plain host weather (r14 ran
      // a 1.96x median host); warn only past the stall/regression band
      prevTimes.get(n).filter(p => med > 2.5 * p && med - p > 0.5).foreach { p =>
        if (warned.add(n))
          System.err.println(
            f"[bench] REGRESSION? $n: record $p%.2f s -> $med%.2f s (${med / p}%.1fx)")
      }
    }
    // ---- sweep 1: warmup + first timed pass for EVERY query --------
    names.zipWithIndex.foreach { case (n, i) =>
      // warmup pass: JVM/codegen warmup, parquet footer caches, and
      // plan compilation jitter land here, so the timed passes are
      // comparable round over round. The full GC-settle barrier before
      // the warmup exists only to protect the TIMED pass that follows
      // from the previous query's in-flight residue cleanup — the
      // warmup itself is untimed. For a line whose RECORD is sub-second
      // the warmup absorbs that cleanup (clearResidue already queued
      // the unpersists) and the tight 2x in-pass retry guards the one
      // timed sample, so the ~2.5 s settle (r15 measured: two
      // System.gc() on this heap) buys nothing — across ~190 such
      // lines it was ~8 wall-minutes of the budget that starved
      // sweep 3. Heavy/unknown lines keep the settle: their timed
      // passes need the quiet heap and amortize it.
      val warmBarrier = prevTimes.get(n).forall(_ >= BarrierSeconds)
      run(n, barrier = warmBarrier) match {
        case None => // warmup threw — timed passes would throw the same
          // way; n is already in `failed`, skip it in every sweep
        case Some(w) =>
          perQueryBarrier(n) = w > BarrierSeconds
          timedPass(n, perQueryBarrier(n)) match {
            case Some(t) => record(n, t)
            case None => samples.remove(n) // failed: no numeric entry
          }
      }
      emit(partial = true)
      System.err.println(
        f"[bench] sweep 1: ${i + 1}/${names.size}, wall $wallSec%.0f s, sum ${samples.valuesIterator.map(stat).sum}%.1f s")
    }
    // ---- sweeps 2..passes: budget-gated, heavy/unsettled first -----
    // skip the STABLE SUB-SECOND class: record < 1 s and the sweep-1
    // pass within 2.5x of it (weather-tolerant — at a 2x host a 0.7 s
    // record measures ~1.4 s and must still be classed stable). A
    // sub-second line with NO record participates (it's new: gather
    // real spread once; next round it has a record). ~190 of 295
    // lines at r14 weather — their repeat passes bought nothing but
    // the wall that starved the heavy tail of its third sample.
    def stableSub1s(n: String): Boolean =
      samples.get(n).exists { ts =>
        prevTimes.get(n).exists(p => p < 1.0 && ts.head < 2.5 * p)
      }
    val resample = names.filterNot(failed.contains).filterNot(stableSub1s)
    var budgetStop = false
    def sweepPass(order: Seq[String], sweep: Int): Unit = {
      order.zipWithIndex.foreach { case (n, i) =>
        if (!budgetStop && !failed.contains(n)) {
          if (wallSec > wallBudget) {
            budgetStop = true
            System.err.println(
              f"[bench] wall budget $wallBudget%.0f s reached at sweep $sweep ($i/${order.size}) — stopping; every query keeps its gathered passes")
          } else {
            timedPass(n, perQueryBarrier.getOrElse(n, true)) match {
              case Some(t) => record(n, t)
              // a query that fails ANY pass keeps NO numeric entry — a
              // partial stat would still under-report it (and the
              // `failed` list + nonzero exit surface the breakage)
              case None => samples.remove(n)
            }
            emit(partial = true)
          }
        }
      }
      if (!budgetStop)
        System.err.println(
          f"[bench] sweep $sweep done, wall $wallSec%.0f s, sum-of-stats ${samples.valuesIterator.map(stat).sum}%.1f s")
    }
    // sweep 2: DESCENDING sweep-1 time — if the budget truncates, the
    // untouched tail is the cheapest (and most weather-stable) lines
    sweepPass(
      resample.filter(samples.contains)
        .sortBy(n => -stat(samples(n))), sweep = 2)
    // sweep 3: DESCENDING internal spread (max/min of gathered
    // samples), tie-broken by time — the budget-limited third passes
    // go to the lines whose first two samples DISAGREE, which are
    // exactly the ones where a 2-sample min might be hiding a real
    // regression behind a shed stall
    sweepPass(
      resample.filter(n => samples.get(n).exists(_.size >= 2))
        .sortBy { n =>
          val ts = samples(n)
          (-(ts.max / ts.min), -stat(ts))
        }, sweep = 3)
    // the one non-partial line of the run (budget-stopped or clean) —
    // every in-loop emission is partial:true, so the final state is
    // re-emitted exactly once without the flag
    emit(partial = false)
    Runtime.getRuntime.removeShutdownHook(hook)
    // belt-and-braces: the full result also lands in the repo so no
    // stdout truncation can lose per-query times. FULL runs only — a
    // filtered run must never replace the suite-wide artifact with a
    // partial total (the same misleading-near-zero trap as a typo'd
    // filter, just intentional), and neither may a run with failures
    // (its total silently omits the broken queries). A budget-stopped
    // run still qualifies: every query is priced, just from fewer
    // passes.
    if (args.isEmpty && failed.isEmpty) {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        lastLine.getBytes("UTF-8"))
      // self-maintain the per-line record: fold this run's min pass
      // per query into BENCH_RECORD.json (min = the honest observed
      // time; a stat could still carry weather). Only full clean runs
      // at the record's sf. A DELIBERATE slowdown (an adjudicated
      // trade) keeps tripping the retry off the old record — prune
      // that line by hand and note it in BENCH_NOTES.
      val merged = (recordTimes0.keySet ++ samples.keySet).toSeq.sorted.map { k =>
        val v = math.min(recordTimes0.getOrElse(k, Double.MaxValue),
          samples.get(k).map(_.min).getOrElse(Double.MaxValue))
        s""""$k":${ms(v)}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_RECORD.json"),
        s"""{"sf":"$sfDir","metric":"per_line_record","record":${merged.mkString("{", ",", "}")}}\n"""
          .getBytes("UTF-8"))
    } else if (args.nonEmpty)
      System.err.println("[bench] filtered run — BENCH_FULL.json/BENCH_RECORD.json not updated")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] FAILED queries (no numeric entry): ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
