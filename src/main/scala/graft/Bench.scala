package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line for the driver.
  *
  * Methodology (BASELINE.md): median of 3 timed runs per query, after a
  * warmup pass that triggers JIT + codegen + file-footer caching. Each run
  * materializes the full result through the `noop` sink — `count()` would
  * let the optimizer prune the computed columns (a projection-only query
  * would time as a row-count scan).
  */
object Bench {

  /** Default wall budget for the FULL suite, minutes. The driver kills a
    * bench run past its own cap (r15: rc=124 after r14's full run took
    * 51:14); this deadline sits comfortably under that with margin for a
    * contended host window. Past 80% of it the adaptive extra samples are
    * skipped; past 100% each remaining query degrades to a single timed
    * run (its warmup) so the run ALWAYS finishes and writes a full
    * per-query map — a degraded median beats a killed run with no
    * artifact. Overridable via SPARK_GRAFT_BENCH_DEADLINE_MIN.
    */
  val DefaultDeadlineMin = 45

  /** Materializations per query under the full (non-degraded) protocol:
    * warmup (which also observes the row count — an `Observation` on the
    * noop write, not a separate pass) + 3 timed samples. BenchBudgetSpec
    * multiplies the committed medians by this (plus a cold-run margin)
    * to prove the suite fits [[DefaultDeadlineMin]] BEFORE the driver
    * runs it.
    */
  val ProtocolMultiplier = 4

  /** The window-ratio normalization is CAPPED here (bar ≤ 2×cap): an
    * uncapped ratio would let a code/config change that genuinely slows
    * the sub-second control queries (session conf drift, a codegen
    * regression) inflate the control median and thereby raise its own
    * regression bar, masking the very regression it caused. Drift beyond
    * the cap is reported loudly instead of silently absorbed.
    */
  val WindowRatioCap = 2.0

  /** The committed artifact's per-query medians, via a REAL JSON parse
    * (json4s ships on the Spark classpath) — the earlier regex scrape
    * broke on any format change (pretty-printing, key reordering around
    * a nested object) and would have silently disabled the regression
    * guard. Non-numeric / null medians (failed queries) are skipped;
    * anything unparseable yields an empty map, which [[main]] reports
    * loudly rather than reading as "no regressions".
    */
  private[graft] def parseQueryMedians(txt: String): Map[String, Double] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parseOpt(txt).toSeq.flatMap { j =>
      j \ "queries" match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JDecimal(v)) => k -> v.toDouble
          case (k, JLong(v)) => k -> v.toDouble
        }
        case _ => Seq.empty
      }
    }.toMap
  }

  /** `body`, or None when it throws a non-fatal exception, which is then
    * written to `err` as `BENCH: <what> failed: <class>: <message>` so that
    * no failed run, re-run or artifact read passes silently. Fatal errors
    * (out of memory, interrupts) propagate.
    */
  private[graft] def loudly[A](what: String,
      err: java.io.PrintStream = System.err)(body: => A): Option[A] =
    try Some(body) catch {
      case NonFatal(t) =>
        err.println(s"BENCH: $what failed: ${t.getClass.getName}: ${t.getMessage}")
        None
    }

  /** A failure as an artifact field: `{"error":"<class>: <message>"}`. */
  private[graft] def errorJson(t: Throwable): String = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(
      JObject("error" -> JString(s"${t.getClass.getName}: ${t.getMessage}")))
  }

  /** The core count the committed artifact was measured at (its
    * `shuffle_partitions` field tracks `$SPARK_GRAFT_CPUS`). The r16
    * driver's 8-core scaling run "confirmed" four regressions purely by
    * comparing 8-thread medians against the 32-thread committed baseline —
    * cross-core medians are not comparable, so the guard only adjudicates
    * same-core pairs. None (legacy artifact without the field) is treated
    * as comparable rather than silently disabling the guard forever.
    */
  private[graft] def parseArtifactCpus(txt: String): Option[Int] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parseOpt(txt).flatMap { j =>
      j \ "shuffle_partitions" match {
        case JInt(v) => Some(v.toInt)
        case JLong(v) => Some(v.toInt)
        case JString(s) => scala.util.Try(s.trim.toInt).toOption
        case _ => None
      }
    }
  }

  /** Extract `name`'s median from a child bench run's stdout: the child
    * prints one or two JSON lines (full + compact); the first line whose
    * `queries` object carries `name` wins. Factored from the spawn so the
    * parse is spec-testable without a JVM fork.
    */
  private[graft] def medianFromChildOutput(out: String, name: String): Option[Double] =
    out.linesIterator
      .map(parseQueryMedians)
      .collectFirst { case m if m.contains(name) => m(name) }

  /** Same-run host-window drift estimate, the control the regression
    * guard normalizes by: the MEDIAN now/prev ratio over the control
    * rows — queries that were SUB-SECOND in the committed artifact and
    * ran clean this run. Those rows are plan-trivial and (by the r13/r14
    * record) drift ±50-70% purely with the host window, in lockstep with
    * the expensive rows a contended box inflates — so their median ratio
    * measures the window, not the code. A ratio of 1.0 (no usable
    * controls, or a quiet box) leaves the guard at its plain 2x bar;
    * an inflated window raises the bar proportionally, so a
    * sort/spill-heavy query can no longer "confirm" its own suite-noise
    * flag by re-running inside the same contended window (r14:
    * substring_dedup flagged confirmed at 15.7 s where the judge's
    * fresh-window rerun read 4.13 s on byte-identical code).
    */
  private[graft] def windowRatio(results: Seq[(String, Double)],
      prev: Map[String, Double]): Double = {
    val rs = results.collect { case (k, v)
      if !v.isNaN && prev.get(k).exists(p => p > 0.0 && p < 1.0) =>
        v / prev(k)
    }.sorted
    if (rs.isEmpty) 1.0 else rs(rs.size / 2)
  }

  /** The regression block's artifact schema: per flagged query
    * `{now, prev, isolated, verdict}` where `isolated` is the fresh-JVM
    * re-check median (null when the re-run failed) and `verdict` is
    * "noise" (isolated median back under `bar` × prev), "confirmed"
    * (still over it), or "unknown" (no isolated median). `bar` is the
    * window-normalized threshold `2 × max(1, windowRatio)` — the same
    * bar that flagged the query — so a contended window cannot
    * self-confirm its own inflation.
    */
  private[graft] def regressionsJson(regs: Seq[(String, (Double, Double))],
      isolated: Map[String, Double], bar: Double = 2.0): String =
    regs.map { case (k, (now, prev)) =>
      val iso = isolated.get(k)
      val verdict = iso match {
        case Some(v) if v <= bar * prev => "noise"
        case Some(_) => "confirmed"
        case None => "unknown"
      }
      "\"" + k + "\":{\"now\":" + now + ",\"prev\":" + prev +
        ",\"isolated\":" + iso.map(_.toString).getOrElse("null") +
        ",\"verdict\":\"" + verdict + "\"}"
    }.mkString("{", ",", "}")

  /** Re-run ONE query in a fresh single-query JVM and return its isolated
    * median. Two consecutive rounds (r10 `triangles`, r11 `bfs_levels`)
    * had the >2x guard fire on suite-position noise — the committed code
    * measured fine in isolation — and each flag cost a manual worktree
    * protocol. This automates that protocol: same classpath, same JVM
    * flags (add-opens, heap), `SPARK_GRAFT_BENCH_ONLY=<name>` so the
    * child runs the full warmup + adaptive-sampling methodology on just
    * the flagged query and skips the artifact write. Child stderr flows
    * through to ours; stdout is captured and parsed. Returns None when
    * the child fails, times out, or prints no median (a failure to start
    * or read the child is written to stderr) — the artifact then
    * records verdict "unknown" rather than silently dropping the flag.
    */
  private[graft] def isolatedRerun(name: String, sfDir: String, cpus: String,
      timeoutMinutes: Long = 20): Option[Double] = {
    import scala.jdk.CollectionConverters._
    loudly(s"isolated re-run of $name") {
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", name)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      p.getOutputStream.close()
      // a watchdog (not a timed waitFor) bounds the run: readAllBytes
      // blocks until stdout EOF, so a hung child must be killed for the
      // read to return at all. stderr is inherited — no pipe-buffer
      // deadlock on the captured stream.
      val deadline = System.nanoTime() + timeoutMinutes * 60000L * 1000000L
      val killer = new java.util.Timer("bench-isolated-watchdog", true)
      killer.schedule(new java.util.TimerTask {
        def run(): Unit = { p.destroyForcibly(); () }
      }, timeoutMinutes * 60000L)
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      // keep the watchdog armed through waitFor: a child that closes
      // stdout but never exits (hung shutdown hook, non-daemon thread)
      // must not hang the whole bench run on an unbounded wait. The wait
      // budget is the REMAINDER of the original deadline, not a fresh
      // window — a child that streams output until killed at T must not
      // hold the bench for ~2x the declared timeout
      val exited =
        try p.waitFor(math.max(1L, (deadline - System.nanoTime()) / 1000000L),
          java.util.concurrent.TimeUnit.MILLISECONDS)
        finally killer.cancel()
      if (!exited) { p.destroyForcibly(); () }
      medianFromChildOutput(out, name)
    }.flatten
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // floor for AQE's post-shuffle coalescing, env-parameterized for
      // A/B; the default stays Spark's 1 MB because the measured
      // alternative LOST: byte-driven coalescing does under-parallelize a
      // few CPU-dense small-byte stages (64 KB floor: cms_wordfreq 2.65 →
      // 1.73 s, nb_survivors 7.8 → 3.4 s), but the extra tasks on every
      // genuinely tiny exchange cost more suite-wide (word_count control
      // 0.18 → 0.45 s, winsorized 2.3 → 5.5, emb_abtt 1.7 → 2.8) —
      // matched-window A/B, this round
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE_BYTES", "1048576"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 158 queries x ~10 codegen units blows straight through the
      // default 100-entry codegen cache; every eviction is a Janino
      // recompile and a JIT-cold class — the measured source of the
      // 10-50x mid-suite inflation on codegen-hot queries
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns ONCE PER EXECUTION on the deliberate
    // single-partition prefix-sum windows (TextOps pid offsets, EventOps
    // session stitching — ~32-row inputs, scale-safe by design). Across
    // ~1000 materializations that spam was 100% of the 2000-char tail the
    // driver captured from the killed r15 run. Silence the category so a
    // truncated tail carries per-query signal instead.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

    val startNanos = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - startNanos) / 1e9
    val deadlineMin = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_MIN")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(DefaultDeadlineMin.toDouble)
    val deadlineSec = deadlineMin * 60.0
    val softDeadlineSec = deadlineSec * 0.8

    // The warmup variant ALSO reports the result's row count, via an
    // Observation on the same noop write — a CollectMetrics node at the
    // plan ROOT, so the plan underneath (the thing being warmed and
    // later timed) is unchanged and the count costs one aggregate
    // instead of the separate full column-pruned pass it replaced
    // (link_pred-class queries re-ran near-fully for their count;
    // dropping that pass bought back ~25% of the suite's wall).
    var obsN = 0L
    def materializeCounting(name: String): Long = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      obsN += 1
      val obs = org.apache.spark.sql.Observation(s"rows_${name}_$obsN")
      try {
        df.observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        obs.get("n").asInstanceOf[Long]
      } finally graft.plans.ReleaseRegistry.drain()
    }

    def materialize(name: String): Long = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      try df.write.format("noop").mode("overwrite").save()
      finally
        // drain operator-pinned state (persisted frames, checkpoint blocks)
        // now that the result is materialized — each query runs 5x in this
        // one JVM (warmup + 3 timed + row count), and accumulation across
        // invocations was measured to triple dedup_resolve's run time in
        // r7 (12.5 → 31 → 48 s monotone). The full drain (checkpoint tier
        // included) is safe here: the frame is never re-read — every
        // subsequent run re-invokes the builder.
        graft.plans.ReleaseRegistry.drain()
      0L
    }

    // optional name filter for local iteration (driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // NO suite-level warmup pass: it cost a full extra materialization of
    // every query and its stated purpose (codegen-cache warmth) is covered
    // by the 2000-entry cache plus the per-query warmup immediately before
    // timing. r15's driver run blew its wall cap (rc=124) partly on that
    // redundant pass.

    val degraded = scala.collection.mutable.ArrayBuffer.empty[String]
    val timedWithRows = names.map { name =>
      // isolation between queries: a query's median must measure ITS plan,
      // not its suite position. Drop any cached plans the previous query
      // left outside the release registry (named CacheRegistry entries,
      // stragglers), then settle the JVM — accumulated shuffle/cache debris
      // otherwise bleeds GC pauses into this one's median (observed 4-7x
      // inflation on allocation-heavy queries in full-suite runs vs
      // isolated runs)
      plans.CacheRegistry.clear()
      spark.catalog.clearCache()
      System.gc()
      def timeOne(): Double = {
        val t0 = System.nanoTime()
        val ok = loudly(s"$name, timed run")(materialize(name)).isDefined
        if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
      }
      // per-query warmup IMMEDIATELY before timing (JIT, codegen cache,
      // file footers), carrying the row-count observation. Timed anyway:
      // past the HARD deadline this one run becomes the query's only
      // sample — a cold-run median beats a driver-killed run that
      // leaves no artifact at all.
      var nRows = -1L
      val warm = {
        val t0 = System.nanoTime()
        val ok = loudly(s"$name, warm-up run") {
          nRows = materializeCounting(name)
        }.isDefined
        if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
      }
      val pastHard = elapsedSec >= deadlineSec
      val pastSoft = elapsedSec >= softDeadlineSec
      val samples: List[Double] =
        if (pastHard) {
          degraded += name
          List(warm)
        } else {
          // adaptive sampling against HOST noise: this box is a shared VM
          // and multi-second hypervisor-level stalls land randomly
          // (isolated graph runs measured identical plans at 5.4/5.4/16.2
          // s — the spike follows the wall clock, not the query). 3 runs;
          // while the fastest 3 collected still spread beyond 1.5x, take
          // up to 3 more — UNLESS past the soft deadline, where the extra
          // adaptive samples are skipped to protect the wall budget.
          var s = List.fill(3)(timeOne())
          while (!pastSoft && !s.exists(_.isNaN) && s.size < 6 &&
            elapsedSec < softDeadlineSec &&
            { val b = s.sorted.take(3); b.last / b.head > 1.5 })
            s = timeOne() :: s
          s
        }
      // ANY failed run — warmup and extra samples included — marks the
      // query failed. Without this, a NaN sorts last under TotalOrdering
      // and take(3) silently drops it, folding an intermittent failure
      // into a reported success. (A failed warmup with clean samples is
      // NOT a failure — first-run flakes like a late temp-dir race should
      // not condemn a query whose timed runs all passed.)
      val best = if (samples.exists(_.isNaN)) List.fill(samples.size)(Double.NaN)
        else samples.sorted.take(3)
      // per-query MEDIAN of the retained runs — the stable round-over-round
      // signal (full-suite totals at sf0.1 swing ±50% run to run; medians
      // don't). Under hard-deadline degrade this is the single warm run.
      val median =
        if (best.exists(_.isNaN)) Double.NaN else best.sorted.apply(best.size / 2)
      // stream one compact JSON line per completed query: a driver kill
      // mid-suite now leaves a parseable partial record in the log instead
      // of nothing (r15's all-or-nothing artifact). The {"queries":{name:
      // median}} shape is the same one medianFromChildOutput parses, so
      // BENCH_ONLY children need no separate protocol.
      def j(v: Double) = if (v.isNaN) "null" else v.toString
      val elapsed1 =
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(elapsedSec))
      println(s"""{"bench_q":"$name","queries":{"$name":${j(median)}},"runs":[${samples.map(j).mkString(",")}],"rows":$nRows,"sampled":${samples.size},"elapsed_sec":$elapsed1}""")
      name -> (best, samples.size, median, nRows)
    }
    val timed = timedWithRows.map { case (n, (best, ns, _, _)) => n -> (best, ns) }
    val results = timedWithRows.map { case (n, (_, _, m, _)) => n -> m }
    val rows = timedWithRows.map { case (n, (_, _, _, r)) => n -> r }.toMap
    val timedOut = degraded.nonEmpty

    // Suite-scale regression guard: compare each median against the
    // committed artifact from the previous round (read BEFORE this run
    // overwrites it). A query whose median exceeds its committed value by
    // >2x × the same-run window ratio — on queries that were ≥1 s — is
    // flagged in the artifact and on stderr, so a round-over-round
    // regression (r8: triangles) is a machine check, not an archaeology
    // project. The window ratio (median drift of the sub-second control
    // rows) normalizes out host contention: on a contended box EVERY
    // query inflates, and without the control a spill-heavy query's
    // isolated re-run — in the same window — "confirms" pure noise
    // (r14: substring_dedup).
    val prevArtifact = java.nio.file.Paths.get("tools/bench_full.json")
    val prevArtifactTxt: Option[String] =
      loudly(s"reading the committed artifact $prevArtifact") {
        new String(java.nio.file.Files.readAllBytes(prevArtifact), "UTF-8")
      }
    // same-core gate: an 8-core run's medians vs a 32-thread artifact
    // measure the core count, not the code (r16: four false "confirmed"
    // verdicts in the driver's c8 scaling run). Cross-core runs skip the
    // guard loudly instead of adjudicating.
    val artifactCpus = prevArtifactTxt.flatMap(parseArtifactCpus)
    val sameCore = artifactCpus.forall(_.toString == cpus)
    val prevMedians: Map[String, Double] =
      if (sameCore) prevArtifactTxt.map(parseQueryMedians).getOrElse(Map.empty)
      else Map.empty
    if (!sameCore)
      System.err.println(
        s"BENCH GUARD: committed artifact measured at ${artifactCpus.get} " +
          s"cpus, this run at $cpus — regression guard skipped " +
          "(cross-core medians are not comparable)")
    // a present-but-unparseable artifact must not silently disable the
    // regression guard (a format drift would otherwise read as "no
    // regressions" forever) — make the degradation loud
    else if (prevMedians.isEmpty && java.nio.file.Files.exists(prevArtifact))
      System.err.println(
        s"BENCH WARNING: $prevArtifact exists but yielded no per-query " +
          "medians — regression guard inactive this run (format drift?)")
    val wr = windowRatio(results, prevMedians)
    // CAPPED normalization (bar ≤ 2×WindowRatioCap): an uncapped ratio
    // would let a change that genuinely slows the trivial control queries
    // (session-conf drift, a codegen regression) raise its own bar and
    // mask real regressions. Beyond the cap the drift is reported loudly
    // as its own finding instead of silently absorbed into the bar.
    val bar = 2.0 * math.max(1.0, math.min(wr, WindowRatioCap))
    if (wr > WindowRatioCap)
      System.err.println(f"BENCH WINDOW ALERT: sub-second controls drifted " +
        f"${wr}%.2fx vs committed — EXCEEDS the ${WindowRatioCap}%.1fx cap. " +
        f"Bar capped at ${bar}%.2fx; if this run is NOT on a contended " +
        "host, the controls themselves regressed (conf/codegen change?)")
    else if (wr > 1.25)
      System.err.println(f"BENCH WINDOW: sub-second controls drifted " +
        f"${wr}%.2fx vs committed — regression bar raised to ${bar}%.2fx")
    val regressions = results.collect {
      case (k, v) if !v.isNaN && prevMedians.get(k).exists(p =>
        p >= 1.0 && v > bar * p) => k -> (v, prevMedians(k))
    }
    regressions.foreach { case (k, (now, prev)) =>
      System.err.println(
        f"BENCH REGRESSION: $k $prev%.2f -> $now%.2f s (>${bar}%.2fx)")
    }
    // Automated isolation protocol: every flag gets a fresh-JVM re-check
    // so a suite-position noise flag (r10 triangles, r11 bfs_levels) is
    // settled IN the artifact instead of costing a manual worktree run.
    // Only the top-level full run does this — a BENCH_ONLY child (only
    // nonEmpty) must not recurse into grandchildren.
    // Isolation is bounded by the REMAINING wall budget: each re-run gets
    // min(20 min, time left before the deadline); once the deadline has
    // passed, remaining flags record verdict "unknown" rather than risking
    // the driver's kill (a flag with no verdict beats no artifact at all).
    val isolated: Map[String, Double] =
      if (only.nonEmpty) Map.empty
      else regressions.map(_._1).sorted.flatMap { k =>
        val remainMin = (deadlineSec - elapsedSec) / 60.0
        if (remainMin < 2.0) {
          System.err.println(
            s"BENCH ISOLATING: skipping $k — wall budget exhausted (verdict unknown)")
          None
        } else {
        System.err.println(s"BENCH ISOLATING: re-running $k in a fresh JVM")
        val iso = isolatedRerun(k, sfDir, cpus,
          timeoutMinutes = math.min(20L, remainMin.toLong))
        iso match {
          case Some(v) =>
            val prev = prevMedians(k)
            val verdict = if (v <= bar * prev) "suite noise" else "CONFIRMED regression"
            System.err.println(
              f"BENCH ISOLATED: $k isolated $v%.2f s vs committed $prev%.2f s -> $verdict")
          case None =>
            System.err.println(s"BENCH ISOLATED: $k re-run yielded no median (verdict unknown)")
        }
        iso.map(k -> _)
        }
      }.toMap

    // Fixture-scale probes: the co-occurrence graph's edge count and the
    // base fact-table row count ride in the artifact so fixture vintage
    // drift (the driver regenerates /root/testdata) stops masquerading as
    // plan drift when rounds are compared.
    // (skipped in BENCH_ONLY children — an isolated re-check's purpose is
    // one query's median, and the probes would add a minute of wall —
    // and skipped past the deadline: fixture provenance is not worth the
    // driver's kill)
    val probeJson = if (only.nonEmpty || elapsedSec >= deadlineSec) "{}" else try {
      // .distinct(): the probe's meaning is the COLLAPSED edge count (the
      // derivation now emits per-order pair rows — see coOccurrenceEdges'
      // contract), and the artifact value must stay comparable across rounds
      val coocEdges = operators.Graph.coOccurrenceEdges(spark, sfDir).distinct().count()
      val liRows = Tables.lineitem(spark, sfDir).count()
      val docRows = Tables.documents(spark, sfDir).count()
      s"""{"cooc_edges":$coocEdges,"lineitem_rows":$liRows,"document_rows":$docRows}"""
    } catch { case NonFatal(t) => errorJson(t) }
    finally graft.plans.ReleaseRegistry.drain()

    val failed = results.collect { case (k, v) if v.isNaN => k }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN) "null" else v.toString)
    }.mkString("{", ",", "}")
    // raw per-run times ride in the artifact so future rounds can compare
    // medians AND see the spread without re-running
    val runsJson = timed.map { case (k, (ts, _)) =>
      "\"" + k + "\":[" + ts.map(t => if (t.isNaN) "null" else t.toString).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val sampledJson = timed.map { case (k, (_, n)) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val rs = rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filterNot(_.isNaN).sum
    val regJson = regressionsJson(regressions.toSeq.sortBy(_._1), isolated, bar)
    val degradedJson = degraded.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_best3(le6_sampled)","queries":$qs,"runs":$runsJson,"sampled":$sampledJson,"rows":$rs,"failed":$fs,"timed_out":$timedOut,"degraded":$degradedJson,"deadline_min":$deadlineMin,"window_ratio":$wr,"regression_bar":$bar,"regressions_vs_committed":$regJson,"fixture_probe":$probeJson,"sf":"$sfDir","shuffle_partitions":$cpus}"""
    // full-detail line first (log readers), and persisted as an artifact —
    // the full line is ~4 KB and harness tail-captures truncate it.
    // BENCH_ONLY runs skip the artifact write: a filtered iteration run
    // must not clobber the committed full-suite record. A TIMED-OUT run
    // writes to a _degraded sidecar instead: its single-cold-run medians
    // must not become the next round's regression baseline.
    println(full)
    if (only.isEmpty) {
      val p = java.nio.file.Paths.get(
        if (timedOut) "tools/bench_full_degraded.json" else "tools/bench_full.json")
      try {
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, full.getBytes("UTF-8"))
      } catch {
        case NonFatal(t) => System.err.println(s"BENCH: artifact write to $p failed: $t")
      }
    }
    // LAST line: compact and guaranteed to fit a 2000-char tail capture —
    // headline total + the slowest queries + pointer to the full artifact
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma-decimal locale (de_DE …) would emit 53,8 — malformed JSON
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val slowest = results.filterNot(_._2.isNaN).sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","stat":"median_of_best3(le6_sampled)","queries":$slowest,"n_queries":${results.size},"queries_full":"tools/bench_full.json","failed":$fs,"timed_out":$timedOut,"sf":"$sfDir","shuffle_partitions":$cpus}""")
    spark.stop()
  }
}
