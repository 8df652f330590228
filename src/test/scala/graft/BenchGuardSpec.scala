package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression guard reads the previous round's committed
  * artifact; this pins that the medians survive FORMAT changes the old
  * regex scrape broke on (pretty-printing, reordered keys, nested
  * objects appearing before "queries").
  */
class BenchGuardSpec extends AnyFunSuite {

  test("compact artifact parses") {
    val m = Bench.parseQueryMedians(
      """{"metric":"total","queries":{"q1":1.5,"q2":0.25,"bad":null},"sf":"x"}""")
    assert(m === Map("q1" -> 1.5, "q2" -> 0.25))
  }

  test("pretty-printed and reordered artifact still parses") {
    val m = Bench.parseQueryMedians(
      """{
        |  "regressions_vs_committed": { "q9": { "now": 4.0, "prev": 1.0 } },
        |  "queries": {
        |    "q1": 1.5,
        |    "q2": 3
        |  },
        |  "metric": "total"
        |}""".stripMargin)
    assert(m === Map("q1" -> 1.5, "q2" -> 3.0))
  }

  test("garbage, missing queries, and wrong-typed queries yield empty") {
    assert(Bench.parseQueryMedians("not json at all") === Map.empty)
    assert(Bench.parseQueryMedians("""{"metric":"total"}""") === Map.empty)
    assert(Bench.parseQueryMedians("""{"queries":[1,2]}""") === Map.empty)
  }

  test("artifact cpu-count parse: same-core gate inputs") {
    // the guard only adjudicates same-core pairs (r16: the driver's 8-core
    // scaling run falsely "confirmed" regressions vs the 32-thread
    // baseline); shuffle_partitions tracks $SPARK_GRAFT_CPUS in every
    // artifact this repo has written
    assert(Bench.parseArtifactCpus(
      """{"metric":"total","queries":{"q":1.0},"shuffle_partitions":32}""")
      === Some(32))
    assert(Bench.parseArtifactCpus(
      """{"shuffle_partitions":"8"}""") === Some(8))
    // legacy artifact without the field -> None (treated as comparable)
    assert(Bench.parseArtifactCpus("""{"metric":"total"}""") === None)
    assert(Bench.parseArtifactCpus("not json") === None)
  }

  test("child-output median extraction finds the flagged query's median") {
    val childOut =
      """some log line the child printed
        |{"metric":"total","value":9.9,"queries":{"triangles":4.61,"other":1.0},"sf":"x"}
        |{"metric":"total","value":9.9,"queries":{"triangles":4.610},"n_queries":1}
        |""".stripMargin
    assert(Bench.medianFromChildOutput(childOut, "triangles") === Some(4.61))
    assert(Bench.medianFromChildOutput(childOut, "absent") === None)
    assert(Bench.medianFromChildOutput("", "triangles") === None)
  }

  test("regression block carries {now, prev, isolated, verdict}") {
    val regs = Seq(
      "noisy" -> (8.88, 3.73), // isolated back under 2x prev -> noise
      "real" -> (9.0, 2.0), // isolated still over 2x prev -> confirmed
      "dead" -> (5.0, 1.0)) // no isolated median -> unknown
    val json = Bench.regressionsJson(regs, Map("noisy" -> 4.61, "real" -> 7.5))
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(json)
    assert((j \ "noisy" \ "verdict") === JString("noise"))
    assert((j \ "noisy" \ "isolated") === JDouble(4.61))
    assert((j \ "noisy" \ "prev") === JDouble(3.73))
    assert((j \ "real" \ "verdict") === JString("confirmed"))
    assert((j \ "dead" \ "verdict") === JString("unknown"))
    assert((j \ "dead" \ "isolated") === JNull)
  }

  test("window ratio = median drift of sub-second control rows") {
    val prev = Map("c1" -> 0.2, "c2" -> 0.5, "c3" -> 0.8, "big" -> 5.0)
    // controls drift 1.5x/1.6x/1.7x; the ≥1 s row's 3x inflation is NOT a
    // control and must not feed the ratio
    val now = Seq("c1" -> 0.3, "c2" -> 0.8, "c3" -> 1.36, "big" -> 15.0)
    assert(Bench.windowRatio(now, prev) === 1.6)
    // no usable controls -> neutral 1.0 (plain 2x bar)
    assert(Bench.windowRatio(Seq("big" -> 15.0), prev) === 1.0)
    assert(Bench.windowRatio(Seq("c1" -> Double.NaN), prev) === 1.0)
  }

  test("contended-window isolation cannot self-confirm (normalized bar)") {
    // r14 shape: committed 5.67 s, suite 17.0 s, isolated-in-window
    // 15.7 s. Controls drifted ~1.6x -> bar 3.2x; 15.7/5.67 = 2.77 < 3.2
    // -> noise, matching the judge's fresh-window adjudication (4.13 s).
    val regs = Seq("substring_dedup" -> (17.0, 5.67))
    val json = Bench.regressionsJson(regs, Map("substring_dedup" -> 15.7), bar = 3.2)
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(json)
    assert((j \ "substring_dedup" \ "verdict") === JString("noise"))
    // the same isolated median under the UN-normalized bar read confirmed
    val j2 = org.json4s.jackson.JsonMethods.parse(
      Bench.regressionsJson(regs, Map("substring_dedup" -> 15.7)))
    assert((j2 \ "substring_dedup" \ "verdict") === JString("confirmed"))
  }

  test("isolatedRerun spawns a fresh JVM and returns the query's median") {
    // the full automated protocol end-to-end at fixture scale: fresh JVM,
    // same classpath + module flags, BENCH_ONLY child, median parsed back.
    // Forking a whole child bench JVM is slow and machine-load-sensitive,
    // so like the soak harnesses it runs only when explicitly asked for
    // (SPARK_GRAFT_SOAK_BENCH=1) — the pure-parse tests above cover the
    // protocol's logic deterministically on every run.
    assume(sys.env.get("SPARK_GRAFT_SOAK_BENCH").contains("1"),
      "integration fork test: set SPARK_GRAFT_SOAK_BENCH=1 to run")
    val iso = Bench.isolatedRerun("word_count", "/root/testdata/sf0.001", "4")
    assert(iso.isDefined, "child bench run produced no median")
    assert(iso.get > 0.0 && iso.get < 120.0)
  }

  test("the committed artifact itself parses to per-query medians") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/bench_full.json")), "UTF-8")
    val m = Bench.parseQueryMedians(txt)
    assert(m.size > 100, s"expected the full suite, got ${m.size}")
    assert(m.values.forall(v => v >= 0.0 && v < 3600.0))
  }

  test("window-ratio normalization is capped: a control regression cannot raise its own bar past 4x") {
    // if a code/config change genuinely slows the trivial controls (e.g.
    // a session-conf or codegen regression), the uncapped bar would scale
    // with the damage and mask the regression it measures. 5x-drifted
    // controls must still leave the bar at 2 x WindowRatioCap.
    val prev = Map("c1" -> 0.2, "c2" -> 0.4, "c3" -> 0.6)
    val now = Seq("c1" -> 1.0, "c2" -> 2.0, "c3" -> 3.0) // all 5x
    val wr = Bench.windowRatio(now, prev)
    assert(wr === 5.0)
    val bar = 2.0 * math.max(1.0, math.min(wr, Bench.WindowRatioCap))
    assert(bar === 4.0)
  }

  test("budget: the full suite fits the deadline with protocol + cold-run margin") {
    // Σ(committed medians) x materializations-per-query x a cold-run
    // factor (warmups and counts run slower than the post-warm medians;
    // r14's full driver run measured ~1.75x median per materialization
    // averaged over the suite) must fit DefaultDeadlineMin — otherwise
    // the driver's wall cap is at risk BEFORE the run, not after (r15's
    // rc=124). If this fails: raise the deadline, trim the protocol, or
    // speed up the slowest queries.
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/bench_full.json")), "UTF-8")
    val medians = Bench.parseQueryMedians(txt)
    assert(medians.nonEmpty)
    val sumSec = medians.values.sum
    val coldFactor = 1.75
    val marginSec = 120.0 // session startup, GC settles, probes
    val projected = sumSec * Bench.ProtocolMultiplier * coldFactor + marginSec
    val budget = Bench.DefaultDeadlineMin * 60.0
    assert(projected < budget,
      f"projected full-suite wall $projected%.0f s exceeds the " +
        f"${Bench.DefaultDeadlineMin} min deadline (sum of medians " +
        f"$sumSec%.1f s x ${Bench.ProtocolMultiplier} passes x " +
        f"$coldFactor%.2f cold factor + $marginSec%.0f s margin)")
  }

  test("a failed fixture probe is recorded as its error, as valid JSON") {
    val j = Bench.errorJson(new IllegalStateException("no \"edges\"\nat all"))
    val parsed = org.json4s.jackson.JsonMethods.parse(j)
    assert((parsed \ "error") === org.json4s.JString(
      "java.lang.IllegalStateException: no \"edges\"\nat all"))
  }

  test("a failed run, re-run or artifact read is written out with its class and message") {
    val buf = new java.io.ByteArrayOutputStream()
    val err = new java.io.PrintStream(buf, true, "UTF-8")
    assert(Bench.loudly("q1, timed run", err)(42) === Some(42))
    assert(buf.size() === 0)
    assert(Bench.loudly("q1, timed run", err)(
      throw new IllegalStateException("no such table")) === None)
    assert(buf.toString("UTF-8").trim ===
      "BENCH: q1, timed run failed: java.lang.IllegalStateException: no such table")
    // fatal errors are not a failed run: they stop the bench
    intercept[InterruptedException](
      Bench.loudly("q1, timed run", err)(throw new InterruptedException("stop")))
  }
}
