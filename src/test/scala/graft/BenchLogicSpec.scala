package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the cross-run regression sentinel (BenchLogic): the driver-box
  * phantom class where ALL samples of a query are inflated by a sustained
  * load window — invisible to intra-run spread flags (r10: derived_mul at
  * 15.45/16.99/14.91 s vs a committed prior median of 0.32 s). No Spark
  * session needed; BenchSweepSpec runs the sweep itself.
  */
class BenchLogicSpec extends AnyFunSuite {

  test("parsePriorMedians extracts name->median from bench_details format") {
    val json =
      """{"a_q":{"median":0.32,"min":0.29,"max":0.35,"samples":[0.35,0.32,0.29]},""" +
        """"b.q-2":{"median":1.5E-1,"min":0.12,"max":0.2,"samples":[0.15,0.12,0.2]},""" +
        """"dead":{"median":-1.0,"min":-1.0,"max":-1.0,"samples":[-1.0]}}"""
    val m = BenchLogic.parsePriorMedians(json)
    assert(m("a_q") == 0.32)
    assert(m("b.q-2") == 0.15)
    assert(m("dead") == -1.0)
    // a pretty-printed / re-serialized prior file parses identically
    // (a hand-merged file once silently broke the space-sensitive regex)
    val spaced = json.replace(":", ": ").replace(",", ", ")
    assert(BenchLogic.parsePriorMedians(spaced) == m)
  }

  test("parsePriorMedians survives the committed bench_prior.json") {
    val path = java.nio.file.Paths.get("bench_prior.json")
    assume(java.nio.file.Files.exists(path), "bench_prior.json present in repo root")
    val m = BenchLogic.parsePriorMedians(java.nio.file.Files.readString(path))
    assert(m.size > 200, s"expected the full registry, got ${m.size}")
    assert(m.values.forall(v => v > 0 && v < 60), "medians are plausible seconds")
  }

  test("regressedVsPrev flags the sustained-load phantom, skips new/clean/failed") {
    val prior = Map("phantom" -> 0.32, "clean" -> 1.0, "failed_prior" -> -1.0)
    val cur = Map(
      "phantom" -> 15.45, // r10's derived_mul shape: flagged at 48.28x
      "clean" -> 1.7, // 1.7x < 1.8 threshold: not flagged
      "new_this_round" -> 9.9, // no prior: never flagged
      "failed_prior" -> 2.0, // prior failed (-1): never flagged
      "failed_now" -> -1.0) // current failed: never flagged
    val r = BenchLogic.regressedVsPrev(cur, prior)
    assert(r == Map("phantom" -> 48.28))
  }

  test("uniform inflation evades the spread flag; the quiet prior catches it") {
    // r14's flagger escape, pinned end to end in logic: ndcg_eval ran
    // 2.75/2.75/2.15 s under sustained box load (every pass equally slow
    // -> in-run spread 1.28, BELOW both spread thresholds), while the
    // quiet reference was ~1.05 s. The spread flag is structurally blind
    // here; regressedVsPrev against a FRESH quiet prior is the cover.
    val uniform = Seq(2.75, 2.75, 2.15)
    assert(!BenchLogic.spreadFlagged(uniform), "spread flag cannot see uniform load")
    val r = BenchLogic.regressedVsPrev(Map("ndcg_eval" -> 2.75),
      Map("ndcg_eval" -> 1.045))
    assert(r.contains("ndcg_eval"), "quiet prior must flag the uniform phantom")
    // ...but ONLY with a fresh prior: the stale r12-era prior recorded
    // ndcg_eval itself loaded at 3.94 s, and 2.75/3.94 < 1.8 sailed
    // through — the failure mode the per-round refresh discipline closes
    assert(BenchLogic.regressedVsPrev(Map("ndcg_eval" -> 2.75),
      Map("ndcg_eval" -> 3.943)).isEmpty)
    // the spread flag still catches its own class: a spike on SOME passes
    assert(BenchLogic.spreadFlagged(Seq(0.95, 0.97, 13.2)))
    // median/min arm: two of three passes inflated, median is the lie
    assert(BenchLogic.spreadFlagged(Seq(2.94, 6.83, 7.91)))
    // failed passes are ignored; all-failed never flags
    assert(!BenchLogic.spreadFlagged(Seq(-1.0, -1.0, -1.0)))
    assert(!BenchLogic.spreadFlagged(Seq(-1.0, 1.0, 1.1)))
    // a 0.0 sample is a degenerate timer reading: it must FLAG as its own
    // anomaly, never silently disable both ratio arms via a zero min
    assert(BenchLogic.spreadFlagged(Seq(0.0, 1.0, 1.1)))
    assert(BenchLogic.spreadFlagged(Seq(0.0, 0.0, 0.0)))
  }

  test("totalRemeasured substitutes the quiet-tail value, min fallback") {
    val med = Map("a" -> 10.0, "b" -> 2.0, "c" -> -1.0)
    val mins = Map("a" -> 0.5, "b" -> 1.9, "c" -> -1.0)
    // "a" flagged with a re-measure -> contributes 0.7 (not median 10, not
    // min 0.5); "b" unflagged -> median.
    assert(BenchLogic.totalRemeasured(med, mins, Map("a" -> 0.7),
      Set("a")) == 2.7)
    // Flagged but the re-measure itself failed -> min fallback.
    assert(BenchLogic.totalRemeasured(med, mins, Map.empty, Set("a")) == 2.5)
    // A genuine regression re-measures slow and stays damning.
    assert(BenchLogic.totalRemeasured(med, mins, Map("a" -> 9.8),
      Set("a")) == 11.8)
    // A noisy single-sample re-measure ABOVE the median can't inflate
    // the healed headline: min(median, re-measure) caps it.
    assert(BenchLogic.totalRemeasured(med, mins, Map("b" -> 2.6),
      Set("b")) == 12.0)
    // No flags: identical to the plain total.
    assert(BenchLogic.totalRemeasured(med, mins, Map("a" -> 0.7),
      Set.empty) == 12.0)
  }

  test("noisyRun self-rejects a deliberately-loaded run (r16 escape)") {
    // The r16 closing artifact: drift_ratio 1.662 passed the old 2.0 bar
    // with two headline load-phantom regressions riding it. Under the 1.4
    // gate that exact run self-rejects.
    assert(BenchLogic.noisyRun(1.662), "the r16 drifted sweep must trip")
    // Quiet runs stay canonical…
    assert(!BenchLogic.noisyRun(1.0))
    assert(!BenchLogic.noisyRun(1.35))
    assert(!BenchLogic.noisyRun(0.75))
    // …and the gate is symmetric: a load spike that DEPARTED before the
    // probe (probe far faster than the sweep medians) also rejects.
    assert(BenchLogic.noisyRun(0.5))
    assert(BenchLogic.noisyRun(2.1))
    // Bar pinned: drift must come back < 1.4 for a canonical artifact.
    assert(BenchLogic.NoisyRatio == 1.4)
  }

  test("a failure is recorded with its class and message as a valid JSON string") {
    val e = new IllegalStateException("bad \"plan\"\n\tat step\\1\u0001")
    val text = BenchLogic.describe(e)
    assert(text == "java.lang.IllegalStateException: bad \"plan\"\n\tat step\\1\u0001")
    assert(BenchLogic.jsonString(text) ==
      "\"java.lang.IllegalStateException: bad \\\"plan\\\"\\n\\tat step\\\\1\\u0001\"")
    // a null message stays readable
    assert(BenchLogic.describe(new RuntimeException()) == "java.lang.RuntimeException: null")
  }

  test("a details entry carries its timed passes' compiles and still parses as a prior") {
    import BenchLogic.Compiles
    val passes = Seq(Compiles(3, 2500000L), Compiles(0, 0L), Compiles(1, 700L))
    val sum = passes.foldLeft(Compiles.zero)(_ + _)
    assert(sum == Compiles(4, 2500700L))
    assert(Compiles(7, 9000L) - Compiles(4, 1000L) == Compiles(3, 8000L))
    val entry = BenchLogic.detailsEntry("vwap", 0.12, 0.1, 0.2, Some(0.11),
      Seq(0.1, 0.12, -1.0), sum, Some("java.lang.IllegalStateException: x"))
    assert(entry == "\"vwap\":{\"median\":0.12,\"min\":0.1,\"max\":0.2," +
      "\"remeasured\":0.11,\"samples\":[0.1,0.12,-1.0]," +
      "\"codegen_compiles\":4,\"codegen_compile_ms\":2.501," +
      "\"error\":\"java.lang.IllegalStateException: x\"}")
    val file = "{" + entry + "," +
      BenchLogic.detailsEntry("rsi_14", 0.3, 0.3, 0.3, None, Seq(0.3), Compiles.zero, None) + "}"
    assert(file.contains("\"rsi_14\":{\"median\":0.3,\"min\":0.3,\"max\":0.3," +
      "\"samples\":[0.3],\"codegen_compiles\":0,\"codegen_compile_ms\":0.0}"))
    assert(BenchLogic.parsePriorMedians(file) == Map("vwap" -> 0.12, "rsi_14" -> 0.3))
  }
}
