package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** The recorded baseline feeding Bench's >2× self-adjudication, its
  * window stamp and the OpsServer baseline endpoint: a board-shaped
  * `BENCH_BASELINE.json` that must cover the registry with sane seconds,
  * or the adjudication silently compares against nothing. */
class BaselinesSpec extends AnyFunSuite {

  test("the tracked baseline board holds every registry query's sf0.1 seconds") {
    val b = Bench.boardQueries(Paths.get(Bench.BaselineFile))
    val missing = SparkEntry.queries.keySet.diff(b.keySet)
    assert(missing.isEmpty, s"registry queries without a baseline: $missing")
    // the q95 split rows are board extras with their own baselines
    assert(b.contains("q95_index_build") && b.contains("q95_probe_only"))
    assert(b.values.forall(v => v > 0 && v < 120), "baselines must be sane seconds")
    // spot values pinned from the ledger tables the file was cut from:
    // the r8 full re-baseline (q01), the r12c decade-study re-baseline
    // (q152) and the r11 judge-adjudicated number (q153)
    assert(b("q01_scan_filter") == 0.891)
    assert(b("q152_robust_profile") == 4.08)
    assert(b("q153_dist_drift") == 0.688)
  }
}
