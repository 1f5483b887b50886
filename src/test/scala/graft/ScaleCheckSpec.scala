package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale audit's case selector, checked without a Spark job. */
class ScaleCheckSpec extends AnyFunSuite {
  import ScaleCheck.{caseNames, factorCases, optIn, select}

  test("an empty filter selects every default case and neither opt-in case") {
    val all = select("")
    assert(all === caseNames.filterNot(optIn.contains))
    assert(select(" , ") === all)
    Seq("w1_tumbling", "skew_guard", "resolve_mega", "src_tfexample_media",
        "w1_dense (window agg, same keys)",
        "pp_ingest (content-hash stores, Nx docs, text unchanged)").foreach(n => assert(all.contains(n), n))
    assert(!all.contains("salt_crossover"))
    assert(!all.contains("skew_banded"))
  }

  test("skew_banded selects only itself and builds no factor corpus") {
    assert(select("skew_banded") === Seq("skew_banded"))
    assert(!factorCases.contains("skew_banded"))
  }

  test("a streaming arm's name prefix selects it, in run order with batch cases") {
    assert(select("dedup_wm") === Seq("dedup_wm_disjoint (1h-horizon dedup, Nx keys)"))
    assert(select("txt_bm25_streaming,g_lpa") ===
      Seq("g_lpa", "txt_bm25_streaming (stats store, Nx docs)"))
    assert(select("txt_bm25") === Seq("txt_bm25", "txt_bm25_streaming (stats store, Nx docs)"))
  }

  test("every case name is unique and selects itself") {
    assert(caseNames.distinct === caseNames)
    caseNames.foreach(n => assert(select(n).contains(n), n))
  }
}
