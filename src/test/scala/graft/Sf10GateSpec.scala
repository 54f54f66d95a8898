package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed CORRECTNESS_SF10.json artifact — the r9 exact
  * oracle gate for the heaviest d/t/n/g queries at sf10 (500k docs,
  * 100 structure-preserving copies of sf0.1; see GenCorpus and the
  * per-query-isolated runner tools/gate_isolated.py). The driver's
  * own gate runs at sf0.01 and ~sf1; this artifact is the evidence
  * that the heavy-family semantics stay EXACT a further decade up,
  * so it must not silently rot or lose members.
  */
class Sf10GateSpec extends AnyFunSuite {

  private lazy val doc: String = {
    val p = java.nio.file.Paths.get("CORRECTNESS_SF10.json")
    assert(java.nio.file.Files.exists(p),
      "CORRECTNESS_SF10.json missing — run GenCorpus sf10 + Verify + " +
        "tools/gate_isolated.py (recipe in .claude/skills/verify)")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("the sf10 heavy-slice artifact is complete and all-pass") {
    val passes = """"pass": ?(true|false)""".r
      .findAllMatchIn(doc).map(_.group(1)).toSeq
    // r12 closed the gate at 233 rows (r11's 232 + d25; full surface minus the four
    // deliberate baselines m5/m7/d6/d14) — the floor tracks that, so
    // a regeneration that silently drops back to the old heavy slice
    // fails here
    assert(passes.size >= 233, s"only ${passes.size} gated queries recorded")
    assert(passes.forall(_ == "true"),
      "a recorded sf10 gate result is non-pass — re-run the gate and " +
        "fix or explain before re-committing the artifact")
    // the slice must keep its heaviest members — the ops whose scale
    // claims the artifact exists to back (r10 extended it with the
    // heaviest x/c residents over the sf10 TPC-H replica)
    for (q <- Seq("d8_prefix_join", "d22_best_match", "d9_dup_clusters",
                  "t14_corpus_pipeline", "n10_ivf_pq", "g5_label_prop",
                  "x22_tpch_q21", "x23_tpch_q2", "c26_sql_scripting",
                  "c23_time_travel"))
      assert(doc.contains("\"" + q + "\""), s"$q missing from the sf10 gate")
  }

  test("every vacuous row is disclosed and individually justified") {
    // r9's nit: empty-but-exact rows hid in prose. The artifact now
    // carries an explicit vacuous array and a per-query justification
    // (gate_isolated.py refuses to write one without the other).
    val vac = """"vacuous": \[([^\]]*)\]""".r.findFirstMatchIn(doc)
    assert(vac.isDefined, "artifact lacks the vacuous field")
    val entries = """"([a-z0-9_]+)"""".r
      .findAllMatchIn(vac.get.group(1)).map(_.group(1)).toSeq
    entries.foreach { q =>
      assert(doc.contains("\"vacuous_notes\"") &&
        doc.indexOf("\"" + q + "\"", doc.indexOf("\"vacuous_notes\"")) >= 0,
        s"vacuous row $q has no embedded justification")
    }
    // the two rows the r9 verdict called out must be non-vacuous now
    assert(!entries.contains("t19_bm25") && !entries.contains("n16_bitext_mining"),
      "t19/n16 regressed to vacuous — the copy-0/isometric replication broke")
  }
}
