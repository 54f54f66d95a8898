package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-10 committed evidence artifacts so they cannot
  * silently rot or lose members (the Sf10GateSpec discipline applied
  * to the ~sf1 gate and the packed-media layout A/B).
  */
class GateArtifactsSpec extends AnyFunSuite {

  private def read(name: String): String = {
    val p = java.nio.file.Paths.get(name)
    assert(java.nio.file.Files.exists(p), s"$name missing")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("CORRECTNESS_SF1.json: the full surface is gated exact at ~sf1") {
    val doc = read("CORRECTNESS_SF1.json")
    val passes = """"pass": ?(true|false)""".r
      .findAllMatchIn(doc).map(_.group(1)).toSeq
    assert(passes.size >= 237, s"only ${passes.size} sf1 gate rows recorded")
    assert(passes.forall(_ == "true"),
      "an sf1 gate row is non-pass — re-run Verify+check at " +
        "target/scalecurve/sf1 and fix before re-committing")
    // rows-only would mean an oracle quietly vanished
    assert(doc.contains("\"n_rows_only\": 0"),
      "sf1 gate has rows-only entries — every query must be oracled")
  }

  test("CORRECTNESS_SF30.json: the heavy-documents slice is gated exact at sf30") {
    val doc = read("CORRECTNESS_SF30.json")
    val passes = """"pass": ?(true|false)""".r
      .findAllMatchIn(doc).map(_.group(1)).toSeq
    assert(passes.size >= 3, s"only ${passes.size} sf30 gate rows recorded")
    assert(passes.forall(_ == "true"),
      "an sf30 gate row is non-pass — re-run the GenCorpus sf30 runbook " +
        "(see .claude/skills/verify) and fix before re-committing")
    // the merge guard needs the corpus fingerprint to refuse
    // cross-generation mixes; its absence means a hand-edited artifact
    assert(doc.contains("corpus_scheme"),
      "sf30 artifact lost its corpus_scheme stamp")
  }

  test("CORRECTNESS_SF100.json: the sf100 rung is gated exact") {
    // r14's fifth ladder rung: q24 (100M-event interval join), t14
    // (5M-doc corpus pipeline), x23 (TPC-H q2, 729k-row result) —
    // value-exact at 3.3x the sf30 ceiling. x22 is deliberately
    // absent: its q21 self-join shuffle over 600M lineitem rows
    // exceeds this single box's disk headroom (a host-capacity
    // verdict, not a plan defect — it stays gated at sf30).
    val doc = read("CORRECTNESS_SF100.json")
    val passes = """"pass": ?(true|false)""".r
      .findAllMatchIn(doc).map(_.group(1)).toSeq
    assert(passes.size >= 3, s"only ${passes.size} sf100 gate rows recorded")
    assert(passes.forall(_ == "true"),
      "an sf100 gate row is non-pass — re-run the GenCorpus sf100 runbook " +
        "(see .claude/skills/verify) and fix before re-committing")
    assert(doc.contains("corpus_scheme"),
      "sf100 artifact lost its corpus_scheme stamp")
  }

  test("every 0-row pass in every committed gate artifact carries a vacuous note") {
    // A 0-row hash-match proves only that both engines agree on
    // emptiness — d6 passed three rounds of sf0.01 gates that way
    // before the r11 sweep caught it. The runners (tools/check.py,
    // tools/gate_isolated.py) now refuse to write an artifact whose
    // vacuous rows lack a justification in tools/vacuous_notes.json;
    // this pin closes the other half: artifacts ALREADY committed
    // (including driver-written ones, whose rows field is
    // `spark_rows`) can never hold an unexplained empty pass either.
    val notes = read("tools/vacuous_notes.json")
    val dir = java.nio.file.Paths.get(".")
    val artifacts = java.nio.file.Files.list(dir).iterator()
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      artifacts.forEachRemaining { p =>
        val name = p.getFileName.toString
        if (name.startsWith("CORRECTNESS") && name.endsWith(".json")) {
          val doc = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // check.py shape: "q": {"pass": true, "rows": 0, ...}
          // driver shape:  "q": {"rows_match": true, ..., "spark_rows": 0,
          //                      "oracle_rows": 0, "err": null}
          val q = """"([a-z0-9_]+)": \{([^}]*)\}""".r
          q.findAllMatchIn(doc).foreach { m =>
            val (qn, body) = (m.group(1), m.group(2))
            val vacuousPass =
              (body.contains("\"pass\": true") &&
                body.contains("\"rows\": 0")) ||
              (body.contains("\"hash_match\": true") &&
                body.contains("\"spark_rows\": 0"))
            if (vacuousPass && !notes.contains("\"" + qn + "\""))
              offenders += s"$name: $qn"
          }
        }
      }
    } finally () // Files.list stream is short-lived; JVM exit reclaims it
    assert(offenders.isEmpty,
      s"0-row passes without a tools/vacuous_notes.json entry: " +
        offenders.mkString(", "))
  }

  test("MEDIA_SHARDS.json: the packed layout beats loose at both scales") {
    val doc = read("MEDIA_SHARDS.json")
    def num(key: String): Double = {
      val m = ("\"" + key + "\": ?([0-9.]+)").r.findFirstMatchIn(doc)
      assert(m.isDefined, s"$key missing from MEDIA_SHARDS.json")
      m.get.group(1).toDouble
    }
    // the artifact's claim is ORDERING (packed < loose, gap widening
    // with asset count), not exact timings — hosts drift, ratios hold.
    // The sf0.1 bound is 1.2, not the pre-r12 1.5: removing the codec
    // contention (which rode the loose layout's many tasks hardest)
    // legitimately shrank the SMALL-corpus gap to ~1.4x while widening
    // the at-scale gap to ~39x — the 5k-clip rung is the decade's
    // floor, not its claim
    val sf01 = num("layout_speedup")
    assert(sf01 > 1.2, s"sf0.1 layout speedup regressed to $sf01")
    val loose1 = num("loose_m7_audio_decode_s")
    val packed1 = num("packed_m11_media_shards_s")
    assert(packed1 < loose1,
      s"packed ($packed1) no longer beats loose ($loose1)")
    // The 500k-clip rung is the decade's CLAIM (1.4x -> 6.8x -> 38.6x)
    // and it is exactly where the r12 single-task AQE collapse hid: a
    // coalesced index shuffle decodes 500k clips on ONE core (~18 s)
    // while the fixed read takes 1.22 s. A generous fixed wall bound
    // (<= 5 s, 4x headroom over the measured 1.22) fails CI on any
    // future parallelism collapse instead of waiting for a judge pass.
    val sf10Block = doc.substring(doc.indexOf("sf10_500k_clips"))
    val packed10 = ("\"packed_m11_media_shards_s\": ?([0-9.]+)").r
      .findFirstMatchIn(sf10Block)
    assert(packed10.isDefined, "sf10 rung missing packed wall")
    assert(packed10.get.group(1).toDouble <= 5.0,
      s"committed sf10 packed read wall ${packed10.get.group(1)} s > 5 s " +
        "— re-check MediaShards.readMembers parallelism (explicit-count " +
        "repartition; see ROUND12_NOTES m9 post-mortem) before committing")
  }

  test("BENCH_PER_QUERY.json: the committed canonical pass has no failed queries") {
    // A query that throws on every bench run is dropped from the
    // results map, so both regression comparators (which iterate the
    // current map) go blind to it. Bench now exits nonzero on a
    // non-empty failed set; this pin closes the committed-artifact
    // half — a map recording failures can never be the round's "prev".
    val doc = read("BENCH_PER_QUERY.json")
    assert(doc.contains("\"failed\":[]"),
      "committed BENCH_PER_QUERY.json records failed queries — " +
        "adjudicate and re-run the canonical pass before committing")
    val n = """"n_queries":(\d+)""".r.findFirstMatchIn(doc)
    assert(n.isDefined && n.get.group(1).toInt >= 237,
      s"committed per-query map lost surface: ${n.map(_.group(1))}")
  }
}
