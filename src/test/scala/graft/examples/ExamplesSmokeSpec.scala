package graft.examples

import graft.SparkSpec

/** CI smoke for the runnable lifecycle example — the demo must not rot:
  * the degraded arrival alarms, the natural ones don't, kept counts are
  * sane, and the state-rebuilt publish verifies clean on every key.
  */
class ExamplesSmokeSpec extends SparkSpec {

  test("LifecycleDemo: arrivals curate + monitor, state-rebuilt publish verifies") {
    val (perArrival, nOk, nAll, sOk, nHits) = LifecycleDemo.run(spark, sf0001)
    assert(perArrival.size === 4)
    // every arrival kept SOMETHING and only the degraded one alarmed
    assert(perArrival.forall(_._1 > 0L), s"kept counts: $perArrival")
    assert(perArrival.map(_._2) === Seq(0L, 0L, 0L, 1L),
      s"only the degraded arrival may alarm: $perArrival")
    // the manifest over the state-rebuilt corpus verifies on EVERY key
    assert(nAll > 0L && nOk === nAll, s"verify: $nOk/$nAll")
    // the state manifest verifies on every curation table PLUS the
    // drift monitor's lenhist (a healthy state must read all-ok — the
    // demo used to omit lenhist and print "5/6 tables ok"), and the
    // state-served retrieval answers k=5 for all 4 queries
    assert(sOk ===
      graft.pipelines.CurationState.CurationTables.size.toLong + 1L,
      s"state manifest: $sOk tables ok")
    assert(nHits === 20L, s"state-served retrieval rows: $nHits")
  }

  test("FullLoop: register → PIT → materialize → online → facade index lifecycle with retrain/repair/GC") {
    val (histRows, online, hits, stale, repaired, corpus) =
      FullLoop.run(spark, sf0001)
    assert(histRows === 3L, s"PIT retrieval rows: $histRows")
    // both online lookups answered with materialized feature values
    assert(online.size === 2 && online.forall(m =>
      m.get("events_fv__value").exists(_ != null) &&
        m.get("events_fv__event_type").exists(_ != null)),
      s"online lookups: $online")
    // facade-served IVF retrieval: 4 queries × topK 5
    assert(hits === 20L, s"facade retrieval rows: $hits")
    // the retrain strands ALL accumulated state (health reads 0
    // serving rows); repair + GC re-absorb the full corpus
    assert(stale === 0L, s"post-retrain serving rows: $stale")
    assert(repaired === corpus,
      s"post-repair serving rows $repaired != corpus $corpus")
  }

  test("PitStrategies: sorted-scan PIT == window PIT") {
    // the internal require IS the pin (the demo throws on any
    // disagreement); the diff must read 0
    assert(PitStrategies.run(spark, sf0001) === 0L)
  }
}
