package graft.streaming

import graft.model.MockData

/** D3 semantics (SURVEY §2.5) on [[StatefulTtlDedupTws]], the one D3
  * engine: replays the reference's e2e scenario — 1 unique + 2 duplicate
  * records → 1 SENT + 2 SENT_OR_DUPLICATED, all three inputs produce an
  * output row (test/scala/mediation/MediationServiceSpec.scala:45-83) —
  * plus the state, bootstrap and TTL contracts. TTLConfig runs on real
  * processing time, so the TTL tests pause on the wall clock between
  * batches.
  */
class StatefulTtlDedupSpec extends TwsDedupHarness {
  import spark.implicits._

  test("1 unique + 2 dups => 1 SENT + 2 SENT_OR_DUPLICATED, 3 outputs") {
    val r = MockData.notSentDebitQuique
    val out = runStream("ttl_e2e", Seq(Seq(r, r, r)), ttlMillis = 0L)
    assert(out.size == 3)
    assert(out.count(_.status == Marked.Sent) == 1)
    assert(out.count(_.status == Marked.Dup) == 2)
    assert(out.forall(_.key == r.idempotentKey))
  }

  test("same key in a later batch is still a duplicate (state persists)") {
    val r = MockData.notSentDebitQuique
    val out = runStream("ttl_cross_batch", Seq(Seq(r), Seq(r)),
      ttlMillis = 0L)
    assert(out.map(_.status).sorted == Seq(Marked.Sent, Marked.Dup).sorted)
  }

  test("distinct keys each get their own SENT") {
    val out = runStream("ttl_two_keys",
      Seq(Seq(MockData.notSentDebitQuique, MockData.notSentDebitAbuela)),
      ttlMillis = 0L)
    assert(out.map(_.status) == Seq(Marked.Sent, Marked.Sent))
  }

  test("INITIAL_LOAD bootstrap loads state without a send") {
    val boot = MockData.notSentDebitQuique.tagInitialLoad
    val fresh = MockData.notSentDebitQuique
    val out = runStream("ttl_bootstrap", Seq(Seq(boot), Seq(fresh)),
      ttlMillis = 0L)
    // historical-marked record never sends; the later real arrival with the
    // same key is deduplicated against the bootstrapped state
    // (StateAsyncParDoWithHttpHandler.scala:133-145)
    assert(out.size == 2)
    assert(out.forall(_.status == Marked.Dup))
  }

  test("TTL expiry: after the window lapses the same key is SENT again") {
    val r = MockData.notSentDebitQuique
    // batch 2 starts 700 ms after batch 1 armed a 300 ms window: its first
    // r is SENT again and re-arms the window, so its second r is a dup
    val out = runStream("ttl_expiry", Seq(Seq(r), Seq(r, r)),
      ttlMillis = 300L, pauseMs = 700L)
    assert(out.map(_.status).sorted ==
      Seq(Marked.Sent, Marked.Sent, Marked.Dup).sorted)
  }

  test("duplicates do NOT extend the TTL window (only non-dups arm it)") {
    // TTL T = 6 s, pause p = 0.6 T between batches; a warm-up key goes
    // first so the timed batches run on a compiled query. The first r arms
    // the window at its batch start b1. The dup starts one batch + p after
    // b1 — inside the window while that batch takes < 0.4 T (2.4 s) — and
    // emits its marker without touching state
    // (StateAsyncParDoWithHttpHandler:105-131). The third r starts at least
    // 2p = 1.2 T after b1, 1.2 s past the un-extended deadline, so it is
    // SENT again; had the dup re-armed the window, the third r would start
    // one batch + p < T after the dup and be a dup.
    val r = MockData.notSentDebitQuique
    val out = runStream("ttl_rearm",
      Seq(Seq(MockData.notSentDebitAbuela), Seq(r), Seq(r), Seq(r)),
      ttlMillis = 6000L, pauseMs = 3600L)
    assert(out.count(_.status == Marked.Sent) == 3) // abuela + r twice
    assert(out.count(_.status == Marked.Dup) == 1)
  }

  test("works on batch datasets too (state scoped to the batch)") {
    val r = MockData.notSentDebitQuique
    val ds = spark.createDataset(Seq(r, r, MockData.notSentDebitAbuela))
    val out = StatefulTtlDedupTws(ds, ttlMillis = 0L).collect().toSeq
    assert(out.count(_.status == Marked.Sent) == 2)
    assert(out.count(_.status == Marked.Dup) == 1)
  }
}
