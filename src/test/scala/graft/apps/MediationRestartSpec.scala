package graft.apps

import graft.SparkSpec

/**
 * Crash-resume correctness for the composed pipeline over the unbounded
 * bus: stop the WHOLE app mid-drain (some epochs committed, one possibly
 * in flight), publish more records while it is down, restart from the
 * same checkpoint, and require exactly-once output — every published
 * record appears in the analytics sink exactly once.
 *
 * Three mechanisms under test, together: bus offsets resume from the
 * streaming checkpoint; TWS dedup state survives restart on RocksDB; and
 * the analytics sink's epoch-keyed OVERWRITE makes a replayed epoch
 * rewrite its own `batch=<id>` dir instead of appending duplicates — a
 * flat append sink would double-write the replayed epoch's rows (the
 * foreachBatch idempotence contract).
 */
class MediationRestartSpec extends SparkSpec {

  test("stop mid-drain, publish more, restart (tws): every record exactly once") {
    val drain = new MediationDrain(spark, "medrestart")
    val (n1, n2) = (8000L, 4000L)
    drain.publish(n1)

    // run 1: stop as soon as the FIRST rows commit — mid-drain, with later
    // epochs unprocessed and possibly one in flight
    drain.runUntil(1)
    val afterStop = drain.countOut()
    assert(afterStop > 0, "the first run must have committed something")
    info(s"stopped after $afterStop/$n1 rows")

    // publish the second tranche while the app is DOWN
    drain.publish(n2)

    // run 2: same checkpoint — resumes bus offsets and dedup state
    drain.runUntil(n1 + n2)
    drain.assertExactlyOnce(n1 + n2)
  }
}
