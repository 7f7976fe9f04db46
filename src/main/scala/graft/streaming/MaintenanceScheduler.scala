package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** ONE way to run every maintenance policy a deployment carries.
  *
  * The repo has six trigger policies — fragmentation on the five
  * persisted index families ([[graft.operators.Dedup
  * .compactIfFragmentedWith]] over dedup/phash bands, the IVF and PQ
  * code tables, and BM25's marker-fenced fold) and retention on the
  * retract changelog ([[StreamingQueries]]' `LakeRetractStream
  * .compactRetractLogIfLong`). Each is cheap to DECIDE (one file/marker
  * listing) and expensive to FIRE (a fenced rewrite), and each documents
  * the same two execution rules:
  *
  *  1. SINGLE WRITER — a fired repair must never run concurrently with
  *     the stream that appends to the same artifact;
  *  2. COMMITTED OFFSETS — seal/fold only work the writer's checkpoint
  *     has committed (the retract log's explicit-watermark rule).
  *
  * The gates enforce those rules by convention (call the trigger after
  * `processAllAvailable`); this scheduler makes the convention a
  * mechanism. [[maintenanceWindow]] QUIESCES every registered writer
  * first — `processAllAvailable` returns only when all published work's
  * offsets are committed, satisfying rule 2 — then runs the registered
  * triggers one at a time on the calling thread (rule 1: no two repairs
  * overlap, and the caller keeps the sources quiescent for the window —
  * a contract the window VERIFIES by failing loudly if any writer
  * processed rows while the triggers ran; see [[maintenanceWindow]]).
  * Policies run
  * in registration order, every decision is logged as its policy
  * returns, and a policy that throws aborts the window after the
  * decisions of the policies before it are logged — a half-run window is
  * safe because every fold is individually atomic and idempotent, and the
  * next window re-decides from the artifact state.
  *
  * Scale shape: a window's steady-state cost is the sum of the policies'
  * listings — metadata only. The scheduler adds no state of its own; all
  * durability lives in the artifacts (markers, manifests, checkpoints),
  * so a crashed scheduler process needs no recovery protocol beyond
  * restarting the loop.
  */
final class MaintenanceScheduler {

  /** One logged trigger decision: `window` counts [[maintenanceWindow]]
    * calls, `measure` is the policy's probed metric (files-per-bucket,
    * live log count, ...), `fired` whether the repair ran.
    */
  final case class Decision(window: Int, policy: String, measure: Double,
      fired: Boolean)

  private val policies =
    scala.collection.mutable.ArrayBuffer.empty[(String, () => (Double, Boolean))]
  private val log = scala.collection.mutable.ArrayBuffer.empty[Decision]
  private var windows = 0

  /** Register a policy: any `() => (measure, fired)` trigger — the shape
    * every `compactIfFragmentedWith` binding already has; adapt
    * integer-measure triggers (the retract log's live count) with a
    * `.toDouble`.
    */
  def register(name: String)(trigger: () => (Double, Boolean)): this.type =
    synchronized {
      require(!policies.exists(_._1 == name), s"policy $name already registered")
      policies += (name -> trigger)
      this
    }

  /** Run one maintenance window: quiesce every `writer`, then execute
    * all registered triggers serially. Returns this window's decisions.
    *
    * QUIESCENT-SOURCE CONTRACT (r20 ADVICE): `processAllAvailable` only
    * drains data available at that instant — the queries stay ACTIVE, so
    * a source that keeps producing during the window would start a
    * micro-batch concurrent with a fired rewrite, re-introducing exactly
    * the single-writer race this scheduler exists to close. The caller
    * must not feed the watched sources while a window runs (the gates'
    * driver-controlled feed satisfies this by construction). The window
    * VERIFIES the contract instead of trusting it: any new progress
    * entry that processed rows between the quiesce and the end of the
    * triggers fails the window loudly rather than letting a racing batch
    * silently interleave with a DROP+RENAME.
    *
    * An ABORTED window keeps what it logged: each decision is logged as
    * its policy returns. A tripped fence throws after all of the window's
    * decisions are logged; a throwing policy aborts the window with the
    * decisions of the policies that ran before it logged. The window
    * number is spent either way, so a caller that retries logs the
    * retry's decisions under the NEXT window number — after a tripped
    * fence, [[decisions]] holds both attempts, told apart by `window`.
    */
  def maintenanceWindow(writers: StreamingQuery*): Seq[Decision] =
    synchronized {
      writers.foreach(_.processAllAvailable())
      // fence: the last committed batch per writer at quiesce time
      val fence = writers.map(w =>
        w -> Option(w.lastProgress).map(_.batchId).getOrElse(-1L))
      windows += 1
      val w = windows
      // log each decision as its policy returns, so neither a later
      // throwing policy nor a tripped fence (r21 ADVICE: that window's
      // decisions are what the operator needs to diagnose the race)
      // discards the decisions already made
      val ds = policies.toList.map { case (name, trigger) =>
        val (measure, fired) = trigger()
        val d = Decision(w, name, measure, fired)
        log += d
        d
      }
      fence.foreach { case (wr, b0) =>
        // no-data batches (watermark bookkeeping) are tolerated; a batch
        // that PROCESSED ROWS ran concurrently with a possible rewrite
        val bad = wr.recentProgress
          .filter(p => p.batchId > b0 && p.numInputRows > 0)
        if (bad.nonEmpty) throw new IllegalStateException(
          s"maintenanceWindow $w: writer ${wr.name} processed " +
            s"${bad.map(_.numInputRows).sum} rows (batch ${bad.map(_.batchId).max}) " +
            "concurrently with the maintenance triggers — sources must be " +
            "quiescent for the window's duration; this window's decisions: " +
            ds.mkString("[", ", ", "]"))
      }
      ds
    }

  /** Every decision logged so far, in execution order — including those of
    * windows aborted by a tripped fence; a retried window's decisions
    * appear once per logged attempt, each under its own window number
    * (see [[maintenanceWindow]]).
    */
  def decisions: Seq[Decision] = synchronized { log.toList }
}
