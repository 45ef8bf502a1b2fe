package graft.ops

import org.apache.spark.sql.{DataFrame, GraftInterop}

/** The fixpoint-loop discipline shared by the iterative operators
  * (connected components, PageRank, label propagation, the expanding
  * nearest join): every round's frame is [[pin]]ned and materialized by
  * the round's own control action or by the next round's plan, and
  * [[fixpoint]] enforces the round cap.
  */
object Iterate {

  /** Pins one round's frame: a LAZY local checkpoint with capped size
    * stats, so the round's single control action (or the next round's
    * plan) materializes it — no extra eager checkpoint job per round.
    *
    * `eager = true` is for an operator's INPUT that several scans of one
    * stage read before any action (say, both sides of a union): pinned
    * lazily, each scan would run the caller's plan again, concurrently,
    * and a non-deterministic caller plan would hand them different rows.
    *
    * Why the stats cap: Spark 4's `localCheckpoint` carries the ORIGINAL
    * plan's statistics onto the `LogicalRDD` leaf. Round k's plan joins
    * round k-1's leaves and size-only join estimation MULTIPLIES child
    * sizes, so the carried `sizeInBytes` grows doubly-exponentially in the
    * round count; a diameter-10^4 connected-components soak stalled the
    * DRIVER in BigInteger multiplies by round ~12. The cap (1 TiB) sits far
    * above every broadcast threshold, so it can only disable a broadcast,
    * never wrongly enable one.
    *
    * Pinning also keeps the plan lineage flat: the pinned frame is a scan
    * of the checkpoint, not the stacked joins of every earlier round.
    */
  def pin(df: DataFrame, eager: Boolean = false): DataFrame =
    GraftInterop.localCheckpointCappedStats(df, eager = eager)

  /** Runs `step` from `init` until it reports done and returns the final
    * state with the number of rounds run. `step` gets the state and the
    * 0-based round index and returns `(next, done)`. If `maxRounds` rounds
    * pass without `done`, this throws an `IllegalStateException` with
    * `exhausted(last state)` as its message: a capped loop never returns a
    * partial result.
    */
  def fixpoint[S](init: S, maxRounds: Int)(exhausted: S => String)(
      step: (S, Int) => (S, Boolean)): (S, Int) = {
    @annotation.tailrec
    def go(s: S, round: Int): (S, Int) =
      if (round >= maxRounds) throw new IllegalStateException(exhausted(s))
      else step(s, round) match {
        case (next, true) => (next, round + 1)
        case (next, false) => go(next, round + 1)
      }
    go(init, 0)
  }
}
