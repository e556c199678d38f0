package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, GraftBridge}

/** The one owner of the iterative loops' lineage policy: the round
  * bound, the optional per-round stop test, the eager cut
  * (`localCheckpoint(true)`), the release of every cut a newer one
  * supersedes, and the rounds-run count. After a call, the only cut the
  * loop made that is still persisted is the one the returned frame
  * reads.
  *
  * Why cut at all: caching alone leaves the logical plan growing by a
  * join per round, and the nested plan tree OOMs the DRIVER during
  * analysis long before the data does. Why free at once: a cut's blocks
  * are otherwise released only when the driver GCs its RDD, which a
  * large heap may never do, so superseded rounds would pile up in the
  * block manager across rounds and queries.
  *
  * The schedule follows from the loop's shape, never from a caller's
  * setting:
  *  - [[probe]]: loops that read their state eagerly every round (a
  *    count, a star test, a broadcast, a collect) cut every round,
  *    since the read would otherwise recompute the whole nest.
  *  - [[walk]]: fixed-round walks read nothing until the end, so one
  *    lazy plan spans several rounds and the state is cut every
  *    [[WalkCadence]] rounds. Below that many rounds nothing is cut and
  *    the plan is the plain unrolled loop.
  */
object Iterate {

  /** A fixed-round walk cuts its state after every this many rounds. */
  val WalkCadence = 4

  /** One round of a probing loop: its 1-based index, plus the
    * round-scoped cuts its step makes.
    */
  final class Round private[Iterate] (val index: Int) {
    private[Iterate] val cuts = ArrayBuffer.empty[DataFrame]

    /** An eager cut the step reads more than once; it is freed as soon
      * as the round's next state is cut.
      */
    def cut(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      cuts += c
      c
    }
  }

  /** How a probing loop ended: its last (cut) state, the rounds it ran,
    * and whether the stop test ended it.
    */
  final case class Probed(state: DataFrame, rounds: Int, stopped: Boolean)

  /** A probing loop. `init` is cut as the state before round 1; `stop`
    * is tested on it and on every later state; each round cuts
    * `step(state, round)` as the next state and frees the superseded
    * state and the round's own cuts. The loop ends when `stop` holds or
    * after `maxRounds` rounds. `finish` builds the returned frame from
    * the end state; the last state is freed too unless that frame reads
    * it. Returns the frame and the rounds run.
    */
  def probe(init: DataFrame, maxRounds: Int, stop: DataFrame => Boolean = _ => false)(
      step: (DataFrame, Round) => DataFrame)(finish: Probed => DataFrame): (DataFrame, Int) = {
    var state = init.localCheckpoint(true)
    var stopped = stop(state)
    var rounds = 0
    while (!stopped && rounds < maxRounds) {
      val round = new Round(rounds + 1)
      val next = step(state, round).localCheckpoint(true)
      (state +: round.cuts.toSeq).foreach(GraftBridge.freeLocalCheckpoint)
      state = next
      rounds += 1
      stopped = stop(state)
    }
    val out = finish(Probed(state, rounds, stopped))
    if (!GraftBridge.checkpointRddIds(state).subsetOf(GraftBridge.checkpointRddIds(out)))
      GraftBridge.freeLocalCheckpoint(state)
    (out, rounds)
  }

  /** A fixed-round walk: `rounds` applications of `step` to `init`,
    * with the state cut after every [[WalkCadence]]-th round except the
    * last, and each cut freed once the next one is made. The returned
    * state reads the last cut, if any.
    */
  def walk(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var cut: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      state = step(state)
      if (r % WalkCadence == 0 && r != rounds) {
        state = state.localCheckpoint(true)
        cut.foreach(GraftBridge.freeLocalCheckpoint)
        cut = Some(state)
      }
    }
    state
  }
}
