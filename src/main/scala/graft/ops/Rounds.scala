package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one round loop of the iterative graph operators ([[Graph]]) and
  * the connected-components operators (`graft.llm.Dedup`): the caller
  * gives the step and, in a converged form, the stop rule; the driver
  * owns the round counter, the lineage cuts (an eager
  * `localCheckpoint`: every round, or never) and when the stop test
  * runs. A stop test always runs on a cut state, so it is one driver
  * hop off materialized tables. */
private[graft] object Rounds {

  /** A stop rule, tested every `every` rounds and on the last round:
    * `settled(before, now)` compares this check's `probe` of the state
    * with the previous check's (the initial state's at the first
    * check) when `sinceCheck`, else with the previous round's. */
  final class Stop[P](val every: Int, val sinceCheck: Boolean,
      val probe: DataFrame => P, val settled: (P, P) => Boolean) {
    require(every >= 1, s"checkEvery must be >= 1, got $every")
  }

  object Stop {
    /** A stop rule on the states themselves. */
    def apply(every: Int, sinceCheck: Boolean)(
        settled: (DataFrame, DataFrame) => Boolean): Stop[DataFrame] =
      new Stop(every, sinceCheck, identity, settled)
  }

  /** The label operators' stop rule: no `label` differs, per `key`,
    * from the previous round's. A window over several rounds would
    * call a period-2 oscillation settled. */
  def labelsUnchanged(every: Int, key: String, label: String): Stop[DataFrame] =
    Stop(every, sinceCheck = false) { (before, now) =>
      now.as("n").join(before.as("o"), col(s"n.$key") === col(s"o.$key"))
        .filter(col(s"n.$label") =!= col(s"o.$label"))
        .count() == 0L
    }

  /** The last state, the rounds run, and whether the stop test passed. */
  final case class Result(state: DataFrame, rounds: Int, settled: Boolean)

  /** Runs `step` from `init` for up to `rounds` rounds. A step that
    * returns its input itself reports a fixed point: the loop ends
    * there, with no cut and no test. */
  def run[P](init: DataFrame, rounds: Int, cutEachRound: Boolean,
      stop: Option[Stop[P]] = None)(step: DataFrame => DataFrame): Result = {
    require(rounds >= 0, s"round count must be >= 0, got $rounds")
    var state = init
    var mark = stop.filter(_.sinceCheck).map(_.probe(init))
    var round = 0
    var settled = false
    while (round < rounds && !settled) {
      val before = state
      state = step(before)
      round += 1
      if (state eq before) settled = true
      else {
        val check = stop.filter(s => round % s.every == 0 || round == rounds)
        if (cutEachRound || check.isDefined) state = state.localCheckpoint()
        check.foreach { s =>
          val now = s.probe(state)
          settled = s.settled(mark.getOrElse(s.probe(before)), now)
          if (s.sinceCheck) mark = Some(now)
        }
      }
    }
    Result(state, round, settled)
  }
}
