package graft.index

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count => countOf, lit}

/** Aggregates observed on a query that runs anyway ([[DataFrame.observe]]):
  * the index writers take their row counts and collection totals from the
  * write that produces them, not from a second pass over the data.
  *
  * An observation is exact only in an action's final stage: Spark applies
  * each result task's metric updates once, but those of every run of a
  * map task below a shuffle, which a stage retry or a speculative attempt
  * repeats. Observe the frame the action consumes, above its last
  * exchange. */
private[graft] object Observed {

  /** `df` with `aggs` observed, and the observation. The first action over
    * the frame — or over a persisted frame built on it, whose first
    * computation carries the aggregates — reports them. */
  def apply(df: DataFrame, agg: Column, aggs: Column*): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, agg, aggs: _*), obs)
  }

  /** The observed row, once an action over the observed frame has run (the
    * report reaches the driver through the listener bus, after the action
    * returns). None when that action's plan no longer held the observed
    * node: adaptive execution drops a query stage whose output it found
    * empty, and the stage's observations with it. */
  def result(obs: Observation): Option[Row] =
    Some(Await.result(obs.future, 10.minutes)).filter(_.length > 0)

  /** `df` with its row count observed, and a function that waits for it. A
    * dropped observation counted an empty stage: 0 rows. */
  def count(df: DataFrame): (DataFrame, () => Long) = {
    val (observed, obs) = apply(df, countOf(lit(1)))
    (observed, () => result(obs).fold(0L)(_.getLong(0)))
  }
}
