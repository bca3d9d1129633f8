package graft.api

/** The user-facing operator API: every pipeline primitive the query corpus
  * exercises, parameterized for arbitrary inputs. All operators are pure
  * DataFrame→DataFrame transforms (lazy, Catalyst-optimized, no driver-side
  * materialization) and follow the scale rules in SCALE.md.
  */
object Graft
  extends GraftDedupText
  with GraftEventsSketches
  with GraftClustering
  with GraftGraphLayout
  with GraftStatsEval
  with GraftCausalTraining
