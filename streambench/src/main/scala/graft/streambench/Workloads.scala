package graft.streambench

/** The benchmark's workloads. Why each exists is in streambench/README.md;
  * the dimensions here are the whole definition of its traffic. */
object Workloads {

  /** Closed loop: a catalog and its long, mostly-rename update history,
    * cut in event-time order into large microbatches fed to empty stores. */
  val backfill = Dims(
    roots = 4, fanout = 10, leaves = 50, preseed = false, events = 50000,
    target = "any", renameShare = 0.7, reparentShare = 0.05,
    editShare = 0.15, malformedEvery = 100,
    ratePerS = 0, batchEvents = 10000)

  /** Open loop over a pre-seeded catalog: leaf attribute edits that re-send
    * unchanged relationships. */
  val trickleLeaf = Dims(
    roots = 4, fanout = 10, leaves = 100, preseed = true, events = 4000,
    target = "leaf", renameShare = 0, reparentShare = 0, editShare = 1.0,
    malformedEvery = 50, ratePerS = 20, batchEvents = 0)

  /** Open loop over the same catalog: renames and re-parents of roots and
    * datasets, each rewriting hundreds of descendant documents. */
  val trickleCascade = trickleLeaf.copy(
    events = 400, target = "inner", renameShare = 0.7, reparentShare = 0.3,
    editShare = 0, malformedEvery = 10, ratePerS = 2)

  val byName: Map[String, Dims] = Map(
    "backfill" -> backfill,
    "trickle_leaf" -> trickleLeaf,
    "trickle_cascade" -> trickleCascade)
}
