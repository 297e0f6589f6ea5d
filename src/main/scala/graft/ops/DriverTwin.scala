package graft.ops

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.DataFrame

/** The driver-twin policy, in one place.
  *
  * Ten iterative or global operators carry an exact driver-side TWIN
  * next to their distributed loop: on a small input the loop's cost is
  * pure job/exchange overhead (HITS on a 625-row edge list measured
  * ~20 query stages, 4.1 s at local[32], for microseconds of math),
  * while the twin collects once and runs the identical arithmetic —
  * same fold orders, same tie-breaks — so the two paths agree bit for
  * bit (the twin ≡ distributed pins in GraphSpec, RelationalOpsSpec,
  * BpeSpec and DedupSpec call each operator's distributed body
  * directly).
  *
  * The path is chosen from sizes the operator observes at run time —
  * counts it mostly takes anyway — against the caps below, never from
  * a setting: a dimension-keyed input always takes the twin, a
  * cluster-scale one never does, the way AQE picks broadcast vs
  * shuffle joins. Each cap bounds what the driver collects.
  */
private[graft] object DriverTwin {

  /** Graph node cap ([[Graph]]: pageRank, hits, labelPropagation,
    * modularity's label count) — checked first, on the node count the
    * 1/N init takes anyway, so a large graph never counts its edges. */
  val MaxNodes = 1024L

  /** Graph edge cap (every [[Graph]] twin) — ≤ ~20 MB collected. */
  val MaxEdges = 500000L

  /** [[RelationalOps.globalRowNumber]]: rows ranked by one
    * TakeOrderedAndProject job when the caller knows the count. */
  val MaxRankRows = 262144L

  /** [[graft.text.Bpe.fitDistributedTable]]: pretoken-type census rows
    * the merge loop may run over on the driver. */
  val MaxBpeTypes = 262144L

  /** [[graft.dedup.Dedup.nearDupClusters]]: candidate pairs resolved
    * by driver union-find (~80 MB collected at the cap). */
  val MaxPairs = 5000000L

  /** The graph gate: `nNodes` within [[MaxNodes]], then the (persisted)
    * edge list counted within [[MaxEdges]]. */
  def graphFits(nNodes: Long, edges: DataFrame): Boolean =
    nNodes <= MaxNodes && edges.count() <= MaxEdges

  /** The shared persist → count → collect step: persist `df` and count
    * it; at most `cap` rows → `twin` runs over the persisted frame
    * (and collects it), which is unpersisted afterwards; otherwise the
    * persisted frame — already materialized by the count — is handed
    * to `distributed`, which owns it from then on. */
  def persistCount[A](df: DataFrame, cap: Long)(twin: DataFrame => A)(
      distributed: DataFrame => A): A = {
    val p = df.persistT
    if (p.count() <= cap) try twin(p) finally p.unpersist(blocking = false)
    else distributed(p)
  }
}
