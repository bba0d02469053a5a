package graft.operators

import org.apache.spark.sql.DataFrame

/** Stage-sharing hooks for iterative trainers and multi-output
  * generators. A trainer rewrites its working tables on top of the
  * previous round's lineage; without a materializing hook the logical
  * plan compounds round over round (observed as task binaries growing
  * 1.6→4→11→33 MB across BPE rounds at toy scale), so the MATERIALIZING
  * hook is the default everywhere a loop feeds itself. `identity`
  * remains the explicit opt-out for single-pass uses and pure-lineage
  * cross-checks.
  */
object Share {

  /** Lazy localCheckpoint: row-block storage, spills to local disk,
    * truncates lineage. The default `share` of [[TextAnalysis.bpeTrain]],
    * [[KMeans.fit]] and [[ContactGraph.from]]; [[Ann.pqTrain]],
    * [[Ann.ivfPqTrain]] and [[Classifier.fit]] call it directly.
    * Multi-node deployments that must survive executor loss pass
    * [[graft.Pipeline.parquetShare]] to a hook instead (durable storage).
    */
  val materialize: DataFrame => DataFrame = _.localCheckpoint(false)

  /** Explicit opt-out: keep the full lineage. Correct for single-pass
    * composition; with an iterative trainer this trades plan growth for
    * zero storage — safe only at small round counts.
    */
  val none: DataFrame => DataFrame = identity
}
