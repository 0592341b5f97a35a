package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The checkpoint-with-observed-probe step of the iterative operators
  * ([[DupClusters]]' star alternation, [[GraphTopology.kcore]]'s
  * peeling): `df` is `localCheckpoint`ed with `agg +: aggs` observed on the
  * way through. localCheckpoint goes through Dataset.withAction, so
  * the observation completes with the checkpoint's own job — a loop's
  * convergence probe costs no action of its own, where a separate
  * count or aggregation over the cached blocks would cost one per
  * round. Returns the checkpointed frame and the observed values by
  * alias; `obs` must be fresh (an Observation completes once). */
object Checkpoints {
  def probed(df: DataFrame, obs: Observation, agg: Column, aggs: Column*)
      : (DataFrame, Map[String, Any]) = {
    val ck = df.observe(obs, agg, aggs: _*).localCheckpoint()
    (ck, obs.get)
  }
}
