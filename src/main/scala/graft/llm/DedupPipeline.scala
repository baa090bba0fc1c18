package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level dedup: near-dup PAIRS (MinHash-LSH) → duplicate CLUSTERS
  * (connected components) → one representative per cluster. This is the
  * operation a 100 TB training-data pipeline actually runs — pairs alone
  * under-delete (a~b, b~c must drop two of three docs).
  *
  * Components via distributed min-label propagation: every node starts
  * labeled with itself; each round, labels flow across edges (both
  * directions) and each node keeps the minimum seen. Converges in
  * O(component diameter) rounds — near-dup clusters are dense and
  * shallow, so 3-6 rounds in practice; each round is one join + one
  * groupBy (shuffle on node id), no driver-side graph.
  */
object DedupPipeline {

  /** (id, rep): component-minimum representative for every node that
    * appears in `pairs` (id1 < id2 edge list). Raises
    * IllegalStateException when labels still change in round `maxIters`
    * (a component wider than the rounds). `checkpointDir` selects
    * the reliable-checkpoint pin for long-running cluster jobs where an
    * executor loss must not fail the whole fold
    * ([[graft.ops.Checkpoints]]); the default stays executor-local. */
  def components(pairs: DataFrame, maxIters: Int = 20,
                 checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Observation
    // the pin truncates lineage each round — without it the plan nests
    // one join deeper per iteration and re-analysis/recovery cost grows
    // superlinearly (55s -> ~15s on a 120k-edge graph).
    // Symmetrize by EXPLODING each pair into its two directions rather
    // than a self-union: the union's two branches each re-executed the
    // whole upstream candidate pipeline (measured: the two heaviest
    // stages of dedup_clusters were duplicate signature builds); the
    // explode emits both directions in one pass over ONE execution.
    // r16 note: adding a repartition(id1)+sort before this pin (the
    // Components.labelsBounded layout) was A/B'd and measured FLAT —
    // task counts did not drop (the loop's exchanges stay aligned to the
    // 32-partition cached shingle relation upstream) and the extra
    // exchange bought nothing at the near-dup pair graph's size; kept
    // the exchange-free pin.
    val edges = graft.ops.Checkpoints.pin(
      pairs
        .select(explode(array(
          struct(col("id1"), col("id2")),
          struct(col("id2").as("id1"), col("id1").as("id2")))).as("e"))
        .select(col("e.id1").as("id1"), col("e.id2").as("id2")),
      checkpointDir)
    // `pinned` tracks the current round's checkpoint ROOT — `labels` is a
    // projection over it, which release() (root-match-only) ignores
    var pinned = graft.ops.Checkpoints.pin(
      edges.select(col("id1").as("id")).distinct().withColumn("rep", col("id")),
      checkpointDir)
    var labels = pinned
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // Labels flowing across edges + own label, keep the min. The old
      // label rides along (tagged `own` — each id has exactly one own
      // row), so the changed-count is observed DURING the round's single
      // materializing action instead of a second join + count job.
      val obs = Observation(s"cc_round_$iter")
      val flowed = graft.ops.Checkpoints.pin(
        edges
          .join(labels, edges("id1") === labels("id"))
          .select(col("id2").as("id"), col("rep"), lit(null).cast("long").as("own"))
          .union(labels.select(col("id"), col("rep"), col("rep").as("own")))
          .groupBy(col("id"))
          .agg(min(col("rep")).as("rep"), max(col("own")).as("own"))
          .observe(obs, sum(when(col("rep") =!= col("own"), 1L).otherwise(0L))
            .as("n_changed")),
        checkpointDir) // eager: the one action per round
      graft.ops.Checkpoints.release(pinned, checkpointDir)
      pinned = flowed
      labels = flowed.select(col("id"), col("rep"))
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      iter += 1
    }
    // labels still moving after the last round are not components: a
    // chain longer than the rounds would come back split, under-deduped
    if (!converged) {
      graft.ops.Checkpoints.release(pinned, checkpointDir)
      throw new IllegalStateException(
        s"components did not converge in $maxIters rounds (labels still " +
          "changed in the last round); raise maxIters")
    }
    labels
  }

  /** End-to-end corpus dedup: language/quality gate → exact dedup →
    * near-dup clustering → survivors (cluster representative = min id).
    * Returns the surviving documents. */
  def cleanCorpus(docs: DataFrame, idCol: String, textCol: String,
                  jaccardThreshold: Double = 0.9): DataFrame = {
    val pairs = TextDedup.minhashLsh(docs, idCol, textCol, jaccardThreshold)
    val reps = components(pairs)
    // docs(idCol), not col(idCol): with idCol == "id" the bare name
    // matches both sides of the join
    docs.join(reps, docs(idCol) === reps("id"), "left_outer")
      .filter(col("rep").isNull || col("rep") === docs(idCol))
      .select(docs.columns.map(docs(_)): _*)
  }

  /** Quality-canonical pick: per duplicate cluster, keep the HIGHEST-
    * quality member instead of the arbitrary min-id — min-id keeps
    * whichever copy happened to be crawled first, which on real corpora
    * is often the boilerplate-wrapped one. `clusters` is [[components]]
    * output (id, rep); `quality` is any (id, score) relation (e.g.
    * [[TextStats.qualityScore]]'s composite). One partial-aggregating
    * groupBy on the cluster representative — `max(struct(score, -id))`
    * combines map-side, so a hot cluster never funnels its members
    * through one task as a window sort would. Ties: higher score, then
    * smaller id. Returns (rep, keep_id, best_quality, cluster_size). */
  def keepBest(clusters: DataFrame, quality: DataFrame,
               scoreCol: String = "quality"): DataFrame =
    clusters.join(quality, "id")
      .groupBy(col("rep"))
      .agg(max(struct(col(scoreCol).as("q"), (-col("id")).as("nid"))).as("b"),
        count(lit(1)).as("cluster_size"))
      .select(col("rep"), (-col("b.nid")).as("keep_id"),
        col("b.q").as("best_quality"), col("cluster_size"))
}
