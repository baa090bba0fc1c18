package graft.llm

import graft.SparkTestBase
import graft.core.Tables

class DedupPipelineSpec extends SparkTestBase {

  test("components: min-label propagation finds transitive clusters") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, isolated pair 20-21 chained to 22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id1", "id2")
    val comps = DedupPipeline.components(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("components raises when the rounds run out before the labels converge") {
    import spark.implicits._
    // a 10-node chain needs 9 rounds for label 1 to reach node 10
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException](
      DedupPipeline.components(chain, maxIters = 3))
    assert(e.getMessage.contains("did not converge in 3 rounds"))
    // enough rounds: one component, represented by its minimum
    val comps = DedupPipeline.components(chain, maxIters = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps == (1L to 10L).map(_ -> 1L).toMap)
  }

  test("cleanCorpus keeps one representative per near-dup cluster") {
    import spark.implicits._
    // "id" is also the components output's column name: the survivor
    // filter must still resolve the corpus's own id column
    Seq("doc_id", "id").foreach { idCol =>
      val docs = Tables.documents(spark, sf0001)
        .select($"doc_id".as(idCol), $"text")
      val pairs = TextDedup.minhashLsh(docs, idCol, "text", 0.9)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
      val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      val survivors = DedupPipeline.cleanCorpus(docs, idCol, "text", 0.9)
        .select(idCol).collect().map(_.getLong(0)).toSet
      // every doc outside the pair graph survives
      val all = docs.select(idCol).collect().map(_.getLong(0)).toSet
      assert((all diff clustered).subsetOf(survivors))
      // per cluster exactly one survivor, and it's the minimum
      val comps = DedupPipeline.components(pairs.toSeq.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byRep = comps.groupBy(_._2)
      for ((rep, members) <- byRep) {
        val ids = members.map(_._1).toSet
        assert((ids intersect survivors) == Set(rep))
      }
      assert(survivors.size == all.size - clustered.size + byRep.size)
    }
  }

  test("keepBest picks the highest-quality member per cluster, ties by min id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "rep")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (10L, 0.5), (11L, 0.5))
      .toDF("id", "quality")
    val out = DedupPipeline.keepBest(clusters, quality)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // cluster 1: 2 and 3 tie at 0.9 -> min id 2 wins; size 3
    assert(out(1L) == ((2L, 0.9, 3L)))
    // cluster 10: tie at 0.5 -> 10 wins; size 2
    assert(out(10L) == ((10L, 0.5, 2L)))
  }
}
