package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.llm.{DedupPipeline, TextDedup}

/** The LLM-corpus cleaning pipeline over a generated corpus with planted
  * near-duplicate clusters: the dedup stages of the `mr_batch` pass.
  *
  * Cluster sizes are skewed (many pairs, two large clusters), and the
  * mid-sized clusters at even positions of the plan are drift chains —
  * each member a near duplicate of the one before it but not of the one
  * two back — so connected components needs several label-propagation
  * rounds. Each stage writes its output and the
  * next stage reads it, like chained MapReduce jobs. A new batch that
  * shares documents with the corpus then goes through the band index and
  * incremental dedup.
  *
  * Ground truth is exact: the generator finds every pair with word
  * 3-gram Jaccard >= [[Threshold]] through an inverted shingle index, and
  * it rejects any near duplicate whose similarity to any document falls
  * close to the threshold, so the expected answer never hinges on
  * rounding. (At J >= 0.8 the engine's 32 bands x 4 rows miss a pair with
  * probability < 1e-7, so recall is checked exactly.)
  */
object Dedup {

  final case class Sizes(docs: Int, batch: Int)
  private val Size = Sizes(docs = 250, batch = 40)
  val Threshold = 0.8
  private val Vocab = 4000
  private val DocWords = 80
  private val MaxChain = 5
  // no generated pair may land in [NearLo, NearHi): exact-Jaccard ties
  // with the threshold would make the expected answer depend on rounding
  private val NearLo = 0.78
  private val NearHi = 0.82

  final class Inputs(val dir: String, val sizes: Sizes) {
    def corpus = s"$dir/corpus"
    def quality = s"$dir/quality"
    def batch = s"$dir/batch"
    var pairs: Set[(Long, Long)] = Set.empty      // corpus pairs with J >= t
    var batchPairs: Set[(Long, Long)] = Set.empty // pairs involving a batch doc
    var survivors: Set[Long] = Set.empty          // min id per component
    var clusters: Map[Long, Long] = Map.empty     // id -> component min id
    var keep: Map[Long, Long] = Map.empty         // rep -> best-quality id
  }

  private def shingles(words: Array[String]): Set[String] =
    words.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b)
    i.toDouble / (a.size + b.size - i)
  }

  /** Shingle sets with an inverted index: finds similar documents
    * without comparing all pairs. */
  private final class Index {
    val docs = mutable.ArrayBuffer.empty[Set[String]]
    private val posting = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    def add(sh: Set[String]): Int = {
      docs += sh
      sh.foreach(s => posting.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += docs.length - 1)
      docs.length - 1
    }
    def neighbours(sh: Set[String]): Set[Int] =
      sh.iterator.flatMap(s => posting.getOrElse(s, Nil)).toSet
    def nearThreshold(sh: Set[String]): Boolean =
      neighbours(sh).exists { j => val v = jaccard(sh, docs(j)); v >= NearLo && v < NearHi }
    /** Pairs (i < j) with Jaccard >= the threshold and `probe(i)` or `probe(j)`. */
    def pairs(probe: Int => Boolean): Set[(Long, Long)] =
      docs.indices.filter(probe).flatMap { i =>
        neighbours(docs(i)).iterator.filter(j => j != i && jaccard(docs(i), docs(j)) >= Threshold)
          .map(j => (math.min(i, j).toLong, math.max(i, j).toLong))
      }.toSet
  }

  /** Replace `k` distinct random positions with random vocabulary words. */
  private def edit(r: java.util.SplittableRandom, base: Array[String], k: Int): Array[String] = {
    val w = base.clone()
    val pos = mutable.Set.empty[Int]
    while (pos.size < k) pos += r.nextInt(w.length)
    pos.foreach(p => w(p) = Gen.word(r.nextInt(Vocab)))
    w
  }

  private def fresh(r: java.util.SplittableRandom): Array[String] =
    Array.fill(DocWords)(Gen.word(r.nextInt(Vocab)))

  /** A near duplicate of `from` whose Jaccard to every indexed document
    * is clearly above or clearly below the threshold. */
  private def nearDup(r: java.util.SplittableRandom, from: Array[String], k: Int,
                      idx: Index): Array[String] = {
    var tries = 0
    var w = edit(r, from, k)
    while (idx.nearThreshold(shingles(w))) {
      tries += 1
      if (tries > 1000) throw new IllegalStateException("cannot place a near duplicate")
      w = edit(r, from, k)
    }
    w
  }

  /** Cluster sizes: a fixed skewed plan — the number of size-s clusters
    * falls as 1/s^2, plus two large clusters — so every seed has the same
    * shape; at 250 documents, 113 of them are clustered. */
  private def clusterPlan(docs: Int): Seq[Int] = {
    val a = docs * 0.15
    (2 to 15).flatMap(s => Seq.fill((a / (s * s)).toInt)(s)) ++ Seq(24, 40)
  }

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val s = Size
    val in = new Inputs(dir, s)
    val r = Gen.rng(seed, 10, 0)
    val docs = mutable.ArrayBuffer.empty[Array[String]]
    val gen = new Index
    def add(w: Array[String]): Unit = { docs += w; gen.add(shingles(w)) }
    // a star's members are one edit from its base, a chain's members two
    // edits from the previous member (chains stay short enough for the
    // component rounds to converge)
    for ((size, i) <- clusterPlan(s.docs).zipWithIndex) {
      val base = fresh(r)
      add(base)
      val chain = size >= 4 && size <= MaxChain && i % 2 == 0
      for (_ <- 1 until size)
        add(if (chain) nearDup(r, docs.last, 2, gen) else nearDup(r, base, 1, gen))
    }
    while (docs.length < s.docs) add(fresh(r))
    // shuffle ids so cluster members are not adjacent
    val order = (0 until s.docs).toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val corpus = order.indices.map(i => docs(order(i)))
    val quality = corpus.indices.map(_ => r.nextDouble())

    // the new batch: exact copies, near duplicates and fresh documents
    val batch = mutable.ArrayBuffer.empty[Array[String]]
    while (batch.length < s.batch) {
      val w = r.nextInt(3) match {
        case 0 => corpus(r.nextInt(s.docs)).clone()
        case 1 => nearDup(r, corpus(r.nextInt(s.docs)), 1, gen)
        case _ => fresh(r)
      }
      batch += w
      gen.add(shingles(w))
    }

    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def write(ds: Seq[(Long, Array[String])], path: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
          ds.map { case (id, w) => Row(id, w.mkString(" ")) }, 1), schema)
        .write.parquet(path)
    write(corpus.indices.map(i => (i.toLong, corpus(i))), in.corpus)
    write(batch.indices.map(i => ((s.docs + i).toLong, batch(i))), in.batch)
    spark.createDataFrame(spark.sparkContext.parallelize(
        quality.indices.map(i => Row(i.toLong, quality(i))), 1),
        StructType(Seq(StructField("id", LongType), StructField("quality", DoubleType))))
      .write.parquet(in.quality)

    // ground truth, in the final id order
    val truth = new Index
    (corpus ++ batch).foreach(w => truth.add(shingles(w)))
    in.pairs = truth.pairs(_ < s.docs).filter(_._2 < s.docs)
    in.batchPairs = truth.pairs(_ >= s.docs)
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    in.pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = in.pairs.flatMap { case (a, b) => Seq(a, b) }
    in.clusters = nodes.map(n => n -> find(n)).toMap
    in.survivors = (0L until s.docs).filter(i => !in.clusters.contains(i) || in.clusters(i) == i).toSet
    in.keep = in.clusters.groupBy(_._2).map { case (rep, members) =>
      rep -> members.keys.maxBy(id => (quality(id.toInt), -id))
    }
    in
  }

  def pass(spark: SparkSession, in: Inputs, out: String, rec: Recorder): Unit = {
    import Recorder._
    val corpus = spark.read.parquet(in.corpus)
    def pairSet(rows: Array[Row]) = rows.map(r => (r.getLong(0), r.getLong(1))).toSet

    rec.call("llm.clean", Commit) {
      DedupPipeline.cleanCorpus(corpus, "doc_id", "text", Threshold)
        .select("doc_id").write.parquet(s"$out/clean")
    }
    val kept = rec.call("llm.read_output", Read) {
      spark.read.parquet(s"$out/clean").collect().map(_.getLong(0)).toSet
    }
    rec.check("clean.survivors", kept == in.survivors,
      s"${(kept -- in.survivors).size} extra, ${(in.survivors -- kept).size} missing")

    rec.call("llm.minhash_lsh", Commit) {
      TextDedup.minhashLsh(corpus, "doc_id", "text", Threshold).write.parquet(s"$out/pairs")
    }
    val pairs = rec.call("llm.read_output", Read) {
      pairSet(spark.read.parquet(s"$out/pairs").select("id1", "id2").collect())
    }
    // precision: every verified pair is a true pair; recall: every true
    // pair is found (the generator keeps pairs far from the threshold)
    rec.check("minhash.precision", pairs.subsetOf(in.pairs),
      s"${(pairs -- in.pairs).size} pairs below the threshold")
    rec.check("minhash.recall", in.pairs.subsetOf(pairs),
      s"${(in.pairs -- pairs).size} of ${in.pairs.size} true pairs missed")
    rec.counters("llm.verified_pairs") = pairs.size

    rec.call("llm.components", Commit) {
      DedupPipeline.components(spark.read.parquet(s"$out/pairs")).write.parquet(s"$out/clusters")
    }
    val clusters = rec.call("llm.read_output", Read) {
      spark.read.parquet(s"$out/clusters").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    rec.check("components.clusters", clusters == in.clusters, "cluster labels differ")

    rec.call("llm.keep_best", Commit) {
      DedupPipeline.keepBest(spark.read.parquet(s"$out/clusters"),
          spark.read.parquet(in.quality))
        .write.parquet(s"$out/keep")
    }
    val keep = rec.call("llm.read_output", Read) {
      spark.read.parquet(s"$out/keep").select("rep", "keep_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    rec.check("keep_best.kept", keep == in.keep, "kept documents differ")

    rec.call("llm.band_index", Commit) {
      TextDedup.saveBandIndex(TextDedup.minhashBandIndex(corpus, "doc_id", "text"), s"$out/index")
    }
    rec.call("llm.incremental", Commit) {
      TextDedup.incrementalMinhashLsh(spark.read.parquet(in.batch), corpus,
          TextDedup.loadBandIndex(spark, s"$out/index"), "doc_id", "text", Threshold)
        .write.parquet(s"$out/incremental")
    }
    val inc = rec.call("llm.read_output", Read) {
      pairSet(spark.read.parquet(s"$out/incremental").select("id1", "id2").collect())
    }
    rec.check("incremental.pairs", inc == in.batchPairs,
      s"${(inc -- in.batchPairs).size} extra, ${(in.batchPairs -- inc).size} missing")
  }

  /** LSH candidate pairs before verification (the engine's default
    * 128 hashes in 32 bands), for the pair-yield ratio. */
  def candidatePairs(spark: SparkSession, in: Inputs): Long = {
    val sh = TextDedup.shingles(spark.read.parquet(in.corpus), "doc_id", "text")
    TextDedup.candidatesFromBands(TextDedup.lshBands(
      TextDedup.minhashSignatures(sh, 128), 32, 4)).count()
  }

  def liveOutputs(spark: SparkSession, in: Inputs, out: String): Seq[DataFrame] =
    Seq("clean", "pairs", "clusters", "keep", "index", "incremental")
      .map(d => spark.read.parquet(s"$out/$d"))
}
