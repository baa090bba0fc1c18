package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.TeraSuite

/** `mr_batch`: batch programs, each writing its output like a MapReduce
  * job, with the output read back by a validator.
  *
  * TeraSort over TeraGen-format records (validated by TeraValidate),
  * WordCount and Grep over generated text, a Zipf-skewed fact⋈dim join
  * with a group-by and the engine's sketch aggregates, then the LLM-corpus
  * dedup stages ([[Dedup]]). Task compute, shuffle and job launch
  * dominate; there is no table metadata I/O. Every program's output is
  * checked against ground truth the generator computed.
  */
object MrBatch extends Workload {
  val name = "mr_batch"
  val minPasses = 2

  final case class Sizes(teraRows: Int, lines: Int, factRows: Int, dimRows: Int, parts: Int)
  private val Size = Sizes(teraRows = 160000, lines = 60000, factRows = 400000,
    dimRows = 15000, parts = 8)
  private val SortPartitions = 8
  private val Vocab = 20000
  private val GrepTerms = 50
  private val GrepPattern = "(q[0-9]+)"
  private val Categories = 64
  private val HeavyK = 20 // heavy hitters: keys above 1/HeavyK of the rows
  private val KllK = 200
  private val HllP = 14

  final class Inputs(val dir: String, val sizes: Sizes) {
    def tera = s"$dir/tera"
    def text = s"$dir/text"
    def fact = s"$dir/fact"
    def dim = s"$dir/dim"
    var teraCount = 0L
    var teraCrc = 0L
    var tokens = 0L
    val wordCounts = mutable.HashMap.empty[String, Long]
    val grepCounts = mutable.HashMap.empty[String, Long]
    val keyCounts = new Array[Long](sizes.dimRows)
    val amtCounts = new Array[Long](1001)
    val byCategory = mutable.HashMap.empty[Int, (Long, Long)]
    var dedup: Dedup.Inputs = _
    var bytes = 0L
  }

  // ---- generators: pure functions of (seed, partition) ----------------

  private def teraPart(seed: Long, s: Sizes, p: Int): Iterator[(Array[Byte], Array[Byte])] = {
    val r = Gen.rng(seed, 1, p)
    val per = s.teraRows / s.parts
    Iterator.tabulate(per) { i =>
      val key = new Array[Byte](10)
      r.nextBytes(key)
      val value = new Array[Byte](90)
      val idx = f"${p.toLong * per + i}%010d".getBytes("US-ASCII")
      System.arraycopy(idx, 0, value, 0, 10)
      var j = 10
      while (j < 90) { value(j) = ('A' + r.nextInt(26)).toByte; j += 1 }
      (key, value)
    }
  }

  private def textPart(seed: Long, s: Sizes, p: Int): Iterator[String] = {
    val r = Gen.rng(seed, 2, p)
    val zipf = new Zipf(Vocab, 1.0)
    Iterator.fill(s.lines / s.parts) {
      val n = 8 + r.nextInt(9)
      Iterator.fill(n) {
        if (r.nextInt(50) == 0) s"q${r.nextInt(GrepTerms)}" else Gen.word(zipf.sample(r))
      }.mkString(" ")
    }
  }

  private def factPart(seed: Long, s: Sizes, p: Int): Iterator[(Long, Long)] = {
    val r = Gen.rng(seed, 3, p)
    val zipf = new Zipf(s.dimRows, 1.1)
    Iterator.fill(s.factRows / s.parts)((zipf.sample(r).toLong, 1L + r.nextInt(1000)))
  }

  private def category(seed: Long, k: Int): Int = Gen.rng(seed, 4, k).nextInt(Categories)

  /** Ground truth of one generator partition. */
  final case class Truth(teraCount: Long, teraCrc: Long, tokens: Long,
                         words: mutable.HashMap[String, Long], keys: Array[Long],
                         amts: Array[Long], byCategory: mutable.HashMap[Int, (Long, Long)])

  private def truth(seed: Long, s: Sizes, p: Int): Truth = {
    val t = Truth(0, 0, 0, mutable.HashMap.empty, new Array[Long](s.dimRows),
      new Array[Long](1001), mutable.HashMap.empty)
    var (count, crcSum, tokens) = (0L, 0L, 0L)
    val crc = new java.util.zip.CRC32
    teraPart(seed, s, p).foreach { case (k, v) =>
      crc.reset(); crc.update(k); crc.update(v)
      count += 1; crcSum += crc.getValue
    }
    textPart(seed, s, p).foreach(_.split(" ").foreach { w =>
      tokens += 1
      t.words(w) = t.words.getOrElse(w, 0L) + 1
    })
    factPart(seed, s, p).foreach { case (k, a) =>
      t.keys(k.toInt) += 1
      t.amts(a.toInt) += 1
      val c = category(seed, k.toInt)
      val (n, sum) = t.byCategory.getOrElse(c, (0L, 0L))
      t.byCategory(c) = (n + 1, sum + a)
    }
    t.copy(teraCount = count, teraCrc = crcSum, tokens = tokens)
  }

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val s = Size
    val in = new Inputs(dir, s)
    val sc = spark.sparkContext
    def parts = sc.parallelize(0 until s.parts, s.parts)

    spark.createDataFrame(
        parts.flatMap(p => teraPart(seed, s, p).map { case (k, v) => Row(k, v) }),
        StructType(Seq(StructField("key", BinaryType), StructField("value", BinaryType))))
      .write.parquet(in.tera)
    spark.createDataFrame(parts.flatMap(p => textPart(seed, s, p).map(Row(_))),
        StructType(Seq(StructField("value", StringType))))
      .write.text(in.text)
    spark.createDataFrame(
        parts.flatMap(p => factPart(seed, s, p).map { case (k, a) => Row(k, a) }),
        StructType(Seq(StructField("k", LongType), StructField("amt", LongType))))
      .write.parquet(in.fact)
    spark.createDataFrame(
        sc.parallelize(0 until s.dimRows, s.parts).map(k => Row(k.toLong, category(seed, k))),
        StructType(Seq(StructField("k", LongType), StructField("cat", IntegerType))))
      .write.parquet(in.dim)

    // ground truth, from the same generators, one partition per task
    parts.map(p => truth(seed, s, p)).collect().foreach { t =>
      in.teraCount += t.teraCount
      in.teraCrc += t.teraCrc
      in.tokens += t.tokens
      t.words.foreach { case (w, c) => in.wordCounts(w) = in.wordCounts.getOrElse(w, 0L) + c }
      t.words.foreach { case (w, c) =>
        if (w.startsWith("q")) in.grepCounts(w) = in.grepCounts.getOrElse(w, 0L) + c
      }
      for (k <- t.keys.indices) in.keyCounts(k) += t.keys(k)
      for (a <- t.amts.indices) in.amtCounts(a) += t.amts(a)
      t.byCategory.foreach { case (c, (n, sum)) =>
        val (n0, sum0) = in.byCategory.getOrElse(c, (0L, 0L))
        in.byCategory(c) = (n0 + n, sum0 + sum)
      }
    }
    in.dedup = Dedup.generate(spark, seed, s"$dir/dedup")
    in.bytes = Files2.dataBytes(dir)
    in
  }

  def inputBytes(in: Inputs): Long = in.bytes

  def pass(spark: SparkSession, in: Inputs, out: String, rec: Recorder): Unit = {
    import Recorder._
    val n = in.sizes.factRows.toLong

    rec.call("jobs.terasort", Commit) {
      TeraSuite.teraSort(spark.read.parquet(in.tera), SortPartitions)
        .write.parquet(s"$out/terasort")
    }
    // TeraValidate reads the output files in part order, one split each.
    // It is a program of its own, not a read-back: as one read sample per
    // pass among the quick read-backs it would set p90 to the slowest
    // read-back of the run.
    val (rows, crc) = rec.call("jobs.teravalidate") {
      TeraSuite.teraValidate(Files2.partFiles(s"$out/terasort")
        .map(f => spark.read.parquet(f)).reduce(_ union _))
    }
    rec.check("terasort.count", rows == in.teraCount, s"$rows != ${in.teraCount}")
    rec.check("terasort.checksum", crc == in.teraCrc, s"$crc != ${in.teraCrc}")

    rec.call("jobs.wordcount", Commit) {
      spark.read.text(in.text)
        .select(explode(split(col("value"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .write.parquet(s"$out/wordcount")
    }
    val wc = readBack(spark, rec, s"$out/wordcount")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rec.check("wordcount.total", wc.values.sum == in.tokens,
      s"${wc.values.sum} != ${in.tokens}")
    rec.check("wordcount.counts", wc == in.wordCounts, "per-word counts differ")

    rec.call("jobs.grep", Commit) {
      spark.read.text(in.text)
        .select(explode(regexp_extract_all(col("value"), lit(GrepPattern), lit(1))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .write.parquet(s"$out/grep")
    }
    val grep = readBack(spark, rec, s"$out/grep").map(r => r.getString(0) -> r.getLong(1)).toMap
    rec.check("grep.counts", grep == in.grepCounts, "grep counts differ")

    rec.call("jobs.join", Commit) {
      spark.read.parquet(in.fact).join(spark.read.parquet(in.dim), "k")
        .groupBy(col("cat")).agg(count(lit(1)).as("n"), sum(col("amt")).as("amt"))
        .write.parquet(s"$out/join")
    }
    val join = readBack(spark, rec, s"$out/join")
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    rec.check("join.groups", join == in.byCategory, "join aggregates differ")

    rec.call("functions.sketch_agg", Commit) {
      spark.read.parquet(in.fact).agg(
          call_function("graft_hll_count",
            call_function("graft_hll", col("k"), lit(HllP))).as("distinct_k"),
          call_function("graft_kll", col("amt"), lit(KllK)).as("kll"),
          call_function("graft_heavy_hitters", col("k").cast("string"), lit(HeavyK)).as("hh"),
          count(lit(1)).as("n"))
        .write.parquet(s"$out/sketch")
    }
    val sk = readBack(spark, rec, s"$out/sketch").head
    val distinct = in.keyCounts.count(_ > 0).toLong
    val est = sk.getLong(0)
    rec.check("sketch.distinct", math.abs(est - distinct) <= 0.05 * distinct,
      s"estimate $est vs $distinct")
    rec.check("sketch.rows", sk.getLong(3) == n, s"${sk.getLong(3)} != $n")
    val kll = sk.getSeq[Row](1).map(e => (e.getLong(0), e.getLong(1))).sortBy(_._1)
    val total = kll.map(_._2).sum
    for (q <- Seq(0.5, 0.9)) {
      var acc = 0L
      val v = kll.find { case (_, w) => acc += w; acc >= q * total }.get._1.toInt
      val below = in.amtCounts.take(v).sum.toDouble / n
      val upTo = below + in.amtCounts(v).toDouble / n
      rec.check(s"sketch.kll_p${(q * 100).toInt}", below <= q + 0.03 && upTo >= q - 0.03,
        s"value $v has rank [$below, $upTo]")
    }
    val hh = sk.getSeq[Row](2).map(_.getString(0)).toSet
    val heavy = in.keyCounts.indices.filter(k => in.keyCounts(k) * HeavyK > n).map(_.toString)
    rec.check("sketch.heavy_hitters", heavy.forall(hh), s"missing ${heavy.filterNot(hh)}")

    Dedup.pass(spark, in.dedup, s"$out/dedup", rec)
  }

  private def readBack(spark: SparkSession, rec: Recorder, path: String): Array[Row] =
    rec.call("jobs.read_output", Recorder.Read)(spark.read.parquet(path).collect())

  def liveOutputs(spark: SparkSession, in: Inputs, out: String): Seq[DataFrame] =
    Seq("terasort", "wordcount", "grep", "join", "sketch")
      .map(d => spark.read.parquet(s"$out/$d")) ++
      Dedup.liveOutputs(spark, in.dedup, s"$out/dedup")

  override def traceCounters(spark: SparkSession, in: Inputs): Map[String, Double] =
    Map("llm.candidate_pairs" -> Dedup.candidatePairs(spark, in.dedup).toDouble)
}
