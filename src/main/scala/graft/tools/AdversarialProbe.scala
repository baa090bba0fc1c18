package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial scale probe for the dedup family's 100 TB claims, one
  * notch past [[ScaleProbe]]'s 8×: measures wall at two corpus multiples
  * and checks the growth against the op's cost model.
  *
  *   - ngram_jaccard on the HOT-UNIVERSAL corpus (every doc shares a
  *     tail, so several shingles have df == corpus size): the df-capped
  *     split verify (`TextDedup.verifyJaccardSplit`) must keep wall
  *     near-linear — the unsplit direct join would build df² pair-rows.
  *   - minhashLsh / simhashPairs on the plain replicated corpus:
  *     banded candidate generation is one shuffle, expected near-linear.
  *   - cosineDedupBlocked: the work is semantically quadratic (gapless
  *     threshold — see Embeddings scaladoc), so the claim is NOT linear
  *     wall; it is that wall tracks the n² work model (no extra blowup
  *     from the block layout) and that a HOT-CLUSTER corpus (10% of
  *     vectors identical → dense qualifying output) completes with
  *     bounded tasks.
  *
  * Bounds are the cost model × 2 slack (this machine's noise is ±30%).
  * Inputs are localCheckpoint'ed so generation isn't timed and the
  * per-op `clearCache()` (charging each op its own persists) can't
  * unpersist them. Prints a PROBE line per run and a RATIO verdict per
  * op; exits 1 on any FAIL. Usage: `runMain graft.tools.AdversarialProbe
  * [loMult] [hiMult]` (defaults 8 32).
  */
object AdversarialProbe {
  def main(args: Array[String]): Unit = {
    val lo = args.headOption.map(_.toInt).getOrElse(8)
    val hi = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val spark = graft.core.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    var failed = false

    // `reps` takes the min wall across repeats — the harness shares one
    // JVM, so a single reading can eat a transient stall (GC of the
    // previous family's released blocks, shuffle-file cleanup, page
    // cache writeback): run D of this harness charged a structurally
    // unchanged minhash x32 100s vs 14-16s in adjacent runs. min-of-N is
    // only legal for IDEMPOTENT probes; anything that mutates state
    // under measurement (an MV refresh, an append) must keep reps = 1.
    def time(n: String, reps: Int = 2)(f: => Long): Double = {
      val s = (1 to reps).map { _ =>
        spark.catalog.clearCache() // each op pays its own persist cost
        val t0 = System.nanoTime(); val c = f
        val w = (System.nanoTime() - t0) / 1e9
        println(f"PROBE $n: $w%.1fs ($c rows)"); w
      }.min
      s
    }
    def verdict(op: String, rLo: Double, rHi: Double, model: Double): Unit = {
      val ratio = rHi / rLo
      val bound = model * 2.0
      val ok = ratio <= bound
      if (!ok) failed = true
      println(f"RATIO $op: ${ratio}%.2fx wall for ${model}%.0fx modeled work " +
        f"(bound ${bound}%.0fx) -> ${if (ok) "PASS" else "FAIL"}")
    }

    // Per-copy perturbation must change EVERY shingle, not just the first
    // few: a one-word "copy$m" prefix on a W-word doc leaves Jaccard
    // (W-2)/(W-1) ≈ 0.98 between copies, so every doc gains m-1 near-dup
    // twins and the TRUE pair output is Ω(m²) — no algorithm is linear on
    // that corpus, and a wall measurement on it probes the output size,
    // not the candidate machinery. Tagging every word makes cross-copy
    // similarity ~0 (linear true output) while the base corpus's
    // within-copy dup structure scales linearly; the constant untagged
    // tail then supplies the universal df = corpus-size hot shingles.
    def docsX(mult: Int, hotTail: Boolean): DataFrame = {
      val docs = graft.core.Tables.documents(spark, d)
      val rep = (0 until mult).map { m =>
        docs.select((col("doc_id") + lit(m * 1000000L)).as("doc_id"),
          expr(s"array_join(transform(split(text, ' '), w -> concat(w, '$m')), ' ')")
            .as("text"))
      }.reduce(_ union _)
      val out =
        if (hotTail) rep.select(col("doc_id"),
          concat(col("text"), lit(" omega tail marker words")).as("text"))
        else rep
      out.localCheckpoint()
    }
    def embX(mult: Int, hotCluster: Boolean): DataFrame = {
      val emb = graft.core.Tables.embeddings(spark, d)
      val rep = (0 until mult).map { m =>
        emb.select((col("vec_id") + lit(m * 1000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _)
      val out =
        if (hotCluster) rep.select(col("vec_id"),
          when(pmod(col("vec_id"), lit(10)) === 0,
            expr("transform(sequence(1, 64), i -> CAST(0.1 AS FLOAT))"))
            .otherwise(col("embedding")).as("embedding"))
        else rep
      out.localCheckpoint()
    }

    val dataRatio = hi.toDouble / lo

    val docsLo = docsX(lo, hotTail = true)
    val docsHi = docsX(hi, hotTail = true)
    println(s"hot-universal docs: ${docsLo.count()} -> ${docsHi.count()}")
    val ngLo = time(s"ngram_jaccard hot-universal x$lo")(
      graft.llm.TextDedup.ngramJaccardJoin(docsLo, "doc_id", "text", 0.5).count())
    val ngHi = time(s"ngram_jaccard hot-universal x$hi")(
      graft.llm.TextDedup.ngramJaccardJoin(docsHi, "doc_id", "text", 0.5).count())
    verdict("ngram_jaccard_hot", ngLo, ngHi, dataRatio)

    val plainLo = docsX(lo, hotTail = false)
    val plainHi = docsX(hi, hotTail = false)
    val mhLo = time(s"minhash_lsh x$lo")(
      graft.llm.TextDedup.minhashLsh(plainLo, "doc_id", "text", 0.8).count())
    val mhHi = time(s"minhash_lsh x$hi")(
      graft.llm.TextDedup.minhashLsh(plainHi, "doc_id", "text", 0.8).count())
    verdict("minhash_lsh", mhLo, mhHi, dataRatio)
    val shLo = time(s"simhash x$lo")(
      graft.llm.TextDedup.simhashPairs(plainLo, "doc_id", "text", 3).count())
    val shHi = time(s"simhash x$hi")(
      graft.llm.TextDedup.simhashPairs(plainHi, "doc_id", "text", 3).count())
    verdict("simhash", shLo, shHi, dataRatio)

    // edit-distance join on the HOT-PREFIX corpus: every doc gains a
    // constant 42-char header, the PassJoin family's worst shape (the
    // header's segments would be corpus-sized buckets). The corpus-LCP
    // strip must reduce it to the plain case: near-linear wall. The
    // per-copy word tags put every cross-copy pair past the threshold —
    // the ~78-char post-header window holds ≥11 short tagged words, each
    // a mandatory substitution, far above t=6 — so the TRUE pair output
    // scales exactly linearly and wall growth measures the candidate
    // machinery alone.
    def hotPrefixDocs(mult: Int): DataFrame = docsX(mult, hotTail = false)
      .select(col("doc_id"),
        concat(lit("GRAFT-CORPUS-EXPORT-HEADER-v1:fixed-field;"), col("text"))
          .as("text"))
      .localCheckpoint()
    val edLo = time(s"edit_distance hot-prefix x$lo")(
      graft.llm.EditSimilarity.editDistanceJoin(
        hotPrefixDocs(lo), "doc_id", "text", t = 6, prefixLen = 120).count())
    val edHi = time(s"edit_distance hot-prefix x$hi")(
      graft.llm.EditSimilarity.editDistanceJoin(
        hotPrefixDocs(hi), "doc_id", "text", t = 6, prefixLen = 120).count())
    verdict("edit_distance_hot_prefix", edLo, edHi, dataRatio)

    // Documented LIMIT, measured but not a pass/fail gate: a per-GROUP
    // constant affix INSIDE the probed window (interior boilerplate the
    // corpus-LCP strip cannot remove — here an 8-char token shared by a
    // QUARTER of the corpus, wide enough to fill a whole segment) makes
    // that segment's bucket group-sized, and candidate pairs grow with
    // group size² exactly as EditSimilarity's scaladoc caveat states.
    // Group COUNT is fixed at 4 so doubling the corpus doubles group
    // size → ~4× candidates. The numbers put a magnitude on "normalize
    // known affixes out first" (the shingle family is the fallback when
    // you can't).
    def groupAffixDocs(mult: Int): DataFrame = docsX(mult, hotTail = false)
      .select(col("doc_id"),
        concat(lit("GRAFT-CORPUS-EXPORT-HEADER-v1:fixed-field;"),
          expr("repeat(CAST(doc_id % 4 AS STRING), 8)"), lit(";"),
          col("text")).as("text"))
      .localCheckpoint()
    val gaMultLo = math.max(1, lo / 4)
    val gaMultHi = math.max(2, lo / 2)
    val gaLo = time(s"edit_distance group-affix LIMIT x$gaMultLo")(
      graft.llm.EditSimilarity.editDistanceJoin(
        groupAffixDocs(gaMultLo), "doc_id", "text", t = 4, prefixLen = 80).count())
    val gaHi = time(s"edit_distance group-affix LIMIT x$gaMultHi")(
      graft.llm.EditSimilarity.editDistanceJoin(
        groupAffixDocs(gaMultHi), "doc_id", "text", t = 4, prefixLen = 80).count())
    println(f"LIMIT edit_distance_group_affix: ${gaHi / gaLo}%.2fx wall for 2x data " +
      "(quadratic by construction — documented caveat, not a gate)")

    // blocked exact cosine: 2× the vectors = 4× the dot products; the pin
    // is wall ~ work model, i.e. the block layout adds no extra blowup
    val embLo = embX(lo / 2, hotCluster = false)
    val embHi = embX(lo, hotCluster = false)
    println(s"vectors: ${embLo.count()} -> ${embHi.count()}")
    val cbLo = time(s"cosine_blocked x${lo / 2}")(
      graft.llm.Embeddings.cosineDedupBlocked(embLo, "vec_id", "embedding", 64, 0.45).count())
    val cbHi = time(s"cosine_blocked x$lo")(
      graft.llm.Embeddings.cosineDedupBlocked(embHi, "vec_id", "embedding", 64, 0.45).count())
    verdict("cosine_blocked", cbLo, cbHi, model = 4.0)

    // hot-cluster: dense qualifying output (every pair of the 10% clone
    // set qualifies at cos 1.0) — must complete, output grows ~n²/100
    val embHot = embX(lo / 2, hotCluster = true)
    time(s"cosine_blocked hot-cluster x${lo / 2}")(
      graft.llm.Embeddings.cosineDedupBlocked(embHot, "vec_id", "embedding", 64, 0.45).count())

    // SemDeDup: within-cell verify is the same quadratic work model as
    // blocked cosine, shrunk by the cell partition (n²/nlist on balanced
    // corpora) — 2× the vectors = 4× the in-cell dot products. The
    // KMeans build is sample-bounded, so it must not add a growth term.
    val sdLo = time(s"semantic_dedup x${lo / 2}")(
      graft.llm.Embeddings.semanticDedup(embLo, "vec_id", "embedding", 64,
        0.45, nlist = 16, corpusKey = s"probe-sd-$lo-lo").count())
    val sdHi = time(s"semantic_dedup x$lo")(
      graft.llm.Embeddings.semanticDedup(embHi, "vec_id", "embedding", 64,
        0.45, nlist = 16, corpusKey = s"probe-sd-$lo-hi").count())
    verdict("semantic_dedup", sdLo, sdHi, model = 4.0)

    // KMeans-collapse adversary: the 10% clone set co-clusters into ONE
    // cell (dense qualifying output inside it). The 1-Bucket-Theta
    // sub-blocking must keep every task bounded so the run completes at
    // blocked-exact cost — never one straggler task holding the cell.
    time(s"semantic_dedup hot-cell x${lo / 2}")(
      graft.llm.Embeddings.semanticDedup(embHot, "vec_id", "embedding", 64,
        0.45, nlist = 16, corpusKey = s"probe-sd-hot-$lo").count())

    // ANN query path on the hot-cluster corpus: query 0 IS a clone, so
    // its LSH bucket holds ~10% of the corpus. Query-side banding scores
    // those bucket-mates once per query — candidate work LINEAR in n —
    // where the corpus-wide pair kernel would first materialize the clone
    // bucket's ~(n/10)² pairs to answer 8 queries. Wall must track the
    // data ratio, not its square.
    val embHotHi = embX(lo, hotCluster = true)
    val annLo = time(s"ann_lsh hot-cluster x${lo / 2}")(
      graft.llm.Embeddings.annLshKnn(embHot, (0L until 8L),
        "vec_id", "embedding", 64, 5).count())
    val annHi = time(s"ann_lsh hot-cluster x$lo")(
      graft.llm.Embeddings.annLshKnn(embHotHi, (0L until 8L),
        "vec_id", "embedding", 64, 5).count())
    verdict("ann_lsh_hot", annLo, annHi, model = 2.0)

    // CDC merge on a HOT-KEY feed: half of all changes hit ONE key (the
    // adversarial change-capture shape — one row updated over and over).
    // Merge ranks changes with a max_by partial aggregate, so the hot
    // key collapses map-side to one candidate per task; a row_number
    // window would funnel half the feed through a single task's sort
    // and scale with the hot key's history, not the data.
    def mergeX(mult: Int): Long = {
      val o = graft.core.Tables.orders(spark, d)
      val base = (0 until mult).map { m =>
        o.select((col("o_orderkey") + lit(m * 10000000L)).as("k"),
          col("o_custkey").as("cust"),
          graft.queries.Ops.cents(col("o_totalprice")).as("price_cents"))
      }.reduce(_ union _).localCheckpoint()
      val changes = (0 until mult).map { m =>
        o.select(
          when(pmod(col("o_orderkey"), lit(2)) === 0, lit(42L))
            .otherwise(col("o_orderkey") + lit(m * 10000000L)).as("k"),
          lit("U").as("op"), col("o_custkey").as("cust"),
          (graft.queries.Ops.cents(col("o_totalprice")) * 2).as("price_cents"),
          (col("o_orderkey") + lit(m * 10000000L)).as("version"))
      }.reduce(_ union _).localCheckpoint()
      val n = graft.ops.Merge.applyChanges(base, changes, "k", "op", "version",
        Seq("cust", "price_cents")).count()
      // the fixtures are per-CALL: drop their blocks before returning, or
      // repeated calls stack 10M-row checkpoints into the block manager
      // and the next family measures eviction, not its operator
      graft.ops.Lineage.releaseLocalCheckpoint(base)
      graft.ops.Lineage.releaseLocalCheckpoint(changes)
      n
    }
    val mgLo = time(s"merge hot-key x$lo")(mergeX(lo))
    val mgHi = time(s"merge hot-key x$hi")(mergeX(hi))
    verdict("merge_hot_key", mgLo, mgHi, dataRatio)

    // Z-order clustering: one range shuffle + in-partition sort — must
    // track the data ratio like any global sort (range sampler included).
    def zorderX(mult: Int): Long = {
      val o = graft.core.Tables.orders(spark, d)
      val rep = (0 until mult).map { m =>
        o.select((col("o_orderkey") + lit(m * 10000000L)).as("o_orderkey"),
          pmod(col("o_orderkey"), lit(4096)).as("x"),
          pmod(col("o_custkey"), lit(4096)).as("y"))
      }.reduce(_ union _).localCheckpoint()
      val n = graft.ops.ZOrder.cluster(rep, bits = 12, numFiles = 64,
        col("x"), col("y")).count()
      graft.ops.Lineage.releaseLocalCheckpoint(rep) // per-call fixture
      n
    }
    val zoLo = time(s"zorder_cluster x$lo")(zorderX(lo))
    val zoHi = time(s"zorder_cluster x$hi")(zorderX(hi))
    verdict("zorder_cluster", zoLo, zoHi, dataRatio)

    // Incremental dedup at extreme corpus ≫ batch asymmetry: the indexed
    // corpus grows hi/lo ×, the ingest batch stays FIXED (a tagged twin
    // of corpus copy 0, so every batch doc near-dups one corpus doc —
    // candidates and verify genuinely fire). Per-ingest wall must stay
    // sublinear in the corpus: the only corpus-sized terms are columnar
    // scans (the band-index probe join's index side and the semi-join-
    // pruned re-shingle); all pair work is batch-sized. Bound: the wall
    // may not even TRACK the corpus ratio (model 2 × slack 2 = 4× for a
    // 4× corpus with a fixed batch; expected ~flat). A FAIL means a
    // corpus-sized rebuild or quadratic snuck into the ingest path.
    // ingest-shaped batch: a tenth of the table (production increments
    // are small relative to the corpus — a full-table batch would just
    // measure the batch pipeline's own fixed cost on both sides)
    val batch1 = graft.core.Tables.documents(spark, d)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + lit(900000000L)).as("doc_id"),
        expr("array_join(transform(split(text, ' '), w -> concat(w, '0')), ' ')")
          .as("text"))
      .localCheckpoint()
    def incrIndex(mult: Int): (DataFrame, DataFrame) = {
      val corpus = docsX(mult, hotTail = false)
      val index = graft.llm.TextDedup
        .minhashBandIndex(corpus, "doc_id", "text").localCheckpoint()
      (corpus, index) // index build is the amortized write-once artifact — untimed
    }
    val (corpLo, idxLo) = incrIndex(lo)
    val (corpHi, idxHi) = incrIndex(hi)
    val incLo = time(s"incremental_dedup corpus x$lo batch x1")(
      graft.llm.TextDedup.incrementalMinhashLsh(batch1, corpLo, idxLo,
        "doc_id", "text", 0.8).count())
    val incHi = time(s"incremental_dedup corpus x$hi batch x1")(
      graft.llm.TextDedup.incrementalMinhashLsh(batch1, corpHi, idxHi,
        "doc_id", "text", 0.8).count())
    verdict("incremental_corpus_asym", incLo, incHi, model = 2.0)
    // and the production claim itself: ingest through the index must beat
    // full re-dedup of (corpus ∪ batch) by a wide margin at the hi mult
    val fullHi = time(s"full_rededup x$hi+batch")(
      graft.llm.TextDedup.minhashLsh(corpHi.unionByName(batch1),
        "doc_id", "text", 0.8).count())
    val okIncr = incHi * 2 <= fullHi
    if (!okIncr) failed = true
    println(f"RATIO incremental_vs_full: ${fullHi / incHi}%.2fx cheaper than " +
      f"re-dedup (need >= 2x) -> ${if (okIncr) "PASS" else "FAIL"}")

    // Heavy hitters on an ALL-DISTINCT vocabulary: every row is a new
    // key, so the Misra–Gries summary purges constantly (each purge
    // decrements all k counters) — maximum sketch pressure, zero true
    // heavy hitters. Per-task state stays ≤ 2k and the shuffle carries
    // O(k · partitions) rows, so wall must track the scan (model = data
    // ratio); the exact verify pass sees ≤ 2k candidates and must stay
    // noise. A FAIL means purge cost or candidate fan-out grew with the
    // vocabulary.
    // generated OUTSIDE the timed region like every other probe input —
    // materializing tens of millions of checkpoint rows inside time()
    // measures the block manager, not the sketch
    // 4M rows per multiple: at 1M/multiple a fully-warmed JVM finishes
    // the lo point in ~0.2 s — BELOW the per-job fixed-cost floor — and
    // the lo/hi ratio measures the floor, not the sketch (an isolated
    // fresh-JVM A/B showed 5.1x warm-vs-warm where the end-of-suite
    // measurement said 18x)
    // Release every checkpoint block the EARLIER probe families pinned
    // (160k-doc tagged corpora, 16k embeddings, 4.8M merge/zorder rows,
    // the 512k-doc incremental corpus): the remaining probes create
    // their own inputs after this point, and carrying gigabytes of dead
    // blocks into the 128M-row heavy-hitter runs turns their wall into
    // a storage/GC measurement — the r6 notes' isolated fresh-JVM A/B
    // already showed this probe reading 18x end-of-suite where a clean
    // JVM reads 5x, and min-of-3 made the polluted reading STABLE
    // (9.7x vs the 4.9-6.7x of cleaner runs) rather than fixing it.
    // Since round 8 the graph/CC operators release their own pins
    // (ops/Lineage, Checkpoints.release), so the bulk here is the
    // PROBE-LOCAL localCheckpoint'd fixtures named above — this flush
    // is the harness dropping its own inputs between families, not a
    // cleanup for leaky operators.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()

    // partition sizing IS the memory story here: all-distinct keys mean
    // the verify pass's hash map holds every key of its partition, so a
    // 128M-row corpus in 32 partitions puts ~4M keys (~200 MB) in each
    // concurrent task — over the ~150 MB/task execution share of the 8g
    // harness heap, observed as flaky UNABLE_TO_ACQUIRE_MEMORY on the
    // x32 point. ~250k rows/task keeps per-task memory flat at BOTH
    // multiples (same rule the 100 TB guidance prescribes: size
    // partitions to the executor, let extra partitions queue), and the
    // ratio still measures the same total work. UNLIKE the document
    // corpora above, this fixture is NOT checkpointed: range+concat
    // generation is ~free and runs identically inside both points,
    // whereas pinning the 128M-row corpus (~5 GB) makes the hi point's
    // aggregation pay storage eviction the lo point never sees — a
    // fixture artifact, not operator scaling.
    def hhItems(mult: Int): DataFrame = spark.range(mult * 4000000L)
      .select(concat(lit("item"), col("id")).as("w"))
      .repartition(mult * 16)
    // min-of-2 on both points: the lo run is sub-second, so a single
    // measurement's fixed-overhead jitter (JIT, GC, first-stage launch)
    // can swing the ratio across the bound in either direction — the
    // min pairs like with like
    // min-of-3: the 4x-model gate carries only 2x slack and this
    // machine's load spread on the ~30s hi point exceeds min-of-2
    // (same-day clean runs measured 4.9x, 6.7x and 9.0x ratios on
    // identical code); three samples keep the gate meaningful.
    // The two corpora run SEQUENTIALLY, lo's checkpoint released before
    // hi's is built: pinning both (32M + 128M rows) leaves the 128M-row
    // verify shuffle too little evictable headroom in the 8g harness
    // heap — observed as a flaky UNABLE_TO_ACQUIRE_MEMORY on the x32
    // point, the same measure-one-family-at-a-time rule as the flush
    // above.
    val hhItemsLo = hhItems(lo)
    val hhLo = (0 until 3).map(_ => time(s"heavy_hitters all-distinct x$lo", reps = 1)(
      graft.ops.FrequentItems.exactHeavyHitters(hhItemsLo, "w", 0.01).count())).min
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val hhItemsHi = hhItems(hi)
    val hhHi = (0 until 3).map(_ => time(s"heavy_hitters all-distinct x$hi", reps = 1)(
      graft.ops.FrequentItems.exactHeavyHitters(hhItemsHi, "w", 0.01).count())).min
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    verdict("heavy_hitters_distinct", hhLo, hhHi, dataRatio)

    // PageRank with a HOT DST (half of all edges converge on node 0 —
    // the power-law hub every real web/trade graph has): the per-
    // iteration groupBy(dst) must collapse the hub's contributions
    // map-side (sum is algebraic), so the hub never serializes into one
    // task the way a window/collect_list formulation would. Wall must
    // track |E| (model = data ratio) across 3 iterations.
    def prEdges(mult: Int): DataFrame = {
      val n = mult * 500000L
      spark.range(n).select(
          (col("id") % (n / 4)).as("src"),
          when(col("id") % 2 === 0, lit(0L))
            .otherwise((col("id") * 37) % (n / 4)).as("dst"))
        .localCheckpoint()
    }
    val prEdgesLo = prEdges(lo)
    val prEdgesHi = prEdges(hi)
    val prLo = time(s"pagerank hot-dst x$lo")(
      graft.ops.PageRank.ranks(prEdgesLo, "src", "dst", 3).count())
    val prHi = time(s"pagerank hot-dst x$hi")(
      graft.ops.PageRank.ranks(prEdgesHi, "src", "dst", 3).count())
    verdict("pagerank_hotdst", prLo, prHi, dataRatio)

    // Incremental MV maintenance with a HOT-KEY change feed (half the
    // feed hits ONE group): the delta partial-aggregates before the
    // merge, so the hot group collapses map-side exactly like the merge
    // hot-key probe above; the full-outer merge then carries one row per
    // DISTINCT key. Wall must track the feed size.
    val (mvKeys, mvSums) = (Seq("k"), Seq("v"))
    def mvInputs(mult: Int): (DataFrame, DataFrame) = {
      val n = mult * 600000L
      val base = spark.range(n).select(
        (col("id") % 50000L).as("k"), (col("id") % 997L).as("v"))
      val mv = graft.ops.Mv.aggregate(base, mvKeys, mvSums)
      val feed = spark.range(n).select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 50000L).as("k"),
        (col("id") % 991L).as("v"),
        when(col("id") % 3 === 0, lit("delete")).otherwise(lit("insert")).as("change"))
      (mv.localCheckpoint(), feed.localCheckpoint())
    }
    def mvFold(mv: DataFrame, feed: DataFrame): Long = graft.ops.Mv.merge(
      mv, graft.ops.Mv.deltaAggregate(feed, mvKeys, mvSums), mvKeys, mvSums).count()
    val (mvStateLo, mvFeedLo) = mvInputs(lo)
    val (mvStateHi, mvFeedHi) = mvInputs(hi)
    val mvLo = time(s"mv hot-key delta x$lo")(mvFold(mvStateLo, mvFeedLo))
    val mvHi = time(s"mv hot-key delta x$hi")(mvFold(mvStateHi, mvFeedHi))
    verdict("mv_hotkey_delta", mvLo, mvHi, dataRatio)

    // CATALOG-level MV (ops/Mv, round 15): refresh folds the base's
    // CHANGE FEED — O(delta + touched buckets), cursor atomic in the
    // manifest — where full = true re-scans the base. This is also the
    // stored view's flat-in-base probe: the refresh reads the feed and
    // the touched buckets, never the base. A 10k-row / 10-key
    // delta against a 48M-row snapshot base (big enough that the
    // recompute's base scan dominates its fixed costs — the regime the
    // verb exists for; at 12M both sides were ~1.5s of overhead): the
    // delta fold must not lose to the recompute (gate), and the speedup
    // prints as the headline. Content equality is asserted, not
    // assumed: the fold and the recompute land the same rows or the
    // probe fails.
    val mvcBase = "/tmp/graft-probe/mvc_base"
    val mvcMv = "/tmp/graft-probe/mvc_mv"
    Seq(mvcBase, mvcMv).foreach { l =>
      val p = new org.apache.hadoop.fs.Path(l)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    graft.ops.Snapshots.commitAppend(
      spark.range(48000000L).select((col("id") % 100000L).as("k"),
        (col("id") % 997L).as("v")), mvcBase)
    time("catalog-MV build (bucketed x64, reference)", reps = 1) {
      graft.ops.Mv.create(spark, mvcMv, mvcBase,
        Seq("k"), Seq("v"), buckets = 64)
      graft.ops.Snapshots.read(spark, mvcMv).count()
    }
    graft.ops.Snapshots.commitAppend(
      spark.range(10000L).select((col("id") % 10L).as("k"),
        (col("id") % 991L).as("v")), mvcBase)
    val mvcIncW = time("catalog-MV delta refresh (10k feed, 10 keys)", reps = 1) {
      val r = graft.ops.Mv.refresh(spark, mvcMv)
      graft.ops.Snapshots.read(spark, mvcMv).count() + r.groupsTouched
    }
    val vInc = graft.ops.Snapshots.latestVersion(spark, mvcMv)
    val mvcFullW = time("catalog-MV full recompute (reference)", reps = 1) {
      graft.ops.Mv.refresh(spark, mvcMv, full = true)
      graft.ops.Snapshots.read(spark, mvcMv).count()
    }
    val mvcSame = graft.ops.Snapshots.read(spark, mvcMv)
      .exceptAll(graft.ops.Snapshots.read(spark, mvcMv, vInc)).count() == 0L &&
      graft.ops.Snapshots.read(spark, mvcMv, vInc)
        .exceptAll(graft.ops.Snapshots.read(spark, mvcMv)).count() == 0L
    if (!mvcSame) failed = true
    println("CATALOG-MV fold == recompute: " + (if (mvcSame) "PASS" else "FAIL"))
    println(f"PROBE catalog-mv refresh-vs-recompute speedup: ${mvcFullW / mvcIncW}%.2fx")
    verdict("mv_catalog_refresh_vs_recompute", mvcFullW, mvcIncW, 1.0)
    Seq(mvcBase, mvcMv).foreach { l =>
      val p = new org.apache.hadoop.fs.Path(l)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    // Bloom pruning at SATURATION: a deliberately-undersized filter
    // (2^14 bits for 100k build keys -> fpp ~= 1) must degrade to
    // "keeps everything" — still bit-correct after the real join, with
    // wall linear in the fact side (the probe is one codegen'd hash +
    // test per row; the filter stays 2 KiB regardless of build keys, so
    // there is no memory cliff to fall off). A FAIL means the probe
    // itself grew superlinear, i.e. the degraded filter leaked cost
    // somewhere other than the join it no longer prunes.
    def bloomFact(mult: Int): DataFrame = {
      val n = mult * 2000000L
      spark.range(n).select((col("id") % 100000L).as("fk"),
        (col("id") % 1013L).as("payload")).localCheckpoint()
    }
    val dimKeys = spark.range(100000L).select(col("id").as("dk")).localCheckpoint()
    val satBytes = graft.ops.BloomJoin.buildFilter(
      dimKeys, col("dk"), ndv = 100000L, numBits = 1L << 14)
    val bfLo = bloomFact(lo)
    val bfHi = bloomFact(hi)
    // JIT/codegen warmup outside the timed region (the first bloom-probe
    // execution in a JVM costs ~13s of compilation against a ~0.1-2s scan)
    graft.ops.BloomJoin.probe(bfLo.limit(1000), col("fk"), satBytes).count()
    var keptRows = 0L
    val blLo = (0 until 2).map(_ => time(s"bloom saturated probe x$lo", reps = 1)(
      graft.ops.BloomJoin.probe(bfLo, col("fk"), satBytes).count())).min
    val blHi = (0 until 2).map(_ => time(s"bloom saturated probe x$hi", reps = 1) {
      keptRows = graft.ops.BloomJoin.probe(bfHi, col("fk"), satBytes).count()
      keptRows
    }).min
    val keptAll = keptRows == hi * 2000000L
    if (!keptAll) { failed = true }
    println(s"BLOOM saturation keeps all rows (no false negatives): " +
      (if (keptAll) "PASS" else s"FAIL ($keptRows)"))
    // wall ratio is INFORMATIONAL here, not a gate: a warmed codegen'd
    // hash+bit-test scan finishes 64M rows in ~1s on this machine — both
    // points sit at the per-job fixed-cost floor, so the ratio measures
    // scheduler constants, not the probe (the gated claims are the
    // no-false-negative row count above and the fixed 2 KiB filter size)
    println(f"RATIO bloom_saturated_probe (informational): " +
      f"${blHi / blLo}%.2fx wall for ${dataRatio}%.0fx data at the job-floor")

    // --- round-8 second wave ---

    // Entity resolution (linkBestPruned) at 2x records: the scaled
    // corpus models MORE CUSTOMERS — a denser key space with the same
    // name shape as the registered query ("Customer#" + zero-padded
    // digits), so the corpus-LCP strip engages identically at both
    // scales. (A first draft tagged each copy with per-copy prefix
    // letters; that defeats the GLOBAL LCP strip — min/max straddle the
    // copy tags, nothing strips, and the boilerplate "Customer#" head
    // segment degenerates into one bucket holding every string of a
    // copy: ~900M candidates, the exact blowup the strip exists to
    // prevent. The probe now varies the digit tail, which is what real
    // growth does.) True cross-key dist<=1 collisions are O(digits x 10)
    // per record — linear in the corpus. A FAIL means candidate
    // generation grew a quadratic term on a realistically-shaped 2x
    // corpus.
    def erSides(mult: Int): (DataFrame, DataFrame) = {
      val c = graft.core.Tables.customer(spark, d)
      val a = (0 until mult).map { m =>
        c.select((col("c_custkey") * mult + lit(m)).cast("long").as("a_id"),
          col("c_nationkey").as("nat"))
      }.reduce(_ union _)
        .select(col("a_id"),
          concat(lit("Customer#"), lpad(col("a_id").cast("string"), 9, "0"))
            .as("a_name"),
          col("nat")).localCheckpoint()
      val b = a.select((col("a_id") + 100000000L).as("b_id"),
        expr("concat(substring(a_name, 1, cast(a_id % 9 + 9 as int)), " +
             "substring(a_name, cast(a_id % 9 + 11 as int), 30))").as("b_name"),
        col("nat")).localCheckpoint()
      (a, b)
    }
    val (erALo, erBLo) = erSides(4)
    val (erAHi, erBHi) = erSides(8)
    val erLo = time("entity_resolution pruned x4")(
      graft.llm.EntityResolution.linkBestPruned(erALo, erBLo, Seq("nat"),
        "a_id", "b_id", "a_name", "b_name", maxDist = 1).count())
    val erHi = time("entity_resolution pruned x8")(
      graft.llm.EntityResolution.linkBestPruned(erAHi, erBHi, Seq("nat"),
        "a_id", "b_id", "a_name", "b_name", maxDist = 1).count())
    verdict("entity_resolution_pruned", erLo, erHi, 2.0)

    // Connected components at 2x edges: disjoint per-copy node-id
    // shifts keep components copy-local, so the true work is linear in
    // the edge count; 6 bounded rounds each side. A FAIL means a round's
    // join or the per-round pin grew superlinearly.
    def tradeEdgesX(mult: Int): DataFrame = {
      val base = graft.core.Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(graft.core.Tables.lineitem(spark, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      (0 until mult).map { m =>
        base.select((col("src") + lit(m * 10000000L)).as("src"),
          (col("dst") + lit(m * 10000000L)).as("dst"))
      }.reduce(_ union _).localCheckpoint()
    }
    val ccEdgesLo = tradeEdgesX(2)
    val ccEdgesHi = tradeEdgesX(4)
    val ccLo = time("connected_components x2")(
      graft.ops.Components.labelsBounded(ccEdgesLo, "src", "dst", 6).count())
    val ccHi = time("connected_components x4")(
      graft.ops.Components.labelsBounded(ccEdgesHi, "src", "dst", 6).count())
    verdict("connected_components", ccLo, ccHi, 2.0)

    // Snapshot diff asymmetry: the SAME 1M-row append diffed against a
    // 2M- vs 8M-row base must cost ~the delta, not the table — immutable
    // common files are never opened (model 1.0, the incremental-dedup
    // shape). A FAIL means the diff re-read unchanged data.
    def snapTable(mult: Int): String = {
      val loc = s"/tmp/graft-probe/snap_diff_x$mult"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val base = spark.range(mult * 2000000L)
        .select(col("id"), (col("id") % 997L).as("v"))
      graft.ops.Snapshots.commitAppend(base, loc)
      val delta = spark.range(1000000L)
        .select((col("id") + 1000000000L).as("id"), (col("id") % 997L).as("v"))
      graft.ops.Snapshots.commitAppend(delta, loc)
      loc
    }
    val snLoLoc = snapTable(1)
    val snHiLoc = snapTable(4)
    val snLo = time("snapshot_diff after append (base x1)")(
      graft.ops.Snapshots.diff(spark, snLoLoc, 1, 2).count())
    val snHi = time("snapshot_diff after append (base x4)")(
      graft.ops.Snapshots.diff(spark, snHiLoc, 1, 2).count())
    verdict("snapshot_diff_flat", snLo, snHi, 1.0)

    // Stats-pruned copy-on-write DELETE (round 9): deleting a fixed key
    // slice from an m×-bigger range-clustered table must stay FLAT —
    // zone-map sidecars gate the detection scan to the candidate files
    // and the rewrite touches only them, so neither side grows with the
    // table. Stats maintenance itself is O(delta) (attachStats inherits
    // the previous sidecar), exercised by attaching per commit. A FAIL
    // means detection degraded to a table scan.
    def cowTable(mult: Int): String = {
      val loc = s"/tmp/graft-probe/snap_cow_x$mult"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      (0 until mult).foreach { m =>
        val v = graft.ops.Snapshots.commitAppend(
          spark.range(m * 10000000L, m * 10000000L + 2000000L).toDF("id")
            .repartitionByRange(4, col("id")), loc)
        graft.ops.Snapshots.attachStats(spark, loc, v, Seq("id"))
      }
      loc
    }
    val cowLoLoc = cowTable(1)
    val cowHiLoc = cowTable(4)
    val cowLo = time("cow delete, pruned (table x1)", reps = 1) {
      graft.ops.Snapshots.commitDelete(spark, cowLoLoc,
        col("id").between(100L, 200L), pruneBy = Some(("id", "100", "200")))
      graft.ops.Snapshots.read(spark, cowLoLoc).count()
    }
    val cowHi = time("cow delete, pruned (table x4)", reps = 1) {
      graft.ops.Snapshots.commitDelete(spark, cowHiLoc,
        col("id").between(100L, 200L), pruneBy = Some(("id", "100", "200")))
      graft.ops.Snapshots.read(spark, cowHiLoc).count()
    }
    // the trailing count() IS table-sized on both sides (it certifies
    // the delete landed); the delete itself is the flat part — model 1x
    // with the standard 2x slack still separates it cleanly from the
    // 4x a table-scan detection would cost
    verdict("cow_delete_pruned_flat", cowLo, cowHi, 1.0)

    // Zone-map-gated MERGE detection (round 10): upserting a fixed
    // narrow-key source into an m×-bigger range-clustered table must
    // stay FLAT — commitMerge derives the source's key envelope itself
    // (one agg over the small source) and gates the matched-file
    // detection scan with the sidecar, so detection is O(key-range
    // files), not O(table). A FAIL means detection degraded to the
    // full-table semi-join scan.
    def mergeTable(mult: Int): String = {
      val loc = s"/tmp/graft-probe/snap_merge_x$mult"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      (0 until mult).foreach { m =>
        val v = graft.ops.Snapshots.commitAppend(
          spark.range(m * 10000000L, m * 10000000L + 2000000L).toDF("id")
            .repartitionByRange(4, col("id")), loc)
        graft.ops.Snapshots.attachStats(spark, loc, v, Seq("id"))
      }
      loc
    }
    val smLoLoc = mergeTable(1)
    val smHiLoc = mergeTable(4)
    val smLo = time("merge detection, gated (table x1)", reps = 1) {
      graft.ops.Snapshots.commitMerge(spark, smLoLoc,
        spark.range(100L, 200L).toDF("id"), "id")
      graft.ops.Snapshots.read(spark, smLoLoc).count()
    }
    val smHi = time("merge detection, gated (table x4)", reps = 1) {
      graft.ops.Snapshots.commitMerge(spark, smHiLoc,
        spark.range(100L, 200L).toDF("id"), "id")
      graft.ops.Snapshots.read(spark, smHiLoc).count()
    }
    // as with the delete probe, the trailing count() is table-sized on
    // both sides; the merge is the flat part under test
    verdict("merge_detect_gated_flat", smLo, smHi, 1.0)

    // Merge-on-read DELETE (round 10): the same fixed narrow-key delete
    // against an m×-bigger range-clustered table must stay FLAT — the
    // zone-map hint gates the match-detection scan AND the commit writes
    // only a tiny delete vector (zero data files rewritten), so neither
    // side grows with the table. The verifying read applies the DV via a
    // broadcast anti-join; its count is table-sized on both sides like
    // the other DML probes. A FAIL means detection or the commit path
    // degraded to O(table).
    def morTable(mult: Int): String = {
      val loc = s"/tmp/graft-probe/snap_mor_x$mult"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      (0 until mult).foreach { m =>
        val v = graft.ops.Snapshots.commitAppend(
          spark.range(m * 10000000L, m * 10000000L + 2000000L).toDF("id")
            .repartitionByRange(4, col("id")), loc)
        graft.ops.Snapshots.attachStats(spark, loc, v, Seq("id"))
      }
      loc
    }
    val morLoLoc = morTable(1)
    val morHiLoc = morTable(4)
    val morLo = time("mor delete, pruned (table x1)", reps = 1) {
      graft.ops.Snapshots.commitDeleteMoR(spark, morLoLoc,
        col("id").between(100L, 200L), pruneBy = Some(("id", "100", "200")))
      graft.ops.Snapshots.read(spark, morLoLoc).count()
    }
    val morHi = time("mor delete, pruned (table x4)", reps = 1) {
      graft.ops.Snapshots.commitDeleteMoR(spark, morHiLoc,
        col("id").between(100L, 200L), pruneBy = Some(("id", "100", "200")))
      graft.ops.Snapshots.read(spark, morHiLoc).count()
    }
    verdict("mor_delete_pruned_flat", morLo, morHi, 1.0)

    // DV-bearing SQL reads with zone maps (round 11): a fixed
    // narrow-range SQL read of an m×-bigger MERGE-ON-READ table must
    // stay FLAT — the per-file row scan maps the pushed bounds through
    // the stats sidecar (driver-side file skipping), the parquet reader
    // row-group-skips below it, and the vector subtraction keys on
    // native row indexes, so none of the three costs the table. A FAIL
    // means DV versions lost pushdown or file skipping on the SQL path.
    spark.conf.set("spark.sql.catalog.graft_probe",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_probe.root", "/tmp/graft-probe")
    def dvReadTable(mult: Int): String = {
      val name = s"snap_dvread_x$mult"
      val loc = s"/tmp/graft-probe/$name"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      (0 until mult).foreach { m =>
        val v = graft.ops.Snapshots.commitAppend(
          spark.range(m * 10000000L, m * 10000000L + 2000000L).toDF("id")
            .repartitionByRange(4, col("id")), loc)
        graft.ops.Snapshots.attachStats(spark, loc, v, Seq("id"))
      }
      val v = graft.ops.Snapshots.commitDeleteMoR(spark, loc,
        col("id").between(150L, 160L), pruneBy = Some(("id", "150", "160")))
      graft.ops.Snapshots.attachStats(spark, loc, v, Seq("id")) // inherits
      name
    }
    val dvrLo = dvReadTable(1)
    val dvrHi = dvReadTable(4)
    val dvReadLo = time("dv sql read, narrow range (table x1)")(
      spark.sql(s"SELECT id FROM graft_probe.$dvrLo " +
        "WHERE id BETWEEN 100 AND 300").count())
    val dvReadHi = time("dv sql read, narrow range (table x4)")(
      spark.sql(s"SELECT id FROM graft_probe.$dvrHi " +
        "WHERE id BETWEEN 100 AND 300").count())
    verdict("dv_sql_read_pruned_flat", dvReadLo, dvReadHi, 1.0)

    // ---- top-n and Bloom point lookups stay flat as the table grows ----
    // ORDER BY id DESC LIMIT 100 must read O(files holding the top-100) —
    // statTopFiles proves a bound from sidecar non-null counts and plans
    // ~1 file at both sizes; without the prune, 4x data means a 4x sort.
    // The Bloom probe is the hash-layout point lookup: per-file filters
    // keep the planned set O(probed keys) while the file count quadruples.
    def topnTable(mult: Int): String = {
      val name = s"snap_topn_x$mult"
      val loc = s"/tmp/graft-probe/$name"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      (0 until mult).foreach { m =>
        val v = graft.ops.Snapshots.commitAppend(
          spark.range(m * 10000000L, m * 10000000L + 2000000L).toDF("id")
            .repartitionByRange(4, col("id")), loc)
        graft.ops.Snapshots.attachStats(spark, loc, v, Seq("id"))
      }
      name
    }
    val tnLo = topnTable(1)
    val tnHi = topnTable(4)
    val topLo = time("top-n sql read (table x1)")(
      spark.sql(s"SELECT id FROM graft_probe.$tnLo ORDER BY id DESC LIMIT 100")
        .collect().length.toLong)
    val topHi = time("top-n sql read (table x4)")(
      spark.sql(s"SELECT id FROM graft_probe.$tnHi ORDER BY id DESC LIMIT 100")
        .collect().length.toLong)
    verdict("topn_sql_flat", topLo, topHi, 1.0)

    def bloomTable(mult: Int): String = {
      val name = s"snap_bloom_x$mult"
      val loc = s"/tmp/graft-probe/$name"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      (0 until mult).foreach { m =>
        val v = graft.ops.Snapshots.commitAppend(
          spark.range(m * 10000000L, m * 10000000L + 2000000L).toDF("id")
            .repartition(8, col("id")), loc) // hash layout: zone maps blind
        graft.ops.BloomSidecar.attachBlooms(spark, loc, v, Seq("id"))
      }
      name
    }
    val bpLo = bloomTable(1)
    val bpHi = bloomTable(4)
    val bloomLo = time("bloom point lookup (table x1)")(
      spark.sql(s"SELECT id FROM graft_probe.$bpLo " +
        "WHERE id IN (7, 424242, 1555555)").count())
    val bloomHi = time("bloom point lookup (table x4)")(
      spark.sql(s"SELECT id FROM graft_probe.$bpHi " +
        "WHERE id IN (7, 424242, 1555555)").count())
    verdict("bloom_sql_point_flat", bloomLo, bloomHi, 1.0)

    // runtime (join-driven) file skipping: a broadcast join whose dim
    // keys land in ONE fact file must cost the same wall while the fact
    // table quadruples — the dim's key values reach the scan at
    // execution time and prune through the sidecar exactly like a
    // static predicate would.
    import spark.implicits._
    (0L until 2000000L by 100000L).map(k => (k, if (k < 500000L) "hot" else "cold"))
      .toDF("k", "tag").createOrReplaceTempView("probe_rp_dim")
    val rpLo = time("runtime-pruned join (table x1)")(
      spark.sql(s"SELECT f.id FROM graft_probe.$tnLo f " +
        "JOIN probe_rp_dim d ON f.id = d.k WHERE d.tag = 'hot'").count())
    val rpHi = time("runtime-pruned join (table x4)")(
      spark.sql(s"SELECT f.id FROM graft_probe.$tnHi f " +
        "JOIN probe_rp_dim d ON f.id = d.k WHERE d.tag = 'hot'").count())
    verdict("runtime_prune_join_flat", rpLo, rpHi, 1.0)

    // ---- bloom-sidecar maintenance is O(new files): the delta refresh
    // after an append writes only the fresh rows, so attach wall stays
    // flat while the already-covered set quadruples. reps = 1: a re-run
    // attach on the same version is a covered no-op (min-of-2 would time
    // that instead of the real delta write).
    def bloomAppendAttach(name: String): Double = {
      val loc = s"/tmp/graft-probe/$name"
      val v = graft.ops.Snapshots.commitAppend(
        spark.range(90000000L, 90100000L).toDF("id")
          .repartition(2, col("id")), loc)
      time(s"bloom delta attach after append ($name)", reps = 1) {
        graft.ops.BloomSidecar.attachBlooms(spark, loc, v, Seq("id")); 1L
      }
    }
    val baLo = bloomAppendAttach(bpLo)
    val baHi = bloomAppendAttach(bpHi)
    verdict("bloom_attach_delta_flat", baLo, baHi, 1.0)

    // ---- storage-partitioned join: two co-bucketed snapshot tables
    // join with ZERO Exchange (KeyGroupedPartitioning report); wall
    // tracks the linear data growth, and at x4 the SPJ plan must not
    // lose to the shuffled plan it replaces (conf off = same tables,
    // layout ignored, both sides fully shuffled).
    def spjPair(mult: Int): (String, String) = {
      val names = (s"spj_a_x$mult", s"spj_b_x$mult")
      Seq(names._1, names._2).foreach { n =>
        val loc = s"/tmp/graft-probe/$n"
        val p = new org.apache.hadoop.fs.Path(loc)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        graft.ops.Snapshots.commitAppend(
          spark.range(0L, mult * 2000000L).toDF("id")
            .withColumn("v", col("id") % 97), loc)
        graft.ops.BucketLayout.commitBucketed(spark, loc, "id", 16)
      }
      names
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (a1, b1) = spjPair(1)
    val (a4, b4) = spjPair(4)
    def joinCount(a: String, b: String): Long =
      spark.sql(s"SELECT f.id, g.v FROM graft_probe.$a f " +
        s"JOIN graft_probe.$b g ON f.id = g.id WHERE g.v < 96").count()
    val spjLo = time("spj co-bucketed join (x1)")(joinCount(a1, b1))
    val spjHi = time("spj co-bucketed join (x4)")(joinCount(a4, b4))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    val shufHi = time("shuffled join, layout ignored (x4)")(joinCount(a4, b4))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    verdict("spj_join_linear", spjLo, spjHi, 4.0)
    // ratio = spj/shuffled: expected < 1 (printed above); bound 2x noise
    verdict("spj_vs_shuffled_x4", shufHi, spjHi, 1.0)

    // ---- Zipf-hot key under a FIXED layout: half the fact's rows carry
    // ONE key, so one bucket holds ~half the table and the SPJ is
    // straggler-bound by it — the fixed-layout skew story is honest
    // degrade (salting is unusable under a layout), the wall must still
    // track the data linearly (the hot bucket grows linearly too), and
    // the `t.buckets` introspection surface must SHOW the hot bucket on
    // top so an operator sees it before it straggles.
    def spjZipfPair(mult: Int): (String, String) = {
      val names = (s"spjz_a_x$mult", s"spjz_b_x$mult")
      val fact = spark.range(0L, mult * 2000000L).toDF("i")
        .select(when(col("i") % 2 === 0, 0L).otherwise(col("i")).as("id"),
          (col("i") % 97).as("v"))
      val dim = spark.range(0L, 200000L).toDF("id")
        .withColumn("v", col("id") % 97)
      Seq((names._1, fact), (names._2, dim)).foreach { case (n, df) =>
        val loc = s"/tmp/graft-probe/$n"
        val p = new org.apache.hadoop.fs.Path(loc)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        graft.ops.Snapshots.commitAppend(df, loc)
        val v = graft.ops.BucketLayout.commitBucketed(spark, loc, "id", 16)
        // sidecar row counts feed the t.buckets skew surface (bytes alone
        // UNDERSTATE a hot constant key — RLE crushes it ~10x)
        graft.ops.Snapshots.attachStats(spark, loc, v, Seq("id"))
      }
      names
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (za1, zb1) = spjZipfPair(1)
    val (za4, zb4) = spjZipfPair(4)
    val zLo = time("spj zipf-hot join (x1)")(joinCount(za1, zb1))
    val zHi = time("spj zipf-hot join (x4)")(joinCount(za4, zb4))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    verdict("spj_zipf_skew_linear", zLo, zHi, 4.0)
    val skew = graft.ops.Snapshots.bucketsMeta(spark, s"/tmp/graft-probe/$za4")
      .select("rows").collect().map(_.getLong(0))
    println(f"PROBE spj_zipf buckets: hot=${skew.max}%d rows, " +
      f"median=${skew.sorted.apply(skew.length / 2)}%d rows " +
      f"(${skew.max.toDouble / skew.sorted.apply(skew.length / 2)}%.1fx skew " +
      "— visible in t.buckets before the join runs)")

    // ---- the DSv2 routed SQL INSERT must cost what the API append
    // costs: both shuffle the batch once by the layout hash and write
    // one file per touched bucket — the SQL route's extra machinery
    // (RequiresDistributionAndOrdering resolution, the rolling writer)
    // must be plan-level only, not a second data pass.
    locally {
      val loc = "/tmp/graft-probe/sql_insert_cost"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      spark.conf.set("spark.sql.catalog.graft_probe_ins",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_probe_ins.root",
        "/tmp/graft-probe")
      graft.ops.Snapshots.commitAppend(
        spark.range(0L, 1000000L).toDF("id").withColumn("v",
          concat(lit("payload-"), col("id") % 100000)), loc)
      graft.ops.BucketLayout.commitBucketed(spark, loc, "id", 16)
      // batch sized so per-ROW routing cost dominates the fixed SQL
      // analysis/commit overhead (sub-second batches measure the
      // constant, not the path)
      def batch(lo: Long) = spark.range(lo, lo + 24000000L).toDF("id")
        .withColumn("v", concat(lit("payload-"), col("id") % 100000))
      batch(24000000L).createOrReplaceTempView("ins_probe_batch")
      val apiW = time("layout ingest via API appendBucketed", reps = 1) {
        graft.ops.BucketLayout.appendBucketed(spark, loc, batch(48000000L))
      }
      val sqlW = time("layout ingest via SQL INSERT (routed DSv2 write)",
          reps = 1) {
        spark.sql("INSERT INTO graft_probe_ins.sql_insert_cost " +
          "SELECT * FROM ins_probe_batch")
        1L
      }
      require(graft.ops.Snapshots.version(spark, loc, -1L).layout.isDefined,
        "probe ingest dropped the layout")
      verdict("sql_insert_vs_api_append", apiW, sqlW, 1.0)
    }

    // ---- routed-INSERT collision cost at n = cores, the sharpest case:
    // with requiredNumPartitions = buckets exactly, bucket vectors hash-
    // collide into tasks (~1/e slots idle, 2-3 buckets serialized in one
    // task — measured 1.25x vs the API append's exact probe-int routing
    // at n=32 on this box); the shipped 4x over-provision spreads them
    // (expected collisions n/8) and must keep the routed SQL INSERT at
    // API-append cost. Decision recorded in DESIGN.md round 14.
    locally {
      val loc = "/tmp/graft-probe/sql_insert_n32"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      spark.conf.set("spark.sql.catalog.graft_probe_ins",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_probe_ins.root",
        "/tmp/graft-probe")
      graft.ops.Snapshots.commitAppend(
        spark.range(0L, 1000000L).toDF("id").withColumn("v",
          concat(lit("payload-"), col("id") % 100000)), loc)
      graft.ops.BucketLayout.commitBucketed(spark, loc, Seq("id"), Seq(32))
      def batch(lo: Long) = spark.range(lo, lo + 24000000L).toDF("id")
        .withColumn("v", concat(lit("payload-"), col("id") % 100000))
      batch(24000000L).createOrReplaceTempView("ins_probe_batch32")
      val apiW = time("n=cores ingest via API appendBucketed", reps = 1) {
        graft.ops.BucketLayout.appendBucketed(spark, loc, batch(48000000L))
      }
      val sqlW = time("n=cores ingest via SQL INSERT (4x over-provision)",
          reps = 1) {
        spark.sql("INSERT INTO graft_probe_ins.sql_insert_n32 " +
          "SELECT * FROM ins_probe_batch32")
        1L
      }
      verdict("sql_insert_collision_n_cores", apiW, sqlW, 1.0)
    }

    // ---- full-rewrite task routing: the exact probe-int routing must
    // never LOSE to the old double-hash repartition (which idles ~1/e of
    // the n slots and serializes 2-3 buckets in some tasks — at n = cores
    // that's a 3-wave makespan against exact routing's single wave;
    // measured 1.85x at n=32/24M rows, write-bound with a string payload).
    def rewriteWall(exact: Boolean): Double = {
      val df = spark.range(0L, 24000000L).toDF("id")
        .withColumn("v", concat(lit("payload-"), col("id") % 100000))
      val b = "__graft_bucket"
      val withB = df.withColumn(b,
        graft.ops.BucketLayout.bucketId(col("id"), 32))
      val routed =
        if (exact) {
          val probes = graft.ops.BucketLayout.routeProbes(32)
          withB.repartition(32, element_at(lit(probes), col(b) + 1))
        } else withB.repartition(32, col(b)) // the pre-r13 shape
      time(s"bucket rewrite n=32 exact=$exact") {
        val out = s"/tmp/graft-probe/rewrite_${exact}_${System.nanoTime()}"
        routed.sortWithinPartitions(col(b), col("id"))
          .write.partitionBy(b).parquet(out)
        val p = new org.apache.hadoop.fs.Path(out)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val n = fs.globStatus(
          new org.apache.hadoop.fs.Path(out, "__graft_bucket=*/part-*")).length
        fs.delete(p, true); n.toLong
      }
    }
    val rwOld = rewriteWall(exact = false)
    val rwNew = rewriteWall(exact = true)
    println(f"PROBE rewrite exact-routing speedup: ${rwOld / rwNew}%.2fx")
    verdict("bucket_rewrite_exact_routing", rwOld, rwNew, 1.0)

    // ---- bucket_split vs full re-layout: scaling n -> 2n through
    // splitBuckets is a per-task LOCAL pass (h mod 2n refines h mod n:
    // zero shuffle anywhere), while CALL bucket at 2n re-shuffles the
    // whole table. Same 24M rows read, same 32 buckets written — the
    // split must never lose, and the printed speedup is the shuffle's
    // price on this box (network-free local[32] is its FLOOR; on a real
    // cluster the shuffle crosses the wire and the gap widens).
    {
      val loc = "/tmp/graft-probe/split_cost"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      graft.ops.Snapshots.commitAppend(
        spark.range(0L, 24000000L).toDF("id").withColumn("v",
          concat(lit("payload-"), col("id") % 100000)), loc)
      graft.ops.BucketLayout.commitBucketed(spark, loc, "id", 16)
      val splitW = time("bucket_split 16 -> 32 (local refine)", reps = 1) {
        graft.ops.BucketLayout.splitBuckets(spark, loc, Seq(32))
      }
      require(graft.ops.Snapshots.version(spark, loc, -1L).layout
        .contains("bucket,32,id"), "split lost the layout")
      val rebucketW = time("full re-layout at 32 (shuffle rewrite)", reps = 1) {
        graft.ops.BucketLayout.commitBucketed(spark, loc, "id", 32)
      }
      println(f"PROBE split-vs-rebucket speedup: ${rebucketW / splitW}%.2fx")
      verdict("bucket_split_vs_rebucket", rebucketW, splitW, 1.0)
    }

    // ---- fold_dvs vs full optimize: after a RANGE-LOCAL merge-on-read
    // delete (one region of a 24M-row range-clustered table), folding
    // the vectors must cost O(deleted-from files), not the full rewrite
    // optimize pays — the fold reads ~1/16 of the data. The verdict
    // bound is the usual 2x-of-model slack; the printed speedup is the
    // honest ratio on this box.
    {
      val loc = "/tmp/graft-probe/fold_cost"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      graft.ops.Snapshots.commitAppend(
        spark.range(0L, 24000000L).toDF("id")
          .withColumn("v", concat(lit("payload-"), col("id") % 100000))
          .repartitionByRange(16, col("id")), loc)
      graft.ops.Snapshots.commitDeleteMoR(spark, loc,
        col("id") < 1000000L && col("id") % 3 === 0L)
      val foldW = time("fold_dvs (range-local delete, 16 files)", reps = 1) {
        graft.ops.Snapshots.commitFoldDvs(spark, loc)
      }
      require(graft.ops.Snapshots.version(spark, loc).dvs.isEmpty,
        "probe fold left vectors behind")
      // the comparator: the same cleanup done the only way that existed
      // before — a full-table rewrite
      graft.ops.Snapshots.commitDeleteMoR(spark, loc,
        col("id") < 1000000L && col("id") % 3 === 1L)
      val optW = time("full optimize for the same cleanup", reps = 1) {
        graft.ops.Snapshots.commitCompaction(spark, loc)
      }
      println(f"PROBE fold-vs-optimize speedup: ${optW / foldW}%.2fx")
      verdict("fold_dvs_vs_optimize", optW, foldW, 1.0)
    }

    // ---- range retention vs generic CoW delete: on a time-sliced table
    // (the 100 TB arrival pattern) "expire the old half" must classify
    // from the sidecar — fully-covered files DROP as metadata, zero data
    // I/O — while the generic copy-on-write path scans every candidate
    // for matches and rewrites the affected half. Same predicate, same
    // table shape, two fresh copies (each verb consumes its table).
    {
      def mkTable(loc: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(loc)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        // 8 ingest slices with disjoint ts ranges, 3M rows each
        (0 until 8).foreach { sl =>
          graft.ops.Snapshots.commitAppend(
            spark.range(sl * 3000000L, (sl + 1) * 3000000L).toDF("id")
              .withColumn("ts", col("id"))
              .withColumn("v", concat(lit("payload-"), col("id") % 100000)),
            loc)
        }
        graft.ops.Snapshots.setAutoStats(spark, loc, Seq("ts"))
      }
      mkTable("/tmp/graft-probe/ret_a")
      mkTable("/tmp/graft-probe/ret_b")
      val retW = time("range retention (sidecar-classified DELETE)", reps = 1) {
        graft.ops.Snapshots.commitDeleteRange(spark, "/tmp/graft-probe/ret_a",
          "ts", None, Some(("12000000", false)))
      }
      require(graft.ops.Snapshots.read(spark, "/tmp/graft-probe/ret_a")
        .count() == 12000000L, "retention dropped the wrong rows")
      val cowW = time("generic CoW DELETE for the same expiry", reps = 1) {
        graft.ops.Snapshots.commitDelete(spark, "/tmp/graft-probe/ret_b",
          col("ts") < 12000000L)
      }
      require(graft.ops.Snapshots.read(spark, "/tmp/graft-probe/ret_b")
        .count() == 12000000L, "CoW comparator dropped the wrong rows")
      println(f"PROBE retention-vs-cow speedup: ${cowW / retW}%.2fx")
      verdict("retention_vs_cow_delete", cowW, retW, 1.0)
    }

    // ---- incremental replication: after the seed ships the table, a
    // second call following ONE small append must move O(new files) —
    // its wall must sit far under the seed's (the DistCpSync -diff
    // contract, mtime-pinned for identity in the registry row; this is
    // the wall-clock claim at 24M rows).
    {
      val src = "/tmp/graft-probe/repl_src"
      val dst = "/tmp/graft-probe/repl_dst"
      Seq(src, dst).foreach { l =>
        val p = new org.apache.hadoop.fs.Path(l)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      graft.ops.Snapshots.commitAppend(
        spark.range(0L, 24000000L).toDF("id")
          .withColumn("v", concat(lit("payload-"), col("id") % 100000)), src)
      val seedW = time("replicate seed (full 24M-row ship)", reps = 1) {
        graft.ops.Replicate.replicate(spark, src, dst)
      }
      graft.ops.Snapshots.commitAppend(
        spark.range(24000000L, 24010000L).toDF("id")
          .withColumn("v", concat(lit("payload-"), col("id") % 100000)), src)
      val deltaW = time("replicate delta (one 10k-row append)", reps = 1) {
        graft.ops.Replicate.replicate(spark, src, dst)
      }
      require(graft.ops.Snapshots.read(spark, dst).count() == 24010000L,
        "replica content wrong after the delta ship")
      println(f"PROBE replicate seed/delta ratio: ${seedW / deltaW}%.1fx")
      // the delta must be at most ~a tenth of the seed (model 0.1, bound
      // 0.2x): anything heavier means the second call re-ships the table
      verdict("replicate_incremental_delta", seedW, deltaW, 0.1)
    }

    // ---- hot-isolated skew join ([[graft.ops.Skew.hotIsolatedJoin]]):
    // a Zipf fact (half the rows on ONE key) co-bucketed with its dim.
    // The plain storage-partitioned join has no exchange, so AQE's
    // skew-split never sees it — the hot bucket's single sort-merge task
    // IS the wall. Isolating the hot key (cold mass stays SPJ, hot rows
    // stream against a broadcast of the dim's matching row — no sort, no
    // shuffle) must un-straggle the join >= 2x, with the row set proven
    // identical by count + checksum (SkewSpec proves exact equality at
    // spec scale).
    {
      val factLoc = "/tmp/graft-probe/skew_fact"
      val dimLoc = "/tmp/graft-probe/skew_dim"
      Seq(factLoc, dimLoc).foreach { l =>
        val p = new org.apache.hadoop.fs.Path(l)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      spark.conf.set("spark.sql.catalog.graft_probe_cat",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_probe_cat.root", "/tmp/graft-probe")
      // 24M fact rows, 90% on key 0, wide string payload (sort cost is
      // the straggler's wall); layout + 3 more routed ingest batches
      def factBatch(lo: Long, hi: Long): DataFrame =
        spark.range(lo, hi).toDF("id")
          .withColumn("k", when(col("id") % 10 < 9, 0L)
            .otherwise(pmod(xxhash64(col("id")), lit(100000L)) + 1L))
          .withColumn("pay", col("id") * 31L)
          .withColumn("w",
            concat(lit("wide-payload-wide-payload-wide-payload-"), col("id")))
      graft.ops.Snapshots.commitAppend(factBatch(0L, 6000000L), factLoc)
      graft.ops.Snapshots.commitAppend(
        spark.range(0L, 100001L).toDF("k")
          .withColumn("dv", col("k") * 7L), dimLoc)
      graft.ops.BucketLayout.commitBucketed(spark, factLoc, Seq("k"), Seq(8))
      graft.ops.BucketLayout.commitBucketed(spark, dimLoc, Seq("k"), Seq(8))
      (1 to 3).foreach(b => graft.ops.BucketLayout.appendBucketed(spark,
        factLoc, factBatch(b * 6000000L, (b + 1) * 6000000L)))
      val fact = spark.table("graft_probe_cat.skew_fact")
      val dim = spark.table("graft_probe_cat.skew_dim")
      def checksum(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), sum(col("pay") + col("dv"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val noBcast = "spark.sql.autoBroadcastJoinThreshold"
      val oldT = spark.conf.get(noBcast)
      spark.conf.set(noBcast, "-1") // the dim is "too big to broadcast whole"
      try {
        var base: (Long, Long) = null
        var isolated: (Long, Long) = null
        val baseW = time("spj join, zipf-hot bucket (straggler)") {
          base = checksum(fact.join(dim, Seq("k"))); base._1
        }
        val hot = graft.ops.Skew.hotKeys(fact, "k", minShare = 0.25)
        require(hot == Seq(0L), s"hot-key detection found $hot")
        val skewW = time("hot-isolated skew join (cold SPJ + hot broadcast)") {
          isolated = checksum(graft.ops.Skew.hotIsolatedJoinTables(spark,
            "graft_probe_cat.skew_fact", "graft_probe_cat.skew_dim", "k", hot))
          isolated._1
        }
        require(base == isolated,
          s"skew join changed the result: $base vs $isolated")
        println(f"PROBE skew-join un-straggle: ${baseW / skewW}%.2fx")
        // measured 4.9x on this box; claim >= 2x (model 0.25 x the 2.0
        // slack = bound 0.5x wall)
        verdict("spj_skew_join_hot_isolated", baseW, skewW, 0.25)
      } finally spark.conf.set(noBcast, oldT)
    }

    // ---- hash-gated span trim: on a LOW-DUPLICATION corpus (every word
    // doc-tagged, so no gram repeats across docs) the gram STRINGS never
    // shuffle — only the 24-byte hash-gate rows do. Measured as actual
    // stage shuffle-WRITE bytes: the gated full trim must move less than
    // half the bytes of the ungated gram-string aggregation it replaces,
    // and its bytes must track the corpus linearly (tiny constant), not
    // blow up.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def lowDupDocs(mult: Int): DataFrame = {
      val docs = graft.core.Tables.documents(spark, d)
      (0 until mult).map { m =>
        docs.select((col("doc_id") + lit(m * 1000000L)).as("doc_id"),
          expr("array_join(transform(split(text, ' '), " +
            s"w -> concat(w, '_', cast(doc_id + ${m * 1000000L} as string))), ' ')")
            .as("text"))
      }.reduce(_ union _).localCheckpoint()
    }
    def spanShuffleBytes(df: DataFrame, label: String)(run: DataFrame => Long): Long = {
      spark.catalog.clearCache()
      shuffleBytes.set(0)
      val rows = run(df)
      Thread.sleep(3000) // listener events drain async
      val b = shuffleBytes.get()
      println(f"PROBE span-trim shuffle bytes ($label): ${b / 1024.0 / 1024.0}%.1f MiB ($rows rows)")
      b
    }
    def ungatedDup(df: DataFrame): Long = {
      // the pre-gate shape this replaces: full (doc, pos, gram-string)
      // rows into the distinct-doc aggregation
      val toks = df.select(col("doc_id").as("id"),
        split(col("text"), " ").as("arr"))
        .select(col("id"), col("arr"), size(col("arr")).as("n"))
        .select(col("id"), col("arr"), col("n"),
          posexplode(col("arr")).as(Seq("pos", "tok")))
        .filter(col("pos") + 8 <= col("n"))
        .select(col("id"),
          concat_ws(" ", expr("slice(arr, pos + 1, 8)")).as("g"))
      toks.groupBy(col("g")).agg(countDistinct(col("id")).as("nd"))
        .filter(col("nd") >= 2).count()
    }
    val ld1 = lowDupDocs(1)
    val ld4 = lowDupDocs(4)
    val gatedLo = spanShuffleBytes(ld1, "gated trim x1")(df =>
      graft.llm.SpanTrim.trimDuplicatedSpans(df, "doc_id", "text").count())
    val gatedHi = spanShuffleBytes(ld4, "gated trim x4")(df =>
      graft.llm.SpanTrim.trimDuplicatedSpans(df, "doc_id", "text").count())
    val ungatedHi = spanShuffleBytes(ld4, "ungated gram agg x4")(ungatedDup)
    val byteRatio = gatedHi.toDouble / math.max(ungatedHi, 1L).toDouble
    val growth = gatedHi.toDouble / math.max(gatedLo, 1L).toDouble
    val gateOk = byteRatio <= 0.5 && growth <= 8.0
    if (!gateOk) failed = true
    println(f"RATIO span_trim_gate_bytes: gated/ungated ${byteRatio}%.2f (bound 0.50), " +
      f"x1->x4 growth ${growth}%.2fx (bound 8x) -> ${if (gateOk) "PASS" else "FAIL"}")

    // ---- gram-Bloom sidecar (substring file skipping): attach wall
    // must track the corpus linearly (the build is one scan + one
    // 8-byte-hash shuffle per distinct gram), and a marker-needle probe
    // must keep every true file at both scales (no false negatives).
    // Probe wall is informational — it is a tiny job over O(files)
    // sidecar rows and sits at the scheduler floor at both points.
    def gramTable(mult: Int): String = {
      val loc = s"/tmp/graft-probe/gbloom_x$mult"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = graft.core.Tables.documents(spark, d)
      val df = (0 until mult).map { m =>
        docs.select((col("doc_id") + lit(m * 1000000L)).as("doc_id"),
          concat(col("text"), lit(s" marker${m}tail probe")).as("text"))
      }.reduce(_ union _)
      // range-partition on doc_id so each replica's id band (and its
      // marker) lands in its own files — the layout a real corpus's
      // ingest-time locality gives, and what the skip has to exploit
      graft.ops.Snapshots.commitAppend(
        df.repartitionByRange(mult * 4, col("doc_id")), loc)
      loc
    }
    val gt1 = gramTable(1)
    val gt4 = gramTable(4)
    val ga1 = time("gram-bloom attach x1", reps = 1)(
      { graft.ops.BloomSidecar.attachGramBlooms(spark, gt1, 1L, Seq("text")); 1L })
    val ga4 = time("gram-bloom attach x4", reps = 1)(
      { graft.ops.BloomSidecar.attachGramBlooms(spark, gt4, 1L, Seq("text")); 1L })
    verdict("gram_bloom_attach_linear", ga1, ga4, 4.0)
    val gFiles4 = graft.ops.Snapshots.version(spark, gt4, 1L).files
    val gKeep = graft.ops.BloomSidecar.gramFiles(
      spark, gt4, 1L, gFiles4, "text", "marker2tail")
    // marker2tail lives only in copy m=2's quarter of the files; the
    // probe must keep all of those (truth) and skip most of the rest
    val gTrue = graft.ops.Snapshots.read(spark, gt4, 1L)
      .withColumn("f", input_file_name())
      .filter(col("text").contains("marker2tail"))
      .select(col("f")).distinct().collect()
      .map(r => graft.ops.Snapshots.normPath(r.getString(0))).toSet
    val gramNoFn = gTrue.subsetOf(gKeep.map(graft.ops.Snapshots.normPath).toSet)
    val gramSkips = gKeep.length < gFiles4.length
    if (!gramNoFn || !gramSkips) failed = true
    println(s"GRAM-BLOOM no false negatives: ${if (gramNoFn) "PASS" else "FAIL"}; " +
      s"skips files: ${if (gramSkips) "PASS" else "FAIL"} " +
      s"(kept ${gKeep.length} of ${gFiles4.length})")

    // ---- refs (branch/tag/WAP): the whole lifecycle is manifest
    // renames, so its wall must be FLAT in table size — fork + tag +
    // fast-forward + drop on the 4x table costs what it costs on 1x
    // (each step is O(manifest lines), dominated by constant FS/job
    // overhead). Also pin the stronger claim directly: the fork and the
    // publish move ZERO data bytes (no files under the branch data dir,
    // publish carries the same file set by reference).
    def refCycle(loc: String): Long = {
      graft.ops.Refs.createBranch(spark, loc, "probe")
      graft.ops.Refs.tag(spark, loc, "pin")
      val before = graft.ops.Snapshots.version(spark, loc).files.toSet
      val v = graft.ops.Refs.fastForward(spark, loc, "probe")
      val after = graft.ops.Snapshots.version(spark, loc, v).files.toSet
      if (after != before) { failed = true
        println("REFS zero-copy publish: FAIL (file set changed)") }
      graft.ops.Refs.dropBranch(spark, loc, "probe")
      graft.ops.Refs.dropTag(spark, loc, "pin")
      1L
    }
    val rc1 = time("ref wap cycle x1", reps = 3)(refCycle(gt1))
    val rc4 = time("ref wap cycle x4", reps = 3)(refCycle(gt4))
    verdict("refs_wap_metadata_flat", rc1, rc4, 1.0)

    // ---- layout-preserving ingest: appendBucketed shuffles ONLY the
    // batch (flat wall across table size), and the per-bucket fold
    // (optimize_buckets) reads only the accumulated SMALL ingest files —
    // the big base bucket files carry by reference, so fold wall is
    // O(ingest), flat across a 4x table. Mutating ops: reps = 1.
    def bucketedTable(mult: Int): String = {
      val loc = s"/tmp/graft-probe/spjb_x$mult"
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val li = graft.core.Tables.lineitem(spark, d)
      val df = (0 until mult).map { m =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(m * 100000000L))
      }.reduce(_ union _)
      graft.ops.Snapshots.commitAppend(df.repartition(mult * 4), loc)
      graft.ops.BucketLayout.commitBucketed(spark, loc, "l_orderkey", 4)
      loc
    }
    val bt1 = bucketedTable(1)
    val bt4 = bucketedTable(4)
    val ingestBatch = graft.core.Tables.lineitem(spark, d).limit(5000)
    val ba1 = time("bucketed append x1", reps = 1)(
      { graft.ops.BucketLayout.appendBucketed(spark, bt1, ingestBatch); 1L })
    val ba4 = time("bucketed append x4", reps = 1)(
      { graft.ops.BucketLayout.appendBucketed(spark, bt4, ingestBatch); 1L })
    verdict("bucketed_append_flat", ba1, ba4, 1.0)
    // second batch so every bucket holds >= 2 small candidates, then fold
    graft.ops.BucketLayout.appendBucketed(spark, bt1, ingestBatch)
    graft.ops.BucketLayout.appendBucketed(spark, bt4, ingestBatch)
    val thresh = 1024L * 1024
    val bf1 = time("bucket fold x1", reps = 1)(
      { graft.ops.BucketLayout.compactBuckets(spark, bt1, thresh); 1L })
    val bf4 = time("bucket fold x4", reps = 1)(
      { graft.ops.BucketLayout.compactBuckets(spark, bt4, thresh); 1L })
    verdict("bucket_fold_ingest_only", bf1, bf4, 1.0)
    // the fold must have CARRIED the big base files (v2 = the bucketed
    // rewrite; v1 is the pre-layout append)
    val base4 = graft.ops.Snapshots.version(spark, bt4, 2L).files.toSet
    val after4 = graft.ops.Snapshots.version(spark, bt4).files.toSet
    if (!base4.subsetOf(after4)) { failed = true
      println("BUCKET-FOLD carry: FAIL (base files rewritten)") }
    else println("BUCKET-FOLD carry: PASS (base files carried by reference)")

    spark.stop()
    if (failed) { println("ADVERSARIAL PROBE: FAIL"); sys.exit(1) }
    else println("ADVERSARIAL PROBE: PASS")
  }
}
