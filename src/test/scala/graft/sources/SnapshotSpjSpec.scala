package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.ops.{BucketLayout, Snapshots}

/** Storage-partitioned joins over bucket-layout snapshot tables: after
  * `CALL system.bucket(t, k, n)` on both sides, a join on `k` plans with
  * ZERO Exchange (the scans report `KeyGroupedPartitioning(bucket(n,
  * k))` and Spark zips same-keyed buckets) — the Spark-native form of
  * the reference's CompositeInputFormat map-side join. Any later commit
  * drops the layout and the plan degrades to an ordinary shuffled join,
  * never to a wrong result. */
class SnapshotSpjSpec extends SparkTestBase {

  private val root = "/tmp/graft-test/spj"

  private def wipe(): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.spjcat",
      classOf[graft.sources.v2.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjcat.root", root)
  }

  private def noBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // finalize the adaptive plan
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => n += 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  private def fixture(): Unit = {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend(
      (1L to 400L).map(i => (i, s"f$i")).toDF("id", "v").repartition(4),
      s"$root/fact")
    Snapshots.commitAppend(
      (1L to 100L).map(i => (i, i * 10)).toDF("id", "w").repartition(4),
      s"$root/dim")
    spark.sql("CALL spjcat.system.bucket('fact', 'id', 4)")
    spark.sql("CALL spjcat.system.bucket('dim', 'id', 4)")
  }

  test("co-bucketed tables join with zero Exchange, exact rows") {
    fixture()
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0,
        df.queryExecution.executedPlan.toString)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val want = (1L to 100L).map(i => (i, s"f$i", i * 10))
      assert(got == want)
    }
  }

  test("layout survives pruning filters on the join (subset of buckets)") {
    fixture()
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id WHERE f.id <= 50""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      assert(df.collect().length == 50)
    }
  }

  test("an append drops the layout: plan shuffles again, rows stay right") {
    import spark.implicits._
    fixture()
    Snapshots.commitAppend(Seq((401L, "x")).toDF("id", "v"), s"$root/fact")
    assert(Snapshots.version(spark, s"$root/fact", -1L).layout.isEmpty)
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) > 0)
      assert(df.collect().length == 100)
    }
  }

  test("reported ordering eliminates the merge join's Sort nodes") {
    fixture()
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      df.collect()
      var sorts = 0
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case _: org.apache.spark.sql.execution.SortExec => sorts += 1
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan)
          case _ => ()
        }
        p.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(sorts == 0,
        s"bucket files are key-sorted; the SPJ merge join must not re-sort:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("SPJ composes with merge-on-read delete vectors") {
    fixture()
    // MoR-delete some fact rows: the layout header survives (a DV commit
    // carries files by reference), the scan subtracts vectors per file,
    // and the join still plans shuffle-free with exact rows
    graft.ops.Snapshots.commitDeleteMoR(spark, s"$root/fact",
      org.apache.spark.sql.functions.col("id") <= 10)
    assert(Snapshots.version(spark, s"$root/fact", -1L).layout.isDefined)
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val got = df.collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (11L to 100L).toSeq)
    }
  }

  test("one bucketed side: only the other side shuffles (shuffle-one-side SPJ)") {
    import spark.implicits._
    fixture()
    // dim2 is a PLAIN snapshot table (no layout): the join should keep
    // the bucketed fact in place and shuffle dim2 alone into the fact's
    // bucket partitioning via the catalog's bucket() function
    Snapshots.commitAppend(
      (1L to 50L).map(i => (i, i * 100)).toDF("id", "w2").repartition(3),
      s"$root/dim2")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w2 FROM spjcat.fact f
          |JOIN spjcat.dim2 d ON f.id = d.id""".stripMargin)
      val n = shuffles(df)
      assert(n == 1, s"expected exactly the unbucketed side to shuffle, got $n:\n" +
        df.queryExecution.executedPlan)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == (1L to 50L).map(i => (i, i * 100)))
    }
  }

  test("appendBucketed keeps the layout: SPJ stays shuffle-free across ingest") {
    import spark.implicits._
    fixture()
    // two co-clustered ingest batches: buckets now hold several files
    BucketLayout.appendBucketed(spark, s"$root/fact",
      (401L to 450L).map(i => (i, s"f$i")).toDF("id", "v"))
    BucketLayout.appendBucketed(spark, s"$root/fact",
      (451L to 500L).map(i => (i, s"f$i")).toDF("id", "v"))
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0,
        "ingest broke the co-partitioning:\n" + df.queryExecution.executedPlan)
      assert(df.count() == 100L)
    }
    // multi-file buckets must stop reporting per-bucket sortedness (the
    // grouped read interleaves files) — the merge join plans its Sorts
    // back, the join itself stays Exchange-free
    val fact = Snapshots.read(spark, s"$root/fact")
    assert(fact.count() == 500L)
    // the incremental fold: multi-file buckets rewrite to one sorted
    // file each, rows intact, layout intact, and a no-gain second pass
    // commits nothing
    val folded = spark.sql(
      "CALL spjcat.system.optimize_buckets('fact')").head()
    val perBucket = Snapshots.read(spark, s"$root/fact").inputFiles
      .groupBy(f => BucketLayout.bucketOfPath(f).getOrElse(-1))
    assert(perBucket.forall(_._2.length == 1),
      s"fold left multi-file buckets: ${perBucket.view.mapValues(_.length).toMap}")
    assert(Snapshots.read(spark, s"$root/fact").count() == 500L)
    noBroadcast {
      val df3 = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df3) == 0, "fold dropped the layout")
    }
    assert(spark.sql("CALL spjcat.system.optimize_buckets('fact')")
      .head().getLong(0) == folded.getLong(0), "no-gain pass must not commit")
  }

  test("layout carry requires the ROUTED spec to match the current header") {
    import spark.implicits._
    fixture()
    val loc = s"$root/fact"
    val before = Snapshots.latestVersion(spark, loc)
    // files with bucket path segments but routed for a DIFFERENT spec
    // (the concurrent-re-bucket race): the publish must DROP the layout
    // rather than key mod-8 files under the mod-4 header — which would
    // make the storage-partitioned join silently lose matching rows
    val dataDir = s"$loc/data/${java.util.UUID.randomUUID()}"
    (601L to 620L).map(i => (i, s"f$i")).toDF("id", "v")
      .withColumn("__graft_bucket",
        BucketLayout.bucketId(org.apache.spark.sql.functions.col("id"), 8))
      .repartition(1)
      .write.partitionBy("__graft_bucket").parquet(dataDir)
    val p = new Path(dataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newFiles = fs.globStatus(new Path(dataDir, "__graft_bucket=*/part-*"))
      .toSeq.map(_.getPath.toString)
    val v = Snapshots.publishAppend(spark, loc, newFiles,
      routedLayout = Some("bucket,8,id")) // table header says bucket,4,id
    assert(Snapshots.version(spark, loc, v).layout.isEmpty,
      "a mismatched routing spec must drop the layout, not corrupt it")
    assert(Snapshots.read(spark, loc).count() ==
      Snapshots.read(spark, loc, before).count() + 20)
    // a PLAIN append (no bucket routing) still drops the layout: the
    // honest degrade — one shuffled join, never wrong rows
    Snapshots.commitAppend(Seq((501L, "f501")).toDF("id", "v"), s"$root/fact")
    noBroadcast {
      val df2 = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df2) >= 1, "dropped layout must plan a shuffled join")
      assert(df2.count() == 100L)
    }
  }

  test("groupBy on the layout key aggregates with zero Exchange") {
    fixture()
    // KeyGroupedPartitioning satisfies the aggregate's ClusteredDistribution
    // too: every key lives in exactly one bucket, so the partial aggregate
    // IS the final aggregate — no shuffle between them
    val df = spark.sql(
      """SELECT id, count(*) AS c, sum(w) AS s
        |FROM spjcat.dim GROUP BY id""".stripMargin)
    assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == (1L to 100L).map(i => (i, 1L, i * 10)))
  }

  test("SQL INSERT INTO keeps the layout: routed files, SPJ stays shuffle-free") {
    fixture()
    // two pure-SQL ingests: the DSv2 write declares the layout's own
    // clustered(bucket(4, id)) distribution, files land routed, the
    // header carries — a SQL-only pipeline never loses the SPJ plan.
    // (A concurrent re-bucket between the table load and the commit
    // hits the publishAppend routedLayout re-check pinned above.)
    spark.sql("INSERT INTO spjcat.fact VALUES (401, 'f401'), (402, 'f402')")
    spark.sql("INSERT INTO spjcat.fact SELECT id + 500, concat('f', id + 500) " +
      "FROM spjcat.dim WHERE id <= 10")
    val loc = s"$root/fact"
    assert(Snapshots.version(spark, loc, -1L).layout.contains("bucket,4,id"),
      "SQL INSERT must carry the layout header")
    val files = Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).files
    assert(files.forall(f => BucketLayout.bucketOfPath(f).isDefined),
      s"INSERT landed unrouted files: ${files.filterNot(f =>
        BucketLayout.bucketOfPath(f).isDefined)}")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0,
        "SQL ingest broke the co-partitioning:\n" + df.queryExecution.executedPlan)
      // ids 1..10 now match twice (501..510 shifted out of range; the
      // inserted 401/402 have no dim match): still exactly 100 rows
      assert(df.count() == 100L)
    }
    assert(Snapshots.read(spark, loc).count() == 412L)
    // routed rows went to the RIGHT buckets: reading any single bucket's
    // files yields only rows whose hash maps there
    import spark.implicits._
    val byBucket = files.groupBy(f => BucketLayout.bucketOfPath(f).get)
    byBucket.foreach { case (b, fs) =>
      val ids = spark.read.parquet(fs: _*).select("id").as[Long].collect()
      val expect = Snapshots.read(spark, loc)
        .select(org.apache.spark.sql.functions.col("id"),
          BucketLayout.bucketId(org.apache.spark.sql.functions.col("id"), 4).as("b"))
        .as[(Long, Int)].collect().filter(_._2 == b).map(_._1).sorted
      assert(ids.sorted.toSeq == expect.toSeq, s"bucket $b misrouted")
    }
  }

  test("SQL INSERT OVERWRITE keeps the layout") {
    fixture()
    spark.sql("INSERT OVERWRITE spjcat.dim SELECT id, w * 2 FROM spjcat.dim")
    val loc = s"$root/dim"
    assert(Snapshots.version(spark, loc, -1L).layout.contains("bucket,4,id"))
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got.toSeq == (1L to 100L).map(i => (i, i * 20)))
    }
  }

  test("composite (multi-column) bucket keys join with zero Exchange") {
    import spark.implicits._
    wipe(); register()
    // a multi-tenant (tenant_id, entity_id) key — the reference's join
    // DSL composes arbitrary composite keys (lib/join/Parser.java,
    // TupleWritable.java:298)
    Snapshots.commitAppend(
      (1L to 300L).map(i => (i % 7, i, s"f$i")).toDF("tenant", "ent", "v")
        .repartition(4),
      s"$root/mfact")
    Snapshots.commitAppend(
      (1L to 60L).map(i => (i % 7, i, i * 10)).toDF("tenant", "ent", "w")
        .repartition(4),
      s"$root/mdim")
    spark.sql("CALL spjcat.system.bucket('mfact', 'tenant,ent', 4)")
    spark.sql("CALL spjcat.system.bucket('mdim', 'tenant,ent', 4)")
    assert(Snapshots.version(spark, s"$root/mfact", -1L).layout
      .contains("bucket,4*4,tenant,ent"))
    noBroadcast {
      val df = spark.sql(
        """SELECT f.tenant, f.ent, f.v, d.w FROM spjcat.mfact f
          |JOIN spjcat.mdim d ON f.tenant = d.tenant AND f.ent = d.ent""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val got = df.collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._1)
      assert(got.toSeq == (1L to 60L).map(i => (i, i * 10)))
    }
    // SQL INSERT routes through the composite layout too
    spark.sql("INSERT INTO spjcat.mfact VALUES (3, 301, 'f301')")
    assert(Snapshots.version(spark, s"$root/mfact", -1L).layout
      .contains("bucket,4*4,tenant,ent"), "composite-key INSERT dropped the layout")
    noBroadcast {
      val df2 = spark.sql(
        """SELECT f.ent FROM spjcat.mfact f
          |JOIN spjcat.mdim d ON f.tenant = d.tenant AND f.ent = d.ent""".stripMargin)
      assert(shuffles(df2) == 0)
      assert(df2.count() == 60L)
    }
  }

  test("per-column counts through SQL: bucket('t', 'a:2,b:3') lays out 2x3") {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend(
      (1L to 120L).map(i => (i % 4, i, s"v$i")).toDF("a", "b", "v"),
      s"$root/pc")
    spark.sql("CALL spjcat.system.bucket('pc', 'a:2,b:3', 0)")
    assert(Snapshots.version(spark, s"$root/pc", -1L).layout
      .contains("bucket,2*3,a,b"))
    val files = Snapshots.version(spark, s"$root/pc",
      Snapshots.latestVersion(spark, s"$root/pc")).files
    assert(files.flatMap(BucketLayout.bucketOfPath).forall(k => k >= 0 && k < 6))
    assert(Snapshots.read(spark, s"$root/pc").count() == 120L)
  }

  test("mismatched key ORDER refuses SPJ compatibility (shuffles, exact rows)") {
    import spark.implicits._
    wipe(); register()
    Snapshots.commitAppend(
      (1L to 100L).map(i => (i % 5, i, s"f$i")).toDF("a", "b", "v"),
      s"$root/oa")
    Snapshots.commitAppend(
      (1L to 100L).map(i => (i % 5, i, i * 2)).toDF("a", "b", "w"),
      s"$root/ob")
    // same column TYPES, opposite hash-chain order: the layouts are NOT
    // co-partitioned (hash(a,b) != hash(b,a)) and the join must plan its
    // honest shuffle instead of zipping mismatched buckets
    spark.sql("CALL spjcat.system.bucket('oa', 'a,b', 4)")
    spark.sql("CALL spjcat.system.bucket('ob', 'b,a', 4)")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.b FROM spjcat.oa f
          |JOIN spjcat.ob d ON f.a = d.a AND f.b = d.b""".stripMargin)
      assert(df.count() == 100L, "rows must stay exact whatever the plan")
      assert(shuffles(df) > 0,
        "opposite-order layouts must not claim co-partitioning:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("join keys a SUBSET of the layout keys: SPJ engages, rows exact") {
    import spark.implicits._
    wipe(); register()
    // fact laid out (tenant, ent); dim laid out (tenant) with the SAME
    // per-column count — a tenant-only join groups the fact's 4x4
    // vectors by the tenant transform and zips them with the dim's 4,
    // zero Exchange (allowJoinKeysSubsetOfPartitionKeys)
    Snapshots.commitAppend(
      (1L to 300L).map(i => (i % 7, i, s"f$i")).toDF("tenant", "ent", "v"),
      s"$root/sa")
    Snapshots.commitAppend(
      (1L to 60L).map(i => (i % 7, i * 10)).toDF("tenant", "w"), s"$root/sb")
    spark.sql("CALL spjcat.system.bucket('sa', 'tenant,ent', 4)")
    spark.sql("CALL spjcat.system.bucket('sb', 'tenant', 4)")
    val conf =
      "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "true")
    try noBroadcast {
      val df = spark.sql(
        """SELECT a.ent, b.w FROM spjcat.sa a
          |JOIN spjcat.sb b ON a.tenant = b.tenant""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      // ground truth Σ_t fact(t)·dim(t): residues of 1..300 and 1..60
      // mod 7 → 42·8 + 4·(43·9) + 2·(43·8) = 2572. The grouped fact
      // partitions CONCATENATE several (tenant, ent)-sorted files, so a
      // merge join must NOT trust per-file ordering here — the exact
      // count is the no-silent-row-loss pin (the gcd-reducer lesson).
      assert(df.count() == 2572L, "subset-key SPJ lost rows")
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("mismatched bucket counts (4 vs 8) join zero-Exchange via the gcd reducer") {
    import spark.implicits._
    fixture() // fact at n=4
    Snapshots.commitAppend(
      (1L to 80L).map(i => (i, i * 3)).toDF("id", "w8").repartition(3),
      s"$root/dim8")
    spark.sql("CALL spjcat.system.bucket('dim8', 'id', 8)")
    val prev = spark.conf.getOption(
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
    try noBroadcast {
      // ReducibleFunction: both sides reduce to gcd(4,8)=4 buckets —
      // the n=8 side's ids coalesce pairwise (id % 4) onto the n=4 side,
      // zero Exchange on either side
      val df = spark.sql(
        """SELECT f.id, d.w8 FROM spjcat.fact f
          |JOIN spjcat.dim8 d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0,
        "gcd-compatible counts must plan SPJ:\n" + df.queryExecution.executedPlan)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got.toSeq == (1L to 80L).map(i => (i, i * 3)))
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
    }
  }

  test("point predicates prune to the key's bucket before any I/O") {
    fixture()
    // zone maps can't skip on a hash-SCATTERED key (every bucket spans
    // the full range) — but `id = 42` pins the bucket by the layout's
    // own hash: the scan plans ONE bucket's files out of four
    val one = spark.sql("SELECT v FROM spjcat.fact WHERE id = 42")
    assert(one.rdd.getNumPartitions == 1,
      s"point read planned ${one.rdd.getNumPartitions} buckets")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("f42"))
    // IN over several keys keeps only their buckets
    val in3 = spark.sql("SELECT v FROM spjcat.fact WHERE id IN (1, 2, 3)")
    assert(in3.rdd.getNumPartitions <= 3)
    assert(in3.collect().length == 3)
    // OR of equalities over the same column prunes too
    val or2 = spark.sql("SELECT v FROM spjcat.fact WHERE id = 7 OR id = 9")
    assert(or2.rdd.getNumPartitions <= 2)
    assert(or2.collect().length == 2)
    // a RANGE keeps every bucket (nothing pins the hash) — exact rows
    val range = spark.sql("SELECT v FROM spjcat.fact WHERE id <= 50")
    assert(range.rdd.getNumPartitions == 4)
    assert(range.collect().length == 50)
    // composite layout: equality on EVERY key column prunes to one
    // vector; missing one column keeps everything
    import spark.implicits._
    Snapshots.commitAppend(
      (1L to 200L).map(i => (i % 5, i, s"m$i")).toDF("a", "b", "v"),
      s"$root/mp")
    spark.sql("CALL spjcat.system.bucket('mp', 'a,b', 3)")
    val both = spark.sql("SELECT v FROM spjcat.mp WHERE a = 2 AND b = 7")
    assert(both.rdd.getNumPartitions == 1)
    assert(both.collect().map(_.getString(0)).toSeq == Seq("m7"))
    val half = spark.sql("SELECT count(*) AS n FROM spjcat.mp WHERE a = 2")
    assert(half.collect().head.getLong(0) == 40L)
  }

  test("SQL UPDATE / DELETE / MERGE keep the layout (routed row-level rewrite)") {
    fixture()
    val loc = s"$root/fact"
    // every row-level verb: the rewrite's surviving rows land ROUTED
    // (same RequiresDistributionAndOrdering write as INSERT), kept files
    // carry, and the exact-version publish keeps the #layout header
    spark.sql("UPDATE spjcat.fact SET v = concat(v, '!') WHERE id <= 10")
    assert(Snapshots.version(spark, loc, -1L).layout.contains("bucket,4,id"),
      "SQL UPDATE dropped the layout")
    spark.sql("DELETE FROM spjcat.fact WHERE id = 400")
    assert(Snapshots.version(spark, loc, -1L).layout.contains("bucket,4,id"),
      "SQL DELETE dropped the layout (canDeleteWhere must refuse under " +
        "a layout so the routed row-level path runs)")
    spark.sql(
      """MERGE INTO spjcat.fact t
        |USING (SELECT 401L AS id, 'f401' AS v) s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(Snapshots.version(spark, loc, -1L).layout.contains("bucket,4,id"),
      "SQL MERGE dropped the layout")
    val files = Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).files
    assert(files.forall(f => BucketLayout.bucketOfPath(f).isDefined))
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0,
        "row-level DML broke the SPJ:\n" + df.queryExecution.executedPlan)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got.size == 100)
      assert((1L to 10L).forall(i => got(i) == s"f$i!"), got(1L))
      assert(got(11L) == "f11")
    }
    val all = Snapshots.read(spark, loc)
    assert(all.count() == 400L) // 400 rows: -id400, +id401
    assert(all.filter(org.apache.spark.sql.functions.col("id") === 400L).count() == 0L)
    assert(all.filter(org.apache.spark.sql.functions.col("id") === 401L).count() == 1L)
  }

  test("API delete / update / MoR update keep the layout, matching or not") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    fixture()
    val loc = s"$root/fact"
    // every outcome, no-match included, publishes the tip's layout: a
    // rewrite or an image lands ROUTED, and a no-op carries
    def kept(verb: String): Unit = {
      val v = Snapshots.version(spark, loc)
      assert(v.layout.contains("bucket,4,id"), s"$verb dropped the layout")
      assert(v.files.forall(f => BucketLayout.bucketOfPath(f).isDefined),
        s"$verb left an unrouted file: ${v.files}")
    }
    Snapshots.commitDelete(spark, loc, col("id") > 1000)
    kept("a no-match commitDelete")
    Snapshots.commitDelete(spark, loc, col("id") % 7 === 0)
    kept("commitDelete")
    Snapshots.commitUpdate(spark, loc, col("id") > 1000, Map("v" -> lit("x")))
    kept("a no-match commitUpdate")
    Snapshots.commitUpdate(spark, loc, col("id") <= 10, Map("v" -> concat(col("v"), lit("!"))))
    kept("commitUpdate")
    Snapshots.commitUpdateMoR(spark, loc, col("id") > 1000, Map("v" -> lit("x")))
    kept("a no-match commitUpdateMoR")
    // the images move keys 11..20 to 1011..1020: routed by the new key
    Snapshots.commitUpdateMoR(spark, loc, col("id").between(11, 20),
      Map("id" -> (col("id") + 1000)))
    kept("commitUpdateMoR")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, "row-level commits broke the SPJ:\n" +
        df.queryExecution.executedPlan)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val want = (1L to 100L).filterNot(i => i % 7 == 0 || (i >= 11 && i <= 20))
      assert(got.keySet == want.toSet)
      assert((1L to 10L).filter(want.contains).forall(i => got(i) == s"f$i!"))
    }
    val moved = Snapshots.read(spark, loc).filter(col("id") > 1000)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(moved == (11L to 20L).filterNot(_ % 7 == 0).map(_ + 1000))
    // a point lookup prunes to the new key's bucket and still finds it
    assert(spark.sql("SELECT v FROM spjcat.fact WHERE id = 1015").count() == 1L)
  }

  test("partiallyClusteredDistribution: Zipf-hot bucket splits, rows exact") {
    import spark.implicits._
    wipe(); register()
    // one key holds half the fact: its bucket is the straggler a fixed
    // layout cannot salt away. partiallyClusteredDistribution is Spark's
    // SPJ answer — replicate the small side into the hot bucket's splits
    // instead of grouping them into one task. Evaluated here: the plan
    // stays Exchange-free and the rows stay exact with the flag on.
    Snapshots.commitAppend(
      spark.range(0L, 4000L).toDF("i")
        .select(org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.col("i") % 2 === 0, 0L)
          .otherwise(org.apache.spark.sql.functions.col("i")).as("id"),
          org.apache.spark.sql.functions.col("i").as("v")),
      s"$root/zfact")
    Snapshots.commitAppend(
      (0L to 100L).map(i => (i, i * 10)).toDF("id", "w"), s"$root/zdim")
    spark.sql("CALL spjcat.system.bucket('zfact', 'id', 4)")
    spark.sql("CALL spjcat.system.bucket('zdim', 'id', 4)")
    // two ingest batches so the hot bucket holds SEVERAL files (the
    // split unit partial clustering works with)
    graft.ops.BucketLayout.appendBucketed(spark, s"$root/zfact",
      spark.range(4000L, 4100L).toDF("id")
        .withColumn("v", org.apache.spark.sql.functions.col("id")))
    val prev = spark.conf.getOption(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "true")
    try noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.zfact f
          |JOIN spjcat.zdim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      // expected: 2000 hot rows match id 0, plus odd ids 1..99 (50), plus
      // nothing else <= 100 except evens mapped to 0
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.count(_._1 == 0L) == 2000)
      assert(got.length == 2050)
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    }
  }

  test("writeStream.toTable keeps the layout: routed epochs, exactly-once markers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    fixture()
    val ckpt = s"$root/_ckpt_stream"
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = mem.toDF()
      .select(org.apache.spark.sql.functions.col("value").as("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("f"),
          org.apache.spark.sql.functions.col("value")).as("v"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .toTable("spjcat.fact")
    try {
      mem.addData(401L, 402L); q.processAllAvailable()
      mem.addData(403L); q.processAllAvailable()
    } finally q.stop()
    val loc = s"$root/fact"
    assert(Snapshots.version(spark, loc, -1L).layout.contains("bucket,4,id"),
      "streamed epochs must carry the layout")
    assert(Snapshots.read(spark, loc).count() == 403L)
    val files = Snapshots.version(spark, loc,
      Snapshots.latestVersion(spark, loc)).files
    assert(files.forall(f => BucketLayout.bucketOfPath(f).isDefined),
      "epoch landed unrouted files")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0,
        "streamed ingest broke the SPJ:\n" + df.queryExecution.executedPlan)
      assert(df.count() == 100L)
    }
  }

  test("bucket ids in file paths match the bucket function contract") {
    import spark.implicits._
    fixture()
    val files = Snapshots.version(spark, s"$root/dim",
      Snapshots.latestVersion(spark, s"$root/dim")).files
    assert(files.nonEmpty && files.forall(f =>
      BucketLayout.bucketOfPath(f).isDefined))
    // every row's writer-side bucket equals its file's path bucket, and
    // the interpreted V2 function agrees with the codegen'd writer hash
    val dim = Snapshots.read(spark, s"$root/dim")
    val ids = dim.select("id").as[Long].collect()
    val byExpr = dim
      .select(org.apache.spark.sql.functions.col("id"),
        BucketLayout.bucketId(org.apache.spark.sql.functions.col("id"), 4).as("b"))
      .as[(Long, Int)].collect().toMap
    val bound = graft.sources.v2.BucketFunction.bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    // the MAGIC-METHOD (codegen) path must be in lockstep with both
    val invoke = bound.getClass.getMethod("invoke",
      classOf[Int], classOf[Long])
    ids.foreach { id =>
      val viaV2 = bound.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(4, id))
      assert(viaV2 == byExpr(id), s"id=$id")
      assert(invoke.invoke(bound, Int.box(4), Long.box(id)) == byExpr(id),
        s"magic invoke diverged at id=$id")
    }
    // ...and for string / int / date / boolean keys the magic overloads
    // stay in lockstep with the codegen'd writer hash (each clones its
    // catalyst InterpretedHashFunction arm)
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.lit
    def check(dt: DataType, value: Any, catalystArg: AnyRef): Unit = {
      val b = graft.sources.v2.BucketFunction.bind(StructType(Seq(
        StructField("n", IntegerType), StructField("k", dt))))
      val m = b.getClass.getMethods.find(_.getName == "invoke").get
      val expect = spark.range(1)
        .select(BucketLayout.bucketId(lit(value), 7)).head().getInt(0)
      val got = m.invoke(b, Int.box(7), catalystArg)
      assert(got == expect, s"$dt $value: invoke=$got expr=$expect")
    }
    check(StringType, "graft",
      org.apache.spark.unsafe.types.UTF8String.fromString("graft"))
    check(IntegerType, 12345, Int.box(12345))
    check(BooleanType, true, Boolean.box(true))
    check(DateType, java.sql.Date.valueOf("2024-03-01"),
      Int.box(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaDate(java.sql.Date.valueOf("2024-03-01"))))
  }

  test("fold_dvs on a layout table: vectors fold ROUTED, layout and SPJ survive") {
    fixture()
    Snapshots.commitDeleteMoR(spark, s"$root/fact",
      org.apache.spark.sql.functions.col("id") <= 10)
    assert(Snapshots.version(spark, s"$root/fact",
      Snapshots.latestVersion(spark, s"$root/fact")).dvs.nonEmpty)
    Snapshots.commitFoldDvs(spark, s"$root/fact")
    val v = Snapshots.latestVersion(spark, s"$root/fact")
    assert(Snapshots.version(spark, s"$root/fact", v).dvs.isEmpty,
      "fold_dvs must leave a DV-free version")
    assert(Snapshots.version(spark, s"$root/fact", v).layout
      .contains("bucket,4,id"),
      "the routed fold must keep the bucket layout")
    assert(Snapshots.version(spark, s"$root/fact", v).files
      .forall(f => BucketLayout.bucketOfPath(f).isDefined))
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == (11L to 100L))
    }
    // a DV-free table folds to itself: no commit
    assert(Snapshots.commitFoldDvs(spark, s"$root/fact") == v)
  }

  test("ALTER TABLE ADD COLUMN keeps the layout: metadata-only widen, SPJ intact") {
    fixture()
    spark.sql("ALTER TABLE spjcat.fact ADD COLUMNS (note STRING)")
    assert(Snapshots.version(spark, s"$root/fact", -1L).layout
      .contains("bucket,4,id"),
      "a pure metadata commit must not drop the layout (files unchanged)")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.note, d.w FROM spjcat.fact f
          |JOIN spjcat.dim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val rows = df.collect()
      assert(rows.length == 100)
      assert(rows.forall(_.isNullAt(1)), "pre-evolution rows read null")
    }
  }

  test("bucket_split scales counts shuffle-FREE; SPJ engages at the new count") {
    import spark.implicits._
    fixture() // fact + dim bucketed at 4
    // jobGroup-scoped shuffle accounting: the listener attributes each
    // stage to the job group that launched it, so the split's stages are
    // separable from the control shuffle that proves event delivery
    val sc = spark.sparkContext
    val groupStages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val groupRecords = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        e.stageIds.foreach(sid => groupStages.put(sid, g))
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val g = groupStages.getOrDefault(e.stageId, "")
        val m = e.taskMetrics
        if (m != null)
          groupRecords.merge(g, m.shuffleWriteMetrics.recordsWritten,
            (a, b) => a + b)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("split-under-test", "bucket_split must not shuffle")
      val res = spark.sql("CALL spjcat.system.bucket_split('fact', 2)").collect()
      assert(res.head.getInt(1) == 8)
      sc.setJobGroup("control-shuffle", "proves listener delivery")
      (1L to 10000L).toDF("x")
        .repartition(7, org.apache.spark.sql.functions.col("x")).count()
      sc.clearJobGroup()
      // FIFO bus: once the control's shuffle records are visible, the
      // split's earlier events have been delivered too
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (groupRecords.getOrDefault("control-shuffle", 0L) == 0L &&
             System.nanoTime() < deadline) Thread.sleep(50)
      assert(groupRecords.getOrDefault("control-shuffle", 0L) > 0L,
        "listener never saw the control shuffle — accounting broken")
      assert(groupRecords.getOrDefault("split-under-test", 0L) == 0L,
        s"bucket_split shuffled: $groupRecords")
    } finally sc.removeSparkListener(listener)
    // layout header scaled, every file routed, one-or-more files per
    // refined bucket only where the parent bucket had rows
    assert(Snapshots.version(spark, s"$root/fact", -1L).layout
      .contains("bucket,8,id"))
    val files = Snapshots.version(spark, s"$root/fact",
      Snapshots.latestVersion(spark, s"$root/fact")).files
    assert(files.forall(f => BucketLayout.bucketOfPath(f).isDefined))
    // the split table joins an n=8 dim with zero Exchange and exact rows
    Snapshots.commitAppend(
      (1L to 100L).map(i => (i, i * 10)).toDF("id", "w").repartition(4),
      s"$root/dim8")
    spark.sql("CALL spjcat.system.bucket('dim8', 'id', 8)")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.fact f
          |JOIN spjcat.dim8 d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got == (1L to 100L).map(i => (i, s"f$i", i * 10)))
    }
    // refinement refused where it isn't one: coprime/non-multiple counts
    intercept[IllegalArgumentException](
      BucketLayout.splitBuckets(spark, s"$root/fact", Seq(12)))
  }

  test("composite layout split: per-column multiples refine independently") {
    import spark.implicits._
    wipe(); register()
    val rows = (1L to 300L).map(i => (i % 17, s"t${i % 5}", i))
    Snapshots.commitAppend(rows.toDF("a", "b", "x").repartition(3),
      s"$root/cfact")
    spark.sql("CALL spjcat.system.bucket('cfact', 'a:2,b:2', 0)")
    // scale only the first column's count: (2,2) -> (4,2)
    BucketLayout.splitBuckets(spark, s"$root/cfact", Seq(4, 2))
    assert(Snapshots.version(spark, s"$root/cfact", -1L).layout
      .contains("bucket,4*2,a,b"))
    Snapshots.commitAppend(
      (0L to 16L).flatMap(a => (0 to 4).map(t => (a, s"t$t", a * 100)))
        .toDF("a", "b", "w").repartition(3), s"$root/cdim")
    spark.sql("CALL spjcat.system.bucket('cdim', 'a:4,b:2', 0)")
    noBroadcast {
      val df = spark.sql(
        """SELECT f.a, f.b, f.x, d.w FROM spjcat.cfact f
          |JOIN spjcat.cdim d ON f.a = d.a AND f.b = d.b""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val got = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sorted.toSeq
      val want = rows.map { case (a, b, x) => (a, b, x, a * 100) }.sorted
      assert(got == want)
    }
  }

  test("CREATE TABLE PARTITIONED BY bucket: layout at birth, first INSERT routes") {
    import spark.implicits._
    wipe(); register()
    spark.sql("""CREATE TABLE spjcat.bfact (id BIGINT, v STRING)
                |PARTITIONED BY (bucket(4, id))""".stripMargin)
    spark.sql("""CREATE TABLE spjcat.bdim (id BIGINT, w BIGINT)
                |PARTITIONED BY (bucket(4, id))""".stripMargin)
    // the EMPTY v1 already carries the header and declares partitioning
    assert(Snapshots.version(spark, s"$root/bfact", 1L).layout
      .contains("bucket,4,id"))
    val desc = spark.sql("DESCRIBE TABLE spjcat.bfact")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("bucket(4, id)"), desc)
    (1L to 400L).map(i => (i, s"f$i")).toDF("id", "v")
      .createOrReplaceTempView("bfact_src")
    (1L to 100L).map(i => (i, i * 10)).toDF("id", "w")
      .createOrReplaceTempView("bdim_src")
    spark.sql("INSERT INTO spjcat.bfact SELECT * FROM bfact_src WHERE id % 2 = 0")
    spark.sql("INSERT INTO spjcat.bfact SELECT * FROM bfact_src WHERE id % 2 = 1")
    spark.sql("INSERT INTO spjcat.bdim SELECT * FROM bdim_src")
    Seq("bfact", "bdim").foreach { t =>
      val v = Snapshots.latestVersion(spark, s"$root/$t")
      assert(Snapshots.version(spark, s"$root/$t", v).layout.contains("bucket,4,id"),
        s"$t lost its birth layout by v$v")
      assert(Snapshots.version(spark, s"$root/$t", v).files
        .forall(f => BucketLayout.bucketOfPath(f).isDefined))
    }
    noBroadcast {
      val df = spark.sql(
        """SELECT f.id, f.v, d.w FROM spjcat.bfact f
          |JOIN spjcat.bdim d ON f.id = d.id""".stripMargin)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got == (1L to 100L).map(i => (i, s"f$i", i * 10)))
    }
  }

  test("CTAS with a birth layout routes the backfill write") {
    import spark.implicits._
    wipe(); register()
    (1L to 300L).map(i => (i, i % 7)).toDF("id", "g")
      .createOrReplaceTempView("ctas_src")
    spark.sql("""CREATE TABLE spjcat.bctas
                |PARTITIONED BY (bucket(4, id))
                |AS SELECT * FROM ctas_src""".stripMargin)
    val v = Snapshots.latestVersion(spark, s"$root/bctas")
    assert(Snapshots.version(spark, s"$root/bctas", v).layout.contains("bucket,4,id"))
    assert(Snapshots.version(spark, s"$root/bctas", v).files
      .forall(f => BucketLayout.bucketOfPath(f).isDefined))
    assert(spark.table("spjcat.bctas").count() == 300L)
  }

  test("pure header commit racing an ingest keeps the declared layout") {
    import spark.implicits._
    wipe(); register()
    spark.sql("""CREATE TABLE spjcat.brace (id BIGINT, v STRING)
                |PARTITIONED BY (bucket(2, id))""".stripMargin)
    val loc = s"$root/brace"
    // an INSERT lands AFTER the split read v1 but BEFORE its publish —
    // simulate by publishing the split's empty header commit derived
    // from the now-stale v1
    (1L to 20L).map(i => (i, s"x$i")).toDF("id", "v")
      .createOrReplaceTempView("brace_src")
    spark.sql("INSERT INTO spjcat.brace SELECT * FROM brace_src")
    val schemaJson = Snapshots.version(spark, loc, 2L).schema.get.json
    val v = Snapshots.publishLayout(spark, loc, 1L, Nil, schemaJson,
      "bucket,4,id")
    // the rider files were routed under the BIRTH spec: the merge must
    // keep that layout (the rider set satisfies it) rather than claiming
    // the unapplied refinement or — worse — silently dropping the
    // CREATE-declared layout entirely
    assert(Snapshots.version(spark, loc, v).layout.contains("bucket,2,id"),
      Snapshots.version(spark, loc, v).layout.toString)
    assert(Snapshots.read(spark, loc).count() == 20L)
    // a later real split applies cleanly and keeps every row
    spark.sql("CALL spjcat.system.bucket_split('brace', 2)")
    val v2 = Snapshots.latestVersion(spark, loc)
    assert(Snapshots.version(spark, loc, v2).layout.contains("bucket,4,id"))
    assert(Snapshots.read(spark, loc).count() == 20L)
  }

  test("bucket_split on an empty birth-layout table: pure header commit") {
    import spark.implicits._
    wipe(); register()
    spark.sql("""CREATE TABLE spjcat.bempty (id BIGINT, v STRING)
                |PARTITIONED BY (bucket(2, id))""".stripMargin)
    spark.sql("CALL spjcat.system.bucket_split('bempty', 4)")
    assert(Snapshots.version(spark, s"$root/bempty",
      Snapshots.latestVersion(spark, s"$root/bempty")).layout.contains("bucket,8,id"))
    // the scaled birth layout still routes the first INSERT
    (1L to 40L).map(i => (i, s"x$i")).toDF("id", "v")
      .createOrReplaceTempView("bempty_src")
    spark.sql("INSERT INTO spjcat.bempty SELECT * FROM bempty_src")
    val v = Snapshots.latestVersion(spark, s"$root/bempty")
    assert(Snapshots.version(spark, s"$root/bempty", v).layout
      .contains("bucket,8,id"))
    assert(Snapshots.version(spark, s"$root/bempty", v).files
      .forall(f => BucketLayout.bucketOfPath(f).isDefined))
    assert(spark.table("spjcat.bempty").count() == 40L)
  }

  test("composite birth layout: one transform per column, mixed counts") {
    import spark.implicits._
    wipe(); register()
    spark.sql("""CREATE TABLE spjcat.bmulti (a BIGINT, b STRING, x DOUBLE)
                |PARTITIONED BY (bucket(2, a), bucket(4, b))""".stripMargin)
    assert(Snapshots.version(spark, s"$root/bmulti", 1L).layout
      .contains("bucket,2*4,a,b"))
    (1L to 200L).map(i => (i, s"s${i % 13}", i * 0.5)).toDF("a", "b", "x")
      .createOrReplaceTempView("bmulti_src")
    spark.sql("INSERT INTO spjcat.bmulti SELECT * FROM bmulti_src")
    val v = Snapshots.latestVersion(spark, s"$root/bmulti")
    assert(Snapshots.version(spark, s"$root/bmulti", v).layout
      .contains("bucket,2*4,a,b"))
    assert(spark.table("spjcat.bmulti").count() == 200L)
  }

  test("birth-layout CREATE rejects what SPJ cannot plan, at CREATE time") {
    wipe(); register()
    def fails(ddl: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(ddl))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(frag)), s"$ddl →\n${msgs(e).mkString("\n")}")
    }
    fails("""CREATE TABLE spjcat.rej1 (id BIGINT, d DATE)
            |PARTITIONED BY (d)""".stripMargin, "bucket(n, col)")
    fails("""CREATE TABLE spjcat.rej2 (id BIGINT, v STRING)
            |PARTITIONED BY (bucket(4, id, v))""".stripMargin,
      "exactly one column")
    // Spark's own transform resolution catches the unknown column before
    // the catalog does (the catalog's check remains the API-path gate)
    fails("""CREATE TABLE spjcat.rej3 (id BIGINT)
            |PARTITIONED BY (bucket(4, nope))""".stripMargin,
      "nope")
    fails("""CREATE TABLE spjcat.rej4 (id BIGINT, x DOUBLE)
            |PARTITIONED BY (bucket(4, x))""".stripMargin,
      "does not support key type")
    // duplicate keys: Spark's partitioning check fires first here too
    fails("""CREATE TABLE spjcat.rej5 (id BIGINT)
            |PARTITIONED BY (bucket(4, id), bucket(8, id))""".stripMargin,
      "duplicate")
    // nothing half-created: every rejected table is absent
    (1 to 5).foreach { i =>
      assert(Snapshots.latestVersion(spark, s"$root/rej$i") == 0L)
    }
  }
}
